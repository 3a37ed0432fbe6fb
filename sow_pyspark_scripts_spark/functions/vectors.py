"""Exact-integer grid vector math over ``array<float>`` embedding
columns — pure Catalyst higher-order functions (``zip_with`` /
``aggregate`` / ``transform``), no UDFs: the arithmetic runs JVM-side
per row with no Python boundary.

Backs the declared-but-external embedding surface of the reference
(``MeanEmbeddings`` import at ``preprocess_and_store_parquets.py:12``,
500-dim ES DenseVector at ``sql_to_es_etl.py:123``) and the north-star
similarity-search / near-dup operators.

Grid pinning: a float dot product accumulated left-to-right is
deterministic in Spark, but its DuckDB oracle twin sums unnested rows in
whatever order the scan parallelism produces, so a rounded compare can
flip with thread count. These forms quantize components to the 1e-6
integer grid and sum EXACT integers (associative — any order, any
engine, same result); their oracle twins are ``functions/det.py``
``cos_grid_sql`` etc. Magnitude budget: see ``functions/det.py`` —
fixture |component| <= 0.53, 64 dims -> every intermediate stays far
inside the exact-double window.

Why SQL text: each helper takes column names and returns one Spark SQL
expression, which the caller hands to ``selectExpr``/``F.expr`` — the
whole tree is parsed JVM-side in one call. Built Column by Column, every
node (each lambda, literal and cast) costs several Py4J round trips,
and those dominated the driver's build time of the similarity queries.
Literals carry a ``D`` suffix because Spark SQL reads ``0.5`` as a
decimal.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .det import round6


def quant_sql(x: str, scale: float = 1e6) -> str:
    """long: ``x`` in half-up grid units, floor(x*scale + 0.5)."""
    return f"CAST(floor(CAST({x} AS DOUBLE) * {float(scale)!r}D + 0.5D) AS BIGINT)"


def quant_arr(col: str, scale: float = 1e6) -> str:
    """array<long>: each component in half-up 1e-6 grid units."""
    return f"transform({col}, x -> {quant_sql('x', scale)})"


def norm2_pre(aq: str) -> str:
    """Exact integer squared L2 norm of an array already in grid units."""
    return f"aggregate({aq}, CAST(0 AS BIGINT), (acc, x) -> acc + x * x)"


def dot_grid_pre(aq: str, bq: str) -> str:
    """Exact integer dot for arrays ALREADY in grid units — the
    join-side form: quantize each side once with ``quant_arr`` before
    the join, so per-pair work is pure integer multiply-add."""
    return (
        f"aggregate(zip_with({aq}, {bq}, (x, y) -> x * y), "
        "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )


def cos_grid_pre(qe: str, ce: str, qn2: str, cn2: str) -> Column:
    """Rounded (6dp half-up) cosine from an exact integer dot and
    PRECOMPUTED exact integer norm² columns (``norm2_pre``, once per
    side, not once per pair). ``qe``/``ce`` must be grid-unit arrays
    (``quant_arr`` once per side before the join — per-pair
    re-quantization costs ~2x on bucket joins). Bit-identical to the
    oracle's ``cos_grid_sql`` under any partitioning or thread count."""
    return round6(
        F.expr(
            f"CAST({dot_grid_pre(qe, ce)} AS DOUBLE)"
            f" / (sqrt(CAST({qn2} AS DOUBLE)) * sqrt(CAST({cn2} AS DOUBLE)))"
        )
    )


def d2r6_grid(a: str, b: str) -> str:
    """Squared L2 rounded half-up to the 6dp grid from exact integer
    sums — twin of ``functions.det.d2r6_grid_sql``. Components quantize
    to 1e-6 grid longs, squared diffs sum exactly, one division, one
    floor: order-independent in both engines."""
    s = norm2_pre(f"zip_with({quant_arr(a)}, {quant_arr(b)}, (x, y) -> x - y)")
    return f"floor(CAST({s} AS DOUBLE) / 1000000.0D + 0.5D) / 1000000.0D"
