"""Output checks: a per-pass row count and order-insensitive hash taken
inside Spark, and a once-per-run comparison with the DuckDB oracle.

The per-pass record rides on each query's write as an ``Observation``
(one extra aggregate over the output rows). The cold pass writes its
output to Parquet instead of the noop sink; after the measured passes
DuckDB compares that output with the oracle's result on the same
inputs, as multisets of canonical rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import MapType

_P = 2_147_483_647


def observed_digest(df: DataFrame) -> list[Column]:
    """Row count and the sum of per-row hashes, both order-insensitive."""
    cols = [F.to_json(F.col(f"`{f.name}`")) if isinstance(f.dataType, MapType)
            else F.col(f"`{f.name}`") for f in df.schema.fields]
    return [
        F.count(F.lit(1)).alias("rows"),
        F.coalesce(F.sum(F.pmod(F.xxhash64(*cols), F.lit(_P))), F.lit(0)).alias("hash"),
    ]


def _canon_expr(col: str, types: set[str]) -> str:
    """One column in a form both engines' outputs compare equal in:
    floating values rounded to 6 places, everything else as text."""
    q = '"' + col.replace('"', '""') + '"'
    if types & {"FLOAT", "DOUBLE"} or any(t.startswith("DECIMAL") for t in types):
        return f"round(CAST({q} AS DOUBLE), 6) AS {q}"
    if any(t in ("FLOAT[]", "DOUBLE[]") for t in types):
        return f"list_transform({q}, x -> round(CAST(x AS DOUBLE), 6)) AS {q}"
    return f"CAST({q} AS VARCHAR) AS {q}"


def duck_connect(sf_dir: str, tables):
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def compare_with_oracle(con, spark_out: str, oracle_sql: str) -> dict:
    """Compare the Parquet output Spark wrote at ``spark_out`` with the
    oracle's result as multisets of canonical rows."""
    con.execute(f"CREATE OR REPLACE TEMP VIEW spark_out AS SELECT * FROM read_parquet('{spark_out}/*.parquet')")
    con.execute(f"CREATE OR REPLACE TEMP VIEW oracle_out AS {oracle_sql}")
    s_types = {r[0]: r[1] for r in con.execute("DESCRIBE spark_out").fetchall()}
    o_types = {r[0]: r[1] for r in con.execute("DESCRIBE oracle_out").fetchall()}
    if sorted(s_types) != sorted(o_types):
        return {"oracle": "mismatch", "spark_columns": sorted(s_types), "oracle_columns": sorted(o_types)}
    cols = ", ".join(_canon_expr(c, {s_types[c], o_types[c]}) for c in sorted(s_types))
    s_rows, o_rows, diff = con.execute(f"""
        WITH s AS (SELECT {cols} FROM spark_out), o AS (SELECT {cols} FROM oracle_out)
        SELECT (SELECT count(*) FROM s), (SELECT count(*) FROM o),
               (SELECT count(*) FROM (SELECT * FROM s EXCEPT ALL SELECT * FROM o))
             + (SELECT count(*) FROM (SELECT * FROM o EXCEPT ALL SELECT * FROM s))
    """).fetchone()
    ok = s_rows == o_rows and diff == 0
    return {"oracle": "match" if ok else "mismatch", "rows": s_rows, "oracle_rows": o_rows, "rows_differing": diff}
