"""The benchmark's workloads: which registered queries run, on which
generated inputs, and which of them skip the DuckDB oracle.

Each workload is a closed loop with one client: one process drives the
queries one after another on ``local[<cores>]``, each materialized
through the noop sink.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    queries: tuple[str, ...]
    # Queries whose DuckDB oracle takes several seconds at this scale
    # (MinHash computed in SQL). Only traced runs compare them with the
    # oracle; every run checks them for equal hashes across passes and
    # across runs of the same seed.
    heavy_oracle: tuple[str, ...] = ()


WORKLOADS = {
    # The reference's own surface: its three ETL composites plus the
    # percentile sketch, short queries over the relational, events and
    # documents tables where the Spark driver's fixed cost per query
    # dominates and the dedup, ANN and streaming layers are idle.
    "etl_sf01": Workload(
        queries=(
            "flagship_incident_etl",
            "snowflake_etl_e2",
            "text_pipeline_e3",
            "agg_percentiles",
        ),
    ),
    # The LLM-data tier: MinHash/LSH dedup, LSH top-k, an incremental
    # dedup that reads the stored band index (built in the cold pass) and
    # a watermarked streaming aggregation.
    "corpus_sf01": Workload(
        queries=(
            "dedup_minhash_lsh",
            "similarity_topk_lsh",
            "dedup_minhash_incremental_stored",
            "streaming_tumbling_agg",
        ),
        heavy_oracle=("dedup_minhash_lsh", "dedup_minhash_incremental_stored"),
    ),
}
