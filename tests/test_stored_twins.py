"""Stored-index twins must reproduce their in-query forms EXACTLY.

Each pair already shares one oracle (so equality is implied transitively
at the oracle scale), but these tests assert it directly — row sets, not
just hashes — so a divergence between what the build writes and what the
in-query form computes fails with the differing rows in hand, at any
scale factor, even if both forms happen to drift in lockstep against a
stale oracle.
"""

from __future__ import annotations

import pytest

from sow_pyspark_scripts_spark.registry import QUERIES

from .conftest import SF_DIR

PAIRS = [
    ("similarity_topk_pq", "similarity_topk_pq_stored"),
    ("similarity_topk_ivfpq", "similarity_topk_ivfpq_stored"),
    ("similarity_topk_pq_refine", "similarity_topk_pq_refine_stored"),
    ("similarity_topk_ivfadc", "similarity_topk_ivfadc_stored"),
    ("similarity_topk_ivfadc_multiprobe", "similarity_topk_ivfadc_multiprobe_stored"),
    ("dedup_minhash_incremental", "dedup_minhash_incremental_stored"),
    ("dedup_minhash_incremental", "streaming_dedup_incremental"),
    # r5 stored-DSIR family: the stored tables ARE the in-query
    # intermediates, and per-doc scoring is micro-batch-invariant
    ("corpus_dsir_weights", "corpus_dsir_weights_stored"),
    ("corpus_dsir_weights_delta", "streaming_dsir_score"),
    ("dedup_semantic_semdedup_sharded", "dedup_semantic_semdedup_sharded_stored"),
    # r5: decontamination served from the stored band index
    ("decontam_minhash_lsh", "decontam_minhash_lsh_stored"),
    # r5: frozen-weight quality scoring is micro-batch-invariant
    ("text_quality_classifier_delta", "streaming_quality_score"),
]


@pytest.mark.parametrize("in_query,stored", PAIRS)
def test_stored_twin_equals_in_query(spark, in_query, stored):
    a = {tuple(r) for r in QUERIES[in_query](spark, SF_DIR).collect()}
    b = {tuple(r) for r in QUERIES[stored](spark, SF_DIR).collect()}
    assert a == b, (
        f"{stored} diverged from {in_query}: "
        f"only_in_query={sorted(a - b)[:5]} only_stored={sorted(b - a)[:5]}"
    )
    assert len(a) > 0 or in_query.startswith("dedup")  # topk pairs never empty


def test_lsh_verified_pairs_subset_of_exact(spark):
    """The composite can only MISS (candidate recall < 1), never invent:
    every LSH-verified pair is an exact-Jaccard pair with the identical
    rounded jaccard value."""
    from pyspark.sql import functions as F

    from sow_pyspark_scripts_spark.operators.dedup import (
        jaccard_pairs,
        lsh_verified_jaccard_pairs,
        word_shingles,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").filter(
        F.col("doc_id") < 400
    )
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in jaccard_pairs(word_shingles(docs), 0.1).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in lsh_verified_jaccard_pairs(docs, 0.1).collect()
    }
    assert set(lsh) <= set(exact)
    for pair, j in lsh.items():
        assert j == exact[pair], (pair, j, exact[pair])
    # and at the dedup-grade threshold the bands catch everything in the
    # fixture (recall 1-(1-s^2)^8 is ~1.0 for true near-dups)
    exact_hi = {p for p, j in exact.items() if j >= 0.8}
    lsh_hi = {p for p, j in lsh.items() if j >= 0.8}
    assert exact_hi == lsh_hi


def test_stored_pq_codes_equal_in_query_encoding(spark):
    """The index build and `embedding_pq_encode` encode through the same
    steps, so the stored pq_codes table must carry the in-query codes and
    quantization error for every vec_id."""
    import os

    from sow_pyspark_scripts_spark.plans.ann_index import ensure_ann_index

    idx = ensure_ann_index(spark, SF_DIR)
    stored = {
        r["vec_id"]: (f"{r['c0']}|{r['c1']}|{r['c2']}|{r['c3']}", r["qerr"])
        for r in spark.read.parquet(os.path.join(idx, "pq_codes.parquet")).collect()
    }
    encoded = {
        r["vec_id"]: (r["codes"], r["qerr"])
        for r in QUERIES["embedding_pq_encode"](spark, SF_DIR).collect()
    }
    assert len(encoded) > 0
    assert stored == encoded, sorted(set(stored.items()) ^ set(encoded.items()))[:5]
