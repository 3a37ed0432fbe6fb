"""Streaming + sink behaviors not expressible as driver oracle queries:
watermarked dedup, foreachBatch upsert convergence, partitioned
overwrite idempotence, schema contracts."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from pyspark.sql.types import LongType, StringType, StructField, StructType

from sow_pyspark_scripts_spark.sources import read_table
from sow_pyspark_scripts_spark.sources.writers import (
    SchemaContractError,
    assert_schema_contract,
    merge_upsert,
    write_partitioned,
)
from sow_pyspark_scripts_spark.streaming.pipeline import (
    dedup_within_watermark_stream,
    run_to_memory,
    upsert_foreach_batch,
)

from .conftest import SF_DIR


def test_streaming_dedup_within_watermark(spark):
    out = run_to_memory(dedup_within_watermark_stream(spark, SF_DIR), "append")
    batch = read_table(spark, SF_DIR, "events")
    # fixture event_ids are unique -> dedup preserves all; and the stream
    # saw every row (count equality is the non-trivial part: file source +
    # watermark must not drop anything on availableNow drain)
    assert out.count() == batch.count()
    assert out.select("event_id").distinct().count() == batch.count()


def test_upsert_foreach_batch_converges(spark, tmp_path):
    target = str(tmp_path / "upsert_target")
    upsert_foreach_batch(spark, SF_DIR, target)
    got = sorted(map(tuple, spark.read.parquet(target).collect()))
    # one row per user (latest by ts)
    users = read_table(spark, SF_DIR, "events").select("user_id").distinct()
    assert len(got) == users.count()
    # idempotent: replaying the whole stream again converges to the same table
    import shutil

    shutil.rmtree(target + "_chk")  # fresh checkpoint -> reprocess from scratch
    upsert_foreach_batch(spark, SF_DIR, target)
    again = sorted(map(tuple, spark.read.parquet(target).collect()))
    assert got == again


def test_merge_upsert_semantics(spark):
    schema = ["k", "v", "ts"]
    existing = spark.createDataFrame([(1, "old", 10), (2, "keep", 20)], schema)
    incoming = spark.createDataFrame([(1, "new", 30), (3, "ins", 5)], schema)
    out = merge_upsert(existing, incoming, ["k"], "ts")
    got = {r.k: (r.v, r.ts) for r in out.collect()}
    assert got == {1: ("new", 30), 2: ("keep", 20), 3: ("ins", 5)}


def test_write_partitioned_dynamic_overwrite(spark, tmp_path):
    path = str(tmp_path / "part")
    df1 = spark.createDataFrame([(1, "1-2024"), (2, "2-2024")], ["id", "month_year"])
    write_partitioned(df1, path)
    # overwrite ONLY month 2 with new contents; month 1 must survive
    df2 = spark.createDataFrame([(99, "2-2024")], ["id", "month_year"])
    write_partitioned(df2, path)
    got = sorted((r.id, r.month_year) for r in spark.read.parquet(path).collect())
    assert got == [(1, "1-2024"), (99, "2-2024")]


def test_schema_contract(spark):
    df = spark.createDataFrame([(1, "a")], ["id", "name"])
    ok = StructType([StructField("id", LongType()), StructField("name", StringType())])
    assert_schema_contract(df, ok)
    bad = StructType([StructField("id", StringType()), StructField("name", StringType())])
    with pytest.raises(SchemaContractError) as ei:
        assert_schema_contract(df, bad)
    assert "got" in str(ei.value) and "want" in str(ei.value)


def test_stateful_apply_in_pandas_with_state(spark):
    """Custom stateful op (applyInPandasWithState) equals batch groupBy on
    a static drain: per-user running totals after the final micro-batch."""
    from sow_pyspark_scripts_spark.streaming.pipeline import stateful_user_totals_stream

    got = run_to_memory(stateful_user_totals_stream(spark, SF_DIR), "update")
    # update mode may emit a row per user per batch; availableNow on one
    # file yields one batch, but keep the latest row per user regardless.
    latest = {r.user_id: (r.n_events, r.sum_value) for r in got.collect()}
    want = {
        r.user_id: (r.n, round(r.s, 2))
        for r in read_table(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert set(latest) == set(want)
    for u in want:
        assert latest[u][0] == want[u][0]
        assert abs(latest[u][1] - want[u][1]) < 0.02


def test_streaming_batch_parity_sliding(spark):
    """Sliding-window streaming agg equals its batch twin on static input."""
    from sow_pyspark_scripts_spark.plans.events import events_sliding_agg
    from sow_pyspark_scripts_spark.streaming.pipeline import stream_events

    ev = stream_events(spark, SF_DIR).withWatermark("ts", "1 hour")
    stream_df = (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n_events",
            "sum_value",
        )
    )
    got = run_to_memory(stream_df, "complete")
    want = events_sliding_agg(spark, SF_DIR)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_streaming_file_sink_restart_exactly_once(spark, tmp_path):
    """File sink + checkpoint = exactly-once: draining the source twice
    against the same checkpoint must not duplicate rows (the second run
    finds the source exhausted in the offset log), and the output equals
    the full fixture."""
    import os

    from sow_pyspark_scripts_spark.streaming.pipeline import stream_events

    out, chk = str(tmp_path / "out"), str(tmp_path / "chk")

    def run_once():
        q = (
            stream_events(spark, SF_DIR)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    n1 = spark.read.parquet(out).count()
    run_once()
    n2 = spark.read.parquet(out).count()
    expected = spark.read.parquet(os.path.join(SF_DIR, "events.parquet")).count()
    assert n1 == n2 == expected


def test_aqe_skew_join_engages(spark):
    """AQE must split a pathologically skewed join partition (99% of the
    big side on one key) when broadcast is off — the runtime answer to
    skew that the salted-join operator handles statically."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        big = (
            spark.range(0, 60_000)
            .withColumn(
                "k",
                F.when(F.col("id") % 100 < 99, F.lit(0)).otherwise(F.col("id") % 7),
            )
            .withColumn("pad", F.md5(F.col("id").cast("string")))
        )
        dim = spark.range(0, 7).withColumnRenamed("id", "k2")
        j = big.join(dim, big.k == dim.k2).select("id", "k", "pad")
        # collect() executes j's OWN queryExecution (count() would spawn a
        # separate one and leave this plan isFinalPlan=false)
        assert len(j.collect()) == 60_000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_stateful_transform_with_state(spark):
    """Spark 4 transformWithStateInPandas twin of the applyInPandasWithState
    op: typed ValueState, RocksDB provider, integer-cents-exact totals.
    Skips where the protobuf dependency (its JVM<->Python state protocol)
    is absent."""
    from sow_pyspark_scripts_spark.streaming.pipeline import (
        _tws_available,
        stateful_user_totals_tws_stream,
    )

    if not _tws_available():
        pytest.skip("protobuf not installed; transformWithState runner needs it")

    got = run_to_memory(stateful_user_totals_tws_stream(spark, SF_DIR), "update")
    latest = {r.user_id: (r.n_events, r.sum_cents) for r in got.collect()}
    want = {
        r.user_id: (r.n, r.c)
        for r in read_table(spark, SF_DIR, "events")
        .filter(F.col("value").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
            ).alias("c"),
        )
        .collect()
    }
    assert latest == want


def test_compaction_reduces_file_count(spark):
    """sink_compact_small_files must actually change the layout: 64
    fragment files in, <=2 compacted parquet part-files out, same rows."""
    import glob
    import os
    import tempfile

    from sow_pyspark_scripts_spark.plans.spark4_ops import (
        sink_compact_small_files,
    )

    out = sink_compact_small_files(spark, SF_DIR)
    tag = SF_DIR.strip("/").replace("/", "_")
    frag = os.path.join(tempfile.gettempdir(), f"spark_compact_frag_{tag}")
    compact = os.path.join(tempfile.gettempdir(), f"spark_compact_out_{tag}")
    n_frag = len(glob.glob(os.path.join(frag, "part-*")))
    n_compact = len(glob.glob(os.path.join(compact, "part-*")))
    assert n_frag == 64 and n_compact <= 2, (n_frag, n_compact)
    assert out.count() == read_table(spark, SF_DIR, "events").count()


def test_compaction_sizes_output_through_hadoop_fs(spark, monkeypatch):
    """sink_compact_small_files must size its output through the Hadoop
    FileSystem, not driver-local os calls, so HDFS / object-store paths
    work: local listing of the fragment directory is made to fail."""
    import os

    from sow_pyspark_scripts_spark.plans.spark4_ops import (
        sink_compact_small_files,
    )

    def local_fs_forbidden(fn):
        def guarded(path, *args, **kwargs):
            if "spark_compact_frag_" in os.fspath(path):
                raise OSError(f"driver-local filesystem call on {path}")
            return fn(path, *args, **kwargs)

        return guarded

    monkeypatch.setattr(os, "listdir", local_fs_forbidden(os.listdir))
    monkeypatch.setattr(os.path, "getsize", local_fs_forbidden(os.path.getsize))
    out = sink_compact_small_files(spark, SF_DIR)
    assert out.count() == read_table(spark, SF_DIR, "events").count()


def test_stream_events_drains_directory_of_part_files(spark, tmp_path):
    """A table stored as a directory of part files drains every event,
    as the single-file table does."""
    import os

    import pyarrow.parquet as pq

    from sow_pyspark_scripts_spark.streaming.pipeline import stream_events

    table = pq.read_table(os.path.join(SF_DIR, "events.parquet"))
    parts = tmp_path / "events.parquet"
    parts.mkdir()
    step = -(-table.num_rows // 4)
    for i in range(4):
        pq.write_table(
            table.slice(i * step, step), str(parts / f"part-{i:05d}.parquet")
        )
    drained = run_to_memory(stream_events(spark, str(tmp_path)), "append")
    assert drained.count() == table.num_rows > 0
