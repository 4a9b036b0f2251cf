"""Streaming semantics: batch-equivalence (SURVEY.md §5 — streaming
ops have no SQL oracle; the check is stream-vs-batch on the same data)
and the incremental foreachBatch upsert vs the one-shot batch MERGE."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from currency_etl_pipeline_spark.functions.scalars import dec
from currency_etl_pipeline_spark.operators.upsert import latest_per_key
from currency_etl_pipeline_spark.streaming.pipeline import (
    events_stream,
    run_stream_to_memory,
    stream_upsert_snapshot,
    windowed_rates,
)
from currency_etl_pipeline_spark.tables import load_table

KEYS = ["user_id", "event_type"]
SNAP_COLS = ["user_id", "event_type", "value", "ts", "event_id"]


def _sorted_rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_windowed_stream_equals_batch(spark, sf_dir):
    stream = events_stream(spark, f"{sf_dir}/events.parquet")
    result = run_stream_to_memory(windowed_rates(stream), spark, "complete")

    ev = load_table(spark, sf_dir, "events")
    batch = (
        ev.groupBy(F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("window_start"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum(dec("value")).cast("double").alias("sum_value"))
        .withColumn("avg_value", F.round(F.col("sum_value") / F.col("n_events"), 6))
    )
    cols = ["window_start", "event_type", "n_events", "sum_value", "avg_value"]
    assert _sorted_rows(result, cols) == _sorted_rows(batch, cols)


def test_kafka_branch_shares_downstream_plan(spark, sf_dir):
    """The Kafka branch's parse stage (value-JSON → events schema) must
    produce EXACTLY the file branch's rows and schema, so every
    downstream plan (watermark, window, upsert) is shared verbatim.
    No broker/connector ships in this container, so the parse is
    exercised on a batch DataFrame with the Kafka wire schema — the
    transformation is identical for a readStream.format('kafka')
    source (pure DataFrame ops, source-agnostic)."""
    from currency_etl_pipeline_spark.streaming.pipeline import (
        events_schema,
        parse_kafka_events,
        windowed_rates,
    )

    ev = load_table(spark, sf_dir, "events")
    # Serialize events as Kafka records: value = JSON with ts in micros.
    wire = ev.select(
        F.to_json(
            F.struct(
                *[
                    F.unix_micros(F.col(c)).alias("ts") if c == "ts" else F.col(c)
                    for c in ev.columns
                ]
            )
        )
        .cast("binary")
        .alias("value")
    )
    parsed = parse_kafka_events(wire, events_schema(spark, sf_dir)).select(*ev.columns)
    assert parsed.schema == ev.select(*ev.columns).schema
    assert _sorted_rows(parsed, ev.columns) == _sorted_rows(ev, ev.columns)

    # And the shared downstream aggregation gives identical results
    # whether fed by the file branch or the parsed Kafka wire rows
    # (windowed_rates only needs ts/event_type/value — same plan).
    cols = ["window_start", "event_type", "n_events", "sum_value", "avg_value"]
    from_file = run_stream_to_memory(
        windowed_rates(events_stream(spark, f"{sf_dir}/events.parquet")), spark, "complete"
    )
    from_wire = windowed_rates(parsed)
    assert _sorted_rows(from_file, cols) == _sorted_rows(from_wire, cols)


def test_kafka_branch_validates_options(spark, sf_dir):
    with pytest.raises(ValueError, match="bootstrap"):
        events_stream(spark, f"{sf_dir}/events.parquet", source="kafka")
    with pytest.raises(ValueError, match="subscribe"):
        events_stream(
            spark,
            f"{sf_dir}/events.parquet",
            source="kafka",
            kafka_options={"kafka.bootstrap.servers": "localhost:9092"},
        )
    with pytest.raises(ValueError, match="unknown source"):
        events_stream(spark, f"{sf_dir}/events.parquet", source="pulsar")


@pytest.fixture()
def chunked_events_dir(spark, sf_dir, tmp_path):
    """events re-chunked into 3 files so maxFilesPerTrigger=1 yields 3
    micro-batches with out-of-order arrivals across batches."""
    ev = load_table(spark, sf_dir, "events")
    out = str(tmp_path / "chunks")
    # chunk by event_id % 3 — each chunk spans the full time range, so
    # later batches contain timestamps older than already-merged ones
    # (exercises the strict newest-wins rule on late data).
    ev.withColumn("chunk", F.col("event_id") % 3).repartition(1).write.partitionBy("chunk").parquet(out)
    return out


def test_incremental_upsert_equals_batch_merge(spark, sf_dir, chunked_events_dir, tmp_path):
    from currency_etl_pipeline_spark.sources.warehouse import SnapshotStore

    schema = load_table(spark, sf_dir, "events").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(chunked_events_dir + "/chunk=*")
    )
    snap_path = str(tmp_path / "snap")
    q = stream_upsert_snapshot(spark, stream, KEYS, "ts", snap_path, SNAP_COLS)
    q.awaitTermination(120)

    store = SnapshotStore(spark, snap_path)
    assert store.exists()
    got = store.read()
    ev = load_table(spark, sf_dir, "events")
    want = latest_per_key(ev, KEYS, "ts", tie_breakers=["event_id"]).select(*SNAP_COLS)
    assert _sorted_rows(got, SNAP_COLS) == _sorted_rows(want, SNAP_COLS)


def test_incremental_rollup_equals_batch(spark, sf_dir, chunked_events_dir, tmp_path):
    """The continuous-aggregate foreachBatch rollup, fed 3 micro-batches
    with interleaved windows, must equal the one-shot batch aggregation
    (count and DECIMAL sums are mergeable partials — associativity is
    the whole point)."""
    from currency_etl_pipeline_spark.sources.warehouse import SnapshotStore
    from currency_etl_pipeline_spark.streaming.pipeline import stream_rollup_snapshot

    ev = load_table(spark, sf_dir, "events")
    stream = (
        spark.readStream.schema(spark.read.parquet(chunked_events_dir).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(chunked_events_dir)
    )
    snap_path = str(tmp_path / "rollup_snap")
    q = stream_rollup_snapshot(spark, stream, snap_path)
    q.awaitTermination()

    got = SnapshotStore(spark, snap_path).read()
    want = ev.groupBy(
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(dec("value")).alias("sum_value"),
    )
    cols = ["window_start", "event_type", "n_events", "sum_value"]
    assert _sorted_rows(got, cols) == _sorted_rows(want, cols)


def test_checkpointed_upsert_resumes_without_replay(spark, sf_dir, chunked_events_dir, tmp_path):
    """With a checkpoint dir, a RESTARTED upsert query resumes from
    committed offsets: run over the first data, restart after more
    data arrives, and the store must hold the full merge while the
    second run's checkpoint shows it only consumed the new files
    (no duplicate snapshot versions from replaying old batches)."""
    import os
    import shutil

    from currency_etl_pipeline_spark.sources.warehouse import SnapshotStore

    schema = load_table(spark, sf_dir, "events").schema
    src = str(tmp_path / "src")
    os.makedirs(src)
    for c in [0, 1]:
        shutil.copytree(f"{chunked_events_dir}/chunk={c}", f"{src}/part{c}")

    snap_path, ckpt = str(tmp_path / "snap"), str(tmp_path / "ckpt")

    def run():
        stream = (
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src + "/part*")
        )
        q = stream_upsert_snapshot(
            spark, stream, KEYS, "ts", snap_path, SNAP_COLS, checkpoint_dir=ckpt
        )
        q.awaitTermination(120)

    run()
    store = SnapshotStore(spark, snap_path)
    v_after_first = int(store._latest()[1:])
    assert v_after_first >= 1

    # New data arrives; restart the query with the SAME checkpoint.
    shutil.copytree(f"{chunked_events_dir}/chunk=2", f"{src}/part2")
    run()

    # Only the new file(s) were processed: version count grew by the
    # number of NEW micro-batches, not by a full replay.
    v_after_second = int(store._latest()[1:])
    assert 1 <= v_after_second - v_after_first <= 2, (
        f"restart replayed old batches: v{v_after_first} -> v{v_after_second}"
    )

    ev = load_table(spark, sf_dir, "events")
    want = latest_per_key(ev, KEYS, "ts", tie_breakers=["event_id"]).select(*SNAP_COLS)
    assert _sorted_rows(store.read(), SNAP_COLS) == _sorted_rows(want, SNAP_COLS)


def test_rollup_replayed_epoch_is_noop(spark, sf_dir, chunked_events_dir, tmp_path):
    """foreachBatch is at-least-once: a replayed epoch must NOT
    double-count the rollup. Each commit is tagged with its epoch_id
    (installed atomically with the pointer flip), so re-running the
    same epochs against the same store merges nothing — the snapshot
    still equals the one-shot batch aggregate."""
    from currency_etl_pipeline_spark.sources.warehouse import SnapshotStore
    from currency_etl_pipeline_spark.streaming.pipeline import stream_rollup_snapshot

    def run():
        stream = (
            spark.readStream.schema(spark.read.parquet(chunked_events_dir).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(chunked_events_dir)
        )
        q = stream_rollup_snapshot(spark, stream, snap_path)
        q.awaitTermination(120)

    snap_path = str(tmp_path / "rollup_snap")
    run()
    store = SnapshotStore(spark, snap_path)
    assert store.latest_tag() is not None
    # Replay: same data, fresh (absent) checkpoint -> epochs 0..2 again.
    run()

    ev = load_table(spark, sf_dir, "events")
    want = ev.groupBy(
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(dec("value")).alias("sum_value"),
    )
    cols = ["window_start", "event_type", "n_events", "sum_value"]
    assert _sorted_rows(store.read(), cols) == _sorted_rows(want, cols)


def test_file_stream_honors_explicit_schema(spark, sf_dir, tmp_path):
    """ADVICE: a caller-supplied schema must not be discarded by the
    file branch — a path that is not an events.parquet fixture streams
    with the passed schema; without one it raises instead of failing
    deep inside Spark."""
    import os
    import shutil

    from currency_etl_pipeline_spark.streaming.pipeline import events_schema

    src = str(tmp_path / "evcopy")
    os.makedirs(src)
    shutil.copy(f"{sf_dir}/events.parquet", os.path.join(src, "data.parquet"))
    schema = events_schema(spark, sf_dir)

    stream = events_stream(spark, src, schema=schema)
    got = run_stream_to_memory(
        stream.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")), spark, "complete"
    )
    ev = load_table(spark, sf_dir, "events")
    want = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    assert _sorted_rows(got, ["event_type", "n"]) == _sorted_rows(want, ["event_type", "n"])

    with pytest.raises(ValueError, match="explicit schema"):
        events_stream(spark, src)


def test_nanos_stored_events_still_stream(spark, tmp_path):
    """Regression: rounds 1-3 shipped events.parquet with
    TIMESTAMP(NANOS) columns, which the batch reader surfaces as LONG
    under nanosAsLong; the stream must derive its schema from the RAW
    reader (not load_table's post-conversion schema, which would
    request TimestampType for an INT64-nanos column and fail the scan)
    and convert after. Pin it with a real nanos-stored file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from currency_etl_pipeline_spark.streaming.pipeline import events_stream

    t0 = 1704067200_000_000_000  # 2024-01-01T00:00:00Z in ns
    table = pa.table(
        {
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array(
                [t0, t0 + 3600 * 10**9, t0 + 2 * 3600 * 10**9], pa.timestamp("ns")
            ),
            "user_id": pa.array([10, 10, 11], pa.int64()),
            "event_type": pa.array(["view", "click", "view"]),
            "value": pa.array([1.5, 2.5, 3.5], pa.float64()),
            "props": pa.array(["{}", "{}", "{}"]),
        }
    )
    d = tmp_path / "nanos"
    d.mkdir()
    pq.write_table(table, str(d / "events.parquet"), store_schema=False)

    stream = events_stream(spark, str(d / "events.parquet"))
    assert str(stream.schema["ts"].dataType) == "TimestampType()", (
        "nanos long must be converted to timestamps before downstream ops"
    )
    out = run_stream_to_memory(
        stream.select("event_id", "ts", "value"), spark, output_mode="append"
    )
    rows = {r["event_id"]: r["ts"] for r in out.collect()}
    assert len(rows) == 3
    assert rows[1].strftime("%Y-%m-%d %H:%M:%S") == "2024-01-01 00:00:00"
    assert rows[2].strftime("%H:%M:%S") == "01:00:00"


def _batched_stream(spark, tmp_path, batches, schema):
    """One parquet file per batch with forced mtime order +
    maxFilesPerTrigger=1 → one micro-batch per element of ``batches``,
    in order. NOTE Spark's late-event filter uses the watermark from
    the END of batch N-1 as of batch N's PLANNING — i.e. the filter
    lags eviction by one batch — so a row must arrive two batches
    after the watermark-advancing row to be dropped as late."""
    import os

    d = tmp_path / "batched"
    d.mkdir()
    for i, rows in enumerate(batches):
        sub = d / f"f{i}"
        spark.createDataFrame(rows, schema).repartition(1).write.parquet(str(sub))
        for f in sub.glob("*.parquet"):
            os.utime(f, (1_000_000_000 + i * 1000, 1_000_000_000 + i * 1000))
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d) + "/*")
    )


def test_watermark_drops_late_rows_in_append_mode(spark, tmp_path):
    """The docstrings sell the 30-min watermark as the production
    state bound; prove the semantics: a row arriving in a later batch
    with event time behind the watermark is DROPPED — the finalized
    window is not re-emitted or inflated."""
    from datetime import datetime as t_parse

    schema = "k string, ts timestamp, v int"
    t = t_parse.fromisoformat
    batches = [
        [("k1", t("2024-01-01 10:15:00"), 1), ("k1", t("2024-01-01 10:45:00"), 1),
         ("k1", t("2024-01-01 13:00:00"), 1)],
        # boundary batch: the late filter lags one batch behind eviction
        [("k1", t("2024-01-01 13:30:00"), 1)],
        # LATE row (10:30 < watermark 12:30, two batches stale) + fresh row
        [("k1", t("2024-01-01 10:30:00"), 1), ("k1", t("2024-01-01 14:30:00"), 1)],
    ]
    stream = _batched_stream(spark, tmp_path, batches, schema)
    agg = (
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.date_format("w.start", "HH:mm").alias("ws"), "n")
    )
    q = agg.writeStream.format("memory").queryName("late_drop").outputMode("append").start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = {(r["ws"], r["n"]) for r in spark.sql("SELECT * FROM late_drop").collect()}
    # 10:00 window finalized after batch 1 with n=2; the late 10:30 row
    # must not re-open it (no ('10:00', 3) and no duplicate row);
    # 13:00 finalizes after batch 2's watermark advance.
    assert ("10:00", 2) in out, f"finalized window wrong: {out}"
    assert ("10:00", 3) not in out, "late row leaked into a finalized window"
    assert ("13:00", 2) in out  # 13:00 + the 13:30 boundary row


def test_drop_duplicates_within_watermark_bounds_state(spark, tmp_path):
    """dropDuplicatesWithinWatermark is cited throughout as the
    bounded-state production form of streaming dedup; prove both
    halves: a duplicate within the watermark is dropped, and a key
    re-arriving far beyond it is emitted again (state was evicted)."""
    from datetime import datetime as t_parse

    schema = "k string, ts timestamp, v int"
    t = t_parse.fromisoformat
    batches = [
        [("k1", t("2024-01-01 10:00:00"), 1), ("k1", t("2024-01-01 10:10:00"), 2),
         ("kx", t("2024-01-01 13:00:00"), 3)],
        [("ky", t("2024-01-01 13:10:00"), 9)],  # boundary: evicts k1's state
        [("k1", t("2024-01-01 13:05:00"), 4)],  # re-arrival after eviction
    ]
    stream = _batched_stream(spark, tmp_path, batches, schema)
    deduped = stream.withWatermark("ts", "30 minutes").dropDuplicatesWithinWatermark(["k"])
    q = deduped.writeStream.format("memory").queryName("ddww").outputMode("append").start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("SELECT k FROM ddww").collect()
    counts = {}
    for r in rows:
        counts[r["k"]] = counts.get(r["k"], 0) + 1
    assert counts.get("kx") == 1
    assert counts.get("ky") == 1
    assert counts.get("k1") == 2, (
        f"expected k1 deduped within the watermark and re-emitted after "
        f"state eviction; got {counts}"
    )


def test_stream_corpus_to_lake_epoch_idempotent(spark, sf_dir, tmp_path):
    """The streaming corpus sink must (a) land exactly the batch gate's
    output (gate + redaction equivalence), (b) be idempotent under
    foreachBatch replay — rewriting an epoch converges instead of
    duplicating, (c) expose epoch/lang as prunable partition columns,
    and (d) store text post-redaction so PII never reaches the lake."""
    import re

    from currency_etl_pipeline_spark.functions.redact import redact_pii
    from currency_etl_pipeline_spark.queries.text import blended_quality
    from currency_etl_pipeline_spark.streaming.pipeline import stream_corpus_to_lake

    out = str(tmp_path / "corpus_lake")
    q = stream_corpus_to_lake(
        spark, sf_dir, out, checkpoint_dir=str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)

    landed = spark.read.parquet(out)
    assert {"doc_id", "lang", "source", "text", "pii_hits", "n_tokens", "quality_score", "epoch"} <= set(
        landed.columns
    )

    # (a) equivalence with the batch gate over the same corpus
    docs = load_table(spark, sf_dir, "documents")
    score = F.round(blended_quality(), 6)
    expected = (
        docs.withColumn("q", score)
        .filter(F.col("lang").isin("en", "de") & (F.col("q") >= 0.5))
        .select("doc_id", redact_pii(F.col("text")).alias("text"))
    )
    got = {(r["doc_id"], r["text"]) for r in landed.select("doc_id", "text").collect()}
    want = {(r["doc_id"], r["text"]) for r in expected.collect()}
    assert got == want, "lake content diverges from the batch gate + redaction"

    # (b) replaying an epoch's write must not duplicate. Materialize
    # the batch first: a real foreachBatch replay re-reads the SOURCE,
    # not the sink (writing a lazily-self-read path is a different,
    # known Spark hazard this test is not about).
    n_before = landed.count()
    epoch0_df = landed.filter(F.col("epoch") == 0).drop("epoch")
    replay = spark.createDataFrame(epoch0_df.collect(), epoch0_df.schema)
    replay.write.mode("overwrite").partitionBy("lang").parquet(f"{out}/epoch=0")
    assert spark.read.parquet(out).count() == n_before, "epoch replay duplicated rows"

    # (c) lang filter prunes at the partition level
    pruned = spark.read.parquet(out).filter(F.col("lang") == "en")
    plan = pruned._sc._jvm.PythonSQLUtils.explainString(
        pruned._jdf.queryExecution(), "formatted"
    )
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "lang" in m.group(1), "lang did not become a partition filter"

    # (d) no un-redacted digit runs survive in the landed text
    # (fresh read: `landed`'s file list predates the replay overwrite)
    fresh = spark.read.parquet(out)
    assert fresh.filter(F.col("text").rlike("[0-9]{6,}")).count() == 0


def test_streaming_window_sketch_matches_batch(spark, sf_dir):
    """The streaming windowed HLL estimate must (a) equal the batch
    sketch over the same data exactly — register merges are
    commutative maxes, so micro-batch slicing cannot move it — and
    (b) track the exact distinct count within 5% per window."""
    from currency_etl_pipeline_spark.queries.streaming_queries import (
        streaming_window_user_sketch,
    )

    got = {
        (r["window_start"], r["event_type"]): r["approx_users"]
        for r in streaming_window_user_sketch(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    batch = (
        ev.groupBy(F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("w"), "event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.02).alias("approx"),
            F.countDistinct("user_id").alias("exact"),
        )
        .collect()
    )
    assert got and len(got) == len(batch)
    for r in batch:
        est = got[(r["w"], r["event_type"])]
        assert est == r["approx"], "streaming sketch diverged from batch sketch"
        assert abs(est - r["exact"]) <= max(1, 0.05 * r["exact"]), (
            f"window {r['w']}/{r['event_type']}: {est} vs exact {r['exact']}"
        )


def test_stream_lake_feeds_shard_sink(spark, sf_dir, tmp_path):
    """The full streaming → batch handoff: documents stream through
    the gate+redaction into epoch dirs, the batch stage dedups the
    at-least-once deliveries by doc_id and lands training shards —
    proving the lake sink's output schema is directly consumable by
    the packing sink with nothing lost in between."""
    from currency_etl_pipeline_spark.sources.shards import (
        read_training_shards,
        write_training_shards,
    )
    from currency_etl_pipeline_spark.streaming.pipeline import stream_corpus_to_lake

    lake = str(tmp_path / "lake")
    q = stream_corpus_to_lake(spark, sf_dir, lake, checkpoint_dir=str(tmp_path / "ck"))
    q.awaitTermination(120)

    landed = spark.read.parquet(lake)
    # the packer recomputes n_tokens; drop the gate's copy to avoid a
    # duplicate column in the shard sink's assignment join
    batch_stage = landed.dropDuplicates(["doc_id"]).drop("epoch", "n_tokens")
    shards = str(tmp_path / "shards")
    write_training_shards(batch_stage, shards)

    back = read_training_shards(spark, shards)
    assert back.count() == batch_stage.count(), "shard sink lost or duplicated docs"
    assert back.select("doc_id").distinct().count() == back.count()
    # gate metadata from the stream rides through to the shards
    assert {"pii_hits", "quality_score", "shard_id", "split"} <= set(back.columns)
    # (vacuous on the digit-free fixture — the non-vacuous redaction
    # proof on a PII-bearing corpus is
    # tests/test_shards.py::test_pipeline_on_pii_corpus_redacts_and_dedups_correctly)
    assert back.filter(F.col("text").rlike("[0-9]{6,}")).count() == 0


def test_raw_zone_tail_matches_batch_datasource(spark, tmp_path):
    """The streaming raw-zone tail and the batch currency_rates data
    source must agree over the SAME landed directory: identical good
    quote rows, identical quarantined-file set with matching error
    categories (exact error detail differs only for non-string API
    error payloads, where batch renders Python str and streaming the
    raw JSON — the category prefix is the contract)."""
    import json

    from currency_etl_pipeline_spark.sources.rates_datasource import (
        CurrencyRatesDataSource,
        stream_rates_raw_zone,
    )
    from currency_etl_pipeline_spark.streaming.pipeline import run_stream_to_memory

    raw = tmp_path / "raw_zone"
    raw.mkdir()
    (raw / "a.json").write_text(json.dumps({
        "success": True, "source": "GBP", "fetched_at": "2024-03-01 10:00:00",
        "quotes": {"GBPUSD": "1.2645", "GBPEGP": "61.4022", "XAUGBP": "0.0005", "GBPNUL": None},
    }))
    (raw / "b.json").write_text(json.dumps({"success": False, "error": {"code": 104}}))
    (raw / "c.json").write_text("{not json")
    (raw / "d.json").write_text(json.dumps({"success": True, "source": "GBP", "quotes": {}}))
    (raw / "e.json").write_text(json.dumps({"success": True, "quotes": {"GBPUSD": "1.2"}}))

    spark.dataSource.register(CurrencyRatesDataSource)
    batch = spark.read.format("currency_rates").option("path", str(raw)).load()
    streamed = run_stream_to_memory(
        stream_rates_raw_zone(spark, str(raw)), spark, output_mode="append"
    )
    assert streamed.columns == batch.columns

    def split_rows(df):
        rows = [tuple(r) for r in df.collect()]
        good = sorted(r for r in rows if r[-1] is None)
        quarantined = {r[-2]: r[-1] for r in rows if r[-1] is not None}
        return good, quarantined

    b_good, b_bad = split_rows(batch)
    s_good, s_bad = split_rows(streamed)
    assert s_good == b_good, "good quote rows differ between stream and batch"
    assert set(s_bad) == set(b_bad) == {"b.json", "c.json", "d.json", "e.json"}
    for f in s_bad:
        assert s_bad[f].split(":")[0] == b_bad[f].split(":")[0], (
            f"{f}: error category diverged: {s_bad[f]!r} vs {b_bad[f]!r}"
        )


def test_left_outer_interval_join_null_emission_and_late_purchase_drop(spark, tmp_path):
    """Pins the left-outer interval join's WATERMARK semantics end to
    end: (a) an unmatched click is NOT emitted while a matching
    purchase could still arrive — the NULL row appears only after the
    watermark passes the click's whole match window; (b) a matching
    purchase that arrives AFTER that point is dropped — it neither
    retro-joins the already-emitted NULL row nor creates a duplicate.
    (The registered query's oracle pins the VALUES; this pins the
    timing/eviction behavior the oracle can't see.)"""
    import uuid
    from datetime import datetime as t_parse

    schema = "event_id bigint, user_id bigint, event_type string, ts timestamp"
    t = t_parse.fromisoformat
    d = tmp_path / "loj_zone"
    d.mkdir()

    def land(i, rows):
        spark.createDataFrame(rows, schema).repartition(1).write.parquet(
            str(d / f"b{i}")
        )

    land(0, [
        (1, 1, "click", t("2024-01-01 10:00:00")),
        (2, 1, "purchase", t("2024-01-01 09:50:00")),   # matches click 1
        (3, 2, "click", t("2024-01-01 10:00:00")),      # never matched in time
    ])
    stream = spark.readStream.schema(schema).parquet(str(d) + "/*")
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "30 minutes")
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "30 minutes")
    )
    joined = clicks.join(
        purchases,
        (F.col("p_user") == F.col("user_id"))
        & (F.col("p_ts") >= F.col("c_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("p_ts") <= F.col("c_ts")),
        "left_outer",
    ).select("click_id", "user_id", "purchase_id")
    name = f"loj_evict_{uuid.uuid4().hex[:8]}"
    q = joined.writeStream.outputMode("append").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
        early = {tuple(r) for r in spark.table(name).collect()}
        assert not any(r[0] == 3 for r in early), (
            f"unmatched click emitted BEFORE watermark passed its window: {early}"
        )

        # Both sides must advance: the global watermark is the MIN of
        # the click- and purchase-side watermarks, so each flush lands
        # a far-future row on EACH side (same pattern as the registered
        # query's sentinel files).
        land(1, [(90, 9, "click", t("2024-01-01 14:00:00")),
                 (80, 8, "purchase", t("2024-01-01 14:00:00"))])
        q.processAllAvailable()
        land(2, [(91, 9, "click", t("2024-01-01 18:00:00")),
                 (81, 8, "purchase", t("2024-01-01 18:00:00"))])
        q.processAllAvailable()
        mid = sorted(tuple(r) for r in spark.table(name).collect() if r[0] == 3)
        assert mid == [(3, 2, None)], (
            f"expected exactly one watermark-released NULL row for click 3, got {mid}"
        )

        # Late matching purchase: inside click 3's window, far behind
        # the ~17:30 watermark. Two more batches so the lagging late
        # filter definitely applies.
        land(3, [(4, 2, "purchase", t("2024-01-01 09:55:00"))])
        q.processAllAvailable()
        land(4, [(92, 9, "click", t("2024-01-01 19:00:00")),
                 (82, 8, "purchase", t("2024-01-01 19:00:00"))])
        q.processAllAvailable()
    finally:
        q.stop()
    final = sorted(tuple(r) for r in spark.table(name).collect() if r[1] == 2)
    assert final == [(3, 2, None)], (
        f"late purchase retro-joined or duplicated the evicted click: {final}"
    )
    assert not any(r[2] == 4 for r in spark.table(name).collect()), (
        "late purchase 4 appeared in the result"
    )


def test_stream_cdc_rollup_applies_retractions_across_batches(spark, tmp_path):
    """A CDC stream consumed by stream_cdc_rollup must leave the
    maintained SnapshotStore rollup bit-identical to a from-scratch
    rollup of the final snapshot — across micro-batches that insert,
    update, DELETE (retraction no built-in streaming agg can express),
    migrate a row between groups, empty a group out, and re-create it."""
    import os

    from currency_etl_pipeline_spark.operators.incremental import algebraic_rollup
    from currency_etl_pipeline_spark.operators.upsert import snapshot_diff
    from currency_etl_pipeline_spark.sources.warehouse import SnapshotStore
    from currency_etl_pipeline_spark.streaming.pipeline import stream_cdc_rollup

    schema = "k bigint, grp string, x double"
    versions = [
        [(1, "a", 10.0), (2, "b", 5.0)],
        [(1, "a", 12.0), (2, "b", 5.0), (3, "a", 1.0)],   # update 1, insert 3
        [(2, "c", 5.0), (3, "a", 1.0)],                   # delete 1; 2 migrates b->c (b empties)
        [(2, "c", 7.5), (3, "a", 1.0), (4, "b", 2.0)],    # update 2; insert 4 (b reborn)
    ]
    dfs = [spark.createDataFrame(v, schema) for v in versions]
    feed = tmp_path / "cdc_feed"
    feed.mkdir()
    diffs = [snapshot_diff(dfs[0].limit(0), dfs[0], ["k"])] + [
        snapshot_diff(dfs[i - 1], dfs[i], ["k"]) for i in range(1, len(dfs))
    ]
    for i, d in enumerate(diffs):
        sub = feed / f"d{i}"
        d.repartition(1).write.parquet(str(sub))
        for f in sub.glob("*.parquet"):
            os.utime(f, (1_000_000_000 + i * 1000,) * 2)

    # Signed deltas commute in value but NOT through the n>0 drop
    # (out-of-order application could zero a group early), so the feed
    # is consumed strictly in diff order: mtime + maxFilesPerTrigger=1.
    stream = (
        spark.readStream.schema(diffs[0].schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(feed) + "/*")
    )
    q = stream_cdc_rollup(
        spark,
        stream,
        str(tmp_path / "snap"),
        ["grp"],
        "x",
        checkpoint_dir=str(tmp_path / "ck"),
    )
    q.awaitTermination()

    def rows(df):
        return sorted(
            (r["grp"], r["n"], str(r["sum_x"]), str(r["sum_x2"])) for r in df.collect()
        )

    store = SnapshotStore(spark, str(tmp_path / "snap"))
    assert rows(store.read()) == rows(algebraic_rollup(dfs[-1], ["grp"], "x"))
    got = {r["grp"]: r["n"] for r in store.read().collect()}
    assert got == {"a": 1, "b": 1, "c": 1}, got  # b emptied then reborn
    assert store.version() == len(diffs), "one committed version per micro-batch"


def test_stream_cdc_rollup_tolerates_foreign_store_tag(spark, tmp_path):
    """Epoch tags are namespaced per checkpoint (ADVICE r7 finding 4):
    a store previously committed by ANOTHER writer with an opaque,
    non-integer tag must not crash the stream — the foreign tag reads
    as 'not mine' and the CDC batches apply on top of the seeded
    version. The stream's own commits carry the namespaced format."""
    import os

    from currency_etl_pipeline_spark.operators.incremental import algebraic_rollup
    from currency_etl_pipeline_spark.operators.upsert import snapshot_diff
    from currency_etl_pipeline_spark.sources.warehouse import SnapshotStore
    from currency_etl_pipeline_spark.streaming.pipeline import stream_cdc_rollup

    schema = "k bigint, grp string, x double"
    base = spark.createDataFrame([(1, "a", 10.0), (2, "b", 5.0)], schema)
    final = spark.createDataFrame([(1, "a", 12.0), (2, "b", 5.0), (3, "a", 1.0)], schema)

    # Seed: a manual backfill of the base rollup, tagged opaquely —
    # the old int(tag) guard raised ValueError on every batch here.
    snap_path = str(tmp_path / "snap")
    store = SnapshotStore(spark, snap_path)
    store.commit(algebraic_rollup(base, ["grp"], "x"), tag="manual-backfill-2026")

    feed = tmp_path / "cdc_feed"
    feed.mkdir()
    d = snapshot_diff(base, final, ["k"])
    d.repartition(1).write.parquet(str(feed / "d0"))
    for f in (feed / "d0").glob("*.parquet"):
        os.utime(f, (1_000_000_000,) * 2)

    stream = spark.readStream.schema(d.schema).parquet(str(feed) + "/*")
    q = stream_cdc_rollup(
        spark, stream, snap_path, ["grp"], "x", checkpoint_dir=str(tmp_path / "ck")
    )
    q.awaitTermination()

    def rows(df):
        return sorted(
            (r["grp"], r["n"], str(r["sum_x"]), str(r["sum_x2"])) for r in df.collect()
        )

    assert rows(store.read()) == rows(algebraic_rollup(final, ["grp"], "x"))
    tag = store.latest_tag()
    assert tag is not None and tag.startswith("epoch:"), tag


def test_stream_append_ivf_index_matches_batch_build(spark, sf_dir, tmp_path):
    """A vector stream consumed by stream_append_ivf_index must leave
    the materialized index search-identical to a one-shot batch build
    over the same corpus, and a replayed epoch must be a no-op (the
    exactly-once commit markers)."""
    import os

    from currency_etl_pipeline_spark.queries.vectors import _vecs
    from currency_etl_pipeline_spark.sources.ann_index import (
        build_ivf_index,
        search_ivf_index,
    )
    from currency_etl_pipeline_spark.streaming.pipeline import stream_append_ivf_index

    CENTROIDS = tuple(range(20, 28))
    v = _vecs(spark, sf_dir)
    live = str(tmp_path / "ivf_live")
    full = str(tmp_path / "ivf_batch")
    build_ivf_index(spark, sf_dir, full, CENTROIDS)
    # Seed the live index with the first 300 vectors (build installs
    # the centroid sidecar the stream appends against).
    build_ivf_index(
        spark, sf_dir, live, CENTROIDS, vectors=v.filter(F.col("vec_id") < 300)
    )

    feed = tmp_path / "vec_feed"
    feed.mkdir()
    for i, (lo, hi) in enumerate([(300, 400), (400, 10_000_000)]):
        sub = feed / f"b{i}"
        v.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)).repartition(
            1
        ).write.parquet(str(sub))
        for f in sub.glob("*.parquet"):
            os.utime(f, (1_000_000_000 + i * 1000,) * 2)
    stream = (
        spark.readStream.schema(v.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(feed) + "/*")
    )
    q = stream_append_ivf_index(
        spark, stream, live, checkpoint_dir=str(tmp_path / "ck")
    )
    q.awaitTermination()

    def rows(path):
        return sorted(
            map(
                tuple,
                search_ivf_index(
                    spark, sf_dir, path, (0, 1, 2), CENTROIDS, nprobe=2, k=5
                ).collect(),
            )
        )

    assert rows(live) == rows(full), "streamed index diverged from batch build"

    # Replay: re-running the drained feed against the same checkpoint
    # must not duplicate files (epochs already recorded).
    files_before = set(spark.read.parquet(live).inputFiles())
    q2 = stream_append_ivf_index(
        spark,
        spark.readStream.schema(v.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(feed) + "/*"),
        live,
        checkpoint_dir=str(tmp_path / "ck"),
    )
    q2.awaitTermination()
    assert set(spark.read.parquet(live).inputFiles()) == files_before


def test_stream_minhash_ingest_admission_and_replay(spark, tmp_path):
    """The streaming MinHash admission gate (r7, VERDICT task 3):
    (a) a batch doc near-dupping the accepted corpus is REJECTED and a
    novel doc admitted; (b) a later batch is gated on corpus ∪ earlier
    admissions (a near-dup of a batch-1 ADMISSION is rejected in batch
    2); (c) the post-stream index is relation-equal to a one-shot
    build over corpus ∪ admitted docs (streamed ≡ batch); (d) replaying
    the drained feed against the same checkpoint is a no-op."""
    import os

    from currency_etl_pipeline_spark.sources.dedup_index import (
        build_minhash_index,
        load_index_params,
    )
    from currency_etl_pipeline_spark.streaming.pipeline import stream_minhash_ingest

    base = (
        "the quick brown fox jumps over the lazy dog while the band plays on "
        "and the crowd cheers loudly for more music tonight"
    )
    novel1 = (
        "completely different subject matter about distributed query engines "
        "processing petabytes of columnar data with vectorized execution"
    )
    novel2 = (
        "an unrelated culinary essay on fermentation pickles sourdough bread "
        "and the chemistry of browning onions slowly in butter"
    )
    schema = "doc_id bigint, text string"
    corpus = spark.createDataFrame([(0, base)], schema)
    # batch 1: near-dup of corpus (1) + novel (2); batch 2: near-dup of
    # batch-1 ADMISSION (3) + novel (4).
    b1 = [(1, base + " extra"), (2, novel1)]
    b2 = [(3, novel1 + " extra"), (4, novel2)]

    idx = str(tmp_path / "mh_idx")
    build_minhash_index(spark, corpus, idx)
    feed = tmp_path / "mh_feed"
    feed.mkdir()
    for i, rows in enumerate([b1, b2]):
        sub = feed / f"b{i}"
        spark.createDataFrame(rows, schema).repartition(1).write.parquet(str(sub))
        for f in sub.glob("*.parquet"):
            os.utime(f, (1_000_000_000 + i * 1000,) * 2)

    def run(ck):
        stream = (
            spark.readStream.schema(corpus.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(feed) + "/*")
        )
        q = stream_minhash_ingest(
            spark, stream, idx, str(tmp_path / "acc"), 0.5, checkpoint_dir=ck
        )
        q.awaitTermination()

    run(str(tmp_path / "ck"))
    admitted = sorted(
        r["doc_id"] for r in spark.read.parquet(str(tmp_path / "acc")).collect()
    )
    assert admitted == [2, 4], admitted  # 1 rejected vs corpus, 3 vs admission 2

    def rel(path):
        b = sorted(map(tuple, spark.read.parquet(f"{path}/bands").collect()))
        s = sorted(
            (r["doc_id"], tuple(r["sig"]))
            for r in spark.read.parquet(f"{path}/sigs").collect()
        )
        return b, s

    # streamed index ≡ one-shot build over corpus ∪ admitted
    full = str(tmp_path / "mh_full")
    p = load_index_params(idx)
    build_minhash_index(
        spark,
        corpus.union(spark.createDataFrame([b1[1], b2[1]], schema)),
        full,
        p["num_hashes"],
        p["band_size"],
    )
    assert rel(idx) == rel(full), "streamed index diverged from one-shot build"

    # replay: drained feed + same checkpoint must not change the index
    before = rel(idx)
    run(str(tmp_path / "ck"))
    assert rel(idx) == before, "replay mutated the index"


def test_stream_minhash_ingest_exact_chains_mode(spark, tmp_path):
    """VERDICT r7 task 7: the pairwise lower-id rule approximates
    strictly-sequential admission and diverges on chains. Planted
    chain: corpus X ~ b; within-batch a ~ b ~ c but a !~ c and only b
    crosses the corpus bar. Sequential semantics: a admitted, b
    rejected (corpus), c admitted (its only near-dup neighbor b was
    never admitted). The default pairwise rule wrongly drops c (b < c
    and b~c); exact_chains=True runs connected components + a
    per-component greedy and admits it. Both modes asserted."""
    import os

    from currency_etl_pipeline_spark.sources.dedup_index import build_minhash_index
    from currency_etl_pipeline_spark.streaming.pipeline import stream_minhash_ingest

    W = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo "
        "lima mike november oscar papa quebec romeo sierra tango uniform "
        "victor whiskey xray"
    ).split()
    X = " ".join(W[:20] + ["nest", "owl", "perch", "quill"])
    a = " ".join(["anchor", "beacon", "candle", "dagger", "ember", "falcon"] + W[6:])
    b = " ".join(W)
    c = " ".join(W[:12] + ["garnet", "harbor", "icicle", "jasper"] + W[16:])
    # est_jaccard at num_hashes=16/band_size=2 (measured, deterministic
    # hash family): (X,b)=0.75, (a,b)=0.5625, (b,c)=0.5625,
    # (a,c)=0.3125, X never bands with a or c.
    schema = "doc_id bigint, text string"
    corpus = spark.createDataFrame([(0, X)], schema)

    def run(mode_dir, exact):
        idx = str(tmp_path / f"idx_{mode_dir}")
        build_minhash_index(spark, corpus, idx, num_hashes=16, band_size=2)
        feed = tmp_path / f"feed_{mode_dir}"
        feed.mkdir()
        spark.createDataFrame(
            [(10, a), (11, b), (12, c)], schema
        ).repartition(1).write.parquet(str(feed / "b0"))
        stream = spark.readStream.schema(corpus.schema).parquet(str(feed) + "/*")
        q = stream_minhash_ingest(
            spark,
            stream,
            idx,
            str(tmp_path / f"acc_{mode_dir}"),
            0.5,
            checkpoint_dir=str(tmp_path / f"ck_{mode_dir}"),
            exact_chains=exact,
        )
        q.awaitTermination()
        return sorted(
            r["doc_id"]
            for r in spark.read.parquet(str(tmp_path / f"acc_{mode_dir}")).collect()
        )

    assert run("approx", False) == [10], "pairwise rule must drop c on the chain"
    assert run("exact", True) == [10, 12], "exact mode must admit c"


def test_stream_append_ivf_index_on_hadoop_file_scheme(spark, sf_dir, tmp_path):
    """Streaming IVF maintenance against a ``file://`` index path: the
    commit-marker probe, the append, and a post-stream compaction
    all ride the JVM Hadoop branch — the full streaming-ingest loop
    works without a POSIX index path (VERDICT r7 task 3, closing the
    streaming corner)."""
    import os

    from currency_etl_pipeline_spark.queries.vectors import _vecs
    from currency_etl_pipeline_spark.sources.ann_index import (
        build_ivf_index,
        compact_ivf_index,
        search_ivf_index,
    )
    from currency_etl_pipeline_spark.streaming.pipeline import stream_append_ivf_index

    CENTROIDS = tuple(range(20, 28))
    v = _vecs(spark, sf_dir)
    live = f"file://{tmp_path}/ivf_live"
    full = str(tmp_path / "ivf_batch")
    build_ivf_index(spark, sf_dir, full, CENTROIDS)
    build_ivf_index(
        spark, sf_dir, live, CENTROIDS, vectors=v.filter(F.col("vec_id") < 300)
    )

    feed = tmp_path / "vec_feed_uri"
    feed.mkdir()
    v.filter(F.col("vec_id") >= 300).repartition(1).write.parquet(str(feed / "b0"))
    stream = spark.readStream.schema(v.schema).parquet(str(feed) + "/*")
    q = stream_append_ivf_index(spark, stream, live, checkpoint_dir=str(tmp_path / "ck"))
    q.awaitTermination()

    def rows(path):
        return sorted(
            map(
                tuple,
                search_ivf_index(
                    spark, sf_dir, path, (0, 1, 2), CENTROIDS, nprobe=2, k=5
                ).collect(),
            )
        )

    assert rows(live) == rows(full), "file:// streamed index diverged from batch build"
    # replay against the commit markers (read through the Hadoop branch) no-ops
    files_before = set(spark.read.parquet(live).inputFiles())
    q2 = stream_append_ivf_index(
        spark,
        spark.readStream.schema(v.schema).parquet(str(feed) + "/*"),
        live,
        checkpoint_dir=str(tmp_path / "ck"),
    )
    q2.awaitTermination()
    assert set(spark.read.parquet(live).inputFiles()) == files_before
    # and the compaction swap works on the streamed file:// index
    compact_ivf_index(spark, live, max_files_per_cell=1)
    assert rows(live) == rows(full)


def test_stream_append_ivf_index_on_pq_layout(spark, sf_dir, tmp_path):
    """r9: streaming ingest works on the IVF-PQ layout end to end —
    the foreachBatch append detects the `codes` column, assigns each
    micro-batch against the frozen centroid sidecar, encodes against
    the codebook sidecar through the exactly-once protocol, and the
    streamed index searches identically to a one-shot batch build."""
    import pyspark.sql.types as T

    from currency_etl_pipeline_spark.queries.vectors import _vecs
    from currency_etl_pipeline_spark.sources.ann_index import (
        build_ivfpq_index,
        search_ivfpq_index,
    )
    from currency_etl_pipeline_spark.streaming.pipeline import stream_append_ivf_index

    split = 400
    v = _vecs(spark, sf_dir)
    full = str(tmp_path / "pq_stream_full")
    live = str(tmp_path / "pq_stream_live")
    build_ivfpq_index(spark, sf_dir, full, tuple(range(20, 28)))
    build_ivfpq_index(
        spark, sf_dir, live, tuple(range(20, 28)),
        vectors=v.filter(F.col("vec_id") < split),
    )

    feed = str(tmp_path / "pq_feed")
    v.filter(F.col("vec_id") >= split).write.parquet(feed)
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("v", T.ArrayType(T.DoubleType())),
            T.StructField("label", T.IntegerType()),
        ]
    )
    stream = spark.readStream.schema(schema).parquet(feed)
    q = stream_append_ivf_index(spark, stream, live, checkpoint_dir=str(tmp_path / "ck"))
    q.awaitTermination(120)

    def rows(path):
        return sorted(
            map(
                tuple,
                search_ivfpq_index(spark, sf_dir, path, (0, 1, 2), nprobe=3, k=10).collect(),
            )
        )

    assert rows(live) == rows(full), "streamed PQ index diverged from batch build"


def test_stream_token_counts_chunking_invariant_and_replay(spark, tmp_path):
    """The maintained token-count store must equal the one-shot batch
    count regardless of chunking (additive merge commutes), and
    draining the SAME checkpoint again must be a no-op (epoch tags
    make the non-idempotent adds exactly-once). Planted corpus keeps
    the counts hand-checkable."""
    from currency_etl_pipeline_spark.sources.warehouse import SnapshotStore
    from currency_etl_pipeline_spark.streaming.pipeline import stream_token_counts

    schema = "doc_id bigint, text string"
    docs = [(i, "alpha beta " + ("gamma " * i).strip()) for i in range(1, 5)]
    feed = tmp_path / "feed"
    feed.mkdir()
    for i, row in enumerate(docs):
        spark.createDataFrame([row], schema).repartition(1).write.parquet(
            str(feed / f"b{i}")
        )

    def run():
        stream = (
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(feed) + "/*")
        )
        q = stream_token_counts(
            spark, stream, str(tmp_path / "store"), checkpoint_dir=str(tmp_path / "ck")
        )
        q.awaitTermination()
        return {
            r["tok"]: r["b"]
            for r in SnapshotStore(spark, str(tmp_path / "store")).read().collect()
        }

    got = run()
    assert got == {"alpha": 4, "beta": 4, "gamma": 1 + 2 + 3 + 4}, got
    assert run() == got, "replaying a drained checkpoint must not double counts"


def test_stream_append_semdedup_index_matches_one_shot(spark, sf_dir, tmp_path):
    """A vector stream consumed by stream_append_semdedup_index must
    leave the kept corpus IDENTICAL to a one-shot rebuild over the
    whole corpus (chunking cannot change sequential admissions — the
    greedy's prefix property, with earlier epochs' admissions blocking
    later epochs' duplicates), and a replayed feed must be a no-op
    (the commit-token protocol)."""
    import os

    from currency_etl_pipeline_spark.queries.vectors import _vecs
    from currency_etl_pipeline_spark.sources.semdedup_index import (
        build_semdedup_index,
        kept_vectors,
    )
    from currency_etl_pipeline_spark.streaming.pipeline import (
        stream_append_semdedup_index,
    )

    CENTROIDS = tuple(range(20, 28))
    v = _vecs(spark, sf_dir)
    live, full = str(tmp_path / "sem_live"), str(tmp_path / "sem_full")
    build_semdedup_index(spark, sf_dir, full, CENTROIDS)
    build_semdedup_index(
        spark, sf_dir, live, CENTROIDS, vectors=v.filter(F.col("vec_id") < 300)
    )

    feed = tmp_path / "sem_feed"
    feed.mkdir()
    # Ascending id ranges per file → epochs deliver ids in admission
    # order (the API's contract; mtimes pin the file order).
    for i, (lo, hi) in enumerate([(300, 400), (400, 10_000_000)]):
        sub = feed / f"b{i}"
        v.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)).repartition(
            1
        ).write.parquet(str(sub))
        for f in sub.glob("*.parquet"):
            os.utime(f, (1_000_000_000 + i * 1000,) * 2)
    stream = (
        spark.readStream.schema(v.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(feed) + "/*")
    )
    q = stream_append_semdedup_index(
        spark, stream, live, checkpoint_dir=str(tmp_path / "sem_ck")
    )
    q.awaitTermination()

    rows = lambda p: sorted(map(tuple, kept_vectors(spark, p).collect()))  # noqa: E731
    assert rows(live) == rows(full), "streamed admissions diverged from one-shot build"

    files_before = set(spark.read.parquet(live).inputFiles())
    q2 = stream_append_semdedup_index(
        spark, stream, live, checkpoint_dir=str(tmp_path / "sem_ck")
    )
    q2.awaitTermination()
    assert set(spark.read.parquet(live).inputFiles()) == files_before, (
        "replayed feed appended files"
    )


def test_memory_sink_view_dropped_even_when_detach_fails(spark, sf_dir, monkeypatch):
    """The r12 detach exists to release memory-sink buffers; the r13
    try/finally must release them even when the localCheckpoint (or
    the collect it triggers) throws — otherwise a failed drive leaks
    the exact session-lifetime buffer the detach was built to close."""
    def boom(self, eager=True):
        raise RuntimeError("synthetic checkpoint failure")

    before = {t.name for t in spark.catalog.listTables()}
    # Patch the CONCRETE DataFrame class (PySpark 4 splits the public
    # pyspark.sql.DataFrame base from the classic implementation that
    # spark.table() actually returns and that overrides the method).
    monkeypatch.setattr(
        type(spark.range(1)), "localCheckpoint", boom, raising=True
    )
    stream = events_stream(spark, f"{sf_dir}/events.parquet")
    with pytest.raises(RuntimeError, match="synthetic checkpoint failure"):
        run_stream_to_memory(windowed_rates(stream), spark, "complete")
    after = {t.name for t in spark.catalog.listTables()}
    leaked = {n for n in after - before if n.startswith("stream_out_")}
    assert not leaked, f"failed drive leaked memory-sink views: {leaked}"


def test_gate_queries_release_their_persisted_vocabularies(spark, sf_dir):
    """The two streaming admission gates persist their static-side
    vocabulary before start() (a stream-static join re-evaluates the
    static plan per micro-batch — ADVICE r13) and MUST release it in
    finally: a leaked cached vocabulary is session-lifetime executor
    memory, the same failure class as the r12 memory-sink leak."""
    from currency_etl_pipeline_spark.queries import all_queries

    specs = all_queries()
    sc = spark.sparkContext
    for name in ("streaming_contamination_gate", "streaming_subpassage_gate"):
        before = int(sc._jsc.getPersistentRDDs().size())
        df = specs[name].spark(spark, sf_dir)
        assert df.count() >= 0
        after = int(sc._jsc.getPersistentRDDs().size())
        # run_stream_to_memory's detach is an EAGER localCheckpoint,
        # which itself registers exactly one persisted (checkpoint)
        # block for the aggregate-sized result — that one is the
        # device, not a leak. A leaked vocabulary would make the
        # delta 2.
        assert after - before <= 1, f"{name} leaked {after - before - 1} vocab RDD(s)"


def test_subpassage_gate_chunking_invariant_and_matches_textbook(spark, tmp_path):
    """run_subpassage_gate must land on the identical per-doc report
    however micro-batches slice the incoming feed (the per-doc hit
    positions are collected across batches by a streaming agg), and
    the report must equal a textbook single-node gate: positions i
    whose w-window occurs in the corpus window set are covered; spans
    are the islands; clean text drops covered words. Planted docs put
    duplicated runs at non-aligned offsets and across file boundaries."""
    import itertools

    from currency_etl_pipeline_spark.queries.streaming_queries import (
        run_subpassage_gate,
    )

    w = 4
    corpus_texts = {
        100: "the quick brown fox jumps over the lazy dog today",
        101: "pack my box with five dozen liquor jugs now",
    }
    incoming_texts = {
        1: "prefix words then quick brown fox jumps over and more tail words",
        2: "box with five dozen liquor jugs now extra pack my box with five",
        3: "completely novel content that shares nothing with the corpus at all",
        4: "",
    }
    schema = "doc_id bigint, text string"
    feed = tmp_path / "feed"
    feed.mkdir()
    for i, item in enumerate(incoming_texts.items()):
        spark.createDataFrame([item], schema).repartition(1).write.parquet(
            str(feed / f"b{i}")
        )
    corpus = spark.createDataFrame(list(corpus_texts.items()), schema)
    incoming_static = spark.createDataFrame(list(incoming_texts.items()), schema)

    def drive(max_files: int):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", max_files)
            .parquet(str(feed) + "/*")
        )
        out = run_subpassage_gate(spark, stream, corpus, incoming_static, w=w)
        return {
            r["doc_id"]: (
                r["n_words"],
                r["n_dup_spans"],
                r["n_removed_words"],
                r["clean_text"],
            )
            for r in out.collect()
        }

    # textbook reference
    corpus_windows = set()
    for t in corpus_texts.values():
        ws = t.split()
        for i in range(len(ws) - w + 1):
            corpus_windows.add(tuple(ws[i : i + w]))
    ref = {}
    for d, t in incoming_texts.items():
        ws = t.strip().split() if t.strip() else [""]
        covered = set()
        for i in range(len(ws) - w + 1):
            if tuple(ws[i : i + w]) in corpus_windows:
                covered.update(range(i, i + w))
        spans = []
        for p in sorted(covered):
            if spans and p == spans[-1][1]:
                spans[-1][1] = p + 1
            elif not spans or p > spans[-1][1]:
                spans.append([p, p + 1])
        kept = [x for j, x in enumerate(ws) if j not in covered]
        ref[d] = (len(ws), len(spans), len(covered), " ".join(kept))

    one_shot = drive(4)
    assert one_shot == ref, one_shot
    assert any(v[1] > 0 for v in ref.values()) and any(
        v[1] == 0 for v in ref.values()
    ), "fixture must exercise both sides of the gate"
    assert drive(1) == one_shot, "per-file micro-batches changed the report"


def test_append_mode_sliding_counts_is_finalized_prefix_of_complete(spark, sf_dir):
    """Cross-mode engine-semantics pin for the r15 append-mode twin,
    independent of the DuckDB oracle: the append-mode result must equal
    the complete-mode result restricted to FINALIZED windows (end <=
    max event time - the 30-minute watermark delay), and the withheld
    tail must be non-empty (the fixture's last events always sit inside
    an open window). Guards the finality predicate the oracle encodes:
    if eviction strictness or the no-data flush batch ever changed,
    this comparison breaks before the driver's hash does."""
    from currency_etl_pipeline_spark.queries.streaming_queries import (
        streaming_sliding_counts,
        streaming_sliding_counts_append,
    )

    complete = streaming_sliding_counts(spark, sf_dir)
    append = streaming_sliding_counts_append(spark, sf_dir)

    # Render the watermark under the SESSION timezone (UTC), same as
    # the queries' date_format window_start strings: a collected
    # TimestampType is a naive datetime in the DRIVER's local zone,
    # which diverges from the session zone on any non-UTC host.
    wm_str = (
        load_table(spark, sf_dir, "events")
        .agg(
            F.date_format(
                F.max("ts") - F.expr("INTERVAL 30 MINUTES"), "yyyy-MM-dd HH:mm:ss"
            ).alias("wm")
        )
        .collect()[0]["wm"]
    )
    import datetime

    wm = datetime.datetime.strptime(wm_str, "%Y-%m-%d %H:%M:%S")
    cols = ["window_start", "event_type", "n_events", "sum_value"]

    def finalized(row):
        start = datetime.datetime.strptime(row["window_start"], "%Y-%m-%d %H:%M:%S")
        return start + datetime.timedelta(hours=2) <= wm

    complete_collected = complete.collect()
    expected = sorted(
        tuple(r[c] for c in cols) for r in complete_collected if finalized(r)
    )
    got = sorted(tuple(r[c] for c in cols) for r in append.collect())
    assert got == expected
    assert len(complete_collected) > len(expected), "append mode must withhold the open tail"


def test_append_mode_drops_late_rows_and_never_resurrects_windows(
    spark, sf_dir, chunked_events_dir
):
    """Adversarial-arrival pin for the append-mode sliding counts: the
    same aggregation driven over 3 full-time-range chunks
    (maxFilesPerTrigger=1 — batches 1 and 2 are mostly LATE relative
    to the watermark batch 0 established). Exactly-once emission
    semantics under that arrival: every emitted window appeared in the
    one-shot run's finalized set with an equal-or-smaller count (late
    rows are dropped, never double-counted), no finalized window is
    re-emitted, and the fixture actually exercises lateness (at least
    one window shrank). The one-shot == oracle equality lives in the
    registered query; this pins what happens when arrival order is
    hostile, which the single-batch fixture cannot show."""
    from currency_etl_pipeline_spark.queries.streaming_queries import (
        streaming_sliding_counts_append,
    )

    one_shot = {
        (r["window_start"], r["event_type"]): r["n_events"]
        for r in streaming_sliding_counts_append(spark, sf_dir).collect()
    }

    schema = load_table(spark, sf_dir, "events").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(chunked_events_dir + "/chunk=*")
    )
    agg = (
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n_events",
        )
    )
    rows = run_stream_to_memory(agg, spark, output_mode="append").collect()
    keys = [(r["window_start"], r["event_type"]) for r in rows]
    assert len(keys) == len(set(keys)), "a finalized window was emitted twice"
    chunked = {k: r["n_events"] for k, r in zip(keys, rows)}

    assert set(chunked) <= set(one_shot), "append emitted a never-finalized window"
    assert all(chunked[k] <= one_shot[k] for k in chunked), "late rows double-counted"
    assert any(chunked[k] < one_shot[k] for k in chunked), (
        "fixture failed to exercise late-data drops"
    )


def test_land_chunked_feed_matches_per_chunk_writes(spark, sf_dir, tmp_path):
    """r15: the one-partitioned-write feed landing must land exactly the
    rows the per-chunk write loop landed — same chunk membership, same
    file schema (no __chunk column in the files), mtime ladder intact —
    and an empty chunk must still land a directory (limit(0) fallback)
    so the drive's batch count cannot change."""
    import os

    import pyarrow.parquet as papq

    from currency_etl_pipeline_spark.streaming.pipeline import land_chunked_feed

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", "text")
    )
    feed = str(tmp_path / "feed")
    os.makedirs(feed)
    land_chunked_feed(
        docs.withColumn("__chunk", F.pmod(F.hash("doc_id"), F.lit(3))), 3, feed, prefix="b"
    )
    seen = set()
    mtimes = []
    for i in range(3):
        sub = os.path.join(feed, f"b{i}")
        tbl = papq.read_table(sub)
        assert tbl.column_names == ["doc_id", "text"]  # partition col dropped
        ids = set(tbl.column("doc_id").to_pylist())
        expect = {
            r[0]
            for r in docs.filter(F.pmod(F.hash("doc_id"), F.lit(3)) == i)
            .select("doc_id")
            .collect()
        }
        assert ids == expect
        seen |= ids
        files = [f for f in os.listdir(sub) if f.endswith(".parquet")]
        assert files
        mtimes.append(max(os.path.getmtime(os.path.join(sub, f)) for f in files))
    assert seen == {r[0] for r in docs.select("doc_id").collect()}
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == 3

    # Empty-chunk fallback: chunk 1 of 2 can never match (chunk col is 0).
    feed2 = str(tmp_path / "feed2")
    os.makedirs(feed2)
    land_chunked_feed(docs.withColumn("__chunk", F.lit(0)), 2, feed2)
    t0 = papq.read_table(os.path.join(feed2, "d0"))
    assert set(t0.column("doc_id").to_pylist()) == seen
    t1 = papq.read_table(os.path.join(feed2, "d1"))
    assert t1.num_rows == 0 and t1.column_names == ["doc_id", "text"]


def test_land_chunked_feed_rejects_out_of_range_chunks(spark, tmp_path):
    """r16 (ADVICE r15): a __chunk value outside [0, n_chunks) used to
    leave its partition dir in the stage area and be rmtree'd — silent
    data loss in the fixture feed if a caller's chunk expression ever
    drifts from n_chunks. The landing must refuse instead."""
    import os

    from currency_etl_pipeline_spark.streaming.pipeline import land_chunked_feed

    feed_dir = str(tmp_path / "feed")
    os.makedirs(feed_dir)
    df = spark.createDataFrame(
        [(1, 0), (2, 1), (3, 3)], "v int, __chunk int"  # 3 is out of range
    )
    with pytest.raises(ValueError, match="outside"):
        land_chunked_feed(df, n_chunks=2, feed_dir=feed_dir)


@pytest.mark.parametrize("bad_chunk", [3, None])
def test_land_chunked_feed_refusal_is_atomic(spark, tmp_path, bad_chunk):
    """A refused feed lands nothing: an out-of-range or NULL ``__chunk``
    (the ``__HIVE_DEFAULT_PARTITION__`` dir) is detected before any
    chunk is renamed into place, the stage is deleted, and the feed
    dir holds no ``d<i>`` dirs a later drive could tail."""
    import os

    from currency_etl_pipeline_spark.streaming.pipeline import land_chunked_feed

    feed_dir = str(tmp_path / "feed")
    os.makedirs(feed_dir)
    df = spark.createDataFrame([(1, 0), (2, 1), (3, bad_chunk)], "v int, __chunk int")
    with pytest.raises(ValueError, match="outside"):
        land_chunked_feed(df, n_chunks=2, feed_dir=feed_dir)
    assert os.listdir(feed_dir) == []
