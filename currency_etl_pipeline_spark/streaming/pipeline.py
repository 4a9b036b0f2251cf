"""Structured Streaming analogs of the reference's batch pipeline.

The reference provisioned Kafka+Flink but never wired them
(docker-compose.yml:136-226); its only "streaming" is a 60 s dashboard
poll (app.py:23-25). This module is the real thing (SURVEY.md §2.I):

- `events_stream`:   streaming events source with two wired branches —
  file (parquet dir, the test/CI path) and Kafka (value-JSON parsed by
  `parse_kafka_events` into the identical schema). Downstream plans
  are source-agnostic and shared verbatim between the branches.
- `windowed_rates`:  watermark + tumbling-window aggregation; late
  data beyond the watermark is dropped (the reference had no late-data
  story beyond newest-wins; we add a real one).
- `stream_upsert_snapshot`: foreachBatch → the batch MERGE rewrite
  (operators.upsert.upsert_newest_wins) — the streaming generalization
  of load_to_bigquery.py:98-111, preserving the strict
  `S.timestamp > T.timestamp` newest-wins semantic per micro-batch.

Scale notes: stateful windows shuffle on (window, key) and keep state
in the state store (RocksDB in production); watermarks bound state
size. foreachBatch upsert rewrites only the snapshot (latest-per-key ≪
event log).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from currency_etl_pipeline_spark.functions.scalars import dec
from currency_etl_pipeline_spark.operators.upsert import upsert_newest_wins
from currency_etl_pipeline_spark.tables import load_table


def _epoch_tagger(checkpoint_dir: str | None):
    """Namespaced replay guards for foreachBatch epoch commits.

    Returns ``(tag, parse, token)``, all keyed on ``ns``, a hash of the
    checkpoint location. ``tag(epoch)`` renders ``epoch:<ns>:<n>`` for
    SnapshotStore commits; ``parse(tag)`` returns the epoch int ONLY
    for tags this stream wrote — foreign or unparseable tags read as
    None ("not mine": apply, don't crash), since a store may carry tags
    from other writers. ``token(epoch)`` renders the path-safe
    ``<ns>-<n>`` commit token of ``sources/localfs.append_exactly_once``.
    Contract for both: epochs restart at 0 under a fresh checkpoint and
    land in a fresh namespace, so their batches RE-apply — a new
    checkpoint requires a new snapshot or index path.
    """
    import hashlib

    ns = hashlib.md5((checkpoint_dir or "ephemeral").encode()).hexdigest()[:8]
    prefix = f"epoch:{ns}:"

    def tag(epoch_id: int) -> str:
        return f"{prefix}{epoch_id}"

    def parse(t: str | None) -> int | None:
        if t is None or not t.startswith(prefix):
            return None
        try:
            return int(t[len(prefix):])
        except ValueError:
            return None

    def token(epoch_id: int) -> str:
        return f"{ns}-{epoch_id}"

    return tag, parse, token


def _foreach_batch(stream: DataFrame, fn, checkpoint_dir: str | None):
    """Start ``fn(batch_df, epoch_id)`` over every available
    micro-batch (``availableNow``) and return the StreamingQuery.
    Update mode: every caller commits whole batches itself, and for a
    stateless stream Spark treats update and append alike. Pass
    ``checkpoint_dir`` in production so a restart resumes from the
    last committed batch instead of reprocessing the stream."""
    writer = stream.writeStream.outputMode("update").foreachBatch(fn).trigger(availableNow=True)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def _fold_snapshot(
    spark: SparkSession,
    stream: DataFrame,
    snapshot_path: str,
    checkpoint_dir: str | None,
    retain: int,
    step,
):
    """Fold each micro-batch into the SnapshotStore at
    ``snapshot_path``: ``step(prev_or_None, batch) -> DataFrame`` maps
    the live version (None while the store is empty) and the batch to
    the next version, committed atomically with this stream's epoch
    tag. The folds are not idempotent (counts, signed deltas), so a
    replayed epoch — a crash between the commit and the checkpoint
    write — is skipped when its epoch is ``<=`` the live version's tag:
    at-least-once delivery, exactly-once state."""
    from currency_etl_pipeline_spark.sources.warehouse import SnapshotStore

    store = SnapshotStore(spark, snapshot_path, retain=retain)
    tag, parse, _token = _epoch_tagger(checkpoint_dir)

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        last = parse(store.latest_tag())
        if last is not None and epoch_id <= last:
            return  # replayed epoch already folded into the live version
        prev = store.read() if store.exists() else None
        store.commit(step(prev, batch_df), tag=tag(epoch_id))

    return _foreach_batch(stream, _apply, checkpoint_dir)


def events_schema(spark: SparkSession, sf_dir: str):
    """The events table's logical schema (post ts-conversion)."""
    return load_table(spark, sf_dir, "events").schema


def parse_kafka_events(raw: DataFrame, schema) -> DataFrame:
    """Kafka wire format → events rows: the record value is a JSON
    document with the events columns (ts as microseconds-since-epoch).
    Pure DataFrame transformation, so it applies identically to a
    ``readStream.format("kafka")`` source and to a batch DataFrame with
    the same (value binary) wire schema — which is how the branch is
    tested in a broker-less environment (tests/test_streaming.py).

    The reference provisions exactly this topology (Kafka+ZooKeeper,
    docker-compose.yml:152-192) without wiring it; here the parse is
    the only Kafka-specific stage, everything downstream (watermarks,
    windows, foreachBatch upsert) is source-agnostic."""
    import pyspark.sql.types as T

    wire = T.StructType(
        [
            T.StructField(f.name, T.LongType() if f.name == "ts" else f.dataType, True)
            for f in schema.fields
        ]
    )
    return (
        raw.select(F.from_json(F.col("value").cast("string"), wire).alias("r"))
        .select("r.*")
        .withColumn("ts", F.timestamp_micros(F.col("ts")))
    )


def events_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
    source: str = "file",
    kafka_options: dict[str, str] | None = None,
    schema=None,
) -> DataFrame:
    """Streaming events source. ``source="file"`` streams the parquet
    table (the test/CI path); ``source="kafka"`` subscribes to a topic
    (``kafka_options`` must carry ``kafka.bootstrap.servers`` and
    ``subscribe``/``assign``) and parses value-JSON into the identical
    schema — downstream plans are shared verbatim between the two
    branches. Requires the spark-sql-kafka connector on the classpath
    (not shipped in this container; the parse stage is still fully
    tested via its batch twin).

    On a brokerful deployment pass ``schema`` (the events StructType)
    explicitly — otherwise the kafka branch derives it from the local
    parquet fixture at ``path``, which only exists in test layouts."""
    if source == "kafka":
        opts = dict(kafka_options or {})
        if "kafka.bootstrap.servers" not in opts:
            raise ValueError("kafka source needs kafka.bootstrap.servers in kafka_options")
        if not ({"subscribe", "assign", "subscribePattern"} & opts.keys()):
            raise ValueError("kafka source needs one of subscribe/assign/subscribePattern")
        reader = spark.readStream.format("kafka")
        for k, v in opts.items():
            reader = reader.option(k, v)
        if schema is None:
            sf_dir = path.rsplit("/", 1)[0] if path.endswith("events.parquet") else path
            schema = events_schema(spark, sf_dir)
        return parse_kafka_events(reader.load(), schema)
    if source != "file":
        raise ValueError(f"unknown source {source!r}")
    if schema is None and path.endswith("events.parquet"):
        # RAW batch-reader schema — deliberately NOT load_table's
        # (that one has already converted a nanos-long ts to
        # TimestampType; requesting the converted type from the stream
        # reader fails on nanos-stored files). Pin the same confs
        # load_table pins, then observe what the files actually yield:
        # micros → TimestampType (streams as-is); nanos → LongType
        # (converted after the scan below).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        schema = spark.read.parquet(path).schema
    if schema is None:
        raise ValueError(
            "file-source streams require an explicit schema; pass schema= for "
            "paths that are not an events.parquet fixture"
        )
    reader = spark.readStream
    # The resolved schema is whatever the batch reader yields for the same
    # files: a micros-stored ts arrives as TimestampType and streams as-is;
    # a nanos-stored ts arrives as long (nanosAsLong) and is converted
    # after the scan — the ts unit is a property of the FILES, not of this
    # code, so the branch keys off the observed type rather than assuming.
    import pyspark.sql.types as T

    ts_is_raw_long = any(
        f.name == "ts" and isinstance(f.dataType, T.LongType) for f in schema.fields
    )
    reader = reader.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if path.endswith(".parquet") and "/" in path:
        # File-source streams require a directory: stream the parent
        # dir with a glob filter for the one table file.
        base, fname = path.rsplit("/", 1)
        reader = reader.option("pathGlobFilter", fname)
        df = reader.parquet(base)
    else:
        df = reader.parquet(path)
    if ts_is_raw_long:
        df = df.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
    return df


def windowed_rates(stream: DataFrame, window: str = "1 hour", watermark: str = "30 minutes") -> DataFrame:
    """Per-type tumbling-window counts + exact sums (DECIMAL) + avg."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec("value")).cast("double").alias("sum_value"),
        )
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
            F.round(F.col("sum_value") / F.col("n_events"), 6).alias("avg_value"),
        )
    )


def land_chunked_feed(
    feed_df: DataFrame, n_chunks: int, feed_dir: str, prefix: str = "d"
) -> None:
    """Land a chunked fixture feed with ONE Spark write job.

    ``feed_df`` carries an integer ``__chunk`` column in [0, n_chunks);
    the rows are written once via ``partitionBy("__chunk")`` and the
    partition dirs renamed to the plain ``<prefix><i>/`` layout the
    file-source drives tail (partitioned writes drop the partition
    column from the files, so the landed schema equals
    ``feed_df.drop("__chunk")``, the same rows a write per chunk
    lands). Each chunk's files get a strictly increasing mtime so
    ``maxFilesPerTrigger=1`` delivers them in chunk order. An empty
    chunk (possible only off-fixture) falls back to one limit(0) write
    so the landed dir shape — and thus the drive's batch count — is
    unchanged.

    A ``__chunk`` value outside [0, n_chunks), NULL included, is
    refused atomically: the stage is deleted and no ``<prefix><i>``
    dir is landed, so a caller's drifted chunk expression can neither
    drop rows nor leave a partial feed.
    """
    import os
    import shutil

    stage = os.path.join(feed_dir, "__stage")
    feed_df.repartition(1).write.partitionBy("__chunk").parquet(stage)
    landed = {f"__chunk={i}" for i in range(n_chunks)}
    stray = [d for d in os.listdir(stage) if d.startswith("__chunk=") and d not in landed]
    if stray:
        shutil.rmtree(stage, ignore_errors=True)
        raise ValueError(
            f"land_chunked_feed: feed rows outside [0, {n_chunks}) chunks: {sorted(stray)}"
        )
    for i in range(n_chunks):
        src = os.path.join(stage, f"__chunk={i}")
        dst = os.path.join(feed_dir, f"{prefix}{i}")
        if os.path.isdir(src):
            os.rename(src, dst)
        else:
            feed_df.filter(F.lit(False)).drop("__chunk").repartition(1).write.parquet(dst)
        for f in os.listdir(dst):
            if f.endswith(".parquet"):
                os.utime(os.path.join(dst, f), (1_000_000_000 + i * 1000,) * 2)
    shutil.rmtree(stage, ignore_errors=True)


def run_stream_to_memory(
    agg: DataFrame,
    spark: SparkSession,
    output_mode: str = "complete",
    state_partitions: int | None = None,
) -> DataFrame:
    """Drive a streaming aggregation to completion synchronously via the
    memory sink; returns the final result as a batch DataFrame.

    ``state_partitions`` scopes ``spark.sql.shuffle.partitions`` around
    ``start()`` — the moment Structured Streaming pins state
    partitioning into the checkpoint — and restores it immediately
    after (the r9 left-outer-join drive trim). Results are
    partitioning-invariant; only the per-micro-batch state-store commit
    overhead changes. Production sizes state partitions by rate; this
    knob exists for fixture-scale drives where 32 state stores per
    stateful operator are pure protocol cost.

    Single-threaded-driver assumption (ADVICE r15): the conf mutation
    is session-global for the instant between set and restore, so a
    query started CONCURRENTLY on the same session in that window
    would inherit the scoped value. Every harness in this repo drives
    streams sequentially; a concurrent driver should start the stream
    from a cloned session (spark.newSession()) instead.

    (Test/driver harness path — production would writeStream to a real
    sink with a trigger.)
    """
    name = f"stream_out_{uuid.uuid4().hex[:12]}"
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    if state_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = agg.writeStream.outputMode(output_mode).format("memory").queryName(name).start()
    finally:
        if state_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # Detach the result from the memory sink before returning (r12):
    # the named memory table otherwise lives for the whole session, so
    # a sequence driving many streams (the full-catalog bench: ~14
    # streaming entries × 3 drives each) accumulates dozens of pinned
    # row buffers — the JVM-wide mid-sequence degradation the r11
    # driver bench recorded on exactly the streaming rows. An eager
    # localCheckpoint copies the (aggregate-sized) result to
    # GC-managed executor blocks; the sink's buffer is then dropped
    # with its temp view.
    # try/finally: if the checkpoint (or the collect it triggers)
    # throws, the named view must still be dropped — leaking it is the
    # exact buffer-accumulation failure mode this detach exists to
    # close.
    try:
        out = spark.table(name).localCheckpoint(eager=True)
    finally:
        spark.catalog.dropTempView(name)
    return out


def stream_upsert_snapshot(
    spark: SparkSession,
    stream: DataFrame,
    keys: list[str],
    ts_col: str,
    snapshot_path: str,
    cols: list[str],
    tie_breakers: tuple[str, ...] = ("event_id",),
    checkpoint_dir: str | None = None,
) -> "object":
    """foreachBatch upsert: each micro-batch is deduped to its newest
    per key and merged newest-wins into the snapshot committed at
    `snapshot_path` (a SnapshotStore: immutable version dirs + atomic
    latest-pointer — the same store Warehouse.upsert_current uses).

    Everything stays distributed: the merge reads the previous version
    lazily on executors and writes the next version directly — no
    driver-side collect, so snapshot key cardinality is bounded by
    cluster storage, not driver memory. Returns the StreamingQuery
    (caller stops it); read the result via
    ``SnapshotStore(spark, snapshot_path).read()``.

    Pass ``checkpoint_dir`` in production: source offsets are then
    tracked per epoch, so a restarted query resumes from the last
    committed batch instead of reprocessing the stream. A replayed
    epoch (crash between store.commit and the checkpoint write) is
    harmless — the newest-wins merge is idempotent, so at-least-once
    delivery still yields exactly-once snapshot state.
    """
    from currency_etl_pipeline_spark.operators.upsert import latest_per_key
    from currency_etl_pipeline_spark.sources.warehouse import SnapshotStore

    store = SnapshotStore(spark, snapshot_path)
    ties = [t for t in tie_breakers if t in cols]

    def _upsert(batch_df: DataFrame, epoch_id: int) -> None:
        # Dedup BEFORE projecting to cols: tie-breakers (event_id) may
        # not survive the projection, and dropping them would make
        # equal-(key, ts) resolution partition-order-dependent. The
        # batch keeps every tie-breaker column, so the argmax is total.
        batch_ties = [t for t in tie_breakers if t in batch_df.columns]
        batch = latest_per_key(batch_df, keys, ts_col, tie_breakers=batch_ties).select(*cols)
        if store.exists():
            # updates are already unique per key; ties between current
            # and update rows at equal ts resolve to current via the
            # priority column inside upsert_newest_wins.
            new_snap = upsert_newest_wins(store.read(), batch, keys, ts_col, tie_breakers=ties)
        else:
            new_snap = batch
        store.commit(new_snap)

    return _foreach_batch(stream, _upsert, checkpoint_dir)


def stream_rollup_snapshot(
    spark: SparkSession,
    stream: DataFrame,
    snapshot_path: str,
    window: str = "1 hour",
    checkpoint_dir: str | None = None,
    retain: int = 4,
) -> "object":
    """Continuous aggregate: maintain a MATERIALIZED per-(window,
    event_type) rollup across micro-batches — the foreachBatch twin of
    ``windowed_rates`` for when the rollup must live in the lake (the
    hypertable-continuous-aggregate pattern), not a sink. ``window``
    takes any Spark window duration ('15 minutes', '1 hour', ...);
    window_start labels each bucket's inclusive start.

    Each micro-batch aggregates itself (count + exact DECIMAL sum —
    both MERGEABLE partials), then merges with the committed snapshot
    by re-aggregating the union on the group keys. Commit lands in a
    fresh SnapshotStore version (atomic pointer, crash-safe). Late
    rows simply merge into their window's row — no watermark needed
    because the store keeps all windows; bound retention by pruning
    old windows on read if required.

    Scale notes: the merge shuffles |snapshot| + |batch-partials|
    rows — window×type cardinality, not event cardinality. Returns
    the StreamingQuery; read via SnapshotStore(spark, path).read().

    Replay safety: the count/sum merge is not naturally idempotent, so
    it runs as an epoch-tagged fold (``_fold_snapshot``: the tag is
    written inside the version dir, installed atomically with the
    pointer flip, and a replayed epoch ``<=`` the live tag is a no-op)
    — each epoch merges exactly once, no manual rollback needed. The
    tag is scoped to one checkpoint lifetime (epoch ids restart at 0
    with a fresh ``checkpoint_dir``); point a fresh checkpoint at a
    fresh ``snapshot_path``.
    """
    keys = ["window_start", "event_type"]

    def _merge(prev: DataFrame | None, batch_df: DataFrame) -> DataFrame:
        part = batch_df.groupBy(
            F.date_format(F.window("ts", window).getField("start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec("value")).alias("sum_value"),
        )
        if prev is None:
            return part
        return (
            prev.unionByName(part)
            .groupBy(*keys)
            .agg(F.sum("n_events").alias("n_events"), F.sum("sum_value").alias("sum_value"))
        )

    return _fold_snapshot(spark, stream, snapshot_path, checkpoint_dir, retain, _merge)


def stream_corpus_to_lake(
    spark: SparkSession,
    sf_dir: str,
    out_path: str,
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int | None = None,
):
    """Streaming corpus ingest → lake appender: the quality gate + PII
    redaction applied per micro-batch, the REDACTED text landed in the
    lake as one immutable directory PER EPOCH (``epoch=N/lang=*``).

    Idempotency: foreachBatch is at-least-once — after a crash the
    last epoch replays. A plain append would duplicate it; here each
    epoch OVERWRITES its own ``epoch=<id>`` directory, so a replay
    converges to the identical state (the epoch dir is the commit
    unit — the same principle as SnapshotStore's immutable version
    dirs and the rollup's epoch tag). Readers see
    ``epoch``/``lang`` as partition columns: lang filters prune at
    file-listing level, and cross-delivery dedup stays a BATCH concern
    (`training_shard_prep`'s fingerprint stage), exactly as
    streaming_corpus_ingest documents.

    The lake stores text post-redaction: PII never reaches disk — the
    ingest boundary is where a training pipeline must drop it.
    """
    from currency_etl_pipeline_spark.functions.redact import pii_counts, redact_pii
    from currency_etl_pipeline_spark.queries.text import blended_quality, corpus_gate, tokens
    from currency_etl_pipeline_spark.tables import load_table

    schema = load_table(spark, sf_dir, "documents").schema
    reader = spark.readStream.schema(schema).option("pathGlobFilter", "documents.parquet")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(sf_dir)

    n_tokens = F.size(tokens())
    q = F.round(blended_quality(), 6)
    ne, np_, ni = pii_counts(F.col("text"))
    gated = (
        stream.withColumn("quality_score", q)
        .filter(corpus_gate())
        .select(
            "doc_id",
            "lang",
            "source",
            redact_pii(F.col("text")).alias("text"),
            (ne + np_ + ni).alias("pii_hits"),
            n_tokens.alias("n_tokens"),
            "quality_score",
        )
    )

    def _land(batch_df: DataFrame, epoch_id: int) -> None:
        (
            batch_df.write.mode("overwrite")
            .partitionBy("lang")
            .parquet(f"{out_path}/epoch={epoch_id}")
        )

    return _foreach_batch(gated, _land, checkpoint_dir)


def stream_cdc_rollup(
    spark: SparkSession,
    cdc_stream: DataFrame,
    snapshot_path: str,
    group_keys,
    value_col: str,
    checkpoint_dir: str | None = None,
    retain: int = 4,
):
    """Continuously-maintained materialized rollup WITH RETRACTIONS.

    Structured Streaming's built-in aggregations cannot retract: an
    append-mode agg only ever adds, and update mode still cannot
    un-count a deleted row. A CDC feed (``snapshot_diff`` schema)
    carries updates and deletes, so the standard streaming aggs cannot
    consume it. This closes the gap the same way the other continuous
    aggregates do — ``foreachBatch`` — but the per-batch step is
    ``delta_apply_rollup``: each micro-batch of change rows lands on
    the committed (n, Σx, Σx²) snapshot as SIGNED contributions
    (insert +, delete −, update −old +new), and the result commits as
    a new SnapshotStore version (atomic pointer).

    Replay safety: commits are epoch-tagged exactly like
    ``stream_rollup_snapshot`` — a replayed micro-batch after a crash
    between commit and checkpoint is a no-op, so each CDC batch
    applies exactly once (signed deltas are NOT idempotent; the tag is
    what makes at-least-once delivery safe). The tag is NAMESPACED to
    this stream's checkpoint (``epoch:<ns>:<n>``): SnapshotStore tags
    are opaque and other writers may have committed arbitrary tags, so
    an unparseable or foreign tag is treated as "not mine" (apply, do
    not crash) rather than int()-ed (ADVICE r7 finding 4). Corollary,
    documented contract: restarting with a FRESH checkpoint against an
    existing store is a different namespace — its epochs re-apply, so
    a new checkpoint requires a new ``snapshot_path`` (or an explicit
    rebuild), exactly like any other at-least-once signed-delta sink.

    Scale: per batch this shuffles |batch changes| + |rollup| rows —
    group cardinality, never snapshot cardinality; the snapshot the
    CDC describes is never read (the delta_apply contract).

    Returns the StreamingQuery; read via
    ``SnapshotStore(spark, snapshot_path).read()``.
    """
    from currency_etl_pipeline_spark.operators.incremental import delta_apply_rollup

    keys = list(group_keys)
    return _fold_snapshot(
        spark,
        cdc_stream,
        snapshot_path,
        checkpoint_dir,
        retain,
        lambda prev, batch_df: delta_apply_rollup(prev, batch_df, keys, value_col),
    )


def stream_cdc_distinct(
    spark: SparkSession,
    cdc_stream: DataFrame,
    snapshot_path: str,
    group_keys,
    key_col: str,
    checkpoint_dir: str | None = None,
    retain: int = 4,
):
    """Continuously-maintained EXACT distinct counts under deletes —
    the streaming twin of ``cdc_distinct_maintenance``, completing the
    incremental family's symmetry (rollup: batch+stream; distinct:
    batch+stream). Each micro-batch of ``snapshot_diff`` change rows
    lands on the committed SUPPORT multiset via
    ``delta_apply_distinct`` (old witness −1, new witness +1,
    zero-multiplicity rows dropped) and commits as a new SnapshotStore
    version. No built-in streaming aggregation can express this: a
    streaming COUNT(DISTINCT) cannot retract, and an HLL register
    cannot forget.

    Chunk-order safety: multiplicity deltas are exact integers and the
    mult>0 drop loses nothing (a dropped bucket re-enters through the
    full-outer merge), so signed contributions commute across
    micro-batch boundaries — any chunking of the CDC history converges
    to the same support relation.

    Replay safety: namespaced epoch tags, exactly like
    ``stream_cdc_rollup`` (signed deltas are not idempotent). Read the
    counts via ``distinct_count_report(SnapshotStore(...).read(), …)``.

    Scale: per batch, |batch changes| + |support| rows; the snapshot
    the CDC describes is never read.
    """
    from currency_etl_pipeline_spark.operators.incremental import delta_apply_distinct

    keys = list(group_keys)
    return _fold_snapshot(
        spark,
        cdc_stream,
        snapshot_path,
        checkpoint_dir,
        retain,
        lambda prev, batch_df: delta_apply_distinct(prev, batch_df, keys, key_col),
    )


def stream_minhash_ingest(
    spark: SparkSession,
    doc_stream: DataFrame,
    index_path: str,
    accepted_path: str,
    min_est_jaccard: float = 0.5,
    checkpoint_dir: str | None = None,
    exact_chains: bool = False,
):
    """Streaming near-dup ADMISSION gate against the materialized
    MinHash index — the dedup twin of ``stream_append_ivf_index``,
    closing the loop VERDICT r6 flagged: the live ingest
    (``stream_corpus_to_lake``) gated on quality only; the batch
    ``query_minhash_index`` answered "is this batch a near-dup of the
    accepted corpus?" but nothing wired it into the poll-loop ingest
    the reference runs continuously (app.py:23-25's 60 s refresh is
    exactly a repeated admission decision).

    Per micro-batch of (doc_id, text, …) rows:
    1. batch docs near-dupping the ACCEPTED CORPUS (band probe +
       signature compare vs the persisted index, est_jaccard ≥
       threshold) are rejected;
    2. batch docs near-dupping a LOWER-id doc in the SAME batch are
       rejected (pairwise rule — the same a<b keeper convention as
       minhash_lsh_near_dup; a chain a~b~c where only b crosses the
       corpus bar can diverge from strictly-sequential per-doc
       admission, the documented approximation). ``exact_chains=True``
       opts into strict sequential fidelity: LSH-connected components
       over the within-batch candidate pairs
       (``operators.graph.connected_components``), then a per-component
       greedy in id order where a doc is rejected only by the corpus or
       by an already-ADMITTED neighbor — on the a~b~c chain above, b
       falls to the corpus and c is admitted (b was never admitted),
       where the pairwise rule wrongly drops c. Components are bounded
       by the micro-batch, so the per-component pandas greedy is
       bounded too; the CC supersteps add latency per batch, which is
       why the pairwise rule stays the default;
    3. survivors land in ``accepted_path/epoch=<n>/`` (overwrite —
       idempotent commit unit) and their bands/signatures append to
       the index's ``bands/`` and ``sigs/``, so the NEXT batch is
       checked against corpus ∪ everything admitted so far.

    Replay protocol: each epoch commits through
    ``sources/localfs.append_exactly_once`` with token
    ``<checkpoint-ns>-<epoch>``; steps 1-3 run inside its stage step,
    AFTER the purge, so a replay of a crashed epoch decides against
    the clean committed index, re-lands the same accepted rows and
    installs their bands/signatures exactly once. A committed epoch's
    replay is a no-op.

    Scale: per batch the work is batch shingling (map-side) + two
    bounded equi-joins against the index (AQE broadcasts the batch
    side) + the batch×batch self-join (micro-batch-sized). The corpus
    text is never re-read. Returns the StreamingQuery.

    Parallelism (guide §2.5 "input skew — one huge unsplittable
    file"): a micro-batch arrives as however many files the trigger
    picked up — often ONE — so without a spread the whole
    shingle+minhash pass runs on a single scan task. When the batch's
    scan parallelism is below the session's defaultParallelism, the
    hash INPUT is repartitioned to defaultParallelism first (one narrow
    (doc_id, text) shuffle of the micro-batch; the decision joins and
    the landed batch rows are unchanged). Batches already as parallel
    as the session skip the shuffle.
    """
    from currency_etl_pipeline_spark.sources.dedup_index import (
        doc_signature_tables,
        load_index_params,
        minhash_cross_candidates,
        query_minhash_index,
    )
    from currency_etl_pipeline_spark.sources.localfs import append_exactly_once

    _tag, _parse, token = _epoch_tagger(checkpoint_dir)

    def _stage(batch_df: DataFrame, epoch_id: int, stage: str) -> None:
        batch = batch_df.persist()
        pinned = [batch]
        try:
            docs = batch.select("doc_id", "text")
            # Spread an under-parallel micro-batch (see docstring). Probe
            # the PERSISTED batch: the trivial select shares its
            # partitioning, and probing the derived frame re-plans it.
            par = spark.sparkContext.defaultParallelism
            if batch.rdd.getNumPartitions() < par:
                docs = docs.repartition(par)
            p = load_index_params(index_path)
            bb, bs = doc_signature_tables(docs, p["num_hashes"], p["band_size"])
            # Three consumers per epoch (corpus probe, within-batch check,
            # staged index rows): hash the batch once, not thrice.
            bb, bs = bb.persist(), bs.persist()
            pinned += [bb, bs]
            vs_corpus = query_minhash_index(
                spark, index_path, docs, min_est_jaccard, batch_tables=(bb, bs)
            ).select(F.col("batch_id").alias("doc_id"))
            pairs = minhash_cross_candidates(
                bb, bs, bb, bs, p["num_hashes"], min_est_jaccard
            ).filter(F.col("batch_id") > F.col("corpus_id"))
            if exact_chains:
                from currency_etl_pipeline_spark.operators.dedup import (
                    sequential_admission_pandas,
                )
                from currency_etl_pipeline_spark.operators.graph import (
                    connected_components,
                )

                edges = pairs.select(
                    F.col("corpus_id").alias("a"), F.col("batch_id").alias("b")
                ).persist()
                pinned.append(edges)
                comp = connected_components(edges, "a", "b")
                rej_flags = vs_corpus.select(
                    F.col("doc_id").alias("node"), F.lit(1).alias("rej")
                )
                node_rows = (
                    comp.join(rej_flags, "node", "left")
                    .select(
                        "component",
                        F.col("node").alias("a"),
                        F.lit(None).cast("long").alias("b"),
                        F.coalesce("rej", F.lit(0)).alias("rej"),
                    )
                )
                edge_rows = edges.join(
                    comp.withColumnRenamed("node", "a"), "a"
                ).select("component", "a", "b", F.lit(0).alias("rej"))
                chain_admitted = (
                    node_rows.unionByName(edge_rows)
                    .groupBy("component")
                    .applyInPandas(sequential_admission_pandas, "doc_id long")
                )
                # Docs in no candidate pair gate on the corpus alone.
                trivially_admitted = (
                    docs.select("doc_id")
                    .join(comp.select(F.col("node").alias("doc_id")), "doc_id", "left_anti")
                    .join(vs_corpus, "doc_id", "left_anti")
                )
                accepted = batch.join(
                    trivially_admitted.unionByName(chain_admitted), "doc_id", "leftsemi"
                )
            else:
                within = pairs.select(F.col("batch_id").alias("doc_id"))
                rejected = vs_corpus.union(within).distinct()
                accepted = batch.join(rejected, "doc_id", "left_anti")
            epoch_dir = f"{accepted_path}/epoch={epoch_id}"
            accepted.write.mode("overwrite").parquet(epoch_dir)
            # Index rows keyed by the LANDED ids (one deterministic source),
            # so the admitted set and the index stay in lockstep. The
            # persisted batch hash tables semi-joined on those ids are
            # byte-equal to re-hashing the landed text (a pure function of
            # text+params). Explicit schema: an all-rejected epoch dir has
            # no part files, which inference would refuse.
            landed_ids = spark.read.schema(batch.schema).parquet(epoch_dir).select("doc_id")
            for sub, rel in (("bands", bb), ("sigs", bs)):
                staged = rel.join(landed_ids, "doc_id", "leftsemi")
                staged.write.mode("overwrite").parquet(f"{stage}/{sub}")
        finally:
            for df in pinned:
                df.unpersist()

    def _admit(batch_df: DataFrame, epoch_id: int) -> None:
        append_exactly_once(
            spark, index_path, token(epoch_id), lambda stage: _stage(batch_df, epoch_id, stage)
        )

    return _foreach_batch(doc_stream, _admit, checkpoint_dir)


def stream_append_ivf_index(
    spark: SparkSession,
    vec_stream: DataFrame,
    index_path: str,
    checkpoint_dir: str | None = None,
):
    """Streaming maintenance of the materialized IVF index: each
    micro-batch of (vec_id, label, v) rows is assigned against the
    index's frozen sidecar centroids and appended as new files inside
    the cid= partitions (``sources/ann_index.append_ivf_index``) — the
    live-ingest half of the index lifecycle, with drift
    (``centroid_drift_report``) deciding when to retrain. The append
    detects the index's layout (float dv vs SQ8 qv) from its schema,
    so streaming into an SQ8 index quantizes each batch instead of
    corrupting it with mixed-schema rows (ADVICE r7 finding 3).

    Replay protocol (EXACTLY-ONCE, no table format needed): each epoch
    lands through ``append_ivf_index_exactly_once`` with token
    ``<checkpoint-ns>-<epoch>`` — staged write → deterministic-name
    install into the cid= partitions → conditional-create commit
    marker ``_commits/<token>`` (``sources/localfs.append_exactly_once``).
    A crash before the marker makes the replay purge and reinstall the
    same file names; a crash after it makes the replay a no-op.

    Returns the StreamingQuery.
    """
    from currency_etl_pipeline_spark.sources.ann_index import (
        append_ivf_index_exactly_once,
    )

    _tag, _parse, token = _epoch_tagger(checkpoint_dir)

    def _append(batch_df: DataFrame, epoch_id: int) -> None:
        append_ivf_index_exactly_once(spark, index_path, batch_df, token=token(epoch_id))

    return _foreach_batch(vec_stream, _append, checkpoint_dir)


def stream_append_semdedup_index(
    spark: SparkSession,
    vec_stream: DataFrame,
    index_path: str,
    checkpoint_dir: str | None = None,
):
    """Live SemDeDup admission: each micro-batch of (vec_id, label, v)
    rows is admitted against the kept semantic corpus
    (``sources/semdedup_index.admit_semdedup_batch_exactly_once``) —
    the streaming half of the embedding-dedup ingest loop, mirroring
    ``stream_minhash_ingest``'s text-side gate. Earlier epochs' ADMITTED
    rows block later epochs' duplicates (the sequential greedy carries
    across micro-batches because each epoch's admissions land before
    the next epoch's check). Admission order is ARRIVAL order — each
    epoch's rows extend the persisted ``seq`` column (r11; ids may be
    arbitrary). The API fail-louds on id hygiene instead: duplicate or
    NULL ids within a batch, or a batch id already kept in the batch's
    own cells.

    Replay protocol: identical to ``stream_append_ivf_index`` — the
    exactly-once commit token ``<checkpoint-ns>-<epoch>``; admission
    decisions are recomputed AFTER the purge on a crashed replay, so
    they reproduce against the clean committed state. Returns the
    StreamingQuery.
    """
    from currency_etl_pipeline_spark.sources.semdedup_index import (
        admit_semdedup_batch_exactly_once,
    )

    _tag, _parse, token = _epoch_tagger(checkpoint_dir)

    def _admit(batch_df: DataFrame, epoch_id: int) -> None:
        admit_semdedup_batch_exactly_once(spark, index_path, batch_df, token=token(epoch_id))

    return _foreach_batch(vec_stream, _admit, checkpoint_dir)


def stream_token_counts(
    spark: SparkSession,
    doc_stream: DataFrame,
    snapshot_path: str,
    checkpoint_dir: str | None = None,
    retain: int = 4,
):
    """Continuously-maintained per-token occurrence counts over a
    document stream — the streaming half of the vocabulary-drift
    monitor (``streaming_token_drift`` composes this store against the
    static reference half and scores with the batch chi-square).

    Each micro-batch tokenizes its documents (the catalog tokenizer),
    counts per token, and ADDS onto the committed (tok, b) snapshot —
    additive merge, so any chunking of the corpus lands on identical
    final counts (integer sums commute). Commits are epoch-tagged in
    this stream's checkpoint namespace exactly like
    ``stream_cdc_rollup``: counts are not idempotent, the tag is what
    makes at-least-once delivery exactly-once.

    Scale: per batch this shuffles |batch vocabulary| rows plus the
    |store| rows of the running union — vocabulary-sized (Heaps' law),
    never corpus-sized; document text never enters the store.
    """
    from currency_etl_pipeline_spark.queries.text import tokens

    def _add(prev: DataFrame | None, batch_df: DataFrame) -> DataFrame:
        counts = (
            batch_df.filter(F.col("text").isNotNull())
            .select(F.explode(tokens()).alias("tok"))
            .groupBy("tok")
            .agg(F.count(F.lit(1)).cast("long").alias("b"))
        )
        if prev is None:
            return counts
        return prev.unionByName(counts).groupBy("tok").agg(F.sum("b").cast("long").alias("b"))

    return _fold_snapshot(spark, doc_stream, snapshot_path, checkpoint_dir, retain, _add)
