"""End-to-end EP1: API payload → explode → clean → load → warehouse,
pinning the reference semantics from SURVEY.md §5 / FIXTURES.md A1-A3:

1. newest-wins upsert incl. equal-timestamp no-update and late-arrival
   no-update (load_to_bigquery.py:102 strict `>`);
2. null-on-coercion-failure then drop (transform.py:39-41);
3. optional target filter + guards (fetch.py:33-56);
4. map→rows explode + substring/regex pair split round-trip.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from currency_etl_pipeline_spark.sources.lake import latest_file, read_zone_csv, write_zone_csv
from currency_etl_pipeline_spark.sources.rates_pipeline import (
    RATES_SCHEMA,
    prepare_for_load,
    quotes_payload_to_rates,
    transform_rates,
)
from currency_etl_pipeline_spark.sources.warehouse import Warehouse

PAYLOAD = {
    "success": True,
    "source": "GBP",
    "quotes": {
        "GBPUSD": "1.2645",
        "GBPEGP": "61.4022",
        "GBPEUR": "1.1702",
        "GBPJPY": "189.93",
        "GBPBAD": "not-a-number",  # malformed → coerce to NULL → dropped
        "GBPNUL": None,  # null rate → dropped
    },
}

T0 = "2024-03-01 10:00:00"
T1 = "2024-03-01 11:00:00"


def _batch(spark, fetched_at, quotes=None, retrieved_at=None):
    payload = dict(PAYLOAD, quotes=quotes or PAYLOAD["quotes"])
    raw = quotes_payload_to_rates(spark, payload, fetched_at=fetched_at)
    clean = transform_rates(raw, processed_at=fetched_at)
    return prepare_for_load(clean, retrieved_at=retrieved_at or fetched_at)


def test_fetch_explode_and_pair_split(spark):
    raw = quotes_payload_to_rates(spark, PAYLOAD, fetched_at=T0)
    rows = {r["pair"]: r for r in raw.collect()}
    assert len(rows) == 6
    assert rows["GBPUSD"]["base_currency"] == "GBP"
    assert rows["GBPUSD"]["target_currency"] == "USD"


def test_fetch_optional_target_filter(spark):
    raw = quotes_payload_to_rates(spark, PAYLOAD, fetched_at=T0, target_currency="EGP")
    assert raw.count() == 1
    with pytest.raises(ValueError, match="no rate found"):
        quotes_payload_to_rates(spark, PAYLOAD, fetched_at=T0, target_currency="XXX")
    with pytest.raises(ValueError, match="API error"):
        quotes_payload_to_rates(spark, {"success": False, "error": {"code": 101}}, fetched_at=T0)


def test_transform_coercion_drop(spark):
    batch = _batch(spark, T0)
    got = {r["target_currency"]: r["rate"] for r in batch.collect()}
    # malformed + null rates dropped, the 4 good ones survive
    assert got == {"USD": 1.2645, "EGP": 61.4022, "EUR": 1.1702, "JPY": 189.93}
    assert [f.name for f in batch.schema.fields] == [f.name for f in RATES_SCHEMA.fields]


def test_warehouse_newest_wins_merge(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.load_batch(_batch(spark, T0))

    # batch 2: USD newer (updates), EUR equal-ts (must NOT update),
    # JPY older/late (must NOT update), AUD new key (inserts)
    b2 = _batch(
        spark,
        T1,
        quotes={"GBPUSD": "1.3000", "GBPAUD": "1.9000"},
    ).unionByName(
        _batch(spark, T0, quotes={"GBPEUR": "9.9999"})  # equal timestamp
    ).unionByName(
        _batch(spark, "2024-03-01 09:00:00", quotes={"GBPJPY": "0.0001"})  # late
    )
    wh.upsert_current(b2)
    wh.append_historical(b2)

    cur = {r["target_currency"]: (r["rate"], r["timestamp"].isoformat()) for r in wh.current().collect()}
    assert cur["USD"] == (1.3, "2024-03-01T11:00:00")  # strictly newer → updated
    assert cur["EUR"] == (1.1702, "2024-03-01T10:00:00")  # equal ts → kept
    assert cur["JPY"] == (189.93, "2024-03-01T10:00:00")  # late → kept
    assert cur["AUD"] == (1.9, "2024-03-01T11:00:00")  # not matched → inserted
    assert cur["EGP"] == (61.4022, "2024-03-01T10:00:00")  # untouched

    # history keeps everything ever appended (append-only)
    assert wh.historical().count() == 4 + 4

    # idempotent re-upsert of the same batch changes nothing
    before = sorted(map(tuple, wh.current().collect()))
    wh.upsert_current(b2)
    assert sorted(map(tuple, wh.current().collect())) == before


def test_lake_csv_roundtrip_and_latest_file(spark, tmp_path):
    batch = _batch(spark, T0)
    zone = str(tmp_path / "clean_zone" / "b1")
    write_zone_csv(batch, zone)
    back = read_zone_csv(spark, zone, RATES_SCHEMA)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, batch.collect()))

    write_zone_csv(batch, str(tmp_path / "clean_zone" / "b2"))
    newest = latest_file(spark, str(tmp_path / "clean_zone"), glob="*.csv").collect()
    assert len(newest) == 1 and "/b" in newest[0]["path"]


def test_snapshot_store_versions_and_prune(spark, tmp_path):
    """SnapshotStore commit = one new immutable version dir + atomic
    pointer flip; old versions pruned beyond the retained window."""
    import os

    from currency_etl_pipeline_spark.sources.warehouse import SnapshotStore

    base = str(tmp_path / "snap")
    os.makedirs(base)
    store = SnapshotStore(spark, base, retain=2)
    assert not store.exists()

    for i in range(3):
        df = spark.range(5).withColumn("gen", F.lit(i))
        store.commit(df.select("id", "gen"))
        assert store.read().agg(F.max("gen")).collect()[0][0] == i

    versions = sorted(d for d in os.listdir(base) if d.startswith("v"))
    # 3 commits, retain=2 -> v1 pruned, v2+v3 remain, pointer at v3
    assert versions == ["v00000002", "v00000003"]
    with open(os.path.join(base, "_LATEST")) as fh:
        assert fh.read().strip() == "v00000003"


def test_snapshot_store_recovers_from_orphan_version(spark, tmp_path):
    """A crash between the parquet write and the pointer flip leaves an
    orphan vN+1 dir. The next commit must skip past it (max of pointer and
    on-disk dirs), not wedge on mode('error') 'path already exists'."""
    import os

    from currency_etl_pipeline_spark.sources.warehouse import SnapshotStore

    base = str(tmp_path / "snap")
    os.makedirs(base)
    store = SnapshotStore(spark, base, retain=2)
    store.commit(spark.range(3).withColumn("gen", F.lit(0)))

    # Simulate the crashed commit: v2 written, pointer still at v1.
    spark.range(3).withColumn("gen", F.lit(99)).write.parquet(
        os.path.join(base, "v00000002")
    )
    assert store.read().agg(F.max("gen")).collect()[0][0] == 0

    # Retry lands in v3 and flips the pointer; the orphan never surfaces.
    store.commit(spark.range(3).withColumn("gen", F.lit(1)))
    with open(os.path.join(base, "_LATEST")) as fh:
        assert fh.read().strip() == "v00000003"
    assert store.read().agg(F.max("gen")).collect()[0][0] == 1


def test_warehouse_adopts_legacy_current_layout(spark, tmp_path):
    """A warehouse whose current_rates/ was written by the
    pre-SnapshotStore code (parquet part-files, no _LATEST pointer)
    must be adopted, not treated as empty — the next upsert merges
    WITH the legacy rows instead of silently rebuilding from one
    batch."""
    import os

    from currency_etl_pipeline_spark.sources.warehouse import Warehouse

    base = str(tmp_path / "wh_legacy")
    legacy = _batch(spark, T0)
    # Simulate the old layout: snapshot parquet directly at current_rates/.
    legacy_path = os.path.join(base, "current_rates")
    legacy.write.parquet(legacy_path)
    assert not os.path.exists(os.path.join(legacy_path, "_LATEST"))

    wh = Warehouse(spark, base)
    # Reading adopts the legacy files as v1.
    assert sorted(map(tuple, wh.current().collect())) == sorted(map(tuple, legacy.collect()))
    assert os.path.exists(os.path.join(legacy_path, "_LATEST"))

    # And an upsert MERGES with the adopted snapshot (newer ts wins,
    # unknown keys insert) rather than starting from scratch.
    newer = _batch(spark, T1)
    wh.upsert_current(newer)
    got = {(r["base_currency"], r["target_currency"]): r["rate"] for r in wh.current().collect()}
    want = {(r["base_currency"], r["target_currency"]): r["rate"] for r in newer.collect()}
    for k, rate in want.items():
        assert got[k] == rate
    assert len(got) >= len({(r["base_currency"], r["target_currency"]) for r in legacy.collect()})


def test_rollback_refuses_torn_version(spark, tmp_path):
    """rollback must never install a version dir without a _SUCCESS
    marker — that is exactly the partially-written orphan a crashed
    commit leaves, and flipping the pointer to it would make a torn
    snapshot live."""
    import os

    from currency_etl_pipeline_spark.sources.warehouse import SnapshotStore

    base = str(tmp_path / "snap")
    os.makedirs(base)
    store = SnapshotStore(spark, base, retain=4)
    store.commit(spark.range(3).withColumn("gen", F.lit(0)))
    store.commit(spark.range(3).withColumn("gen", F.lit(1)))

    # Simulate the torn write: strip v1's completion marker.
    os.remove(os.path.join(base, "v00000001", "_SUCCESS"))
    with pytest.raises(FileNotFoundError, match="_SUCCESS"):
        store.rollback(1)
    # Pointer untouched; a pruned version still reports pruned.
    assert store.read().agg(F.max("gen")).collect()[0][0] == 1
    with pytest.raises(FileNotFoundError, match="not on disk"):
        store.rollback(7)

    # A complete retained version still rolls back fine.
    store.commit(spark.range(3).withColumn("gen", F.lit(2)))
    store.rollback(2)
    assert store.read().agg(F.max("gen")).collect()[0][0] == 1


def test_merge_into_probe_false_and_fallback_used(spark, tmp_path):
    """This container ships no delta jars: the MERGE INTO capability
    probe must report False and upsert_current must keep routing
    through the SnapshotStore rewrite (documented default)."""
    from currency_etl_pipeline_spark.sources.warehouse import (
        Warehouse,
        merge_into_available,
    )

    assert merge_into_available(spark) is False
    wh = Warehouse(spark, str(tmp_path / "wh"))
    batch = spark.createDataFrame(
        [("GBP", "USD", 1.25, "2024-01-01 00:00:00", "2024-01-01 00:00:01")],
        "base_currency string, target_currency string, rate double, timestamp string, retrieved_at string",
    ).selectExpr(
        "base_currency", "target_currency", "rate",
        "CAST(timestamp AS timestamp) AS timestamp",
        "CAST(retrieved_at AS timestamp) AS retrieved_at",
    )
    wh.upsert_current(batch)
    assert wh.current().count() == 1
    assert not (tmp_path / "wh" / "current_rates_delta").exists()


def test_compact_historical_merges_small_files(spark, tmp_path):
    """Repeated appends leave one file set per batch; compaction must
    rewrite a date partition into the target file count with zero row
    loss, leave other partitions untouched, and keep partition pruning
    intact. A mismatching rewrite must refuse before deleting."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    for i in range(4):
        wh.append_historical(
            _batch(spark, "2024-03-01 10:00:00", quotes={f"GBPX{i}": "1.5"})
        )
    wh.append_historical(_batch(spark, "2024-03-02 10:00:00", quotes={"GBPUSD": "1.2"}))
    total_before = wh.historical().count()

    before, after = wh.compact_historical("2024-03-01")
    assert before >= 4 and after == 1, f"expected 4+ files -> 1, got {before} -> {after}"
    assert wh.historical().count() == total_before, "compaction lost rows"
    # the other partition is untouched and pruning still works
    import os as _os

    assert _os.path.isdir(str(tmp_path / "wh" / "historical_rates" / "rate_date=2024-03-02"))
    pruned = spark.read.parquet(wh.historical_path).filter(F.col("rate_date") == "2024-03-01")
    assert pruned.count() == 4


def test_snapshot_store_version_diff_cdc(spark, tmp_path):
    """Versioned snapshots expose a CDC read path: diff(v1, v2) emits
    exactly the changed keys as insert/update/delete with old/new
    structs, null-safe (a value flipping to NULL is an update), and
    unchanged keys never appear."""
    from currency_etl_pipeline_spark.sources.warehouse import SnapshotStore

    store = SnapshotStore(spark, str(tmp_path / "snap"))
    v1 = spark.createDataFrame(
        [("USD", 1.0), ("EUR", 2.0), ("JPY", 3.0), ("GBP", None)],
        "ccy string, rate double",
    )
    v2 = spark.createDataFrame(
        [("USD", 1.0), ("EUR", 2.5), ("AUD", 9.0), ("GBP", 4.0)],
        "ccy string, rate double",
    )
    store.commit(v1)
    store.commit(v2)
    assert store.version() == 2
    got = {
        r["ccy"]: (r["change_type"], r["old"], r["new"])
        for r in store.diff(1, 2, ["ccy"]).collect()
    }
    assert set(got) == {"EUR", "JPY", "AUD", "GBP"}, "unchanged USD must not appear"
    assert got["EUR"][0] == "update" and got["EUR"][2]["rate"] == 2.5
    assert got["JPY"][0] == "delete" and got["JPY"][2] is None
    assert got["AUD"][0] == "insert" and got["AUD"][1] is None
    assert got["GBP"][0] == "update", "NULL -> value must register as update"
    # reverse direction flips insert/delete
    rev = {r["ccy"]: r["change_type"] for r in store.diff(2, 1, ["ccy"]).collect()}
    assert rev["JPY"] == "insert" and rev["AUD"] == "delete"


def test_delta_merge_branch_equivalence_when_available(spark, tmp_path):
    """When a Delta-enabled session IS present (delta jars + SQL
    extension), the MERGE INTO route must produce exactly the snapshot
    the operator-level fold defines: strict `>` newest-wins, equal-ts
    keeps current, unmatched inserts. Skipped in this container (no
    delta jars — probe False, see test above); the skip marker turns
    into a real equivalence gate the moment the dependency appears, so
    the ``_delta_merge`` branch never ships unproven on a lakehouse
    deployment."""
    from currency_etl_pipeline_spark.operators.upsert import (
        latest_per_key,
        upsert_newest_wins,
    )
    from currency_etl_pipeline_spark.sources.warehouse import (
        KEYS,
        Warehouse,
        merge_into_available,
    )

    if not merge_into_available(spark):
        pytest.skip("delta-spark + DeltaSparkSessionExtension not on this session")

    wh = Warehouse(spark, str(tmp_path / "whd"))
    b1 = _batch(spark, T0)
    b2 = _batch(spark, T1, quotes={"GBPUSD": "1.3000", "GBPAUD": "1.9000"}).unionByName(
        _batch(spark, T0, quotes={"GBPEUR": "9.9999"})
    )
    wh.upsert_current(b1)
    wh.upsert_current(b2)
    expected = upsert_newest_wins(
        latest_per_key(b1, KEYS, "timestamp"), b2, KEYS, "timestamp"
    )
    got = wh.current().select(*expected.columns)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, expected.collect()))


def test_sql_merge_into_verbatim_when_available(spark, tmp_path):
    """VERDICT r11 task 7 — the reference's MERGE is a SQL STATEMENT
    (load_to_bigquery.py:98-111: `MERGE target USING source ON keys
    WHEN MATCHED AND source.timestamp > target.timestamp THEN UPDATE
    WHEN NOT MATCHED THEN INSERT`); the existing equivalence test
    drives the DeltaTable API. This one runs the SQL text itself —
    the statement a reference user would paste — against a Delta
    table and checks it lands the operator-fold snapshot exactly.
    Skipped loudly here (no delta jars in this container); becomes a
    live gate the moment the extension appears."""
    from currency_etl_pipeline_spark.operators.upsert import (
        latest_per_key,
        upsert_newest_wins,
    )
    from currency_etl_pipeline_spark.sources.warehouse import (
        KEYS,
        merge_into_available,
    )

    if not merge_into_available(spark):
        pytest.skip("delta-spark + DeltaSparkSessionExtension not on this session")

    path = str(tmp_path / "sql_merge_delta")
    b1 = latest_per_key(_batch(spark, T0), KEYS, "timestamp")
    b2 = latest_per_key(
        _batch(spark, T1, quotes={"GBPUSD": "1.3000", "GBPAUD": "1.9000"}).unionByName(
            _batch(spark, T0, quotes={"GBPEUR": "9.9999"})
        ),
        KEYS,
        "timestamp",
    )
    b1.write.format("delta").save(path)
    b2.createOrReplaceTempView("sql_merge_source")
    on = " AND ".join(f"t.{k} = s.{k}" for k in KEYS)
    # The path-identifier form (delta.`<path>`) is the canonical SQL
    # target for an unregistered Delta table; MERGE rejects most view
    # targets, so no temp view on the target side.
    spark.sql(
        f"""
        MERGE INTO delta.`{path}` t
        USING sql_merge_source s
        ON {on}
        WHEN MATCHED AND s.timestamp > t.timestamp THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *
        """
    )
    expected = upsert_newest_wins(b1, b2, KEYS, "timestamp")
    got = spark.read.format("delta").load(path).select(*expected.columns)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, expected.collect()))


def test_jsonl_zone_roundtrip(spark, sf_dir, tmp_path):
    """JSONL sink/source round-trip preserves every row and value, and
    FAILFAST surfaces malformed lines instead of dropping them."""
    from currency_etl_pipeline_spark.sources.lake import read_zone_jsonl, write_zone_jsonl
    from currency_etl_pipeline_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "docs_jsonl")
    write_zone_jsonl(docs, path)
    back = read_zone_jsonl(spark, path, docs.schema)
    # Full-row comparison: a writer that mangled text/lang/n_chars must
    # fail, not just one that loses doc_ids.
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, docs.collect()))

    bad = tmp_path / "bad_jsonl"
    bad.mkdir()
    (bad / "part-0.json").write_text('{"doc_id": 1, "text": "ok"}\nnot-json\n')
    import pyspark.sql.types as T

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    with pytest.raises(Exception, match="(?i)malformed|FAILFAST"):
        read_zone_jsonl(spark, str(bad), schema).collect()


def test_jsonl_quarantine_splits_good_and_bad(spark, tmp_path):
    """The quarantine reader must deliver every valid row fully typed,
    every malformed line verbatim in the quarantine frame, and lose
    NOTHING — good + bad row counts sum to the input line count."""
    from currency_etl_pipeline_spark.sources.lake import read_zone_jsonl_quarantine

    zone = tmp_path / "mixed_jsonl"
    zone.mkdir()
    (zone / "part-0.json").write_text(
        '{"doc_id": 1, "text": "alpha"}\n'
        "this is not json\n"
        '{"doc_id": 2, "text": "beta"}\n'
        '{"doc_id": "not-a-number", "text": "gamma"}\n'
    )
    import pyspark.sql.types as T

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    good, bad, release = read_zone_jsonl_quarantine(spark, str(zone), schema)
    good_rows = {(r["doc_id"], r["text"]) for r in good.collect()}
    bad_rows = [r["corrupt_record"] for r in bad.collect()]
    release()
    assert good_rows == {(1, "alpha"), (2, "beta")}
    assert len(bad_rows) == 2, f"expected 2 quarantined lines, got {bad_rows}"
    assert any("not json" in b for b in bad_rows)
    assert any("not-a-number" in b for b in bad_rows), "type-mismatch line must quarantine"
    assert good.columns == ["doc_id", "text"], "good frame must not leak the corrupt column"


def test_delete_current_and_cdc_shows_deletes(spark, tmp_path):
    """Snapshot DELETE: the keyed anti-join removes exactly the listed
    pairs in one atomic versioned commit, and the CDC diff between the
    pre/post versions reports them as delete rows."""
    from currency_etl_pipeline_spark.sources.warehouse import KEYS

    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.load_batch(_batch(spark, T0))
    v_before = wh._store.version()
    kill = spark.createDataFrame([("GBP", "USD"), ("GBP", "JPY")], KEYS)
    assert wh.delete_current(kill) == 2
    left = {r["target_currency"] for r in wh.current().collect()}
    assert left == {"EGP", "EUR"}
    diff = wh._store.diff(v_before, wh._store.version(), KEYS)
    changes = {r["target_currency"]: r["change_type"] for r in diff.collect()}
    assert changes == {"USD": "delete", "JPY": "delete"}
    # idempotent: deleting the same keys again removes nothing
    assert wh.delete_current(kill) == 0


def test_delete_from_historical_is_exact_and_safe(spark, tmp_path):
    """Right-to-be-forgotten on the append-only history: only the
    matching rows leave the partition, everything else is untouched,
    and a no-match predicate is a no-op that rewrites nothing."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    b = _batch(spark, T0)
    wh.append_historical(b)
    n_total = wh.historical().count()

    removed = wh.delete_from_historical(
        "2024-03-01", F.col("target_currency") == "USD"
    )
    assert removed == 1
    after = wh.historical()
    assert after.count() == n_total - 1
    assert after.filter(F.col("target_currency") == "USD").count() == 0

    assert wh.delete_from_historical("2024-03-01", F.col("target_currency") == "ZZZ") == 0

    # SQL DELETE semantics: rows where the predicate is NULL are
    # RETAINED (and must not trip the count verification).
    nullrow = spark.createDataFrame(
        [("GBP", None, 1.0, "2024-03-01 12:00:00", "2024-03-01 12:00:00")],
        "base_currency string, target_currency string, rate double, timestamp string, retrieved_at string",
    ).selectExpr(
        "base_currency", "target_currency", "rate",
        "CAST(timestamp AS timestamp) AS timestamp",
        "CAST(retrieved_at AS timestamp) AS retrieved_at",
    )
    wh.append_historical(nullrow)
    n_with_null = wh.historical().count()
    assert wh.delete_from_historical("2024-03-01", F.col("target_currency") == "EUR") == 1
    after2 = wh.historical()
    assert after2.count() == n_with_null - 1
    assert after2.filter(F.col("target_currency").isNull()).count() == 1, (
        "NULL-predicate row must survive a keyed delete"
    )


def test_historical_schema_evolution_adds_column(spark, tmp_path):
    """A later batch may ADD a column: the registry sidecar unifies the
    schema, old partitions read back with NULL for the new column (no
    mergeSchema footer scan), pushdown on the new column still works,
    and a same-name/different-type batch is rejected loudly."""
    from pyspark.sql import functions as F

    from currency_etl_pipeline_spark.sources.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path))
    b1 = _batch(spark, "2024-03-01 10:00:00")
    wh.append_historical(b1)
    b2 = _batch(spark, "2024-03-02 10:00:00").withColumn("source_feed", F.lit("primary"))
    wh.append_historical(b2)

    hist = wh.historical()
    assert "source_feed" in hist.columns
    old = hist.filter(F.col("timestamp") < "2024-03-02")
    new = hist.filter(F.col("timestamp") >= "2024-03-02")
    assert old.count() == b1.count() and new.count() == b2.count()
    assert old.filter(F.col("source_feed").isNull()).count() == old.count(), (
        "pre-evolution rows must surface the new column as NULL"
    )
    assert new.filter(F.col("source_feed") == "primary").count() == new.count()

    # A column that changes type must be rejected, not coerced.
    b3 = _batch(spark, "2024-03-03 10:00:00").withColumn("source_feed", F.lit(7))
    with pytest.raises(TypeError, match="schema conflict"):
        wh.append_historical(b3)
    # The failed append must not have landed rows.
    assert wh.historical().count() == b1.count() + b2.count()


def test_currency_rates_datasource_matches_payload_path(spark, tmp_path):
    """The Python Data Source scan over a payload directory must agree
    with the single-payload entry path (quotes_payload_to_rates +
    transform + prepare_for_load) on the same data, parallelize one
    partition per payload file, and quarantine bad payloads as err rows
    instead of failing the scan."""
    import json

    from pyspark.sql import functions as F

    from currency_etl_pipeline_spark.sources.rates_datasource import (
        CurrencyRatesDataSource,
    )

    raw = tmp_path / "raw_zone"
    raw.mkdir()
    p1 = dict(PAYLOAD, fetched_at="2024-03-01 10:00:00")
    p2 = dict(PAYLOAD, fetched_at="2024-03-02 10:00:00",
              quotes={"GBPUSD": "1.27", "GBPEGP": "62.05"})
    (raw / "poll_0001.json").write_text(json.dumps(p1))
    (raw / "poll_0002.json").write_text(json.dumps(p2))
    (raw / "poll_0003.json").write_text(json.dumps({"success": False, "error": {"code": 104}}))
    (raw / "poll_0004.json").write_text("{not json")

    spark.dataSource.register(CurrencyRatesDataSource)
    df = spark.read.format("currency_rates").option("path", str(raw)).load()

    assert df.rdd.getNumPartitions() == 4, "expected one partition per payload file"
    good = df.filter(F.col("err").isNull())
    bad = {r["payload_file"]: r["err"] for r in df.filter(F.col("err").isNotNull()).collect()}
    assert set(bad) == {"poll_0003.json", "poll_0004.json"}
    assert "API error" in bad["poll_0003.json"] and "unreadable" in bad["poll_0004.json"]

    # Equivalence with the single-payload path, file by file.
    for payload, fname in ((p1, "poll_0001.json"), (p2, "poll_0002.json")):
        via_ds = prepare_for_load(
            transform_rates(
                good.filter(F.col("payload_file") == fname)
                .withColumn("timestamp", F.to_timestamp("fetched_at"))
                .select("base_currency", "pair", "rate", "target_currency", "timestamp"),
                processed_at=payload["fetched_at"],
            ),
            retrieved_at=payload["fetched_at"],
        )
        via_single = _batch(spark, payload["fetched_at"], quotes=payload["quotes"])
        assert sorted(map(tuple, via_ds.collect())) == sorted(map(tuple, via_single.collect()))


def test_compaction_preserves_evolved_columns(spark, tmp_path):
    """Regression: a partition holding files from BEFORE and AFTER a
    column was added must survive compaction (and predicate delete)
    with the evolved column intact. A plain read samples one file's
    footer — if it samples a pre-evolution file, the rewrite would
    silently drop the new column from every row (data loss). Both
    rewrite paths must read through the schema registry."""
    from pyspark.sql import functions as F

    from currency_etl_pipeline_spark.sources.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path))
    # Same rate_date for both appends → one mixed-schema partition.
    wh.append_historical(_batch(spark, "2024-03-01 09:00:00"))
    wh.append_historical(
        _batch(spark, "2024-03-01 15:00:00").withColumn("source_feed", F.lit("primary"))
    )

    before = wh.historical()
    n_before = before.count()
    n_with_feed = before.filter(F.col("source_feed") == "primary").count()
    assert n_with_feed > 0

    wh.compact_historical("2024-03-01")
    after = wh.historical()
    assert "source_feed" in after.columns
    assert after.count() == n_before
    assert after.filter(F.col("source_feed") == "primary").count() == n_with_feed, (
        "compaction dropped the evolved column's values"
    )

    # Predicate delete on the same mixed partition keeps the column too.
    deleted = wh.delete_from_historical(
        "2024-03-01", F.col("target_currency") == "USD"
    )
    assert deleted > 0
    remaining = wh.historical()
    assert "source_feed" in remaining.columns
    assert remaining.filter(F.col("source_feed") == "primary").count() > 0


def test_cross_rate_triangulation(spark):
    """Cross rates derived through the snapshot's base: every ordered
    target pair appears once, the arithmetic inverts exactly
    (X→Y == 1/(Y→X)), triangulation closes (X→Y * Y→Z == X→Z up to
    float), and the derived timestamp is the staler leg."""
    from currency_etl_pipeline_spark.sources.rates_pipeline import derive_cross_rates

    snap = _batch(spark, T0)  # GBP → USD/EGP/EUR/JPY
    cross = derive_cross_rates(snap)
    rows = {(r["from_currency"], r["to_currency"]): r for r in cross.collect()}

    targets = {"USD", "EGP", "EUR", "JPY"}
    assert set(rows) == {(x, y) for x in targets for y in targets if x != y}
    assert all(r["via"] == "GBP" for r in rows.values())

    usd_eur = rows[("USD", "EUR")]["cross_rate"]
    assert abs(usd_eur - 1.1702 / 1.2645) < 1e-12
    assert abs(rows[("EUR", "USD")]["cross_rate"] * usd_eur - 1.0) < 1e-12
    chained = rows[("USD", "EGP")]["cross_rate"] * rows[("EGP", "JPY")]["cross_rate"]
    assert abs(chained - rows[("USD", "JPY")]["cross_rate"]) < 1e-9
    assert rows[("USD", "EUR")]["timestamp"].isoformat() == "2024-03-01T10:00:00"


def test_cross_rate_dedup_inverse_keeps_one_direction(spark):
    """dedup_inverse=True keeps only the lexicographically smaller
    direction — half the pairs, each still the correct quotient."""
    from currency_etl_pipeline_spark.sources.rates_pipeline import derive_cross_rates

    snap = _batch(spark, T0)
    both = derive_cross_rates(snap)
    one = derive_cross_rates(snap, dedup_inverse=True)
    rows = {(r["from_currency"], r["to_currency"]): r for r in one.collect()}
    assert one.count() * 2 == both.count()
    assert all(f < t for f, t in rows)
    assert abs(rows[("EUR", "USD")]["cross_rate"] - 1.2645 / 1.1702) < 1e-12


def test_currency_rates_datasource_fails_loudly_on_bad_path(spark, tmp_path):
    """A missing path, an empty raw zone, or an object-store URI must
    fail the scan up front — never return a successful-looking empty
    result (ADVICE r5: a mistyped gs:// path used to collapse a whole
    backfill into one quarantine row)."""
    import json

    from currency_etl_pipeline_spark.sources.rates_datasource import (
        CurrencyRatesDataSource,
    )

    spark.dataSource.register(CurrencyRatesDataSource)

    def scan(path):
        return spark.read.format("currency_rates").option("path", path).load().collect()

    with pytest.raises(Exception, match="does not exist"):
        scan(str(tmp_path / "nowhere"))
    empty = tmp_path / "empty_zone"
    empty.mkdir()
    with pytest.raises(Exception, match="no .*json payload files"):
        scan(str(empty))
    with pytest.raises(Exception, match="POSIX paths only"):
        scan("gs://some-bucket/raw_zone")

    # A success=true payload with an empty quotes map quarantines as an
    # err row instead of vanishing silently.
    raw = tmp_path / "raw_zone"
    raw.mkdir()
    (raw / "poll_1.json").write_text(json.dumps({"success": True, "source": "GBP", "quotes": {}}))
    (raw / "poll_2.json").write_text(json.dumps({"success": True, "source": "GBP"}))
    rows = spark.read.format("currency_rates").option("path", str(raw)).load().collect()
    assert len(rows) == 2
    assert all("no quotes" in r["err"] for r in rows)


def test_clustered_compaction_prunes_row_groups(spark, tmp_path):
    """compact_historical(cluster_by=...) must turn row-group min/max
    statistics into a real pruning lever for the dominant point-lookup
    shape (T1: one currency pair's history): after a clustered rewrite,
    only the row group(s) whose [min, max] key interval contains the
    looked-up pair can match, while the append-order layout leaves
    every row group spanning the whole key domain (nothing skippable).
    Proven on the physical files via parquet footer statistics, plus
    the Spark read path: the predicate reaches the scan as a pushed
    filter and the clustered partition answers it correctly."""
    import os

    import pyarrow.parquet as pq

    from currency_etl_pipeline_spark.sources.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    # Timestamp-major generation interleaves the 40 pairs, so the
    # unclustered layout's row groups all span C00..C39.
    rows = [
        (f"C{p:02d}", "USD", round(1.0 + p + t * 1e-4, 6),
         f"2024-03-01 {t // 60:02d}:{t % 60:02d}:{t % 47:02d}")
        for t in range(250)
        for p in range(40)
    ]
    batch = spark.createDataFrame(
        rows, "base_currency string, target_currency string, rate double, ts string"
    ).select(
        "base_currency", "target_currency", "rate",
        F.to_timestamp("ts").alias("timestamp"),
    )
    wh.append_historical(batch)

    part_dir = str(tmp_path / "wh" / "historical_rates" / "rate_date=2024-03-01")

    def rg_stats():
        files = [f for f in os.listdir(part_dir) if f.endswith(".parquet")]
        assert len(files) == 1
        meta = pq.ParquetFile(os.path.join(part_dir, files[0])).metadata
        idx = {meta.schema.column(i).name: i for i in range(meta.num_columns)}
        spans = []
        for rg in range(meta.num_row_groups):
            st = meta.row_group(rg).column(idx["base_currency"]).statistics
            spans.append((st.min, st.max))
        return spans

    # Small row groups so one file holds many of them; restore after.
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    old_block, old_page = hconf.get("parquet.block.size"), hconf.get("parquet.page.size")
    hconf.set("parquet.block.size", str(32 * 1024))
    hconf.set("parquet.page.size", str(8 * 1024))
    try:
        wh.compact_historical("2024-03-01", target_files=1)
        unclustered = rg_stats()
        wh.compact_historical(
            "2024-03-01",
            target_files=1,
            cluster_by=("base_currency", "target_currency", "timestamp"),
        )
        clustered = rg_stats()
    finally:
        (hconf.set("parquet.block.size", old_block) if old_block
         else hconf.unset("parquet.block.size"))
        (hconf.set("parquet.page.size", old_page) if old_page
         else hconf.unset("parquet.page.size"))

    assert len(clustered) >= 4, (
        f"only {len(clustered)} row groups — block size knob stopped working, "
        "the pruning comparison below would be vacuous"
    )
    key = "C20"
    un_hits = sum(1 for lo, hi in unclustered if lo <= key <= hi)
    cl_hits = sum(1 for lo, hi in clustered if lo <= key <= hi)
    assert un_hits == len(unclustered), (
        "append-order row groups were unexpectedly clustered — fixture broke"
    )
    assert cl_hits <= max(2, len(clustered) // 2), (
        f"clustered layout still matches {cl_hits}/{len(clustered)} row groups"
    )
    # Sorted within ONE file: row-group key ranges must not overlap.
    for (lo1, hi1), (lo2, hi2) in zip(clustered, clustered[1:]):
        assert hi1 <= lo2, f"overlapping clustered row groups: {hi1} > {lo2}"

    # Spark read path over the clustered partition: predicate pushed to
    # the scan, and the lookup still answers correctly.
    lookup = wh.historical().filter(
        (F.col("base_currency") == key) & (F.col("target_currency") == "USD")
    )
    plan = lookup._sc._jvm.PythonSQLUtils.explainString(
        lookup._jdf.queryExecution(), "formatted"
    )
    assert "PushedFilters:" in plan and "base_currency" in plan.split("PushedFilters:")[1].split("]")[0]
    assert lookup.count() == 250


def test_clustered_append_sorts_within_files(spark, tmp_path):
    """append_historical(cluster_by=...) must land each file key-sorted
    even when one task writes MULTIPLE date partitions — the
    dynamic-partition writer's own sort on rate_date must not scramble
    the clustering (we pre-sort with rate_date leading, so the
    writer's requirement is already satisfied)."""
    import os

    import pyarrow.parquet as pq

    from currency_etl_pipeline_spark.sources.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    # Interleaved keys across TWO dates in one batch (single partition
    # -> one task writes both date dirs).
    rows = [
        (f"C{p:02d}", "USD", 1.0 + p, f"2024-03-{d:02d} 10:{p:02d}:00")
        for p in range(30)
        for d in (1, 2)
    ]
    batch = spark.createDataFrame(
        rows, "base_currency string, target_currency string, rate double, ts string"
    ).select(
        "base_currency", "target_currency", "rate",
        F.to_timestamp("ts").alias("timestamp"),
    ).repartition(1)
    wh.append_historical(batch, cluster_by=("base_currency", "target_currency"))

    for d in (1, 2):
        part = str(tmp_path / "wh" / "historical_rates" / f"rate_date=2024-03-{d:02d}")
        files = [f for f in os.listdir(part) if f.endswith(".parquet")]
        assert files
        for f in files:
            col = pq.read_table(os.path.join(part, f), columns=["base_currency"])
            vals = col.column(0).to_pylist()
            assert vals == sorted(vals), f"file {f} not key-sorted: {vals[:6]}..."


def test_zorder_compaction_prunes_on_every_dimension(spark, tmp_path):
    """Z-order vs lexicographic clustering, same partition, same row
    groups: lexicographic (base, target) prunes on base but leaves
    every row group spanning target's whole domain (a predicate on
    target alone skips nothing); Z-order tightens min/max on BOTH
    columns, so predicates on either dimension prune."""
    import os

    import pyarrow.parquet as pq

    from currency_etl_pipeline_spark.sources.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    rows = [
        (f"C{b:02d}", f"T{t:02d}", 1.0 + b + t / 100.0,
         f"2024-03-01 {(b + t) % 24:02d}:{b % 60:02d}:{t % 60:02d}")
        for b in range(32)
        for t in range(32)
        for _ in range(32)
    ]
    batch = spark.createDataFrame(
        rows, "base_currency string, target_currency string, rate double, ts string"
    ).select(
        "base_currency", "target_currency", "rate",
        F.to_timestamp("ts").alias("timestamp"),
    )
    wh.append_historical(batch)
    part_dir = str(tmp_path / "wh" / "historical_rates" / "rate_date=2024-03-01")

    def hits(col, key):
        files = [f for f in os.listdir(part_dir) if f.endswith(".parquet")]
        assert len(files) == 1
        meta = pq.ParquetFile(os.path.join(part_dir, files[0])).metadata
        idx = {meta.schema.column(i).name: i for i in range(meta.num_columns)}
        spans = [
            meta.row_group(rg).column(idx[col]).statistics
            for rg in range(meta.num_row_groups)
        ]
        return sum(1 for st in spans if st.min <= key <= st.max), meta.num_row_groups

    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    old_block, old_page = hconf.get("parquet.block.size"), hconf.get("parquet.page.size")
    hconf.set("parquet.block.size", str(8 * 1024))
    hconf.set("parquet.page.size", str(2 * 1024))
    try:
        wh.compact_historical(
            "2024-03-01", 1, cluster_by=("base_currency", "target_currency")
        )
        lex_base, n_lex = hits("base_currency", "C16")
        lex_tgt, _ = hits("target_currency", "T16")
        wh.compact_historical(
            "2024-03-01", 1, zorder_by=("base_currency", "target_currency")
        )
        z_base, n_z = hits("base_currency", "C16")
        z_tgt, _ = hits("target_currency", "T16")
    finally:
        (hconf.set("parquet.block.size", old_block) if old_block
         else hconf.unset("parquet.block.size"))
        (hconf.set("parquet.page.size", old_page) if old_page
         else hconf.unset("parquet.page.size"))

    assert n_lex >= 8 and n_z >= 6, (n_lex, n_z)
    # Lexicographic: leading key prunes hard, trailing key not at all.
    assert lex_base <= max(2, n_lex // 4), (lex_base, n_lex)
    assert lex_tgt >= n_lex * 0.9, f"lex target unexpectedly pruned: {lex_tgt}/{n_lex}"
    # Z-order: BOTH dimensions prune (measured 4/7 and 3/7 — the
    # documented tradeoff: shallower leading-key pruning than the
    # lexicographic layout, but no dimension left unprunable; the
    # fractions sharpen as row-group count grows).
    assert z_base <= n_z * 0.75, f"zorder base did not prune: {z_base}/{n_z}"
    assert z_tgt <= n_z * 0.6, f"zorder target did not prune: {z_tgt}/{n_z}"
    # mutual exclusion guard
    import pytest

    with pytest.raises(ValueError, match="mutually exclusive"):
        wh.compact_historical(
            "2024-03-01", 1, cluster_by=("base_currency",), zorder_by=("target_currency",)
        )


def test_zorder_keeps_null_key_rows(spark):
    """A NULL value in a z-ordered column is a legitimate rank — the
    null-safe rank join must keep those rows (a plain equi-join would
    silently drop them and break the compaction row-count contract)."""
    from currency_etl_pipeline_spark.sources.warehouse import zorder_within_partitions

    df = spark.createDataFrame(
        [("a", "x", 1.0), (None, "y", 2.0), ("b", None, 3.0), (None, None, 4.0)],
        "k1 string, k2 string, v double",
    )
    out = zorder_within_partitions(df, ["k1", "k2"], coalesce_to=1)
    assert sorted(r["v"] for r in out.collect()) == [1.0, 2.0, 3.0, 4.0]
    assert sorted(out.columns) == ["k1", "k2", "v"]


def test_zorder_rejects_unbounded_domain(spark):
    """The r7 hard guardrail (VERDICT r6 task 4): a column whose
    distinct domain exceeds max_domain raises — at 100 TB the
    per-column dense_rank would otherwise funnel the whole domain
    through one single-partition window task. An explicit raised cap
    re-admits the same call."""
    import pytest

    from currency_etl_pipeline_spark.sources.warehouse import zorder_within_partitions

    df = spark.range(200).select(
        (F.col("id") % 3).cast("string").alias("k1"),
        F.col("id").cast("string").alias("hicard"),
        F.col("id").cast("double").alias("v"),
    )
    with pytest.raises(ValueError, match="max_domain"):
        zorder_within_partitions(df, ["k1", "hicard"], max_domain=100)
    ok = zorder_within_partitions(df, ["k1", "hicard"], max_domain=200)
    assert ok.count() == 200


def test_unknown_scheme_fails_loudly_in_hadoop_layer(spark, tmp_path):
    """r8 flipped every store's filesystem IO to the sidecar_fs
    dispatch, so a gs:// path no longer hits a ValueError guard — it
    must instead fail LOUDLY inside the JVM Hadoop layer (no GCS
    connector on this classpath), never silently write a literal
    ./gs:/ directory and 'succeed' (the r5 failure mode the old guard
    existed for)."""
    import pytest
    from py4j.protocol import Py4JJavaError

    from currency_etl_pipeline_spark.sources.warehouse import Warehouse

    with pytest.raises(Py4JJavaError, match="(?i)no filesystem for scheme"):
        Warehouse(spark, "gs://bucket/store")
    import os

    assert not os.path.exists("gs:"), "URI path leaked into a literal local dir"


def test_warehouse_maintenance_on_hadoop_file_scheme(spark, tmp_path):
    """The warehouse's whole maintenance surface through a ``file://``
    URI — schema-registry sidecar, partition compaction swap, RTBF
    partition delete — every filesystem op riding the JVM Hadoop
    branch (VERDICT r7 task 3, second pass: not just the pointer
    sidecars but the directory-swap machinery)."""
    from currency_etl_pipeline_spark.sources.warehouse import Warehouse

    wh = Warehouse(spark, f"file://{tmp_path}/wh")
    b1 = _batch(spark, T0)
    wh.load_batch(b1)
    wh.append_historical(_batch(spark, T1, quotes={"GBPUSD": "1.3000"}))
    assert wh.historical().count() == 5

    # compaction swap over file:// (two appends -> >=2 files in the
    # partition; rewrite to 1, rows conserved)
    before, after = wh.compact_historical("2024-03-01", target_files=1)
    assert before >= 2 and after == 1
    assert wh.historical().count() == 5

    # RTBF partition rewrite over file://
    n = wh.delete_from_historical("2024-03-01", F.col("target_currency") == "USD")
    assert n == 2  # one USD row from each batch
    assert wh.historical().count() == 3
    got = {r["target_currency"] for r in wh.historical().collect()}
    assert "USD" not in got


def test_ivf_maintenance_on_hadoop_file_scheme(spark, sf_dir, tmp_path):
    """IVF cell maintenance (RTBF delete + small-files compaction +
    full recluster) through a ``file://`` index path — the cell swap
    primitive's list/delete/rename all ride the JVM Hadoop branch."""
    from currency_etl_pipeline_spark.sources.ann_index import (
        append_ivf_index,
        build_ivf_index,
        compact_ivf_index,
        delete_from_ivf_index,
        recluster_ivf_index,
        search_ivf_index,
    )
    from currency_etl_pipeline_spark.queries.vectors import _vecs

    idx = f"file://{tmp_path}/ivf"
    centroid_ids = tuple(range(20, 28))
    v = _vecs(spark, sf_dir)
    build_ivf_index(spark, sf_dir, idx, centroid_ids, vectors=v.filter(F.col("vec_id") < 300))
    n0 = spark.read.parquet(idx).count()

    # append (pure Spark IO) then compact the fragmented cells
    append_ivf_index(spark, idx, v.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 400)))
    assert spark.read.parquet(idx).count() > n0
    compact_ivf_index(spark, idx, max_files_per_cell=1)
    n1 = spark.read.parquet(idx).count()

    # RTBF delete rewrites only the victims' cells
    removed = delete_from_ivf_index(spark, idx, [5, 6, 7])
    assert removed == 3 and spark.read.parquet(idx).count() == n1 - 3

    # full recluster swaps the entire index root via the Hadoop branch
    recluster_ivf_index(spark, idx, k=4)
    assert spark.read.parquet(idx).count() == n1 - 3
    res = search_ivf_index(spark, sf_dir, idx, (0, 1, 2), centroid_ids=None, nprobe=2, k=5)
    assert res.count() > 0


def test_minhash_compaction_on_hadoop_file_scheme(spark, tmp_path):
    """MinHash tombstone compaction through ``file://``: the physical
    bands/sigs rewrite + tombstone-relation drop ride the JVM branch,
    and the compacted index answers queries tombstone-free."""
    from currency_etl_pipeline_spark.sources.dedup_index import (
        build_minhash_index,
        compact_minhash_index,
        delete_from_minhash_index,
        query_minhash_index,
    )

    uri = f"file://{tmp_path}/mh"
    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today"),
         (2, "a completely different document about query engines and columnar data")],
        "doc_id bigint, text string",
    )
    build_minhash_index(spark, corpus, uri)
    delete_from_minhash_index(spark, uri, [1])
    assert compact_minhash_index(spark, uri) == 1
    probe = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog today")],
        "doc_id bigint, text string",
    )
    assert query_minhash_index(spark, uri, probe, 0.9).isEmpty()
    # idempotent: nothing left to compact
    assert compact_minhash_index(spark, uri) == 0


def test_sidecar_fs_dispatch_and_file_uri_ops(spark, tmp_path):
    """sidecar_fs dispatches POSIX vs Hadoop on the path, and the JVM
    branch (exercised via the ``file://`` scheme — no bucket needed)
    supports the full sidecar op set with the same contract as the
    POSIX twin: missing-read -> None, atomic overwrite via FileContext
    OVERWRITE rename, recursive delete, sorted listing."""
    from currency_etl_pipeline_spark.sources.localfs import (
        _HadoopSidecarFS,
        _PosixSidecarFS,
        sidecar_fs,
    )

    assert isinstance(sidecar_fs(str(tmp_path)), _PosixSidecarFS)
    uri = f"file://{tmp_path}"
    fs = sidecar_fs(uri, spark)
    assert isinstance(fs, _HadoopSidecarFS)

    ptr = f"{uri}/_LATEST"
    assert fs.read_text(ptr) is None
    assert not fs.exists(ptr)
    fs.write_text(ptr, "v1")
    assert fs.read_text(ptr) == "v1"
    fs.write_text(ptr, "v2")  # overwrite rename, no stale .tmp left
    assert fs.read_text(ptr) == "v2"
    assert fs.is_file(ptr) and not fs.is_dir(ptr)
    assert fs.list_names(uri) == ["_LATEST"]
    assert fs.list_names(f"{uri}/absent") == []
    fs.delete(ptr)
    assert fs.read_text(ptr) is None
    # POSIX twin agrees on every op against the same directory
    pfs = sidecar_fs(str(tmp_path))
    pfs.write_text(str(tmp_path / "x"), "posix")
    assert fs.read_text(f"{uri}/x") == "posix"


def test_snapshot_store_on_hadoop_file_scheme(spark, tmp_path):
    """VERDICT r7 task 3 'Done' bar: SnapshotStore commit / read /
    time-travel / rollback / prune round-trip through a ``file://`` URI
    — every sidecar op (pointer flip, tag, version listing, prune)
    rides the JVM Hadoop FileSystem branch; the parquet IO rides
    Spark's own Hadoop layer as always."""
    from currency_etl_pipeline_spark.sources.warehouse import SnapshotStore

    store = SnapshotStore(spark, f"file://{tmp_path}/store", retain=2)
    assert not store.exists()
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    store.commit(df1, tag="epoch:t:0")
    assert store.exists() and store.version() == 1
    assert store.latest_tag() == "epoch:t:0"
    assert sorted(store.read().collect()) == sorted(df1.collect())

    df2 = spark.createDataFrame([(1, "a2"), (3, "c")], "k int, v string")
    store.commit(df2)
    assert store.version() == 2
    assert store.latest_tag() is None
    assert sorted(store.read_version(1).collect()) == sorted(df1.collect())

    store.rollback(1)
    assert store.version() == 1
    assert sorted(store.read().collect()) == sorted(df1.collect())

    # retain=2: after two more commits, v1 is outside the window
    store.commit(df2)
    store.commit(df1)
    import pytest

    with pytest.raises(FileNotFoundError, match="pruned"):
        store.read_version(1)


def test_minhash_index_sidecars_on_hadoop_file_scheme(spark, tmp_path):
    """The MinHash index's params + tombstone sidecars through
    ``file://``: build writes _params.json via the JVM branch, query
    reads it back, the tombstone anti-join probes the dir over the
    Hadoop FS — the streaming admission gate's whole dependency chain
    works against an object-store-style URI."""
    from currency_etl_pipeline_spark.sources.dedup_index import (
        build_minhash_index,
        delete_from_minhash_index,
        load_index_params,
        query_minhash_index,
    )

    uri = f"file://{tmp_path}/mhidx"
    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today")],
        "doc_id bigint, text string",
    )
    build_minhash_index(spark, corpus, uri, num_hashes=8, band_size=2)
    assert load_index_params(uri) == {"num_hashes": 8, "band_size": 2}

    probe = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog today")],
        "doc_id bigint, text string",
    )
    hits = query_minhash_index(spark, uri, probe, min_est_jaccard=0.9)
    assert [r["corpus_id"] for r in hits.collect()] == [1]

    delete_from_minhash_index(spark, uri, [1])
    assert query_minhash_index(spark, uri, probe, min_est_jaccard=0.9).isEmpty()


def test_snapshot_store_cas_commit(spark, tmp_path):
    """r9 (localfs caveat -> feature): commit(expect_version=N) is a
    compare-and-set — it installs exactly N+1 or raises
    ConcurrentCommitError having written NOTHING. Covers: happy path,
    stale expectation after an interleaved commit (the lost-update
    scenario the caveat describes), a pre-claimed slot, retry-after-
    re-read convergence, and the Hadoop file:// branch."""
    import pytest

    from currency_etl_pipeline_spark.sources.warehouse import (
        ConcurrentCommitError,
        SnapshotStore,
    )

    def snap(v):
        return spark.createDataFrame([(1, v)], "k int, x int")

    store = SnapshotStore(spark, str(tmp_path / "cas"), retain=4)
    assert store.commit(snap(1)) == 1
    # Happy path: CAS over the version the writer read.
    assert store.commit(snap(2), expect_version=1) == 2
    assert [r["x"] for r in store.read().collect()] == [2]

    # Lost-update protection: writer A read v2; writer B commits v3;
    # A's CAS must fail without writing, and v3 must stay live.
    store.commit(snap(3))  # writer B (plain commit)
    with pytest.raises(ConcurrentCommitError, match="re-read and retry"):
        store.commit(snap(99), expect_version=2)
    assert store.version() == 3
    assert [r["x"] for r in store.read().collect()] == [3]
    # Retry after re-read converges.
    assert store.commit(snap(4), expect_version=store.version()) == 4

    # Pre-claimed slot: simulate a racing claimant that grabbed v5.
    claims = tmp_path / "cas" / "_claims"
    (claims / "v00000005").write_text("")
    with pytest.raises(ConcurrentCommitError, match="claimed"):
        store.commit(snap(5), expect_version=4)
    # A plain (single-writer) commit does not consult claims and
    # advances past the stale one — the documented recovery.
    assert store.commit(snap(5)) == 5
    assert store.commit(snap(6), expect_version=5) == 6

    # Claim markers of pruned versions are swept with the versions.
    for v in range(7, 11):
        store.commit(snap(v), expect_version=v - 1)
    leftover = sorted(p.name for p in claims.iterdir())
    assert all(int(n[1:]) > store.version() - store.retain for n in leftover), leftover

    # Hadoop file:// branch: same semantics through the JVM FS.
    h = SnapshotStore(spark, f"file://{tmp_path}/cas_h", retain=4)
    assert h.commit(snap(1)) == 1
    assert h.commit(snap(2), expect_version=1) == 2
    h.commit(snap(3))
    with pytest.raises(ConcurrentCommitError):
        h.commit(snap(9), expect_version=2)
    assert h.version() == 3


def test_snapshot_store_commit_transform_occ_loop(spark, tmp_path):
    """commit_transform serializes racing read-modify-write writers:
    writer A's build races a writer-B commit (injected on A's first
    attempt); A's CAS fails, the transform re-runs against B's
    snapshot, and BOTH updates survive — the lost-update scenario the
    plain read-modify-write pattern silently corrupts."""
    from currency_etl_pipeline_spark.sources.warehouse import SnapshotStore

    base = str(tmp_path / "occ")
    store = SnapshotStore(spark, base, retain=6)
    other = SnapshotStore(spark, base, retain=6)

    # Seed through the OCC path itself (empty store -> build(None)).
    v = store.commit_transform(
        lambda cur: spark.createDataFrame([(1, 100)], "k int, x int")
    )
    assert v == 1

    calls = {"n": 0}

    def add_writer_a(cur):
        calls["n"] += 1
        if calls["n"] == 1:  # writer B sneaks in a commit mid-transform
            other.commit(other.read().union(
                spark.createDataFrame([(2, 200)], "k int, x int")
            ))
        return cur.union(spark.createDataFrame([(3, 300)], "k int, x int"))

    v = store.commit_transform(add_writer_a)
    assert calls["n"] == 2, "OCC loop did not retry after the injected race"
    assert v == 3
    got = sorted((r["k"], r["x"]) for r in store.read().collect())
    assert got == [(1, 100), (2, 200), (3, 300)], got
