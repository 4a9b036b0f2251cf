"""operators/incremental.py: CDC delta-apply == full recompute, across
multi-commit SnapshotStore histories (seeded-random property test) and
the group-migration / zero-count edge cases."""

from __future__ import annotations

import random

import pytest

from pyspark.sql import functions as F

from currency_etl_pipeline_spark.operators.incremental import (
    algebraic_rollup,
    delta_apply_rollup,
    refresh_join_view,
)
from currency_etl_pipeline_spark.operators.upsert import snapshot_diff
from currency_etl_pipeline_spark.sources.warehouse import SnapshotStore

_SCHEMA = "k bigint, grp string, x double"


def _rollup_rows(df):
    return sorted(
        ((r["grp"], r["n"], str(r["sum_x"]), str(r["sum_x2"])) for r in df.collect()),
        key=repr,  # grp may legitimately be None (NULL group)
    )


def _random_snapshot(rng, keys):
    groups = ["a", "b", "c"]
    return [
        (k, rng.choice(groups), round(rng.uniform(-50, 50), 2)) for k in sorted(keys)
    ]


def test_multi_commit_delta_apply_equals_recompute(spark, tmp_path):
    """Across a random 6-commit history (keys churn in and out, groups
    migrate, values change), the rollup maintained purely from
    SnapshotStore.diff CDC feeds must equal the from-scratch rollup of
    every committed version, bit-for-bit (DECIMAL partials)."""
    rng = random.Random(20260814)
    store = SnapshotStore(spark, str(tmp_path / "snap"), retain=10)

    universe = list(range(40))
    keys = set(rng.sample(universe, 25))
    store.commit(spark.createDataFrame(_random_snapshot(rng, keys), _SCHEMA))
    maintained = algebraic_rollup(store.read(), ["grp"], "x")

    for step in range(5):
        # churn: drop some keys, add some, rewrite some values
        keys -= set(rng.sample(sorted(keys), rng.randint(1, 6)))
        keys |= set(rng.sample(universe, rng.randint(1, 6)))
        store.commit(spark.createDataFrame(_random_snapshot(rng, keys), _SCHEMA))
        v = store.version()
        cdc = store.diff(v - 1, v, ["k"])
        maintained = delta_apply_rollup(maintained, cdc, ["grp"], "x")
        # pin the lineage so the next iteration doesn't replay the chain
        maintained = spark.createDataFrame(
            maintained.collect(), maintained.schema
        )
        assert _rollup_rows(maintained) == _rollup_rows(
            algebraic_rollup(store.read(), ["grp"], "x")
        ), f"diverged from recompute at commit {step + 2}"


def test_delta_apply_drops_emptied_group_and_handles_migration(spark):
    """A group whose last row is deleted disappears (matching groupBy
    semantics), and an update that moves a row between groups lands as
    -1/+1 on the two groups."""
    v1 = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 5.0)], _SCHEMA
    )
    # key 3's group b empties; key 2 migrates a -> c; key 4 inserts into c
    v2 = spark.createDataFrame(
        [(1, "a", 10.0), (2, "c", 20.0), (4, "c", 7.0)], _SCHEMA
    )
    out = delta_apply_rollup(
        algebraic_rollup(v1, ["grp"], "x"), snapshot_diff(v1, v2, ["k"]), ["grp"], "x"
    )
    assert _rollup_rows(out) == _rollup_rows(algebraic_rollup(v2, ["grp"], "x"))
    got = {r["grp"]: r["n"] for r in out.collect()}
    assert got == {"a": 1, "c": 2}, got


def test_delta_apply_empty_cdc_is_identity(spark):
    v1 = spark.createDataFrame([(1, "a", 1.5), (2, "b", -2.0)], _SCHEMA)
    prev = algebraic_rollup(v1, ["grp"], "x")
    out = delta_apply_rollup(prev, snapshot_diff(v1, v1, ["k"]), ["grp"], "x")
    assert _rollup_rows(out) == _rollup_rows(prev)


# --- incremental IVF index maintenance (sources/ann_index.py) -------------

CENTROID_IDS = tuple(range(20, 28))
QUERY_IDS = (0, 1, 2)
_SPLIT = 400  # vec_id < _SPLIT is the "historical" build corpus


def _index_files(spark, path):
    # Keyed by FULL path: partitionBy writes the same part-file basename
    # into every cid= dir, so basenames collide across partitions.
    return set(spark.read.parquet(path).inputFiles())


def _search_rows(spark, sf_dir, path):
    from currency_etl_pipeline_spark.sources.ann_index import search_ivf_index

    return sorted(
        map(
            tuple,
            search_ivf_index(
                spark, sf_dir, path, QUERY_IDS, CENTROID_IDS, nprobe=2, k=5
            ).collect(),
        )
    )


def test_ivf_append_equals_rebuild(spark, sf_dir, tmp_path):
    """build(base) + append(rest) must be logically identical to a full
    rebuild — same assignment rule against the same frozen centroids —
    so searching either index returns the same rows bit-for-bit. The
    append must be file-level additive: every parquet file of the base
    build survives untouched (new vectors land as NEW files inside the
    cid= partition dirs)."""
    import os

    from currency_etl_pipeline_spark.queries.vectors import _vecs
    from currency_etl_pipeline_spark.sources.ann_index import (
        append_ivf_index,
        build_ivf_index,
    )

    v = _vecs(spark, sf_dir)
    full = str(tmp_path / "ivf_full")
    inc = str(tmp_path / "ivf_inc")
    build_ivf_index(spark, sf_dir, full, CENTROID_IDS)
    build_ivf_index(
        spark, sf_dir, inc, CENTROID_IDS, vectors=v.filter(F.col("vec_id") < _SPLIT)
    )
    base_files = {
        f: os.path.getsize(f.removeprefix("file:"))
        for f in _index_files(spark, inc)
    }
    append_ivf_index(spark, inc, v.filter(F.col("vec_id") >= _SPLIT))

    after = _index_files(spark, inc)
    for f, size in base_files.items():
        assert f in after, f"append rewrote/removed base file {f}"
        assert os.path.getsize(f.removeprefix("file:")) == size
    assert len(after) > len(base_files), "append landed no new files"

    got, expect = _search_rows(spark, sf_dir, inc), _search_rows(spark, sf_dir, full)
    assert got == expect, "appended index diverged from full rebuild"


def test_ivf_sq8_append_equals_rebuild(spark, sf_dir, tmp_path):
    """Same contract for the int8-coded index: append quantizes with
    the same scale rule, so search (probe + exact re-rank) matches the
    full rebuild row-for-row."""
    from currency_etl_pipeline_spark.queries.vectors import _vecs
    from currency_etl_pipeline_spark.sources.ann_index import (
        append_ivf_index,
        build_ivf_sq8_index,
        search_ivf_sq8_index,
    )

    v = _vecs(spark, sf_dir)
    full = str(tmp_path / "sq8_full")
    inc = str(tmp_path / "sq8_inc")
    build_ivf_sq8_index(spark, sf_dir, full, CENTROID_IDS)
    build_ivf_sq8_index(
        spark, sf_dir, inc, CENTROID_IDS, vectors=v.filter(F.col("vec_id") < _SPLIT)
    )
    append_ivf_index(spark, inc, v.filter(F.col("vec_id") >= _SPLIT), sq8=True)

    def rows(path):
        return sorted(
            map(
                tuple,
                search_ivf_sq8_index(
                    spark, sf_dir, path, QUERY_IDS, CENTROID_IDS, nprobe=2, k=5
                ).collect(),
            )
        )

    assert rows(inc) == rows(full)


def test_ivf_append_detects_layout_and_rejects_mismatch(spark, sf_dir, tmp_path):
    """Layout safety (ADVICE r7 finding 3): append with the default
    flag against an SQ8 index must auto-detect and quantize (no mixed
    dv/qv schema), and an EXPLICIT contradictory flag must raise on
    both layouts instead of null-padding every subsequent read."""
    import pytest

    from currency_etl_pipeline_spark.queries.vectors import _vecs
    from currency_etl_pipeline_spark.sources.ann_index import (
        append_ivf_index,
        build_ivf_index,
        build_ivf_sq8_index,
    )

    v = _vecs(spark, sf_dir)
    head, tail = v.filter(F.col("vec_id") < _SPLIT), v.filter(F.col("vec_id") >= _SPLIT)

    sq8_idx = str(tmp_path / "sq8_detect")
    build_ivf_sq8_index(spark, sf_dir, sq8_idx, CENTROID_IDS, vectors=head)
    append_ivf_index(spark, sq8_idx, tail)  # default flag: detect SQ8
    got = spark.read.parquet(sq8_idx)
    assert set(got.columns) == {"vec_id", "label", "qv", "cid"}, got.columns
    assert got.filter(F.col("qv").isNull()).count() == 0, "mixed-schema append"

    with pytest.raises(ValueError, match="layout mismatch"):
        append_ivf_index(spark, sq8_idx, tail, sq8=False)

    dv_idx = str(tmp_path / "dv_detect")
    build_ivf_index(spark, sf_dir, dv_idx, CENTROID_IDS, vectors=head)
    with pytest.raises(ValueError, match="layout mismatch"):
        append_ivf_index(spark, dv_idx, tail, sq8=True)

    # r8 hardening: a batch whose carried-through column TYPES differ
    # from the index (string label into an int-label index) must raise
    # — parquet appends don't unify schemas, and the poisoned cell only
    # explodes later when a maintenance rewrite materializes the column.
    bad = tail.withColumn("label", F.col("label").cast("string"))
    with pytest.raises(ValueError, match="schema mismatch"):
        append_ivf_index(spark, dv_idx, bad)


def test_ivf_appended_index_recall_floor(spark, sf_dir, tmp_path):
    """Recall vs the exact cosine top-5 must hold on an index that grew
    by appends — the 'done' bar for incremental maintenance: appends
    against frozen centroids don't silently degrade the index below
    its build-time recall (measured: identical to the full build by
    construction; floor matches test_ivf_trained_recall's logic)."""
    from currency_etl_pipeline_spark.queries.registry import all_queries
    from currency_etl_pipeline_spark.queries.vectors import _vecs
    from currency_etl_pipeline_spark.sources.ann_index import (
        append_ivf_index,
        build_ivf_index,
    )

    v = _vecs(spark, sf_dir)
    inc = str(tmp_path / "ivf_inc")
    build_ivf_index(
        spark, sf_dir, inc, CENTROID_IDS, vectors=v.filter(F.col("vec_id") < _SPLIT)
    )
    append_ivf_index(spark, inc, v.filter(F.col("vec_id") >= _SPLIT))
    got = {(r[0], r[1]) for r in _search_rows(spark, sf_dir, inc)}

    exact = all_queries()["cosine_topk_bruteforce"].spark(spark, sf_dir).collect()
    per_query: dict = {}
    top5 = set()
    for r in sorted(exact, key=lambda r: (r["query_id"], -r["cos_sim"], r["vec_id"])):
        per_query.setdefault(r["query_id"], 0)
        if per_query[r["query_id"]] < 5:
            per_query[r["query_id"]] += 1
            top5.add((r["query_id"], r["vec_id"]))
    recall = len(got & top5) / len(top5)
    assert recall >= 0.4, f"appended-index recall collapsed: {recall:.3f}"


def test_ivf_append_preserves_partition_pruning(spark, sf_dir, tmp_path):
    """Appended files land inside cid= partition dirs, so the probed
    cid IN-list must still reach the scan as a PartitionFilter and
    cover strictly fewer cells than the index holds."""
    import re

    from currency_etl_pipeline_spark.queries.vectors import _vecs
    from currency_etl_pipeline_spark.sources.ann_index import (
        append_ivf_index,
        build_ivf_index,
        search_ivf_index,
    )
    from tests.test_scale_plans import plan_of

    v = _vecs(spark, sf_dir)
    inc = str(tmp_path / "ivf_inc")
    build_ivf_index(
        spark, sf_dir, inc, CENTROID_IDS, vectors=v.filter(F.col("vec_id") < _SPLIT)
    )
    append_ivf_index(spark, inc, v.filter(F.col("vec_id") >= _SPLIT))
    all_cids = {
        re.search(r"cid=(\d+)", f).group(1)
        for f in spark.read.parquet(inc).inputFiles()
    }
    res = search_ivf_index(spark, sf_dir, inc, QUERY_IDS, CENTROID_IDS, nprobe=2, k=5)
    m = re.search(r"PartitionFilters: \[[^\]]*cid#\d+ IN \(([\d,]+)\)", plan_of(res))
    assert m, "cid filter did not reach the appended index's scan"
    assert set(m.group(1).split(",")) < all_cids


def test_centroid_drift_flags_only_shifted_cells(spark, sf_dir, tmp_path):
    """The drift metric must move ONLY for cells that received appends:
    land a batch of far-from-centroid vectors into one cell and (a)
    that cell's drift strictly grows, (b) every other cell's drift is
    bit-identical to the pre-append report (fixed-point means), and
    (c) with a threshold between the two readings, recluster flips
    True for exactly the shifted cell."""
    from currency_etl_pipeline_spark.sources.ann_index import (
        append_ivf_index,
        build_ivf_index,
        centroid_drift_report,
        load_index_centroids,
    )

    idx = str(tmp_path / "ivf_drift")
    build_ivf_index(spark, sf_dir, idx, CENTROID_IDS)
    before = {r["cid"]: r["drift"] for r in centroid_drift_report(spark, idx).collect()}

    # A batch pulling ONE cell's mean AWAY from its centroid: many
    # copies of the index's most peripheral member (globally lowest
    # cosine to its own centroid). A copy of a member assigns to the
    # member's cell by the deterministic rule, and flooding the cell
    # with its own worst outlier drags the mean toward it — drift must
    # grow. The probe collects ONE row; centroids are k rows.
    from currency_etl_pipeline_spark.queries.vectors import cosine

    idx_df = spark.read.parquet(idx)
    worst = (
        idx_df.join(F.broadcast(load_index_centroids(spark, idx)), "cid")
        .select("cid", "dv", cosine(F.col("dv"), F.col("cv")).alias("csim"))
        .orderBy(F.col("csim").asc(), F.col("cid").asc())
        .limit(1)
        .collect()[0]
    )
    tcell, outlier = worst["cid"], list(worst["dv"])
    n_copies = 2 * idx_df.filter(F.col("cid") == tcell).count()
    batch = spark.createDataFrame(
        [(10_000 + i, outlier, 999) for i in range(n_copies)],
        "vec_id bigint, v array<double>, label int",
    ).select("vec_id", "label", "v")
    append_ivf_index(spark, idx, batch)

    landed = [
        r["cid"]
        for r in spark.read.parquet(idx)
        .filter(F.col("vec_id") >= 10_000)
        .select("cid")
        .distinct()
        .collect()
    ]
    assert landed == [tcell], f"outlier copies landed in {landed}, expected [{tcell}]"

    after = {r["cid"]: r["drift"] for r in centroid_drift_report(spark, idx).collect()}
    assert after[tcell] > before[tcell], (
        f"drift did not grow for the shifted cell: {before[tcell]} -> {after[tcell]}"
    )
    for cid in before:
        if cid != tcell:
            assert after[cid] == before[cid], (
                f"cell {cid} drifted without appends: {before[cid]} -> {after[cid]}"
            )

    # A threshold between the shifted cell's two readings flags it —
    # and flags exactly the cells whose (unchanged) drift also exceeds
    # that line, i.e. recluster is a pure function of the drift column.
    thresh = (before[tcell] + after[tcell]) / 2
    report = centroid_drift_report(spark, idx, threshold=thresh).collect()
    flagged = {r["cid"] for r in report if r["recluster"]}
    assert tcell in flagged, "shifted cell not flagged for recluster"
    assert flagged == {r["cid"] for r in report if r["drift"] > thresh}


# --- materialized MinHash dedup index (sources/dedup_index.py) ------------


def _docs(spark, sf_dir):
    from currency_etl_pipeline_spark.tables import load_table

    return load_table(spark, sf_dir, "documents").select("doc_id", "text")


def _q_rows(df):
    return sorted(map(tuple, df.collect()))


def test_minhash_index_build_query_matches_inplan_twin(spark, sf_dir, tmp_path):
    """build(corpus) + query(batch) against the materialized index must
    reproduce the filesystem-free catalog twin row-for-row — the same
    hash pipeline, only the corpus side now comes from persisted
    bands/signatures instead of re-hashed text."""
    from currency_etl_pipeline_spark.queries.registry import all_queries
    from currency_etl_pipeline_spark.sources.dedup_index import (
        build_minhash_index,
        query_minhash_index,
    )

    docs = _docs(spark, sf_dir)
    idx = str(tmp_path / "mh_index")
    build_minhash_index(spark, docs.filter(F.col("doc_id") < 400), idx)
    got = _q_rows(
        query_minhash_index(
            spark, idx, docs.filter(F.col("doc_id") >= 400), min_est_jaccard=0.5
        )
    )
    twin = _q_rows(
        all_queries()["minhash_index_batch_dedup"].spark(spark, sf_dir)
    )
    assert got == twin and len(got) > 0


def test_minhash_index_append_equals_rebuild_and_admits_batches(spark, sf_dir, tmp_path):
    """The incremental lifecycle: build on an initial corpus, APPEND an
    admitted batch, query the next batch. Results must equal a full
    rebuild over corpus∪batch1 (same params, pure hash pipeline), the
    appended docs must be live as corpus members (the batch2 check
    finds near-dups against batch1 ids too), and the base build's
    files must survive untouched."""
    import os

    from currency_etl_pipeline_spark.sources.dedup_index import (
        build_minhash_index,
        append_minhash_index,
        query_minhash_index,
    )

    docs = _docs(spark, sf_dir)
    inc = str(tmp_path / "mh_inc")
    full = str(tmp_path / "mh_full")
    build_minhash_index(spark, docs.filter(F.col("doc_id") < 300), inc)
    base_files = {
        f: os.path.getsize(f.removeprefix("file:"))
        for sub in ("bands", "sigs")
        for f in spark.read.parquet(f"{inc}/{sub}").inputFiles()
    }
    append_minhash_index(
        spark, inc, docs.filter((F.col("doc_id") >= 300) & (F.col("doc_id") < 400))
    )
    for f, size in base_files.items():
        assert os.path.getsize(f.removeprefix("file:")) == size, f"append touched {f}"

    build_minhash_index(spark, docs.filter(F.col("doc_id") < 400), full)
    batch2 = docs.filter(F.col("doc_id") >= 400)
    got = _q_rows(query_minhash_index(spark, inc, batch2, min_est_jaccard=0.5))
    expect = _q_rows(query_minhash_index(spark, full, batch2, min_est_jaccard=0.5))
    assert got == expect and len(got) > 0
    # the appended batch is really corpus now: some matches point at it
    assert any(300 <= corpus_id < 400 for _, corpus_id, _ in got), (
        "no match against appended docs — append not live in the index"
    )


def test_minhash_index_rejects_param_drift(spark, sf_dir, tmp_path):
    """Appends and queries hash with the INDEX's persisted parameters,
    never caller-supplied ones — killing the silent corruption where a
    batch hashed with different num_hashes/band_size can never match
    existing bands. The params sidecar must exist and round-trip."""
    from currency_etl_pipeline_spark.sources.dedup_index import (
        build_minhash_index,
        load_index_params,
    )

    docs = _docs(spark, sf_dir)
    idx = str(tmp_path / "mh_params")
    build_minhash_index(
        spark, docs.filter(F.col("doc_id") < 100), idx, num_hashes=4, band_size=2
    )
    assert load_index_params(idx) == {"num_hashes": 4, "band_size": 2}


# --- join-view refresh (operators/incremental.refresh_join_view) ----------

_F_SCHEMA = "k bigint, amt double"
_D_SCHEMA = "k bigint, color string"


def _view_rows(df):
    return sorted(map(tuple, df.collect()))


def test_refresh_join_view_insert_update_delete(spark):
    """All three CDC classes against an inner fact⋈dim view: an
    updated dim rewrites its rows' attributes, a deleted dim drops its
    rows, and an INSERTED dim key makes previously-dangling facts
    appear — each derived purely from the CDC feed, and the result
    equals the from-scratch join against v2."""
    facts = spark.createDataFrame(
        [(k, float(10 * k + i)) for k in range(1, 7) for i in range(2)], _F_SCHEMA
    )
    v1 = spark.createDataFrame(
        [(1, "red"), (2, "blue"), (3, "green"), (4, "cyan"), (5, "pink")], _D_SCHEMA
    )
    # k=2 deleted, k=3 recolored, k=6 inserted (its facts were dangling)
    v2 = spark.createDataFrame(
        [(1, "red"), (3, "BLACK"), (4, "cyan"), (5, "pink"), (6, "gold")], _D_SCHEMA
    )
    old_view = facts.join(v1, "k").select("k", "amt", "color")
    out = refresh_join_view(
        old_view, facts, snapshot_diff(v1, v2, ["k"]), "k", ["color"]
    )
    assert _view_rows(out) == _view_rows(facts.join(v2, "k").select("k", "amt", "color"))
    got = {r["k"] for r in out.collect()}
    assert 2 not in got and 6 in got
    assert {r["color"] for r in out.collect() if r["k"] == 3} == {"BLACK"}


def test_refresh_join_view_empty_cdc_is_identity(spark):
    facts = spark.createDataFrame([(1, 5.0), (2, 6.0)], _F_SCHEMA)
    v1 = spark.createDataFrame([(1, "red"), (2, "blue")], _D_SCHEMA)
    view = facts.join(v1, "k").select("k", "amt", "color")
    out = refresh_join_view(view, facts, snapshot_diff(v1, v1, ["k"]), "k", ["color"])
    assert _view_rows(out) == _view_rows(view)


def test_ivf_delete_rewrites_only_affected_cells(spark, sf_dir, tmp_path):
    """RTBF deletes: removed ids disappear from search, the rewrite
    touches ONLY the cells that contained them (other cells' files are
    byte-identical), and the removed-row count is exact."""
    import os

    from currency_etl_pipeline_spark.sources.ann_index import (
        build_ivf_index,
        delete_from_ivf_index,
        search_ivf_index,
    )

    idx = str(tmp_path / "ivf_del")
    build_ivf_index(spark, sf_dir, idx, CENTROID_IDS)
    n_total = spark.read.parquet(idx).count()
    # Delete the exact top hits of query 0 so the search visibly changes.
    pre = search_ivf_index(spark, sf_dir, idx, (0,), CENTROID_IDS, nprobe=2, k=3)
    victims = [r["vec_id"] for r in pre.collect()]
    assert len(victims) == 3
    victim_cells = {
        r["cid"]
        for r in spark.read.parquet(idx)
        .filter(F.col("vec_id").isin(*victims))
        .select("cid")
        .distinct()
        .collect()
    }
    untouched_before = {
        f: os.path.getsize(f.removeprefix("file:"))
        for f in _index_files(spark, idx)
        if not any(f"cid={c}/" in f for c in victim_cells)
    }

    removed = delete_from_ivf_index(spark, idx, victims)
    assert removed == 3
    assert spark.read.parquet(idx).count() == n_total - 3
    left = spark.read.parquet(idx).filter(F.col("vec_id").isin(*victims)).count()
    assert left == 0, "deleted ids still present in the index"
    post_ids = {
        r["vec_id"]
        for r in search_ivf_index(
            spark, sf_dir, idx, (0,), CENTROID_IDS, nprobe=2, k=3
        ).collect()
    }
    assert not (post_ids & set(victims)), "search still returns deleted vectors"
    for f, size in untouched_before.items():
        assert os.path.getsize(f.removeprefix("file:")) == size, (
            f"delete rewrote an unaffected cell file: {f}"
        )


def test_ivf_delete_empty_list_is_noop(spark, sf_dir, tmp_path):
    from currency_etl_pipeline_spark.sources.ann_index import (
        build_ivf_index,
        delete_from_ivf_index,
    )

    idx = str(tmp_path / "ivf_del_noop")
    build_ivf_index(spark, sf_dir, idx, CENTROID_IDS)
    before = _index_files(spark, idx)
    assert delete_from_ivf_index(spark, idx, []) == 0
    assert _index_files(spark, idx) == before


def test_ivf_delete_staging_dir_invisible_to_readers(spark, sf_dir, tmp_path):
    """Crash-safety of the RTBF rewrite: the per-cell staging dir lives
    UNDER the index root but with a leading underscore, so a crash
    between the tmp write and the swap leaves a dir that partition
    discovery ignores — no string-typed cid, no double-read survivors
    (ADVICE r7 finding 2: the old ``cid=<n>__delete_tmp`` name was
    parsed as a cid value by whole-root readers)."""
    from currency_etl_pipeline_spark.sources.ann_index import build_ivf_index

    idx = str(tmp_path / "ivf_del_crash")
    build_ivf_index(spark, sf_dir, idx, CENTROID_IDS)
    base = spark.read.parquet(idx)
    n_total = base.count()
    assert dict(base.dtypes)["cid"] == "int"
    # Simulate a crash mid-delete: a fully-written staging dir for cell
    # 0 (a duplicate copy of its survivors) abandoned under the root.
    cell0 = spark.read.parquet(f"{idx}/cid=0")
    cell0.limit(5).write.parquet(f"{idx}/_delete_tmp_cid0")
    after = spark.read.parquet(idx)
    assert after.count() == n_total, "abandoned staging dir leaked into reads"
    assert dict(after.dtypes)["cid"] == "int", "cid type degraded by staging dir"


def test_delta_apply_handles_null_group_key(spark):
    """groupBy treats NULL as a real group; the maintenance join must
    line the NULL group's delta up with its prev row (null-safe keys)
    instead of emitting two half-merged rows."""
    v1 = spark.createDataFrame([(1, None, 2.0), (2, None, 3.0), (3, "a", 1.0)], _SCHEMA)
    v2 = spark.createDataFrame([(1, None, 2.0), (3, "a", 1.0), (4, None, 5.0)], _SCHEMA)
    out = delta_apply_rollup(
        algebraic_rollup(v1, ["grp"], "x"), snapshot_diff(v1, v2, ["k"]), ["grp"], "x"
    )
    assert _rollup_rows(out) == _rollup_rows(algebraic_rollup(v2, ["grp"], "x"))
    nulls = [r for r in out.collect() if r["grp"] is None]
    assert len(nulls) == 1 and nulls[0]["n"] == 2, nulls


def test_minhash_index_tombstone_delete_and_compaction(spark, sf_dir, tmp_path):
    """RTBF on the dedup index: tombstoned corpus docs stop matching
    immediately (anti-join, no rewrite), and compaction applies the
    tombstones physically — row counts shrink by exactly the dead ids'
    rows, the tombstone relation disappears, and query results are
    unchanged before vs after compaction."""
    import os

    from currency_etl_pipeline_spark.sources.dedup_index import (
        build_minhash_index,
        compact_minhash_index,
        delete_from_minhash_index,
        query_minhash_index,
    )

    docs = _docs(spark, sf_dir)
    idx = str(tmp_path / "mh_rtbf")
    build_minhash_index(spark, docs.filter(F.col("doc_id") < 400), idx)
    batch = docs.filter(F.col("doc_id") >= 400)
    before = _q_rows(query_minhash_index(spark, idx, batch, min_est_jaccard=0.5))
    assert before, "fixture lost its cross-split matches"
    victims = sorted({corpus_id for _, corpus_id, _ in before})[:2]

    delete_from_minhash_index(spark, idx, victims)
    soft = _q_rows(query_minhash_index(spark, idx, batch, min_est_jaccard=0.5))
    assert soft == [r for r in before if r[1] not in victims], (
        "tombstoned docs still matching (or unrelated rows changed)"
    )

    bands_rows = spark.read.parquet(f"{idx}/bands").count()
    dead_band_rows = (
        spark.read.parquet(f"{idx}/bands").filter(F.col("doc_id").isin(victims)).count()
    )
    assert compact_minhash_index(spark, idx) == len(victims)
    assert not os.path.isdir(f"{idx}/tombstones")
    assert spark.read.parquet(f"{idx}/bands").count() == bands_rows - dead_band_rows
    assert _q_rows(query_minhash_index(spark, idx, batch, min_est_jaccard=0.5)) == soft
    # idempotent: nothing left to apply
    assert compact_minhash_index(spark, idx) == 0


def test_ivf_recluster_restores_quantizer_health(spark, sf_dir, tmp_path):
    """The lifecycle loop closes: recluster_ivf_index retrains the
    coarse quantizer on the index population and rewrites the index —
    row count preserved, drift collapsing (trained centers track cell
    means, unlike corpus-exemplar centroids), and search against the
    new SIDECAR quantizer keeps the exact-top-5 recall floor."""
    from currency_etl_pipeline_spark.queries.registry import all_queries
    from currency_etl_pipeline_spark.sources.ann_index import (
        build_ivf_index,
        centroid_drift_report,
        recluster_ivf_index,
        search_ivf_index,
    )

    idx = str(tmp_path / "ivf_recluster")
    build_ivf_index(spark, sf_dir, idx, CENTROID_IDS)
    n = spark.read.parquet(idx).count()
    drift_before = {
        r["cid"]: r["drift"] for r in centroid_drift_report(spark, idx).collect()
    }

    recluster_ivf_index(spark, idx, k=8)
    assert spark.read.parquet(idx).count() == n
    drift_after = [r["drift"] for r in centroid_drift_report(spark, idx).collect()]
    assert max(drift_after) < min(drift_before.values()), (
        f"recluster did not improve quantizer fit: before {drift_before}, "
        f"after {drift_after}"
    )

    got = {
        (r["query_id"], r["vec_id"])
        for r in search_ivf_index(
            spark, sf_dir, idx, QUERY_IDS, centroid_ids=None, nprobe=2, k=5
        ).collect()
    }
    exact = all_queries()["cosine_topk_bruteforce"].spark(spark, sf_dir).collect()
    per_query: dict = {}
    top5 = set()
    for r in sorted(exact, key=lambda r: (r["query_id"], -r["cos_sim"], r["vec_id"])):
        per_query.setdefault(r["query_id"], 0)
        if per_query[r["query_id"]] < 5:
            per_query[r["query_id"]] += 1
            top5.add((r["query_id"], r["vec_id"]))
    recall = len(got & top5) / len(top5)
    assert recall >= 0.4, f"post-recluster recall collapsed: {recall:.3f}"


def test_multi_commit_join_view_refresh_equals_recompute(spark, tmp_path):
    """Across a random 4-commit dim history (keys churn, attributes
    rewrite), the view maintained purely from SnapshotStore.diff feeds
    must equal the from-scratch fact⋈dim join at every commit."""
    rng = random.Random(20260815)
    store = SnapshotStore(spark, str(tmp_path / "dims"), retain=10)
    facts = spark.createDataFrame(
        [(k, float(100 * k + i)) for k in range(30) for i in range(3)], _F_SCHEMA
    )
    colors = ["red", "blue", "green", "gold"]

    def snap(keys):
        return [(k, rng.choice(colors)) for k in sorted(keys)]

    keys = set(rng.sample(range(30), 18))
    store.commit(spark.createDataFrame(snap(keys), _D_SCHEMA))
    view = facts.join(store.read(), "k").select("k", "amt", "color")
    for step in range(3):
        keys -= set(rng.sample(sorted(keys), rng.randint(1, 5)))
        keys |= set(rng.sample(range(30), rng.randint(1, 5)))
        store.commit(spark.createDataFrame(snap(keys), _D_SCHEMA))
        v = store.version()
        view = refresh_join_view(
            view, facts, store.diff(v - 1, v, ["k"]), "k", ["color"]
        )
        view = spark.createDataFrame(view.collect(), view.schema)  # pin lineage
        assert _view_rows(view) == _view_rows(
            facts.join(store.read(), "k").select("k", "amt", "color")
        ), f"diverged from recompute at commit {step + 2}"


def test_sq8_drift_report_reads_code_layout(spark, sf_dir, tmp_path):
    """centroid_drift_report must also work over the int8-coded layout
    (codes preserve per-row direction, so the code-mean drift is the
    documented proxy): one row per cell, counts covering the non-zero
    corpus, drift finite and rounded."""
    from currency_etl_pipeline_spark.sources.ann_index import (
        build_ivf_sq8_index,
        centroid_drift_report,
    )

    idx = str(tmp_path / "sq8_drift")
    build_ivf_sq8_index(spark, sf_dir, idx, CENTROID_IDS)
    rows = centroid_drift_report(spark, idx).collect()
    assert len(rows) == len(set(r["cid"] for r in rows)) > 2
    assert sum(r["n"] for r in rows) == spark.read.parquet(idx).count()
    for r in rows:
        assert r["drift"] is not None and 0.0 <= r["drift"] <= 2.0, r


def test_minhash_index_bucketed_table_variant(spark, sf_dir, tmp_path):
    """The bucketed-table index must return exactly the path-based
    index's rows, and its corpus-side scans must be genuinely
    co-located: the bands/sigs bucketed scans report bucketing and the
    plan carries FEWER exchanges than the path-based variant (whose
    corpus sides must shuffle for the same joins)."""
    from currency_etl_pipeline_spark.sources.dedup_index import (
        build_minhash_index,
        build_minhash_index_table,
        query_minhash_index,
        query_minhash_index_table,
    )
    from tests.test_scale_plans import plan_of

    docs = _docs(spark, sf_dir)
    corpus = docs.filter(F.col("doc_id") < 400)
    batch = docs.filter(F.col("doc_id") >= 400)

    path_idx = str(tmp_path / "mh_path")
    build_minhash_index(spark, corpus, path_idx)
    build_minhash_index_table(spark, corpus, "mh_tbl_test")
    try:
        tbl = query_minhash_index_table(spark, "mh_tbl_test", batch, 0.5)
        pathq = query_minhash_index(spark, path_idx, batch, 0.5)
        assert _q_rows(tbl) == _q_rows(pathq) and len(_q_rows(tbl)) > 0

        # Bucketing pays off in the SORT-MERGE regime (a batch too big
        # to broadcast — the backfill case). At test scale AQE
        # broadcasts the batch side everywhere, which hides the index
        # side's shuffle in BOTH variants, so disable broadcast to
        # compare the layouts' real shuffle obligations.
        orig = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            tplan = plan_of(query_minhash_index_table(spark, "mh_tbl_test", batch, 0.5))
            pplan = plan_of(query_minhash_index(spark, path_idx, batch, 0.5))
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", orig)
        assert "Bucketed: true" in tplan, "bucketed scans not recognized"
        assert tplan.count("Exchange") < pplan.count("Exchange"), (
            f"bucketing saved no exchanges: {tplan.count('Exchange')} vs "
            f"{pplan.count('Exchange')}"
        )
    finally:
        for t in ("mh_tbl_test_bands", "mh_tbl_test_sigs", "mh_tbl_test_params"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_minhash_index_table_append_equals_rebuild(spark, sf_dir):
    """The bucketed-table index's r7 append path: build(corpus) +
    append(batch) must be relation-equal to a one-shot build over
    corpus∪batch, answer an incremental query identically, and KEEP
    the bucketed layout (appended rows land in matching Murmur3
    buckets, so the no-Exchange scan contract survives)."""
    from currency_etl_pipeline_spark.sources.dedup_index import (
        append_minhash_index_table,
        build_minhash_index_table,
        query_minhash_index_table,
    )
    from tests.test_scale_plans import plan_of

    docs = _docs(spark, sf_dir)
    corpus = docs.filter(F.col("doc_id") < 300)
    mid = docs.filter((F.col("doc_id") >= 300) & (F.col("doc_id") < 400))
    probe = docs.filter(F.col("doc_id") >= 400)

    def rel(prefix):
        b = sorted(map(tuple, spark.table(f"{prefix}_bands").collect()))
        s = sorted(
            (r["doc_id"], tuple(r["sig"]))
            for r in spark.table(f"{prefix}_sigs").collect()
        )
        return b, s

    try:
        build_minhash_index_table(spark, corpus, "mh_tbl_inc")
        append_minhash_index_table(spark, "mh_tbl_inc", mid)
        build_minhash_index_table(spark, corpus.unionByName(mid), "mh_tbl_full")
        assert rel("mh_tbl_inc") == rel("mh_tbl_full"), (
            "table append diverged from rebuild"
        )
        got = _q_rows(query_minhash_index_table(spark, "mh_tbl_inc", probe, 0.5))
        want = _q_rows(query_minhash_index_table(spark, "mh_tbl_full", probe, 0.5))
        assert got == want and len(got) > 0
        orig = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            plan = plan_of(query_minhash_index_table(spark, "mh_tbl_inc", probe, 0.5))
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", orig)
        assert "Bucketed: true" in plan, "append lost the bucketed layout"
    finally:
        for p in ("mh_tbl_inc", "mh_tbl_full"):
            for t in (f"{p}_bands", f"{p}_sigs", f"{p}_params"):
                spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_multi_commit_comoment_delta_apply_equals_recompute(spark, tmp_path):
    """Co-moment partials maintained purely from CDC feeds across a
    random 5-commit history must equal the from-scratch co-moment
    rollup at every commit — closing covariance/correlation under
    churn, not just sums."""
    from currency_etl_pipeline_spark.operators.incremental import (
        comoment_rollup,
        delta_apply_comoments,
    )

    rng = random.Random(20260816)
    store = SnapshotStore(spark, str(tmp_path / "snap"), retain=10)
    schema = "k bigint, grp string, x double, y double"

    def snap(keys):
        return [
            (k, rng.choice(["a", "b"]), round(rng.uniform(-20, 20), 2),
             round(rng.uniform(-5000, 5000), 2))
            for k in sorted(keys)
        ]

    def rows(df):
        return sorted(
            (
                (r["grp"], r["n"], str(r["sum_x"]), str(r["sum_y"]),
                 str(r["sum_xx"]), str(r["sum_yy"]), str(r["sum_xy"]))
                for r in df.collect()
            ),
            key=repr,
        )

    keys = set(rng.sample(range(40), 22))
    store.commit(spark.createDataFrame(snap(keys), schema))
    maintained = comoment_rollup(store.read(), ["grp"], "x", "y")
    for step in range(4):
        keys -= set(rng.sample(sorted(keys), rng.randint(1, 6)))
        keys |= set(rng.sample(range(40), rng.randint(1, 6)))
        store.commit(spark.createDataFrame(snap(keys), schema))
        v = store.version()
        maintained = delta_apply_comoments(
            maintained, store.diff(v - 1, v, ["k"]), ["grp"], "x", "y"
        )
        maintained = spark.createDataFrame(maintained.collect(), maintained.schema)
        assert rows(maintained) == rows(
            comoment_rollup(store.read(), ["grp"], "x", "y")
        ), f"diverged at commit {step + 2}"


def test_distinct_support_multi_commit_matches_recompute(spark):
    """Delete-aware distinct maintenance across THREE chained commits:
    after each CDC application the support relation and the distinct
    counts must equal the from-scratch derivation of that version.
    Exercises: a delete that decrements a multiplicity WITHOUT losing
    the bucket (two witnesses, one leaves), a delete that eliminates a
    bucket (last witness leaves), key migration between groups, an
    update that moves a row between buckets, and a NULL bucket
    (one support row — counted as one distinct value)."""
    from currency_etl_pipeline_spark.operators.incremental import (
        delta_apply_distinct,
        distinct_count_report,
        distinct_support,
    )
    from currency_etl_pipeline_spark.operators.upsert import snapshot_diff

    schema = "k bigint, grp string, b bigint"
    versions = [
        # (row key, group, bucket)
        [(1, "a", 10), (2, "a", 10), (3, "a", 20), (4, "b", 10), (5, "b", None)],
        # delete 2 (bucket 10 keeps witness 1), delete 3 (bucket 20
        # dies), 4 migrates b->a (b loses bucket 10, a gains witness)
        [(1, "a", 10), (4, "a", 10), (5, "b", None)],
        # 1 moves bucket 10->30; insert 6 re-creating b/10; delete 5
        # (NULL bucket dies)
        [(1, "a", 30), (4, "a", 10), (6, "b", 10)],
    ]
    dfs = [spark.createDataFrame(v, schema) for v in versions]

    def rows(df):
        return sorted((tuple(r) for r in df.collect()), key=repr)  # b may be None

    support = distinct_support(dfs[0], ["grp"], "b")
    assert rows(support) == rows(distinct_support(dfs[0], ["grp"], "b"))
    for i in range(1, len(dfs)):
        cdc = snapshot_diff(dfs[i - 1], dfs[i], ["k"]).localCheckpoint(eager=True)
        support = delta_apply_distinct(support, cdc, ["grp"], "b").localCheckpoint(
            eager=True
        )
        assert rows(support) == rows(distinct_support(dfs[i], ["grp"], "b")), (
            f"support diverged from recompute at version {i}"
        )
        got = rows(distinct_count_report(support, ["grp"]))
        want = rows(
            dfs[i].groupBy("grp").agg(F.countDistinct("b").alias("d"),
                                      F.max(F.col("b").isNull().cast("int")).alias("hasnull"))
            .select("grp", (F.col("d") + F.col("hasnull")).alias("n_distinct"))
        )
        assert got == want, f"distinct counts diverged at version {i}"
    # mid-chain spot checks of the narrative above
    v1 = {(r[0], r[1]): r[2] for r in rows(distinct_support(dfs[1], ["grp"], "b"))}
    assert v1[("a", 10)] == 2 and ("a", 20) not in v1 and ("b", 10) not in v1


def test_ivf_compaction_shrinks_cells_preserving_search(spark, sf_dir, tmp_path):
    """compact_ivf_index (r7): after appends fragment the cells, the
    compaction must (a) bring every cell to <= the file budget, (b)
    preserve rows and search results bit-for-bit, (c) be idempotent
    (second run compacts nothing), and (d) reject object-store URIs."""
    import pytest

    from currency_etl_pipeline_spark.queries.vectors import _vecs
    from currency_etl_pipeline_spark.sources.ann_index import (
        append_ivf_index,
        build_ivf_index,
        compact_ivf_index,
    )

    v = _vecs(spark, sf_dir)
    idx = str(tmp_path / "ivf_compact")
    build_ivf_index(
        spark, sf_dir, idx, CENTROID_IDS, vectors=v.filter(F.col("vec_id") < _SPLIT)
    )
    # two appends fragment the touched cells
    append_ivf_index(
        spark, idx, v.filter((F.col("vec_id") >= _SPLIT) & (F.col("vec_id") < 450))
    )
    append_ivf_index(spark, idx, v.filter(F.col("vec_id") >= 450))

    def files_per_cell():
        from collections import Counter

        c = Counter()
        for f in spark.read.parquet(idx).inputFiles():
            c[f.split("/cid=")[1].split("/")[0]] += 1
        return c

    assert max(files_per_cell().values()) > 1, "appends did not fragment"
    before_rows = _search_rows(spark, sf_dir, idx)
    n_before = spark.read.parquet(idx).count()

    n_compacted = compact_ivf_index(spark, idx)
    assert n_compacted > 0
    assert max(files_per_cell().values()) == 1, files_per_cell()
    assert spark.read.parquet(idx).count() == n_before
    assert _search_rows(spark, sf_dir, idx) == before_rows

    assert compact_ivf_index(spark, idx) == 0, "compaction not idempotent"
    # r8: URI paths dispatch to the Hadoop layer; an unknown scheme
    # fails loudly there (no silent literal ./gs:/ dir)
    from py4j.protocol import Py4JJavaError

    with pytest.raises(Py4JJavaError, match="(?i)no filesystem for scheme"):
        compact_ivf_index(spark, "gs://bucket/idx")
    # ADVICE r8 #3: a 0/negative budget must fail loudly BEFORE any
    # cell is rewritten, not as an opaque repartition(0) error mid-loop
    with pytest.raises(ValueError, match="max_files_per_cell"):
        compact_ivf_index(spark, idx, max_files_per_cell=0)


def test_ivf_swap_aborts_if_cell_changed_under_rewrite(tmp_path):
    """Data-loss race: if a writer lands a file in a flat partition (an
    IVF cell, a warehouse date partition) between the rewrite's pinned
    listing and the swap, the swap must abort — staging discarded, live
    dir (INCLUDING the unseen file) untouched — instead of deleting
    data the rewrite never read. Exercised directly on the install
    step every maintenance rewrite shares."""
    import os

    import pytest

    from currency_etl_pipeline_spark.sources.localfs import install_verified

    for name in ("cid=3", "rate_date=2024-03-01"):
        part = tmp_path / name
        part.mkdir()
        (part / "part-0.parquet").write_bytes(b"old0")
        tmp = tmp_path / f"_rewrite_{name.replace('=', '_')}"
        tmp.mkdir()
        (tmp / "part-new.parquet").write_bytes(b"rewritten")

        # happy path: listing unchanged -> swap
        install_verified(None, str(part), str(tmp), [str(part / "part-0.parquet")])
        assert os.listdir(part) == ["part-new.parquet"] and not tmp.exists()

        # racy path: a concurrent append landed part-1 after the read
        tmp.mkdir()
        (tmp / "part-new2.parquet").write_bytes(b"rewritten2")
        (part / "part-1.parquet").write_bytes(b"concurrent-append")
        with pytest.raises(RuntimeError, match="changed during the rewrite"):
            install_verified(None, str(part), str(tmp), [str(part / "part-new.parquet")])
        assert sorted(os.listdir(part)) == ["part-1.parquet", "part-new.parquet"]
        assert not tmp.exists(), "staging dir must be discarded on abort"


def test_compact_historical_aborts_if_partition_changed_under_rewrite(
    spark, tmp_path, monkeypatch
):
    """The warehouse rewrites share the re-list guard: a file appended to
    the date partition after compact_historical read it must abort the
    swap and survive, not be deleted unseen with the old files."""
    import os
    import shutil

    from pyspark.sql.readwriter import DataFrameWriter

    wh = _rates_warehouse(spark, str(tmp_path / "wh"))
    part = os.path.join(wh.historical_path, "rate_date=2024-03-01")
    n_before = wh.historical().count()
    late = os.path.join(part, "part-late.parquet")
    first = sorted(f for f in os.listdir(part) if f.endswith(".parquet"))[0]
    real_parquet = DataFrameWriter.parquet

    def parquet(self, path, *args, **kwargs):
        real_parquet(self, path, *args, **kwargs)
        shutil.copy(os.path.join(part, first), late)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    with pytest.raises(RuntimeError, match="changed during"):
        wh.compact_historical("2024-03-01")
    monkeypatch.undo()
    assert os.path.exists(late), "the concurrently appended file was deleted"
    n_late = spark.read.parquet(late).count()
    assert wh.historical().count() == n_before + n_late


def _flood_worst_cell(spark, idx, repeat=0):
    """Append copies of the index's most peripheral member to its cell,
    twice the cell's size, so the cell goes bimodal and a partial
    recluster splits it — the same construction as the drift-report
    test. The first ``repeat`` copies are appended again in a second
    batch, repeating their vec_ids. Returns the cell id."""
    from currency_etl_pipeline_spark.queries.vectors import cosine
    from currency_etl_pipeline_spark.sources.ann_index import (
        append_ivf_index,
        load_index_centroids,
    )

    idx_df = spark.read.parquet(idx)
    worst = (
        idx_df.join(F.broadcast(load_index_centroids(spark, idx)), "cid")
        .select("cid", "dv", cosine(F.col("dv"), F.col("cv")).alias("csim"))
        .orderBy(F.col("csim").asc(), F.col("cid").asc())
        .limit(1)
        .collect()[0]
    )
    tcell, outlier = worst["cid"], list(worst["dv"])
    n_copies = 2 * idx_df.filter(F.col("cid") == tcell).count()
    # label matches the corpus column type (int) — the split rewrite
    # materializes label, so a mixed-type append would corrupt the cell
    copies = [(10_000 + i, outlier, 999) for i in range(n_copies)]
    for batch in (copies, copies[:repeat]):
        if batch:
            append_ivf_index(spark, idx, spark.createDataFrame(
                batch, "vec_id bigint, v array<double>, label int",
            ).select("vec_id", "label", "v"))
    return tcell


def _tree(root):
    """Every file under ``root``, hidden ones included, with its size."""
    import os

    return sorted(
        (os.path.relpath(os.path.join(d, f), root), os.path.getsize(os.path.join(d, f)))
        for d, _dirs, files in os.walk(root)
        for f in files
    )


def test_ivf_partial_recluster_repairs_only_flagged_cells(spark, sf_dir, tmp_path):
    """VERDICT r7 task 4: recluster_flagged_cells repairs EXACTLY the
    flagged cells. A cell flooded with copies of its own worst outlier
    goes bimodal -> SPLIT into (old cid, fresh cid), both stored
    centroids refined to exact sub-means so drift collapses; an
    unshifted flagged cell stays unimodal -> RE-CENTERED with zero data
    files touched. Every unflagged cell's parquet files are
    byte-identical afterwards, total rows are conserved, and search
    against the updated sidecar keeps the brute-force recall floor."""
    import hashlib
    import os

    from currency_etl_pipeline_spark.queries.registry import all_queries
    from currency_etl_pipeline_spark.sources.ann_index import (
        build_ivf_index,
        centroid_drift_report,
        recluster_flagged_cells,
        search_ivf_index,
    )

    idx = str(tmp_path / "ivf_partial")
    build_ivf_index(spark, sf_dir, idx, CENTROID_IDS)
    tcell = _flood_worst_cell(spark, idx)

    total_before = spark.read.parquet(idx).count()
    drift_before = {
        r["cid"]: r["drift"] for r in centroid_drift_report(spark, idx).collect()
    }
    other = next(c for c in sorted(drift_before) if c != tcell)

    def _hashes(skip_cids):
        out = {}
        for root, _dirs, files in os.walk(idx):
            rel = os.path.relpath(root, idx)
            if rel.startswith("_centroids") or any(
                rel.startswith(f"cid={c}") for c in skip_cids
            ):
                continue
            for f in files:
                if f.startswith(("_", ".")):
                    continue
                with open(os.path.join(root, f), "rb") as fh:
                    out[os.path.join(rel, f)] = hashlib.md5(fh.read()).hexdigest()
        return out

    untouched_before = _hashes(skip_cids=[tcell])

    actions = recluster_flagged_cells(spark, idx, [tcell, other])
    assert actions[tcell].startswith("split:"), actions
    assert actions[other] == "recentered", actions
    new_cid = int(actions[tcell].split(":")[1])
    assert new_cid not in drift_before  # a genuinely fresh cell id

    # Unflagged cells byte-identical — and the re-centered cell's files
    # too (its repair is sidecar-only).
    assert _hashes(skip_cids=[tcell, new_cid]) == untouched_before
    assert spark.read.parquet(idx).count() == total_before

    drift_after = {
        r["cid"]: r["drift"] for r in centroid_drift_report(spark, idx).collect()
    }
    assert set(drift_after) == set(drift_before) | {new_cid}
    for c in (tcell, other, new_cid):
        assert drift_after[c] < 0.001, (
            f"cell {c} drift did not collapse: {drift_after[c]}"
        )
    assert drift_after[tcell] < drift_before[tcell]

    # Search must rank probes against the UPDATED sidecar and keep the
    # exact-top-5 recall floor of the full-recluster test.
    got = {
        (r["query_id"], r["vec_id"])
        for r in search_ivf_index(
            spark, sf_dir, idx, QUERY_IDS, centroid_ids=None, nprobe=2, k=5
        ).collect()
    }
    exact = all_queries()["cosine_topk_bruteforce"].spark(spark, sf_dir).collect()
    per_query: dict = {}
    top5 = set()
    for r in sorted(exact, key=lambda r: (r["query_id"], -r["cos_sim"], r["vec_id"])):
        per_query.setdefault(r["query_id"], 0)
        if per_query[r["query_id"]] < 5:
            per_query[r["query_id"]] += 1
            top5.add((r["query_id"], r["vec_id"]))
    recall = len(got & top5) / len(top5)
    assert recall >= 0.4, f"post-partial-recluster recall collapsed: {recall:.3f}"


def test_ivf_partial_recluster_guards(spark, sf_dir, tmp_path):
    """Input validation: unknown cid -> ValueError naming it; empty cid
    list -> no-op {}; an index with neither dv nor qv -> ValueError
    (r9: the SQ8 layout is no longer rejected — it gets the sidecar-only
    re-center repair, test_ivf_sq8_partial_recluster_recenters)."""
    import pytest

    from currency_etl_pipeline_spark.sources.ann_index import (
        build_ivf_index,
        recluster_flagged_cells,
    )

    idx = str(tmp_path / "ivf_g")
    build_ivf_index(spark, sf_dir, idx, CENTROID_IDS)
    assert recluster_flagged_cells(spark, idx, []) == {}
    with pytest.raises(ValueError, match=r"\[999\]"):
        recluster_flagged_cells(spark, idx, [999])

    bogus = str(tmp_path / "ivf_g_bogus")
    spark.createDataFrame([(1, 0)], "vec_id bigint, cid int").write.partitionBy(
        "cid"
    ).parquet(bogus)
    with pytest.raises(ValueError, match="dv.*or SQ8"):
        recluster_flagged_cells(spark, bogus, [0])


def test_ivf_split_refuses_rows_lost_to_repeated_vec_ids(spark, sf_dir, tmp_path):
    """A cell holding a repeated vec_id (a batch appended twice) must
    not lose the repeat in a split: the per-vec_id assignment keeps one
    row per vec_id, so the planned halves sum to less than the live
    cell. The split raises before staging, and the index is unchanged."""
    from currency_etl_pipeline_spark.sources.ann_index import (
        build_ivf_index,
        recluster_flagged_cells,
    )

    idx = str(tmp_path / "ivf_dup")
    build_ivf_index(spark, sf_dir, idx, CENTROID_IDS)
    tcell = _flood_worst_cell(spark, idx, repeat=1)
    before = _tree(idx)
    with pytest.raises(RuntimeError, match="rows, expected"):
        recluster_flagged_cells(spark, idx, [tcell])
    assert _tree(idx) == before


@pytest.mark.parametrize("leftover", ["unnamed_cell", "sidecar_aside"])
def test_ivf_split_refuses_crashed_repair_state(spark, sf_dir, tmp_path, leftover):
    """A crashed earlier repair can leave a cid= partition the sidecar
    doesn't name (a split whose sidecar rewrite never ran) or the
    sidecar's aside. A split must refuse both before touching anything:
    installing its new cell over that partition would delete its rows,
    and a sidecar refusal after the cell swaps would strand them."""
    import shutil

    from currency_etl_pipeline_spark.sources.ann_index import (
        build_ivf_index,
        load_index_centroids,
        recluster_flagged_cells,
    )

    idx = str(tmp_path / "ivf_left")
    build_ivf_index(spark, sf_dir, idx, CENTROID_IDS)
    tcell = _flood_worst_cell(spark, idx)
    if leftover == "unnamed_cell":
        nxt = max(r["cid"] for r in load_index_centroids(spark, idx).collect()) + 1
        shutil.copytree(f"{idx}/cid={tcell}", f"{idx}/cid={nxt}")
    else:
        shutil.copytree(f"{idx}/_centroids", f"{idx}/_aside__centroids")
    before = _tree(idx)
    with pytest.raises(RuntimeError, match="crashed"):
        recluster_flagged_cells(spark, idx, [tcell])
    assert _tree(idx) == before


def test_hidden_sibling_keeps_the_parent():
    """Stage and aside names sit beside ``live`` for absolute, relative
    and URI paths, start with ``_`` and hold no ``=``."""
    from currency_etl_pipeline_spark.sources.localfs import _hidden_sibling

    assert _hidden_sibling("idx", "rewrite") == "_rewrite_idx"
    assert _hidden_sibling("/w/rates/rate_date=2024-03-01/", "aside") == (
        "/w/rates/_aside_rate_date_2024-03-01"
    )
    assert _hidden_sibling("gs://b/idx/cid=3", "rewrite") == "gs://b/idx/_rewrite_cid_3"


def test_ivf_sq8_partial_recluster_recenters(spark, sf_dir, tmp_path):
    """VERDICT r8 task 6: a flagged SQ8 cell gets the sidecar-only
    re-center — the stored centroid becomes the cell's code-mean
    direction, so the drift the SQ8 report measures (against exactly
    that code mean) collapses to 0; NO data file anywhere in the index
    is touched (byte-identical, including the flagged cell's own);
    unflagged cells' drift is unchanged; and sidecar-probed search
    still runs after the repair. Split is deliberately impossible on
    codes (the per-row scale needed to re-assign against refined float
    centers was discarded at build time) — a bimodal SQ8 cell escalates
    to the full recluster_ivf_index."""
    import hashlib
    import os

    from currency_etl_pipeline_spark.sources.ann_index import (
        build_ivf_sq8_index,
        centroid_drift_report,
        recluster_flagged_cells,
        search_ivf_sq8_index,
    )

    idx = str(tmp_path / "ivf_sq8_rc")
    build_ivf_sq8_index(spark, sf_dir, idx, CENTROID_IDS)

    drift_before = {
        r["cid"]: r["drift"] for r in centroid_drift_report(spark, idx).collect()
    }
    # Exemplar centroids are not code means, so build-time drift is
    # nonzero — flag the worst cell (non-vacuous: assert it IS nonzero).
    tcell = max(drift_before, key=lambda c: (drift_before[c], c))
    assert drift_before[tcell] > 0.001, drift_before

    def _data_hashes():
        out = {}
        for root, _dirs, files in os.walk(idx):
            rel = os.path.relpath(root, idx)
            if rel.startswith("_centroids"):
                continue
            for f in files:
                if f.startswith(("_", ".")):
                    continue
                with open(os.path.join(root, f), "rb") as fh:
                    out[os.path.join(rel, f)] = hashlib.md5(fh.read()).hexdigest()
        return out

    before = _data_hashes()
    actions = recluster_flagged_cells(spark, idx, [tcell])
    assert actions == {tcell: "recentered"}
    assert _data_hashes() == before, "SQ8 repair must be sidecar-only"

    drift_after = {
        r["cid"]: r["drift"] for r in centroid_drift_report(spark, idx).collect()
    }
    assert set(drift_after) == set(drift_before)
    assert drift_after[tcell] == 0.0, drift_after  # centroid == code mean
    for c in drift_before:
        if c != tcell:
            assert drift_after[c] == drift_before[c], c

    # Search against the updated sidecar (centroid_ids=None — the r9
    # default the float path already had) still returns k rows per
    # query with exact re-ranked scores.
    got = search_ivf_sq8_index(
        spark, sf_dir, idx, QUERY_IDS, centroid_ids=None, nprobe=2, k=5
    ).collect()
    per_query: dict = {}
    for r in got:
        per_query.setdefault(r["query_id"], 0)
        per_query[r["query_id"]] += 1
    assert per_query == {q: 5 for q in QUERY_IDS}, per_query


def test_ivf_append_exactly_once_commit_protocol(spark, sf_dir, tmp_path):
    """VERDICT r8 missing #3: append_ivf_index_exactly_once gives an
    exactly-once END STATE under at-least-once execution. (a) A replay
    with the same token is a no-op (returns False, index byte-stable);
    (b) a crash BEFORE the commit marker (simulated: delete the marker,
    leave the landed files) converges on replay — the purge removes the
    orphaned files and the reinstall lands them once, never twice;
    (c) the result matches the plain append row-for-row."""
    import hashlib
    import os

    from currency_etl_pipeline_spark.queries.vectors import _vecs
    from currency_etl_pipeline_spark.sources.ann_index import (
        append_ivf_index,
        append_ivf_index_exactly_once,
        build_ivf_index,
    )

    v = _vecs(spark, sf_dir)
    head, tail = v.filter(F.col("vec_id") < _SPLIT), v.filter(F.col("vec_id") >= _SPLIT)

    plain = str(tmp_path / "ivf_plain")
    build_ivf_index(spark, sf_dir, plain, CENTROID_IDS, vectors=head)
    append_ivf_index(spark, plain, tail)
    want = sorted(map(tuple, spark.read.parquet(plain).collect()))

    eo = str(tmp_path / "ivf_eo")
    build_ivf_index(spark, sf_dir, eo, CENTROID_IDS, vectors=head)
    assert append_ivf_index_exactly_once(spark, eo, tail, token="ns1-0") is True
    assert sorted(map(tuple, spark.read.parquet(eo).collect())) == want

    def _hashes():
        out = {}
        for root, _dirs, files in os.walk(eo):
            for f in files:
                if f.startswith(("_", ".")):
                    continue
                with open(os.path.join(root, f), "rb") as fh:
                    out[os.path.join(os.path.relpath(root, eo), f)] = hashlib.md5(
                        fh.read()
                    ).hexdigest()
        return out

    before = _hashes()
    # (a) replay after commit: no-op, files untouched.
    assert append_ivf_index_exactly_once(spark, eo, tail, token="ns1-0") is False
    assert _hashes() == before

    # (b) crash-before-commit: marker gone, landed files orphaned.
    os.remove(os.path.join(eo, "_commits", "ns1-0"))
    assert append_ivf_index_exactly_once(spark, eo, tail, token="ns1-0") is True
    assert sorted(map(tuple, spark.read.parquet(eo).collect())) == want, (
        "replay after simulated pre-commit crash duplicated or lost rows"
    )
    # Deterministic names: every landed file carries the token prefix.
    landed = [f for f in _hashes() if "epoch-ns1-0-" in f]
    assert landed, "exactly-once append left no token-named files"


def test_create_exclusive_posix_and_hadoop(spark, tmp_path):
    """The conditional-create commit point on both sidecar FS impls:
    first create wins (True), second loses (False), content is the
    winner's."""
    from currency_etl_pipeline_spark.sources.localfs import sidecar_fs

    posix = sidecar_fs(str(tmp_path))
    p = str(tmp_path / "marker")
    assert posix.create_exclusive(p, "one") is True
    assert posix.create_exclusive(p, "two") is False
    assert posix.read_text(p) == "one"

    uri = f"file://{tmp_path}/hadoop"
    hfs = sidecar_fs(uri, spark)
    hfs.mkdirs(uri)
    m = f"{uri}/marker"
    assert hfs.create_exclusive(m, "one") is True
    assert hfs.create_exclusive(m, "two") is False
    assert hfs.read_text(m) == "one"


class _Crash(RuntimeError):
    pass


_FAULT_POINTS = ("after_purge", "after_stage", "after_first_rename", "before_marker")


def _arm_fault(monkeypatch, point):
    """Make the next ``append_exactly_once`` commit raise ``_Crash`` at
    ``point``: before the stage write (the purge is done), before the
    install (the stage is written), right after the first install
    rename, or before the marker create."""
    from pyspark.sql.readwriter import DataFrameWriter

    from currency_etl_pipeline_spark.sources import localfs

    if point == "after_purge":
        real_parquet = DataFrameWriter.parquet

        def parquet(self, path, *args, **kwargs):
            if "/_stage_" in str(path):
                raise _Crash(point)
            return real_parquet(self, path, *args, **kwargs)

        monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
        return

    class _FaultyFS:
        def __init__(self, fs):
            self._fs = fs

        def __getattr__(self, name):
            return getattr(self._fs, name)

        def list_names(self, path):
            if point == "after_stage" and str(path).rsplit("/", 1)[-1].startswith("_stage_"):
                raise _Crash(point)
            return self._fs.list_names(path)

        def rename(self, src, dst):
            self._fs.rename(src, dst)
            if point == "after_first_rename":
                raise _Crash(point)

        def create_exclusive(self, path, text=""):
            if point == "before_marker":
                raise _Crash(point)
            return self._fs.create_exclusive(path, text)

    real_fs = localfs.sidecar_fs
    monkeypatch.setattr(
        localfs, "sidecar_fs", lambda path, spark=None: _FaultyFS(real_fs(path, spark))
    )


def _stage_dirs(path):
    import os

    return [d for d in os.listdir(path) if d.startswith("_stage_")]


def _crash_replay_vector_append(spark, monkeypatch, point, append, build, index_dir):
    """Crash ``append(index, token)`` at ``point``, replay the same
    token, and return the replayed index rows next to a clean single
    run's; a third call must be a no-op."""
    clean, eo = f"{index_dir}_clean", f"{index_dir}_eo"
    build(clean)
    assert append(clean, "ns1-0") is True
    build(eo)
    _arm_fault(monkeypatch, point)
    with pytest.raises(_Crash):
        append(eo, "ns1-0")
    monkeypatch.undo()
    assert append(eo, "ns1-0") is True
    rows = lambda p: sorted(map(repr, spark.read.parquet(p).collect()))  # noqa: E731
    got = rows(eo)
    assert append(eo, "ns1-0") is False
    assert rows(eo) == got
    return got, rows(clean)


@pytest.mark.parametrize("point", _FAULT_POINTS)
def test_ivf_append_converges_after_crash(spark, sf_dir, tmp_path, monkeypatch, point):
    """append_ivf_index_exactly_once: a crash at any step of the shared
    commit, replayed under the same token, leaves the index rows of a
    clean single run; a third call returns False."""
    from currency_etl_pipeline_spark.queries.vectors import _vecs
    from currency_etl_pipeline_spark.sources.ann_index import (
        append_ivf_index_exactly_once,
        build_ivf_index,
    )

    v = _vecs(spark, sf_dir)
    head, tail = v.filter(F.col("vec_id") < _SPLIT), v.filter(F.col("vec_id") >= _SPLIT)
    got, want = _crash_replay_vector_append(
        spark,
        monkeypatch,
        point,
        lambda p, t: append_ivf_index_exactly_once(spark, p, tail, token=t),
        lambda p: build_ivf_index(spark, sf_dir, p, CENTROID_IDS, vectors=head),
        str(tmp_path / "ivf"),
    )
    assert got == want, f"replay after a crash {point} duplicated or lost rows"
    assert not _stage_dirs(tmp_path / "ivf_eo")


def test_ivf_append_converges_after_crash_on_hadoop_file_scheme(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The shared commit's crash recovery through the JVM Hadoop
    filesystem branch: a ``file://`` index crashed right after its
    first install rename converges on replay (purge, reinstall,
    marker via ``create(overwrite=False)``)."""
    from currency_etl_pipeline_spark.queries.vectors import _vecs
    from currency_etl_pipeline_spark.sources.ann_index import (
        append_ivf_index_exactly_once,
        build_ivf_index,
    )

    v = _vecs(spark, sf_dir)
    head, tail = v.filter(F.col("vec_id") < _SPLIT), v.filter(F.col("vec_id") >= _SPLIT)
    got, want = _crash_replay_vector_append(
        spark,
        monkeypatch,
        "after_first_rename",
        lambda p, t: append_ivf_index_exactly_once(spark, p, tail, token=t),
        lambda p: build_ivf_index(spark, sf_dir, p, CENTROID_IDS, vectors=head),
        f"file://{tmp_path}/ivf",
    )
    assert got == want, "file:// replay after a crash duplicated or lost rows"
    assert not _stage_dirs(tmp_path / "ivf_eo")


@pytest.mark.parametrize("point", _FAULT_POINTS)
def test_semdedup_admit_converges_after_crash(spark, sf_dir, tmp_path, monkeypatch, point):
    """admit_semdedup_batch_exactly_once: a crash at any step of the
    shared commit, replayed under the same token, re-decides against
    the purged index and leaves the kept rows of a clean single run;
    a third call returns False."""
    from currency_etl_pipeline_spark.queries.vectors import _vecs
    from currency_etl_pipeline_spark.sources.semdedup_index import (
        admit_semdedup_batch_exactly_once,
        build_semdedup_index,
    )

    v = _vecs(spark, sf_dir)
    head, tail = v.filter(F.col("vec_id") < _SPLIT), v.filter(F.col("vec_id") >= _SPLIT)
    got, want = _crash_replay_vector_append(
        spark,
        monkeypatch,
        point,
        lambda p, t: admit_semdedup_batch_exactly_once(spark, p, tail, token=t),
        lambda p: build_semdedup_index(spark, sf_dir, p, CENTROID_IDS, vectors=head),
        str(tmp_path / "sem"),
    )
    assert got == want, f"replay after a crash {point} duplicated or lost rows"
    assert not _stage_dirs(tmp_path / "sem_eo")


@pytest.mark.parametrize("point", _FAULT_POINTS)
def test_minhash_ingest_converges_after_crash(spark, tmp_path, monkeypatch, point):
    """stream_minhash_ingest: an epoch crashed at any step of the shared
    commit is replayed by the restarted stream under the same token;
    the index's bands/sigs and the accepted epoch dir equal a clean
    single run's, and a third delivery of the epoch (its checkpoint
    commit removed) returns False. Before the shared commit, a crash
    before the replay marker appended the epoch's index rows twice."""
    import os

    from currency_etl_pipeline_spark.sources import localfs
    from currency_etl_pipeline_spark.sources.dedup_index import build_minhash_index
    from currency_etl_pipeline_spark.streaming.pipeline import stream_minhash_ingest

    base = (
        "the quick brown fox jumps over the lazy dog while the band plays on "
        "and the crowd cheers loudly for more music tonight"
    )
    novel = (
        "completely different subject matter about distributed query engines "
        "processing petabytes of columnar data with vectorized execution"
    )
    schema = "doc_id bigint, text string"
    corpus = spark.createDataFrame([(0, base)], schema)
    feed = tmp_path / "feed"
    spark.createDataFrame(
        [(1, base + " extra"), (2, novel), (3, novel + " extra")], schema
    ).repartition(1).write.parquet(str(feed / "b0"))

    def drive(name):
        stream = spark.readStream.schema(schema).parquet(str(feed) + "/*")
        stream_minhash_ingest(
            spark,
            stream,
            str(tmp_path / f"{name}_idx"),
            str(tmp_path / f"{name}_acc"),
            0.5,
            checkpoint_dir=str(tmp_path / f"{name}_ck"),
        ).awaitTermination()

    def state(name):
        def rows(p):
            return sorted(map(repr, spark.read.parquet(str(tmp_path / p)).collect()))

        return (
            rows(f"{name}_idx/bands"),
            rows(f"{name}_idx/sigs"),
            rows(f"{name}_acc/epoch=0"),
        )

    for name in ("clean", "eo"):
        build_minhash_index(spark, corpus, str(tmp_path / f"{name}_idx"))
    drive("clean")
    want = state("clean")
    # doc 1 near-dups the corpus, doc 3 near-dups doc 2: only doc 2
    # is admitted, and its 4 bands join the corpus doc's 4.
    assert len(want[2]) == 1 and len(want[0]) == 8, want

    _arm_fault(monkeypatch, point)
    with pytest.raises(Exception, match=point):  # the stream wraps _Crash
        drive("eo")
    monkeypatch.undo()
    drive("eo")
    assert state("eo") == want, f"replay after a crash {point} diverged from a clean run"
    assert not _stage_dirs(tmp_path / "eo_idx")

    results = []
    real = localfs.append_exactly_once

    def spy(*args, **kwargs):
        results.append(real(*args, **kwargs))
        return results[-1]

    monkeypatch.setattr(localfs, "append_exactly_once", spy)
    for f in ("0", ".0.crc"):
        os.remove(tmp_path / "eo_ck" / "commits" / f)
    drive("eo")
    assert results == [False]
    assert state("eo") == want


def test_recluster_keeps_commit_markers(spark, sf_dir, tmp_path):
    """recluster_ivf_index renames every installed file, so it must
    carry ``_commits/`` across its directory swap: a committed token
    replayed after the recluster stays a no-op."""
    from currency_etl_pipeline_spark.queries.vectors import _vecs
    from currency_etl_pipeline_spark.sources.ann_index import (
        append_ivf_index_exactly_once,
        build_ivf_index,
        recluster_ivf_index,
    )

    v = _vecs(spark, sf_dir)
    idx = str(tmp_path / "ivf")
    build_ivf_index(spark, sf_dir, idx, CENTROID_IDS, vectors=v.filter(F.col("vec_id") < _SPLIT))
    tail = v.filter(F.col("vec_id") >= _SPLIT)
    assert append_ivf_index_exactly_once(spark, idx, tail, token="ns1-0") is True
    recluster_ivf_index(spark, idx, k=4)
    n = spark.read.parquet(idx).count()
    assert append_ivf_index_exactly_once(spark, idx, tail, token="ns1-0") is False
    assert spark.read.parquet(idx).count() == n == v.count()


_SWAP_POINTS = ("after_stage", "after_aside", "after_install")


def _arm_swap_fault(monkeypatch, point, live):
    """Make the next verified rewrite of ``live`` raise ``_Crash`` at
    ``point``: after the stage write (before ``live`` moves), after
    ``live`` → aside, or after stage → ``live`` (before the aside is
    deleted). Only renames that touch ``live`` count."""
    from currency_etl_pipeline_spark.sources import localfs

    done = []

    class _FaultyFS:
        def __init__(self, fs):
            self._fs = fs

        def __getattr__(self, name):
            return getattr(self._fs, name)

        def rename(self, src, dst):
            if live not in (src, dst):
                return self._fs.rename(src, dst)
            if point == "after_stage":
                raise _Crash(point)
            self._fs.rename(src, dst)
            done.append(dst)
            if len(done) == _SWAP_POINTS.index(point):
                raise _Crash(point)

    real_fs = localfs.sidecar_fs
    monkeypatch.setattr(
        localfs, "sidecar_fs", lambda path, spark=None: _FaultyFS(real_fs(path, spark))
    )


def _crash_rewrite(spark, monkeypatch, point, root, build, live_of, rewrite, tables):
    """Crash ``rewrite(path)`` at ``point`` of the swap of
    ``live_of(path)``, called once, on the built copy before its rewrite.

    While crashed, every whole-table read in ``tables(path)`` must keep
    its column types and never double-count a row, and every row the
    live dir held must still be in the live dir or in a new
    ``_``-hidden sibling without ``=``. Then apply the recovery rule of
    ``localfs.install_verified`` (live missing: rename the aside back;
    else delete the aside), re-run the rewrite, and require the tables
    and the live dir of a clean single run, with no sibling left over.
    """
    import os
    import shutil
    from collections import Counter

    def rows(df):
        return Counter(map(repr, df.collect()))

    clean, crashed = f"{root}_clean", f"{root}_crashed"
    build(clean)
    rewrite(clean)
    build(crashed)
    live = live_of(crashed)

    def state(path):
        live_rows = rows(spark.read.parquet(os.path.join(path, os.path.relpath(live, crashed))))
        return [rows(t) for t in tables(path)] + [live_rows]

    parent, name = os.path.split(live)
    before = [(rows(t), t.dtypes) for t in tables(crashed)]
    live_rows = set(rows(spark.read.parquet(live)))
    siblings = set(os.listdir(parent))

    _arm_swap_fault(monkeypatch, point, live)
    with pytest.raises(_Crash):
        rewrite(crashed)
    monkeypatch.undo()

    for (want_rows, want_types), t in zip(before, tables(crashed)):
        assert t.dtypes == want_types, f"crash {point} changed a column type"
        assert not rows(t) - want_rows, f"crash {point} double-counted rows"
    left = sorted(set(os.listdir(parent)) - siblings - {name})
    assert all(d.startswith("_") and "=" not in d for d in left), left
    kept = set()
    for d in (name, *left):
        if os.path.isdir(os.path.join(parent, d)):
            kept |= set(rows(spark.read.parquet(os.path.join(parent, d))))
    assert live_rows <= kept, f"crash {point} lost rows of the live dir"

    aside = os.path.join(parent, "_aside_" + name.replace("=", "_"))
    if os.path.exists(aside):
        if os.path.exists(live):
            shutil.rmtree(aside)
        else:
            os.rename(aside, live)
    rewrite(crashed)
    assert state(crashed) == state(clean), f"re-run after a crash {point} diverged"
    assert set(os.listdir(parent)) == siblings, "the rewrite left a stage or aside behind"


def _rates_warehouse(spark, path):
    """A history with three append files in 2024-03-01 and one in
    2024-03-02."""
    import datetime as dt

    from currency_etl_pipeline_spark.sources.warehouse import Warehouse

    wh = Warehouse(spark, path)
    for day, hours in ((1, (9, 12, 15)), (2, (12,))):
        for h in hours:
            ts = dt.datetime(2024, 3, day, h)
            wh.append_historical(spark.createDataFrame(
                [("GBP", "USD", 1.2 + h / 100, ts), ("GBP", "EUR", 1.1 + h / 100, ts)],
                "base_currency string, target_currency string, rate double, timestamp timestamp",
            ))
    return wh


@pytest.mark.parametrize("point", _SWAP_POINTS)
def test_compact_historical_converges_after_swap_crash(spark, tmp_path, monkeypatch, point):
    """A crash anywhere in compact_historical's swap leaves no staging
    dir that reads parse as a rate_date value (a ``rate_date=…_tmp``
    stage fails every registry-schema read with INVALID_PARTITION_VALUE
    and makes a schema-less read double-count and turn rate_date into a
    string), loses no row, and recovers to a clean run's history."""
    import os

    from currency_etl_pipeline_spark.sources.warehouse import Warehouse

    def hist(p):
        return os.path.join(p, "historical_rates")

    _crash_rewrite(
        spark, monkeypatch, point, str(tmp_path / "wh"),
        lambda p: _rates_warehouse(spark, p),
        lambda p: os.path.join(hist(p), "rate_date=2024-03-01"),
        lambda p: Warehouse(spark, p).compact_historical("2024-03-01"),
        lambda p: (Warehouse(spark, p).historical(), spark.read.parquet(hist(p))),
    )


@pytest.mark.parametrize("point", _SWAP_POINTS)
def test_compact_ivf_converges_after_swap_crash(spark, sf_dir, tmp_path, monkeypatch, point):
    """compact_ivf_index crashed in the swap of a fragmented cell: whole-
    index reads stay exact or short, never doubled, and recovery plus a
    re-run equals a clean compaction."""
    from collections import Counter

    from currency_etl_pipeline_spark.queries.vectors import _vecs
    from currency_etl_pipeline_spark.sources.ann_index import (
        append_ivf_index,
        build_ivf_index,
        compact_ivf_index,
    )

    v = _vecs(spark, sf_dir)

    def build(p):
        build_ivf_index(spark, sf_dir, p, CENTROID_IDS, vectors=v.filter(F.col("vec_id") < _SPLIT))
        append_ivf_index(spark, p, v.filter(F.col("vec_id") >= _SPLIT))

    def live_of(p):
        files = Counter(f.split("/cid=")[1].split("/")[0] for f in _index_files(spark, p))
        return f"{p}/cid={min(c for c, n in files.items() if n > 1)}"

    _crash_rewrite(
        spark, monkeypatch, point, str(tmp_path / "ivf"), build, live_of,
        lambda p: compact_ivf_index(spark, p),
        lambda p: (spark.read.parquet(p),),
    )


@pytest.mark.parametrize("point", _SWAP_POINTS)
def test_centroid_sidecar_converges_after_swap_crash(spark, sf_dir, tmp_path, monkeypatch, point):
    """recluster_flagged_cells' centroid-sidecar swap (SQ8 layout: a
    re-center touches only the sidecar): the index never loses its
    centroids to a crash, and recovery plus a re-run writes the clean
    run's sidecar."""
    from currency_etl_pipeline_spark.sources.ann_index import (
        build_ivf_sq8_index,
        recluster_flagged_cells,
    )

    _crash_rewrite(
        spark, monkeypatch, point, str(tmp_path / "sq8"),
        lambda p: build_ivf_sq8_index(spark, sf_dir, p, CENTROID_IDS),
        lambda p: f"{p}/_centroids",
        lambda p: recluster_flagged_cells(spark, p, [0, 1]),
        lambda p: (spark.read.parquet(p),),
    )


def test_ivfpq_full_probe_equals_in_plan_pq(spark, sf_dir, tmp_path):
    """r9: the materialized IVF-PQ index is the build-once twin of
    pq_ann_topk — probing ALL cells must reproduce the in-plan
    corpus-wide ADC ranking bit-for-bit (same exemplar codebook, same
    exact-integer encode/score/tie-break), exactly the equivalence the
    IVF/IVF_SQ8 indexes pin against their in-plan twins. Then the
    pruned search (nprobe=2): k rows per query, each scored identically
    to the full-probe run (pruning changes the candidate set, never a
    surviving candidate's score), and the scan must read ONLY probed
    cid= partitions."""
    from currency_etl_pipeline_spark.queries.registry import all_queries
    from currency_etl_pipeline_spark.sources.ann_index import (
        build_ivfpq_index,
        load_index_centroids,
        search_ivfpq_index,
    )

    idx = str(tmp_path / "ivfpq")
    build_ivfpq_index(spark, sf_dir, idx, CENTROID_IDS)
    n_cells = load_index_centroids(spark, idx).count()

    full = search_ivfpq_index(spark, sf_dir, idx, QUERY_IDS, nprobe=n_cells, k=10)
    expect = all_queries()["pq_ann_topk"].spark(spark, sf_dir)
    got_rows = sorted(map(tuple, full.collect()))
    want_rows = sorted(map(tuple, expect.collect()))
    assert got_rows == want_rows, "full-probe IVF-PQ diverged from pq_ann_topk"

    pruned = search_ivfpq_index(spark, sf_dir, idx, QUERY_IDS, nprobe=2, k=10)
    rows = pruned.collect()
    per_query: dict = {}
    for r in rows:
        per_query[r["query_id"]] = per_query.get(r["query_id"], 0) + 1
    assert per_query == {q: 10 for q in QUERY_IDS}, per_query
    full_scores = {(r["query_id"], r["vec_id"]): r["score_micro"] for r in full.collect()}
    for r in rows:
        key = (r["query_id"], r["vec_id"])
        if key in full_scores:
            assert r["score_micro"] == full_scores[key], key

    # Partition pruning: the literal cid IN filter must land in the
    # scan's PartitionFilters (the search_ivf_index discipline; a plan
    # pin, because inputFiles() lists pre-pruning).
    import re

    plan = pruned._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cid" in m.group(1), "probe filter did not become a partition filter"


def test_ivfpq_append_equals_rebuild(spark, sf_dir, tmp_path):
    """build(head) + append(tail) on the PQ layout == full rebuild
    (frozen centroid + codebook sidecars make the assignment and the
    codes byte-identical), searched rows equal; the exactly-once append
    path produces the same logical index."""
    from currency_etl_pipeline_spark.queries.vectors import _vecs
    from currency_etl_pipeline_spark.sources.ann_index import (
        append_ivf_index,
        append_ivf_index_exactly_once,
        build_ivfpq_index,
        search_ivfpq_index,
    )

    v = _vecs(spark, sf_dir)
    head, tail = v.filter(F.col("vec_id") < _SPLIT), v.filter(F.col("vec_id") >= _SPLIT)
    full = str(tmp_path / "pq_full")
    inc = str(tmp_path / "pq_inc")
    eo = str(tmp_path / "pq_eo")
    build_ivfpq_index(spark, sf_dir, full, CENTROID_IDS)
    build_ivfpq_index(spark, sf_dir, inc, CENTROID_IDS, vectors=head)
    append_ivf_index(spark, inc, tail)
    build_ivfpq_index(spark, sf_dir, eo, CENTROID_IDS, vectors=head)
    assert append_ivf_index_exactly_once(spark, eo, tail, token="pq-0") is True

    def rows(path):
        return sorted(
            map(
                tuple,
                search_ivfpq_index(spark, sf_dir, path, QUERY_IDS, nprobe=3, k=10).collect(),
            )
        )

    want = rows(full)
    assert rows(inc) == want, "PQ append diverged from rebuild"
    assert rows(eo) == want, "exactly-once PQ append diverged from rebuild"


def test_pruned_probe_recall_all_materialized_variants(spark, sf_dir, tmp_path):
    """The recall cost of CELL PRUNING, measured (VERDICT r9 task 6):
    every materialized search variant graded against the exact top-5
    at realistic nprobe=2 of 8 cells — previously only full-probe
    bit-equality was pinned, leaving pruned-probe recall unmeasured.

    Measured at sf0.001: float and SQ8 pruned search recall@5 =
    (0.6, 1.0, 0.8) per query — the residual is pure cell containment
    (the true neighbor lives in an unprobed cell), identical for both
    because SQ8's ranking is quantization-stable here. PQ ADC-only
    collapses to (0.4, 0.2, 0.0) — codebook coarseness, the measured
    r9 finding — while PQ + rerank=100 recovers EXACTLY the float
    pruned recall per query: the exact re-rank eliminates the whole
    quantization residual, leaving only containment. Pins:
      * float/SQ8/PQ-rerank mean recall >= 0.8 (the serving floor);
      * SQ8 == float and PQ-rerank == float PER QUERY (quantization
        adds zero pruned-probe recall loss in the repaired forms);
      * ADC-only mean strictly below rerank mean (the rerank option
        must keep earning its cost — if ADC ever catches up, the
        docstring steering is stale)."""
    import tempfile

    from pyspark.sql import Window

    from currency_etl_pipeline_spark.queries.vectors import _vecs, cosine
    from currency_etl_pipeline_spark.sources.ann_index import (
        build_ivf_index,
        build_ivf_sq8_index,
        build_ivfpq_index,
        search_ivf_index,
        search_ivf_sq8_index,
        search_ivfpq_index,
    )

    v = _vecs(spark, sf_dir)
    q = v.filter(F.col("vec_id").isin(*QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("c").desc(), F.col("vec_id").asc()
    )
    exact5 = {
        (r["query_id"], r["vec_id"])
        for r in v.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", cosine(F.col("v"), F.col("qv")).alias("c"))
        .withColumn("r", F.row_number().over(w))
        .filter("r <= 5")
        .collect()
    }

    def recall(df):
        got = {(r["query_id"], r["vec_id"]) for r in df.collect()}
        return {
            qq: len({p for p in exact5 if p[0] == qq} & got) / 5.0
            for qq in QUERY_IDS
        }

    fl, s8, pq = (str(tmp_path / d) for d in ("fl", "s8", "pq"))
    build_ivf_index(spark, sf_dir, fl, CENTROID_IDS)
    build_ivf_sq8_index(spark, sf_dir, s8, CENTROID_IDS)
    build_ivfpq_index(spark, sf_dir, pq, CENTROID_IDS)
    r_fl = recall(search_ivf_index(spark, sf_dir, fl, QUERY_IDS, CENTROID_IDS, nprobe=2, k=5))
    r_s8 = recall(search_ivf_sq8_index(spark, sf_dir, s8, QUERY_IDS, CENTROID_IDS, nprobe=2, k=5))
    r_adc = recall(search_ivfpq_index(spark, sf_dir, pq, QUERY_IDS, nprobe=2, k=5))
    r_rr = recall(search_ivfpq_index(spark, sf_dir, pq, QUERY_IDS, nprobe=2, k=5, rerank=100))

    mean = lambda d: sum(d.values()) / len(d)  # noqa: E731
    assert mean(r_fl) >= 0.8, r_fl
    assert r_s8 == r_fl, (r_s8, r_fl)
    assert r_rr == r_fl, (r_rr, r_fl)
    assert mean(r_rr) >= 0.8, r_rr
    assert mean(r_adc) < mean(r_rr), (r_adc, r_rr)


# --- SemDeDup admission index (sources/semdedup_index.py) -------------


def test_semdedup_index_build_plus_admit_equals_rebuild(spark, sf_dir, tmp_path):
    """build(corpus) + admit(batch) must keep EXACTLY the vectors a
    one-shot build over corpus∪batch keeps — the greedy's prefix
    property, which is the whole reason the admission contract demands
    increasing ids. (At sf0.01+ the batch organically hits the
    corpus-blocked branch too; at the default sf0.001 every organic
    dup pair falls on one side of the split, so that branch's
    non-vacuity is pinned by the planted-chain test below instead.)"""
    from currency_etl_pipeline_spark.queries.vectors import _vecs
    from currency_etl_pipeline_spark.sources.semdedup_index import (
        admit_semdedup_batch,
        build_semdedup_index,
        kept_vectors,
    )

    v = _vecs(spark, sf_dir)
    full, inc = str(tmp_path / "sem_full"), str(tmp_path / "sem_inc")
    build_semdedup_index(spark, sf_dir, full, CENTROID_IDS)
    build_semdedup_index(
        spark, sf_dir, inc, CENTROID_IDS, vectors=v.filter(F.col("vec_id") < _SPLIT)
    )
    report = admit_semdedup_batch(spark, inc, v.filter(F.col("vec_id") >= _SPLIT))
    rows = report.collect()
    assert any(r["admitted"] for r in rows), "gate admitted nothing — vacuous"
    ids = lambda p: sorted(  # noqa: E731
        r["vec_id"] for r in kept_vectors(spark, p).select("vec_id").collect()
    )
    assert ids(inc) == ids(full)


def test_semdedup_admission_is_arrival_ordered_not_id_ordered(spark, tmp_path):
    """r11: the monotonic-vec_id constraint is lifted — admission order
    is the persisted ``seq`` column (arrival), not vec_id. Pin the
    distinction with a planted duplicate: admit X under a HIGH id, then
    its duplicate under a LOW id. The pairwise lower-id rule would keep
    the low id; arrival-order admission must keep the FIRST arrival and
    block the later one, exactly like a one-at-a-time ingest loop. Also
    pins the seq bookkeeping (append seqs extend max(indexed seq)) and
    the id-hygiene fail-louds (duplicate ids within a batch; a batch id
    already kept in its own cell)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from currency_etl_pipeline_spark.queries.vectors import _vecs
    from currency_etl_pipeline_spark.sources.semdedup_index import (
        admit_semdedup_batch,
        build_semdedup_index,
        kept_vectors,
    )

    dim = 64

    def vec(**comps):
        v = [0.0] * dim
        for i, x in comps.items():
            v[int(i)] = float(x)
        return v

    rows = [(20 + c, vec(**{str(c): 1.0}), 0) for c in range(8)]
    rows.append((100, vec(**{"0": 0.4, "8": 0.92}), 1))  # corpus keeper
    rows.append((200, vec(**{"0": 0.4, "9": 0.92}), 1))  # X, arrives first
    rows.append((5, vec(**{"0": 0.4, "9": 0.92}), 1))    # dup of X, LOWER id, arrives later
    tbl = pa.table(
        {
            "vec_id": pa.array([r[0] for r in rows], pa.int64()),
            "embedding": pa.array([r[1] for r in rows], pa.list_(pa.float32())),
            "label": pa.array([r[2] for r in rows], pa.int32()),
        }
    )
    pq.write_table(tbl, tmp_path / "embeddings.parquet")
    corpus_dir = str(tmp_path)
    path = str(tmp_path / "sem_arrival")
    v = _vecs(spark, corpus_dir)
    build_semdedup_index(
        spark, corpus_dir, path, CENTROID_IDS, vectors=v.filter(F.col("vec_id") >= 20)
    )
    build_seq_max = max(
        r["seq"] for r in kept_vectors(spark, path).select("seq").collect()
    )
    r2 = admit_semdedup_batch(spark, path, v.filter(F.col("vec_id") == 5)).collect()[0]
    assert r2["corpus_blocked"] and not r2["admitted"], (
        "later arrival must be blocked by the kept first arrival, "
        "regardless of its lower vec_id"
    )
    kept = {r["vec_id"]: r.asDict() for r in kept_vectors(spark, path).collect()}
    assert 200 in kept and 5 not in kept
    assert kept[200]["seq"] == 200, "build stamps seq = vec_id"
    assert build_seq_max == 200

    # id hygiene: a duplicate id within one batch fails loud...
    dup_batch = v.filter(F.col("vec_id") == 100).unionByName(
        v.filter(F.col("vec_id") == 100)
    )
    with pytest.raises(ValueError, match="duplicate vec_ids"):
        admit_semdedup_batch(spark, path, dup_batch)
    # ...and so does re-ingesting an id the batch's own cell already keeps.
    with pytest.raises(ValueError, match="already kept"):
        admit_semdedup_batch(spark, path, v.filter(F.col("vec_id") == 100))


def test_semdedup_out_of_order_append_seq_extends_arrival(spark, sf_dir, tmp_path):
    """Out-of-order ids (batch ids below the indexed max) admit
    correctly on the organic fixture: build over the HIGH half of the
    corpus, admit the LOW half, and check the admitted rows' seq values
    extend max(indexed seq) densely in within-batch vec_id order —
    the persisted record a seq-ordered replay/rebuild would consume."""
    from currency_etl_pipeline_spark.queries.vectors import _vecs
    from currency_etl_pipeline_spark.sources.semdedup_index import (
        admit_semdedup_batch,
        build_semdedup_index,
        kept_vectors,
    )

    v = _vecs(spark, sf_dir)
    path = str(tmp_path / "sem_ooo")
    build_semdedup_index(
        spark, sf_dir, path, CENTROID_IDS, vectors=v.filter(F.col("vec_id") >= _SPLIT)
    )
    pre = kept_vectors(spark, path).select("vec_id", "seq").collect()
    max_seq = max(r["seq"] for r in pre)
    report = admit_semdedup_batch(spark, path, v.filter(F.col("vec_id") < _SPLIT))
    admitted = sorted(
        (r["vec_id"] for r in report.collect() if r["admitted"]),
    )
    assert admitted, "gate admitted nothing — vacuous"
    post = {r["vec_id"]: r["seq"] for r in kept_vectors(spark, path).collect()}
    got = sorted(((vid, post[vid]) for vid in admitted), key=lambda t: t[0])
    # Batch seqs: max(indexed seq) + rank over the FULL batch by vec_id
    # (rejected rows consume ranks too — the arrival record covers every
    # decision, admitted or not), so admitted seqs are increasing in
    # vec_id and strictly above the pre-append max.
    seqs = [s for _, s in got]
    assert all(s > max_seq for s in seqs)
    assert seqs == sorted(seqs) and len(set(seqs)) == len(seqs)


def test_semdedup_probed_kept_empty_cells_is_empty(spark, sf_dir, tmp_path):
    """ADVICE r10: an empty probe list must return the EMPTY relation,
    not the full unfiltered corpus — 'no cells probed' means 'no rows',
    so a computed, possibly-empty cell list can never silently defeat
    partition pruning."""
    from currency_etl_pipeline_spark.sources.semdedup_index import (
        build_semdedup_index,
        probed_kept,
    )

    path = str(tmp_path / "sem_empty_probe")
    build_semdedup_index(spark, sf_dir, path, CENTROID_IDS)
    assert probed_kept(spark, path, []).count() == 0


def test_ivf_append_refuses_semdedup_admission_index(spark, sf_dir, tmp_path):
    """ADVICE r10: the semdedup layout intentionally matches the IVF
    maintenance contract (delete/compact reuse), but a raw IVF APPEND
    would bypass admission and mix qv element types — the append must
    refuse any index carrying a _params.json sidecar. ADVICE r11: the
    refusal DIAGNOSIS reads the sidecar's content, not just the
    filename — the MinHash index writes the same _params.json name, so
    a misfiled MinHash path must get the 'not an IVF index' message,
    not a false 'SemDeDup admission index' one."""
    import pytest

    from currency_etl_pipeline_spark.queries.vectors import _vecs
    from currency_etl_pipeline_spark.sources.ann_index import append_ivf_index
    from currency_etl_pipeline_spark.sources.dedup_index import build_minhash_index
    from currency_etl_pipeline_spark.sources.semdedup_index import (
        build_semdedup_index,
    )

    v = _vecs(spark, sf_dir)
    path = str(tmp_path / "sem_guard")
    build_semdedup_index(
        spark, sf_dir, path, CENTROID_IDS, vectors=v.filter(F.col("vec_id") < _SPLIT)
    )
    with pytest.raises(ValueError, match="SemDeDup admission index"):
        append_ivf_index(spark, path, v.filter(F.col("vec_id") >= _SPLIT))

    mh = str(tmp_path / "mh_misfile")
    build_minhash_index(spark, _docs(spark, sf_dir), mh)
    with pytest.raises(ValueError, match="not an IVF index"):
        append_ivf_index(spark, mh, v.filter(F.col("vec_id") >= _SPLIT))

    # ...and a CORRUPT sidecar gets its own diagnosis, not a false
    # "misfiled MinHash" (review r12).
    import os

    with open(os.path.join(path, "_params.json"), "w") as fh:
        fh.write("{truncated")
    with pytest.raises(ValueError, match="undetermined kind"):
        append_ivf_index(spark, path, v.filter(F.col("vec_id") >= _SPLIT))


def test_semdedup_admission_exact_chain_semantics(spark, sf_dir, tmp_path):
    """The planted a~b~c chain (a kept in the corpus, a!~c): b is
    corpus-blocked, and c is ADMITTED because its only duplicate
    neighbor b was itself rejected — the exact-chain greedy the
    in-plan query's pairwise lower-id rule deliberately approximates
    (semdedup_cell_prune would prune both b and c). Axes 8/9 carry the
    off-centroid mass so every planted vector stays below tau of its
    cell centroid (cos ~= 0.399 < 0.45) yet inside cell 0."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from currency_etl_pipeline_spark.queries.vectors import _vecs
    from currency_etl_pipeline_spark.sources.semdedup_index import (
        admit_semdedup_batch,
        build_semdedup_index,
    )

    dim = 64

    def vec(**comps):
        v = [0.0] * dim
        for i, x in comps.items():
            v[int(i)] = float(x)
        return v

    rows = [(20 + c, vec(**{str(c): 1.0}), 0) for c in range(8)]
    rows.append((100, vec(**{"0": 0.4, "8": 0.92}), 1))                 # a
    rows.append((101, vec(**{"0": 0.4, "8": 0.65, "9": 0.65}), 1))      # b ~ a, b ~ c
    rows.append((102, vec(**{"0": 0.4, "9": 0.92}), 1))                 # c !~ a
    tbl = pa.table(
        {
            "vec_id": pa.array([r[0] for r in rows], pa.int64()),
            "embedding": pa.array([r[1] for r in rows], pa.list_(pa.float32())),
            "label": pa.array([r[2] for r in rows], pa.int32()),
        }
    )
    pq.write_table(tbl, tmp_path / "embeddings.parquet")
    corpus_dir = str(tmp_path)
    path = str(tmp_path / "sem_chain")
    v = _vecs(spark, corpus_dir)
    build_semdedup_index(
        spark, corpus_dir, path, CENTROID_IDS, vectors=v.filter(F.col("vec_id") <= 100)
    )
    report = {
        r["vec_id"]: r.asDict()
        for r in admit_semdedup_batch(spark, path, v.filter(F.col("vec_id") > 100)).collect()
    }
    assert report[101]["corpus_blocked"] and not report[101]["admitted"]
    assert not report[102]["corpus_blocked"] and report[102]["admitted"]


def test_semdedup_admission_scan_is_partition_pruned(spark, sf_dir, tmp_path):
    """The corpus-blocked check must read ONLY the batch's own cells:
    probed_kept's literal cid IN filter lands in the scan's
    PartitionFilters (the search_ivf_index discipline), so a one-cell
    batch leaves the other cells' files unopened."""
    import re

    from currency_etl_pipeline_spark.queries.vectors import _vecs
    from currency_etl_pipeline_spark.sources.semdedup_index import (
        build_semdedup_index,
        kept_vectors,
        probed_kept,
    )
    from tests.test_scale_plans import plan_of

    path = str(tmp_path / "sem_prune")
    build_semdedup_index(spark, sf_dir, path, CENTROID_IDS)
    all_cids = {
        r["cid"] for r in kept_vectors(spark, path).select("cid").distinct().collect()
    }
    probe = sorted(all_cids)[:2]
    plan = plan_of(probed_kept(spark, path, probe))
    m = re.search(r"PartitionFilters: \[[^\]]*cid#\d+ IN \(([\d,]+)\)", plan)
    assert m, f"cid literal filter did not reach the scan:\n{plan}"
    assert {int(x) for x in m.group(1).split(",")} == set(probe)
    assert len(all_cids) > 2, "fixture must populate more cells than the probe"


def test_semdedup_index_rtbf_reuses_ivf_delete(spark, sf_dir, tmp_path):
    """The semdedup layout matches the IVF maintenance contract, so
    delete_from_ivf_index IS its RTBF. Semantics pinned: deleting a
    kept blocker (a) removes it from the kept relation, and (b) a
    LATER duplicate of it is then admitted — while duplicates it
    rejected before the delete stay gone (never stored; sequential
    admission is historical)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from currency_etl_pipeline_spark.queries.vectors import _vecs
    from currency_etl_pipeline_spark.sources.ann_index import delete_from_ivf_index
    from currency_etl_pipeline_spark.sources.semdedup_index import (
        admit_semdedup_batch,
        build_semdedup_index,
        kept_vectors,
    )

    dim = 64

    def vec(**comps):
        v = [0.0] * dim
        for i, x in comps.items():
            v[int(i)] = float(x)
        return v

    a = vec(**{"0": 0.4, "8": 0.92})
    rows = [(20 + c, vec(**{str(c): 1.0}), 0) for c in range(8)]
    rows.append((100, a, 1))        # the kept blocker
    rows.append((101, a, 1))        # batch 1: duplicate of a → rejected
    rows.append((102, a, 1))        # batch 2 (post-RTBF): admitted
    tbl = pa.table(
        {
            "vec_id": pa.array([r[0] for r in rows], pa.int64()),
            "embedding": pa.array([r[1] for r in rows], pa.list_(pa.float32())),
            "label": pa.array([r[2] for r in rows], pa.int32()),
        }
    )
    pq.write_table(tbl, tmp_path / "embeddings.parquet")
    corpus_dir, path = str(tmp_path), str(tmp_path / "sem_rtbf")
    v = _vecs(spark, corpus_dir)
    build_semdedup_index(
        spark, corpus_dir, path, tuple(range(20, 28)), vectors=v.filter(F.col("vec_id") <= 100)
    )
    r1 = admit_semdedup_batch(spark, path, v.filter(F.col("vec_id") == 101)).collect()[0]
    assert r1["corpus_blocked"] and not r1["admitted"]

    removed = delete_from_ivf_index(spark, path, [100])
    assert removed == 1
    kept_ids = {r["vec_id"] for r in kept_vectors(spark, path).select("vec_id").collect()}
    assert 100 not in kept_ids and 101 not in kept_ids, "rejected dup must NOT resurrect"

    r2 = admit_semdedup_batch(spark, path, v.filter(F.col("vec_id") == 102)).collect()[0]
    assert not r2["corpus_blocked"] and r2["admitted"], "blocker forgotten after RTBF"


def test_semdedup_index_compaction_reuses_ivf_compactor(spark, sf_dir, tmp_path):
    """compact_ivf_index works verbatim on the semdedup layout (same
    vec_id/cid contract): appends fragment cid= partitions, compaction
    collapses each oversized cell to the file budget, and the kept
    relation is row-identical before/after."""
    from currency_etl_pipeline_spark.queries.vectors import _vecs
    from currency_etl_pipeline_spark.sources.ann_index import compact_ivf_index
    from currency_etl_pipeline_spark.sources.semdedup_index import (
        admit_semdedup_batch,
        build_semdedup_index,
        kept_vectors,
    )

    v = _vecs(spark, sf_dir)
    path = str(tmp_path / "sem_compact")
    build_semdedup_index(
        spark, sf_dir, path, CENTROID_IDS, vectors=v.filter(F.col("vec_id") < _SPLIT)
    )
    for lo, hi in ((_SPLIT, _SPLIT + 50), (_SPLIT + 50, 10**9)):
        admit_semdedup_batch(
            spark, path, v.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
        )
    rows = lambda: sorted(  # noqa: E731
        (r["vec_id"], r["cid"], r["nrm"])
        for r in kept_vectors(spark, path).select("vec_id", "cid", "nrm").collect()
    )
    before = rows()
    import collections
    import re

    per_cell = collections.Counter(
        re.search(r"cid=(\d+)", f).group(1)
        for f in kept_vectors(spark, path).inputFiles()
    )
    assert max(per_cell.values()) > 1, "appends did not fragment — vacuous"
    compact_ivf_index(spark, path, max_files_per_cell=1)
    per_cell_after = collections.Counter(
        re.search(r"cid=(\d+)", f).group(1)
        for f in kept_vectors(spark, path).inputFiles()
    )
    assert max(per_cell_after.values()) == 1
    assert rows() == before


def test_semdedup_admit_exactly_once_commit_protocol(spark, sf_dir, tmp_path):
    """admit_semdedup_batch_exactly_once: (a) replay with the same
    token is a no-op (False, files byte-stable); (b) a simulated
    pre-commit crash (marker deleted, landed files orphaned) converges
    on replay — the purge runs BEFORE the admission decisions, so the
    replay decides against the clean committed state and reinstalls
    the identical admitted set; (c) the end state matches the plain
    admit row-for-row."""
    import hashlib
    import os

    from currency_etl_pipeline_spark.queries.vectors import _vecs
    from currency_etl_pipeline_spark.sources.semdedup_index import (
        admit_semdedup_batch,
        admit_semdedup_batch_exactly_once,
        build_semdedup_index,
        kept_vectors,
    )

    v = _vecs(spark, sf_dir)
    head, tail = v.filter(F.col("vec_id") < _SPLIT), v.filter(F.col("vec_id") >= _SPLIT)

    plain = str(tmp_path / "sem_plain")
    build_semdedup_index(spark, sf_dir, plain, CENTROID_IDS, vectors=head)
    admit_semdedup_batch(spark, plain, tail)
    want = sorted(map(tuple, kept_vectors(spark, plain).collect()))

    eo = str(tmp_path / "sem_eo")
    build_semdedup_index(spark, sf_dir, eo, CENTROID_IDS, vectors=head)
    assert admit_semdedup_batch_exactly_once(spark, eo, tail, token="ns1-0") is True
    assert sorted(map(tuple, kept_vectors(spark, eo).collect())) == want

    def _hashes():
        out = {}
        for root, _dirs, files in os.walk(eo):
            for f in files:
                if f.startswith(("_", ".")):
                    continue
                with open(os.path.join(root, f), "rb") as fh:
                    out[os.path.join(os.path.relpath(root, eo), f)] = hashlib.md5(
                        fh.read()
                    ).hexdigest()
        return out

    before = _hashes()
    assert admit_semdedup_batch_exactly_once(spark, eo, tail, token="ns1-0") is False
    assert _hashes() == before

    os.remove(os.path.join(eo, "_commits", "ns1-0"))
    assert admit_semdedup_batch_exactly_once(spark, eo, tail, token="ns1-0") is True
    assert sorted(map(tuple, kept_vectors(spark, eo).collect())) == want, (
        "replay after simulated pre-commit crash duplicated or lost rows"
    )
    assert [f for f in _hashes() if "epoch-ns1-0-" in f], "no token-named files landed"


def test_semdedup_index_drift_and_recenter_reuse_ivf_maintenance(spark, sf_dir, tmp_path):
    """The quantizer-health MACHINERY works verbatim on the semdedup
    layout (qv codes, like SQ8): centroid_drift_report reads the
    index's code-mean drift per cell, and recluster_flagged_cells
    applies the sidecar-only RE-CENTER repair — every data file
    byte-identical, the flagged cell's drift collapsed to 0 against
    the refreshed sidecar. NOTE (r12): maintain_indexes deliberately
    never invokes this repair on semdedup paths — re-centering an
    ADMISSION index breaks the frozen-quantizer contract (see
    test_semdedup_recenter_breaks_admission_so_maintenance_skips_it);
    this test pins only that the shared machinery composes with the
    layout (e.g. for a search-only copy of the index)."""
    import hashlib
    import os

    from currency_etl_pipeline_spark.sources.ann_index import (
        centroid_drift_report,
        recluster_flagged_cells,
    )
    from currency_etl_pipeline_spark.sources.semdedup_index import (
        build_semdedup_index,
    )

    path = str(tmp_path / "sem_drift")
    build_semdedup_index(spark, sf_dir, path, CENTROID_IDS)
    report = {r["cid"]: r["drift"] for r in centroid_drift_report(spark, path).collect()}
    assert len(report) == 8 and all(0.0 <= d <= 2.0 for d in report.values())

    worst = max(report, key=report.get)
    assert report[worst] > 0.0, "exemplar centroids never sit exactly on the code mean"

    def _data_hashes():
        out = {}
        for root, _dirs, files in os.walk(path):
            if "_centroids" in root:
                continue
            for f in files:
                if f.startswith(("_", ".")):
                    continue
                with open(os.path.join(root, f), "rb") as fh:
                    out[os.path.join(os.path.relpath(root, path), f)] = hashlib.md5(
                        fh.read()
                    ).hexdigest()
        return out

    before = _data_hashes()
    actions = recluster_flagged_cells(spark, path, [worst])
    assert actions == {worst: "recentered"}, actions
    assert _data_hashes() == before, "re-center must not touch data files"
    after = {r["cid"]: r["drift"] for r in centroid_drift_report(spark, path).collect()}
    assert after[worst] == 0.0, "re-centered cell's drift must collapse"
    for cid in report:
        if cid != worst:
            assert after[cid] == report[cid], "unflagged cells' drift must not move"


def test_maintain_indexes_one_call_restores_health(spark, sf_dir, tmp_path):
    """VERDICT r10 task 6 — the composed maintenance loop an operator
    actually runs: ONE maintain_indexes() call over a drifted+fragmented
    IVF index, a tombstone-laden MinHash index, and an append-fragmented
    SemDeDup index must (a) flag and repair the drifted cell, (b) bring
    every cid partition within the file budget, (c) apply the minhash
    tombstones physically with query results invariant, and (d) leave
    the SemDeDup kept set and its admission decisions invariant. Each
    piece is pinned individually elsewhere; this pins the COMPOSITION
    and its report."""
    import os

    from currency_etl_pipeline_spark.queries.registry import all_queries
    from currency_etl_pipeline_spark.queries.vectors import _vecs, cosine
    from currency_etl_pipeline_spark.sources.ann_index import (
        append_ivf_index,
        build_ivf_index,
        centroid_drift_report,
        load_index_centroids,
        search_ivf_index,
    )
    from currency_etl_pipeline_spark.sources.dedup_index import (
        build_minhash_index,
        delete_from_minhash_index,
        query_minhash_index,
    )
    from currency_etl_pipeline_spark.sources.maintenance import maintain_indexes
    from currency_etl_pipeline_spark.sources.semdedup_index import (
        admit_semdedup_batch,
        build_semdedup_index,
        kept_vectors,
    )

    v = _vecs(spark, sf_dir)

    # --- IVF: drift (outlier flood) + fragmentation (chunked appends).
    ivf = str(tmp_path / "m_ivf")
    build_ivf_index(spark, sf_dir, ivf, CENTROID_IDS)
    idx_df = spark.read.parquet(ivf)
    worst = (
        idx_df.join(F.broadcast(load_index_centroids(spark, ivf)), "cid")
        .select("cid", "dv", cosine(F.col("dv"), F.col("cv")).alias("csim"))
        .orderBy(F.col("csim").asc(), F.col("cid").asc())
        .limit(1)
        .collect()[0]
    )
    tcell, outlier = worst["cid"], list(worst["dv"])
    n_copies = 2 * idx_df.filter(F.col("cid") == tcell).count()
    per_chunk = n_copies // 3 + 1
    for chunk in range(3):
        rows = [
            (100_000 + chunk * per_chunk + i, outlier, 999) for i in range(per_chunk)
        ]
        append_ivf_index(
            spark,
            ivf,
            spark.createDataFrame(
                rows, "vec_id bigint, v array<double>, label int"
            ).select("vec_id", "label", "v"),
        )

    # --- MinHash: pending tombstones.
    mh = str(tmp_path / "m_mh")
    docs = _docs(spark, sf_dir)
    build_minhash_index(spark, docs.filter(F.col("doc_id") < 400), mh)
    batch = docs.filter(F.col("doc_id") >= 400)
    before = _q_rows(query_minhash_index(spark, mh, batch, min_est_jaccard=0.5))
    assert before, "fixture lost its cross-split matches"
    victims = sorted({corpus_id for _, corpus_id, _ in before})[:2]
    delete_from_minhash_index(spark, mh, victims)
    soft = _q_rows(query_minhash_index(spark, mh, batch, min_est_jaccard=0.5))

    # --- SemDeDup: fragmented by an admitted append.
    sd = str(tmp_path / "m_sd")
    build_semdedup_index(
        spark, sf_dir, sd, CENTROID_IDS, vectors=v.filter(F.col("vec_id") < _SPLIT)
    )
    admit_semdedup_batch(spark, sd, v.filter(F.col("vec_id") >= _SPLIT))
    sd_rows_before = sorted(
        (r["vec_id"], r["label"], tuple(r["qv"]), r["nrm"], r["seq"])
        for r in kept_vectors(spark, sd).collect()
    )

    report = maintain_indexes(
        spark, ivf_paths=[ivf], minhash_paths=[mh], semdedup_paths=[sd]
    )

    # IVF: the flooded cell was flagged and repaired; drift is healthy;
    # every cid partition is within the 1-file budget.
    assert report[ivf]["kind"] == "ivf"
    assert tcell in report[ivf]["drift_flagged"]
    assert report[ivf]["repairs"].get(tcell), report[ivf]
    drift_after = {
        r["cid"]: r["drift"] for r in centroid_drift_report(spark, ivf).collect()
    }
    assert all(d <= 0.05 for d in drift_after.values()), drift_after

    def cell_files(path):
        out = {}
        for d in os.listdir(path):
            if d.startswith("cid="):
                out[d] = [
                    f
                    for f in os.listdir(os.path.join(path, d))
                    if f.endswith(".parquet") and not f.startswith(("_", "."))
                ]
        return out

    for path in (ivf, sd):
        for d, files in cell_files(path).items():
            assert len(files) <= 1, (path, d, files)

    # IVF search against the repaired sidecar keeps the recall floor.
    got = {
        (r["query_id"], r["vec_id"])
        for r in search_ivf_index(
            spark, sf_dir, ivf, QUERY_IDS, centroid_ids=None, nprobe=2, k=5
        ).collect()
    }
    exact = all_queries()["cosine_topk_bruteforce"].spark(spark, sf_dir).collect()
    per_query: dict = {}
    top5 = set()
    for r in sorted(exact, key=lambda r: (r["query_id"], -r["cos_sim"], r["vec_id"])):
        per_query.setdefault(r["query_id"], 0)
        if per_query[r["query_id"]] < 5:
            per_query[r["query_id"]] += 1
            top5.add((r["query_id"], r["vec_id"]))
    assert len(got & top5) / len(top5) >= 0.4

    # MinHash: tombstones applied physically, query results invariant.
    assert report[mh] == {"kind": "minhash", "tombstones_applied": len(victims)}
    assert not os.path.isdir(f"{mh}/tombstones")
    assert _q_rows(query_minhash_index(spark, mh, batch, min_est_jaccard=0.5)) == soft

    # SemDeDup: the kept set is invariant (cid may move on a split, the
    # membership and codes may not), and admission still blocks a
    # duplicate of a kept vector — maintenance must never change
    # decisions.
    assert report[sd]["kind"] == "semdedup"
    sd_rows_after = sorted(
        (r["vec_id"], r["label"], tuple(r["qv"]), r["nrm"], r["seq"])
        for r in kept_vectors(spark, sd).collect()
    )
    assert sd_rows_after == sd_rows_before
    some_kept = sd_rows_before[0][0]
    dup = v.filter(F.col("vec_id") == some_kept).select(
        F.lit(1_000_000).cast("long").alias("vec_id"), "label", "v"
    )
    r = admit_semdedup_batch(spark, sd, dup, write=False).collect()[0]
    assert r["corpus_blocked"] and not r["admitted"]

    # Idempotence: a second maintenance pass over the now-healthy
    # indexes finds nothing to DO — no IVF drift flags, no compactable
    # cells, no tombstones. The SemDeDup path is the exception by
    # policy (r12): its drift is reported but never repaired (frozen-
    # quantizer admission contract), so the same cells stay flagged
    # with the same skip note on every pass — stable, not shrinking.
    again = maintain_indexes(
        spark, ivf_paths=[ivf], minhash_paths=[mh], semdedup_paths=[sd]
    )
    assert again[ivf]["drift_flagged"] == [] and again[ivf]["repairs"] == {}
    assert again[ivf]["cells_compacted"] == 0
    assert again[sd]["cells_compacted"] == 0 and again[sd]["repairs"] == {}
    assert again[sd]["drift_flagged"] == report[sd]["drift_flagged"]
    assert again[mh]["tombstones_applied"] == 0


def test_semdedup_recenter_breaks_admission_so_maintenance_skips_it(spark, tmp_path):
    """ADVICE r11 (medium): SemDeDup admission correctness rests on the
    FROZEN quantizer — an identical vector must land in the same cell
    as its kept twin for the pruned probe to see it. This test first
    DEMONSTRATES the hazard: after a sidecar-only re-center (the repair
    maintain_indexes used to run on semdedup paths), a planted
    duplicate of a kept vector quantizes into a DIFFERENT cell, misses
    the probe, and is falsely admitted. It then pins the policy fix:
    maintain_indexes reports the drifted cells but performs NO repairs
    on semdedup paths, and admission decisions stay correct after the
    maintenance pass.

    Geometry (dims 0-7 carry the 8 exemplar centroids; 8-9 are free):
    X = {0:.1, 9:.995} sits in cell 0 (cos .1 with e0, 0 elsewhere) and
    is kept (cos(X,e0) < tau = .45). Cell 1 keeps m = {1:.44, 9:.42,
    8:.85} (cos(m,e1)=.42 < tau). Re-centering cell 1 replaces its
    centroid with mean(e1, m) = {1:.72, 9:.21, 8:.425}, whose cosine
    with X is .24 > .1 — so X's duplicate now assigns to cell 1, whose
    kept rows (e1: cos 0, m: cos .40) are all below tau: admitted."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from currency_etl_pipeline_spark.queries.vectors import _vecs
    from currency_etl_pipeline_spark.sources.ann_index import (
        recluster_flagged_cells,
    )
    from currency_etl_pipeline_spark.sources.maintenance import maintain_indexes
    from currency_etl_pipeline_spark.sources.semdedup_index import (
        admit_semdedup_batch,
        build_semdedup_index,
        kept_vectors,
    )

    dim = 64

    def vec(**comps):
        v = [0.0] * dim
        for i, x in comps.items():
            v[int(i)] = float(x)
        return v

    rows = [(20 + c, vec(**{str(c): 1.0}), 0) for c in range(8)]
    rows.append((30, vec(**{"1": 0.44, "9": 0.42, "8": 0.85}), 1))  # m, cell 1
    rows.append((100, vec(**{"0": 0.1, "9": 0.995}), 1))            # X, cell 0
    tbl = pa.table(
        {
            "vec_id": pa.array([r[0] for r in rows], pa.int64()),
            "embedding": pa.array([r[1] for r in rows], pa.list_(pa.float32())),
            "label": pa.array([r[2] for r in rows], pa.int32()),
        }
    )
    pq.write_table(tbl, tmp_path / "embeddings.parquet")
    corpus_dir = str(tmp_path)
    v = _vecs(spark, corpus_dir)

    def dup_batch(new_id):
        return v.filter(F.col("vec_id") == 100).select(
            F.lit(new_id).cast("long").alias("vec_id"), "label", "v"
        )

    # --- the hazard, demonstrated on a throwaway copy of the index.
    broken = str(tmp_path / "sem_broken")
    build_semdedup_index(spark, corpus_dir, broken, CENTROID_IDS)
    kept = {r["vec_id"]: r["cid"] for r in kept_vectors(spark, broken).collect()}
    assert set(kept) == {20, 21, 22, 23, 24, 25, 26, 27, 30, 100}, kept
    assert kept[100] == kept[20] and kept[30] == kept[21], kept
    r0 = admit_semdedup_batch(spark, broken, dup_batch(500), write=False).collect()[0]
    assert r0["corpus_blocked"] and not r0["admitted"], (
        "pre-repair, the frozen quantizer routes the duplicate to its "
        "twin's cell and blocks it"
    )
    actions = recluster_flagged_cells(spark, broken, [kept[21]])
    assert actions == {kept[21]: "recentered"}, actions
    r1 = admit_semdedup_batch(spark, broken, dup_batch(501), write=False).collect()[0]
    assert r1["admitted"] and not r1["corpus_blocked"], (
        "the hazard this test exists to pin: after a re-center the "
        "duplicate assigns to a cell its twin isn't stored in and is "
        "falsely admitted — if this stopped reproducing, the admission "
        "probe became recenter-aware and maintain_indexes may repair "
        "semdedup paths again"
    )

    # --- the policy: maintenance on a semdedup path never repairs.
    sd = str(tmp_path / "sem_policy")
    build_semdedup_index(spark, corpus_dir, sd, CENTROID_IDS)
    before = sorted(
        (r["vec_id"], r["cid"], r["seq"]) for r in kept_vectors(spark, sd).collect()
    )
    report = maintain_indexes(spark, semdedup_paths=[sd])
    assert report[sd]["kind"] == "semdedup"
    # X and m drag their cells' code means off the exemplar centroids.
    assert report[sd]["drift_flagged"], "fixture must actually drift"
    assert report[sd]["repairs"] == {}
    assert "frozen-quantizer" in report[sd]["repairs_skipped"]
    after = sorted(
        (r["vec_id"], r["cid"], r["seq"]) for r in kept_vectors(spark, sd).collect()
    )
    assert after == before, "maintenance must not touch the kept set"
    r2 = admit_semdedup_batch(spark, sd, dup_batch(502), write=False).collect()[0]
    assert r2["corpus_blocked"] and not r2["admitted"], (
        "after maintenance the quantizer is still frozen, so the "
        "duplicate is still blocked"
    )


def test_semdedup_pre_seq_index_fails_loud_at_read_edge(spark, sf_dir, tmp_path):
    """ADVICE r11: the seq column became required in r11 with no layout
    version check — an index built before that died later with an
    opaque unresolved-column error inside _admission_report. The read
    edge (kept_vectors) must instead name the incompatibility and the
    remedy."""
    import pytest

    from currency_etl_pipeline_spark.queries.vectors import _vecs
    from currency_etl_pipeline_spark.sources.semdedup_index import (
        admit_semdedup_batch,
        build_semdedup_index,
        kept_vectors,
    )

    v = _vecs(spark, sf_dir)
    path = str(tmp_path / "sem_preseq")
    build_semdedup_index(
        spark, sf_dir, path, CENTROID_IDS, vectors=v.filter(F.col("vec_id") < _SPLIT)
    )
    # Rewrite the index as a pre-r11 build would have laid it out.
    old = spark.read.parquet(path).drop("seq").collect()
    legacy = str(tmp_path / "sem_legacy")
    spark.createDataFrame(old).write.partitionBy("cid").parquet(legacy)
    import shutil

    shutil.copytree(f"{path}/_centroids", f"{legacy}/_centroids")
    shutil.copy(f"{path}/_params.json", f"{legacy}/_params.json")

    with pytest.raises(ValueError, match="predates the arrival-order layout"):
        kept_vectors(spark, legacy)
    with pytest.raises(ValueError, match="predates the arrival-order layout"):
        admit_semdedup_batch(
            spark, legacy, v.filter(F.col("vec_id") >= _SPLIT), write=False
        )
