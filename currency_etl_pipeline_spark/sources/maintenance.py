"""One-call maintenance for the three persisted indexes — the loop an
operator actually schedules.

The pieces all exist and are individually pinned: the IVF vector index
(sources/ann_index.py) and the SemDeDup admission index
(sources/semdedup_index.py — same vec_id/cid layout contract, so the
IVF machinery applies verbatim) have a quantizer-health loop
(``centroid_drift_report`` → ``recluster_flagged_cells``) and
small-files compaction (``compact_ivf_index``); the MinHash dedup
index (sources/dedup_index.py) has tombstone-applying compaction
(``compact_minhash_index``). What was missing is the COMPOSITION —
"run the nightly maintenance" as one call with one report.

Order per cid-partitioned index: drift report first (reads the index
as-is), repairs second (split rewrites only flagged cells; re-center
is sidecar-only; SKIPPED for SemDeDup admission indexes, whose
correctness requires the frozen quantizer — see maintain_indexes),
compaction last (so a split's freshly-written cells and the append
backlog coalesce in the same pass, and no compacted cell is
immediately rewritten by a repair). MinHash indexes carry no
quantizer, so their whole loop is tombstone compaction.

Every step is bounded the way its own docstring argues: the drift
report is one pass over the index + a k-row broadcast; repairs touch
only flagged cells; compaction touches only over-budget cells;
tombstone compaction rewrites bands/sigs once. Nothing here scans a
corpus — maintenance cost scales with damage, not with index size.

Concurrency contract: same as the underlying pieces — every rewrite
swaps through ``localfs.install_verified``, whose re-list guard aborts
on interleaved appends, so a live streaming ingest makes the
maintenance pass fail loudly rather than lose rows. Schedule it the
way the reference schedules its load (SURVEY §3 EP1): between ingest
epochs.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def maintain_indexes(
    spark: SparkSession,
    ivf_paths=(),
    minhash_paths=(),
    semdedup_paths=(),
    drift_threshold: float = 0.05,
    max_files_per_cell: int = 1,
) -> dict:
    """Run the full maintenance loop over every index given; returns a
    per-path report::

        {path: {"kind": "ivf"|"semdedup"|"minhash",
                "drift_flagged": [cid, ...],        # cid-partitioned only
                "repairs": {cid: action, ...},      # from recluster_flagged_cells
                "cells_compacted": int,             # cid-partitioned only
                "tombstones_applied": int,          # minhash only
                "repairs_skipped": str}}            # semdedup with flagged
                                                    # cells: why no repair
                                                    # ran + the remedy

    ``semdedup_paths`` are maintained through the SAME functions as
    ``ivf_paths`` (the layouts share the vec_id/cid contract —
    pinned) EXCEPT drift repair, which is skipped for them: admission
    correctness requires the frozen quantizer (see the inline note),
    so a drifted SemDeDup index reports its flagged cells and the
    remedy but is only compacted here. The parameters are separate so
    the report names what each path is, so a caller cannot silently
    misfile one — and so the repair policy can differ by kind.
    A path appearing in more than one list (or twice in one) is that
    exact misfile and fails loud — it would otherwise be maintained
    twice with only the LAST report entry surviving.
    """
    from currency_etl_pipeline_spark.sources.ann_index import (
        centroid_drift_report,
        compact_ivf_index,
        recluster_flagged_cells,
    )
    from currency_etl_pipeline_spark.sources.dedup_index import (
        compact_minhash_index,
    )

    all_paths = [*ivf_paths, *semdedup_paths, *minhash_paths]
    dupes = sorted({p for p in all_paths if all_paths.count(p) > 1})
    if dupes:
        raise ValueError(
            f"index path(s) listed more than once across the path lists: "
            f"{dupes} — each index has exactly one kind and one loop"
        )

    report: dict = {}
    for kind, paths in (("ivf", ivf_paths), ("semdedup", semdedup_paths)):
        for path in paths:
            flagged = [
                r["cid"]
                for r in centroid_drift_report(
                    spark, path, threshold=drift_threshold
                ).collect()
                if r["recluster"]
            ]
            # SemDeDup admission indexes get NO drift repair (ADVICE
            # r11): admission correctness rests on the FROZEN quantizer
            # assigning an identical vector to the same cell as its
            # kept twin. BOTH repairs move assignment boundaries —
            # re-center rewrites the sidecar under unchanged stored
            # cids, and a split changes the global nearest-centroid
            # function while every OTHER cell keeps its old cids — so
            # after either, a duplicate of a kept vector can quantize
            # into a cell its twin isn't stored in, miss the pruned
            # probe, and be falsely admitted (pinned in
            # tests/test_incremental.py). Drift on an admission index
            # is a cell-balance (performance) signal only; the flagged
            # list is still reported so an operator can schedule the
            # correct remedy — a full build_semdedup_index rebuild,
            # which re-assigns every row and re-runs the greedy under
            # the new quantizer atomically.
            if kind == "semdedup":
                repairs = {}
            else:
                repairs = (
                    recluster_flagged_cells(spark, path, flagged) if flagged else {}
                )
            compacted = compact_ivf_index(
                spark, path, max_files_per_cell=max_files_per_cell
            )
            report[path] = {
                "kind": kind,
                "drift_flagged": flagged,
                "repairs": repairs,
                "cells_compacted": compacted,
            }
            if kind == "semdedup" and flagged:
                report[path]["repairs_skipped"] = (
                    "frozen-quantizer admission contract: rebuild with "
                    "build_semdedup_index to re-partition"
                )
    for path in minhash_paths:
        applied = compact_minhash_index(spark, path)
        report[path] = {"kind": "minhash", "tombstones_applied": applied}
    return report
