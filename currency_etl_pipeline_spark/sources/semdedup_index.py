"""Materialized SemDeDup admission index: the kept semantic corpus
persisted, new batches admitted incrementally.

`queries/vectors.semdedup_cell_prune` clusters and prunes in ONE plan —
right for a one-shot corpus audit, wrong for the ingest loop a
training-data pipeline actually runs: "is anything in this embedding
batch a semantic duplicate of the corpus we already KEPT?" asked per
batch, forever. This module persists what SemDeDup admission actually
needs — the kept vectors' int8 codes, cell-partitioned — so a batch
check touches the batch plus only the batch's OWN cells of the index
(literal ``cid IN`` → static partition pruning), never the full corpus.
Same lifecycle split as the MinHash dedup index
(sources/dedup_index.py) and the IVF vector index
(sources/ann_index.py): build once, admit cheaply, storage amortized.

Layout under ``index_path``:

- ``cid=*/``       (vec_id, label, qv array<double> int8 codes,
                    nrm long, seq long arrival order) — KEPT vectors
                    only, partitioned by cell
- ``_centroids``   the frozen coarse quantizer (ann_index convention:
                   leading underscore keeps sidecars invisible to
                   parquet scans of the index itself)
- ``_params.json`` {"tau_num2", "tau_den2"} — the duplicate threshold
                   as the exact rational tau² = num2/den2, persisted so
                   appends can never compare incompatibly

Admission semantics — SEQUENTIAL greedy in ARRIVAL order (the
exact-chain rule of ``sequential_dedup_admission`` / the minhash
streaming gate), not the in-plan query's pairwise lower-id rule: a
vector is admitted iff no ALREADY-ADMITTED vector in its cell is a
duplicate. On a chain a~b~c (a kept, a!~c) the pairwise rule drops
both b and c; the greedy drops b and admits c — the decision a
one-at-a-time ingest loop makes. kept(greedy) ⊇ kept(pairwise)
always; they coincide when the dup graph has no chains (cliques),
which ``near_dup_graph_stats``' clustering coefficient measures.

Admission ORDER (r11 — the monotonic-vec_id constraint lifted):
arrival order is an explicit persisted ``seq`` column, decoupled from
vec_id. The build stamps seq = vec_id (its greedy runs in id order);
each admitted batch stamps seq = max(indexed seq) + rank(vec_id within
batch) — so within a batch the deterministic order is still vec_id,
across batches it is arrival. Real ingest loops don't get to choose
upstream ids; what they DO own is arrival order, which is exactly what
the greedy is defined over. Consequences, both pinned in
tests/test_incremental.py:

- vec_id-ordered ingest (the fast path): build(corpus)+admit(batch) ≡
  one-shot build over corpus∪batch — the prefix property, unchanged.
- out-of-order ids: decisions equal a one-at-a-time replay in arrival
  order (brute-force twin). A rebuild from raw vectors reproduces the
  index only if replayed in seq order — the seq column IS that record.

Fail-loud id hygiene (vec_id stays the identity key): duplicate ids
WITHIN a batch raise (the greedy's sort order would be arbitrary
between the copies — the silent-winner-change class, ADVICE r10);
a batch id already present in the batch's own cells raises (the same
vector re-assigned lands in the same cell under the frozen quantizer,
so the pruned check catches true re-ingest; an id collision between
DIFFERENT vectors in different cells is upstream id corruption the
index cannot see without a full scan — ids are the caller's contract,
as with every index in this package).

Duplicate test: the all-integer compare den2·dot² ≥ num2·na·nb with a
dot > 0 guard, on int8 codes — |dot| ≤ 127²·64 ≈ 1.03e6, so every
product stays exactly representable in BOTH numpy int64 (the per-cell
Gram kernel) and JVM integer-valued doubles (the batch×kept join):
den2·dot² ≤ 4.3e14 and num2·na·nb ≤ 8.7e13, both below 2⁵³ and 2⁶³.

Sizing note: ``admit_semdedup_batch`` is the INGEST-LOOP shape — the
batch is broadcast-small next to the kept corpus and AQE broadcasts
it into the cid join. A corpus-sized backfill should NOT stream
through it (the cid key has only k distinct values, so a sort-merge
on it would hot-spot): rebuild instead — the greedy is order-defined,
so build(corpus∪backfill) is the same answer the loop would have
produced, one partitioned write instead of millions of appends.

Maintenance: the layout (rows keyed by vec_id, partitioned by cid)
deliberately matches the IVF index's contract, so ann_index's
maintenance functions apply VERBATIM — ``delete_from_ivf_index`` is
this index's RTBF (count-verified rewrite of only the affected cells)
and ``compact_ivf_index`` its small-files compaction. RTBF semantics:
deleting a kept vector removes the BLOCKER — future duplicates of it
will be admitted — but does NOT resurrect the duplicates it rejected
earlier (they were never stored; sequential admission is historical,
the decision an ingest loop already acted on). Pinned in
tests/test_incremental.py.

Scale shape: assignment is the map-side broadcast-centroid pass; the
corpus-blocked check is a cid equi-join of the batch against ONLY the
probed cells (batch cells ≤ min(|batch|, k) — a bounded literal, so
the scan partition-prunes); within-batch chains run as one numpy Gram
per touched cell over BATCH rows only. Per-append cost is independent
of corpus size except the pruned kept-cell scan — the property that
makes the loop runnable forever. k is sized so cells stay bounded
(the SemDeDup paper's constraint; ivf_centroid_drift_report is the
recluster trigger when appends outgrow the frozen quantizer).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from currency_etl_pipeline_spark.queries.vectors import _vecs, dot, quantize_int8
from currency_etl_pipeline_spark.sources.ann_index import (
    _centroids,
    _ranked_cells,
    load_index_centroids,
)

_CENTROID_SIDECAR = "_centroids"


def _params_file(index_path: str) -> str:
    return os.path.join(index_path, "_params.json")


def load_semdedup_params(index_path: str) -> dict:
    from currency_etl_pipeline_spark.sources.localfs import sidecar_fs

    text = sidecar_fs(index_path).read_text(_params_file(index_path))
    if text is None:
        raise FileNotFoundError(f"no _params.json under {index_path}")
    return json.loads(text)


def quantized_cells(vectors: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, label, cid, qv, nrm): nearest-cell assignment (the
    rounded-cosine/cid tie-break shared with ivf/semdedup queries) plus
    int8 codes and their exact integer norm. Zero-norm vectors are
    dropped — cosine is undefined for them (the registered query's
    rule). Map-side only: centroids broadcast, no shuffle."""
    live = vectors.filter(F.array_max(F.transform(F.col("v"), F.abs)) > 0)
    assigned = (
        _ranked_cells(live, cents)
        .filter(F.col("rn") == 1)
        .select("vec_id", "label", "cid", quantize_int8(F.col("v")).alias("qv"))
    )
    return assigned.withColumn("nrm", dot(F.col("qv"), F.col("qv")).cast("long"))


def _is_dup(d, na, nb, num2, den2):
    """den2·d² ≥ num2·na·nb with d > 0 — exact on integer-valued
    doubles at int8 scale (module docstring's headroom bound)."""
    return (d > 0) & (F.lit(den2) * d * d >= F.lit(num2) * na * nb)


def _admit_cell_greedy(pdf):
    """Per-cell sequential admission kernel (grouped-map
    applyInPandas): rows sorted by vec_id; a row is admitted iff not
    corpus-blocked (``rej``) and no already-ADMITTED earlier row in the
    cell is a duplicate. One int64 Gram matrix per cell over the rows
    handed in (build: the whole cell; append: batch rows only — the
    corpus check arrives pre-computed as ``rej``). tau² rides along as
    the tn2/td2 columns so the kernel matches the index params."""
    import numpy as np
    import pandas as pd

    pdf = pdf.sort_values("vec_id").reset_index(drop=True)
    num2, den2 = int(pdf["tn2"].iloc[0]), int(pdf["td2"].iloc[0])
    q = np.array([list(x) for x in pdf["qv"]], dtype=np.float64).astype(np.int64)
    d = q @ q.T
    nrm = np.diag(d).copy()
    dup = (d > 0) & (den2 * d * d >= num2 * np.outer(nrm, nrm))
    np.fill_diagonal(dup, False)
    rej = pdf["rej"].to_numpy().astype(bool)
    admitted = np.zeros(len(pdf), dtype=bool)
    for i in range(len(pdf)):
        if not rej[i] and not dup[i, :i][admitted[:i]].any():
            admitted[i] = True
    return pd.DataFrame({"vec_id": pdf["vec_id"], "admitted": admitted})


def _greedy_admitted(qc: DataFrame, num2: int, den2: int) -> DataFrame:
    """(vec_id, admitted) for quantized-cell rows carrying a ``rej``
    corpus-blocked flag, via the per-cell greedy kernel."""
    withp = qc.withColumn("tn2", F.lit(num2)).withColumn("td2", F.lit(den2))
    return withp.groupBy("cid").applyInPandas(
        _admit_cell_greedy, schema="vec_id long, admitted boolean"
    )


def build_semdedup_index(
    spark: SparkSession,
    sf_dir: str,
    index_path: str,
    centroid_ids,
    vectors: DataFrame | None = None,
    tau_num2: int = 81,
    tau_den2: int = 400,
) -> None:
    """Assign + quantize the corpus once, run the per-cell greedy, land
    ONLY the kept rows partitioned by cid; persist the quantizer and
    threshold sidecars. ``vectors`` overrides the corpus (vec_id/
    label/v columns) — the incremental tests build from a historical
    subset this way."""
    from currency_etl_pipeline_spark.sources.localfs import sidecar_fs

    v = vectors if vectors is not None else _vecs(spark, sf_dir)
    cents = _centroids(spark, sf_dir, centroid_ids)
    qc = quantized_cells(v, cents).withColumn("rej", F.lit(False))
    kept = _greedy_admitted(qc, tau_num2, tau_den2).filter(F.col("admitted"))
    # seq = vec_id: the build's greedy runs in id order, so id IS the
    # arrival order it decides under; appends stamp max(seq)+rank.
    rows = qc.join(kept.select("vec_id"), "vec_id").select(
        "vec_id", "label", "qv", "nrm", F.col("vec_id").alias("seq"), "cid"
    )
    rows.write.mode("overwrite").partitionBy("cid").parquet(index_path)
    cents.write.mode("overwrite").parquet(os.path.join(index_path, _CENTROID_SIDECAR))
    sidecar_fs(index_path, spark).write_text(
        _params_file(index_path),
        json.dumps({"tau_num2": tau_num2, "tau_den2": tau_den2}),
    )


def kept_vectors(spark: SparkSession, index_path: str) -> DataFrame:
    """The kept corpus relation (vec_id, label, qv, nrm, seq, cid).

    Layout-version guard (ADVICE r11): ``seq`` became a required
    column in r11 (arrival-order admission). An index built before
    that ships no ``seq``, and the first consumer to notice would be
    _admission_report's ``max("seq")`` — an opaque unresolved-column
    AnalysisException deep in an append. Fail here, at the read edge,
    with the actual remedy (schema-only check, no job)."""
    df = spark.read.parquet(index_path)
    if "seq" not in df.columns:
        raise ValueError(
            f"SemDeDup index at {index_path} predates the arrival-order "
            "layout (no `seq` column): rebuild it with "
            "build_semdedup_index, or backfill seq = vec_id (the build's "
            "own stamp — the pre-seq greedy ran in id order, so id IS "
            "its arrival order)"
        )
    return df


def probed_kept(spark: SparkSession, index_path: str, cells) -> DataFrame:
    """Kept rows of ONLY the given cells — ``cells`` is a bounded
    literal list (a batch touches ≤ min(|batch|, k) cells), so the
    ``cid IN`` filter is static partition pruning at the scan
    (PartitionFilters; plan-pinned in tests/test_incremental.py —
    the search_ivf_index discipline). Exposed so tests can pin the
    exact scan the admission join runs.

    An EMPTY ``cells`` list returns the empty relation, not the full
    corpus (ADVICE r10: the silent fallback would defeat partition
    pruning for any caller passing a computed, possibly-empty list —
    'no cells probed' must mean 'no rows', as it does for an empty or
    all-zero-norm batch)."""
    kept = kept_vectors(spark, index_path)
    return kept.filter(F.col("cid").isin(*cells)) if cells else kept.limit(0)


def _admission_report(
    spark: SparkSession, index_path: str, batch_vectors: DataFrame
) -> DataFrame:
    """The admission decisions with the rows needed to land them:
    (vec_id, cid, label, qv, nrm, seq, corpus_blocked, admitted),
    localCheckpointed so callers land/report without re-running the
    greedy. Computed against the index's COMMITTED state — the
    exactly-once path relies on calling this only after its purge.

    Arrival order: each batch row gets seq = max(indexed seq) +
    rank(vec_id within batch). The unpartitioned row_number window is
    a single-partition pass over the BATCH only — bounded by the
    ingest-loop shape (module sizing note), never corpus-sized."""
    from pyspark.sql import Window as W

    p = load_semdedup_params(index_path)
    num2, den2 = p["tau_num2"], p["tau_den2"]
    cents = load_index_centroids(spark, index_path)
    qc = quantized_cells(batch_vectors, cents)

    kept_all = kept_vectors(spark, index_path)
    idx_stats = kept_all.agg(
        F.max("vec_id").alias("max_vid"), F.max("seq").alias("max_seq")
    ).collect()[0]
    # On the RAW batch: quantized_cells' rn==1 assignment window keeps
    # one row per vec_id, so a duplicated id would be collapsed silently
    # (arbitrary winner) before any post-assignment count could see it.
    # count(lit(1)), not count(vec_id): NULL ids skip both count("col")
    # and countDistinct, so null-id rows would pass the equality check
    # and then collapse in the same window (code-review r11).
    b = batch_vectors.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("vec_id").alias("nd"),
        F.sum(F.col("vec_id").isNull().cast("int")).alias("n_null"),
        F.min("vec_id").alias("lo"),
    ).collect()[0]
    if b["n_null"]:
        raise ValueError(
            f"batch carries {b['n_null']} NULL vec_id row(s): vec_id is "
            "the identity key — assign ids upstream"
        )
    if b["n"] != b["nd"]:
        raise ValueError(
            f"batch carries duplicate vec_ids ({b['n']} rows, {b['nd']} "
            "distinct): the greedy's order between equal ids is arbitrary, "
            "so which copy wins would be nondeterministic"
        )

    batch_cells = sorted({r["cid"] for r in qc.select("cid").distinct().collect()})
    kept = probed_kept(spark, index_path, batch_cells)
    if (
        idx_stats["max_vid"] is not None
        and b["lo"] is not None
        and b["lo"] <= idx_stats["max_vid"]
    ):
        # Out-of-order ids: legal (seq carries arrival order), but an id
        # already present would silently alias two vectors — check the
        # batch's own cells (same vector → same cell under the frozen
        # quantizer; see module docstring for the contract's limits).
        clash = (
            qc.select("vec_id")
            .join(kept.select("vec_id"), "vec_id", "left_semi")
            .limit(1)
            .collect()
        )
        if clash:
            raise ValueError(
                f"batch vec_id {clash[0]['vec_id']} already kept in the "
                "index: vec_id is the identity key — re-ingest or upstream "
                "id collision"
            )
    base_seq = int(idx_stats["max_seq"]) if idx_stats["max_seq"] is not None else 0
    qc = qc.withColumn(
        "seq",
        (F.lit(base_seq) + F.row_number().over(W.orderBy("vec_id"))).cast("long"),
    )
    blocked = (
        qc.select(
            F.col("vec_id").alias("b_id"),
            F.col("cid").alias("b_cid"),
            F.col("qv").alias("b_qv"),
            F.col("nrm").alias("b_nrm"),
        )
        .join(kept.select("cid", "qv", "nrm"), F.col("cid") == F.col("b_cid"), "left")
        .groupBy(F.col("b_id").alias("vec_id"))
        .agg(
            F.max(
                F.coalesce(
                    _is_dup(
                        dot(F.col("b_qv"), F.col("qv")),
                        F.col("b_nrm"),
                        F.col("nrm"),
                        num2,
                        den2,
                    ),
                    F.lit(False),
                )
            ).alias("corpus_blocked")
        )
    )
    flagged = qc.join(blocked, "vec_id").withColumn("rej", F.col("corpus_blocked"))
    decisions = _greedy_admitted(flagged, num2, den2)
    return (
        flagged.select("vec_id", "cid", "label", "qv", "nrm", "seq", "corpus_blocked")
        .join(decisions, "vec_id")
        .localCheckpoint(eager=True)  # decide once; landing must not re-run the greedy
    )


def _admitted_rows(report: DataFrame) -> DataFrame:
    return report.filter(F.col("admitted")).select(
        "vec_id", "label", "qv", "nrm", "seq", "cid"
    )


def admit_semdedup_batch(
    spark: SparkSession,
    index_path: str,
    batch_vectors: DataFrame,
    write: bool = True,
) -> DataFrame:
    """Admit a batch against the kept corpus; returns the decision
    relation (vec_id, cid, corpus_blocked, admitted) and (by default)
    appends the admitted rows' codes into their cid= partitions.

    Plan: assign the batch against the FROZEN sidecar quantizer
    (map-side); collect its cell ids (≤ min(|batch|, k) ints — bounded
    by construction) and scan ONLY those index partitions for the
    corpus-blocked check (one cid equi-join, integer-exact duplicate
    compare); resolve within-batch chains with the per-cell greedy
    kernel over batch rows only. Arbitrary vec_ids are admitted in
    ARRIVAL order via the persisted seq column (module docstring);
    duplicate ids within a batch, or a batch id already kept in the
    batch's own cells, fail loud.
    """
    report = _admission_report(spark, index_path, batch_vectors)
    if write:
        _admitted_rows(report).write.mode("append").partitionBy("cid").parquet(index_path)
    return report.select("vec_id", "cid", "corpus_blocked", "admitted")


def admit_semdedup_batch_exactly_once(
    spark: SparkSession, index_path: str, batch_vectors: DataFrame, token: str
) -> bool:
    """``admit_semdedup_batch`` with an EXACTLY-ONCE end state under
    at-least-once execution, through
    ``sources/localfs.append_exactly_once``. Admission DECISIONS depend
    on index state, so they are computed inside the stage step, AFTER
    the protocol's purge: a replay of a crashed attempt decides against
    the clean committed state and reproduces the same admitted set.
    Rejected rows are decisions, not files — only admitted rows are
    staged and installed. Returns True if this call landed the batch.
    """
    from currency_etl_pipeline_spark.sources.localfs import append_exactly_once

    return append_exactly_once(
        spark,
        index_path,
        token,
        lambda stage: _admitted_rows(_admission_report(spark, index_path, batch_vectors))
        .write.mode("overwrite")
        .partitionBy("cid")
        .parquet(stage),
    )
