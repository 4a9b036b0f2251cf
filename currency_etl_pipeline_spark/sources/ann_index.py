"""Materialized IVF vector index: cell-partitioned parquet + pruned search.

`queries/advanced.ivf_ann_topk` quantizes and searches in ONE plan —
right for a one-shot query, wasteful for a serving corpus where the
same index answers many queries. This module splits the lifecycle the
way a production vector store does (FAISS IVF / every disk-ANN system,
public literature):

- ``build_ivf_index``: assign every vector to its nearest coarse
  centroid once, land the corpus as parquet PARTITIONED BY cell id.
  Build cost is one map-side pass (centroids broadcast) plus the
  partitioned write's shuffle — paid once, amortized over every query.
- ``search_ivf_index``: per query, pick the ``nprobe`` nearest cells
  from the tiny centroid table, then read ONLY those cells — the
  ``cid IN (...)`` filter is a literal, so Catalyst prunes partitions
  at planning time (``PartitionFilters`` on the scan; pytest asserts
  the unprobed ~6/8 of the corpus is never opened). At 100 TB with
  thousands of cells a query touches nprobe/cells of the data; the
  in-plan equi-join variant would still scan everything once per
  query batch.

The cell-assignment rule is byte-identical to ``ivf_ann_topk``
(same deterministic centroids, same rounded-cosine/cid tie-break), so
searching the materialized index returns exactly that query's rows —
pinned by ``tests/test_scale_plans.py::test_ivf_index_search_*``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from currency_etl_pipeline_spark.functions.scalars import dec
from currency_etl_pipeline_spark.operators.topk import top_k_per_group
from currency_etl_pipeline_spark.queries.vectors import _vecs, cosine


def _centroids(spark: SparkSession, sf_dir: str, centroid_ids) -> DataFrame:
    v = _vecs(spark, sf_dir)
    lo = min(centroid_ids)
    return v.filter(F.col("vec_id").isin(*centroid_ids)).select(
        (F.col("vec_id") - lo).alias("cid"), F.col("v").alias("cv")
    )


def _centroid_sidecar(index_path: str) -> str:
    # Leading underscore: Spark's parquet reader skips `_`-prefixed
    # paths, so the sidecar is invisible to scans of the index itself.
    return f"{index_path}/_centroids"


def load_index_centroids(spark: SparkSession, index_path: str) -> DataFrame:
    """The coarse centroids the index was built with, persisted WITH
    the index — the piece that makes the index self-describing, so
    appends and drift checks don't have to re-derive (or worse,
    re-train) the quantizer from the original corpus."""
    return spark.read.parquet(_centroid_sidecar(index_path))


def _ranked_cells(vectors: DataFrame, cents: DataFrame) -> DataFrame:
    """Every vector scored against every (broadcast) centroid, ranked
    by rounded cosine with a cid tie-break — rn=1 is the assignment,
    rn<=nprobe are a query's probe cells. Rounding before ranking keeps
    the assignment engine- and partition-count-independent."""
    scored = vectors.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "label",
        "v",
        "cid",
        F.round(cosine(F.col("v"), F.col("cv")), 6).alias("csim"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("csim").desc(), F.col("cid").asc())
    return scored.withColumn("rn", F.row_number().over(w))


def build_ivf_index(
    spark: SparkSession, sf_dir: str, index_path: str, centroid_ids, vectors=None
) -> None:
    """One pass: nearest-centroid assignment (map-side, centroids
    broadcast) → parquet partitioned by cid. Cell counts follow the
    data; the partitioned write shuffles each row once to its cell.
    ``vectors`` overrides the corpus (same vec_id/label/v columns) —
    the incremental tests build from a historical subset this way."""
    v = vectors if vectors is not None else _vecs(spark, sf_dir)
    cents = _centroids(spark, sf_dir, centroid_ids)
    assigned = (
        _ranked_cells(v, cents)
        .filter(F.col("rn") == 1)
        .select("vec_id", "label", F.col("v").alias("dv"), "cid")
    )
    assigned.write.mode("overwrite").partitionBy("cid").parquet(index_path)
    cents.write.mode("overwrite").parquet(_centroid_sidecar(index_path))


def probe_cells(probes: DataFrame) -> list[int]:
    """Distinct probed cell ids, collected to the driver — bounded by
    nprobe × |queries| ints by construction. Exposed so tests can
    assert the pruned scan touches exactly this set."""
    return sorted({r["pcid"] for r in probes.select("pcid").distinct().collect()})


def search_ivf_index(
    spark: SparkSession,
    sf_dir: str,
    index_path: str,
    query_ids,
    centroid_ids=None,
    nprobe: int = 2,
    k: int = 5,
) -> DataFrame:
    """Top-k per query over ONLY the probed cells.

    The probe set (query_ids × nprobe cell ids) is bounded — queries
    are a handful, cells are a table of k_coarse rows — so collecting
    the probed cid list to the driver is O(nprobe × |queries|) ints,
    and embedding it as a LITERAL IN-filter is what turns the read
    into static partition pruning instead of a runtime join filter.

    ``centroid_ids=None`` ranks probes against the index's OWN sidecar
    centroids — required after ``recluster_ivf_index`` (the stored
    quantizer no longer corresponds to any corpus vec_ids) and the
    generally-correct self-describing default; passing ids keeps the
    legacy derive-from-corpus behavior byte-identical.
    """
    v = _vecs(spark, sf_dir)
    cents = (
        load_index_centroids(spark, index_path)
        if centroid_ids is None
        else _centroids(spark, sf_dir, centroid_ids)
    )
    queries = v.filter(F.col("vec_id").isin(*query_ids))
    probes = (
        _ranked_cells(queries, cents)
        .filter(F.col("rn") <= nprobe)
        .select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), F.col("cid").alias("pcid"))
    )
    probed_cids = probe_cells(probes)
    index = spark.read.parquet(index_path).filter(F.col("cid").isin(*probed_cids))
    cand = index.join(
        F.broadcast(probes),
        (F.col("cid") == F.col("pcid")) & (F.col("vec_id") != F.col("query_id")),
    ).select(
        "query_id",
        "vec_id",
        "label",
        F.round(cosine(F.col("dv"), F.col("qv")), 6).alias("cos_sim"),
    )
    return top_k_per_group(
        cand, ["query_id"], [F.col("cos_sim").desc(), F.col("vec_id").asc()], k=k, descending=False
    ).select("query_id", "vec_id", "label", "cos_sim")


def build_ivf_sq8_index(
    spark: SparkSession, sf_dir: str, index_path: str, centroid_ids, vectors=None
) -> None:
    """IVF + int8 scalar quantization (the IVF_SQ8 composition): cells
    partition the corpus, rows store int8 CODES instead of the float
    vectors — logically 1 byte/dim (parquet encodes INT8 as
    dictionary/RLE-compressed INT32; Arrow holds it as 1 byte in
    memory), so the per-query probed-cell scan moves a fraction of the
    bytes the float index would. Scales cancel inside cosine
    (queries/vectors.quantize_int8), so no scale column is needed;
    exact re-ranking recovers full precision by joining the float
    corpus ONLY for the surviving candidates."""
    from currency_etl_pipeline_spark.queries.vectors import quantize_int8

    v = vectors if vectors is not None else _vecs(spark, sf_dir)
    v = v.filter(F.array_max(F.transform(F.col("v"), F.abs)) > 0)
    cents = _centroids(spark, sf_dir, centroid_ids)
    assigned = (
        _ranked_cells(v, cents)
        .filter(F.col("rn") == 1)
        .select(
            "vec_id",
            "label",
            quantize_int8(F.col("v")).cast("array<tinyint>").alias("qv"),
            "cid",
        )
    )
    assigned.write.mode("overwrite").partitionBy("cid").parquet(index_path)
    cents.write.mode("overwrite").parquet(_centroid_sidecar(index_path))


def search_ivf_sq8_index(
    spark: SparkSession,
    sf_dir: str,
    index_path: str,
    query_ids,
    centroid_ids=None,
    nprobe: int = 2,
    k: int = 10,
    rerank: int = 30,
) -> DataFrame:
    """Quantized scan over the probed cells → top-``rerank`` candidates
    per query by int8 cosine → exact re-rank via a join back to the
    float corpus on vec_id (narrow: ``rerank × |queries|`` rows) →
    top-``k``. Ties break on (rounded score, vec_id) at both stages so
    the result is engine- and layout-independent.

    ``centroid_ids=None`` ranks probes against the index's own sidecar
    (the self-describing default ``search_ivf_index`` already has) —
    required after an SQ8 ``recluster_flagged_cells`` re-center, whose
    repaired centroids correspond to no corpus vec_ids."""
    from currency_etl_pipeline_spark.queries.vectors import quantize_int8

    # Zero-norm filter on the query side too (the build already excludes
    # them from the index): quantize_int8 on a zero vector yields inf
    # scale -> NaN codes -> NaN scores that sort FIRST under desc and
    # would emit k garbage rows. Filtered, such a query returns no rows
    # — the same contract as ann_int8_rerank_topk, keeping the pinned
    # bit-equality honest on any corpus.
    v = _vecs(spark, sf_dir).filter(F.array_max(F.transform(F.col("v"), F.abs)) > 0)
    cents = (
        load_index_centroids(spark, index_path)
        if centroid_ids is None
        else _centroids(spark, sf_dir, centroid_ids)
    )
    queries = v.filter(F.col("vec_id").isin(*query_ids))
    probes = (
        _ranked_cells(queries, cents)
        .filter(F.col("rn") <= nprobe)
        .select(
            F.col("vec_id").alias("query_id"),
            quantize_int8(F.col("v")).alias("qqv"),
            F.col("v").alias("qdv"),
            F.col("cid").alias("pcid"),
        )
    )
    probed_cids = probe_cells(probes)
    index = (
        spark.read.parquet(index_path)
        .filter(F.col("cid").isin(*probed_cids))
        .select("vec_id", "label", F.col("qv").cast("array<double>").alias("qv"), "cid")
    )
    scored = index.join(
        F.broadcast(probes),
        (F.col("cid") == F.col("pcid")) & (F.col("vec_id") != F.col("query_id")),
    ).select(
        "query_id",
        "vec_id",
        "label",
        "qdv",
        F.round(cosine(F.col("qv"), F.col("qqv")), 6).alias("qcos_sim"),
    )
    cand = top_k_per_group(
        scored, ["query_id"], [F.col("qcos_sim").desc(), F.col("vec_id").asc()], k=rerank, descending=False
    )
    full = v.select("vec_id", F.col("v").alias("dv"))
    reranked = cand.join(full, "vec_id").select(
        "query_id",
        "vec_id",
        "label",
        "qcos_sim",
        F.round(cosine(F.col("dv"), F.col("qdv")), 6).alias("cos_sim"),
    )
    return top_k_per_group(
        reranked, ["query_id"], [F.col("cos_sim").desc(), F.col("vec_id").asc()], k=k, descending=False
    ).select("query_id", "vec_id", "label", "qcos_sim", "cos_sim")


# --- incremental maintenance ----------------------------------------------
#
# A serving corpus grows; rebuilding the whole index per batch of new
# vectors is the recompute-from-scratch anti-pattern (the same one the
# CDC delta-apply operator retires for rollups). The standard IVF
# lifecycle — FAISS's add() vs train(), every disk-ANN system — is:
# APPEND new vectors against the FROZEN coarse quantizer (cheap, cells
# stay correct because assignment only depends on the stored
# centroids), and monitor per-cell DRIFT between the stored centroid
# and the current cell population; re-cluster only when drift says the
# quantizer stopped describing the data (recall decays because probe
# ranking and true neighborhoods diverge).


def append_ivf_index(
    spark: SparkSession, index_path: str, vectors: DataFrame, sq8: bool | None = None
) -> None:
    """Append NEW vectors to a materialized IVF index without rebuild.

    Assignment runs against the centroids PERSISTED with the index
    (the sidecar), so an append is one map-side pass over the new
    batch (centroids broadcast) plus a partitioned append-write — new
    parquet files land inside the existing cid= partition dirs and
    existing files are never touched. Because the assignment rule is
    byte-identical to the build's, append(base)+append(rest) produces
    the same logical index as a full rebuild — searching either
    returns identical rows (pinned in tests/test_incremental.py).

    ``sq8=None`` (default) detects the layout from the index's own
    schema (dv = float, qv = SQ8 codes) — one parquet-footer read; an
    EXPLICIT sq8 that contradicts the index raises instead of
    appending mixed-schema rows that null-pad every read (ADVICE r7
    finding 3). Streaming callers (stream_append_ivf_index) inherit
    the detection and so work against either layout.

    ``vectors`` must carry (vec_id, label, v) with vec_ids NOT already
    in the index — id-level dedup/upsert is the warehouse family's job
    (SnapshotStore), not the index's. The batch's carried-through
    column TYPES (vec_id, label) must match the index's: parquet
    appends don't unify schemas, so e.g. a string label landing in an
    int-label index poisons the cell — reads that prune the label
    still work, and the corruption only surfaces when a maintenance
    rewrite (split/compact/RTBF) materializes it (r8 hardening).
    """
    assigned = _assigned_append_batch(spark, index_path, vectors, sq8)
    assigned.write.mode("append").partitionBy("cid").parquet(index_path)


def _assigned_append_batch(
    spark: SparkSession, index_path: str, vectors: DataFrame, sq8: bool | None = None
) -> DataFrame:
    """Validate + layout-detect + assign one append batch against the
    index's frozen sidecar quantizer(s); shared by the plain and the
    exactly-once appends. Layouts: float (dv), SQ8 (qv), IVF-PQ
    (codes — r9: assigns cells via the centroid sidecar and encodes
    against the ``_pq_codebook`` sidecar, so streaming appends work on
    PQ indexes too)."""
    from currency_etl_pipeline_spark.sources.localfs import sidecar_fs

    fs = sidecar_fs(index_path, spark)
    if fs.exists(f"{index_path}/_params.json"):
        # Disambiguate by sidecar CONTENT, not filename (ADVICE r11):
        # the MinHash index writes the same _params.json name; only the
        # SemDeDup admission sidecar carries the tau_* threshold keys.
        import json as _json

        try:
            keys = set(_json.loads(fs.read_text(f"{index_path}/_params.json")))
        except Exception:
            # Unreadable/corrupt sidecar: refuse with THAT diagnosis —
            # labeling it "misfiled MinHash" would send the operator
            # after the wrong remedy (review r12).
            keys = None
        if keys is None:
            kind = (
                "of undetermined kind (its _params.json is unreadable or "
                "not valid JSON — restore the sidecar before any append)"
            )
        elif {"tau_num2", "tau_den2"} <= keys:
            kind = (
                "a SemDeDup admission index — use admit_semdedup_batch / "
                "stream_append_semdedup_index instead"
            )
        else:
            kind = (
                "not an IVF index (params sidecar without SemDeDup "
                "thresholds — a misfiled MinHash or foreign index path?)"
            )
        raise ValueError(
            f"index at {index_path} carries a _params.json sidecar: raw "
            f"IVF appends would bypass its contract and mix layouts; it is {kind}"
        )
    idx_schema = {f.name: f.dataType for f in spark.read.parquet(index_path).schema}
    batch_schema = {f.name: f.dataType for f in vectors.schema}
    for col in ("vec_id", "label"):
        if col in idx_schema and col in batch_schema and idx_schema[col] != batch_schema[col]:
            raise ValueError(
                f"append schema mismatch: index column {col!r} is "
                f"{idx_schema[col].simpleString()} but the batch carries "
                f"{batch_schema[col].simpleString()}; parquet appends don't "
                "unify types and the cell would be unreadable to rewrites"
            )
    cents = load_index_centroids(spark, index_path)
    if "codes" in idx_schema:
        if sq8:
            raise ValueError(
                f"append layout mismatch: index at {index_path} is IVF-PQ "
                "(codes) but caller requested sq8=True"
            )
        cb_rows = [
            (int(r["s"]), int(r["code_idx"]), [int(x) for x in r["cw"]])
            for r in spark.read.parquet(_pq_codebook_sidecar(index_path)).collect()
        ]
        return (
            _ranked_cells(vectors, cents)
            .filter(F.col("rn") == 1)
            .select("vec_id", "label", quantize_vec9(F.col("v")).alias("q9"), "cid")
            .select("vec_id", "label", _pq_encode_codes(cb_rows).alias("codes"), "cid")
        )
    existing_sq8 = "qv" in idx_schema
    if sq8 is None:
        sq8 = existing_sq8
    elif sq8 != existing_sq8:
        raise ValueError(
            f"append layout mismatch: index at {index_path} is "
            f"{'SQ8 (qv)' if existing_sq8 else 'float (dv)'} but caller "
            f"requested sq8={sq8}; a mixed-schema append would null-pad reads"
        )
    if sq8:
        from currency_etl_pipeline_spark.queries.vectors import quantize_int8

        vectors = vectors.filter(F.array_max(F.transform(F.col("v"), F.abs)) > 0)
        cols = [
            "vec_id",
            "label",
            quantize_int8(F.col("v")).cast("array<tinyint>").alias("qv"),
            "cid",
        ]
    else:
        cols = ["vec_id", "label", F.col("v").alias("dv"), "cid"]
    return _ranked_cells(vectors, cents).filter(F.col("rn") == 1).select(*cols)


def append_ivf_index_exactly_once(
    spark: SparkSession, index_path: str, vectors: DataFrame, token: str
) -> bool:
    """``append_ivf_index`` with an EXACTLY-ONCE end state under
    at-least-once execution: the batch goes through
    ``sources/localfs.append_exactly_once`` (probe ``_commits/<token>``
    → purge → stage → deterministic-name install into the cid=
    partitions → marker), staged with the same validation, layout
    detection and frozen-quantizer assignment as the plain append.
    Any retry of the same logical batch must pass the same ``token``;
    the marker retention rule and the token-namespace contract are
    documented there. Returns True if this call landed the batch,
    False if it was already committed.
    """
    from currency_etl_pipeline_spark.sources.localfs import append_exactly_once

    return append_exactly_once(
        spark,
        index_path,
        token,
        lambda stage: _assigned_append_batch(spark, index_path, vectors)
        .write.mode("overwrite")
        .partitionBy("cid")
        .parquet(stage),
    )


# Fixed-point mean: DECIMAL(28,9) per-dimension partial sums make the
# cell mean exact and partition-order-independent, so the drift report
# is reproducible across engines and layouts (the dec() discipline).
# Scale 9 (not 12) keeps the scaled-integer sum far below 2^53, where
# DuckDB's DECIMAL→DOUBLE cast can diverge from Spark's by one ulp;
# 1e-9 quantization is noise against the report's 6 dp rounding.
_MEAN_PREC, _MEAN_SCALE = 28, 9


def cell_mean_vectors(
    assigned: DataFrame, vec_col: str = "dv", flag=None, scaled: bool = False
) -> DataFrame:
    """Per-cell member count and mean vector: (cid, n[, n_flagged], mv
    [, mqv]).

    posexplode → per-(cid, dim) DECIMAL partial sums → re-assembled
    ordered array. The explode multiplies rows by the dimensionality,
    but hash aggregation combines map-side, so the shuffle carries only
    |cells| × d rows per task — cells and d are both bounded, the
    corpus size never crosses the exchange. ``flag`` (optional boolean
    Column over the input) adds an n_flagged count — e.g. "how many of
    this cell's members arrived after the last build".

    ``scaled=True`` additionally emits ``mqv``: the mean vector as
    scale-9 fixed-point BIGINTs, derived from the exact DECIMAL
    partials by pure integer arithmetic (round-half-up division,
    ``(|sq| + n DIV 2) DIV n`` — truncating integer division on
    non-negative operands, which Spark's DIV and DuckDB's // agree
    on). Unlike ``mv`` (a double division whose ulps differ between
    engines), ``mqv`` is bit-identical everywhere the DECIMAL partials
    are — the input the drift report's exact cosine needs. Bound: the
    scaled per-dim sum must fit a BIGINT, i.e. |Σ val| < ~9.2e9 per
    dimension per cell — unit-norm-ish embeddings stay within that up
    to ~10^9 rows per cell.
    """
    flag_col = flag if flag is not None else F.lit(False)
    exploded = assigned.select(
        "cid",
        flag_col.cast("int").alias("_flagged"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "val"),
    )
    per_dim = exploded.groupBy("cid", "pos").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("_flagged").alias("fcnt"),
        F.sum(dec("val", _MEAN_PREC, _MEAN_SCALE)).alias("s"),
    )
    if scaled:
        # DECIMAL(19,9) * 1e9 -> DECIMAL(30,9): inside both engines'
        # 38-digit cap, so the product is exact (no silent scale
        # reduction) and the BIGINT holds the integer exactly.
        per_dim = per_dim.withColumn(
            "sq", (F.col("s").cast("decimal(19,9)") * F.lit(_Q9)).cast("long")
        ).withColumn(
            "mq",
            F.expr(
                "CASE WHEN sq >= 0 THEN (sq + cnt DIV 2) DIV cnt "
                "ELSE -((-sq + cnt DIV 2) DIV cnt) END"
            ),
        )
    collected = [
        F.max("cnt").alias("n"),
        F.max("fcnt").alias("n_flagged"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "s"))),
            lambda r: r["s"].cast("double"),
        ).alias("_sums"),
    ]
    if scaled:
        collected.append(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "mq"))),
                lambda r: r["mq"],
            ).alias("mqv")
        )
    agg = per_dim.groupBy("cid").agg(*collected)
    out = agg.select(
        "cid",
        "n",
        "n_flagged",
        F.transform("_sums", lambda s: s / F.col("n")).alias("mv"),
        *(["mqv"] if scaled else []),
    )
    return out if flag is not None else out.drop("n_flagged")


# Fixed-point quantum for the drift report's exact cosine (scale 9,
# matching _MEAN_SCALE): small enough that quantization error is noise
# against the 6 dp output rounding, large enough that the integer
# norm/dot partials stay far inside DECIMAL(38,0).
_Q9 = 1_000_000_000


def quantize_vec9(v) -> "F.Column":
    """array<double> → array<long> at scale 9, via an exact DECIMAL
    intermediate (DECIMAL(19,9) * 1e9 = DECIMAL(30,9), no precision
    cap in either engine) so Spark and DuckDB produce identical
    integers — the double→DECIMAL(19,9) cast rounds half-up in both."""
    col = F.col(v) if isinstance(v, str) else v
    return F.transform(col, lambda x: (x.cast("decimal(19,9)") * F.lit(_Q9)).cast("long"))


def exact_drift(cv, mqv) -> "F.Column":
    """1 − cosine(cv, mqv) rounded to 6 dp, computed so both engines
    emit the SAME DOUBLE BITS (the r6 `ivf_centroid_drift_report` hash
    failure was summation-order ulps in a double fold — see
    CORRECTNESS_r06 / ADVICE r7; this is the NLL fixed-point
    discipline applied to cosine, queries/llm_prep.py:953).

    ``cv`` is a float array (quantized here to scale 9); ``mqv`` is
    already scale-9 integers (cell_mean_vectors ``scaled=True``).
    Exact DECIMAL partials (``_int_cos_parts``) + one fixed-form
    float edge (``_cos_edge``) + one subtract + one 6 dp round.
    """
    aq = quantize_vec9(cv)
    mq = F.col(mqv) if isinstance(mqv, str) else mqv
    dot, na, nb = _int_cos_parts(aq, mq)
    return F.round(F.lit(1.0) - _cos_edge(dot, na, nb), 6)


def _int_cos_parts(aq, bq):
    """(dot, na, nb) of two scale-9 integer arrays as exact
    DECIMAL(38,0) sums — order-independent, so partitioning and
    engine summation kernels cannot perturb them.

    Magnitude bound: |component| ≤ ~1e10 scaled → na, nb ≤ 64·1e20,
    dot terms ≤ 1e20 — all far inside DECIMAL(38,0) / HUGEINT.
    """

    def isum(pairs):
        return F.aggregate(
            pairs,
            F.lit(0).cast("decimal(38,0)"),
            lambda acc, x: acc + x,
        )

    dot = isum(F.zip_with(aq, bq, lambda x, y: x.cast("decimal(38,0)") * y))
    na = isum(F.transform(aq, lambda x: x.cast("decimal(38,0)") * x))
    nb = isum(F.transform(bq, lambda y: y.cast("decimal(38,0)") * y))
    return dot, na, nb


def _cos_edge(dot, na, nb) -> "F.Column":
    """The ONE fixed-form float expression at the edge of the exact
    pipeline: ``dot / sqrt(na * nb)`` — each input an exact integer
    cast to double (correctly rounded), then one multiply, one sqrt,
    one divide. IEEE-754 makes every step deterministic given
    identical inputs, so the double is bit-identical across engines
    and partitionings."""
    return dot.cast("double") / F.sqrt(na.cast("double") * nb.cast("double"))


def exact_cos6(aq, bq) -> "F.Column":
    """Cosine of two scale-9 integer arrays rounded to 6 dp — exact
    DECIMAL partials, one fixed-form float edge. The engine-invariant
    ranking score the drift report's ASSIGNMENT step needs: the raw
    double `cosine` fold can reassociate differently per engine, and
    one ulp flips a 6 dp round and moves a boundary vector to another
    cell — the r7 `ivf_centroid_drift_report` hash-red signature
    (rows/schema match, values off in two cells)."""
    dot, na, nb = _int_cos_parts(aq, bq)
    return F.round(_cos_edge(dot, na, nb), 6)


def exact_drift_e6(cv, mqv) -> "F.Column":
    """``exact_drift`` in integer micro-units: BIGINT
    round((1 − cosine) × 1e6). Same exact partials and single float
    edge, but the OUTPUT is an integer — so a value-hashing driver
    never sees a double at all (the r8 hardening: after two hash-red
    rounds with locally-exact doubles, remove floats from the
    comparison surface entirely). Range [0, 2e6], always positive;
    Spark's HALF_UP and DuckDB's round() agree on positive doubles."""
    aq = quantize_vec9(cv)
    mq = F.col(mqv) if isinstance(mqv, str) else mqv
    dot, na, nb = _int_cos_parts(aq, mq)
    edge = (F.lit(1.0) - _cos_edge(dot, na, nb)) * F.lit(1_000_000.0)
    return F.round(edge, 0).cast("long")


def _sq_norm9(col) -> "F.Column":
    """Exact DECIMAL(38,0) sum of squares of a scale-9 integer array —
    the na/nb partial of ``_int_cos_parts``, exposed so callers can
    hoist it out of a pair loop."""
    return F.aggregate(
        F.transform(col, lambda x: x.cast("decimal(38,0)") * x),
        F.lit(0).cast("decimal(38,0)"),
        lambda acc, x: acc + x,
    )


def _ranked_cells_exact(vectors: DataFrame, cents: DataFrame) -> DataFrame:
    """``_ranked_cells`` with an engine-invariant score: both sides
    quantized to scale-9 integers, cosine from exact DECIMAL partials
    (``exact_cos6``'s math). Used by the drift report (whose oracle
    must reproduce the assignment bit-for-bit); ``_ranked_cells``'s
    raw-double form remains the build/search path so `ivf_ann_topk`'s
    green oracle is untouched.

    The quantization and the squared norms are PER-SIDE values, so
    they are projected once per vector and once per (broadcast)
    centroid BEFORE the k-way pair loop — interpreted higher-order
    lambdas get no codegen CSE, and the naive per-pair form
    re-evaluates quantize+norm k× per vector (measured ~4× the whole
    report's cost at sf0.1, r8 bench). Per pair only the dot product
    and the one fixed-form float edge remain; the emitted csim is
    bit-identical to the per-pair form (same integer partials, same
    edge expression).
    """
    keep = ["vec_id"] + (["label"] if "label" in vectors.columns else []) + ["v"]
    qv = vectors.select(
        *keep, quantize_vec9(F.col("v")).alias("_aq")
    ).withColumn("_na", _sq_norm9(F.col("_aq")))
    qc = cents.select(
        "cid", quantize_vec9(F.col("cv")).alias("_bq")
    ).withColumn("_nb", _sq_norm9(F.col("_bq")))
    dot = F.aggregate(
        F.zip_with("_aq", "_bq", lambda x, y: x.cast("decimal(38,0)") * y),
        F.lit(0).cast("decimal(38,0)"),
        lambda acc, x: acc + x,
    )
    scored = qv.crossJoin(F.broadcast(qc)).select(
        *keep,
        "cid",
        F.round(_cos_edge(dot, F.col("_na"), F.col("_nb")), 6).alias("csim"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("csim").desc(), F.col("cid").asc())
    return scored.withColumn("rn", F.row_number().over(w))


def centroid_drift_report(
    spark: SparkSession, index_path: str, threshold: float = 0.05
) -> DataFrame:
    """Per-cell quantizer health: (cid, n, drift, recluster).

    drift = 1 − cosine(stored centroid, current cell mean), rounded to
    6 dp — computed through ``exact_drift``'s scale-9 fixed-point
    partials so the value (and the recluster boolean derived from it)
    is bit-stable across engines and partition orders.
    Centroids are corpus exemplars (or k-means centers), not
    means, so drift is nonzero even at build time — the signal is its
    GROWTH after appends: a cell whose new arrivals pull the
    population away from the stored centroid climbs toward the
    threshold, and ``recluster`` flags it for retraining. One pass
    over the index (the |cells|×d shuffle of cell_mean_vectors) plus a
    broadcast join against the k-row sidecar.

    For SQ8 indexes the mean is taken over the int8 codes (each row's
    code vector is its float vector scaled by max_abs/127, so per-row
    DIRECTION is preserved and the code mean is an L∞-normalized mean
    direction — a usable drift proxy, noted here because it is not the
    float mean).
    """
    idx = spark.read.parquet(index_path)
    vec_col = "dv" if "dv" in idx.columns else "qv"
    mean = cell_mean_vectors(idx.select("cid", F.col(vec_col)), vec_col=vec_col, scaled=True)
    cents = load_index_centroids(spark, index_path)
    drift = exact_drift(F.col("cv"), F.col("mqv"))
    return (
        mean.join(F.broadcast(cents), "cid")
        .select(
            "cid",
            "n",
            drift.alias("drift"),
            (drift > F.lit(threshold)).alias("recluster"),
        )
        .orderBy("cid")
    )


def delete_from_ivf_index(spark: SparkSession, index_path: str, vec_ids) -> int:
    """Right-to-be-forgotten for the vector index: remove ``vec_ids``
    by rewriting ONLY the cell partitions that contain them, each
    through the verified rewrite ``localfs.install_verified`` documents
    (exact survivor count, re-list guard). Works on both the float and
    SQ8 layouts (both carry vec_id).

    Scale: locating the affected cells is one pushed-filter scan
    (``vec_id IN (...)`` literal — row-group stats skip most files);
    the rewrite cost is |affected cells|, not |index|. RTBF batches
    are bounded by construction (a deletion request list), so the
    driver-side cell list is a handful of ints. Returns rows removed.
    """
    from currency_etl_pipeline_spark.sources.localfs import (
        install_verified,
        stage_verified,
    )

    ids = sorted(set(vec_ids))
    if not ids:
        return 0
    idx = spark.read.parquet(index_path)
    affected = sorted(
        r["cid"]
        for r in idx.filter(F.col("vec_id").isin(*ids)).select("cid").distinct().collect()
    )
    removed = 0
    for cid in affected:
        part_dir = f"{index_path}/cid={cid}"
        cell = spark.read.parquet(part_dir)
        n_before = cell.count()
        survivors = cell.filter(~F.col("vec_id").isin(*ids))
        n_after = survivors.count()
        stage = stage_verified(spark, part_dir, survivors.write.parquet, n_after)
        install_verified(spark, part_dir, stage, cell.inputFiles())
        removed += n_before - n_after
    return removed


def compact_ivf_index(
    spark: SparkSession, index_path: str, max_files_per_cell: int = 1
) -> int:
    """Small-files compaction for the IVF index — the missing third of
    the maintenance triangle (append accumulates files, recluster
    rewrites everything, RTBF rewrites victims; NOTHING shrank a cell
    that only ever grew). Every streaming micro-batch append
    (``stream_append_ivf_index``) lands ≥1 new file per touched cid=
    partition, so a long-running ingest degrades probe scans into
    many-small-file reads — the same pathology
    ``Warehouse.compact_historical`` exists for, solved with the same
    discipline: per cell over the file budget, rewrite to
    ``max_files_per_cell`` files through the verified rewrite
    ``localfs.install_verified`` documents (count check, re-list guard
    against a live ``stream_append_ivf_index``, crash states and
    recovery). Run it when the cell is cold / the stream is stopped.
    Skips cells already within budget (idempotent). Returns cells
    compacted.

    Scale: cost is |oversized cells| × cell size — a maintenance pass
    over exactly the partitions the ingest fragmented, schedulable per
    cell. Works on both layouts (pure file-level rewrite).
    """
    from collections import Counter

    from currency_etl_pipeline_spark.sources.localfs import (
        install_verified,
        stage_verified,
    )

    if max_files_per_cell < 1:
        raise ValueError(
            f"max_files_per_cell must be >= 1, got {max_files_per_cell}"
        )
    files_per_cell = Counter()
    for f in spark.read.parquet(index_path).inputFiles():
        m = f.split("/cid=")
        if len(m) == 2:
            files_per_cell[int(m[1].split("/")[0])] += 1
    compacted = 0
    for cid, n_files in sorted(files_per_cell.items()):
        if n_files <= max_files_per_cell:
            continue
        part_dir = f"{index_path}/cid={cid}"
        cell = spark.read.parquet(part_dir)
        write = cell.repartition(max_files_per_cell).write.parquet
        stage = stage_verified(spark, part_dir, write, cell.count())
        install_verified(spark, part_dir, stage, cell.inputFiles())
        compacted += 1
    return compacted


def recluster_ivf_index(spark: SparkSession, index_path: str, k: int = 8) -> None:
    """The ACTION the drift metric decides: retrain the coarse
    quantizer on the index's current population (pyspark.ml KMeans,
    cosine distance, fixed seed) and rewrite the index against the new
    centroids — closing the maintain→drift→recluster lifecycle loop.

    The rewrite goes through the verified whole-index rewrite
    ``localfs.install_verified`` documents: a failed recluster never
    destroys the serving index. After reclustering,
    the stored centroids are trained centers, not corpus exemplars, so
    searches must rank probes against the SIDECAR
    (``search_ivf_index(..., centroid_ids=None)``); post-recluster
    drift drops toward zero by construction (KMeans centers ≈ cell
    means) and recall holds — both pinned in tests/test_incremental.py.

    Cost: a few KMeans passes over the index plus one full rewrite —
    exactly what append-mode maintenance exists to amortize; run it
    when ``centroid_drift_report`` flags cells, not on a schedule.
    Float-layout indexes only (SQ8 codes lose the scale needed to
    retrain; keep the float twin as the training source).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    from currency_etl_pipeline_spark.sources.localfs import (
        install_verified,
        sidecar_fs,
        stage_verified,
    )

    fs = sidecar_fs(index_path, spark)
    idx = spark.read.parquet(index_path)
    if "dv" not in idx.columns:
        raise ValueError("recluster_ivf_index requires the float (dv) layout")
    n_before = idx.count()
    feats = idx.select(
        "vec_id", "label", F.col("dv").alias("v"), array_to_vector(F.col("dv")).alias("features")
    )
    model = KMeans(k=k, seed=42, distanceMeasure="cosine", maxIter=20).fit(feats)
    cents = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "cid int, cv array<double>",
    )
    assigned = (
        _ranked_cells(feats.select("vec_id", "label", "v"), cents)
        .filter(F.col("rn") == 1)
        .select("vec_id", "label", F.col("v").alias("dv"), "cid")
    )

    def write(stage):
        assigned.write.partitionBy("cid").parquet(stage)
        cents.write.parquet(_centroid_sidecar(stage))
        # Carry the exactly-once commit markers across the swap: the
        # rewrite renames every installed file, so a live stream's
        # replay of a committed epoch must still find its marker, or
        # it would append the batch a second time into the new layout.
        fs.mkdirs(f"{stage}/_commits")
        for name in fs.list_names(f"{index_path}/_commits"):
            fs.copy_file(f"{index_path}/_commits/{name}", f"{stage}/_commits/{name}")

    install_verified(spark, index_path, stage_verified(spark, index_path, write, n_before))


def recluster_flagged_cells(
    spark: SparkSession,
    index_path: str,
    cids,
    min_split_frac: float = 0.25,
    max_cost_ratio: float = 0.85,
) -> dict[int, str]:
    """Partial recluster: repair ONLY the cells the drift report
    flagged, leaving every other cell's files byte-identical.

    ``recluster_ivf_index`` retrains and rewrites the WHOLE index; at
    100 TB that is a campaign, and the drift report exists precisely to
    say "2 of 200 cells stopped fitting". Per
    flagged cell this runs a local KMeans(k=2, cosine) over just that
    cell's population and picks one of two repairs:

    - **split** (the population went bimodal — both halves hold at
      least ``max(2, min_split_frac × n)`` members AND the 2-means
      training cost is below ``max_cost_ratio`` × the 1-means cost,
      the bisecting-KMeans acceptance rule: a diffuse-but-unimodal
      cloud halves 50/50 without reducing cost much, and splitting it
      would fragment the index for nothing): members are
      re-assigned between the two sub-centers by the standard
      rounded-cosine/cid rule, the smaller-share half moves to a NEW
      cell id (max existing cid + 1), and the stored centroid of each
      half is refined to its exact sub-population mean — so the
      post-repair drift of both cells collapses toward 0 by
      construction (one Lloyd refinement step). Both halves are
      staged and count-verified before either is installed, each
      through ``localfs.install_verified`` (the old cid= partition
      with its re-list guard).
    - **re-center** (still unimodal, the mean just moved — or the cell
      is too small to split): NO data files are touched; the sidecar
      centroid row is replaced with the cell's exact mean
      (``cell_mean_vectors``), which zeroes the drift for free.

    The centroid sidecar is rewritten ONCE at the end, through the same
    verified rewrite (k rows). Crash window: a crash after a cell swap
    but before the sidecar rewrite leaves a ``cid=<new>`` partition the
    sidecar doesn't name — searches simply never probe it (recall
    degrades to the pre-split level for those members, nothing breaks).
    A re-run refuses such a partition, or a leftover aside, before
    touching anything; recover by moving the partition's files back
    into the split cell (and an aside per ``install_verified``), then
    re-run with the same flags, or run a full ``recluster_ivf_index``.
    After any repair, searches must rank probes against the sidecar
    (``search_ivf_index(..., centroid_ids=None)``), exactly as after a
    full recluster.

    Cost: |flagged cells| × (local 2-means + one partition rewrite) —
    the full-index KMeans never runs and unflagged partitions are never
    read beyond the one-row-per-file listing.

    **SQ8 layout**: flagged cells of an int8
    index get the RE-CENTER repair only — sidecar-only, zero data
    files touched: the stored centroid is replaced with the cell's
    code-mean direction (the same L∞-normalized mean-direction proxy
    the drift report measures against for SQ8 indexes, so the flagged
    cell's drift collapses by construction; per-row scales cancel in
    cosine, so a code mean is a valid cosine centroid). SPLIT stays
    float-only on purpose: splitting needs members re-assigned between
    two REFINED sub-centers, and int8 codes cannot be compared against
    refined float centers — the per-vector max_abs/127 scale was
    discarded at build time (deliberately: scales cancel inside
    cosine for whole-vector comparisons, but re-assignment against
    new centers ranks ACROSS centers where the dropped per-row
    magnitude no longer cancels the k-means objective), and Spark ML's
    KMeans objective over raw codes would cluster by code magnitude,
    not direction. A bimodal SQ8 cell therefore still needs the full
    ``recluster_ivf_index`` (which re-reads the float corpus); the
    proportionate fix here keeps search healthy until that campaign.

    Returns {cid: "split:<new_cid>" | "recentered"}.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    from currency_etl_pipeline_spark.sources.localfs import (
        _hidden_sibling,
        _visible,
        install_verified,
        sidecar_fs,
        stage_verified,
    )

    cids = sorted({int(c) for c in cids})
    if not cids:
        return {}
    idx_cols = spark.read.parquet(index_path).columns
    sq8 = "dv" not in idx_cols
    if sq8 and "qv" not in idx_cols:
        raise ValueError(
            "recluster_flagged_cells requires the float (dv) or SQ8 (qv) layout"
        )
    cent_rows = {
        r["cid"]: [float(x) for x in r["cv"]]
        for r in load_index_centroids(spark, index_path).collect()  # k rows
    }
    missing = [c for c in cids if c not in cent_rows]
    if missing:
        raise ValueError(f"cids {missing} not in the index's centroid sidecar")
    next_cid = max(cent_rows) + 1
    # Refuse a crashed earlier repair before changing anything: a
    # partition the sidecar doesn't name would collide with a new cell,
    # and a leftover aside would stop a swap only after cells moved.
    fs = sidecar_fs(index_path, spark)
    sidecar = _centroid_sidecar(index_path)
    named = {f"cid={c}" for c in cent_rows}
    rewritten = [sidecar, *(f"{index_path}/cid={c}" for c in cids)]
    leftover = [d for d in _visible(fs.list_names(index_path)) if d not in named] + [
        a for a in (_hidden_sibling(p, "aside") for p in rewritten) if fs.exists(a)
    ]
    if leftover:
        raise RuntimeError(
            f"{index_path} holds {leftover} from a crashed repair (a partition "
            "the centroid sidecar doesn't name, or an aside); recover them "
            "(see recluster_flagged_cells) and re-run"
        )
    actions: dict[int, str] = {}
    for cid in cids:
        part_dir = f"{index_path}/cid={cid}"
        if sq8:
            # Sidecar-only repair: centroid := the cell's code-mean
            # direction (what the drift metric compares against for
            # SQ8). One bounded collect (1 row of d means), no data IO.
            code_mean = [
                float(x)
                for x in cell_mean_vectors(
                    spark.read.parquet(part_dir).select(
                        F.lit(cid).alias("cid"), "qv"
                    ),
                    vec_col="qv",
                ).collect()[0]["mv"]
            ]
            cent_rows[cid] = code_mean
            actions[cid] = "recentered"
            continue
        cell = spark.read.parquet(part_dir)  # (vec_id, label, dv)
        n = cell.count()
        mean = [
            float(x)
            for x in cell_mean_vectors(
                cell.select(F.lit(cid).alias("cid"), "dv")
            ).collect()[0]["mv"]
        ]
        split = None
        if n >= 4:
            feats = cell.select(
                "vec_id", "label", F.col("dv").alias("v"),
                array_to_vector("dv").alias("features"),
            ).persist()
            model2 = KMeans(k=2, seed=42, distanceMeasure="cosine", maxIter=20).fit(feats)
            # 1-means cost around the cell mean (Spark ML refuses k=1):
            # same cosine-distance objective KMeans reports, so the
            # ratio below is apples-to-apples.
            mean_lit = F.array(*[F.lit(x) for x in mean])
            cost1 = cell.select(
                F.sum(F.lit(1.0) - cosine(F.col("dv"), mean_lit)).alias("c")
            ).collect()[0]["c"]
            cost2 = model2.summary.trainingCost
            sub = spark.createDataFrame(
                [
                    (cid, [float(x) for x in model2.clusterCenters()[0]]),
                    (next_cid, [float(x) for x in model2.clusterCenters()[1]]),
                ],
                "cid int, cv array<double>",
            )
            assigned = (
                _ranked_cells(feats.select("vec_id", "label", "v"), sub)
                .filter(F.col("rn") == 1)
                .select("vec_id", "label", F.col("v").alias("dv"), "cid")
            )
            sizes = {r["cid"]: r["cnt"] for r in assigned.groupBy("cid").agg(
                F.count(F.lit(1)).alias("cnt")).collect()}
            feats.unpersist()
            floor = max(2, int(min_split_frac * n))
            balanced = min(sizes.get(cid, 0), sizes.get(next_cid, 0)) >= floor
            # Bisecting-KMeans acceptance: the split must buy a real
            # cost reduction, or the cloud is unimodal and a re-center
            # fixes the drift without fragmenting the index.
            if balanced and cost2 <= max_cost_ratio * cost1:
                split = assigned
        if split is None:
            cent_rows[cid] = mean
            actions[cid] = "recentered"
            continue
        # The halves are verified against `sizes`, so check the plan
        # itself kept every row of the live cell: duplicate or null
        # vec_ids collapse in the per-vec_id ranking.
        if sizes[cid] + sizes[next_cid] != n:
            raise RuntimeError(
                f"cell {cid} split assigned {sizes[cid] + sizes[next_cid]} "
                f"rows, expected {n} (duplicate or null vec_id?); "
                "original partition left untouched"
            )
        # Refine stored centroids to the exact sub-population means so
        # drift(cid) and drift(next_cid) are ~0 post-repair.
        means = {
            r["cid"]: [float(x) for x in r["mv"]]
            for r in cell_mean_vectors(split.select("cid", "dv")).collect()
        }
        halves = {
            c: split.filter(F.col("cid") == c).drop("cid").write.parquet
            for c in (cid, next_cid)
        }
        new_dir = f"{index_path}/cid={next_cid}"
        keep = stage_verified(spark, part_dir, halves[cid], sizes[cid])
        try:
            new = stage_verified(spark, new_dir, halves[next_cid], sizes[next_cid])
        except RuntimeError:
            fs.delete(keep)
            raise
        install_verified(spark, part_dir, keep, cell.inputFiles())
        install_verified(spark, new_dir, new, ())
        cent_rows[cid] = means[cid]
        cent_rows[next_cid] = means[next_cid]
        actions[cid] = f"split:{next_cid}"
        next_cid += 1
    new_cents = spark.createDataFrame(
        sorted(cent_rows.items()), "cid int, cv array<double>"
    )
    stage = stage_verified(spark, sidecar, new_cents.write.parquet, len(cent_rows))
    install_verified(spark, sidecar, stage)
    return actions


# --- IVF-PQ: coarse cells + product-quantized codes (the FAISS IVFPQ
# composition) ------------------------------------------------------------
#
# The IVF family prunes WHICH rows a query reads (partition pruning);
# PQ shrinks WHAT each row stores (8 code bytes instead of 64 floats)
# and replaces per-candidate vector math with 8 table lookups (ADC).
# Composed, a query reads nprobe/cells of the corpus at 1/32 the bytes
# per row — the standard billion-scale serving layout. The geometry
# and the exemplar codebook match queries/vectors.pq_ann_topk, whose
# corpus-wide ADC ranking a full-probe search of this index reproduces
# bit-for-bit (pinned in tests/test_incremental.py).

_PQM, _PQDSUB, _PQK, _PQCB_LO = 8, 8, 16, 40


def _pq_codebook_sidecar(index_path: str) -> str:
    return f"{index_path}/_pq_codebook"


def _pq_codebook_rows(spark: SparkSession, sf_dir: str) -> list[tuple[int, int, list[int]]]:
    """(s, code_idx, scale-9 subvector) for the 8×16 exemplar codebook —
    a bounded collect (16 corpus rows), the same exemplar-quantizer
    device as ``_centroids``."""
    rows = (
        _vecs(spark, sf_dir)
        .filter(F.col("vec_id").between(_PQCB_LO, _PQCB_LO + _PQK - 1))
        .select("vec_id", quantize_vec9(F.col("v")).alias("q9"))
        .collect()
    )
    out = []
    for r in rows:
        idx = int(r["vec_id"]) - _PQCB_LO
        q9 = [int(x) for x in r["q9"]]
        for s in range(_PQM):
            out.append((s, idx, q9[s * _PQDSUB : (s + 1) * _PQDSUB]))
    return out


def _pq_encode_codes(cb_rows) -> "F.Column":
    """array<tinyint> PQ codes from a scale-9 ``q9`` column: per
    subspace the argmin exact-integer squared-L2 codeword, ties to the
    smaller code_idx (array_min over (dist, idx) structs — lexicographic
    struct order IS the tie-break). Map-only: the codebook is embedded
    as literals, so encoding shuffles nothing and runs inside the scan's
    partitioning at any corpus size."""
    per_s = []
    for s in range(_PQM):
        sub = F.slice(F.col("q9"), s * _PQDSUB + 1, _PQDSUB)
        cands = []
        for cs, idx, cw in cb_rows:
            if cs != s:
                continue
            lit = F.array(*[F.lit(int(x)) for x in cw])
            d = F.aggregate(
                F.zip_with(sub, lit, lambda a, b: (a - b).cast("decimal(38,0)") * (a - b)),
                F.lit(0).cast("decimal(38,0)"),
                lambda acc, x: acc + x,
            )
            cands.append(F.struct(d.alias("d"), F.lit(idx).alias("i")))
        per_s.append(F.array_min(F.array(*cands))["i"].cast("tinyint"))
    return F.array(*per_s)


def build_ivfpq_index(
    spark: SparkSession, sf_dir: str, index_path: str, centroid_ids, vectors=None
) -> None:
    """Assign each vector to its nearest coarse centroid (the same
    rounded-cosine rule as every IVF build) and store only its 8 PQ
    codes, parquet-partitioned by cell. Sidecars make the index
    self-describing: ``_centroids`` (probe ranking) and
    ``_pq_codebook`` (s, code_idx, scale-9 subvector — what ADC tables
    and appends encode against)."""
    v = vectors if vectors is not None else _vecs(spark, sf_dir)
    cents = _centroids(spark, sf_dir, centroid_ids)
    cb_rows = _pq_codebook_rows(spark, sf_dir)
    assigned = (
        _ranked_cells(v, cents)
        .filter(F.col("rn") == 1)
        .select("vec_id", "label", quantize_vec9(F.col("v")).alias("q9"), "cid")
        .select("vec_id", "label", _pq_encode_codes(cb_rows).alias("codes"), "cid")
    )
    assigned.write.mode("overwrite").partitionBy("cid").parquet(index_path)
    cents.write.mode("overwrite").parquet(_centroid_sidecar(index_path))
    spark.createDataFrame(
        [(s, i, cw) for s, i, cw in cb_rows], "s int, code_idx int, cw array<bigint>"
    ).write.mode("overwrite").parquet(_pq_codebook_sidecar(index_path))


def search_ivfpq_index(
    spark: SparkSession,
    sf_dir: str,
    index_path: str,
    query_ids,
    nprobe: int = 2,
    k: int = 10,
    rerank: int | None = None,
) -> DataFrame:
    """ADC search over the probed cells only: the query precomputes its
    8×16 integer distance table against the codebook sidecar (a
    broadcast of ≤ |queries|×128 rows), the scan reads ONLY the probed
    cid= partitions (literal IN → static partition pruning, the
    search_ivf_index discipline), and each candidate's score is the
    SUM OF 8 TABLE LOOKUPS — a posexplode + broadcast join + hash
    aggregate, no vector math per candidate and no vectors on the
    wire. Output matches ``pq_ann_topk``'s shape (query_id, vec_id,
    label, rank, score_micro); probing ALL cells reproduces its rows
    bit-for-bit (pinned).

    ``rerank=L`` switches to the FAISS ``IVFPQ,Refine`` serving shape
    (the r9 recall measurements' supported repair, mirroring
    ``pq_rerank_topk``): ADC ranks an L-deep shortlist per query, and
    ONLY those L rows join back to the corpus for an exact 64-dim
    cosine re-rank — output (query_id, vec_id, label, rank, cos_sim).
    Measured ADC-only recall@5 is 0.2–0.4 (codebook coarseness, see
    pq_ann_topk's docstring), so production searches should pass
    rerank; the floor is pinned in
    tests/test_incremental.py::test_ivfpq_pruned_probe_rerank_recall.
    Cost: the shortlist is ≤ |Q|·L rows (broadcast-sized), so exact
    scoring touches L rows per query, never the corpus."""
    v = _vecs(spark, sf_dir)
    cents = load_index_centroids(spark, index_path)
    queries = v.filter(F.col("vec_id").isin(*query_ids))
    probes = (
        _ranked_cells(queries, cents)
        .filter(F.col("rn") <= nprobe)
        .select(F.col("vec_id").alias("query_id"), F.col("cid").alias("pcid"))
    )
    probed_cids = probe_cells(probes)
    qsub = (
        queries.select(F.col("vec_id").alias("query_id"), quantize_vec9(F.col("v")).alias("q9"))
        .select(
            "query_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(s).alias("s"),
                            F.slice("q9", s * _PQDSUB + 1, _PQDSUB).alias("sv"),
                        )
                        for s in range(_PQM)
                    ]
                )
            ).alias("sp"),
        )
        .select("query_id", F.col("sp.s").alias("s"), F.col("sp.sv").alias("sv"))
    )
    cb = spark.read.parquet(_pq_codebook_sidecar(index_path))
    dist = F.aggregate(
        F.zip_with("sv", "cw", lambda a, b: (a - b).cast("decimal(38,0)") * (a - b)),
        F.lit(0).cast("decimal(38,0)"),
        lambda acc, x: acc + x,
    )
    dtab = qsub.join(F.broadcast(cb), "s").select(
        "query_id", "s", "code_idx", dist.alias("dist")
    )
    idx = spark.read.parquet(index_path).filter(F.col("cid").isin(*probed_cids))
    cand = idx.join(
        F.broadcast(probes),
        (F.col("cid") == F.col("pcid")) & (F.col("vec_id") != F.col("query_id")),
    ).select(
        "query_id",
        "vec_id",
        "label",
        F.posexplode("codes").alias("s", "code_t"),
    ).withColumn("code_idx", F.col("code_t").cast("int"))
    adc = (
        cand.join(F.broadcast(dtab), ["query_id", "s", "code_idx"])
        .groupBy("query_id", "vec_id")
        .agg(F.max("label").alias("label"), F.sum("dist").alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").asc(), F.col("vec_id").asc())
    if rerank is None:
        return (
            adc.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(
                "query_id",
                "vec_id",
                "label",
                "rank",
                F.expr("CAST(score DIV 1000000 AS BIGINT)").alias("score_micro"),
            )
        )
    short = (
        adc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(rerank))
        .select("query_id", "vec_id")
    )
    qv = F.broadcast(
        queries.select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"))
    )
    scored = (
        v.join(F.broadcast(short), "vec_id")
        .join(qv, "query_id")
        .select(
            "query_id",
            "vec_id",
            "label",
            F.round(cosine(F.col("v"), F.col("qv")), 6).alias("cos_sim"),
        )
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "label", "rank", "cos_sim")
    )
