"""Materialized MinHash-LSH dedup index: corpus membership persisted,
new batches checked incrementally.

The in-plan dedup queries (queries/text.py `minhash_lsh_near_dup`)
re-shingle and re-hash the WHOLE corpus every run — right for a
one-shot audit, wrong for the ingest loop a training-data pipeline
actually runs: "is anything in this crawl batch a near-dup of the
corpus we already accepted?" asked per batch, forever. This module
persists the two relations MinHash dedup actually needs — the band
table and the signature table — so a batch check touches the new
batch's text plus two bounded index joins, never the corpus text
again. Same lifecycle split as the IVF vector index
(sources/ann_index.py): build once, append cheaply, query amortized.

Layout under ``index_path``:

- ``bands/``     (doc_id, band, band_key)  — the LSH probe relation
- ``sigs/``      (doc_id, sig array<long>) — for estimated Jaccard
- ``_params.json`` (num_hashes, band_size) — the quantizer parameters,
  persisted so appends/queries can never hash incompatibly (leading
  underscore keeps it invisible to parquet reads, like ``_SUCCESS``)

Scale shape: a batch check is batch-shingling (map-side) + an
equi-join on (band, band_key) + two signature joins. The batch side
is typically orders of magnitude smaller than the index, so AQE
broadcasts it and the index side is a pure scan — no hint, because a
historical backfill CAN be index-sized and must be allowed to fall
back to sort-merge. At 100 TB the bands/sigs tables are additionally
bucketed by join key (tables.py's bucketed-join path) to make the
per-batch check co-located and shuffle-free.

Docs whose text yields no shingles (shorter than the shingle width)
carry no rows in either relation — they can never be near-dups by
this measure, matching the in-plan queries' semantics.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from currency_etl_pipeline_spark.operators.dedup import (
    bands_from_sig_array,
    minhash_sig_array,
    minhash_signatures,
)
from currency_etl_pipeline_spark.queries.text import exploded, shingles


def _params_file(index_path: str) -> str:
    return os.path.join(index_path, "_params.json")


def load_index_params(index_path: str) -> dict:
    # Sidecar IO dispatches on the path: POSIX open() for plain paths,
    # the JVM Hadoop filesystem for URIs (sources/localfs.sidecar_fs) —
    # the index's params/tombstones work on object stores; only the
    # physical tombstone COMPACTION stays POSIX (directory swaps).
    from currency_etl_pipeline_spark.sources.localfs import sidecar_fs

    text = sidecar_fs(index_path).read_text(_params_file(index_path))
    if text is None:
        raise FileNotFoundError(
            f"no _params.json under {index_path} — not a MinHash index?"
        )
    return json.loads(text)


def doc_signature_tables(
    docs: DataFrame, num_hashes: int = 8, band_size: int = 2
) -> tuple[DataFrame, DataFrame]:
    """(bands, sigs) for a (doc_id, text) relation — the index's two
    persisted relations, also usable in-plan (the filesystem-free
    catalog twin goes through this exact code path).

    Band ``b`` (BIGINT) of a doc is signature positions
    ``[b·band_size, (b+1)·band_size)``, its ``band_key`` their MinHash
    values comma-joined in position order; bands derive map-side from
    the signature array (operators/dedup.bands_from_sig_array), so the
    two returned relations share ONE shingle+hash+aggregate subtree and
    plans consuming both reuse its exchange instead of planning the
    corpus pass twice."""
    shingled = exploded(
        docs.select("doc_id", shingles().alias("sh")), ["doc_id"], F.col("sh"), "shingle"
    )
    sig = minhash_signatures(shingled, "doc_id", "shingle", num_hashes)
    sigarr = minhash_sig_array(sig, "doc_id")
    bands = bands_from_sig_array(sigarr, "doc_id", num_hashes, band_size)
    return bands, sigarr


def minhash_cross_candidates(
    corpus_bands: DataFrame,
    corpus_sigs: DataFrame,
    batch_bands: DataFrame,
    batch_sigs: DataFrame,
    num_hashes: int,
    min_est_jaccard: float = 0.0,
) -> DataFrame:
    """(batch_id, corpus_id, est_jaccard): batch docs near-duplicating
    corpus docs. Candidates share ≥1 LSH band; est_jaccard = matching
    signature fraction (exact multiples of 1/num_hashes, so threshold
    comparisons are engine-exact)."""
    cand = (
        corpus_bands.join(
            batch_bands.select(
                F.col("doc_id").alias("batch_id"), "band", "band_key"
            ),
            ["band", "band_key"],
        )
        .filter(F.col("doc_id") != F.col("batch_id"))
        .select(F.col("batch_id"), F.col("doc_id").alias("corpus_id"))
        .distinct()
    )
    matches = F.aggregate(
        F.zip_with("sig_c", "sig_b", lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    est = F.round(matches / F.lit(float(num_hashes)), 6)
    return (
        cand.join(
            corpus_sigs.select(F.col("doc_id").alias("corpus_id"), F.col("sig").alias("sig_c")),
            "corpus_id",
        )
        .join(
            batch_sigs.select(F.col("doc_id").alias("batch_id"), F.col("sig").alias("sig_b")),
            "batch_id",
        )
        .select("batch_id", "corpus_id", est.alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= F.lit(min_est_jaccard))
    )


def build_minhash_index(
    spark: SparkSession,
    docs: DataFrame,
    index_path: str,
    num_hashes: int = 8,
    band_size: int = 2,
) -> None:
    """Shingle + hash the corpus ONCE; land bands and signatures."""
    from currency_etl_pipeline_spark.sources.localfs import sidecar_fs

    bands, sigs = doc_signature_tables(docs, num_hashes, band_size)
    bands.write.mode("overwrite").parquet(os.path.join(index_path, "bands"))
    sigs.write.mode("overwrite").parquet(os.path.join(index_path, "sigs"))
    sidecar_fs(index_path, spark).write_text(
        _params_file(index_path),
        json.dumps({"num_hashes": num_hashes, "band_size": band_size}),
    )


def append_minhash_index(
    spark: SparkSession,
    index_path: str,
    new_docs: DataFrame,
) -> None:
    """Admit a batch into the corpus: hash it with the INDEX's stored
    parameters and append its bands/signatures — one pass over the new
    text, existing index files untouched. build(corpus)+append(batch)
    is relation-equal to a full rebuild over corpus∪batch (pinned in
    tests/test_incremental.py), because the hash pipeline is a pure
    function of (text, params). ``new_docs`` doc_ids must be new —
    id-level upsert is the warehouse family's job."""
    p = load_index_params(index_path)
    bands, sigs = doc_signature_tables(new_docs, p["num_hashes"], p["band_size"])
    bands.write.mode("append").parquet(os.path.join(index_path, "bands"))
    sigs.write.mode("append").parquet(os.path.join(index_path, "sigs"))


def query_minhash_index(
    spark: SparkSession,
    index_path: str,
    batch_docs: DataFrame,
    min_est_jaccard: float = 0.0,
    batch_tables: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Check a batch against the accumulated corpus WITHOUT touching
    corpus text: batch-side shingling only, then the band equi-join
    and signature compare against the persisted relations.
    ``batch_tables`` lets a caller that already shingled the batch
    (the streaming admission gate runs a within-batch check too) pass
    its (bands, sigs) instead of re-deriving them."""
    p = load_index_params(index_path)
    qbands, qsigs = batch_tables or doc_signature_tables(
        batch_docs, p["num_hashes"], p["band_size"]
    )
    ibands = _live(spark, index_path, spark.read.parquet(os.path.join(index_path, "bands")))
    isigs = _live(spark, index_path, spark.read.parquet(os.path.join(index_path, "sigs")))
    return minhash_cross_candidates(
        ibands, isigs, qbands, qsigs, p["num_hashes"], min_est_jaccard
    )


def _tombstones_path(index_path: str) -> str:
    return os.path.join(index_path, "tombstones")


def delete_from_minhash_index(spark: SparkSession, index_path: str, doc_ids) -> None:
    """Right-to-be-forgotten for the dedup index, tombstone-style.

    bands/sigs are not partitioned by doc_id (they are probed by band
    key), so a physical per-delete rewrite would touch the whole
    index. Instead deletes APPEND the ids to a tombstone relation and
    ``query_minhash_index`` anti-joins it — O(RTBF volume) extra work
    per query, zero rewrite. ``compact_minhash_index`` applies the
    tombstones physically when they grow past taste. This is the soft
    delete + deferred compaction design every log-structured store
    uses; contrast the IVF index, whose cid partitioning makes an
    eager partition rewrite the cheaper path (ann_index.py).
    """
    ids = sorted(set(doc_ids))
    if not ids:
        return
    spark.createDataFrame([(int(i),) for i in ids], "doc_id bigint").write.mode(
        "append"
    ).parquet(_tombstones_path(index_path))


def _live(spark: SparkSession, index_path: str, rel: DataFrame) -> DataFrame:
    from currency_etl_pipeline_spark.sources.localfs import sidecar_fs

    t = _tombstones_path(index_path)
    if not sidecar_fs(index_path, spark).is_dir(t):
        return rel
    return rel.join(spark.read.parquet(t), "doc_id", "left_anti")


def compact_minhash_index(spark: SparkSession, index_path: str) -> int:
    """Apply accumulated tombstones physically: rewrite bands/sigs
    without the deleted ids, each through the verified rewrite
    ``localfs.install_verified`` documents, then drop the tombstone
    relation. Returns the number of doc_ids applied."""
    from currency_etl_pipeline_spark.sources.localfs import (
        install_verified,
        sidecar_fs,
        stage_verified,
    )

    fs = sidecar_fs(index_path, spark)
    t = _tombstones_path(index_path)
    if not fs.is_dir(t):
        return 0
    n_ids = spark.read.parquet(t).distinct().count()
    for sub in ("bands", "sigs"):
        path = os.path.join(index_path, sub)
        rel = spark.read.parquet(path)
        survivors = _live(spark, index_path, rel)
        stage = stage_verified(spark, path, survivors.write.parquet, survivors.count())
        install_verified(spark, path, stage, rel.inputFiles())
    fs.delete(t)
    return n_ids


# --- bucketed-table persistence: the claimed 100 TB layout, made real ------


def build_minhash_index_table(
    spark: SparkSession,
    docs: DataFrame,
    table_prefix: str,
    num_hashes: int = 8,
    band_size: int = 2,
    buckets: int = 8,
) -> None:
    """Persist the index as BUCKETED managed tables — the layout the
    module docstring promises for 100 TB: ``{prefix}_bands`` bucketed
    (+sorted) by band_key, ``{prefix}_sigs`` by doc_id, so a batch
    check shuffles ONLY the (small) batch side into matching buckets —
    the index side is scanned in place, no Exchange above its scan,
    every query, forever (the shuffle was paid once at write time).
    Params live in a one-row ``{prefix}_params`` table (bucketed
    tables are catalog objects; a filesystem sidecar would leave the
    index split across two metadata systems).
    """
    from currency_etl_pipeline_spark.sources.bucketed import write_bucketed

    bands, sigs = doc_signature_tables(docs, num_hashes, band_size)
    # Bucket by the FULL candidate-join key set: Spark's default
    # co-partition rule (requireAllClusterKeysForCoPartition) only
    # recognizes a bucketing that covers every join clustering key, so
    # (band, band_key) it is — band_key alone would still shuffle.
    write_bucketed(bands, f"{table_prefix}_bands", ["band", "band_key"], buckets)
    write_bucketed(sigs, f"{table_prefix}_sigs", ["doc_id"], buckets)
    spark.createDataFrame(
        [(num_hashes, band_size, buckets)],
        "num_hashes int, band_size int, buckets int",
    ).write.mode("overwrite").saveAsTable(f"{table_prefix}_params")


def append_minhash_index_table(
    spark: SparkSession, table_prefix: str, new_docs: DataFrame
) -> None:
    """Admit a batch into the BUCKETED index tables — the maintenance
    path the 100 TB layout was missing (the path variant has had
    ``append_minhash_index`` since r6; the table variant was
    build-only). The batch is hashed with the index's stored params
    and appended WITH THE SAME bucket spec (count + columns + sort):
    Spark hash-partitions the new rows into the existing bucket files'
    Murmur3 buckets, so the bucketed-scan contract — corpus side reads
    co-located buckets with no Exchange — survives every append;
    build+append ≡ rebuild is pinned alongside the path variant's test.

    Cost: one pass over the batch text + a |batch|-sized bucketed
    write. Existing bucket files are never rewritten (each append adds
    per-bucket files; compact on taste like any bucketed table).
    """
    p = spark.table(f"{table_prefix}_params").collect()[0]
    bands, sigs = doc_signature_tables(new_docs, p["num_hashes"], p["band_size"])
    (
        bands.write.mode("append")
        .bucketBy(p["buckets"], "band", "band_key")
        .sortBy("band", "band_key")
        .saveAsTable(f"{table_prefix}_bands")
    )
    (
        sigs.write.mode("append")
        .bucketBy(p["buckets"], "doc_id")
        .sortBy("doc_id")
        .saveAsTable(f"{table_prefix}_sigs")
    )


def query_minhash_index_table(
    spark: SparkSession,
    table_prefix: str,
    batch_docs: DataFrame,
    min_est_jaccard: float = 0.0,
) -> DataFrame:
    """Batch check against the bucketed index tables: identical
    semantics to ``query_minhash_index``, but the corpus-side band and
    signature joins read co-located buckets — pinned by a plan test
    asserting the bucketed scans carry no Exchange while the path-based
    variant's corpus sides do."""
    p = spark.table(f"{table_prefix}_params").collect()[0]
    qbands, qsigs = doc_signature_tables(batch_docs, p["num_hashes"], p["band_size"])
    return minhash_cross_candidates(
        spark.table(f"{table_prefix}_bands"),
        spark.table(f"{table_prefix}_sigs"),
        qbands,
        qsigs,
        p["num_hashes"],
        min_est_jaccard,
    )
