"""Deduplication operators — the LLM-pipeline dedup family.

- exact:    content-hash groupBy (32-byte digest shuffles, not documents)
- MinHash:  shingle → k independent hashes → min per hash → band-bucket
            join for candidate pairs (Broder '97; the cost is linear in
            corpus size, unlike the exact shingle-join which is quadratic
            in hot-shingle bucket sizes)
- SimHash:  per-token hash bit votes → fingerprint; hamming-ball
            candidates via block pigeonhole (Charikar '02 / Manku '07)

Hash determinism: every hash is derived from md5 hex (parseable on any
engine — the DuckDB oracles replay these pipelines bit-for-bit). At
production scale you'd swap md5 for xxhash64 (same plan shape, faster);
md5 keeps the oracle twin exact.

Scale notes: all stages are explode → hash-partition groupBy/join —
no driver collect, no crossJoin. MinHash signature build shuffles
(doc, pos) pairs: k×|shingles| rows of 16 bytes. SimHash's bit-vote
explode (32× token rows) is the one stage that would move to a single
mapInPandas pass at 100 TB; the SQL form is kept here because it's
whole-stage-codegen'd and oracle-checkable.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from currency_etl_pipeline_spark.operators.upsert import latest_per_key  # noqa: F401  (re-export convenience)


def md5_long(col: Column, salt: Column | None = None) -> Column:
    """Deterministic 60-bit integer hash from md5 hex (engine-portable)."""
    base = col if salt is None else F.concat(col, F.lit("#"), salt.cast("string"))
    return F.conv(F.substring(F.md5(base), 1, 15), 16, 10).cast("long")


def exact_dedup(df: DataFrame, content_cols: Sequence[str], id_col: str) -> DataFrame:
    """Keep the lowest-id row per identical content; adds n_copies."""
    h = F.md5(F.concat_ws("\x00", *content_cols))
    hashed = df.withColumn("__content_hash", h)
    grp = hashed.groupBy("__content_hash").agg(
        F.min(id_col).alias("__keeper"), F.count(F.lit(1)).alias("n_copies")
    )
    return (
        hashed.join(grp, "__content_hash")
        .filter(F.col(id_col) == F.col("__keeper"))
        .drop("__content_hash", "__keeper")
    )


def minhash_signatures(
    shingled: DataFrame, id_col: str, shingle_col: str, num_hashes: int = 8
) -> DataFrame:
    """(id, pos, mh): MinHash component `pos` for each document.

    `shingled` is (id, exploded shingle) — one row per (doc, distinct
    shingle). One shuffle on (id, pos).
    """
    # explode the salt space to rows FIRST, then hash in a flat
    # projection — a transform() lambda computing md5 per element runs
    # interpreted (no whole-stage codegen for higher-order fns); the
    # row form keeps the k×|shingles| md5s inside codegen.
    per_hash = shingled.select(
        id_col, F.explode(F.array(*[F.lit(i) for i in range(num_hashes)])).alias("pos"),
        F.col(shingle_col),
    ).select(id_col, "pos", md5_long(F.col(shingle_col), F.col("pos")).alias("h"))
    return per_hash.groupBy(id_col, "pos").agg(F.min("h").alias("mh"))


def minhash_sig_array(sig: DataFrame, id_col: str) -> DataFrame:
    """(id, sig array<long>): per-doc signature vector, pos-ordered."""
    return sig.groupBy(id_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mh"))), lambda x: x["mh"]
        ).alias("sig")
    )


def bands_from_sig_array(
    sigarr: DataFrame, id_col: str, num_hashes: int, band_size: int = 2
) -> DataFrame:
    """(id, band, band_key): the LSH band table, derived MAP-SIDE from
    the signature array. Band ``b`` (BIGINT) covers signature positions
    ``pos div band_size == b``; ``band_key`` is their mh values as
    strings, comma-joined in pos order (a trailing short band when
    band_size doesn't divide num_hashes). The band key is the
    equi-join key that replaces any all-pairs comparison, and the
    relation a materialized dedup index persists
    (sources/dedup_index.py). Zero shuffles beyond the signature
    array's: one explode over ceil(num_hashes/band_size) per-band
    structs. Every signature array has exactly num_hashes entries
    (minhash_signatures emits all positions for any doc with >= 1
    shingle), so the slice bounds are static."""
    n_bands = -(-num_hashes // band_size)
    per_band = F.transform(
        F.sequence(F.lit(0), F.lit(n_bands - 1)),
        lambda b: F.struct(
            b.cast("long").alias("band"),
            F.array_join(
                F.transform(
                    F.slice("sig", b * band_size + 1, band_size),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("band_key"),
        ),
    )
    # nullif against an impossible value (bands are 0..n_bands-1)
    # loosens band back to NULLABLE: the old aggregation form was
    # nullable, and persisted index files (parquet + bucketed tables)
    # must keep a byte-identical schema across the derivation change.
    return sigarr.select(id_col, F.explode(per_band).alias("__b")).select(
        id_col,
        F.nullif(F.col("__b.band"), F.lit(-1).cast("long")).alias("band"),
        F.col("__b.band_key").alias("band_key"),
    )


def minhash_near_dup_pairs(
    shingled: DataFrame, id_col: str, shingle_col: str, num_hashes: int = 8, band_size: int = 2
) -> DataFrame:
    """Candidate pairs + estimated Jaccard (matching signature fraction).

    r16: bands derive from the per-doc signature ARRAY
    (bands_from_sig_array) rather than re-aggregating the (id, pos, mh)
    relation — the band sides and the signature-compare sides now share
    ONE aggregation subtree, so the shingle+hash corpus pass and its
    exchange are planned once (ReusedExchange) instead of twice."""
    sig = minhash_signatures(shingled, id_col, shingle_col, num_hashes)
    sigarr = minhash_sig_array(sig, id_col)
    bands = bands_from_sig_array(sigarr, id_col, num_hashes, band_size)
    a = bands.select(F.col(id_col).alias("id_a"), "band", "band_key")
    b = bands.select(F.col(id_col).alias("id_b"), "band", "band_key")
    cand = (
        a.join(b, ["band", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sa = sigarr.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sigarr.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"))
    matches = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return (
        cand.join(sa, "id_a").join(sb, "id_b")
        .select("id_a", "id_b", F.round(matches / F.lit(float(num_hashes)), 6).alias("est_jaccard"))
    )


def simhash_signature(
    tokenized: DataFrame, id_col: str, token_col: str, bits: int = 32
) -> DataFrame:
    """(id, simhash): bit-vote fingerprint over token multiset.

    Shape note (r11, measured): the bits× row explode looks expensive
    but BEATS a 32-column unrolled conditional-sum aggregation here
    (0.8 s vs 1.2 s at sf0.1) — the (id, j) groupBy is map-side
    combined, so the shuffle carries only 32×|docs| narrow rows while
    codegen streams the exploded rows; the unroll pays 32 aggregation
    buffers per group for no shuffle saving. Kept as the explode."""
    h = tokenized.select(id_col, md5_long(F.col(token_col)).alias("th"))
    jrows = h.select(id_col, "th", F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("j"))
    bit = F.expr("(th div CAST(pow(2, j) AS BIGINT)) % 2")
    votes = jrows.groupBy(id_col, "j").agg(
        F.sum(F.when(bit == 1, 1).otherwise(-1)).alias("contrib")
    )
    return votes.groupBy(id_col).agg(
        F.sum(
            F.when(F.col("contrib") >= 0, F.expr("CAST(pow(2, j) AS BIGINT)")).otherwise(F.lit(0).cast("long"))
        ).cast("long").alias("simhash")
    )


def simhash_near_dup_pairs(
    tokenized: DataFrame,
    id_col: str,
    token_col: str,
    bits: int = 32,
    max_hamming: int = 2,
    n_blocks: int = 4,
) -> DataFrame:
    """Pairs within a hamming ball of max_hamming.

    Pigeonhole: fingerprints within hamming d share at least one of
    n_blocks blocks when d < n_blocks — the block equi-join generates
    candidates, exact popcount(xor) filters.
    """
    assert max_hamming < n_blocks, "pigeonhole needs max_hamming < n_blocks"
    block_bits = bits // n_blocks
    sig = simhash_signature(tokenized, id_col, token_col, bits)
    blk = sig.select(
        F.col(id_col), "simhash", F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))).alias("n")
    ).withColumn("block", F.expr(f"(simhash div CAST(pow(2, n * {block_bits}) AS BIGINT)) % {2 ** block_bits}"))
    a = blk.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("sim_a"), "n", "block")
    b = blk.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("sim_b"), "n", "block")
    cand = (
        a.join(b, ["n", "block"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sim_a", "sim_b")
        .distinct()
    )
    hamming = F.expr("bit_count(sim_a ^ sim_b)")
    return cand.filter(hamming <= max_hamming).select("id_a", "id_b", hamming.alias("hamming"))


def jaccard_verify_pairs(
    cand: DataFrame,
    shingled: DataFrame,
    id_col: str,
    shingle_col: str,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact shingle-Jaccard VERIFY over a candidate pair list — the
    band-join → verify discipline (multimodal/media.py's phash near-dup
    and the FAISS shortlist re-rank, applied to text dedup): a banded
    sketch proposes (id_a, id_b) pairs, the exact set similarity
    confirms them. Precision comes from the exact measure; cost stays
    linear — never all-pairs.

    Shape (r11, second iteration): the shingle relation collapses ONCE
    to per-doc set arrays (one corpus-narrow shuffle), then each
    candidate pair is verified by a single codegen'd
    ``array_intersect`` against its two doc sets — no per-(pair,
    shingle) explosion at all. The first iteration unpivoted pair
    sides onto the candidates and aggregated |candidates|×|shingles|
    rows twice (~10M rows at sf0.1, ~5 s); this shape joins the
    bounded candidate list (AQE broadcasts it) against |docs| array
    rows and does the set math per pair (~25k intersects). Both
    engines share set semantics exactly: Spark ``array_intersect`` and
    DuckDB ``list_intersect`` dedup, and the inputs are DISTINCT
    shingle sets by construction.

    ``cand``: (id_a, id_b, *carry) — localCheckpoint it when its
    lineage is expensive (referenced once per pair side). ``shingled``:
    one row per (doc, DISTINCT shingle); the expensive shingle subtree
    is referenced exactly once (the set-collapse aggregation).

    Output: cand columns + exact ``jaccard`` (rounded to 6), filtered
    to >= threshold. A candidate side with no shingles (doc shorter
    than the shingle width) cannot be verified and is dropped — the
    inner-join semantics of the exact pipelines.
    """
    carry = list(cand.columns)
    docsets = shingled.groupBy(F.col(id_col).alias("__doc")).agg(
        F.collect_set(F.col(shingle_col)).alias("__ss")
    )
    # ONE reference to docsets: joining it once per pair side would
    # plan the shingle subtree twice (verified in the executed plan —
    # join-key specialization defeats ReusedExchange). Instead the pair
    # sides unpivot onto the bounded candidate list, docsets joins that
    # union once, and a per-pair aggregate reassembles the two sets —
    # first(when(side...), ignorenulls) is order-independent because
    # each group holds exactly one row per side.
    sides = cand.select(
        *carry, F.col("id_a").alias("__doc"), F.lit("a").alias("__side")
    ).unionByName(
        cand.select(*carry, F.col("id_b").alias("__doc"), F.lit("b").alias("__side"))
    )
    per_pair = (
        sides.join(docsets, "__doc")
        .groupBy(*carry)
        .agg(
            F.first(F.when(F.col("__side") == "a", F.col("__ss")), ignorenulls=True).alias("__sa"),
            F.first(F.when(F.col("__side") == "b", F.col("__ss")), ignorenulls=True).alias("__sb"),
        )
        .filter(F.col("__sa").isNotNull() & F.col("__sb").isNotNull())
        .withColumn("__n_common", F.size(F.array_intersect("__sa", "__sb")))
        .withColumn("__n_a", F.size("__sa"))
        .withColumn("__n_b", F.size("__sb"))
    )
    jac = F.col("__n_common") * 1.0 / (F.col("__n_a") + F.col("__n_b") - F.col("__n_common"))
    return per_pair.filter(jac >= threshold).select(*carry, F.round(jac, 6).alias("jaccard"))


def sequential_admission_pandas(pdf):
    """Strictly-sequential greedy admission within ONE connected
    component of a near-dup graph (pandas; use under
    ``groupBy("component").applyInPandas(..., "doc_id long")``): docs
    in ascending id order, a doc rejected if it is corpus-flagged or
    near-dups an already-ADMITTED doc — the exact decision a
    one-at-a-time ingest loop makes, which the pairwise lower-id rule
    only approximates on chains. Input rows carry the component's
    nodes (``b`` null, ``rej`` = corpus-rejected flag) and edges
    (``a``, ``b``); output is the admitted doc_ids. Components are
    bounded by their micro-batch / LSH bucket, so the per-group greedy
    is bounded too. Shared by the streaming admission gate
    (``streaming.pipeline.stream_minhash_ingest(exact_chains=True)``)
    and the batch ``sequential_dedup_admission`` query, whose DuckDB
    twin replays the same greedy as a recursive CTE."""
    import pandas as pd

    edges: dict[int, set] = {}
    corpus_rej: set = set()
    nodes: set = set()
    for row in pdf.itertuples():
        a = int(row.a)
        if pd.isna(row.b):
            nodes.add(a)
            if row.rej:
                corpus_rej.add(a)
        else:
            b = int(row.b)
            nodes.add(a)
            nodes.add(b)
            edges.setdefault(a, set()).add(b)
            edges.setdefault(b, set()).add(a)
    admitted: list[int] = []
    admitted_set: set = set()
    for d in sorted(nodes):
        if d in corpus_rej or edges.get(d, set()) & admitted_set:
            continue
        admitted_set.add(d)
        admitted.append(d)
    return pd.DataFrame({"doc_id": pd.Series(admitted, dtype="int64")})
