"""Text-analysis / deduplication queries over `documents` — the
LLM-data-pipeline extensions (north-star additions; SURVEY.md §7
Phase 6). All JVM built-ins (split/transform/filter/md5 higher-order
functions) — no Python in the hot path.

Scale notes:
- exact dedup = hash + one shuffle on the 32-char digest (not the
  full text) — at 100 TB you shuffle 32 bytes/row, not documents;
- near-dup = shingle inverted index + equi-join on shingle, i.e. the
  candidate-pair generation step of MinHash-LSH done exactly; bucket
  sizes bound the blow-up (see operators/dedup.py for the MinHash
  variant whose cost is independent of shingle frequency).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from currency_etl_pipeline_spark.queries.registry import query
from currency_etl_pipeline_spark.tables import load_table, spread

STOPWORDS = ("the", "a", "of", "and", "to")
_STOP_SQL = "('the', 'a', 'of', 'and', 'to')"


def tokens(col: str = "text") -> Column:
    return F.split(F.trim(F.col(col)), r"\s+")


def positional_windows(col: str = "text", n: int = 3) -> Column:
    """All n-word windows of ``col`` IN POSITION ORDER (entry i =
    words i..i+n-1, space-joined); empty array for docs shorter than n.

    Built with zip_with over shifted slices rather than
    transform(sequence, i -> slice(toks, i, n)): a lambda body that
    references the outer ``toks`` re-evaluates the tokenizer split for
    EVERY element (interpreted higher-order fn, no codegen CSE) — ~40×
    per doc. zip_with evaluates each array child once per row, so the
    split runs n+1 times per doc regardless of length.

    zip_with pads the shorter side with NULL, so entries past len-n
    are NULL concats; they are filtered off the TAIL only, which is
    what preserves the index-is-position invariant consumers rely on
    (shingles() dedups on top; a posexplode's index IS the word
    offset). Factored out of shingles()/subpassage_rewrite in r14 —
    two hand-maintained copies of the chain had already diverged once
    in SQL-twin form (see _grams_duck's docstring)."""
    toks = tokens(col)
    acc = toks
    for k in range(1, n):
        shifted = F.slice(toks, k + 1, F.greatest(F.size(toks) - k, F.lit(0)))
        acc = F.zip_with(acc, shifted, lambda x, y: F.concat(x, F.lit(" "), y))
    return F.filter(acc, lambda x: x.isNotNull())


def shingles(col: str = "text", n: int = 3) -> Column:
    """Distinct n-gram word shingles; empty array for docs shorter than n."""
    toks = tokens(col)
    sh = F.array_distinct(positional_windows(col, n))
    return F.when(F.size(toks) >= n, sh).otherwise(F.array().cast("array<string>"))


# Rolling-hash parameters: two independent 31-bit polynomial chains
# packed into one 62-bit long. Primes < 2^31 keep every intermediate
# (< M * B + M < 2^52) inside a signed 64-bit long even under ANSI
# arithmetic; the per-token values come from xxhash64 (JVM built-in,
# seeded differently per chain via an extra hashed literal), so the
# polynomial inputs are uniform and the per-pair collision odds are
# ~2^-62 per distinct window pair.
_ROLL_M1, _ROLL_B1 = 2147483629, 1_000_003
_ROLL_M2, _ROLL_B2 = 2147483563, 1_000_033


def token_hashes(col: str = "text") -> Column:
    """Per-token hash pairs for the rolling-window device: each token
    xxhash64-ed twice (once with an extra literal as a second seed),
    reduced mod the two chain primes, as array<struct<a,b>>.

    PROJECT THIS ONCE before rolling (df.select(...,
    token_hashes().alias("tv")) then rolled_window_hashes(col("tv"),
    n)): the zip_with chain references its value array n times, and an
    inline expression would re-tokenize and re-hash the text on every
    reference (~n× the scan cost — measured 2.5× end-to-end at n=16).
    A separate projection materializes the array once per row, and
    CollapseProject leaves multi-referenced non-trivial aliases alone
    (spark.sql.optimizer.collapseProjectAlwaysInline defaults false)."""
    return F.transform(
        tokens(col),
        lambda x: F.struct(
            F.pmod(F.xxhash64(x), F.lit(_ROLL_M1)).alias("a"),
            F.pmod(F.xxhash64(x, F.lit(1)), F.lit(_ROLL_M2)).alias("b"),
        ),
    )


def rolled_window_hashes(tv: Column, n: int) -> Column:
    """64-bit identities of all n-word windows IN POSITION ORDER from
    a ``token_hashes`` array — ``positional_windows`` with the window
    STRING never materialized.

    positional_windows concatenates each window into a string before
    any consumer can hash it: at stride 1 that is ~n× the corpus's
    char volume as transient scan-stage data (petabytes of ephemeral
    strings at 100 TB, VERDICT r13 task 3). Here window identities
    come from two 31-bit polynomial rolling chains over the per-token
    hash array — the same zip_with shifted-slice device, but carrying
    fixed-width structs instead of growing strings — packed as
    (h1 << 31) + h2. The shuffle key any consumer forwards is one
    8-byte long instead of a 32-char md5 hex string. zip_with's NULL
    padding surfaces as NULL packed entries on the TAIL only, which
    the filter drops — index-is-position survives for posexplode
    consumers.

    Equality semantics: equal windows always hash equal (no false
    negatives); distinct windows collide with probability ~2^-62 per
    pair, so DuckDB oracles that compare on exact window strings stay
    valid verbatim. At extreme corpus scale (≥ ~2^31 windows) a
    deployment would add a second packed long (two more chains) — the
    device is width-composable; 62 bits is right for this fixture and
    documents the knob."""
    acc = tv
    for k in range(1, n):
        s = F.slice(tv, k + 1, F.greatest(F.size(tv) - k, F.lit(0)))
        acc = F.zip_with(
            acc,
            s,
            lambda x, y: F.struct(
                F.pmod(x["a"] * _ROLL_B1 + y["a"], F.lit(_ROLL_M1)).alias("a"),
                F.pmod(x["b"] * _ROLL_B2 + y["b"], F.lit(_ROLL_M2)).alias("b"),
            ),
        )
    packed = F.transform(acc, lambda x: F.shiftleft(x["a"], 31) + x["b"])
    return F.filter(packed, lambda x: x.isNotNull())


def exploded(df: DataFrame, keep: list, arr: Column, out: str) -> DataFrame:
    """Explode an expensive computed array without the
    InferFiltersFromGenerate trap.

    A non-outer explode makes Catalyst infer ``size(arr)>0 AND
    isnotnull(arr)`` and predicate-pushdown shoves that below any
    repartition exchange — re-evaluating the full array expression
    twice per row in the narrow pre-shuffle stage (single-threaded when
    the input is one small file, exactly what spread() exists to fix).
    ``explode_outer`` infers no filter; dropping the null rows on the
    *generated* column is equivalent for non-null array elements and
    cannot be pushed below the Generate."""
    return df.select(*keep, F.explode_outer(arr).alias(out)).filter(F.col(out).isNotNull())


# DuckDB twin of shingles(): 1-based inclusive list slice.
_SHINGLES_DUCK = (
    "list_distinct(list_transform(generate_series(1, greatest(len(toks)-2, 0)),"
    " i -> array_to_string(toks[i:i+2], ' ')))"
)
_TOKS_DUCK = "regexp_split_to_array(trim(text), '\\s+')"

# DuckDB twin of functions.redact.redact_pii over the raw text column
# (used by training_shard_prep's PII-insensitive dedup hash).
from currency_etl_pipeline_spark.functions.redact import redact_pii_duck as _rpd  # noqa: E402

_REDACTED_DUCK = _rpd("text")


def blended_quality():
    """THE quality score (un-rounded Column over text/n_chars):
    0.4·min(tokens/100, 1) + 0.3·(1 − stopword ratio) +
    0.3·min(chars/500, 1). Single source of truth for every gate —
    quality_filter, training_shard_prep, dedup_cluster_keepers, the
    streaming ingest gate, and the streaming lake sink — so a weight
    tweak can never desynchronize the batch and streaming gates.
    Rounding/thresholding stays at each call site."""
    toks = tokens()
    n_tokens = F.size(toks)
    stop_ratio = F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS))) * 1.0 / n_tokens
    return (
        0.4 * F.least(n_tokens / 100.0, F.lit(1.0))
        + 0.3 * (1.0 - stop_ratio)
        + 0.3 * F.least(F.col("n_chars") / 500.0, F.lit(1.0))
    )


def quality_duck(toks: str = _TOKS_DUCK) -> str:
    """DuckDB SQL twin of ``blended_quality`` over a token-array
    expression (pass the CTE alias when the oracle pre-tokenizes)."""
    return (
        f"0.4 * least(len({toks}) / 100.0, 1.0)"
        f" + 0.3 * (1.0 - len(list_filter({toks}, x -> x IN {_STOP_SQL})) * 1.0 / len({toks}))"
        " + 0.3 * least(n_chars / 500.0, 1.0)"
    )


GATE_LANGS = ("en", "de")
GATE_MIN_QUALITY = 0.5


def corpus_gate():
    """THE corpus admission predicate (lang ∈ GATE_LANGS ∧
    round(blended_quality, 6) ≥ GATE_MIN_QUALITY) — single source of
    truth for every ingest surface (quality_filter,
    training_shard_prep, the streaming ingest gate, the streaming lake
    sink, the shard pipeline), so a threshold or language change can
    never desynchronize them."""
    return F.col("lang").isin(*GATE_LANGS) & (
        F.round(blended_quality(), 6) >= GATE_MIN_QUALITY
    )


def gate_duck(toks: str = _TOKS_DUCK) -> str:
    """DuckDB SQL twin of ``corpus_gate``."""
    langs = ", ".join(f"'{lang}'" for lang in GATE_LANGS)
    return f"lang IN ({langs}) AND round({quality_duck(toks)}, 6) >= {GATE_MIN_QUALITY}"


@query(
    "exact_dedup_documents",
    oracle="""
    WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 10000000 AS doc_id, text FROM documents
    ), hashed AS (
        SELECT doc_id, md5(text) AS text_hash FROM corpus
    )
    SELECT text_hash, min(doc_id) AS keeper_doc_id, count(*) AS n_copies
    FROM hashed GROUP BY text_hash
    """,
)
def exact_dedup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content hash + hash-groupBy. The corpus is the
    documents table unioned with a re-keyed copy of itself so every text
    has ≥2 copies and the keep-lowest-id rule is actually exercised
    (the base table has no exact dups)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.unionByName(docs.select((F.col("doc_id") + 10000000).alias("doc_id"), "text"))
    hashed = corpus.select("doc_id", F.md5("text").alias("text_hash"))
    return hashed.groupBy("text_hash").agg(
        F.min("doc_id").alias("keeper_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


@query(
    "near_dup_jaccard_pairs",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id, unnest({_SHINGLES_DUCK}) AS shingle
        FROM (SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents)
    ), sizes AS (
        SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id
    ), pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT p.doc_a, p.doc_b,
           round(p.n_common * 1.0 / (sa.n_shingles + sb.n_shingles - p.n_common), 6) AS jaccard
    FROM pairs p
    JOIN sizes sa ON sa.doc_id = p.doc_a
    JOIN sizes sb ON sb.doc_id = p.doc_b
    WHERE p.n_common * 1.0 / (sa.n_shingles + sb.n_shingles - p.n_common) >= 0.6
    """,
)
def near_dup_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by exact 3-gram-shingle Jaccard ≥ 0.6
    (the planted near-dups sit at ≥ 0.89; the background is ≤ 0.1).
    Inverted-index join: explode distinct shingles → self-equi-join on
    shingle → count common → Jaccard from set sizes."""
    jac = _jaccard_expr()
    return _jaccard_pairs(spark, sf_dir).select(
        "doc_a", "doc_b", F.round(jac, 6).alias("jaccard")
    )


def _jaccard_expr():
    return F.col("n_common") * 1.0 / (F.col("n_a") + F.col("n_b") - F.col("n_common"))


def _jaccard_pairs(
    spark: SparkSession, sf_dir: str, threshold: float = 0.6, base: DataFrame | None = None
) -> DataFrame:
    """Shared edge set for the Jaccard near-dup family: (doc_a, doc_b,
    n_a, n_b, n_common) for every pair with exact shingle-Jaccard >=
    threshold. Both ``near_dup_jaccard_pairs`` and ``dedup_clusters``
    derive from this, so the threshold and the plan shape can never
    silently diverge between them. ``base`` overrides the (doc_id, sh)
    corpus relation (dedup_recall_report's shared-scan contract — see
    the ``base`` it builds)."""
    return _shingle_pair_counts(spark, sf_dir, base=base).filter(_jaccard_expr() >= threshold)


def _shingle_pair_counts(
    spark: SparkSession, sf_dir: str, base: DataFrame | None = None
) -> DataFrame:
    """The unfiltered inverted-index pair-count device: (doc_a, doc_b,
    n_a, n_b, n_common) for every pair sharing ≥ 1 shingle. The
    Jaccard family filters it symmetrically; ``doc_containment_pairs``
    filters it asymmetrically — one subtree, two thresholds.
    ``base``: optional pre-built (doc_id, sh) relation; the default is
    the corpus scan + shingle projection this device has always used."""
    docs = base if base is not None else spread(
        load_table(spark, sf_dir, "documents")
    ).select("doc_id", shingles().alias("sh"))
    # One linear pipeline: size rides along with each exploded row, so the
    # expensive shingle expression is evaluated in exactly ONE subtree (the
    # self-join sides are identical plans → ReuseExchange shares the shuffle).
    # n is functionally dependent on doc_id, so folding it into the groupBy
    # keys is free — no size-lookup joins at all.
    sh = exploded(docs.select("doc_id", F.size("sh").alias("n"), F.col("sh")), ["doc_id", "n"], F.col("sh"), "shingle")
    a = sh.alias("a")
    b = sh.alias("b")
    return (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n").alias("n_a"),
            F.col("b.n").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )


@query(
    "token_stats",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, n_chars, {_TOKS_DUCK} AS toks FROM documents)
    SELECT doc_id, lang,
           len(toks) AS n_tokens,
           n_chars,
           round(length(array_to_string(toks, '')) * 1.0 / len(toks), 6) AS avg_token_len,
           len(list_filter(toks, x -> x IN {_STOP_SQL})) AS n_stopwords,
           round(len(list_filter(toks, x -> x IN {_STOP_SQL})) * 1.0 / len(toks), 6) AS stopword_ratio
    FROM t
    """,
)
def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + quality signals (whitespace tokenizer): token
    count, average token length, stopword ratio — per document, all
    higher-order array functions (no UDF, no shuffle at all)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens()
    n_tokens = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS)))
    return docs.select(
        "doc_id",
        "lang",
        n_tokens.alias("n_tokens"),
        "n_chars",
        F.round(F.length(F.array_join(toks, "")) * 1.0 / n_tokens, 6).alias("avg_token_len"),
        n_stop.alias("n_stopwords"),
        F.round(n_stop * 1.0 / n_tokens, 6).alias("stopword_ratio"),
    )


@query(
    "quality_filter",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, source, n_chars, {_TOKS_DUCK} AS toks FROM documents),
    scored AS (
        SELECT doc_id, lang, source, n_chars,
               round({quality_duck("toks")}, 6) AS quality_score
        FROM t
    )
    SELECT doc_id, lang, source, n_chars, quality_score
    FROM scored
    WHERE lang IN ({", ".join(f"'{lang}'" for lang in GATE_LANGS)})
      AND quality_score >= {GATE_MIN_QUALITY}
    """,
)
def quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring + language/length filtering — the
    training-data-pipeline gate (length, stopword ratio, char budget
    blended into one score; filter on lang ∈ {en,de} ∧ score ≥ 0.5)."""
    docs = load_table(spark, sf_dir, "documents")
    score = F.round(blended_quality(), 6)
    return docs.filter(corpus_gate()).select(
        "doc_id", "lang", "source", "n_chars", score.alias("quality_score")
    )


@query(
    "doc_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint,
           length(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS norm_len
    FROM documents
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: md5 over whitespace-normalized lowercased
    text — the canonical-form hash used for fuzzy-exact dedup."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    return docs.select(
        "doc_id",
        F.md5(norm).alias("fingerprint"),
        F.length(norm).alias("norm_len"),
    )


@query(
    "minhash_lsh_near_dup",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents),
    sh AS (SELECT doc_id, unnest({_SHINGLES_DUCK}) AS shingle FROM toks),
    hashed AS (
      SELECT doc_id, s.i AS pos,
             ('0x' || substr(md5(shingle || '#' || CAST(s.i AS VARCHAR)), 1, 15))::BIGINT AS h
      FROM sh CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS i) s
    ),
    sig AS (SELECT doc_id, pos, min(h) AS mh FROM hashed GROUP BY doc_id, pos),
    sigarr AS (SELECT doc_id, list(mh ORDER BY pos) AS sig FROM sig GROUP BY doc_id),
    bands AS (
      SELECT doc_id, pos // 2 AS band, string_agg(CAST(mh AS VARCHAR), ',' ORDER BY pos) AS band_key
      FROM sig GROUP BY doc_id, pos // 2
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    )
    SELECT c.id_a, c.id_b,
           round(len(list_filter(generate_series(1, 8), i -> sa.sig[i] = sb.sig[i])) / 8.0, 6) AS est_jaccard
    FROM cand c
    JOIN sigarr sa ON sa.doc_id = c.id_a
    JOIN sigarr sb ON sb.doc_id = c.id_b
    """,
)
def minhash_lsh_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates (shingle → 8 minhashes → 4 bands
    of 2 → band-bucket join) with estimated Jaccard. The scale path for
    near-dup dedup: cost linear in corpus size vs the exact shingle
    join's hot-bucket quadratic blow-up. md5-derived hashes keep the
    DuckDB oracle bit-exact (operators/dedup.py)."""
    return _minhash_lsh_pairs(spark, sf_dir)


def _minhash_lsh_pairs(
    spark: SparkSession, sf_dir: str, base: DataFrame | None = None
) -> DataFrame:
    """The registered minhash_lsh_near_dup pipeline, parameterized on
    the (doc_id, sh) corpus relation so dedup_recall_report can feed
    the SHARED scan (its ``base``) — the operator logic downstream
    of the shingle projection is this one code path either way."""
    from currency_etl_pipeline_spark.operators.dedup import minhash_near_dup_pairs

    docs = base if base is not None else spread(
        load_table(spark, sf_dir, "documents")
    ).select("doc_id", shingles().alias("sh"))
    shingled = exploded(docs, ["doc_id"], F.col("sh"), "shingle")
    return minhash_near_dup_pairs(shingled, "doc_id", "shingle", num_hashes=8, band_size=2)


# Verify threshold for simhash candidates: deliberately BELOW the 0.6
# notion dedup_recall_report grades against, so the report measures the
# operator's production contract rather than restating its own truth
# criterion.
_SIMHASH_VERIFY_JACCARD = 0.5

@query(
    "simhash_near_dup",
    oracle=f"""
    WITH toks AS (SELECT doc_id, unnest({_TOKS_DUCK}) AS tok FROM documents),
    h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS th FROM toks),
    bits AS (
      SELECT doc_id, s.j AS bit_pos,
             sum(CASE WHEN (th // CAST(pow(2, s.j) AS BIGINT)) % 2 = 1 THEN 1 ELSE -1 END) AS contrib
      FROM h CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS j) s
      GROUP BY doc_id, s.j
    ),
    sig AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN contrib >= 0 THEN CAST(pow(2, bit_pos) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
      FROM bits GROUP BY doc_id
    ),
    blk AS (
      SELECT doc_id, simhash, s.n AS n, (simhash // CAST(pow(2, s.n * 8) AS BIGINT)) % 256 AS block
      FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS n) s
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, a.simhash AS sim_a, b.doc_id AS id_b, b.simhash AS sim_b
      FROM blk a JOIN blk b ON a.n = b.n AND a.block = b.block AND a.doc_id < b.doc_id
    ),
    cpair AS (
      SELECT id_a, id_b, bit_count(xor(sim_a, sim_b)) AS hamming
      FROM cand WHERE bit_count(xor(sim_a, sim_b)) <= 2
    ),
    vsh AS (
      SELECT doc_id, unnest({_SHINGLES_DUCK}) AS shingle
      FROM (SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents)
    ),
    vsets AS MATERIALIZED (
      SELECT doc_id, list(DISTINCT shingle) AS ss, count(DISTINCT shingle) AS n_sh
      FROM vsh GROUP BY doc_id
    ),
    inter AS (
      SELECT c.id_a, c.id_b, c.hamming,
             len(list_intersect(sa.ss, sb.ss)) AS n_common,
             sa.n_sh AS n_a, sb.n_sh AS n_b
      FROM cpair c
      JOIN vsets sa ON sa.doc_id = c.id_a
      JOIN vsets sb ON sb.doc_id = c.id_b
    )
    SELECT id_a, id_b, hamming,
           round(n_common * 1.0 / (n_a + n_b - n_common), 6) AS jaccard
    FROM inter
    WHERE n_common * 1.0 / (n_a + n_b - n_common) >= {_SIMHASH_VERIFY_JACCARD}
    """,
)
def simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs, VERIFIED: 32-bit bit-vote fingerprint per
    doc, candidates via 4-block hamming pigeonhole + exact popcount(xor)
    ≤ 2 (operators/dedup.py; Charikar/Manku scheme), then an exact
    shingle-Jaccard ≥ 0.5 verify over the candidate list only — the
    band-join → verify discipline media_phash_near_dup established.

    Why the verify exists (r10's dedup_recall_report finding): the raw
    token-MULTISET fingerprint is order-blind and over-predicted ~100×
    against the shingle-Jaccard notion (25 836 candidates vs 256 true
    pairs at sf0.1, precision 0.008). The sketch is kept as the linear
    candidate generator; the exact measure — computed only for the
    bounded candidate set — supplies the precision, exactly like the
    FAISS rerank in search_ivfpq_index.

    Plan/scale: the candidate list is bounded by fingerprint-collision
    density, so it is localCheckpointed (≤ tens of KB/row-pair); the
    verify collapses the shingle relation to per-doc SET ARRAYS once
    and runs one codegen'd array_intersect per candidate pair — no
    per-(pair, shingle) explosion (jaccard_verify_pairs docstring has
    the cost comparison). Everything else is hash-partitioned
    groupBy/join — no all-pairs anywhere."""
    return _simhash_verified_pairs(spark, sf_dir)


def _simhash_verified_pairs(
    spark: SparkSession, sf_dir: str, base: DataFrame | None = None
) -> DataFrame:
    """The registered simhash_near_dup pipeline, parameterized on the
    (doc_id, text, sh) corpus relation so dedup_recall_report can feed
    the SHARED scan (its ``base``); the fingerprint (tokens) and
    the verify (shingles) both derive from the same base either way."""
    from currency_etl_pipeline_spark.operators.dedup import (
        jaccard_verify_pairs,
        simhash_near_dup_pairs,
    )

    docs = base if base is not None else spread(load_table(spark, sf_dir, "documents"))
    tokenized = exploded(docs, ["doc_id"], tokens(), "tok")
    cand = simhash_near_dup_pairs(
        tokenized, "doc_id", "tok", bits=32, max_hamming=2, n_blocks=4
    ).localCheckpoint(eager=True)
    shingled = (
        exploded(docs.select("doc_id", F.col("sh")), ["doc_id"], F.col("sh"), "shingle")
        if base is not None and "sh" in base.columns
        else exploded(
            docs.select("doc_id", shingles().alias("sh")), ["doc_id"], F.col("sh"), "shingle"
        )
    )
    return jaccard_verify_pairs(
        cand, shingled, "doc_id", "shingle", threshold=_SIMHASH_VERIFY_JACCARD
    )


@query(
    "lang_id_ngram",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, {_TOKS_DUCK} AS toks FROM documents),
    scores AS (
        SELECT doc_id, lang,
               len(list_filter(toks, x -> x IN {_STOP_SQL})) AS s_en,
               len(list_filter(toks, x -> x IN ('der', 'die', 'das', 'und', 'ist'))) AS s_de,
               len(list_filter(toks, x -> x IN ('el', 'la', 'los', 'es', 'de'))) AS s_es
        FROM t
    )
    SELECT doc_id, lang AS labeled_lang,
           CASE WHEN s_en >= s_de AND s_en >= s_es THEN 'en'
                WHEN s_de >= s_es THEN 'de'
                ELSE 'es' END AS guessed_lang,
           s_en, s_de, s_es
    FROM scores
    """,
)
def lang_id_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: stopword-profile scores per candidate
    language, argmax with a deterministic tie order (en > de > es).
    (The synthetic corpus is English-ish for every `lang` label, so the
    guess column demonstrates the operator rather than the labels.)"""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens()
    s_en = F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS)))
    s_de = F.size(F.filter(toks, lambda x: x.isin("der", "die", "das", "und", "ist")))
    s_es = F.size(F.filter(toks, lambda x: x.isin("el", "la", "los", "es", "de")))
    t = docs.select("doc_id", F.col("lang").alias("labeled_lang"), s_en.alias("s_en"), s_de.alias("s_de"), s_es.alias("s_es"))
    return t.select(
        "doc_id",
        "labeled_lang",
        F.when((F.col("s_en") >= F.col("s_de")) & (F.col("s_en") >= F.col("s_es")), "en")
        .when(F.col("s_de") >= F.col("s_es"), "de")
        .otherwise("es")
        .alias("guessed_lang"),
        "s_en", "s_de", "s_es",
    )


@query(
    "dedup_consensus",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents),
    sh AS (SELECT doc_id, unnest({_SHINGLES_DUCK}) AS shingle FROM toks),
    hashed AS (
      SELECT doc_id, s.i AS pos,
             ('0x' || substr(md5(shingle || '#' || CAST(s.i AS VARCHAR)), 1, 15))::BIGINT AS h
      FROM sh CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS i) s
    ),
    sig AS (SELECT doc_id, pos, min(h) AS mh FROM hashed GROUP BY doc_id, pos),
    sigarr AS (SELECT doc_id, list(mh ORDER BY pos) AS sig FROM sig GROUP BY doc_id),
    bands AS (
      SELECT doc_id, pos // 2 AS band, string_agg(CAST(mh AS VARCHAR), ',' ORDER BY pos) AS band_key
      FROM sig GROUP BY doc_id, pos // 2
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    mh AS (
      SELECT c.id_a, c.id_b,
             round(len(list_filter(generate_series(1, 8), i -> sa.sig[i] = sb.sig[i])) / 8.0, 6) AS est_jaccard
      FROM cand c
      JOIN sigarr sa ON sa.doc_id = c.id_a
      JOIN sigarr sb ON sb.doc_id = c.id_b
    ),
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dv FROM embeddings),
    scored AS (
      SELECT m.id_a, m.id_b, m.est_jaccard,
             list_inner_product(a.dv, b.dv) /
               (sqrt(list_inner_product(a.dv, a.dv)) * sqrt(list_inner_product(b.dv, b.dv))) AS cos_raw
      FROM mh m
      JOIN v a ON a.vec_id = m.id_a
      JOIN v b ON b.vec_id = m.id_b
      WHERE m.est_jaccard >= 0.5
    )
    SELECT id_a, id_b, est_jaccard, round(cos_raw, 6) AS cos_sim
    FROM scored WHERE cos_raw >= 0.0
    """,
)
def dedup_consensus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal consensus dedup: a pair is a duplicate only when the
    LEXICAL signal (MinHash-LSH estimated Jaccard >= 0.5 over 3-gram
    shingles) and the SEMANTIC signal (embedding cosine, doc_id aligned
    with vec_id) agree — the standard precision move in training-data
    dedup, where either signal alone over-fires.

    The cosine gate is calibrated to the synthetic testdata, whose
    embeddings are statistically independent of the document text:
    LSH candidates' cosines spread roughly [-0.3, 0.33], so the gate
    at 0.0 ("not semantically opposed") keeps about half and rejects
    about half — both sides of the gate are exercised (pinned by
    tests/test_oracle_parity.py::test_dedup_consensus_gate_bites). On
    a real corpus, where true duplicates carry cosine >= 0.9, raise
    the gate accordingly; the plan is unchanged.

    Plan: the MinHash band join generates candidates linear in corpus
    size; only those few pairs ever touch embeddings (two broadcast-able
    lookups by id), so the vector math runs on candidate pairs, never
    all pairs. At 100 TB this is the whole point: LSH prunes, vectors
    verify. (r16: bands derive map-side from the signature array in
    minhash_near_dup_pairs; this note re-tiers the query into the
    driver sweep — helper edits don't change its source hash.)
    """
    from currency_etl_pipeline_spark.operators.dedup import minhash_near_dup_pairs
    from currency_etl_pipeline_spark.queries.vectors import _vecs, cosine

    docs = spread(load_table(spark, sf_dir, "documents")).select("doc_id", shingles().alias("sh"))
    shingled = exploded(docs, ["doc_id"], F.col("sh"), "shingle")
    mh = minhash_near_dup_pairs(shingled, "doc_id", "shingle", num_hashes=8, band_size=2).filter(
        F.col("est_jaccard") >= 0.5
    )
    v = _vecs(spark, sf_dir).select("vec_id", "v")
    a = v.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"))
    b = v.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"))
    cos = cosine(F.col("va"), F.col("vb"))
    return (
        mh.join(a, "id_a").join(b, "id_b")
        .withColumn("cos_raw", cos)
        # Consensus gate: the semantic signal must agree. Filter on the
        # RAW cosine (per-row double math is IEEE-identical across
        # engines; rounding first would reintroduce the tie trap).
        .filter(F.col("cos_raw") >= 0.0)
        .select("id_a", "id_b", "est_jaccard", F.round("cos_raw", 6).alias("cos_sim"))
    )


# BPE-ish pre-tokenizer classes (ASCII form so both engines' regex
# engines agree): letter runs, digit runs, punctuation runs.
_BPE_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n]+"


@query(
    "bpe_token_estimate",
    oracle=r"""
    SELECT doc_id,
           len(regexp_split_to_array(trim(text), '\s+')) AS ws_tokens,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n]+')) AS bpe_ish_tokens,
           round(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n]+')) * 1.0
                 / len(regexp_split_to_array(trim(text), '\s+')), 6) AS fertility
    FROM documents
    """,
)
def bpe_token_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-count estimation two ways: whitespace tokens vs a BPE-ish
    pre-tokenizer regex (letter runs / digit runs / punctuation runs —
    the class split GPT-style BPE applies before merges), plus their
    ratio ("fertility"). The budget arithmetic every training-data
    pipeline runs before mixing corpora.

    Plan: pure per-row regex in whole-stage codegen — no shuffle, no
    UDF; at 100 TB this runs at scan speed with full column pruning
    (only doc_id + text read)."""
    docs = load_table(spark, sf_dir, "documents")
    ws = F.size(tokens())
    bpe = F.size(F.regexp_extract_all("text", F.lit(_BPE_RE), 0))
    return docs.select(
        "doc_id",
        ws.alias("ws_tokens"),
        bpe.alias("bpe_ish_tokens"),
        F.round(bpe * 1.0 / ws, 6).alias("fertility"),
    )


@query(
    "training_shard_prep",
    oracle=f"""
    WITH corpus AS (
        SELECT doc_id, lang, source, n_chars, text FROM documents
        UNION ALL
        SELECT doc_id + 10000000 AS doc_id, lang, source, n_chars, text FROM documents
    ),
    scored AS (
        SELECT doc_id, lang, source, n_chars, text,
               {quality_duck()} AS q
        FROM corpus
    ),
    gated AS (
        SELECT * FROM scored
        WHERE lang IN ({", ".join(f"'{lang}'" for lang in GATE_LANGS)})
          AND round(q, 6) >= {GATE_MIN_QUALITY}
    ),
    deduped AS (
        SELECT md5({_REDACTED_DUCK}) AS text_hash, lang, source,
               min(doc_id) AS keeper_doc_id,
               min_by(n_chars, doc_id) AS n_chars,
               min_by(len({_TOKS_DUCK}), doc_id) AS n_tokens
        FROM gated
        GROUP BY md5({_REDACTED_DUCK}), lang, source
    )
    SELECT lang, source,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM deduped GROUP BY lang, source
    """,
)
def training_shard_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-shard preparation in ONE lazy plan — the
    composition every LLM data pipeline runs before tokenizing a
    shard: quality gate (same blended score as ``quality_filter``) →
    exact dedup (md5 hash-groupBy keeping the lowest doc_id, exercised
    on a doubled corpus exactly like ``exact_dedup_documents``) →
    per-(lang, source) token/char budget accounting. Demonstrates that
    the catalog's operators compose without materialization barriers.

    The dedup hash is computed over the PII-REDACTED text
    (functions/redact.py, same operator the streaming ingest gate
    composes): two documents identical up to their PII are the same
    training document and must collapse. The group key is therefore
    ONLY (hash, lang, source) — raw n_chars must NOT be a key, or
    different-length PII (the common case) would keep the duplicates
    apart — and the surviving n_chars/n_tokens are the KEEPER's own
    values via min_by(·, doc_id), which is deterministic where
    any_value over a now-heterogeneous group is not. Value-neutral on
    the PII-free fixture; the redaction semantics are adjudicated by
    ``redact_pii_documents``'s grafted oracle and the PII-duplicate
    regression test.

    Plan: the quality score and hash are per-row codegen over one
    scan; ONE shuffle for the dedup groupBy on the digest (32-char
    keys, never full texts); the budget rollup re-aggregates the
    deduped keys (partial aggs map-side). Token counts ride through
    the dedup as min_by so the text column dies at the first
    aggregation boundary — at 100 TB only hashes and counters shuffle.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars", "text"
    )
    corpus = docs.unionByName(
        docs.select((F.col("doc_id") + 10000000).alias("doc_id"), "lang", "source", "n_chars", "text")
    )
    n_tokens = F.size(tokens())
    from currency_etl_pipeline_spark.functions.redact import redact_pii

    gated = corpus.filter(corpus_gate())
    deduped = (
        gated.select(
            F.md5(redact_pii(F.col("text"))).alias("text_hash"),
            "lang",
            "source",
            "n_chars",
            "doc_id",
            n_tokens.alias("n_toks"),
        )
        .groupBy("text_hash", "lang", "source")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.min_by("n_chars", "doc_id").alias("n_chars"),
            F.min_by("n_toks", "doc_id").alias("n_tokens"),
        )
    )
    return deduped.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("n_chars").alias("total_chars"),
    )


# Recursive-CTE transitive closure over the exact-Jaccard pair graph —
# shared by dedup_clusters and dedup_cluster_keepers (the closure is
# identical; the keeper query composes a ranking on top).
_CLUSTERS_DUCK_CTES = f"""WITH RECURSIVE sh AS (
        SELECT doc_id, unnest({_SHINGLES_DUCK}) AS shingle
        FROM (SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents)
    ), sizes AS (
        SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id
    ), cand AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ), pairs AS (
        SELECT c.doc_a, c.doc_b FROM cand c
        JOIN sizes sa ON sa.doc_id = c.doc_a
        JOIN sizes sb ON sb.doc_id = c.doc_b
        WHERE c.n_common * 1.0 / (sa.n_shingles + sb.n_shingles - c.n_common) >= 0.6
    ), edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs
    ), reach AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ), clusters AS (
        SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a
    )"""


@query(
    "dedup_clusters",
    oracle=_CLUSTERS_DUCK_CTES + "\n    SELECT doc_id, cluster_id FROM clusters",
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-CLUSTER formation: connected components over the
    near-dup pair graph (exact shingle-Jaccard >= 0.6 pairs, the same
    edge set as ``near_dup_jaccard_pairs``), labeling every involved
    doc with the min doc_id reachable — the step that turns pairwise
    similarity into "keep one per transitive cluster" for corpus
    pruning.

    Plan: pair generation is the pinned inverted-index join; the
    component labels come from iterative min-label propagation
    (operators/graph.py) — one shuffle per superstep, supersteps
    bounded by cluster diameter (near-dup clusters are short chains).
    The oracle replays the closure with a recursive CTE; the driver
    check therefore covers an ITERATIVE algorithm end-to-end.
    """
    from currency_etl_pipeline_spark.operators.graph import connected_components

    pairs = _jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    return connected_components(pairs, "doc_a", "doc_b").select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    )


@query(
    "dedup_cluster_keepers",
    oracle=_CLUSTERS_DUCK_CTES
    + f""",
    scored AS (
        SELECT doc_id, round({quality_duck()}, 6) AS q
        FROM documents
    )
    SELECT cluster_id, doc_id AS keeper_doc_id, q AS keeper_quality, n_members
    FROM (
        SELECT c.cluster_id, c.doc_id, s.q,
               count(*) OVER (PARTITION BY c.cluster_id) AS n_members,
               row_number() OVER (PARTITION BY c.cluster_id
                                  ORDER BY s.q DESC, c.doc_id) AS rn
        FROM clusters c JOIN scored s USING (doc_id)
    ) WHERE rn = 1
    """,
)
def dedup_cluster_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRUNING step after clustering: per duplicate cluster, keep
    the highest-quality member (blended quality score, ties to the
    lowest doc_id) — the decision a training pipeline actually acts on
    ("drop the other n_members - 1 docs"), composed from
    ``dedup_clusters``'s iterative components and ``quality_filter``'s
    score in one lazy plan.

    Plan: cluster labels come from the CC loop (one shuffle per
    superstep, star-contraction fallback for giant diameters); the
    quality score is per-row codegen over the documents scan; keeper
    selection is a row_number window partitioned by cluster_id —
    millions of small partitions, embarrassingly parallel, the
    clustered subset being a tiny fraction of the corpus. The oracle
    replays closure + ranking in one recursive-CTE statement, so the
    driver adjudicates the full iterative-plus-ranking composition.
    """
    from pyspark.sql.window import Window

    from currency_etl_pipeline_spark.operators.graph import connected_components

    pairs = _jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    clusters = connected_components(pairs, "doc_a", "doc_b").select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    )
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select("doc_id", F.round(blended_quality(), 6).alias("q"))
    w_cnt = Window.partitionBy("cluster_id")
    w_rank = Window.partitionBy("cluster_id").orderBy(F.col("q").desc(), F.col("doc_id").asc())
    return (
        clusters.join(scored, "doc_id")
        .withColumn("n_members", F.count(F.lit(1)).over(w_cnt))
        .withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("keeper_doc_id"),
            F.col("q").alias("keeper_quality"),
            "n_members",
        )
    )


@query(
    "token_positions",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents WHERE doc_id < 50
    ), idx AS (
        SELECT doc_id, toks, unnest(generate_series(1, least(len(toks), 8))) AS i FROM t
    )
    SELECT doc_id, i - 1 AS pos, toks[i] AS token, len(toks[i]) AS token_len
    FROM idx
    """,
)
def token_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional tokenization via ``posexplode`` — the ordinal
    generator (§2.A S2's map→rows, second form: position matters).
    First 8 token positions of each small-id document with per-token
    length, the shape a positional n-gram / alignment feature needs.

    Plan: Generate(posexplode) is a narrow map-side expansion
    bounded by slice(…, 8) BEFORE the explode — no shuffle, and the
    generator emits at most 8 rows per document regardless of length.
    """
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    first8 = F.slice(tokens(), 1, 8)
    return docs.select("doc_id", F.posexplode(first8).alias("pos", "token")).withColumn(
        "token_len", F.length("token")
    )


# Materialized-dedup-index twin: corpus = doc_id < 400, batch = rest.
_IDX_SPLIT = 400
_IDX_MIN_EST = 0.5  # eighths are exact, so the gate is engine-exact


@query(
    "minhash_index_batch_dedup",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents),
    sh AS (SELECT doc_id, unnest({_SHINGLES_DUCK}) AS shingle FROM toks),
    hashed AS (
      SELECT doc_id, s.i AS pos,
             ('0x' || substr(md5(shingle || '#' || CAST(s.i AS VARCHAR)), 1, 15))::BIGINT AS h
      FROM sh CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS i) s
    ),
    sig AS (SELECT doc_id, pos, min(h) AS mh FROM hashed GROUP BY doc_id, pos),
    sigarr AS (SELECT doc_id, list(mh ORDER BY pos) AS sig FROM sig GROUP BY doc_id),
    bands AS (
      SELECT doc_id, pos // 2 AS band, string_agg(CAST(mh AS VARCHAR), ',' ORDER BY pos) AS band_key
      FROM sig GROUP BY doc_id, pos // 2
    ),
    cand AS (
      SELECT DISTINCT b.doc_id AS batch_id, a.doc_id AS corpus_id
      FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
      WHERE a.doc_id < {_IDX_SPLIT} AND b.doc_id >= {_IDX_SPLIT}
    )
    SELECT c.batch_id, c.corpus_id,
           round(len(list_filter(generate_series(1, 8), i -> sc.sig[i] = sb.sig[i])) / 8.0, 6) AS est_jaccard
    FROM cand c
    JOIN sigarr sc ON sc.doc_id = c.corpus_id
    JOIN sigarr sb ON sb.doc_id = c.batch_id
    WHERE round(len(list_filter(generate_series(1, 8), i -> sc.sig[i] = sb.sig[i])) / 8.0, 6) >= {_IDX_MIN_EST}
    """,
)
def minhash_index_batch_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus dedup — the ingest-loop question "is anything
    in this crawl batch a near-dup of the ACCEPTED corpus?": batch docs
    (doc_id >= split) checked against corpus docs (< split) via the
    MinHash band probe + signature compare, gated at est_jaccard >=
    0.5. This is the filesystem-free twin of the MATERIALIZED dedup
    index (sources/dedup_index.py — bands + signatures persisted,
    appended per admitted batch, corpus text never re-hashed); it runs
    the same doc_signature_tables / minhash_cross_candidates code
    path, so the driver hash-checks the index math end to end.
    Build+append+query ≡ this twin is pinned in tests/test_incremental.py.
    (r16: bands derive map-side from the signature array —
    operators/dedup.bands_from_sig_array; this note re-tiers the query
    into the driver sweep, since helper edits don't change its source
    hash.)

    Plan/scale: corpus and batch are separate relations in production
    (persisted index vs new batch); here one table splits into two
    branches whose pushed filters are COMPLEMENTARY — together they
    read each row once, so this is not the double-scan trap (which is
    the same rows hashed twice). The candidate join is an equi-join on
    (band, band_key); AQE broadcasts the smaller batch side; est
    Jaccard touches candidates only.
    """
    from currency_etl_pipeline_spark.sources.dedup_index import (
        doc_signature_tables,
        minhash_cross_candidates,
    )

    docs = spread(load_table(spark, sf_dir, "documents")).select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") < _IDX_SPLIT)
    batch = docs.filter(F.col("doc_id") >= _IDX_SPLIT)
    cb, cs = doc_signature_tables(corpus, num_hashes=8, band_size=2)
    bb, bs = doc_signature_tables(batch, num_hashes=8, band_size=2)
    return minhash_cross_candidates(cb, cs, bb, bs, 8, _IDX_MIN_EST)


# The sequential-admission dedup gate (threshold on the 8-hash MinHash
# estimate — multiples of 1/8, so the >= compare is engine-exact).
_SEQ_ADMIT_MIN_EST = 0.5


@query(
    "sequential_dedup_admission",
    oracle=f"""
    WITH RECURSIVE toks AS (SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents),
    sh AS (SELECT doc_id, unnest({_SHINGLES_DUCK}) AS shingle FROM toks),
    hashed AS (
      SELECT doc_id, s.i AS pos,
             ('0x' || substr(md5(shingle || '#' || CAST(s.i AS VARCHAR)), 1, 15))::BIGINT AS h
      FROM sh CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS i) s
    ),
    sig AS (SELECT doc_id, pos, min(h) AS mh FROM hashed GROUP BY doc_id, pos),
    sigarr AS (SELECT doc_id, list(mh ORDER BY pos) AS sig FROM sig GROUP BY doc_id),
    bands AS (
      SELECT doc_id, pos // 2 AS band, string_agg(CAST(mh AS VARCHAR), ',' ORDER BY pos) AS band_key
      FROM sig GROUP BY doc_id, pos // 2
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    -- MATERIALIZED: the recursive step's correlated subquery probes
    -- pairs once per step; inlined, DuckDB would re-run the whole
    -- minhash pipeline per probe (hours at sf0.1, seconds materialized)
    pairs AS MATERIALIZED (
      SELECT c.id_a, c.id_b
      FROM cand c
      JOIN sigarr sa ON sa.doc_id = c.id_a
      JOIN sigarr sb ON sb.doc_id = c.id_b
      WHERE round(len(list_filter(generate_series(1, 8), i -> sa.sig[i] = sb.sig[i])) / 8.0, 6)
            >= {_SEQ_ADMIT_MIN_EST}
    ),
    ordered AS (
      SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS rn
      FROM (SELECT id_a AS doc_id FROM pairs UNION SELECT id_b FROM pairs)
    ),
    -- strictly-sequential greedy, replayed as a recursive scan in doc_id
    -- order carrying the admitted set as a list — the SQL twin of the
    -- per-component pandas greedy (operators/dedup.py)
    step AS (
      SELECT 0 AS rn, CAST([] AS BIGINT[]) AS admitted
      UNION ALL
      SELECT o.rn,
             CASE WHEN (SELECT count(*) FROM pairs p
                        WHERE p.id_b = o.doc_id AND list_contains(s.admitted, p.id_a)) = 0
                  THEN list_append(s.admitted, o.doc_id) ELSE s.admitted END
      FROM step s JOIN ordered o ON o.rn = s.rn + 1
    ),
    keep AS (SELECT admitted FROM step ORDER BY rn DESC LIMIT 1)
    SELECT d.doc_id,
           (NOT EXISTS (SELECT 1 FROM ordered o WHERE o.doc_id = d.doc_id))
            OR list_contains((SELECT admitted FROM keep), d.doc_id) AS admitted
    FROM documents d
    """,
)
def sequential_dedup_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT sequential near-dup admission over the whole corpus: docs
    considered in ascending doc_id order, each admitted unless it
    near-dups (8-hash MinHash estimate >= 0.5) an already-ADMITTED doc
    — the decision sequence a one-at-a-time ingest loop produces, and
    the semantics ``stream_minhash_ingest(exact_chains=True)`` applies
    per micro-batch. Differs from keeper-per-cluster dedup on chains:
    in a~b~c with a<b<c and no a~c edge, sequential admission keeps
    BOTH a and c (b fell to a, so c has no admitted neighbor), where
    cluster-keeper keeps only the cluster minimum.

    The inherently-sequential greedy still runs distributed: LSH
    candidate pairs (linear in corpus, never all-pairs) -> connected
    components (operators/graph.py) -> per-component pandas greedy
    (operators/dedup.sequential_admission_pandas) — components run in
    parallel, each bounded by its near-dup neighborhood. The DuckDB
    twin replays the identical greedy as a recursive CTE carrying the
    admitted set, so the driver hash-checks a semantics that looks
    non-SQL-expressible. Output: (doc_id, admitted) for every doc.
    (r16: bands derive map-side from the signature array in
    minhash_near_dup_pairs; this note re-tiers the query into the
    driver sweep — helper edits don't change its source hash.)
    """
    from currency_etl_pipeline_spark.operators.dedup import (
        minhash_near_dup_pairs,
        sequential_admission_pandas,
    )
    from currency_etl_pipeline_spark.operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    shingled = exploded(
        spread(docs).select("doc_id", shingles().alias("sh")),
        ["doc_id"], F.col("sh"), "shingle",
    )
    pairs = (
        minhash_near_dup_pairs(shingled, "doc_id", "shingle", num_hashes=8, band_size=2)
        .filter(F.col("est_jaccard") >= _SEQ_ADMIT_MIN_EST)
        .select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
        # Materialize ONCE: the pair relation is bounded (near-dup
        # edges, not the corpus) and is consumed twice — by the CC
        # supersteps AND as the component greedy's edge rows; without
        # this the full shingle->minhash->band pipeline runs twice.
        .localCheckpoint(eager=True)
    )
    comp = connected_components(pairs, "a", "b")
    node_rows = comp.select(
        "component",
        F.col("node").alias("a"),
        F.lit(None).cast("long").alias("b"),
        F.lit(0).alias("rej"),
    )
    edge_rows = pairs.join(comp.withColumnRenamed("node", "a"), "a").select(
        "component", "a", "b", F.lit(0).alias("rej")
    )
    admitted = (
        node_rows.unionByName(edge_rows)
        .groupBy("component")
        .applyInPandas(sequential_admission_pandas, "doc_id long")
        .withColumn("adm", F.lit(True))
    )
    in_graph = comp.select(F.col("node").alias("doc_id")).withColumn("g", F.lit(True))
    return (
        docs.select("doc_id")
        .join(in_graph, "doc_id", "left")
        .join(admitted, "doc_id", "left")
        .select(
            "doc_id",
            (F.col("g").isNull() | F.col("adm").isNotNull()).alias("admitted"),
        )
    )


_LIFT_MIN_COUNT = 5  # bigrams below this are too rare to rank (1/c noise)


@query(
    "bigram_lift_topk",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents),
    uni AS (SELECT unnest(toks) AS tok FROM toks),
    ucnt AS (SELECT tok, count(*) AS c FROM uni GROUP BY tok),
    n_tok AS (SELECT count(*) AS n FROM uni),
    bi AS (
      SELECT toks[s.i] || ' ' || toks[s.i + 1] AS bigram,
             toks[s.i] AS w1, toks[s.i + 1] AS w2
      FROM toks CROSS JOIN LATERAL unnest(generate_series(1, len(toks) - 1)) AS s(i)
    ),
    bcnt AS (SELECT bigram, any_value(w1) AS w1, any_value(w2) AS w2,
                    count(*) AS c_xy
             FROM bi GROUP BY bigram),
    m_bi AS (SELECT count(*) AS m FROM bi),
    lifted AS (
      SELECT b.bigram, CAST(b.c_xy AS BIGINT) AS c_xy,
             round(((CAST(b.c_xy AS DOUBLE) * CAST(n.n AS DOUBLE)) * CAST(n.n AS DOUBLE))
                   / ((CAST(m.m AS DOUBLE) * CAST(u1.c AS DOUBLE)) * CAST(u2.c AS DOUBLE)),
                   6) AS lift
      FROM bcnt b
      JOIN ucnt u1 ON u1.tok = b.w1
      JOIN ucnt u2 ON u2.tok = b.w2
      CROSS JOIN n_tok n CROSS JOIN m_bi m
      WHERE b.c_xy >= {_LIFT_MIN_COUNT}
    )
    SELECT bigram, c_xy, lift FROM lifted
    QUALIFY row_number() OVER (ORDER BY lift DESC, bigram ASC) <= 20
    """,
)
def bigram_lift_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 corpus collocations by LIFT — P(xy) / (P(x)·P(y)), the
    association measure behind PMI without its logarithm: every input
    to the ratio is an exact integer count (bigram count, the two
    unigram counts, corpus token/bigram totals), so the score is one
    fixed-form double expression over exactly-representable integers —
    identical across engines with no libm in sight (log/pow are NOT
    cross-libm-identical; the lift ordering is the same as PMI's).
    Bigrams under _LIFT_MIN_COUNT (= 5) occurrences are excluded (1/c noise
    dominates tiny counts); ties break on the bigram string.

    Plan/scale: one corpus scan exploded twice (unigrams, bigrams —
    both map-side), two hash aggregates, then the bounded bigram-count
    relation joins the unigram counts (AQE broadcasts the smaller
    side) and the two scalar totals ride literal cross joins. The
    top-20 is TakeOrderedAndProject. Nothing quadratic, no UDFs.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens().alias("toks"))
    uni = exploded(toks, [], F.col("toks"), "tok")
    ucnt = uni.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    n_tok = uni.agg(F.count(F.lit(1)).alias("n"))
    bigrams = exploded(
        toks.select(
            F.zip_with(
                F.slice(F.col("toks"), 1, F.greatest(F.size("toks") - 1, F.lit(0))),
                F.slice(F.col("toks"), 2, F.greatest(F.size("toks") - 1, F.lit(0))),
                lambda x, y: F.struct(
                    F.concat_ws(" ", x, y).alias("bigram"),
                    x.alias("w1"),
                    y.alias("w2"),
                ),
            ).alias("bis")
        ),
        [],
        F.col("bis"),
        "bi",
    ).select("bi.bigram", "bi.w1", "bi.w2")
    bcnt = (
        bigrams.groupBy("bigram")
        .agg(
            F.any_value("w1").alias("w1"),
            F.any_value("w2").alias("w2"),
            F.count(F.lit(1)).alias("c_xy"),
        )
        .filter(F.col("c_xy") >= _LIFT_MIN_COUNT)
    )
    m_bi = bigrams.agg(F.count(F.lit(1)).alias("m"))
    lift = F.round(
        (
            (F.col("c_xy").cast("double") * F.col("n").cast("double"))
            * F.col("n").cast("double")
        )
        / (
            (F.col("m").cast("double") * F.col("u1c").cast("double"))
            * F.col("u2c").cast("double")
        ),
        6,
    )
    lifted = (
        bcnt.join(ucnt.select(F.col("tok").alias("w1"), F.col("c").alias("u1c")), "w1")
        .join(ucnt.select(F.col("tok").alias("w2"), F.col("c").alias("u2c")), "w2")
        .crossJoin(F.broadcast(n_tok))
        .crossJoin(F.broadcast(m_bi))
        .select("bigram", "c_xy", lift.alias("lift"))
    )
    return lifted.orderBy(F.col("lift").desc(), F.col("bigram").asc()).limit(20)


def _lsh_edge_sql() -> str:
    """The registered oracle SQL of minhash_lsh_near_dup — the eval-by-
    composition device (ann_recall_report's pattern): the graph-stats
    oracle is built ON the graded near-dup query's own SQL, so the two
    can never drift apart."""
    from currency_etl_pipeline_spark.queries.registry import _REGISTRY

    return _REGISTRY["minhash_lsh_near_dup"].oracle


@query(
    "near_dup_graph_stats",
    oracle=f"""
    WITH e AS (SELECT id_a AS a, id_b AS b FROM ({_lsh_edge_sql()})),
    deg AS (
      SELECT v, count(*) AS d
      FROM (SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e)
      GROUP BY v
    ),
    tri AS (
      SELECT count(*) AS n_triangles
      FROM e e1 JOIN e e2 ON e1.b = e2.a
                JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    )
    SELECT CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges,
           CAST((SELECT count(*) FROM deg) AS BIGINT) AS n_vertices,
           CAST((SELECT sum(d * (d - 1) // 2) FROM deg) AS BIGINT) AS n_wedges,
           CAST(t.n_triangles AS BIGINT) AS n_triangles,
           CASE WHEN (SELECT sum(d * (d - 1) // 2) FROM deg) > 0
                THEN round(3.0 * t.n_triangles
                           / (SELECT sum(d * (d - 1) // 2) FROM deg), 6)
                END AS clustering_coeff
    FROM tri t
    """,
)
def near_dup_graph_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structure diagnostics of the near-duplicate graph: edge/vertex
    counts, wedge count (paths of length 2), triangle count, and the
    global clustering coefficient 3·triangles / wedges — the signal
    that says whether near-dups form tight cliques (mirrored content:
    safe to keep one per component) or long chains (drift: the r8
    sequential-admission semantics matter, because transitive closure
    over-merges). Composed from the REGISTERED minhash_lsh_near_dup
    SQL/plan, so the diagnostic grades exactly the edges the dedup
    pipeline actually produces (the ann_recall_report pattern).

    Triangle counting is the canonical oriented-edge-join: edges kept
    as a < b once, triangles found by (a,b)⋈(b,c)⋈(a,c) — each
    triangle counted exactly once, no orientation blow-up. Exactness:
    every output is an exact integer except the coefficient's ONE
    fixed-form division (NULL-guarded when wedges = 0 in both engines
    — Spark x/0 yields NULL but DuckDB yields inf, so the guard is
    explicit).

    Plan/scale: the LSH edge list is bounded by near-dup density (633
    edges at sf0.1), localCheckpointed ONCE — the three triangle-join
    branches and the degree aggregate read the pinned 16-byte rows,
    never the re-derived LSH pipeline (the CC-loop lineage-cut
    pattern). Triangle join cost is Σ deg(v)² over the dup graph, not
    the corpus.
    """
    edges = (
        _lsh_edges_plan(spark, sf_dir)
        .select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
        .localCheckpoint(eager=True)
    )
    deg = (
        edges.select(F.col("a").alias("v"))
        .unionByName(edges.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    e1 = edges.select(F.col("a").alias("t_a"), F.col("b").alias("t_b"))
    e2 = edges.select(F.col("a").alias("t_b"), F.col("b").alias("t_c"))
    e3 = edges.select(F.col("a").alias("t_a"), F.col("b").alias("t_c"))
    tri = e1.join(e2, "t_b").join(e3, ["t_a", "t_c"]).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    edge_stats = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    deg_stats = deg.agg(
        F.count(F.lit(1)).alias("n_vertices"),
        F.sum(F.expr("d * (d - 1) DIV 2")).alias("n_wedges"),
    )
    return (
        edge_stats.crossJoin(deg_stats)
        .crossJoin(tri)
        .select(
            "n_edges",
            "n_vertices",
            "n_wedges",
            "n_triangles",
            F.when(
                F.col("n_wedges") > 0,
                F.round(3.0 * F.col("n_triangles") / F.col("n_wedges"), 6),
            ).alias("clustering_coeff"),
        )
    )


def _lsh_edges_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registered minhash_lsh_near_dup plan (composition twin of
    _lsh_edge_sql — same single source of truth on the Spark side)."""
    from currency_etl_pipeline_spark.queries.registry import _REGISTRY

    return _REGISTRY["minhash_lsh_near_dup"].spark(spark, sf_dir)


# Keyword-retrieval query terms: one rare (~5% df), two common — the
# ranking must weigh scarcity, not just term frequency.
_KW_TERMS = ("dup", "batch", "scan")
_KW_K1, _KW_B, _KW_TOPK = 1.2, 0.75, 20


@query(
    "keyword_search_topk",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents
    ),
    stats AS (
      SELECT count(*) AS n_docs, sum(len(toks)) AS sumdl FROM d
    ),
    t AS (
      SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM d
    ),
    tf AS (
      SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
      FROM t WHERE term IN ('dup', 'batch', 'scan')
      GROUP BY doc_id, term
    ),
    df AS (
      SELECT term, count(*) AS df FROM tf GROUP BY term
    ),
    scored AS (
      SELECT tf.doc_id, tf.term,
             CAST(((s.n_docs - df.df + 1) * 1000000) // (df.df + 1) AS BIGINT) AS idf_e6,
             (CAST(tf.tf AS DOUBLE) * {_KW_K1 + 1.0})
               / (CAST(tf.tf AS DOUBLE)
                  + {_KW_K1} * ({1.0 - _KW_B} + {_KW_B}
                     * (CAST(tf.dl * s.n_docs AS DOUBLE) / CAST(s.sumdl AS DOUBLE))))
               AS tfpart
      FROM tf JOIN df ON tf.term = df.term CROSS JOIN stats s
    ),
    agg AS (
      SELECT doc_id,
             coalesce(max(CASE WHEN term = 'dup' THEN idf_e6 * tfpart END), 0.0)
             + coalesce(max(CASE WHEN term = 'batch' THEN idf_e6 * tfpart END), 0.0)
             + coalesce(max(CASE WHEN term = 'scan' THEN idf_e6 * tfpart END), 0.0)
               AS raw_score,
             CAST(count(*) AS BIGINT) AS n_terms
      FROM scored GROUP BY doc_id
    )
    SELECT doc_id, n_terms, round(raw_score, 4) AS score,
           rank
    FROM (SELECT *, row_number() OVER (ORDER BY raw_score DESC, doc_id ASC) AS rank
          FROM agg)
    WHERE rank <= {_KW_TOPK}
    """,
)
def keyword_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword retrieval over the corpus: top-20 documents for the
    literal query {{dup, batch, scan}} under BM25-SHAPED scoring — the
    lexical half of hybrid retrieval (the embedding ANN family is the
    other half; production fuses both). Per matched (doc, term):
    idf × tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)) with k1=1.2, b=0.75 —
    BM25's saturation and length normalization exactly.

    The one deliberate deviation, documented: idf is the RATIONAL
    surrogate (N−df+1)·10⁶ ÷ (df+1) (exact integer division) instead
    of BM25's log((N−df+0.5)/(df+0.5)) — log is not cross-libm
    identical (the bigram_lift precedent) and a monotone-in-df weight
    preserves the scarce-beats-common structure; with it the ENTIRE
    ranking surface is engine-exact: integer idf, integer tf/dl/N/Σdl,
    ONE fixed-form float expression per (doc, term), and a
    fixed-ORDER three-term sum (per-term values pivoted to columns
    first — a groupBy SUM of doubles would reassociate across rows).

    Plan/scale: tokens explode once, filtered to the 3 query terms
    BEFORE the shuffle (the posting-list discipline: work scales with
    matching postings, not corpus tokens); df derives from the tf
    aggregate (no second corpus pass), corpus stats are a 1-row
    crossJoin, the df side a 3-row broadcast, and top-k is one
    TakeOrderedAndProject-shaped window. Two corpus scans total
    (stats + postings), the tfidf_top_terms precedent.
    """
    d = load_table(spark, sf_dir, "documents").select("doc_id", tokens().alias("toks"))
    stats = d.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum(F.size("toks")).alias("sumdl")
    )
    t = d.select(
        "doc_id", F.size("toks").alias("dl"), F.explode("toks").alias("term")
    ).filter(F.col("term").isin(*_KW_TERMS))
    tf = t.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl")
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            "term",
            F.expr("CAST(((n_docs - df + 1) * 1000000) DIV (df + 1) AS BIGINT)").alias(
                "idf_e6"
            ),
            (
                (F.col("tf").cast("double") * F.lit(_KW_K1 + 1.0))
                / (
                    F.col("tf").cast("double")
                    + F.lit(_KW_K1)
                    * (
                        F.lit(1.0 - _KW_B)
                        + F.lit(_KW_B)
                        * (
                            (F.col("dl") * F.col("n_docs")).cast("double")
                            / F.col("sumdl").cast("double")
                        )
                    )
                )
            ).alias("tfpart"),
        )
    )
    per_term = F.col("idf_e6") * F.col("tfpart")
    agg = scored.groupBy("doc_id").agg(
        *[
            F.coalesce(
                F.max(F.when(F.col("term") == term, per_term)), F.lit(0.0)
            ).alias(f"s_{term}")
            for term in _KW_TERMS
        ],
        F.count(F.lit(1)).alias("n_terms"),
    )
    raw = F.col("s_dup") + F.col("s_batch") + F.col("s_scan")
    from pyspark.sql import Window as W

    # Global top-k as orderBy().limit() -> TakeOrderedAndProject (a
    # distributed top-k heap), NOT a partition-less rank window (which
    # would single-partition every matched doc); the rank is then a
    # window over only the k survivors.
    top = agg.orderBy(raw.desc(), F.col("doc_id").asc()).limit(_KW_TOPK)
    wk = W.orderBy(
        (F.col("s_dup") + F.col("s_batch") + F.col("s_scan")).desc(),
        F.col("doc_id").asc(),
    )
    return top.withColumn("rank", F.row_number().over(wk)).select(
        "doc_id", "n_terms", F.round(raw, 4).alias("score"), "rank"
    )


@query(
    "token_diversity_gini",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest({_TOKS_DUCK}) AS tok FROM documents
    ), cnt AS (
        SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY doc_id, tok
    ), agg AS (
        SELECT doc_id,
               CAST(sum(c) AS BIGINT) AS n_tokens,
               CAST(count(*) AS BIGINT) AS n_distinct,
               CAST(sum(c * c) AS BIGINT) AS sum_sq
        FROM cnt GROUP BY doc_id
    )
    SELECT doc_id, n_tokens, n_distinct,
           round(1.0 - CAST(sum_sq AS DOUBLE) / CAST(n_tokens * n_tokens AS DOUBLE),
                 9) AS gini_diversity
    FROM agg
    """,
)
def token_diversity_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram diversity per document as Gini impurity: 1 − Σ(c/N)² —
    the no-libm twin of Shannon token entropy (same ordering on the
    distributions that matter: 0 for a one-token-repeated doc, →1 for
    all-distinct tokens), joining the quality family as the
    DISTRIBUTION member (quality_filter gates on ratios,
    doc_repetition_score on repeated n-grams; this scores how
    concentrated the vocabulary is — a 'the the the' spam doc and a
    natural doc have the same stopword ratio but opposite Gini).
    Log-free by design, per the bigram_lift/keyword_search precedent:
    Σc² and N are exact integers, and the score is ONE fixed-form
    IEEE division both engines compute identically (9 dp edge round).

    Plan/scale: explode → (doc,tok) hash count → per-doc hash agg.
    Both aggregates partial map-side; the shuffle carries distinct
    (doc, token) pairs, not token instances — bounded by vocabulary
    repetition, the one-corpus-scan discipline of the text family.
    NULL-text docs drop symmetrically (explode vs unnest of NULL).
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens()).alias("tok"))
    cnt = tok.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    agg = cnt.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("sum_sq"),
    )
    gini = F.round(
        F.lit(1.0)
        - F.col("sum_sq").cast("double")
        / (F.col("n_tokens") * F.col("n_tokens")).cast("double"),
        9,
    )
    return agg.select("doc_id", "n_tokens", "n_distinct", gini.alias("gini_diversity"))


@query(
    "near_dup_pagerank",
    oracle=f"""
    WITH e0 AS (SELECT id_a AS a, id_b AS b FROM ({_lsh_edge_sql()})),
    und AS (SELECT a AS u, b AS v FROM e0 UNION ALL SELECT b AS u, a AS v FROM e0),
    deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM und GROUP BY u),
    r0 AS (SELECT u, CAST(1000000000 AS BIGINT) AS r FROM deg),
    i1 AS (SELECT und.v AS u,
                  CAST(150000000 + 85 * sum(r0.r // deg.d) // 100 AS BIGINT) AS r
           FROM und JOIN r0 ON r0.u = und.u JOIN deg ON deg.u = und.u
           GROUP BY und.v),
    i2 AS (SELECT und.v AS u,
                  CAST(150000000 + 85 * sum(i1.r // deg.d) // 100 AS BIGINT) AS r
           FROM und JOIN i1 ON i1.u = und.u JOIN deg ON deg.u = und.u
           GROUP BY und.v),
    i3 AS (SELECT und.v AS u,
                  CAST(150000000 + 85 * sum(i2.r // deg.d) // 100 AS BIGINT) AS r
           FROM und JOIN i2 ON i2.u = und.u JOIN deg ON deg.u = und.u
           GROUP BY und.v)
    SELECT i3.u AS doc_id, deg.d AS degree, i3.r AS rank_e9,
           row_number() OVER (ORDER BY i3.r DESC, i3.u ASC) AS pos
    FROM i3 JOIN deg ON deg.u = i3.u
    QUALIFY row_number() OVER (ORDER BY i3.r DESC, i3.u ASC) <= 20
    """,
)
def near_dup_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the near-duplicate graph (3 power iterations,
    damping 0.85) — which documents sit at the CENTER of duplication
    neighborhoods. Degree alone can't tell a hub from a clique member
    (every vertex of a 5-clique has the same degree as a 5-spoke
    template hub); PageRank concentrates mass on vertices whose
    NEIGHBORS are also well-connected, which is exactly the
    boilerplate/template signature a dedup triage wants ranked first.
    Composed from the REGISTERED minhash_lsh_near_dup SQL/plan (the
    near_dup_graph_stats pattern), so it ranks the edges the dedup
    pipeline actually produces.

    INTEGER-EXACT power iteration — the device that makes an
    iterative float algorithm hash-checkable: ranks live at scale 1e9
    (uniform start 1e9 per vertex), each step is
    r' = 150 000 000 + 85·Σ(r_u FLOOR-DIV deg_u) FLOOR-DIV 100,
    and every operation (integer division per edge, integer sum,
    integer scale-down) is order-independent, so 1000 executors
    reproduce one thread bit-for-bit — the NLL/CUSUM fixed-point
    discipline applied to an iterative graph algorithm. The oracle
    unrolls the three iterations as chained CTEs; floor-div drift vs
    true doubles is ≤ 1 ulp-of-scale per step (≤ 3e-9 after 3 steps),
    far below ranking resolution.

    Plan/scale: the LSH edge list (bounded by near-dup density) is
    localCheckpointed once; each iteration is one edge-join + hash
    aggregate shuffling (vertex, long) pairs — the standard Pregel
    message shape — with per-iteration localCheckpoint to cut lineage
    (the CC-loop lesson). Every vertex has degree ≥ 1 by construction
    (undirected dup edges), so there is no dangling-mass term.
    """
    edges = (
        _lsh_edges_plan(spark, sf_dir)
        .select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
        .localCheckpoint(eager=True)
    )
    und = edges.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
        edges.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    deg = und.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("d"))
    und = und.localCheckpoint(eager=True)
    deg = deg.localCheckpoint(eager=True)
    ranks = deg.select("u", F.lit(1_000_000_000).cast("long").alias("r"))
    for _ in range(3):
        contrib = (
            und.join(ranks, "u")
            .join(deg, "u")
            .select("v", F.expr("r DIV d").alias("c"))
            .groupBy("v")
            .agg(F.sum("c").alias("s"))
        )
        ranks = contrib.select(
            F.col("v").alias("u"),
            F.expr("CAST(150000000 + (85 * s) DIV 100 AS BIGINT)").alias("r"),
        ).localCheckpoint(eager=True)
    from pyspark.sql import Window as W

    wk = W.orderBy(F.col("rank_e9").desc(), F.col("doc_id").asc())
    return (
        ranks.join(deg, "u")
        .select(
            F.col("u").alias("doc_id"),
            F.col("d").alias("degree"),
            F.col("r").alias("rank_e9"),
        )
        .withColumn("pos", F.row_number().over(wk).cast("long"))
        .filter(F.col("pos") <= 20)
    )


# Containment threshold: |A∩B| / |smaller| — 0.8 keeps true wrappers
# and exact dups; the organic background's next pair sits at 0.3.
_CONTAIN_T = 0.8


@query(
    "doc_containment_pairs",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id, unnest({_SHINGLES_DUCK}) AS shingle
        FROM (SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents)
    ), sizes AS (
        SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
    ), pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ), sized AS (
        SELECT p.doc_a, p.doc_b, p.n_common, sa.n AS n_a, sb.n AS n_b
        FROM pairs p
        JOIN sizes sa ON sa.doc_id = p.doc_a
        JOIN sizes sb ON sb.doc_id = p.doc_b
    )
    SELECT CASE WHEN n_b < n_a THEN doc_b ELSE doc_a END AS doc_small,
           CASE WHEN n_b < n_a THEN doc_a ELSE doc_b END AS doc_big,
           least(n_a, n_b) AS n_small,
           greatest(n_a, n_b) AS n_big,
           CAST(n_common AS BIGINT) AS n_common,
           round(n_common * 1.0 / least(n_a, n_b), 6) AS containment,
           round(n_common * 1.0 / (n_a + n_b - n_common), 6) AS jaccard
    FROM sized
    WHERE n_common * 1.0 / least(n_a, n_b) >= {_CONTAIN_T}
    """,
)
def doc_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup detection: pairs where the SMALLER document's
    shingle set is ≥ 80% contained in the bigger one — the
    quote/wrapper/boilerplate-envelope case symmetric Jaccard
    structurally misses (a 50-shingle doc fully embedded in a
    500-shingle page has J = 0.1, invisible at any sane Jaccard
    threshold, but containment 1.0). The signal a training-data dedup
    triage reads is the (containment, jaccard) GAP: both ≈ 1 → plain
    duplicate, containment ≈ 1 with small jaccard → the small doc is
    swallowed content, and the carried sizes say which side to keep.
    Pairs are oriented (doc_small, doc_big) by shingle count, doc_id
    breaking the equal-size tie (the a<b orientation underneath makes
    that deterministic).

    Plan/scale: the SAME inverted-index device as the Jaccard family —
    literally the same `_shingle_pair_counts` subtree (explode distinct
    shingles → self-equi-join → count common, sizes riding the groupBy
    keys) with the asymmetric filter instead of the symmetric one, so
    the two queries can never diverge in plan shape. Cost is bounded by
    shared-shingle co-occurrence exactly like the Jaccard query; no new
    shuffle, no second corpus scan. At 100 TB the standard hot-shingle
    cap applies (drop df-top shingles — boilerplate n-grams — before
    the join), the documented trade of every inverted-index pair
    enumerator in this file.

    Reference parity: the reference has no near-dup surface at all
    (707-LoC pandas/BigQuery ETL); this extends SURVEY §2's
    dedup-family requirement to the asymmetric case.
    """
    return _containment_pairs(spark, sf_dir)


def _containment_pairs(
    spark: SparkSession, sf_dir: str, base: DataFrame | None = None
) -> DataFrame:
    """The registered doc_containment_pairs pipeline, parameterized on
    the (doc_id, sh) corpus relation (dedup_recall_report's shared-scan
    contract — see the ``base`` it builds)."""
    small_first = F.col("n_b") < F.col("n_a")
    contain = F.col("n_common") * 1.0 / F.least(F.col("n_a"), F.col("n_b"))
    return (
        _shingle_pair_counts(spark, sf_dir, base=base)
        .filter(contain >= _CONTAIN_T)
        .select(
            F.when(small_first, F.col("doc_b")).otherwise(F.col("doc_a")).alias("doc_small"),
            F.when(small_first, F.col("doc_a")).otherwise(F.col("doc_b")).alias("doc_big"),
            F.least(F.col("n_a"), F.col("n_b")).cast("long").alias("n_small"),
            F.greatest(F.col("n_a"), F.col("n_b")).cast("long").alias("n_big"),
            F.col("n_common").cast("long").alias("n_common"),
            F.round(contain, 6).alias("containment"),
            F.round(_jaccard_expr(), 6).alias("jaccard"),
        )
    )


# Drift report knobs: minimum combined occurrences (below is 1/c noise,
# the _LIFT_MIN_COUNT argument) and the report size.
_DRIFT_MIN_N, _DRIFT_TOPK = 20, 30


@query(
    "token_drift_report",
    oracle=f"""
    WITH mid AS (
        -- text IS NOT NULL: the Spark side (and the streaming twin)
        -- derive the midpoint from the non-null-text population; the
        -- oracle must split on the same population or a NULL-text doc
        -- holding min/max doc_id would shift the halves (ADVICE r9).
        SELECT (min(doc_id) + max(doc_id)) // 2 AS m FROM documents
        WHERE text IS NOT NULL
    ), tok AS (
        SELECT CASE WHEN doc_id <= mid.m THEN 0 ELSE 1 END AS half,
               unnest({_TOKS_DUCK}) AS tok
        FROM documents, mid WHERE text IS NOT NULL
    ), c AS (
        SELECT tok,
               CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS a,
               CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS b
        FROM tok GROUP BY tok
    ), t AS (
        SELECT CAST(sum(a) AS BIGINT) AS n1, CAST(sum(b) AS BIGINT) AS n2 FROM c
    ), diffed AS (
        SELECT tok, a, b, n1, n2,
               CAST(a AS HUGEINT) * (n2 - b) - CAST(b AS HUGEINT) * (n1 - a) AS d
        FROM c, t WHERE a + b >= {_DRIFT_MIN_N}
    ), scored AS (
        -- d*d stays exact int128 (POWER would detour through double
        -- and re-round past 2^53, diverging from Spark's exact DECIMAL)
        SELECT tok, a, b,
               round(CAST((n1 + n2) * d * d AS DOUBLE)
                     / (CAST(n1 AS DOUBLE) * n2 * (a + b) * (n1 + n2 - a - b)),
                     6) AS chi2,
               CASE WHEN b * n1 > a * n2 THEN 'up' ELSE 'down' END AS direction
        FROM diffed
    )
    SELECT tok AS token, a AS n_first, b AS n_second, chi2, direction,
           row_number() OVER (ORDER BY chi2 DESC, tok ASC) AS pos
    FROM scored
    QUALIFY row_number() OVER (ORDER BY chi2 DESC, tok ASC) <= {_DRIFT_TOPK}
    """,
)
def token_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary drift between the two ingestion halves of the corpus
    (doc_id is arrival order; the split point is the integer midpoint
    of the id range — engine-exact, no median tie): per-token 2×2
    chi-square keyness, top-30 — the data-drift monitor a training
    pipeline runs per ingestion batch to catch topic/source shift
    BEFORE it skews a mixture ('spark' drifts at χ² 7.6 on the sf0.01
    halves, above the 6.63 p=.01 critical value; everything else is
    flat — exactly the report shape a healthy-but-watched feed shows).

    Exactness: counts a, b and totals n1, n2 are exact BIGINTs; the
    chi-square difference term a·(n2−b) − b·(n1−a) is squared in
    HUGEINT/DECIMAL(38) (it exceeds 2^63 once slices pass ~3e9 token
    instances — headroom to ~1e38, i.e. corpora to ~1e12 tokens per
    slice; past that, pre-scale counts by 1e3, noted here per the
    autocorr bounded-argument convention), and χ² is ONE fixed-form
    IEEE expression both engines evaluate on identical integers
    (6 dp edge round, the bigram_lift/no-libm precedent — identical
    doubles also make the top-30 cutoff ordering engine-identical,
    with the token tie-break). The `direction` flag is a pure integer
    cross-multiplication compare, no division at all.

    Plan/scale: ONE corpus scan → explode → per-(token) hash count
    with map-side partials (the shuffle carries distinct tokens ×
    2 longs, vocabulary-sized, not instance-sized); totals re-aggregate
    those same partials (1-row broadcast back); the top-30 is a
    TakeOrderedAndProject, never a global sort. The split predicate
    rides the exploded projection, so there is no join against a
    halves table.
    """
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    mid = docs.agg(
        F.expr("(min(doc_id) + max(doc_id)) DIV 2").alias("m")
    )
    tok = docs.crossJoin(F.broadcast(mid)).select(
        F.when(F.col("doc_id") <= F.col("m"), 0).otherwise(1).alias("half"),
        F.explode(tokens()).alias("tok"),
    )
    c = tok.groupBy("tok").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).cast("long").alias("a"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).cast("long").alias("b"),
    )
    return drift_report_from_counts(c)


def drift_report_from_counts(c: DataFrame) -> DataFrame:
    """The chi-square scorer over a (tok, a, b) count relation — the
    single source of truth shared by ``token_drift_report`` (batch)
    and ``streaming_token_drift`` (a maintained count store), so the
    two surfaces can never diverge in math or ordering."""
    t = c.agg(
        F.sum("a").cast("long").alias("n1"), F.sum("b").cast("long").alias("n2")
    )
    d38 = "decimal(38,0)"
    diff = F.col("a").cast(d38) * (F.col("n2") - F.col("b")).cast(d38) - F.col(
        "b"
    ).cast(d38) * (F.col("n1") - F.col("a")).cast(d38)
    num = (F.col("n1") + F.col("n2")).cast(d38) * diff * diff
    den = (
        F.col("n1").cast("double")
        * F.col("n2")
        * (F.col("a") + F.col("b"))
        * (F.col("n1") + F.col("n2") - F.col("a") - F.col("b"))
    )
    scored = (
        c.filter(F.col("a") + F.col("b") >= _DRIFT_MIN_N)
        .crossJoin(F.broadcast(t))
        .select(
            F.col("tok").alias("token"),
            F.col("a").alias("n_first"),
            F.col("b").alias("n_second"),
            F.round(num.cast("double") / den, 6).alias("chi2"),
            F.when(
                F.col("b") * F.col("n1") > F.col("a") * F.col("n2"), "up"
            ).otherwise("down").alias("direction"),
        )
    )
    from pyspark.sql import Window as W

    wk = W.orderBy(F.col("chi2").desc(), F.col("token").asc())
    return (
        scored.withColumn("pos", F.row_number().over(wk).cast("long"))
        .filter(F.col("pos") <= _DRIFT_TOPK)
    )


def _registered(name: str):
    """Registered plan + oracle of another catalog query (the
    ann_recall_report composition device, generalized)."""
    from currency_etl_pipeline_spark.queries.registry import _REGISTRY

    return _REGISTRY[name]


# Prediction gate for the minhash method: candidates whose estimated
# Jaccard clears the index-admission gate (sources/dedup_index.py uses
# the same 0.5) are what a pipeline would actually act on.
_RECALL_EST_GATE = 0.5
_RECALL_METHODS = ("minhash", "simhash", "containment")


@query(
    "dedup_recall_report",
    oracle=f"""
    WITH truth AS (
      SELECT doc_a, doc_b FROM ({{jac}})
    ),
    pred AS (
      SELECT 'minhash' AS method, id_a AS doc_a, id_b AS doc_b
      FROM ({{mh}}) WHERE est_jaccard >= {_RECALL_EST_GATE}
      UNION ALL
      SELECT 'simhash' AS method, id_a, id_b FROM ({{sh}})
      UNION ALL
      SELECT 'containment' AS method,
             least(doc_small, doc_big), greatest(doc_small, doc_big)
      FROM ({{ct}})
    ),
    stats AS (
      SELECT p.method, count(*) AS n_pred,
             CAST(sum(CASE WHEN t.doc_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
      FROM pred p LEFT JOIN truth t ON t.doc_a = p.doc_a AND t.doc_b = p.doc_b
      GROUP BY p.method
    ),
    nt AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM truth),
    scaffold AS (SELECT unnest(['minhash', 'simhash', 'containment']) AS method)
    SELECT s.method, nt.n_truth,
           CAST(COALESCE(st.n_pred, 0) AS BIGINT) AS n_pred,
           CAST(COALESCE(st.n_hit, 0) AS BIGINT) AS n_hit,
           CASE WHEN COALESCE(st.n_pred, 0) > 0
                THEN round(COALESCE(st.n_hit, 0) * 1.0 / st.n_pred, 6) END AS prec,
           CASE WHEN nt.n_truth > 0
                THEN round(COALESCE(st.n_hit, 0) * 1.0 / nt.n_truth, 6) END AS recall
    FROM scaffold s CROSS JOIN nt
    LEFT JOIN stats st ON st.method = s.method
    """.replace("{jac}", _registered("near_dup_jaccard_pairs").oracle)
    .replace("{mh}", _registered("minhash_lsh_near_dup").oracle)
    .replace("{sh}", _registered("simhash_near_dup").oracle)
    .replace("{ct}", _registered("doc_containment_pairs").oracle),
)
def dedup_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall of every near-dup METHOD against the exact
    shingle-Jaccard >= 0.6 ground truth (near_dup_jaccard_pairs) — the
    dedup family's twin of ann_recall_report: measure each detector
    before trusting it, and keep the measurement itself hash-checked by
    composing the REGISTERED plans/SQL of the graded queries.

    What it measures (and what the fixture already shows): minhash
    candidates gated at est_jaccard >= 0.5 and containment >= 0.8 both
    grade perfectly here (the planted near-dups sit at J >= 0.89 over a
    <= 0.1 background — real corpora have a gray zone this fixture
    lacks, so perfect rows mean "no separation failure", not "no FP
    ever"). Simhash history: in r10 this report measured the RAW
    hamming <= 2 fingerprint at precision 0.008 (25 836 pred vs 256
    truth at sf0.1 — the token-MULTISET fingerprint is order-blind, a
    different similarity). r11 added the exact-Jaccard >= 0.5 verify
    stage on the banded candidates (simhash_near_dup's docstring);
    the report now grades the verified operator, whose residual gap
    vs the 0.6 truth is candidate-generation recall plus the
    deliberate 0.5-vs-0.6 threshold daylight.

    Plan/scale (r16, VERDICT r15 task 3): the four branches used to
    scan + re-shingle the corpus independently — three shingle
    projections and a token pass over four parquet scans for ONE
    report. The corpus (doc_id, text, shingles) is now materialized
    ONCE (``base`` below: one scan, one shingle pass, localCheckpointed)
    and fed to each graded pipeline through its base parameter. What
    the report grades is unchanged: the "grades the registered
    operator" property protects each method's LOGIC (the band/verify/
    inverted-index pipelines downstream of the shingle projection,
    which run this exact registered code path via _minhash_lsh_pairs /
    _simhash_verified_pairs / _containment_pairs / _jaccard_pairs),
    not its INPUT SCAN — shingles are a pure function of text, so the
    checkpointed base is byte-identical to what each standalone query
    derives itself (oracle-pinned). Pair sets are bounded by near-dup
    density, the per-method join key is the pair itself, and the
    report is a 3-row aggregate. At 100 TB the base materialization is
    corpus-shingles-sized — an eval harness there lands it as a
    parquet artifact (or grades a documented sample); the four-pass
    form this replaces paid strictly more.
    """
    base = (
        spread(load_table(spark, sf_dir, "documents"))
        .select("doc_id", "text", shingles().alias("sh"))
        .localCheckpoint(eager=True)
    )
    sh_base = base.select("doc_id", "sh")
    truth = _jaccard_pairs(spark, sf_dir, base=sh_base).select(
        "doc_a", "doc_b", F.lit(1).alias("hit")
    )
    mh = (
        _minhash_lsh_pairs(spark, sf_dir, base=sh_base)
        .filter(F.col("est_jaccard") >= _RECALL_EST_GATE)
        .select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))
        .withColumn("method", F.lit("minhash"))
    )
    sh = (
        _simhash_verified_pairs(spark, sf_dir, base=base)
        .select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))
        .withColumn("method", F.lit("simhash"))
    )
    ct = (
        _containment_pairs(spark, sf_dir, base=sh_base)
        .select(
            F.least("doc_small", "doc_big").alias("doc_a"),
            F.greatest("doc_small", "doc_big").alias("doc_b"),
        )
        .withColumn("method", F.lit("containment"))
    )
    pred = mh.unionByName(sh).unionByName(ct)
    stats = (
        pred.join(truth, ["doc_a", "doc_b"], "left")
        .groupBy("method")
        .agg(
            F.count(F.lit(1)).alias("n_pred"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias("n_hit"),
        )
    )
    nt = F.broadcast(truth.agg(F.count(F.lit(1)).alias("n_truth")))
    scaffold = spark.createDataFrame([(m,) for m in _RECALL_METHODS], "method string")
    return (
        scaffold.crossJoin(nt)
        .join(stats, ["method"], "left")
        .select(
            "method",
            "n_truth",
            F.coalesce("n_pred", F.lit(0)).cast("long").alias("n_pred"),
            F.coalesce("n_hit", F.lit(0)).cast("long").alias("n_hit"),
            F.when(
                F.coalesce("n_pred", F.lit(0)) > 0,
                F.round(F.coalesce("n_hit", F.lit(0)) * 1.0 / F.col("n_pred"), 6),
            ).alias("prec"),
            F.when(
                F.col("n_truth") > 0,
                F.round(F.coalesce("n_hit", F.lit(0)) * 1.0 / F.col("n_truth"), 6),
            ).alias("recall"),
        )
    )
