"""Text-analysis operators for LLM-data-pipeline workloads over `documents`
(BASELINE.json north star: language-ID, quality scoring, token counting,
document fingerprinting).

All pure built-in Column expressions (whole-stage codegen; no Python in the
hot path). Ratios divide exact integer counts in DOUBLE — bit-identical to
the oracle. Fingerprints use md5, which is identical across Spark and DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exact import dsum, sql_dsum
from ..registry import register
from ..sources import spread, table

# Spark-side shared fragments ------------------------------------------------


def tokens(col: str = "text") -> F.Column:
    return F.split(F.col(col), " ")


def bigram_multiset(toks: F.Column) -> F.Column:
    """ALL word bigrams of a token-array column, duplicates preserved —
    one linear zip_with pass over the two shifted slices. THE definition
    of bigram construction: word_bigram_arrays wraps it with
    array_distinct, and the repetition filter (curation C7) consumes the
    raw multiset; one copy of the n>=2 guard and slice arithmetic instead
    of two that must not drift."""
    n = F.size(toks)
    return F.when(
        n >= 2,
        F.zip_with(
            F.slice(toks, 1, n - F.lit(1)),
            F.slice(toks, 2, n - F.lit(1)),
            lambda x, y: F.concat_ws(" ", x, y),
        ),
    ).otherwise(F.array().cast("array<string>"))


def word_bigram_arrays(docs: DataFrame) -> DataFrame:
    """Distinct word-bigram shingle SET per document: (doc_id, bgs).

    Built entirely per-row (array transform + array_distinct): zero shuffles,
    unlike the naive posexplode -> window-lead -> distinct formulation which
    costs two exchanges before any downstream work. At 100 TB shingling is a
    map-only stage, as it should be. Keeping the set as an array (instead of
    exploding to a (doc_id, bg) relation) lets minhash signatures be computed
    map-only (array_min over transform — no groupBy) and lets exact-Jaccard
    verification run as per-pair array_intersect (no shingle-index joins).
    """
    # Materialize the token array in its own projection: inlining `split`
    # into the per-element lambda would re-evaluate it per token (quadratic
    # per row).
    toked = docs.select("doc_id", tokens().alias("toks"))
    return toked.select(
        "doc_id", F.array_distinct(bigram_multiset(F.col("toks"))).alias("bgs")
    )


def word_bigrams(docs: DataFrame) -> DataFrame:
    """Distinct word-bigram shingles per document as a relation: (doc_id, bg).
    The exploded view of word_bigram_arrays — for inverted-index consumers."""
    return word_bigram_arrays(docs).select("doc_id", F.explode("bgs").alias("bg"))


# Oracle-side shared fragments ----------------------------------------------

SQL_TOKS = """
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS w,
         generate_subscripts(string_split(text, ' '), 1) AS pos
  FROM documents
"""

SQL_BIGRAMS = f"""
  SELECT DISTINCT doc_id, bg FROM (
    SELECT doc_id,
           w || ' ' || lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS bg
    FROM ({SQL_TOKS}))
  WHERE bg IS NOT NULL
"""


# --------------------------------------------------------------------------
# Token counting.
# --------------------------------------------------------------------------


@register(
    "text_token_stats",
    oracle="""
    SELECT doc_id,
           n_chars,
           len(string_split(text, ' ')) AS n_tokens,
           len(list_distinct(string_split(text, ' '))) AS n_distinct,
           CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
             / CAST(len(string_split(text, ' ')) AS DOUBLE) AS distinct_ratio,
           CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE)
             / CAST(len(string_split(text, ' ')) AS DOUBLE) AS avg_token_len
    FROM documents
    ORDER BY doc_id
    """,
    bench=True,
    tags=("TX1",),
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token counts, vocabulary ratio, average token length."""
    t = tokens()
    n_tok = F.size(t)
    return (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "n_chars",
            n_tok.cast("long").alias("n_tokens"),
            F.size(F.array_distinct(t)).cast("long").alias("n_distinct"),
            (F.size(F.array_distinct(t)).cast("double") / n_tok.cast("double")).alias(
                "distinct_ratio"
            ),
            (
                (F.length("text") - n_tok + F.lit(1)).cast("double")
                / n_tok.cast("double")
            ).alias("avg_token_len"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# BPE-ish regex tokenization (GPT-2-style splitter, ASCII-safe subset so the
# Java (Spark) and RE2 (DuckDB) regex engines agree exactly).
# --------------------------------------------------------------------------

_TOKEN_RE = r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"
_WORD_RE = r"[A-Za-z0-9]+"


@register(
    "text_regex_tokens",
    oracle=f"""
    SELECT doc_id,
           len(regexp_extract_all(text, '{_TOKEN_RE}')) AS n_tokens,
           len(regexp_extract_all(text, '{_WORD_RE}')) AS n_words,
           len(regexp_extract_all(text, '{_TOKEN_RE}'))
             - len(regexp_extract_all(text, '{_WORD_RE}')) AS n_punct,
           len(list_distinct(regexp_extract_all(text, '{_WORD_RE}'))) AS n_vocab
    FROM documents
    ORDER BY doc_id
    """,
    tags=("TX5",),
)
def text_regex_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-style regex tokenization (word runs + single punctuation marks,
    the shape of GPT-2's pre-tokenizer restricted to ASCII classes so both
    regex engines split identically). Pure map-only column expressions."""
    toks = F.regexp_extract_all(F.col("text"), F.lit(_TOKEN_RE), 0)
    words = F.regexp_extract_all(F.col("text"), F.lit(_WORD_RE), 0)
    return (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.size(toks).cast("long").alias("n_tokens"),
            F.size(words).cast("long").alias("n_words"),
            (F.size(toks) - F.size(words)).cast("long").alias("n_punct"),
            F.size(F.array_distinct(words)).cast("long").alias("n_vocab"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Quality scoring (length / stopword / repetition heuristics).
# --------------------------------------------------------------------------

_STOPWORDS = ("the", "a", "data", "value", "row")
_SQL_STOPS = ", ".join(f"'{s}'" for s in _STOPWORDS)


@register(
    "text_quality_score",
    oracle=f"""
    WITH feat AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tokens,
             CAST(len(list_filter(string_split(text, ' '),
                                  t -> t IN ({_SQL_STOPS}))) AS DOUBLE) AS n_stop,
             CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) AS n_distinct
      FROM documents)
    SELECT doc_id,
           n_stop / n_tokens AS stopword_ratio,
           n_distinct / n_tokens AS distinct_ratio,
           CAST(CASE WHEN n_tokens BETWEEN 20 AND 1000 THEN 1.0 ELSE 0.0 END
                AS DOUBLE) AS length_ok,
           (0.4 * (n_distinct / n_tokens)
            + 0.3 * (1.0 - n_stop / n_tokens)
            + 0.3 * CASE WHEN n_tokens BETWEEN 20 AND 1000 THEN 1.0 ELSE 0.0 END)
             AS quality_score
    FROM feat
    ORDER BY doc_id
    """,
    tags=("TX2",),
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score: vocabulary diversity, stopword density,
    length plausibility — the scalar heuristics LLM corpus filters use."""
    t = tokens()
    n_tokens = F.size(t).cast("double")
    n_stop = F.size(
        F.filter(t, lambda x: x.isin(*_STOPWORDS))
    ).cast("double")
    n_distinct = F.size(F.array_distinct(t)).cast("double")
    stopword_ratio = n_stop / n_tokens
    distinct_ratio = n_distinct / n_tokens
    length_ok = F.when(
        F.size(t).between(20, 1000), F.lit(1.0)
    ).otherwise(F.lit(0.0))
    return (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            stopword_ratio.alias("stopword_ratio"),
            distinct_ratio.alias("distinct_ratio"),
            length_ok.alias("length_ok"),
            (
                F.lit(0.4) * distinct_ratio
                + F.lit(0.3) * (F.lit(1.0) - stopword_ratio)
                + F.lit(0.3) * length_ok
            ).alias("quality_score"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Language identification (marker-word heuristic).
# --------------------------------------------------------------------------

_LANG_MARKERS = {
    "en": ("the", "a", "and"),
    "es": ("el", "la", "de"),
    "fr": ("le", "les", "une"),
    "de": ("der", "die", "und"),
}


def _sql_lang_score(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in _LANG_MARKERS[lang])
    return f"len(list_filter(string_split(text, ' '), t -> t IN ({words})))"


@register(
    "text_langid",
    oracle=f"""
    WITH scores AS (
      SELECT doc_id, lang AS labeled_lang,
             {_sql_lang_score('en')} AS s_en,
             {_sql_lang_score('es')} AS s_es,
             {_sql_lang_score('fr')} AS s_fr,
             {_sql_lang_score('de')} AS s_de
      FROM documents)
    SELECT doc_id, labeled_lang, s_en, s_es, s_fr, s_de,
           CASE
             WHEN s_en > 0 AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_de THEN 'en'
             WHEN s_es > 0 AND s_es >= s_fr AND s_es >= s_de THEN 'es'
             WHEN s_fr > 0 AND s_fr >= s_de THEN 'fr'
             WHEN s_de > 0 THEN 'de'
             ELSE 'unknown'
           END AS predicted_lang
    FROM scores
    ORDER BY doc_id
    """,
    tags=("TX3",),
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language ID with a deterministic argmax tie order."""
    t = tokens()

    def _score(ws: tuple[str, ...]) -> F.Column:
        # NB: F.filter treats a 2-arg lambda as (value, index) — keep it unary.
        return F.size(F.filter(t, lambda x: x.isin(*ws))).cast("long")

    scores = {lang: _score(ws) for lang, ws in _LANG_MARKERS.items()}
    s = {k: F.col(f"s_{k}") for k in _LANG_MARKERS}
    predicted = (
        F.when(
            (s["en"] > 0) & (s["en"] >= s["es"]) & (s["en"] >= s["fr"]) & (s["en"] >= s["de"]),
            F.lit("en"),
        )
        .when((s["es"] > 0) & (s["es"] >= s["fr"]) & (s["es"] >= s["de"]), F.lit("es"))
        .when((s["fr"] > 0) & (s["fr"] >= s["de"]), F.lit("fr"))
        .when(s["de"] > 0, F.lit("de"))
        .otherwise(F.lit("unknown"))
    )
    return (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.col("lang").alias("labeled_lang"),
            *[scores[k].alias(f"s_{k}") for k in _LANG_MARKERS],
        )
        .withColumn("predicted_lang", predicted)
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Document fingerprinting.
# --------------------------------------------------------------------------


# Polynomial rolling hash: fold (acc*B + h(token)) mod P over the token
# stream, h = first 32 md5 bits reduced mod P. Order-sensitive by design
# (reordered docs fingerprint differently, unlike the min-hash) and exact in
# int64: acc < 2^31, so acc*B + h < 2^52. Spark's aggregate (seed 0) and
# DuckDB's list_reduce (seed = first element) agree because the per-element
# transform already reduces mod P: 0*B + (h1 mod P) == h1 mod P.
_RH_B = 1000003
_RH_P = (1 << 31) - 1

_SQL_ROLLING = f"""list_reduce(
      list_transform(string_split(text, ' '),
        w -> CAST(CAST('0x' || substr(md5(w), 1, 8) AS UBIGINT) AS BIGINT)
             % {_RH_P}),
      (acc, x) -> (acc * {_RH_B} + x) % {_RH_P})"""


@register(
    "text_fingerprint",
    oracle=f"""
    WITH minhash AS (
      SELECT doc_id, min(md5(bg)) AS content_fp
      FROM ({SQL_BIGRAMS})
      GROUP BY doc_id)
    SELECT d.doc_id,
           md5(trim(d.text)) AS exact_fp,
           substr(md5(trim(d.text)), 1, 16) AS exact_fp16,
           m.content_fp,
           {_SQL_ROLLING} AS rolling_fp
    FROM documents d LEFT JOIN minhash m ON d.doc_id = m.doc_id
    ORDER BY d.doc_id
    """,
    tags=("TX4",),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprints, three flavors: exact (md5 of trimmed text),
    content (min bigram hash — a 1-permutation MinHash, robust to reordering
    tails), and a polynomial rolling hash over the token stream
    (order-sensitive, the building block of winnowing-style chunking).
    All map-only except the bigram min, which is one partial-aggregated
    shuffle."""
    docs = table(spark, sf_dir, "documents")
    minhash = (
        word_bigrams(spread(docs))
        .groupBy("doc_id")
        .agg(F.min(F.md5(F.col("bg"))).alias("content_fp"))
    )
    rolling = F.aggregate(
        F.transform(
            tokens(),
            lambda w: F.conv(F.substring(F.md5(w), 1, 8), 16, 10).cast("long")
            % F.lit(_RH_P),
        ),
        F.lit(0).cast("long"),
        lambda acc, h: (acc * F.lit(_RH_B) + h) % F.lit(_RH_P),
    )
    return (
        docs.select(
            "doc_id",
            F.md5(F.trim(F.col("text"))).alias("exact_fp"),
            rolling.alias("rolling_fp"),
        )
        .withColumn("exact_fp16", F.substring("exact_fp", 1, 16))
        .join(minhash, "doc_id", "left")
        .select("doc_id", "exact_fp", "exact_fp16", "content_fp", "rolling_fp")
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Winnowing fingerprints (TX6): the MOSS scheme — k-gram hashes, minimum
# per sliding window — the standard plagiarism/near-dup chunk selector.
# Schleimer, Wilkerson & Aiken, "Winnowing: Local Algorithms for Document
# Fingerprinting" (SIGMOD 2003).
# --------------------------------------------------------------------------

_WIN_K = 3  # tokens per k-gram
_WIN_W = 4  # k-grams per winnowing window


@register(
    "text_winnowing_fps",
    oracle=f"""
    WITH kg AS (
      SELECT doc_id, pos,
             CAST(CAST('0x' || substr(md5(
               w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win
             ), 1, 8) AS UBIGINT) AS BIGINT) AS h
      FROM ({SQL_TOKS})
      WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
      QUALIFY lead(w, {_WIN_K - 1}) OVER win IS NOT NULL),
    sel AS (
      SELECT doc_id, h,
             MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN {_WIN_W - 1} PRECEDING AND CURRENT ROW)
               AS wmin,
             pos
      FROM kg)
    SELECT DISTINCT doc_id, wmin AS fp
    FROM sel
    WHERE pos >= {_WIN_W}
    ORDER BY doc_id, fp
    """,
    tags=("TX6",),
)
def text_winnowing_fps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint set per document: hash every {k}-token k-gram,
    slide a {w}-k-gram window, keep the window minimum (all tied minima —
    a deterministic, engine-agnostic variant of MOSS's rightmost-min rule),
    dedupe. Guarantees every w-run of k-grams contributes a fingerprint, so
    any match of length >= w+k-1 tokens between two docs shares one — the
    chunk selector winnowing-based near-dup pipelines build on.

    Spark shape: k-gram construction is per-row array math (map-only, like
    word_bigram_arrays); the only shuffle is the per-doc posexplode window
    (hash-partitioned on doc_id — high cardinality, no skew) plus the
    output distinct. The k-gram hash is the same md5-prefix integer both
    engines compute bit-identically."""
    toked = table(spark, sf_dir, "documents").select("doc_id", tokens().alias("toks"))
    n = F.size(F.col("toks"))
    m = n - F.lit(_WIN_K - 1)  # number of complete k-grams
    kgrams = F.when(
        n >= _WIN_K,
        F.zip_with(
            F.slice(F.col("toks"), 1, m),
            F.zip_with(
                F.slice(F.col("toks"), 2, m),
                F.slice(F.col("toks"), 3, m),
                lambda b, c: F.concat_ws(" ", b, c),
            ),
            lambda a, bc: F.concat_ws(" ", a, bc),
        ),
    ).otherwise(F.array().cast("array<string>"))
    hashed = F.transform(
        kgrams,
        lambda g: F.conv(F.substring(F.md5(g), 1, 8), 16, 10).cast("long"),
    )
    kg = spread(toked).select("doc_id", F.posexplode(hashed).alias("pos0", "h"))
    # SQL_TOKS positions are 1-based token positions; k-gram i (0-based
    # posexplode) starts at token pos0+1, and the oracle's `pos` is the
    # FIRST token of the k-gram => pos = pos0 + 1 = the k-gram's 1-based
    # index. The window ending at k-gram index j is full iff j >= W, so
    # the completeness cut is `pos >= W`. (A `pos >= K-1+W` cut — the
    # LAST-token-position convention applied to first-token positions —
    # shipped once: it silently excluded the two full windows ending at
    # j in {W, W+1}, so k-grams 1..K-1 could never fingerprint and two
    # docs sharing exactly a (w+k-1)-token prefix shared no fingerprint,
    # breaking the winnowing guarantee on both engines at once.)
    pos = F.col("pos0") + F.lit(1)
    win = (
        Window.partitionBy("doc_id")
        .orderBy("pos0")
        .rowsBetween(-(_WIN_W - 1), Window.currentRow)
    )
    # Fingerprints are the DISTINCT per-window minima (`wmin`), not
    # "k-grams equal to their trailing-window min": a window's minimum that
    # sits near the window START is not the minimum of the window ENDING at
    # it (that window reaches w-1 k-grams further back), so the h == wmin
    # formulation dropped it and broke the guarantee for prefix matches.
    return (
        kg.withColumn("wmin", F.min("h").over(win))
        .filter(pos >= _WIN_W)
        .select("doc_id", F.col("wmin").alias("fp"))
        .distinct()
        .orderBy("doc_id", "fp")
    )


# --------------------------------------------------------------------------
# TX7 — distinctive terms per document (TF-IDF-style, integer-exact rank).
# --------------------------------------------------------------------------

_TOP_TERMS_K = 3


@register(
    "text_top_terms",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
    tf AS (
      SELECT doc_id, w, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
    df AS (
      SELECT w, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
    ranked AS (
      SELECT tf.doc_id, tf.w AS term, tf.tf, df.df,
             row_number() OVER (
               PARTITION BY tf.doc_id
               ORDER BY tf.tf DESC, df.df ASC, tf.w ASC) AS rnk
      FROM tf JOIN df ON tf.w = df.w)
    SELECT doc_id, term, tf, df, rnk
    FROM ranked
    WHERE rnk <= {_TOP_TERMS_K}
    ORDER BY doc_id, rnk
    """,
    tags=("TX7",),
)
def text_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 most distinctive terms per document, TF-IDF ordering made
    integer-exact: rank by (term frequency DESC, document frequency ASC,
    term ASC). For any fixed tf, ascending df IS descending idf = ln(N/df),
    so the ranking matches tf-then-idf lexicographic ordering without
    evaluating a transcendental whose libm bits differ across engines.

    Scale shape: token explode -> one hash-shuffle for per-(doc,term)
    counts; document frequency is a second aggregation over the distinct
    (doc,term) pairs (reusing the tf frame, not re-exploding); the join
    back is vocab x doc-terms on the term key, and the per-doc window runs
    as a rank<=k group-limit (WindowGroupLimit), never ranking full
    vocabularies. No Python anywhere."""
    docs = spread(table(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", F.explode(tokens()).alias("w"))
    tf = toks.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tf"), F.asc("df"), F.asc("w")
    )
    return (
        tf.join(df, "w")
        .select(
            "doc_id",
            F.col("w").alias("term"),
            "tf",
            "df",
            F.row_number().over(w).cast("long").alias("rnk"),
        )
        .filter(F.col("rnk") <= _TOP_TERMS_K)
        .orderBy("doc_id", "rnk")
    )


# --------------------------------------------------------------------------
# TX8 — hashed-feature linear quality classifier (fasttext-style shape).
# --------------------------------------------------------------------------

# Salted per-token weight: first 16 md5 bits of 'qc1:<token>' centered at 0
# => integer weight in [-32768, 32767]. In production these weights come
# from a trained linear model over a hashed vocabulary (the fastText /
# Vowpal-Wabbit trick: the feature index IS the hash, no vocab dict to
# ship); the pipeline shape — map-only per-doc fold, integer-exact sum,
# threshold — is identical, only the weight table changes. Deterministic
# pseudo-weights keep the differential oracle bit-exact.
_QC_SALT = "qc1:"
_QC_SCALE = 32768

# the same per-document integer score as a reusable SQL fragment (TX8's
# oracle and downstream composition queries must agree verbatim)
SQL_QC_RAW = f"""list_sum(list_transform(string_split(text, ' '),
             w -> CAST(CAST('0x' || substr(md5('{_QC_SALT}' || w), 1, 4)
                       AS UBIGINT) AS BIGINT) - {_QC_SCALE}))"""


def quality_raw_score(col: str = "text") -> F.Column:
    """TX8's integer quality score as a reusable Column: sum of salted
    md5-derived token weights. Exact in int64; mirrored by SQL_QC_RAW."""
    weight = lambda w: (  # noqa: E731
        F.conv(F.substring(F.md5(F.concat(F.lit(_QC_SALT), w)), 1, 4), 16, 10)
        .cast("long")
        - F.lit(_QC_SCALE)
    )
    return F.aggregate(
        F.transform(tokens(col), weight), F.lit(0).cast("long"), lambda a, x: a + x
    )


@register(
    "text_quality_classifier",
    oracle=f"""
    SELECT doc_id,
           CAST(list_sum(list_transform(string_split(text, ' '),
             w -> CAST(CAST('0x' || substr(md5('{_QC_SALT}' || w), 1, 4)
                       AS UBIGINT) AS BIGINT) - {_QC_SCALE})) AS BIGINT)
             AS raw_score,
           CAST(list_sum(list_transform(string_split(text, ' '),
             w -> CAST(CAST('0x' || substr(md5('{_QC_SALT}' || w), 1, 4)
                       AS UBIGINT) AS BIGINT) - {_QC_SCALE})) AS DOUBLE)
             / (CAST(len(string_split(text, ' ')) AS DOUBLE) * {_QC_SCALE})
             AS norm_score,
           CASE WHEN list_sum(list_transform(string_split(text, ' '),
             w -> CAST(CAST('0x' || substr(md5('{_QC_SALT}' || w), 1, 4)
                       AS UBIGINT) AS BIGINT) - {_QC_SCALE})) >= 0
             THEN 'keep' ELSE 'drop' END AS label
    FROM documents
    ORDER BY doc_id
    """,
    tags=("TX8",),
)
def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality classifier over a hashed vocabulary: per-token integer
    weights (salted md5, centered), summed per document, thresholded into
    keep/drop — the distributed shape of a fastText-style document quality
    model (score = w·x over hashed bag-of-words).

    Spark shape for 100 TB: pure Column expressions — one transform + fold
    per row inside whole-stage codegen, zero shuffles, zero Python. The
    integer sum is exact (|w| <= 32768, docs are < 2^40 tokens), so the
    normalized DOUBLE score is one exact-int division — bit-identical on
    any partitioning and engine. Swapping in trained weights = replacing
    the md5 expression with a broadcast map lookup; the plan is unchanged."""
    raw = quality_raw_score()
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    scored = docs.select(
        "doc_id",
        raw.alias("raw_score"),
        (
            raw.cast("double")
            / (F.size(tokens()).cast("double") * F.lit(float(_QC_SCALE)))
        ).alias("norm_score"),
    )
    return scored.select(
        "doc_id",
        "raw_score",
        "norm_score",
        F.when(F.col("raw_score") >= 0, F.lit("keep"))
        .otherwise(F.lit("drop"))
        .alias("label"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# TX9 — corpus-rarity score: a language-model-free surprisal proxy. True LM
# scoring needs log-probabilities, and log() is not bit-reproducible across
# engines (libm vs java.lang.Math) — so the score is the average INVERSE
# unigram probability, sum(N / count(w)) / n_tokens: every term is one
# exact-int division in DOUBLE and the sum rides the decimal route, making
# the whole signal differentially testable. Monotonic in token rarity, so
# it ranks documents the same way an LM-surprisal heuristic would.
# --------------------------------------------------------------------------


@register(
    "text_rarity_score",
    oracle=f"""
    WITH toks9 AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
    cnt9 AS (SELECT w, COUNT(*) AS cnt FROM toks9 GROUP BY 1),
    tot9 AS (SELECT COUNT(*) AS n FROM toks9),
    per_doc AS (
      SELECT t.doc_id,
             COUNT(*) AS n_tokens,
             {sql_dsum("CAST(x.n AS DOUBLE) / CAST(c.cnt AS DOUBLE)")}
               AS rarity_sum
      FROM toks9 t
      JOIN cnt9 c ON t.w = c.w
      CROSS JOIN tot9 x
      GROUP BY t.doc_id)
    SELECT doc_id, n_tokens, rarity_sum,
           rarity_sum / CAST(n_tokens AS DOUBLE) AS rarity
    FROM per_doc
    ORDER BY doc_id
    """,
    tags=("TX9",),
)
def text_rarity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TX9: per-document average inverse unigram probability (module
    comment) — high values mean the document leans on corpus-rare tokens,
    the rarity half of a quality/novelty signal.

    Shape at 100 TB: the unigram count table is vocabulary-sized (tiny next
    to the corpus), so it BROADCASTS to the token stream — the only
    shuffles are the two keyed aggregations (corpus counts; per-doc sums),
    both with map-side partial aggregation. The corpus-total scalar rides
    the same broadcast cross-join pattern as the uncorrelated scalar
    subqueries (Q2). Per-term division is exact-int-over-exact-int in
    DOUBLE; the per-doc sum goes through DECIMAL(38,6) so partition order
    cannot perturb the result."""
    docs = spread(table(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", F.explode(tokens()).alias("w"))
    cnt = toks.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    tot = toks.agg(F.count(F.lit(1)).alias("n"))
    term = F.col("n").cast("double") / F.col("cnt").cast("double")
    per_doc = (
        toks.join(F.broadcast(cnt), "w")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            dsum(term, "rarity_sum"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "rarity_sum",
        (F.col("rarity_sum") / F.col("n_tokens").cast("double")).alias("rarity"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# TX10 — BPE pair statistics: the counting pass of one byte-pair-encoding
# merge step (Sennrich et al. 2016). For every adjacent character pair
# inside every word occurrence, count corpus-wide occurrences and report
# the top candidates — the argmax of this table IS the next BPE merge.
# A full tokenizer trainer iterates this (merge -> recount); the engine's
# job is the distributed counting pass, which is the part that touches
# the corpus.
# --------------------------------------------------------------------------

_BPE_TOP = 20


@register(
    "text_bpe_pair_stats",
    oracle=f"""
    WITH words AS (
      SELECT w FROM (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE w <> ''),
    pairs AS (
      SELECT substr(w, CAST(i AS INTEGER), 2) AS pair
      FROM (SELECT w, unnest(range(1, length(w))) AS i FROM words))
    SELECT pair, COUNT(*) AS n_occurrences
    FROM pairs
    GROUP BY 1
    ORDER BY n_occurrences DESC, pair
    LIMIT {_BPE_TOP}
    """,
    tags=("TX10",),
)
def text_bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TX10: corpus-wide adjacent-character-pair counts, top candidates for
    the next BPE merge (module comment). Within-word repeats count every
    occurrence ("aaa" contributes "aa" twice), matching BPE's objective.

    Scale shape: the pair explode runs over the DISTINCT-WORD relation
    weighted by word count, not the token stream — vocabulary is tiny next
    to the corpus, so the quadratic-ish pair fan-out touches each distinct
    word once regardless of its frequency. Two keyed aggregations (word
    counts, then pair counts — both map-side partial) and a
    TakeOrderedAndProject top-20; all string slicing is codegen'd column
    arithmetic, no Python."""
    docs = spread(table(spark, sf_dir, "documents"))
    words = docs.select(F.explode(tokens()).alias("w")).filter(F.col("w") != "")
    wc = words.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    pair_arr = F.when(
        F.length("w") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.length("w") - 1),
            lambda i: F.col("w").substr(i, F.lit(2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        wc.select(F.explode(pair_arr).alias("pair"), "c")
        .groupBy("pair")
        .agg(F.sum("c").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("pair"))
        .limit(_BPE_TOP)
    )


# --------------------------------------------------------------------------
# TX11 — iterative BPE training (2 unrolled merges): argmax pair -> rewrite
# the vocabulary (merged pair becomes one symbol) -> recount -> argmax
# again. This is the actual BPE training loop over a corpus, expressed as
# a static declarative DAG: the per-merge winner is a 1-row frame consumed
# via broadcast (the Q2 uncorrelated-scalar pattern), the rewrite is one
# string replace over the DISTINCT-WORD relation (re-aggregated, since
# rewrites can collide words), and no driver collect ever happens. Both
# engines' replace() substitutes non-overlapping occurrences left-to-right
# — exactly BPE's greedy merge order within a word.
# --------------------------------------------------------------------------

# Placeholder symbols for merged pairs. PRECONDITION: these control chars
# must not occur in the corpus text — a word already containing \x01 would
# be indistinguishable from a merge-1 rewrite, corrupting round-2 counts
# and TX12's token counts, and the oracle shares the scheme so the
# differential gate cannot catch it. True for this corpus (and any sane
# text corpus after C4-style quality filtering, which strips control
# chars); a production trainer sidesteps the issue entirely by working
# over symbol-ID sequences instead of string rewriting.
_BPE_MERGE_SYMS = ("\x01", "\x02")


def _bpe_pair_counts(wc: DataFrame) -> DataFrame:
    """Weighted adjacent-pair counts over a (w, c) distinct-word relation —
    the TX10 counting pass, factored for the trainer's per-merge reuse."""
    pair_arr = F.when(
        F.length("w") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.length("w") - 1),
            lambda i: F.col("w").substr(i, F.lit(2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        wc.select(F.explode(pair_arr).alias("pair"), "c")
        .groupBy("pair")
        .agg(F.sum("c").alias("n_occurrences"))
    )


def _sql_bpe_pairs(words: str) -> str:
    """DuckDB twin of _bpe_pair_counts over a (w, c) relation name."""
    return f"""
      SELECT substr(w, CAST(i AS INTEGER), 2) AS pair,
             CAST(SUM(c) AS BIGINT) AS n_occurrences
      FROM (SELECT w, c, unnest(range(1, length(w))) AS i FROM {words})
      GROUP BY 1"""


@register(
    "text_bpe_train_2merges",
    oracle=f"""
    WITH wc1 AS (
      SELECT w, COUNT(*) AS c FROM (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE w <> '' GROUP BY 1),
    p1 AS ({_sql_bpe_pairs("wc1")}),
    b1 AS (SELECT pair, n_occurrences FROM p1
           ORDER BY n_occurrences DESC, pair LIMIT 1),
    wc2 AS (
      SELECT replace(w, (SELECT pair FROM b1), chr(1)) AS w, SUM(c) AS c
      FROM wc1 GROUP BY 1),
    p2 AS ({_sql_bpe_pairs("wc2")}),
    b2 AS (SELECT pair, n_occurrences FROM p2
           ORDER BY n_occurrences DESC, pair LIMIT 1)
    SELECT CAST(1 AS BIGINT) AS step, hex(encode(pair)) AS pair_hex,
           n_occurrences FROM b1
    UNION ALL
    SELECT CAST(2 AS BIGINT), hex(encode(pair)), n_occurrences FROM b2
    ORDER BY step
    """,
    tags=("TX11",),
)
def text_bpe_train_2merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TX11: two unrolled BPE merge steps — each reports the winning pair
    (hex-encoded: merged symbols are control-char placeholders) and its
    corpus count at selection time (module comment).

    Scale shape per merge: the pair count is TX10's two-aggregation pass
    over the vocabulary relation; the winner is a 1-row broadcast; the
    rewrite + re-aggregation is one more keyed exchange of the vocabulary
    (never the corpus — word counts carry the weights). A k-merge trainer
    is this block unrolled k times: the lineage stays a static DAG, and at
    production merge counts the vocabulary relation would be
    localCheckpointed per round exactly like pq_build's Lloyd loop."""
    merges = _bpe_learn_merges(_bpe_word_counts(spark, sf_dir))
    steps = [
        best.select(
            F.lit(step).cast("long").alias("step"),
            F.hex(F.encode("pair", "UTF-8")).alias("pair_hex"),
            "n_occurrences",
        )
        for step, best in enumerate(merges, start=1)
    ]
    out = steps[0]
    for s in steps[1:]:
        out = out.unionAll(s)
    return out.orderBy("step")


def _bpe_word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(w, c) distinct-word relation over the corpus — the vocabulary the
    BPE trainer and encoder both operate on."""
    docs = spread(table(spark, sf_dir, "documents"))
    words = docs.select(F.explode(tokens()).alias("w")).filter(F.col("w") != "")
    return words.groupBy("w").agg(F.count(F.lit(1)).alias("c"))


def _bpe_learn_merges(wc: DataFrame) -> list[DataFrame]:
    """The TX11 merge loop, factored so the encoder (TX12) learns the
    IDENTICAL merges: returns one 1-row (pair, n_occurrences) frame per
    merge step; between steps the vocabulary is rewritten with the step's
    placeholder symbol and re-aggregated (rewrites can collide words)."""
    merges: list[DataFrame] = []
    for step, sym in enumerate(_BPE_MERGE_SYMS, start=1):
        best = (
            _bpe_pair_counts(wc)
            .orderBy(F.desc("n_occurrences"), F.asc("pair"))
            .limit(1)
        )
        merges.append(best)
        if step < len(_BPE_MERGE_SYMS):
            wc = (
                wc.crossJoin(F.broadcast(best.select("pair")))
                .select(
                    F.replace(F.col("w"), F.col("pair"), F.lit(sym)).alias("w"),
                    "c",
                )
                .groupBy("w")
                .agg(F.sum("c").alias("c"))
            )
    return merges


# --------------------------------------------------------------------------
# TX12 — BPE encoding stats: apply the learned merges to every document and
# report its token count under the trained tokenizer — the cost-estimation
# pass an LLM pipeline runs over candidate corpora (tokens, not bytes, is
# what training budgets are denominated in). Each character/merged symbol
# is one token, so a word's token count is its length after the merge
# rewrites; the rewrite happens once per DISTINCT word and joins back to
# the per-doc token stream.
# --------------------------------------------------------------------------


@register(
    "text_bpe_encode_stats",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, w FROM ({SQL_TOKS}) WHERE w <> ''),
    wc1 AS (SELECT w, COUNT(*) AS c FROM toks GROUP BY 1),
    p1 AS ({_sql_bpe_pairs("wc1")}),
    b1 AS (SELECT pair FROM p1 ORDER BY n_occurrences DESC, pair LIMIT 1),
    wc2 AS (
      SELECT replace(w, (SELECT pair FROM b1), chr(1)) AS w, SUM(c) AS c
      FROM wc1 GROUP BY 1),
    p2 AS ({_sql_bpe_pairs("wc2")}),
    b2 AS (SELECT pair FROM p2 ORDER BY n_occurrences DESC, pair LIMIT 1),
    vocab AS (
      SELECT w, length(w) AS n_chars,
             length(replace(replace(w, (SELECT pair FROM b1), chr(1)),
                            (SELECT pair FROM b2), chr(2))) AS n_syms
      FROM wc1)
    SELECT t.doc_id,
           COUNT(*) AS n_words,
           CAST(SUM(v.n_chars) AS BIGINT) AS n_chars,
           CAST(SUM(v.n_syms) AS BIGINT) AS n_tokens,
           CAST(SUM(v.n_chars) AS DOUBLE) / CAST(SUM(v.n_syms) AS DOUBLE)
             AS chars_per_token
    FROM toks t JOIN vocab v USING (w)
    GROUP BY 1
    ORDER BY 1
    """,
    tags=("TX12",),
)
def text_bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TX12: per-document token counts under the 2-merge BPE tokenizer
    TX11 trains (module comment) — n_words, raw char count, token count
    after merges, and the chars-per-token compression ratio (exact-int
    division, bit-stable).

    Scale shape: merges are learned once on the vocabulary relation
    (TX11's machinery, shared code); the encode rewrites each DISTINCT
    word once (vocabulary-sized, the two winning pairs ride along as
    1-row broadcasts) and joins back to the per-doc token stream on the
    word — one stream-sized keyed exchange plus the per-doc aggregate.
    The corpus text itself is never rewritten; only counts move."""
    wc = _bpe_word_counts(spark, sf_dir)
    b1, b2 = _bpe_learn_merges(wc)
    rewritten = F.replace(
        F.replace(F.col("w"), F.col("p1"), F.lit(_BPE_MERGE_SYMS[0])),
        F.col("p2"),
        F.lit(_BPE_MERGE_SYMS[1]),
    )
    vocab = (
        wc.select("w")
        .crossJoin(F.broadcast(b1.select(F.col("pair").alias("p1"))))
        .crossJoin(F.broadcast(b2.select(F.col("pair").alias("p2"))))
        .select(
            "w",
            F.length("w").cast("long").alias("n_chars"),
            F.length(rewritten).cast("long").alias("n_syms"),
        )
    )
    docs = spread(table(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", F.explode(tokens()).alias("w")).filter(
        F.col("w") != ""
    )
    return (
        toks.join(vocab, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_chars").alias("n_chars"),
            F.sum("n_syms").alias("n_tokens"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_chars",
            "n_tokens",
            (
                F.col("n_chars").cast("double") / F.col("n_tokens").cast("double")
            ).alias("chars_per_token"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# TX13 — bigram LM surprisal: score every document against an add-one-
# smoothed bigram language model trained on the corpus itself (the CCNet /
# Wenzek et al. 2020 quality-filter pattern, with the LM trained in-engine
# instead of imported). To stay bit-identical across engines the code
# length is INTEGER: floor(log2(x)) computed as length(bin(x)) - 1 —
# logarithms of integers never touch a transcendental libm call, which
# IEEE does not require to be correctly rounded and which Spark (JVM) and
# DuckDB (libm) would disagree on in the last ulp.
# --------------------------------------------------------------------------


@register(
    "text_bigram_lm_surprisal",
    oracle=f"""
    WITH bgm AS (
      SELECT doc_id, w1, bg FROM (
        SELECT doc_id, w AS w1,
               w || ' ' || lead(w) OVER (PARTITION BY doc_id ORDER BY pos)
                 AS bg
        FROM ({SQL_TOKS}))
      WHERE bg IS NOT NULL),
    v AS (SELECT COUNT(DISTINCT w) AS vsz FROM ({SQL_TOKS})),
    c2 AS (SELECT bg, COUNT(*) AS c FROM bgm GROUP BY 1),
    c1 AS (SELECT w1, COUNT(*) AS cw FROM bgm GROUP BY 1),
    bgd AS (SELECT doc_id, w1, bg, COUNT(*) AS m FROM bgm GROUP BY 1, 2, 3),
    per AS (
      SELECT d.doc_id,
             CAST(SUM(d.m) AS BIGINT) AS n_bigrams,
             CAST(SUM(d.m * ((length(bin(c1.cw + v.vsz)) - 1)
                           - (length(bin(c2.c + 1)) - 1))) AS BIGINT)
               AS total_bits
      FROM bgd d
      JOIN c2 USING (bg)
      JOIN c1 USING (w1)
      CROSS JOIN v
      GROUP BY 1)
    SELECT doc_id, n_bigrams, total_bits,
           CAST(total_bits AS DOUBLE) / CAST(n_bigrams AS DOUBLE)
             AS bits_per_bigram
    FROM per
    ORDER BY doc_id
    """,
    tags=("TX13",),
)
def text_bigram_lm_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TX13: per-document average bigram code length under an add-one-
    smoothed bigram LM trained on the corpus — the in-engine stand-in for
    CCNet's KenLM perplexity filter. Per bigram the code length is
    floor(log2(c(w1) + V)) - floor(log2(c(w1,w2) + 1)) bits, i.e.
    -floor-log2 of the smoothed conditional P(w2|w1); high bits_per_bigram
    marks incoherent word salad, low marks boilerplate — the two tails a
    perplexity filter trims.

    Spark shape at 100 TB: bigrams come from the in-row zip_with multiset
    (bigram_multiset — map-only, no positional self-join; the oracle
    states the same multiset with lead() over positions). The stream is
    pre-aggregated per (doc_id, bigram) BEFORE any join, so the model
    joins touch one row per distinct bigram per doc, not one per token.
    The unigram-context table c1 and the vocabulary scalar are
    vocabulary-sized -> broadcast; the bigram table c2 is the one keyed
    join (at web scale it exceeds broadcast size; its long tail is
    count=1 rows, so a frequent-bigram broadcast + tail keyed join is the
    skew escape if needed). Everything is integer until the single final
    exact-int division, so the result is bit-identical by construction —
    no decimal machinery needed."""
    return bigram_lm_surprisal_table(
        spread(table(spark, sf_dir, "documents"))
    )


def bigram_lm_surprisal_table(docs: DataFrame) -> DataFrame:
    """TX13's scoring DAG over any (doc_id, text) frame — factored so the
    integer-model property test (tests/test_properties.py) scores synthetic
    corpora through the exact production plan."""
    toked = docs.select("doc_id", tokens().alias("toks"))
    bgm = toked.select(
        "doc_id", F.explode(bigram_multiset(F.col("toks"))).alias("bg")
    ).withColumn("w1", F.substring_index("bg", " ", 1))
    v = toked.select(F.explode("toks").alias("w")).agg(
        F.countDistinct("w").alias("vsz")
    )
    # ONE corpus-sized aggregation, materialized: the model tables c2/c1
    # are rollups of bgd, so deriving them from the checkpoint means the
    # corpus is tokenized twice total (bgd + the vocab scalar) instead of
    # four times (c2, c1, bgd, vocab each re-scanning).
    # r13 negative result (VERDICT item 5, measured): pre-partitioning the
    # bigram stream by bg (repartition(P, "bg") before this agg, so the c2
    # rollup and the model join reuse one exchange) LOST — interleaved 6v6
    # at sf0.1: median 1.70s -> 2.09s, every B run slower. The exchange it
    # tries to remove does not exist here: c2 fits the 64MB broadcast
    # threshold, so the model join is already a broadcast hash join and
    # the raw-bigram repartition is pure added cost. (At a corpus scale
    # where c2 outgrows broadcast, the bg-partitioned checkpoint becomes
    # the right layout — revisit alongside the documented hot-bigram skew
    # escape below.)
    bgd = (
        bgm.groupBy("doc_id", "w1", "bg")
        .agg(F.count(F.lit(1)).alias("m"))
        .localCheckpoint(eager=False)
    )
    c2 = bgd.groupBy("bg").agg(F.sum("m").alias("c"))
    c1 = bgd.groupBy("w1").agg(F.sum("m").alias("cw"))
    bits = (F.length(F.bin(F.col("cw") + F.col("vsz"))) - 1) - (
        F.length(F.bin(F.col("c") + 1)) - 1
    )
    per = (
        bgd.join(c2, "bg")
        .join(F.broadcast(c1), "w1")
        .crossJoin(F.broadcast(v))
        .groupBy("doc_id")
        .agg(
            F.sum("m").cast("long").alias("n_bigrams"),
            F.sum(F.col("m") * bits).cast("long").alias("total_bits"),
        )
    )
    return per.select(
        "doc_id",
        "n_bigrams",
        "total_bits",
        (
            F.col("total_bits").cast("double")
            / F.col("n_bigrams").cast("double")
        ).alias("bits_per_bigram"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# TX14 — vocabulary growth (Heaps'-law audit): cumulative token count vs
# cumulative distinct-vocabulary size over four doc-id-ordered corpus
# prefixes. THE scaling question for a tokenizer/vocab budget: how fast
# does new vocabulary keep arriving as the corpus grows toward 100 TB —
# a flattening curve says the vocab is saturating, a straight one says
# every new shard still brings unseen tokens.
# --------------------------------------------------------------------------

_VG_BUCKETS = 4


@register(
    "text_vocab_growth",
    oracle=f"""
    WITH mx AS (SELECT MAX(doc_id) AS mid FROM documents),
    vtk AS (
      SELECT t.doc_id, t.w,
             CAST((t.doc_id * {_VG_BUCKETS}) // (mx.mid + 1) + 1 AS BIGINT)
               AS qd
      FROM ({SQL_TOKS}) t CROSS JOIN mx),
    per_q AS (SELECT qd, COUNT(*) AS n_tokens FROM vtk GROUP BY 1),
    first_seen AS (SELECT w, MIN(qd) AS fq FROM vtk GROUP BY 1),
    new_vocab AS (SELECT fq AS qd, COUNT(*) AS n_new FROM first_seen GROUP BY 1),
    ser AS (
      SELECT p.qd, p.n_tokens, COALESCE(v.n_new, 0) AS n_new
      FROM per_q p LEFT JOIN new_vocab v USING (qd))
    SELECT qd AS bucket,
           CAST(SUM(n_tokens) OVER (ORDER BY qd
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_tokens,
           CAST(SUM(n_new) OVER (ORDER BY qd
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_vocab,
           CAST(SUM(n_new) OVER (ORDER BY qd
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             / CAST(SUM(n_tokens) OVER (ORDER BY qd
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS type_token_ratio
    FROM ser
    ORDER BY bucket
    """,
    tags=("TX14",),
)
def text_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TX14: cumulative (tokens, distinct vocabulary) at four doc-id-ordered
    corpus prefixes (module comment). A word counts toward the bucket where
    it FIRST appears, so cumulative vocabulary needs no per-prefix
    re-distinct.

    Spark shape at 100 TB: ONE pass over the token stream — the corpus
    collapses to the (bucket, word) count table in a single hash aggregate
    with map-side partials, and everything downstream (per-bucket token
    sums, per-word first-seen buckets, the cumulative windows over at most
    {_VG_BUCKETS} rows) runs over that vocabulary-sized relation. The
    max-doc-id scalar rides the Q2 broadcast-cross-join pattern. All
    counts are int64; bucket assignment is integer floor division, so the
    curve is bit-deterministic."""
    docs = spread(table(spark, sf_dir, "documents"))
    mx = docs.agg(F.max("doc_id").alias("mid"))
    vtk = (
        docs.select("doc_id", F.explode(tokens()).alias("w"))
        .crossJoin(F.broadcast(mx))
        .select(
            "w",
            (
                F.expr(f"(doc_id * {_VG_BUCKETS}) div (mid + 1)") + 1
            ).alias("qd"),
        )
    )
    # the one corpus-sized aggregation: everything below is vocab-sized.
    # Materialized once (vocab x 4 rows) — per_q and new_vocab both read
    # it, and without the checkpoint each branch would re-scan and
    # re-tokenize the corpus (8 parquet scans observed vs 2 after).
    gw = (
        vtk.groupBy("qd", "w")
        .agg(F.count(F.lit(1)).alias("m"))
        .localCheckpoint(eager=False)
    )
    per_q = gw.groupBy("qd").agg(F.sum("m").alias("n_tokens"))
    new_vocab = (
        gw.groupBy("w")
        .agg(F.min("qd").alias("qd"))
        .groupBy("qd")
        .agg(F.count(F.lit(1)).alias("n_new"))
    )
    ser = per_q.join(new_vocab, "qd", "left").select(
        "qd",
        "n_tokens",
        F.coalesce(F.col("n_new"), F.lit(0)).alias("n_new"),
    )
    wcum = Window.orderBy("qd").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum_tokens = F.sum("n_tokens").over(wcum)
    cum_vocab = F.sum("n_new").over(wcum)
    return ser.select(
        F.col("qd").alias("bucket"),
        cum_tokens.cast("long").alias("cum_tokens"),
        cum_vocab.cast("long").alias("cum_vocab"),
        (cum_vocab.cast("double") / cum_tokens.cast("double")).alias(
            "type_token_ratio"
        ),
    ).orderBy("bucket")


# --------------------------------------------------------------------------
# TX15 — Zipf rank-frequency slope: fit log2(count) against log2(rank) over
# the corpus vocabulary. Natural text follows count ~ rank^-s with s ~ 1
# (Zipf 1949); a corpus whose fitted slope drifts far from -1 is a red flag
# for machine-generated or template spam in an LLM training mix. Like TX13,
# the fit is kept INTEGER until one final division: the regression points
# are (floor(log2 rank), floor(log2 count)) via length(bin(x)) - 1, and the
# least-squares slope is a ratio of two exact int64 sums — no libm, so
# Spark and DuckDB agree bit-for-bit.
# --------------------------------------------------------------------------


@register(
    "text_zipf_slope",
    oracle=f"""
    WITH wc AS (
      SELECT w, COUNT(*) AS c FROM ({SQL_TOKS}) WHERE w <> '' GROUP BY 1),
    rk AS (
      SELECT c, row_number() OVER (ORDER BY c DESC, w) AS r FROM wc),
    pts AS (
      SELECT CAST(length(bin(r)) - 1 AS BIGINT) AS x,
             CAST(length(bin(c)) - 1 AS BIGINT) AS y,
             c
      FROM rk),
    reg AS (
      SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * y) AS sxy, SUM(x * x) AS sxx
      FROM pts)
    SELECT p.x AS rank_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(p.c) AS BIGINT) AS bucket_tokens,
           CAST(SUM(p.y) AS BIGINT) AS sum_log2_count,
           CASE WHEN r.n * r.sxx - r.sx * r.sx = 0 THEN NULL
                ELSE CAST(r.n * r.sxy - r.sx * r.sy AS DOUBLE)
                     / CAST(r.n * r.sxx - r.sx * r.sx AS DOUBLE)
           END AS zipf_slope
    FROM pts p CROSS JOIN reg r
    GROUP BY p.x, r.n, r.sx, r.sy, r.sxy, r.sxx
    ORDER BY rank_bucket
    """,
    tags=("TX15",),
)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TX15: Zipf rank-frequency audit (module comment). One row per
    log2-rank bucket — word count, token mass, summed floor-log2 counts —
    plus the global least-squares slope of floor-log2(count) on
    floor-log2(rank) repeated on every row (expected near -1 for natural
    text).

    Spark shape at 100 TB: the corpus collapses to the vocabulary count
    table in ONE hash aggregate with map-side partials; ranking, bucketing,
    and the regression sums all run over that vocabulary-sized relation.
    The global row_number here is a single-partition sort of the
    vocabulary — fine at millions of words; the scale escape is the
    standard two-phase rank (range-partition by (c, w), cumulative
    partition offsets from a count-per-partition broadcast). Regression
    sums are exact int64 (order-insensitive), the 1-row regression scalar
    is broadcast, and the slope is the single final double division —
    bit-deterministic by construction."""
    return zipf_slope_table(spread(table(spark, sf_dir, "documents")))


def zipf_slope_table(docs: DataFrame) -> DataFrame:
    """TX15's DAG over any (doc_id, text) frame — factored so the integer-
    model property test (tests/test_properties.py) fits synthetic corpora
    through the exact production plan."""
    wc = (
        docs.select(F.explode(tokens()).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    rk = wc.select(
        "c",
        F.row_number()
        .over(Window.orderBy(F.desc("c"), F.asc("w")))
        .alias("r"),
    )
    ilog2 = lambda col: (F.length(F.bin(col)) - 1).cast("long")  # noqa: E731
    pts = rk.select(
        ilog2(F.col("r")).alias("x"), ilog2(F.col("c")).alias("y"), "c"
    ).localCheckpoint(eager=False)
    reg = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    # a corpus whose whole vocabulary lands in one rank bucket has no
    # fitted slope: NULL, not an ANSI divide-by-zero task failure
    slope = F.when(
        den != 0,
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
        / den.cast("double"),
    ).alias("zipf_slope")
    return (
        pts.crossJoin(F.broadcast(reg))
        .groupBy("x", "n", "sx", "sy", "sxy", "sxx")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("c").cast("long").alias("bucket_tokens"),
            F.sum("y").cast("long").alias("sum_log2_count"),
        )
        .select(
            F.col("x").alias("rank_bucket"),
            "n_words",
            "bucket_tokens",
            "sum_log2_count",
            slope,
        )
        .orderBy("rank_bucket")
    )


# --------------------------------------------------------------------------
# TX16 — PMI COLLOCATIONS: the corpus's strongest two-word collocations by
# pointwise mutual information (Church & Hanks 1990), the standard
# phrase-mining primitive for tokenizer vocab construction and quality
# analysis. PMI ranks by p(w1,w2) / (p(w1) p(w2)); since log is monotone,
# ordering by the LIFT ratio itself avoids the transcendental entirely
# (cross-engine log bit-divergence is why TX12/TX15 use floor-log2 — here
# we don't need logs at all). The lift is computed as
#   (cab / Nb) * (Nu / ca) * (Nu / cb)
# — three exact-integer IEEE divisions and two multiplications in the SAME
# association order in both engines, so every score is bit-identical.
# Scale: two hash aggregations (unigrams, bigrams); the support filter
# (cab >= 5) shrinks candidates BEFORE the two unigram-count joins, and
# the candidate side broadcasts — the vocab-sized unigram table never
# re-shuffles. Totals are scalar aggregates (one row, broadcast).
# --------------------------------------------------------------------------

_PMI_MIN_SUPPORT = 5
_PMI_TOP_K = 50


@register(
    "tx16_pmi_collocations",
    oracle=f"""
    WITH ex AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w,
             generate_subscripts(string_split(text, ' '), 1) AS pos
      FROM documents),
    uni AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM ex GROUP BY 1),
    bg AS (
      SELECT a.w AS w1, b.w AS w2
      FROM ex a JOIN ex b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
    bgc AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n_pair
      FROM bg GROUP BY 1, 2
      HAVING COUNT(*) >= {_PMI_MIN_SUPPORT}),
    tot AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM ex) AS nu,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM bg) AS nb)
    SELECT g.w1, g.w2, g.n_pair,
           u1.c AS n_w1, u2.c AS n_w2,
           ((CAST(g.n_pair AS DOUBLE) / CAST(t.nb AS DOUBLE))
            * (CAST(t.nu AS DOUBLE) / CAST(u1.c AS DOUBLE)))
            * (CAST(t.nu AS DOUBLE) / CAST(u2.c AS DOUBLE)) AS lift
    FROM bgc g
    JOIN uni u1 ON g.w1 = u1.w
    JOIN uni u2 ON g.w2 = u2.w
    CROSS JOIN tot t
    ORDER BY lift DESC, g.w1, g.w2
    LIMIT {_PMI_TOP_K}
    """,
    tags=("TX16",),
)
def tx16_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TX16: top-50 adjacent-word collocations by PMI lift (block comment
    above), with pair and unigram counts riding along."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    toked = docs.select(tokens().alias("toks"))
    # unigram counts: vocab-sized, read by BOTH count joins below
    uni = (
        toked.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    bg = toked.select(F.explode(bigram_multiset(F.col("toks"))).alias("bg"))
    cands = (
        bg.groupBy("bg")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pair"))
        .filter(F.col("n_pair") >= _PMI_MIN_SUPPORT)
        .select(
            F.split_part(F.col("bg"), F.lit(" "), F.lit(1)).alias("w1"),
            F.split_part(F.col("bg"), F.lit(" "), F.lit(2)).alias("w2"),
            "n_pair",
        )
    )
    totals = (
        toked.select(F.explode("toks").alias("w"))
        .agg(F.count(F.lit(1)).cast("long").alias("nu"))
        .crossJoin(bg.agg(F.count(F.lit(1)).cast("long").alias("nb")))
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("n_w1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("n_w2"))
    lift = (
        (F.col("n_pair").cast("double") / F.col("nb").cast("double"))
        * (F.col("nu").cast("double") / F.col("n_w1").cast("double"))
    ) * (F.col("nu").cast("double") / F.col("n_w2").cast("double"))
    return (
        u1.join(F.broadcast(cands), "w1")
        .join(u2.hint("shuffle_hash"), "w2")
        .crossJoin(F.broadcast(totals))
        .select("w1", "w2", "n_pair", "n_w1", "n_w2", lift.alias("lift"))
        .orderBy(F.desc("lift"), "w1", "w2")
        .limit(_PMI_TOP_K)
    )


# --------------------------------------------------------------------------
# TX17 — SLIDING-WINDOW CHUNKER: split every document into fixed-size token
# chunks with overlap — the pretraining/RAG segmentation step that feeds
# sequence packing (PIPE/pack_sequences consumes fixed-length pieces; this
# is where the pieces come from). Chunk starts advance by stride =
# size - overlap; the last chunk is truncated at the document end. Chunk
# size 16 / overlap 4 are sized to the fixture's ~30-token documents (a
# production run uses 1024/128 — the plan is IDENTICAL: map-only
# sequence+explode per row, zero joins, zero aggregations; the only
# exchange is the output sort).
# --------------------------------------------------------------------------

_CHUNK_TOKENS = 16
_CHUNK_OVERLAP = 4
_CHUNK_STRIDE = _CHUNK_TOKENS - _CHUNK_OVERLAP


@register(
    "tx17_chunk_spans",
    oracle=f"""
    WITH toked AS (
      SELECT doc_id, string_split(text, ' ') AS toks
      FROM documents),
    spans AS (
      SELECT doc_id,
             generate_subscripts(
               list_transform(generate_series(0, len(toks) - 1,
                                              {_CHUNK_STRIDE}), s -> s),
               1) - 1 AS chunk_idx,
             unnest(generate_series(0, len(toks) - 1, {_CHUNK_STRIDE}))
               AS start_tok,
             toks
      FROM toked
      WHERE len(toks) >= 1)
    SELECT doc_id,
           CAST(chunk_idx AS BIGINT) AS chunk_idx,
           CAST(start_tok AS BIGINT) AS start_tok,
           CAST(LEAST(start_tok + {_CHUNK_TOKENS}, len(toks)) AS BIGINT)
             AS end_tok,
           CAST(LEAST(start_tok + {_CHUNK_TOKENS}, len(toks)) - start_tok
                AS BIGINT) AS n_chunk_tokens,
           array_to_string(
             toks[start_tok + 1 : LEAST(start_tok + {_CHUNK_TOKENS},
                                        len(toks))], ' ') AS chunk_text
    FROM spans
    ORDER BY doc_id, chunk_idx
    """,
    tags=("TX17",),
)
def tx17_chunk_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TX17: overlapping fixed-size token chunks per document (block
    comment above) — (doc_id, chunk_idx, start/end token, length, text)."""
    toked = (
        table(spark, sf_dir, "documents")
        .select("doc_id", tokens().alias("toks"))
        .filter(F.size("toks") >= 1)
    )
    n = F.size("toks")
    spans = toked.select(
        "doc_id",
        "toks",
        F.posexplode(
            F.sequence(F.lit(0), n - 1, F.lit(_CHUNK_STRIDE))
        ).alias("chunk_idx", "start_tok"),
    )
    end = F.least(F.col("start_tok") + _CHUNK_TOKENS, F.size("toks"))
    return (
        spans.select(
            "doc_id",
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            F.col("start_tok").cast("long").alias("start_tok"),
            end.cast("long").alias("end_tok"),
            (end - F.col("start_tok")).cast("long").alias("n_chunk_tokens"),
            F.array_join(
                F.slice(
                    "toks",
                    F.col("start_tok") + 1,
                    end - F.col("start_tok"),
                ),
                " ",
            ).alias("chunk_text"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


# --------------------------------------------------------------------------
# TX18 — interpolated KNESER-NEY bigram probabilities (Kneser & Ney 1995;
# Chen & Goodman 1999 eq. 4.25): the smoothing every serious n-gram LM
# (KenLM included) actually ships, distinct from TX13's add-one code
# lengths. Per bigram (w1, w2):
#     P_KN(w2|w1) = max(c(w1 w2) - D, 0)/c(w1 .)
#                   + (D * N1+(w1 .)/c(w1 .)) * (N1+(. w2)/N_bg_types)
# with discount D = 0.75, where N1+(w1 .) = distinct continuations of w1,
# N1+(. w2) = distinct CONTEXTS of w2 (the "how many places does this word
# follow" novelty count that makes KN work), N_bg_types = distinct bigram
# types. Every operand is an integer count; the probability is ONE fixed
# IEEE expression tree mirrored token-for-token in the oracle, so both
# engines round identically at every step — no decimal machinery needed.
# Plan shape at 100 TB: bigrams from the in-row zip_with multiset (map-
# only), ONE (bg, w1, w2)-keyed aggregation materialized once, and the
# three model tables (context totals, continuation counts, the type
# scalar) are rollups of it — vocabulary-sized, broadcast into the final
# scoring join. Output: the 50 most frequent bigrams (c DESC, bg ASC), a
# bounded deterministic report.
# --------------------------------------------------------------------------

_KN_D = 0.75
_KN_TOP = 50


@register(
    "text_kneser_ney_bigram",
    oracle=f"""
    WITH bgm AS (
      SELECT w1, w2, w1 || ' ' || w2 AS bg FROM (
        SELECT w AS w1,
               lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        FROM ({SQL_TOKS}))
      WHERE w2 IS NOT NULL),
    c2 AS (SELECT bg, w1, w2, CAST(COUNT(*) AS BIGINT) AS c
           FROM bgm GROUP BY 1, 2, 3),
    c1 AS (SELECT w1, CAST(SUM(c) AS BIGINT) AS cw,
                  CAST(COUNT(*) AS BIGINT) AS n1f
           FROM c2 GROUP BY 1),
    cont AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1b FROM c2 GROUP BY 1),
    nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS nbt FROM c2)
    SELECT c2.bg, c2.c, c1.cw, c1.n1f, cont.n1b,
           (GREATEST(CAST(c2.c AS DOUBLE) - {_KN_D}, 0.0)
              / CAST(c1.cw AS DOUBLE))
           + ((({_KN_D} * CAST(c1.n1f AS DOUBLE)) / CAST(c1.cw AS DOUBLE))
              * (CAST(cont.n1b AS DOUBLE) / CAST(nt.nbt AS DOUBLE)))
             AS p_kn
    FROM c2
    JOIN c1 ON c2.w1 = c1.w1
    JOIN cont ON c2.w2 = cont.w2
    CROSS JOIN nt
    ORDER BY c2.c DESC, c2.bg
    LIMIT {_KN_TOP}
    """,
    tags=("TX18",),
)
def text_kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TX18: interpolated Kneser-Ney bigram model over the corpus (block
    comment above) — the 50 most frequent bigrams with their smoothed
    conditional probabilities and the model counts behind them."""
    docs = spread(table(spark, sf_dir, "documents"))
    toked = docs.select("doc_id", tokens().alias("toks"))
    bgm = toked.select(
        F.explode(bigram_multiset(F.col("toks"))).alias("bg")
    ).select(
        "bg",
        F.substring_index("bg", " ", 1).alias("w1"),
        F.substring_index("bg", " ", -1).alias("w2"),
    )
    c2 = (
        bgm.groupBy("bg", "w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    c1 = c2.groupBy("w1").agg(
        F.sum("c").cast("long").alias("cw"),
        F.count(F.lit(1)).cast("long").alias("n1f"),
    )
    cont = c2.groupBy("w2").agg(F.count(F.lit(1)).cast("long").alias("n1b"))
    nt = c2.agg(F.count(F.lit(1)).cast("long").alias("nbt"))
    p_kn = (
        F.greatest(F.col("c").cast("double") - F.lit(_KN_D), F.lit(0.0))
        / F.col("cw").cast("double")
    ) + (
        (F.lit(_KN_D) * F.col("n1f").cast("double") / F.col("cw").cast("double"))
        * (F.col("n1b").cast("double") / F.col("nbt").cast("double"))
    )
    return (
        c2.join(F.broadcast(c1), "w1")
        .join(F.broadcast(cont), "w2")
        .crossJoin(F.broadcast(nt))
        .select("bg", "c", "cw", "n1f", "n1b", p_kn.alias("p_kn"))
        .orderBy(F.desc("c"), F.asc("bg"))
        .limit(_KN_TOP)
    )
