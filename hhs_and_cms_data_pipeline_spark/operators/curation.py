"""Sampling, sharding, and curation-pipeline operators over `documents` —
the selection half of a training-data pipeline (dedup.py is the removal
half): deterministic Bernoulli sampling, stratified fractions, fixed-k per
group, reason-coded quality filtering, corpus statistics, training-shard
assignment, within-document repetition filtering (C7), benchmark
decontamination (C8), and training-sequence packing (C9).

Determinism doctrine: every sampling decision is a pure function of the row
key (md5 of the doc_id, identical in Spark and DuckDB), never of partition
layout, RNG state, or cluster size — a local[32] run and a 1000-executor run
select the SAME sample. This is what makes sampled training sets
reproducible and incrementally extendable (re-running over grown data keeps
every previously selected row whose key still qualifies).

Scale posture (100 TB): C1/C4/C5 are map-only or single hash-shuffle; the
ranked samplers (C2/C3/C6) shuffle once on the stratum key and window within
it — strata (source, lang, shard) are low-cardinality but each stratum
streams through the window operator sorted, nothing driver-side. For
billion-row strata, raise the shard count (C6) or pre-aggregate; no operator
here materializes a stratum in memory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exact import davg, sql_davg, sql_floordiv
from ..registry import register
from ..sources import spread, table
from .dedup import _SQL_CLUSTERS_CTES, emb_dot, min_label_components, sql_emb_dot
from .text import (
    SQL_BIGRAMS,
    SQL_QC_RAW,
    SQL_TOKS,
    bigram_multiset,
    quality_raw_score,
    tokens,
    word_bigram_arrays,
    word_bigrams,
)

# Hash key: md5 over the decimal string of doc_id — bit-identical in Spark
# and DuckDB, uniform over the hex space, independent of row order.


def _hash_key() -> F.Column:
    return F.md5(F.col("doc_id").cast("string"))


_SQL_HASH_KEY = "md5(CAST(doc_id AS VARCHAR))"

# ~10% Bernoulli: first 4 hex nibbles < 0x1999 (6553/65536 = 9.999%).
_BERNOULLI_HEX = "1999"


@register(
    "sample_hash_bernoulli",
    oracle=f"""
    SELECT doc_id, lang, source, n_chars
    FROM documents
    WHERE substr({_SQL_HASH_KEY}, 1, 4) < '{_BERNOULLI_HEX}'
    ORDER BY doc_id
    """,
    tags=("C1",),
)
def sample_hash_bernoulli(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% Bernoulli sample: keep rows whose key-hash prefix
    falls under the rate threshold. Unlike DataFrame.sample() (seeded per
    partition — resampling under repartition), membership depends only on
    doc_id, so the sample is stable across runs, cluster sizes, and data
    growth. Map-only: the predicate is a per-row hash compare, pushed as a
    filter with no shuffle."""
    return (
        table(spark, sf_dir, "documents")
        .filter(F.substring(_hash_key(), 1, 4) < _BERNOULLI_HEX)
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    )


_STRAT_FRAC = 0.2


@register(
    "sample_stratified_frac",
    oracle=f"""
    SELECT doc_id, source, sample_rank
    FROM (
      SELECT doc_id, source,
             row_number() OVER (PARTITION BY source
                                ORDER BY {_SQL_HASH_KEY}, doc_id)
               AS sample_rank,
             COUNT(*) OVER (PARTITION BY source) AS n_stratum
      FROM documents)
    WHERE sample_rank <= CAST(ceil({_STRAT_FRAC} * n_stratum) AS BIGINT)
    ORDER BY doc_id
    """,
    tags=("C2",),
)
def sample_stratified_frac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified 20% sample: per `source` stratum, keep the ceil(frac*n)
    rows with the smallest key-hash. Exact per-stratum proportions (unlike
    Bernoulli, which only hits the rate in expectation), still a pure
    function of doc_id within each stratum. One shuffle on `source`; both
    window functions share the partition spec so Spark plans a single
    exchange + sort."""
    w = Window.partitionBy("source").orderBy(_hash_key(), "doc_id")
    wn = Window.partitionBy("source")
    return (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "source",
            F.row_number().over(w).cast("long").alias("sample_rank"),
            F.count(F.lit(1)).over(wn).alias("n_stratum"),
        )
        .filter(
            F.col("sample_rank")
            <= F.ceil(F.lit(_STRAT_FRAC) * F.col("n_stratum")).cast("long")
        )
        .select("doc_id", "source", "sample_rank")
        .orderBy("doc_id")
    )


_FIXED_K = 5


@register(
    "sample_fixed_k_per_lang",
    oracle=f"""
    SELECT doc_id, lang, sample_rank
    FROM (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang
                                ORDER BY {_SQL_HASH_KEY}, doc_id)
               AS sample_rank
      FROM documents)
    WHERE sample_rank <= {_FIXED_K}
    ORDER BY lang, sample_rank
    """,
    tags=("C3",),
)
def sample_fixed_k_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size sample: exactly k=5 docs per language (fewer if the group
    is smaller), chosen by smallest key-hash — the deterministic equivalent
    of per-group reservoir sampling. The rank<=k predicate lets Spark run
    the window as a top-k per group (rank pushdown in the window operator)
    instead of ranking whole strata."""
    w = Window.partitionBy("lang").orderBy(_hash_key(), "doc_id")
    return (
        table(spark, sf_dir, "documents")
        .select("doc_id", "lang", F.row_number().over(w).cast("long").alias("sample_rank"))
        .filter(F.col("sample_rank") <= _FIXED_K)
        .orderBy("lang", "sample_rank")
    )


# Reason-coded quality gate. First failing rule wins; NULL reason = kept.
_MIN_CHARS = 100
_MAX_CHARS = 10_000
_MIN_TOKENS = 20
_MAX_AVG_TOKEN_LEN = 12.0


@register(
    "curation_filter_pipeline",
    oracle=f"""
    SELECT doc_id,
           CASE
             WHEN n_chars < {_MIN_CHARS} THEN 'too_short'
             WHEN n_chars > {_MAX_CHARS} THEN 'too_long'
             WHEN len(string_split(text, ' ')) < {_MIN_TOKENS}
               THEN 'too_few_tokens'
             WHEN CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE)
                    / CAST(len(string_split(text, ' ')) AS DOUBLE)
                  > {_MAX_AVG_TOKEN_LEN}
               THEN 'tokens_too_long'
           END AS drop_reason
    FROM documents
    ORDER BY doc_id
    """,
    tags=("C4",),
)
def curation_filter_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reason-coded quality gate (Gopher/C4-style rule cascade): each doc is
    tagged with the FIRST rule it violates (length bounds, minimum token
    count, average-token-length ceiling) or NULL if it passes. Emitting the
    reason instead of silently filtering is what a curation pipeline needs
    for auditing drop rates per rule. Pure per-row column expressions —
    map-only, whole-stage codegen, no Python."""
    n_tok = F.size(F.split(F.col("text"), " "))
    avg_tok_len = (F.length("text") - n_tok + F.lit(1)).cast("double") / n_tok.cast(
        "double"
    )
    return (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.when(F.col("n_chars") < _MIN_CHARS, "too_short")
            .when(F.col("n_chars") > _MAX_CHARS, "too_long")
            .when(n_tok < _MIN_TOKENS, "too_few_tokens")
            .when(avg_tok_len > _MAX_AVG_TOKEN_LEN, "tokens_too_long")
            .alias("drop_reason"),
        )
        .orderBy("doc_id")
    )


@register(
    "corpus_stats_by_lang",
    oracle=f"""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           {sql_davg("n_chars")} AS avg_chars,
           COUNT(DISTINCT source) AS n_sources
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
    tags=("C5",),
)
def corpus_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus profile: doc count, total/average characters
    (decimal-exact average per functions/exact.py), distinct sources. One
    hash-shuffle on `lang` with map-side partial aggregation; COUNT(DISTINCT
    source) expands to the standard two-phase distinct aggregate."""
    return (
        table(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            davg("n_chars", "avg_chars"),
            F.count_distinct("source").alias("n_sources"),
        )
        .orderBy("lang")
    )


_N_SHARDS = 16


@register(
    "corpus_shard_assignment",
    oracle=f"""
    SELECT doc_id,
           strpos('0123456789abcdef', substr({_SQL_HASH_KEY}, 1, 1)) - 1
             AS shard,
           row_number() OVER (
             PARTITION BY substr({_SQL_HASH_KEY}, 1, 1)
             ORDER BY {_SQL_HASH_KEY}, doc_id) AS pos_in_shard
    FROM documents
    ORDER BY shard, pos_in_shard
    """,
    tags=("C6",),
)
def corpus_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard assignment: shard = first hash nibble (16 shards),
    position within shard = hash order — a deterministic global shuffle of
    the corpus, expressed scale-correctly: ranking is windowed PER SHARD
    (one exchange on the nibble, each shard sorted independently), never a
    global single-partition row_number. Readers stream shard files in
    pos_in_shard order and get a reproducible, well-mixed training order.
    At 100 TB, widen the nibble prefix (2 hex chars = 256 shards, 3 = 4096)
    to bound shard size; the plan shape is unchanged."""
    nibble = F.substring(_hash_key(), 1, 1)
    w = Window.partitionBy(nibble).orderBy(_hash_key(), "doc_id")
    return (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            (F.instr(F.lit("0123456789abcdef"), nibble) - 1).cast("long").alias("shard"),
            F.row_number().over(w).cast("long").alias("pos_in_shard"),
        )
        .orderBy("shard", "pos_in_shard")
    )


# --------------------------------------------------------------------------
# C7 — within-document repetition filter (Gopher-style duplicate-ngram
# fraction; Rae et al. 2021 §A1.1 use dup 2/3/4-gram character fractions).
# --------------------------------------------------------------------------

_DUP_BIGRAM_TAU = 0.2


@register(
    "text_repetition_filter",
    oracle=f"""
    WITH allbg AS (
      SELECT doc_id,
             w || ' ' || lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS bg
      FROM ({SQL_TOKS}))
    SELECT doc_id,
           COUNT(bg) AS n_bigrams,
           COUNT(DISTINCT bg) AS n_distinct,
           CASE WHEN COUNT(bg) > 0
                THEN CAST(COUNT(bg) - COUNT(DISTINCT bg) AS DOUBLE)
                       / CAST(COUNT(bg) AS DOUBLE)
                ELSE 0.0 END AS dup_frac,
           CASE WHEN COUNT(bg) > 0
                THEN CAST(COUNT(bg) - COUNT(DISTINCT bg) AS DOUBLE)
                       / CAST(COUNT(bg) AS DOUBLE)
                ELSE 0.0 END > {_DUP_BIGRAM_TAU} AS repetitive
    FROM allbg
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    tags=("C7",),
)
def text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate word-bigram fraction per document — the Gopher-style
    within-document repetition signal (a high fraction of repeated n-grams
    marks boilerplate/spam/looped generations). dup_frac =
    (total - distinct) / total bigrams; docs above tau are flagged.

    Spark shape: MAP-ONLY — both counts come from the in-row bigram array
    (size vs size(array_distinct)), no explode, no shuffle; the integer->
    double division is exact on both engines. The oracle builds the same
    multiset via a lead() window over the token relation."""
    toked = table(spark, sf_dir, "documents").select("doc_id", tokens().alias("toks"))
    withbg = toked.select("doc_id", bigram_multiset(F.col("toks")).alias("bgs"))
    n_bg = F.size("bgs").cast("long")
    n_distinct = F.size(F.array_distinct("bgs")).cast("long")
    dup_frac = F.when(
        n_bg > 0, (n_bg - n_distinct).cast("double") / n_bg.cast("double")
    ).otherwise(F.lit(0.0))
    return (
        withbg.select(
            "doc_id",
            n_bg.alias("n_bigrams"),
            n_distinct.alias("n_distinct"),
            dup_frac.alias("dup_frac"),
            (dup_frac > _DUP_BIGRAM_TAU).alias("repetitive"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# C8 — test-set decontamination: flag corpus documents whose shingles
# overlap a benchmark/eval set (the standard n-gram decontamination pass a
# training pipeline runs before every corpus release).
# --------------------------------------------------------------------------

# Deterministic pseudo-benchmark: every 97th doc plays the eval set. In
# production this is the real benchmark suite — small by construction.
_BENCH_MOD = 97
_CONTAM_TAU = 0.8


@register(
    "decontaminate_ngram_overlap",
    oracle=f"""
    WITH bgs AS ({SQL_BIGRAMS}),
    bench AS (SELECT DISTINCT bg FROM bgs WHERE doc_id % {_BENCH_MOD} = 0),
    corpus AS (SELECT doc_id, bg FROM bgs WHERE doc_id % {_BENCH_MOD} <> 0),
    counts AS (SELECT doc_id, COUNT(*) AS n_bigrams FROM corpus GROUP BY 1),
    shared AS (
      SELECT c.doc_id, COUNT(*) AS n_shared
      FROM corpus c JOIN bench b USING (bg)
      GROUP BY 1)
    SELECT n.doc_id,
           COALESCE(s.n_shared, 0) AS n_shared,
           n.n_bigrams,
           CAST(COALESCE(s.n_shared, 0) AS DOUBLE)
             / CAST(n.n_bigrams AS DOUBLE) AS overlap_frac,
           CAST(COALESCE(s.n_shared, 0) AS DOUBLE)
             / CAST(n.n_bigrams AS DOUBLE) >= {_CONTAM_TAU} AS contaminated
    FROM counts n LEFT JOIN shared s ON n.doc_id = s.doc_id
    ORDER BY n.doc_id
    """,
    tags=("C8",),
)
def decontaminate_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document overlap with a benchmark shingle set: the fraction of a
    doc's distinct word-bigrams that appear anywhere in the eval set; docs
    at/above tau are contaminated (near-copies of eval items leak metrics).

    Spark shape for 100 TB: the benchmark's distinct shingles are SMALL by
    construction (eval suites, not corpora) -> built once and BROADCAST
    with a hit marker; the corpus streams through ONE map-side left
    broadcast join and ONE per-doc hash aggregation that produces both the
    denominator (row count) and the numerator (hit sum) together — a
    single tokenize pass and a single exchange, where the two-branch
    formulation (separate shared-count join + per-doc size branch)
    re-tokenized the corpus twice and paid a second doc-keyed join
    (measured 2.2s -> 1.3s at sf0.1). Corpus docs with zero bigrams
    (<2 tokens) have no overlap denominator and are excluded on both
    engines."""
    docs = table(spark, sf_dir, "documents")
    is_bench = F.col("doc_id") % _BENCH_MOD == 0
    bench_bgs = (
        word_bigrams(docs.filter(is_bench))
        .select("bg")
        .distinct()
        .withColumn("h", F.lit(1))
    )
    corpus = (
        word_bigram_arrays(docs.filter(~is_bench))
        .filter(F.size("bgs") > 0)
        .select("doc_id", F.explode("bgs").alias("bg"))
    )
    per = (
        corpus.join(F.broadcast(bench_bgs), "bg", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum(F.coalesce(F.col("h"), F.lit(0))).cast("long").alias("n_shared"),
        )
    )
    overlap = F.col("n_shared").cast("double") / F.col("n_bigrams").cast("double")
    return (
        per.select(
            "doc_id",
            "n_shared",
            "n_bigrams",
            overlap.alias("overlap_frac"),
            (overlap >= _CONTAM_TAU).alias("contaminated"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# C9 — sequence packing: concat-and-chunk assignment of documents to
# fixed-token training sequences (each doc gets the sequence its first
# token lands in; sequences are cut every SEQ_LEN tokens within a shard).
# --------------------------------------------------------------------------

_SEQ_LEN = 2048


@register(
    "pack_sequences",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             substr({_SQL_HASH_KEY}, 1, 1) AS nib,
             {_SQL_HASH_KEY} AS hk,
             len(string_split(text, ' ')) AS n_tokens
      FROM documents),
    packed AS (
      SELECT doc_id,
             strpos('0123456789abcdef', nib) - 1 AS shard,
             n_tokens,
             COALESCE(SUM(n_tokens) OVER (
               PARTITION BY nib ORDER BY hk, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS start_tok
      FROM toks)
    SELECT doc_id, shard, n_tokens,
           CAST(start_tok // {_SEQ_LEN} AS BIGINT) AS seq_id,
           CAST(start_tok % {_SEQ_LEN} AS BIGINT) AS offset_in_seq
    FROM packed
    ORDER BY shard, seq_id, offset_in_seq, doc_id
    """,
    tags=("C9",),
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence assignment by concatenate-and-chunk: documents are
    laid end-to-end in deterministic hash order within each shard, and the
    stream is cut every SEQ_LEN tokens; each doc records the sequence and
    offset where it starts (GPT-style packing where document boundaries may
    straddle sequence cuts). Downstream loaders materialize sequence s of
    shard h by streaming docs with seq_id in {{s-1, s}} and slicing.

    Spark shape: one exchange on the shard nibble, per-shard window
    cumulative sum (exclusive frame), pure integer arithmetic — exact on
    both engines. Never a global window: the 16-way sharding bounds every
    sort, and widening the nibble prefix scales shard count with the
    corpus exactly like corpus_shard_assignment (C6)."""
    hk = _hash_key()
    nibble = F.substring(hk, 1, 1)
    toks = table(spark, sf_dir, "documents").select(
        "doc_id",
        nibble.alias("nib"),
        hk.alias("hk"),
        F.size(tokens()).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("nib")
        .orderBy("hk", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return (
        toks.select(
            "doc_id",
            (F.instr(F.lit("0123456789abcdef"), F.col("nib")) - 1)
            .cast("long")
            .alias("shard"),
            "n_tokens",
            F.floor(start / _SEQ_LEN).cast("long").alias("seq_id"),
            (start % _SEQ_LEN).cast("long").alias("offset_in_seq"),
        )
        .orderBy("shard", "seq_id", "offset_in_seq", "doc_id")
    )


# --------------------------------------------------------------------------
# PII redaction (C10): regex scrubbing of emails / SSNs / phone numbers.
# --------------------------------------------------------------------------

# Patterns restricted to syntax RE2 (DuckDB) and java.util.regex (Spark)
# interpret identically: explicit classes, bounded counts, no lookaround.
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_SSN = r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b"
_PII_PHONE = r"\b\(?[0-9]{3}\)?[-. ][0-9]{3}[-. ][0-9]{4}\b"

# The synthetic corpus contains no PII, so the operator seeds each document
# with DETERMINISTIC fake contact lines derived from doc_id — the redaction
# path is then exercised for real on every row (n_emails/n_ssns/n_phones
# are each >= 1 by construction, asserted in tests), instead of vacuously
# passing on text it never touches. The seeded phone is 3-3-4
# ('555-0XY-ZZZZ') to actually match _PII_PHONE; a 3-4-4 seed shipped
# once and left the phone path provably unexercised (n_phones == 0).
_SQL_SEEDED = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com"
    " or call 555-0' || substr(CAST(1000 + doc_id % 100 AS VARCHAR), 3, 2)"
    " || '-' || CAST(1000 + doc_id % 9000 AS VARCHAR)"
    " || ' ssn 123-45-' || CAST(1000 + doc_id % 9000 AS VARCHAR)"
)


@register(
    "curation_pii_redaction",
    oracle=f"""
    WITH seeded AS (
      SELECT doc_id, {_SQL_SEEDED} AS raw FROM documents),
    scrubbed AS (
      SELECT doc_id, raw,
             CAST(len(regexp_extract_all(raw, '{_PII_EMAIL}')) AS INT) AS n_emails,
             CAST(len(regexp_extract_all(raw, '{_PII_SSN}')) AS INT) AS n_ssns,
             regexp_replace(
               regexp_replace(raw, '{_PII_EMAIL}', '<EMAIL>', 'g'),
               '{_PII_SSN}', '<SSN>', 'g') AS pass2
      FROM seeded)
    SELECT doc_id,
           CAST(len(regexp_extract_all(pass2, '{_PII_PHONE}')) AS INT) AS n_phones,
           n_emails, n_ssns,
           md5(regexp_replace(pass2, '{_PII_PHONE}', '<PHONE>', 'g')) AS clean_md5
    FROM scrubbed
    ORDER BY doc_id
    """,
    tags=("C10",),
)
def curation_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub pass: emails, then SSNs, then phone numbers are replaced
    with typed tokens, counting each (SSN before phone — an SSN is also a
    phone-shaped digit run, so pass order is part of the contract). Purely
    built-in regexp_replace/regexp_count Column expressions: map-only,
    whole-stage codegen, zero Python — the scrub rate at 100 TB is the scan
    rate. The output carries the md5 of the cleaned text (not the text)
    plus per-kind counts; patterns stay in the RE2 ∩ java.regex dialect so
    both engines match identical spans."""
    docs = table(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or call 555-0"),
        F.substring((F.lit(1000) + F.col("doc_id") % 100).cast("string"), 3, 2),
        F.lit("-"),
        (F.lit(1000) + F.col("doc_id") % 9000).cast("string"),
        F.lit(" ssn 123-45-"),
        (F.lit(1000) + F.col("doc_id") % 9000).cast("string"),
    )
    seeded = docs.select("doc_id", raw.alias("raw"))
    pass2 = F.regexp_replace(
        F.regexp_replace(F.col("raw"), _PII_EMAIL, "<EMAIL>"), _PII_SSN, "<SSN>"
    )
    scrubbed = seeded.select(
        "doc_id",
        F.regexp_count(F.col("raw"), F.lit(_PII_EMAIL)).alias("n_emails"),
        F.regexp_count(F.col("raw"), F.lit(_PII_SSN)).alias("n_ssns"),
        pass2.alias("pass2"),
    )
    return scrubbed.select(
        "doc_id",
        F.regexp_count(F.col("pass2"), F.lit(_PII_PHONE)).alias("n_phones"),
        "n_emails",
        "n_ssns",
        F.md5(F.regexp_replace(F.col("pass2"), _PII_PHONE, "<PHONE>")).alias("clean_md5"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# C11 — overlapping word-window chunking: split each document into fixed-size
# token windows with stride overlap (context-window preprocessing for
# embedding / pretraining pipelines).
# --------------------------------------------------------------------------

_CHUNK_W = 64  # window size in words
_CHUNK_S = 48  # stride (overlap = W - S = 16 words)


@register(
    "doc_chunk_windows",
    oracle=f"""
    WITH words AS (
      SELECT doc_id,
             string_split(text, ' ') AS ws,
             len(string_split(text, ' ')) AS n
      FROM documents),
    starts AS (
      SELECT doc_id, ws, n,
             unnest(range(0, n, {_CHUNK_S})) AS start_word
      FROM words)
    SELECT doc_id,
           CAST(start_word // {_CHUNK_S} AS BIGINT) AS chunk_id,
           CAST(start_word AS BIGINT) AS start_word,
           CAST(least({_CHUNK_W}, n - start_word) AS BIGINT) AS n_chunk_words,
           md5(array_to_string(
             list_slice(ws, start_word + 1,
                        least(start_word + {_CHUNK_W}, n)), ' ')) AS chunk_md5
    FROM starts
    ORDER BY doc_id, chunk_id
    """,
    tags=("C11",),
)
def doc_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping sliding-window chunking: each document becomes
    ceil(n_words / stride) windows of up to W=64 words starting every S=48
    words (16-word overlap keeps context across cuts — the standard
    embedding/RAG and long-doc pretraining preprocess).

    Spark shape: the token array is built per-row, chunk starts are a
    per-row `sequence`, and `explode` fans out to one row per chunk — all
    map-only (narrow explode, no shuffle); at 100 TB chunking runs at scan
    speed and the output partitioning inherits the input's. The window
    content is emitted as md5 (loaders re-slice by start_word) so the
    result stays metadata-sized."""
    toked = table(spark, sf_dir, "documents").select(
        "doc_id", tokens().alias("ws")
    )
    n = F.size("ws")
    starts = toked.select(
        "doc_id",
        "ws",
        n.alias("n"),
        F.explode(F.sequence(F.lit(0), n - 1, F.lit(_CHUNK_S))).alias("start_word"),
    )
    chunk = F.slice(F.col("ws"), F.col("start_word") + 1, F.lit(_CHUNK_W))
    return (
        starts.select(
            "doc_id",
            (F.col("start_word") / _CHUNK_S).cast("long").alias("chunk_id"),
            F.col("start_word").cast("long").alias("start_word"),
            F.least(F.lit(_CHUNK_W), F.col("n") - F.col("start_word"))
            .cast("long")
            .alias("n_chunk_words"),
            F.md5(F.array_join(chunk, " ")).alias("chunk_md5"),
        )
        .orderBy("doc_id", "chunk_id")
    )


# --------------------------------------------------------------------------
# C12 — mixture resampling: deterministic per-language replication to hit
# target mixture weights (upsampling low-resource languages, the standard
# temperature-style rebalance before training).
# --------------------------------------------------------------------------

# language -> target sampling weight (copies per document, fractional part
# realized by a deterministic per-doc Bernoulli draw).
_MIX_WEIGHTS = {"en": 1.0, "fr": 1.3, "de": 1.75, "es": 2.4, "zh": 3.6}

# Salted hash so the fractional draw is independent of the C1 sample and the
# shard assignment (same md5-of-key trick, different domain prefix).
_SQL_MIX_HASH = "md5('mix:' || CAST(doc_id AS VARCHAR))"


def _mix_case_sql() -> tuple[str, str]:
    base = " ".join(
        f"WHEN '{lang}' THEN {int(w)}" for lang, w in sorted(_MIX_WEIGHTS.items())
    )
    hexes = " ".join(
        f"WHEN '{lang}' THEN '{round((w - int(w)) * 65536):04x}'"
        for lang, w in sorted(_MIX_WEIGHTS.items())
    )
    return (
        f"CASE lang {base} ELSE 1 END",
        f"CASE lang {hexes} ELSE '0000' END",
    )


_SQL_MIX_BASE, _SQL_MIX_HEX = _mix_case_sql()


@register(
    "mixture_resample",
    oracle=f"""
    WITH reps AS (
      SELECT doc_id, lang,
             {_SQL_MIX_BASE}
               + CASE WHEN substr({_SQL_MIX_HASH}, 1, 4) < {_SQL_MIX_HEX}
                      THEN 1 ELSE 0 END AS rep
      FROM documents)
    SELECT doc_id, lang, CAST(unnest(generate_series(1, rep)) AS BIGINT) AS copy_id
    FROM reps
    ORDER BY doc_id, copy_id
    """,
    tags=("C12",),
)
def mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mixture rebalance: each document is replicated
    floor(w_lang) times plus one more with probability frac(w_lang), where
    the fractional draw is a salted hash of doc_id — so the realized mixture
    hits the target weights in expectation AND the exact same multiset is
    produced on every run, cluster size, or data layout (unlike
    sample()/rand()-based upsampling). Copies carry copy_id so downstream
    shuffles (corpus_shard_assignment on (doc_id, copy_id)) spread them.

    Spark shape: map-only — a per-row CASE weight lookup, one salted md5,
    and a narrow explode of a <=4-element sequence. No shuffle; output size
    is sum(w_lang * n_lang) rows. At 100 TB the replication factor is the
    only cost, which is the point of the operator."""
    base = F.lit(1)
    hexes = F.lit("0000")
    for lang, w in sorted(_MIX_WEIGHTS.items()):
        base = F.when(F.col("lang") == lang, int(w)).otherwise(base)
        hexes = F.when(
            F.col("lang") == lang, f"{round((w - int(w)) * 65536):04x}"
        ).otherwise(hexes)
    mix_hash = F.md5(F.concat(F.lit("mix:"), F.col("doc_id").cast("string")))
    rep = base + F.when(F.substring(mix_hash, 1, 4) < hexes, 1).otherwise(0)
    return (
        table(spark, sf_dir, "documents")
        .select("doc_id", "lang", rep.alias("rep"))
        .select(
            "doc_id",
            "lang",
            F.explode(F.sequence(F.lit(1), F.col("rep"))).alias("copy_i"),
        )
        .select("doc_id", "lang", F.col("copy_i").cast("long").alias("copy_id"))
        .orderBy("doc_id", "copy_id")
    )


# --------------------------------------------------------------------------
# PIPE1 — end-to-end curation pipeline: quality gate -> exact dedup ->
# classifier -> shard assignment, composed exactly as a user would chain
# the individual operators (C4 + D1 + TX8 + C6) in one job.
# --------------------------------------------------------------------------


@register(
    "curation_end_to_end",
    oracle=f"""
    WITH passed AS (
      SELECT doc_id, text, lang FROM documents
      WHERE n_chars >= {_MIN_CHARS} AND n_chars <= {_MAX_CHARS}
        AND len(string_split(text, ' ')) >= {_MIN_TOKENS}
        AND CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE)
              / CAST(len(string_split(text, ' ')) AS DOUBLE)
            <= {_MAX_AVG_TOKEN_LEN}),
    uniq AS (
      SELECT doc_id, text, lang FROM (
        SELECT doc_id, text, lang,
               row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM passed)
      WHERE rn = 1),
    scored AS (
      SELECT doc_id, lang, CAST({SQL_QC_RAW} AS BIGINT) AS raw_score
      FROM uniq)
    SELECT doc_id, lang, raw_score,
           strpos('0123456789abcdef', substr({_SQL_HASH_KEY}, 1, 1)) - 1
             AS shard
    FROM scored
    WHERE raw_score >= 0
    ORDER BY doc_id
    """,
    tags=("PIPE1",),
)
def curation_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole curation pipeline in one declarative job — the flow a
    reference user runs nightly, chained instead of materialized between
    stages: C4's quality gate (first-failing-rule filter), D1's exact dedup
    (survivor = min doc_id per content hash), TX8's hashed-feature quality
    classifier (keep raw_score >= 0), C6's deterministic shard assignment.

    Composing rather than checkpointing matters at 100 TB: Catalyst fuses
    the gate + classifier + shard columns into ONE map stage over the scan,
    and the only shuffle in the whole pipeline is the content-hash window
    for dedup (partitioned by md5(text) — never a global window). Each
    stage's semantics stay bit-identical to its standalone operator, which
    the composed oracle re-states end-to-end."""
    n_tok = F.size(F.split(F.col("text"), " "))
    avg_tok_len = (F.length("text") - n_tok + F.lit(1)).cast("double") / n_tok.cast(
        "double"
    )
    passed = (
        table(spark, sf_dir, "documents")
        .filter(
            (F.col("n_chars") >= _MIN_CHARS)
            & (F.col("n_chars") <= _MAX_CHARS)
            & (n_tok >= _MIN_TOKENS)
            & (avg_tok_len <= _MAX_AVG_TOKEN_LEN)
        )
        .select("doc_id", "text", "lang")
    )
    w = Window.partitionBy(F.md5(F.col("text"))).orderBy("doc_id")
    uniq = (
        passed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    return (
        uniq.select("doc_id", "lang", quality_raw_score().alias("raw_score"))
        .filter(F.col("raw_score") >= 0)
        .select(
            "doc_id",
            "lang",
            "raw_score",
            (
                F.instr(
                    F.lit("0123456789abcdef"), F.substring(_hash_key(), 1, 1)
                )
                - 1
            ).cast("long").alias("shard"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# C13 — leakage-safe train/val/test split: assignment happens at the
# NEAR-DUP CLUSTER level (D8's connected components), so two near-duplicate
# documents can never straddle a split boundary — the train/test
# contamination that per-document random splits silently allow.
# --------------------------------------------------------------------------

# ~80/10/10 by the first 16 bits of a salted cluster hash.
_SPLIT_TRAIN_HEX = "cccc"  # 52428/65536 ~ 80.0%
_SPLIT_VAL_HEX = "e666"  # next ~10.0%


@register(
    "curation_leakage_safe_split",
    oracle=f"""
    WITH RECURSIVE {_SQL_CLUSTERS_CTES},
    hashed AS (
      SELECT doc_id, cluster_id,
             substr(md5('split:' || CAST(cluster_id AS VARCHAR)), 1, 4) AS h
      FROM clusters)
    SELECT doc_id, cluster_id,
           CASE WHEN h < '{_SPLIT_TRAIN_HEX}' THEN 'train'
                WHEN h < '{_SPLIT_VAL_HEX}' THEN 'val'
                ELSE 'test' END AS split
    FROM hashed
    ORDER BY doc_id
    """,
    tags=("C13",),
)
def curation_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C13: deterministic ~80/10/10 train/val/test assignment keyed on the
    near-dup CLUSTER id (D8's min-label components), never the document —
    every member of a near-dup cluster shares its split, so evaluation can
    never score on a paraphrase of a training document.

    Spark shape: min_label_components (alternating star contraction,
    O(log n) rounds, lineage-truncated) plus
    one map-only salted-hash projection — the split itself adds ZERO
    shuffles on top of clustering. Deterministic and partition-invariant:
    the assignment is a pure function of cluster_id, reproducible on any
    cluster and any engine (md5 thresholds mirrored in the oracle)."""
    docs = spread(table(spark, sf_dir, "documents"))
    labels = min_label_components(docs)
    h = F.substring(
        F.md5(F.concat(F.lit("split:"), F.col("cluster_id").cast("string"))), 1, 4
    )
    return (
        labels.select(
            "doc_id",
            "cluster_id",
            F.when(h < _SPLIT_TRAIN_HEX, F.lit("train"))
            .when(h < _SPLIT_VAL_HEX, F.lit("val"))
            .otherwise(F.lit("test"))
            .alias("split"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# C14 — quantile-based quality curation: keep each source's top half by
# quality score. Absolute thresholds (C4's rule cascade) break when source
# quality distributions differ; the FineWeb-style alternative filters by
# WITHIN-SOURCE quantile so every source contributes its best documents.
# percent_rank is (rank-1)/(n-1): with the total (score DESC, doc_id)
# tie-break both engines assign identical exact-int ratios, so the cut is
# bit-deterministic.
# --------------------------------------------------------------------------

_QUANTILE_KEEP = 0.5  # keep the top half per source


@register(
    "curation_quality_quantile",
    oracle=f"""
    WITH qscored AS (
      SELECT doc_id, source, CAST({SQL_QC_RAW} AS BIGINT) AS raw_score
      FROM documents),
    qranked AS (
      SELECT doc_id, source, raw_score,
             percent_rank() OVER (
               PARTITION BY source
               ORDER BY raw_score DESC, doc_id) AS pr
      FROM qscored)
    SELECT doc_id, source, raw_score, pr
    FROM qranked
    WHERE pr <= {_QUANTILE_KEEP}
    ORDER BY doc_id
    """,
    tags=("C14",),
)
def curation_quality_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C14: per-source top-half quality filter (module comment).

    The score is TX8's integer-exact salted-hash quality signal
    (quality_raw_score — map-only, no shuffle), so the only exchange is
    the per-source window sort. source is a low-cardinality partition key;
    at 100 TB the same cut runs as a two-pass rank (per-partition partial
    histograms -> global threshold per source) — the window formulation
    here is the semantic contract that plan must reproduce."""
    docs = spread(table(spark, sf_dir, "documents"))
    scored = docs.select(
        "doc_id", "source", quality_raw_score().alias("raw_score")
    )
    w = Window.partitionBy("source").orderBy(F.desc("raw_score"), F.asc("doc_id"))
    return (
        scored.withColumn("pr", F.percent_rank().over(w))
        .filter(F.col("pr") <= _QUANTILE_KEEP)
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# PIPE2 — near-dup-aware corpus build: cluster-canonical dedup (D9) ->
# quality gate (C4 thresholds) -> within-source quality-quantile filter
# (C14) -> shard assignment (C6), composed as one declarative job. PIPE1
# exercises EXACT dedup in its chain; PIPE2 swaps in the MinHash/LSH
# connected-component canonicalization — the order used in real pretraining
# corpus builds (dedup the raw crawl first, then filter), and the chain
# where a subtle interaction (e.g. the gate dropping a cluster's canonical
# but not its duplicates) would corrupt the corpus if stages didn't
# compose cleanly.
# --------------------------------------------------------------------------


@register(
    "curation_neardup_corpus_build",
    oracle=f"""
    WITH RECURSIVE {_SQL_CLUSTERS_CTES},
    canon AS (
      SELECT d.doc_id, d.text, d.source, d.n_chars
      FROM clusters l JOIN documents d ON d.doc_id = l.doc_id
      WHERE l.doc_id = l.cluster_id),
    gated AS (
      SELECT doc_id, text, source FROM canon
      WHERE n_chars >= {_MIN_CHARS} AND n_chars <= {_MAX_CHARS}
        AND len(string_split(text, ' ')) >= {_MIN_TOKENS}
        AND CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE)
              / CAST(len(string_split(text, ' ')) AS DOUBLE)
            <= {_MAX_AVG_TOKEN_LEN}),
    p2_scored AS (
      SELECT doc_id, source, CAST({SQL_QC_RAW} AS BIGINT) AS raw_score
      FROM gated),
    p2_ranked AS (
      SELECT doc_id, source, raw_score,
             percent_rank() OVER (
               PARTITION BY source
               ORDER BY raw_score DESC, doc_id) AS pr
      FROM p2_scored)
    SELECT doc_id, source, raw_score, pr,
           strpos('0123456789abcdef', substr({_SQL_HASH_KEY}, 1, 1)) - 1
             AS shard
    FROM p2_ranked
    WHERE pr <= 0.5
    ORDER BY doc_id
    """,
    tags=("PIPE2",),
)
def curation_neardup_corpus_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIPE2: the near-dup-aware pretraining corpus build (module comment).

    Spark shape, stage by stage: star-contraction connected components over
    the LSH-verified pair graph (O(log n) rounds with lineage truncation —
    the one genuinely iterative stage); survivors are the map-side
    cluster_id == doc_id filter; the gate and the integer quality score
    fuse into the same scan projection; the quantile cut is one
    per-source window over the gated survivors; the shard key is
    map-only hash arithmetic. Everything after clustering is a single
    scan + one window exchange, which is what makes running the full
    chain nightly over a 100 TB crawl plausible — and every stage's
    semantics is the SAME as its standalone operator, restated end-to-end
    by the composed oracle."""
    docs = spread(table(spark, sf_dir, "documents"))
    labels = min_label_components(docs)
    canon = (
        docs.join(labels, "doc_id")
        .filter(F.col("cluster_id") == F.col("doc_id"))
        .select("doc_id", "text", "source", "n_chars")
    )
    n_tok = F.size(F.split(F.col("text"), " "))
    avg_tok_len = (F.length("text") - n_tok + F.lit(1)).cast("double") / n_tok.cast(
        "double"
    )
    gated = canon.filter(
        (F.col("n_chars") >= _MIN_CHARS)
        & (F.col("n_chars") <= _MAX_CHARS)
        & (n_tok >= _MIN_TOKENS)
        & (avg_tok_len <= _MAX_AVG_TOKEN_LEN)
    )
    scored = gated.select(
        "doc_id", "source", quality_raw_score().alias("raw_score")
    )
    w = Window.partitionBy("source").orderBy(F.desc("raw_score"), F.asc("doc_id"))
    return (
        scored.withColumn("pr", F.percent_rank().over(w))
        .filter(F.col("pr") <= 0.5)
        .select(
            "doc_id",
            "source",
            "raw_score",
            "pr",
            (
                F.instr(
                    F.lit("0123456789abcdef"), F.substring(_hash_key(), 1, 1)
                )
                - 1
            ).cast("long").alias("shard"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# C15 — token-budget best-first selection: cap every source at a fixed
# fraction of its own token mass, filling the cap best-quality-first.
# This is the selection step of a mixture build ("take the best N tokens
# per domain"), the greedy dual of C14's quantile cut: C14 keeps a fixed
# fraction of DOCUMENTS per source, C15 keeps a fixed fraction of TOKENS —
# the unit training budgets are actually denominated in.
# --------------------------------------------------------------------------

_BUDGET_DENOM = 4  # keep the best 1/4 of each source's tokens


@register(
    "curation_token_budget_select",
    oracle=f"""
    WITH btk AS (
      SELECT doc_id, source, CAST({SQL_QC_RAW} AS BIGINT) AS raw_score,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents),
    btot AS (
      SELECT source, SUM(n_tokens) // {_BUDGET_DENOM} AS budget
      FROM btk GROUP BY 1),
    bcum AS (
      SELECT doc_id, source, raw_score, n_tokens,
             CAST(SUM(n_tokens) OVER (
               PARTITION BY source
               ORDER BY raw_score DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS cum_tokens
      FROM btk)
    SELECT c.doc_id, c.source, c.raw_score, c.n_tokens, c.cum_tokens
    FROM bcum c JOIN btot t USING (source)
    WHERE c.cum_tokens <= t.budget
    ORDER BY c.doc_id
    """,
    tags=("C15",),
)
def curation_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C15: per-source token-budget selection — order each source's
    documents by (quality DESC, doc_id), admit documents while the running
    token total stays within 1/4 of the source's token mass. A document
    that would cross the budget line is excluded (and so is everything
    after it): the cut is exact in tokens, not approximated in documents.

    Spark shape at 100 TB: the quality score is TX8's map-only integer
    column (quality_raw_score), token counts are in-row sizes, so the only
    exchanges are the per-source window sort and the tiny per-source
    budget aggregate (broadcast back). The window is PARTITIONED (by
    source) — no global single-partition sort anywhere; a skewed mega-
    source is the usual range-partitioned two-pass prefix-sum escape. All
    quantities are int64; the (raw_score DESC, doc_id) order is total, so
    the running sums and the cut line are bit-deterministic on both
    engines."""
    docs = spread(table(spark, sf_dir, "documents"))
    tk = docs.select(
        "doc_id",
        "source",
        quality_raw_score().alias("raw_score"),
        F.size(tokens()).cast("long").alias("n_tokens"),
    )
    tot = tk.groupBy("source").agg(
        # integer `div`, not double `/` + cast: bit-exact at any token
        # mass (a double quotient loses integer precision past 2^53)
        F.expr(f"sum(n_tokens) div {_BUDGET_DENOM}").alias("budget")
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.desc("raw_score"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = tk.withColumn("cum_tokens", F.sum("n_tokens").over(w))
    return (
        cum.join(F.broadcast(tot), "source")
        .filter(F.col("cum_tokens") <= F.col("budget"))
        .select("doc_id", "source", "raw_score", "n_tokens", "cum_tokens")
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# C16 — weighted PRIORITY sampling (Duffield, Lund & Thorup, JACM 2007):
# draw k documents with probability proportional to weight (n_chars here;
# quality scores in production), with the Horvitz-Thompson total estimate
# the scheme is built for. Priorities are deterministic: u_i = (h_i+1)/2^48
# from the md5 idiom, and q_i = w_i/u_i = (w_i << 48) div (h_i + 1) — the
# 2^48 factors cancel, so the integer priority is already in PLAIN weight
# units (the first cut of this operator compared a plain-unit tau against
# w << 48, silently degrading the estimator to the bare sample sum — a
# units bug the differential oracle cannot catch because both engines
# shared it; the unbiasedness property test below the oracle now pins the
# estimate to the exact total). Selection, the threshold tau (the (k+1)-th
# priority), and the per-item estimate max(w_i, tau) are all exact int64;
# the decimal-summed total casts to double once. The exact corpus weight
# rides along as the audit.
# --------------------------------------------------------------------------

_PRI_K = 32


@register(
    "curation_priority_sample",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, n_chars AS w,
             CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)
                       AS UBIGINT) AS BIGINT) + 1 AS h
      FROM documents WHERE n_chars > 0),
    p AS (SELECT doc_id, w, (w << 48) // h AS q FROM d),
    top AS (SELECT * FROM p ORDER BY q DESC, doc_id LIMIT {_PRI_K + 1}),
    tau AS (
      SELECT CASE WHEN COUNT(*) = {_PRI_K + 1} THEN MIN(q) ELSE 0 END AS tau_q
      FROM top),
    samp AS (SELECT * FROM top ORDER BY q DESC, doc_id LIMIT {_PRI_K}),
    est AS (
      SELECT SUM(CAST(GREATEST(s.w, t.tau_q) AS HUGEINT)) AS sc
      FROM samp s CROSS JOIN tau t),
    ex AS (SELECT SUM(w) AS total_w FROM d)
    SELECT s.doc_id, CAST(s.w AS BIGINT) AS w, CAST(s.q AS BIGINT) AS priority,
           CAST(e.sc AS DOUBLE) AS est_total_weight,
           CAST(x.total_w AS BIGINT) AS exact_total_weight,
           (CAST(e.sc AS DOUBLE)
            - CAST(x.total_w AS DOUBLE)) / CAST(x.total_w AS DOUBLE)
             AS rel_error
    FROM samp s CROSS JOIN est e CROSS JOIN ex x
    ORDER BY s.q DESC, s.doc_id
    """,
    tags=("C16",),
)
def curation_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C16: k-document weighted priority sample + Horvitz-Thompson total
    (module comment). One row per sampled doc — weight, integer priority —
    with the estimated vs exact corpus weight repeated.

    Spark shape at 100 TB: priorities are a map-only projection; selection
    is TakeOrderedAndProject(k+1) — per-partition heaps, never a global
    sort. Everything after the (k+1)-row checkpoint is broadcast algebra.
    The exact-total audit is one SUM the estimator exists to replace (at
    scale: keep the sample, drop the audit). The estimator is exact int64
    in plain weight units (priorities can reach w * 2^48 when the hash is
    tiny, so the k-term sum rides DECIMAL against overflow); both engines
    emit the identical double from the single final cast."""
    return priority_sample_table(table(spark, sf_dir, "documents"))


def priority_sample_table(docs: DataFrame) -> DataFrame:
    """C16's DAG over any (doc_id, n_chars) frame — factored so the
    property test can push corpora SMALLER than k+1 through the exact
    production plan (tau = 0 there, making the estimate exactly the
    corpus total; that branch never fires on the test corpus)."""
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 12), 16, 10
    ).cast("long") + F.lit(1)
    d = (
        docs.filter(F.col("n_chars") > 0)
        .select("doc_id", F.col("n_chars").alias("w"), h.alias("h"))
    )
    p = d.select(
        "doc_id", "w", F.expr("shiftleft(cast(w as bigint), 48) div h").alias("q")
    )
    top = (
        p.orderBy(F.desc("q"), F.asc("doc_id"))
        .limit(_PRI_K + 1)
        # k+1 rows, read three times (tau, sample, estimator): materialize
        # so the corpus top-k heap scan runs once.
        .localCheckpoint(eager=False)
    )
    tau = top.agg(
        F.when(F.count(F.lit(1)) == _PRI_K + 1, F.min("q"))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("tau_q")
    )
    samp = top.orderBy(F.desc("q"), F.asc("doc_id")).limit(_PRI_K)
    est = (
        samp.crossJoin(F.broadcast(tau))
        .select(
            F.greatest(F.col("w").cast("long"), F.col("tau_q"))
            .cast("decimal(38,0)")
            .alias("t_w")
        )
        .agg(F.sum("t_w").alias("sc"))
    )
    ex = d.agg(F.sum("w").alias("total_w"))
    est_total = F.col("sc").cast("double")
    return (
        samp.crossJoin(F.broadcast(est))
        .crossJoin(F.broadcast(ex))
        .select(
            "doc_id",
            F.col("w").cast("long").alias("w"),
            F.col("q").cast("long").alias("priority"),
            est_total.alias("est_total_weight"),
            F.col("total_w").cast("long").alias("exact_total_weight"),
            (
                (est_total - F.col("total_w").cast("double"))
                / F.col("total_w").cast("double")
            ).alias("rel_error"),
        )
        .orderBy(F.desc("priority"), F.asc("doc_id"))
    )


# --------------------------------------------------------------------------
# C17 — DSIR-style importance selection (Xie et al., "Data Selection for
# Language Models via Importance Resampling", NeurIPS 2023): pick from a
# SOURCE pool the documents whose hashed-n-gram feature distribution looks
# most like a TARGET corpus. Both distributions are bag-of-hashed-unigram
# models over B buckets; a document's importance is the log-likelihood
# ratio sum_tokens [log p_target(bucket) - log p_source(bucket)].
#
# Bit-exactness: log() is not reproducible across engines, so the LLR is
# quantized to the integer floor-log2 of the Laplace-smoothed bucket
# counts — wt(b) = flog2(t_b + 1) - flog2(s_b + 1) with flog2(n) =
# length(bin(n)) - 1 (exact in both engines; the same idiom as TX13's
# bigram surprisal). The normalizing constants log|T| / log|S| are per-
# model scalars: they shift every document's score by n_tokens * const,
# which the ranking-by-LLR contract absorbs into the (llr, n_tokens)
# output pair. Production swaps the quantized weights for float logs —
# the plan is unchanged.
#
# Spark shape at 100 TB: two corpus passes, exactly like the paper's
# fit-then-score deployment — pass 1 builds the B-row model with ONE
# conditional hash aggregation (target and source counted in the same
# shuffle); pass 2 reduces tokens to (doc, bucket) counts, joins the
# BROADCAST model, and folds to one row per doc; selection is
# TakeOrderedAndProject(k), never a global sort.
# --------------------------------------------------------------------------

_DSIR_SALT = "dsir1:"
_DSIR_BUCKETS = 256
_DSIR_K = 64
_DSIR_TARGET_LANG = "en"


@register(
    "curation_dsir_select",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
      FROM documents),
    bt AS (
      SELECT doc_id, lang,
             CAST(CAST('0x' || substr(md5('{_DSIR_SALT}' || w), 1, 4)
                       AS UBIGINT) AS BIGINT) % {_DSIR_BUCKETS} AS b
      FROM tk),
    model AS (
      SELECT b,
             (length(bin(SUM(CASE WHEN lang = '{_DSIR_TARGET_LANG}'
                                  THEN 1 ELSE 0 END) + 1)) - 1)
           - (length(bin(SUM(CASE WHEN lang <> '{_DSIR_TARGET_LANG}'
                                  THEN 1 ELSE 0 END) + 1)) - 1) AS wt
      FROM bt GROUP BY b),
    dc AS (
      SELECT doc_id, b, COUNT(*) AS c
      FROM bt WHERE lang <> '{_DSIR_TARGET_LANG}' GROUP BY 1, 2),
    score AS (
      SELECT dc.doc_id,
             CAST(SUM(dc.c) AS BIGINT) AS n_tokens,
             CAST(SUM(dc.c * m.wt) AS BIGINT) AS llr
      FROM dc JOIN model m USING (b) GROUP BY 1)
    SELECT doc_id, n_tokens, llr
    FROM score
    ORDER BY llr DESC, doc_id
    LIMIT {_DSIR_K}
    """,
    tags=("C17",),
)
def curation_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C17: DSIR-style importance selection (block comment above) — the
    top-{k} non-target documents by integer-quantized hashed-unigram
    log-likelihood ratio against the '{target}' target corpus."""
    docs = spread(table(spark, sf_dir, "documents")).select("doc_id", "lang", "text")
    return (
        dsir_scores(docs)
        .orderBy(F.desc("llr"), F.asc("doc_id"))
        .limit(_DSIR_K)
    )


def dsir_scores(docs: DataFrame) -> DataFrame:
    """C17's scoring DAG over any (doc_id, lang, text) frame, pre-top-k —
    THE definition of the quantized-LLR rule, factored so the
    monotonicity property test (tests/test_properties.py) can push
    synthetic target/source corpora through the exact production plan."""
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(_DSIR_SALT), F.col("w"))), 1, 4), 16, 10
        ).cast("long")
        % _DSIR_BUCKETS
    )
    bt = docs.select(
        "doc_id", "lang", F.explode(tokens()).alias("w")
    ).select("doc_id", "lang", bucket.alias("b"))
    is_tgt = F.col("lang") == _DSIR_TARGET_LANG
    flog2 = lambda c: (F.length(F.bin(c)) - 1).cast("long")  # noqa: E731
    model = (
        bt.groupBy("b")
        .agg(
            F.sum(F.when(is_tgt, 1).otherwise(0)).alias("t_cnt"),
            F.sum(F.when(is_tgt, 0).otherwise(1)).alias("s_cnt"),
        )
        .select(
            "b",
            (flog2(F.col("t_cnt") + 1) - flog2(F.col("s_cnt") + 1)).alias("wt"),
        )
    )
    dc = (
        bt.filter(~is_tgt)
        .groupBy("doc_id", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    score = (
        dc.join(F.broadcast(model), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.sum(F.col("c") * F.col("wt")).cast("long").alias("llr"),
        )
    )
    return score.select("doc_id", "n_tokens", "llr")


curation_dsir_select.__doc__ = (curation_dsir_select.__doc__ or "").format(
    k=_DSIR_K, target=_DSIR_TARGET_LANG
)


# --------------------------------------------------------------------------
# C18 — alpha-temperature mixture planner (the exponentiated-sampling rule
# of multilingual pretraining — mBERT / XLM-R, Conneau et al. 2020): the
# sampling weight of stratum l is q_l ∝ p_l^alpha, flattening the natural
# distribution so low-resource strata are seen more often. alpha = 0.5
# here, deliberately: p^0.5 is sqrt, the ONE power IEEE 754 requires to be
# correctly rounded — so unlike a pow()-based alpha, every engine computes
# the identical double and the plan stays differentially testable. The
# normalizer Z = sum sqrt(n_l) is a fold over the LANG-ORDERED list on
# both engines (5 strata — identical addition order, identical rounding).
#
# Spark shape at 100 TB: one hash aggregation collapses the corpus to one
# row per stratum; everything after is algebra on a handful of rows. The
# planner's q feeds C12's replication weights — this op derives FROM the
# data what C12 consumes as constants.
# --------------------------------------------------------------------------


@register(
    "curation_temperature_mixture",
    oracle="""
    WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1),
    z AS (SELECT list_sum(list(sqrt(CAST(n AS DOUBLE)) ORDER BY lang)) AS z,
                 SUM(n) AS tot FROM c)
    SELECT c.lang,
           CAST(c.n AS BIGINT) AS n_docs,
           CAST(c.n AS DOUBLE) / CAST(z.tot AS DOUBLE) AS p_natural,
           sqrt(CAST(c.n AS DOUBLE)) / z.z AS q_temperature,
           (sqrt(CAST(c.n AS DOUBLE)) / z.z)
             / (CAST(c.n AS DOUBLE) / CAST(z.tot AS DOUBLE)) AS boost
    FROM c CROSS JOIN z
    ORDER BY lang
    """,
    tags=("C18",),
)
def curation_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C18: per-language alpha=0.5 temperature mixture plan (block comment
    above) — natural share p, temperature-flattened sampling weight q,
    and the boost factor q/p a sampler applies per stratum."""
    cnt = (
        table(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    z = cnt.agg(
        F.aggregate(
            F.transform(
                F.sort_array(F.collect_list(F.struct("lang", "n"))),
                lambda s: F.sqrt(s["n"].cast("double")),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("z"),
        F.sum("n").alias("tot"),
    )
    p = F.col("n").cast("double") / F.col("tot").cast("double")
    q = F.sqrt(F.col("n").cast("double")) / F.col("z")
    return (
        cnt.crossJoin(F.broadcast(z))
        .select(
            "lang",
            F.col("n").cast("long").alias("n_docs"),
            p.alias("p_natural"),
            q.alias("q_temperature"),
            (q / p).alias("boost"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# C19 — hashed-feature linear quality model (fasttext-style inference).
#
# The production shape of learned quality filtering (CCNet/fasttext, DCLM):
# a trained LINEAR model over hashed bag-of-ngram features, applied to every
# document. Inference at 100 TB is exactly this plan: the model is a
# dim-sized weight table BROADCAST to executors; feature extraction is
# map-only per-row hashing (no vocabulary lookup, no shuffle); the only
# exchange is the per-document score aggregation. Weights here are derived
# deterministically from md5 so Spark and DuckDB materialize the identical
# model (a real pipeline loads them from a training artifact instead — the
# plan is unchanged); they are integer MILLI-weights so the per-document
# sum is exact integer arithmetic (order-independent under any partitioning)
# and the one terminal division is the only float op, bit-identical on both
# engines.
# --------------------------------------------------------------------------

_LQ_BUCKETS = 256
_LQ_W_RANGE = 2001  # w_milli in [-1000, 1000]


def _lq_bucket(col: F.Column) -> F.Column:
    """Feature -> weight-bucket id: first 8 md5 hex chars mod n_buckets
    (the repo's cross-engine hex-to-int convention, see sketch.py)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long") % _LQ_BUCKETS


def lq_weight_table(spark: SparkSession) -> DataFrame:
    """The 'trained model': one milli-weight per hash bucket, derived from
    md5 of the bucket id so both engines materialize the identical table.
    Dim-sized (256 rows) — always broadcast by the consumer."""
    seed = F.concat(F.lit("w:"), F.col("id").cast("string"))
    return spark.range(_LQ_BUCKETS).select(
        F.col("id").alias("bucket"),
        (
            F.conv(F.substring(F.md5(seed), 1, 8), 16, 10).cast("long")
            % _LQ_W_RANGE
            - 1000
        ).alias("w_milli"),
    )


@register(
    "curation_hashed_linear_score",
    oracle=f"""
    WITH uni AS (
      SELECT DISTINCT doc_id, w AS feat FROM ({SQL_TOKS}) WHERE w <> ''),
    big AS (SELECT doc_id, bg AS feat FROM ({SQL_BIGRAMS})),
    feats AS (SELECT * FROM uni UNION ALL SELECT * FROM big),
    wt AS (
      SELECT bucket,
             CAST(CAST('0x' || substr(md5('w:' || CAST(bucket AS VARCHAR)),
                                      1, 8) AS UBIGINT) AS BIGINT)
               % {_LQ_W_RANGE} - 1000 AS w_milli
      FROM (SELECT unnest(range(0, {_LQ_BUCKETS})) AS bucket)),
    fb AS (
      SELECT doc_id,
             CAST(CAST('0x' || substr(md5(feat), 1, 8) AS UBIGINT) AS BIGINT)
               % {_LQ_BUCKETS} AS bucket
      FROM feats),
    sc AS (
      SELECT f.doc_id, COUNT(*) AS n_feats,
             CAST(SUM(w.w_milli) AS BIGINT) AS s_milli
      FROM fb f JOIN wt w USING (bucket) GROUP BY 1)
    SELECT doc_id, CAST(n_feats AS BIGINT) AS n_feats,
           CAST(s_milli AS DOUBLE) / (1000.0 * n_feats) AS score,
           CASE WHEN s_milli >= 0 THEN 'keep' ELSE 'drop' END AS label
    FROM sc ORDER BY doc_id
    """,
    tags=("C19",),
)
def curation_hashed_linear_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C19: per-document score under a hashed-bag-of-ngrams linear model
    (block comment above) — features are the distinct unigrams plus the
    distinct word bigrams, each hashed to one of 256 weight buckets; the
    document's score is the mean bucket weight and the keep/drop label is
    its sign. Plan: map-only feature hashing, a BROADCAST join against the
    dim-sized weight table, one doc-keyed aggregation — the exact
    inference DAG a learned fasttext-style filter runs at corpus scale.
    """
    docs = spread(table(spark, sf_dir, "documents"))
    # ONE tokenize + ONE explode (r12, guide §2.3): unigrams never contain
    # a space, bigrams always do, so the two per-doc distinct feature sets
    # are disjoint and concat-ing the arrays before a single explode emits
    # exactly the rows the old uni/bigram unionAll produced — with one
    # corpus scan and one split() evaluation instead of two of each.
    # (Empty tokens are dropped from the unigram side pre-concat, matching
    # the old post-explode feat <> '' filter; the bigram side is the
    # unfiltered bigram_multiset, exactly word_bigram_arrays' convention.)
    toked = docs.select("doc_id", tokens().alias("toks"))
    feats = toked.select(
        "doc_id",
        F.explode(
            F.concat(
                F.filter(
                    F.array_distinct(F.col("toks")),
                    lambda t: t != F.lit(""),
                ),
                F.array_distinct(bigram_multiset(F.col("toks"))),
            )
        ).alias("feat"),
    )
    fb = feats.select("doc_id", _lq_bucket(F.col("feat")).alias("bucket"))
    scored = (
        fb.join(F.broadcast(lq_weight_table(spark)), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            F.sum("w_milli").alias("s_milli"),
        )
    )
    return scored.select(
        "doc_id",
        F.col("n_feats").cast("long").alias("n_feats"),
        (
            F.col("s_milli").cast("double")
            / (F.lit(1000.0) * F.col("n_feats").cast("double"))
        ).alias("score"),
        F.when(F.col("s_milli") >= 0, F.lit("keep"))
        .otherwise(F.lit("drop"))
        .alias("label"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# C20 — benchmark decontamination by EMBEDDING similarity.
#
# C8 (decontaminate_ngram_overlap) catches verbatim/near-verbatim test-set
# leakage; paraphrased leakage needs the semantic twin: every corpus vector
# scored against the full benchmark set by exact cosine, flagged when any
# benchmark item is too close. The benchmark split here is deterministic
# (vec_id % 23 == 0 plays the held-out set, ~4% of vectors) so both engines
# derive it identically; a real pipeline substitutes the actual benchmark
# embeddings — the plan is unchanged and is exactly the 100 TB shape:
# benchmark sets are dim-sized, so the bench side BROADCASTS (with norms
# precomputed), the corpus never shuffles for the scoring (the cross join
# is map-side), and the only exchange is the per-vector max/count
# aggregation, which AQE map-side-combines. Cosines use the repo's
# sequential-fold dot (emb_dot / sql_emb_dot) and the same
# dot/(sqrt*sqrt) dag as D5, so every score is bit-identical across
# engines; MAX and the >= tau comparisons are exact selections over those
# deterministic doubles.
# --------------------------------------------------------------------------

_DECON_MOD = 23
_DECON_COS_TAU = 0.45  # same non-trivial threshold family as D5 on this data


@register(
    "curation_semantic_decontaminate",
    oracle=f"""
    WITH bench AS (
      SELECT vec_id AS bench_id, embedding,
             {sql_emb_dot("embedding", "embedding")} AS n2
      FROM embeddings WHERE vec_id % {_DECON_MOD} = 0),
    corpus AS (
      SELECT vec_id, embedding,
             {sql_emb_dot("embedding", "embedding")} AS n2
      FROM embeddings WHERE vec_id % {_DECON_MOD} <> 0),
    scored AS (
      SELECT c.vec_id,
             {sql_emb_dot("c.embedding", "b.embedding")}
               / NULLIF(sqrt(c.n2) * sqrt(b.n2), 0.0) AS cosine
      FROM corpus c CROSS JOIN bench b),
    agg AS (
      SELECT vec_id, MAX(cosine) AS max_cosine,
             CAST(SUM(CASE WHEN cosine >= {_DECON_COS_TAU} THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_bench_hits
      FROM scored GROUP BY 1)
    SELECT vec_id, n_bench_hits, max_cosine,
           CASE WHEN max_cosine >= {_DECON_COS_TAU}
                THEN 'contaminated' ELSE 'clean' END AS status
    FROM agg ORDER BY vec_id
    """,
    tags=("C20",),
)
def curation_semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C20: per-corpus-vector max cosine against the benchmark set, hit
    count at tau = 0.45, and the contaminated/clean flag (block comment
    above). The %23 split of the embeddings table stands in for a real
    benchmark table ONLY so the oracle can derive the same split; the
    scoring itself is the external-bench API `semantic_decontaminate`
    below."""
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    bench = emb.filter(F.col("vec_id") % _DECON_MOD == 0).select(
        F.col("vec_id").alias("bench_id"), "embedding"
    )
    corpus = emb.filter(F.col("vec_id") % _DECON_MOD != 0)
    return semantic_decontaminate(corpus, bench, tau=_DECON_COS_TAU)


def semantic_decontaminate(
    corpus: DataFrame, bench: DataFrame, tau: float = _DECON_COS_TAU
) -> DataFrame:
    """Score every `corpus` vector (vec_id, embedding) against an external
    benchmark table `bench` (bench_id, embedding) by exact cosine; emit
    per-vector (n_bench_hits, max_cosine, contaminated/clean at `tau`),
    ordered by vec_id.

    API CONTRACT (was a block-comment assumption, r8 VERDICT ask #6): the
    benchmark table must be DIM-SIZED — it is BROADCAST with precomputed
    norms so the corpus never shuffles for the scoring and the only
    exchange is the per-vector aggregation. Benchmark suites are ~1e3-1e5
    items, corpus is the 100 TB side, so this is the right asymmetry; a
    benchmark too large to broadcast should be routed through the IVF
    cells instead (see SIM15's pattern in similarity.py)."""
    from .dedup import emb_norm2

    bench_n = F.broadcast(
        bench.select(
            F.col("bench_id"),
            F.col("embedding").alias("be"),
            emb_norm2(F.col("embedding")).alias("bn2"),
        )
    )
    corpus_n = corpus.select(
        "vec_id", "embedding", emb_norm2(F.col("embedding")).alias("n2")
    )
    cosine = emb_dot(F.col("embedding"), F.col("be")) / F.nullif((
        F.sqrt("n2") * F.sqrt("bn2")
    ), F.lit(0.0))
    scored = corpus_n.crossJoin(bench_n).select(
        "vec_id", cosine.alias("cosine")
    )
    return (
        scored.groupBy("vec_id")
        .agg(
            F.max("cosine").alias("max_cosine"),
            F.sum(
                F.when(F.col("cosine") >= tau, 1).otherwise(0)
            ).cast("long").alias("n_bench_hits"),
        )
        .select(
            "vec_id",
            "n_bench_hits",
            "max_cosine",
            F.when(F.col("max_cosine") >= tau, F.lit("contaminated"))
            .otherwise(F.lit("clean"))
            .alias("status"),
        )
        .orderBy("vec_id")
    )


# --------------------------------------------------------------------------
# C21 — ISOTONIC CALIBRATION of the quality score (pool-adjacent-violators
# via the minimax identity): bin documents by their exact-integer TX8
# quality score, measure each bin's positive rate against a deterministic
# binary label, and fit the best MONOTONE (non-decreasing) rate curve —
# the calibration step between "classifier emits a score" and "pipeline
# thresholds on a probability" (Zadrozny & Elkan 2002; the L2 isotonic
# fit). No sequential PAVA loop runs anywhere: the fit uses the closed
# minimax form  iso_k = max_{i<=k} min_{j>=k} (P_j - P_{i-1})/(W_j -
# W_{i-1})  over prefix sums (Robertson/Wright/Dykstra, Ch. 1), which is
# three dim-sized joins.
#
# Scale shape: scoring + binning are MAP-ONLY (the bin is an exact
# integer floordiv of the int64 score — a global-ntile quantile binning
# would single-partition-sort the corpus, the classic 100 TB killer);
# ONE fact-sized keyed aggregation reduces to bin grain (~tens of rows at
# any corpus size, since the score is a bounded random walk); every
# window and join after that is bin-grain. The minimax enumeration is
# O(B^2) (i, j) pairs, and the mins stage joins those pairs against cum k
# on a range predicate (a BroadcastNestedLoopJoin), so the INTERMEDIATE is
# O(B^3) rows for B bins — still thousands, not millions, at tens of bins,
# but a bin-width reduction pays cubically, not quadratically. Every
# numerator and denominator is an exact BIGINT; the single division per
# (i, j) pair is one IEEE op over identical integers on both engines, and
# MIN/MAX over those doubles are bit-stable.
# --------------------------------------------------------------------------

_ISO_BIN_WIDTH = 50_000  # score units per bin (score sigma ~154k at 66 tokens)


@register(
    "curation_isotonic_calibration",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id,
             {SQL_QC_RAW} AS score,
             CAST(CAST('0x' || substr(md5(text), 1, 2) AS UBIGINT) % 2
                  AS BIGINT) AS label
      FROM documents),
    bins AS (
      SELECT {sql_floordiv("score", _ISO_BIN_WIDTH)} AS bin,
             CAST(COUNT(*) AS BIGINT) AS w,
             CAST(SUM(label) AS BIGINT) AS pos
      FROM scored GROUP BY 1),
    cum AS (
      SELECT bin, w, pos,
             CAST(SUM(w) OVER (ORDER BY bin NULLS LAST
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cw,
             CAST(SUM(pos) OVER (ORDER BY bin NULLS LAST
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cp
      FROM bins),
    r AS (
      SELECT i.bin AS i, j.bin AS j,
             CAST(j.cp - (i.cp - i.pos) AS DOUBLE)
               / CAST(j.cw - (i.cw - i.w) AS DOUBLE) AS ratio
      FROM cum i JOIN cum j ON i.bin <= j.bin),
    mins AS (
      SELECT r.i, k.bin AS k, MIN(ratio) AS m
      FROM r JOIN cum k ON r.i <= k.bin AND k.bin <= r.j
      GROUP BY 1, 2),
    iso AS (SELECT k AS bin, MAX(m) AS iso_rate FROM mins GROUP BY 1)
    SELECT b.bin, b.w AS n_docs, b.pos AS n_pos,
           CAST(b.pos AS DOUBLE) / CAST(b.w AS DOUBLE) AS pos_rate,
           iso.iso_rate
    FROM bins b JOIN iso USING (bin)
    ORDER BY bin
    """,
    tags=("C21",),
)
def curation_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C21: monotone calibration curve for the TX8 quality score (block
    comment above) — per score bin the doc count, raw positive rate, and
    the isotonic (non-decreasing) fitted rate."""
    from ..functions.exact import floordiv
    from .text import quality_raw_score

    docs = spread(table(spark, sf_dir, "documents"))
    label = (
        F.conv(F.substring(F.md5(F.col("text")), 1, 2), 16, 10).cast("long")
        % 2
    )
    scored = docs.select(
        quality_raw_score().alias("score"), label.alias("label")
    )
    bins = scored.groupBy(
        floordiv(F.col("score"), _ISO_BIN_WIDTH).alias("bin")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("w"),
        F.sum("label").cast("long").alias("pos"),
    )
    # The prefix window is GLOBAL but over the bin-grain aggregate (tens
    # of rows at any corpus size) — the plan audit verifies the
    # HashAggregate sits below it, which is why the checkpoint pin goes
    # AFTER the window: cum is consumed four times (i/j/k sides + the
    # output), and pinning bins instead would truncate the lineage the
    # audit reads.
    # NULLS LAST pinned on BOTH sides: Spark defaults ASC to NULLS FIRST,
    # DuckDB to NULLS LAST, so a NULL bin (NULL score) would silently skew
    # every prefix sum — the j6 divergence class. The fixture contract
    # excludes NULL text today; the pin makes that not matter.
    wcum = Window.orderBy(F.col("bin").asc_nulls_last()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = bins.select(
        "bin",
        "w",
        "pos",
        F.sum("w").over(wcum).cast("long").alias("cw"),
        F.sum("pos").over(wcum).cast("long").alias("cp"),
    ).localCheckpoint(eager=False)
    ci = cum.select(
        F.col("bin").alias("i"),
        (F.col("cp") - F.col("pos")).alias("p_lo"),
        (F.col("cw") - F.col("w")).alias("w_lo"),
    )
    cj = cum.select(
        F.col("bin").alias("j"),
        F.col("cp").alias("p_hi"),
        F.col("cw").alias("w_hi"),
    )
    r = ci.join(cj, F.col("i") <= F.col("j")).select(
        "i",
        "j",
        (
            (F.col("p_hi") - F.col("p_lo")).cast("double")
            / (F.col("w_hi") - F.col("w_lo")).cast("double")
        ).alias("ratio"),
    )
    ck = cum.select(F.col("bin").alias("k"))
    mins = (
        r.join(ck, (F.col("i") <= F.col("k")) & (F.col("k") <= F.col("j")))
        .groupBy("i", "k")
        .agg(F.min("ratio").alias("m"))
    )
    iso = mins.groupBy("k").agg(F.max("m").alias("iso_rate"))
    return (
        cum.join(iso, cum.bin == iso.k)
        .select(
            "bin",
            F.col("w").alias("n_docs"),
            F.col("pos").alias("n_pos"),
            (F.col("pos").cast("double") / F.col("w").cast("double")).alias(
                "pos_rate"
            ),
            "iso_rate",
        )
        .orderBy("bin")
    )
