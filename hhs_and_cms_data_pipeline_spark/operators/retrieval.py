"""Retrieval operators over `documents`: the index-build and query-scoring
half of an LLM data platform (the reference's analytical surface has no
search analogue; these extend the text north-star family the same way the
similarity module extends embeddings).

Three ops:

- RET1 ``text_inverted_index``: the positional-postings BUILD — per term:
  document frequency, collection frequency, and the head of the sorted
  postings list (doc/pos packed into one BIGINT). At 100 TB this is the
  classic index-construction job (one explode + one keyed aggregation,
  both map-side-partial); sharding the postings is the groupBy's hash
  partitioning itself.
- RET2 ``text_phrase_search``: exact phrase query answered the way a
  positional index answers it — filter each token relation to one phrase
  word FIRST (the selective step, pushed to the scan), then equi-join on
  (doc_id, adjacent position). No substring scan of the corpus ever runs.
- RET3 ``text_bm25_topk``: BM25 ranking with the RATIONAL-IDF variant
  (idf' = (N - df + 1/2)/(df + 1/2), i.e. Robertson idf without the outer
  ln): the ln is the one transcendental whose last-ulp behavior differs
  across engines, and dropping it keeps every per-term score an exact
  integer ratio — bit-identical between Spark and the DuckDB oracle. With
  k1 = 6/5 and b = 3/4 the per-term score reduces to

      score(t, d) = (2N - 2df + 1)/(2df + 1)
                  * (22 * tf * T) / (10 * tf * T + 3 * T + 9 * dl * N)

  with N = #docs, T = total tokens, dl = doc length — every factor a
  BIGINT (overflow headroom to ~2^63: at sf100, max term ~1.5e10), each
  ratio one correctly-rounded IEEE division, the product one deterministic
  multiply, and the cross-term sum decimal-routed (functions/exact.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exact import dsum, sql_dsum
from ..registry import register
from ..sources import spread, table
from .dedup import _SQL_JACCARD_CORE, SQL_EMB_NORMS, sql_emb_dot
from .text import SQL_TOKS, tokens

# 1-based positional token relation — COMPOSED from text.py's SQL_TOKS (one
# copy of the tokenizer convention, same rule as bigram_multiset); empty
# tokens excluded AFTER position assignment so positions are stable.
SQL_POS_TOKS = f"SELECT doc_id, w, pos FROM ({SQL_TOKS}) WHERE w <> ''"


def pos_tokens(docs: DataFrame) -> DataFrame:
    """(doc_id, w, pos) with 1-based positions — the Spark twin of
    SQL_POS_TOKS. posexplode is 0-based, hence the +1."""
    return (
        docs.select("doc_id", F.posexplode(tokens()).alias("pos0", "w"))
        .filter(F.col("w") != "")
        .select(
            "doc_id", "w", (F.col("pos0") + 1).cast("long").alias("pos")
        )
    )


# --------------------------------------------------------------------------
# RET1 — positional inverted index build.
# --------------------------------------------------------------------------

# doc/pos packing: positions are bounded by the document's token count
# (~tens here; a 1e6-token document is the practical ceiling the pack
# chooses), so posting = doc_id * 1e6 + pos is collision-free and keeps
# the postings list a flat BIGINT array — sortable, sliceable, exact.
_POSTING_PACK = 1_000_000
_INDEX_TOP = 20
_POSTINGS_HEAD = 5


def packed_posting():
    """``doc_id * PACK + pos`` — GUARDED. A position at/over the pack base
    would spill into the doc_id field and silently alias another
    document's posting; and because the DuckDB oracle computes the
    identical packed value, the differential gate can never catch that
    class of corruption. So overflow fails loudly at execution time
    instead of aliasing: any document of >= 1e6 tokens aborts the index
    build with an explicit message."""
    return F.when(
        F.col("pos") < _POSTING_PACK,
        F.col("doc_id") * _POSTING_PACK + F.col("pos"),
    ).otherwise(
        F.raise_error(
            F.format_string(
                "posting position %s exceeds the 1e6 pack base "
                "(document too long for doc/pos packing)",
                F.col("pos"),
            )
        )
    )


@register(
    "text_inverted_index",
    oracle=f"""
    WITH toks AS ({SQL_POS_TOKS}),
    post AS (
      SELECT w,
             COUNT(DISTINCT doc_id) AS df,
             COUNT(*) AS cf,
             array_to_string(
               (list_sort(list(doc_id * {_POSTING_PACK} + pos)))[1:{_POSTINGS_HEAD}],
               ',') AS postings_head
      FROM toks GROUP BY 1)
    SELECT w AS term, df, cf, postings_head
    FROM post
    ORDER BY cf DESC, term
    LIMIT {_INDEX_TOP}
    """,
    tags=("RET1",),
)
def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RET1: positional-postings index build (module docstring) — per term
    the document frequency, collection frequency, and first
    {head} packed (doc_id*{pack}+pos) postings; top-{top} terms by
    collection frequency. The postings head is serialized to a
    comma-joined STRING on both engines: the driver's pandas
    canonicalizer cannot hash ARRAY cells (CORRECTNESS_r11), so
    registered queries never emit complex-typed output columns
    (enforced by tests/test_registry_contract.py).

    Scale shape: one map-only posexplode, a per-term rank window that
    marks the first {head} postings, then ONE term-keyed aggregation —
    count/df are map-side partial, and collect_list accumulates ONLY
    rank-<= {head} postings (it skips the NULLs the rank filter leaves),
    so aggregation state is O({head}) per term even for a stop word with
    billions of postings. TakeOrderedAndProject top-{top}. The term hash
    partitioning IS the index sharding a 1000-executor build would
    write."""
    toks = pos_tokens(spread(table(spark, sf_dir, "documents")))
    posting = packed_posting().alias("p")
    w_rank = Window.partitionBy("w").orderBy("p")
    ranked = toks.select("w", "doc_id", posting).withColumn(
        "rn", F.row_number().over(w_rank)
    )
    return (
        ranked.groupBy("w")
        .agg(
            F.countDistinct("doc_id").alias("df"),
            F.count(F.lit(1)).alias("cf"),
            F.array_join(
                F.sort_array(
                    F.collect_list(
                        F.when(F.col("rn") <= _POSTINGS_HEAD, F.col("p"))
                    )
                ).cast("array<string>"),
                ",",
            ).alias("postings_head"),
        )
        .select(F.col("w").alias("term"), "df", "cf", "postings_head")
        .orderBy(F.desc("cf"), F.asc("term"))
        .limit(_INDEX_TOP)
    )


text_inverted_index.__doc__ = (text_inverted_index.__doc__ or "").format(
    head=_POSTINGS_HEAD, pack=_POSTING_PACK, top=_INDEX_TOP
)


# --------------------------------------------------------------------------
# RET2 — exact phrase search via positional joins.
# --------------------------------------------------------------------------

_PHRASE = ("slow", "hash", "batch")
_PHRASE_TOP = 20


@register(
    "text_phrase_search",
    oracle=f"""
    WITH toks AS ({SQL_POS_TOKS}),
    m AS (
      SELECT t1.doc_id, t1.pos
      FROM toks t1
      JOIN toks t2 ON t2.doc_id = t1.doc_id AND t2.pos = t1.pos + 1
      JOIN toks t3 ON t3.doc_id = t1.doc_id AND t3.pos = t1.pos + 2
      WHERE t1.w = '{_PHRASE[0]}' AND t2.w = '{_PHRASE[1]}'
        AND t3.w = '{_PHRASE[2]}')
    SELECT doc_id,
           COUNT(*) AS n_occurrences,
           CAST(MIN(pos) AS BIGINT) AS first_pos
    FROM m
    GROUP BY 1
    ORDER BY n_occurrences DESC, doc_id
    LIMIT {_PHRASE_TOP}
    """,
    tags=("RET2",),
)
def text_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RET2: exact occurrences of the phrase {phrase!r} — per matching doc
    the occurrence count and first match position (module docstring).

    Scale shape: each join input is the token stream FILTERED to one
    phrase word before any exchange (the per-word predicate reaches the
    scan), so the three-way positional equi-join moves only the matching
    terms' postings — the positional-index query plan, never a substring
    scan. Joins key on (doc_id, pos±k): co-partitioned by doc, skew
    bounded by the hottest single term."""
    toks = pos_tokens(spread(table(spark, sf_dir, "documents")))
    t1 = toks.filter(F.col("w") == _PHRASE[0]).select("doc_id", "pos")
    t2 = toks.filter(F.col("w") == _PHRASE[1]).select(
        F.col("doc_id").alias("d2"), F.col("pos").alias("p2")
    )
    t3 = toks.filter(F.col("w") == _PHRASE[2]).select(
        F.col("doc_id").alias("d3"), F.col("pos").alias("p3")
    )
    m = t1.join(
        t2, (F.col("d2") == F.col("doc_id")) & (F.col("p2") == F.col("pos") + 1)
    ).join(
        t3, (F.col("d3") == F.col("doc_id")) & (F.col("p3") == F.col("pos") + 2)
    )
    return (
        m.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min("pos").cast("long").alias("first_pos"),
        )
        .orderBy(F.desc("n_occurrences"), F.asc("doc_id"))
        .limit(_PHRASE_TOP)
    )


text_phrase_search.__doc__ = (text_phrase_search.__doc__ or "").format(phrase=" ".join(_PHRASE))


# --------------------------------------------------------------------------
# RET3 — BM25 top-k (rational-idf variant; module docstring derivation).
# --------------------------------------------------------------------------

_BM25_QUERY = ("hash", "join", "sort", "spark")
_BM25_TOP = 10


def _sql_bm25_score() -> str:
    """Per-(doc, term) rational-idf BM25 score — DuckDB side. Mirrors the
    Spark expression factor-for-factor: two exact-integer ratios divided
    in DOUBLE, one multiply."""
    return (
        "(CAST(2 * N - 2 * df + 1 AS DOUBLE) / CAST(2 * df + 1 AS DOUBLE))"
        " * (CAST(22 * tf * T AS DOUBLE)"
        "    / CAST(10 * tf * T + 3 * T + 9 * dl * N AS DOUBLE))"
    )


def bm25_term_scores(toks: DataFrame, query: tuple[str, ...]) -> DataFrame:
    """(doc_id, s) per (doc, query-term) under rational-idf BM25 — THE
    definition of the scoring DAG, factored so the registered query and
    the property tests exercise the identical expressions (module
    docstring for the derivation; every factor an exact BIGINT, the two
    ratios correctly-rounded IEEE divisions, the product one multiply).

    The (N, T) corpus scalars derive from the dl relation (N = its row
    count, T = SUM(dl)) so the token stream is scanned once for dl and
    once for tf — never a third time."""
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("long").alias("N"),
        F.sum("dl").cast("long").alias("T"),
    )
    tf = (
        toks.filter(F.col("w").isin(*query))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    dfreq = tf.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("df"))
    idf = (2 * F.col("N") - 2 * F.col("df") + 1).cast("double") / (
        2 * F.col("df") + 1
    ).cast("double")
    tfn = (22 * F.col("tf") * F.col("T")).cast("double") / (
        10 * F.col("tf") * F.col("T")
        + 3 * F.col("T")
        + 9 * F.col("dl") * F.col("N")
    ).cast("double")
    return (
        tf.join(F.broadcast(dfreq), "w")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", (idf * tfn).alias("s"))
    )


@register(
    "text_bm25_topk",
    oracle=f"""
    WITH toks AS ({SQL_POS_TOKS}),
    stats AS (
      SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS N,
             CAST(COUNT(*) AS BIGINT) AS T
      FROM toks),
    dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks GROUP BY 1),
    tf AS (
      SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf
      FROM toks WHERE w IN {_BM25_QUERY!r}
      GROUP BY 1, 2),
    dfreq AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
    scored AS (
      SELECT tf.doc_id, {_sql_bm25_score()} AS s
      FROM tf
      JOIN dfreq USING (w)
      JOIN dl USING (doc_id)
      CROSS JOIN stats)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_hit_terms,
           {sql_dsum("s", scale=18)} AS score
    FROM scored
    GROUP BY 1
    ORDER BY score DESC, doc_id
    LIMIT {_BM25_TOP}
    """,
    tags=("RET3",),
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RET3: top-{top} documents for the query {q!r} under rational-idf
    BM25 (module docstring: k1 = 6/5, b = 3/4, idf without the ln —
    every per-term score an exact integer ratio, bit-identical across
    engines; the cross-term sum is decimal-routed).

    Scale shape: the token stream reduces to per-(doc, query-term)
    counts with the IN-filter pushed to the scan — only query-term
    postings ever shuffle. df and the (N, T) scalars are tiny
    aggregates broadcast back ((N, T) derive from dl, so the corpus is
    touched exactly twice: dl pass + tf pass, both map-side-partial);
    scoring is codegen'd column arithmetic; top-{top} is
    TakeOrderedAndProject."""
    toks = pos_tokens(spread(table(spark, sf_dir, "documents")))
    scored = bm25_term_scores(toks, _BM25_QUERY)
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hit_terms"),
            dsum("s", "score", scale=18),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(_BM25_TOP)
    )


text_bm25_topk.__doc__ = (text_bm25_topk.__doc__ or "").format(
    top=_BM25_TOP, q=" ".join(_BM25_QUERY)
)


# --------------------------------------------------------------------------
# RET4 — incremental index maintenance: merge a postings DELTA into a BASE
# index without touching base postings for unaffected terms. At 100 TB the
# inverted index is never rebuilt — the nightly delta (new crawl shard) is
# aggregated alone and merged term-keyed; terms absent from the delta are
# untouched (their shards are not even read when the index is stored
# term-bucketed). The op reports per-term stats for DELTA-AFFECTED terms
# only, each verified equal to a from-scratch build over base+delta — the
# merge-correctness contract, stated so the oracle can check it.
# --------------------------------------------------------------------------

_DELTA_MOD = 10  # doc_id % 10 == 0 -> delta shard; else base corpus


@register(
    "text_index_incremental",
    oracle=f"""
    WITH toks AS ({SQL_POS_TOKS}),
    base AS (
      SELECT w, COUNT(DISTINCT doc_id) AS df, COUNT(*) AS cf
      FROM toks WHERE doc_id % {_DELTA_MOD} <> 0 GROUP BY 1),
    delta AS (
      SELECT w, COUNT(DISTINCT doc_id) AS df, COUNT(*) AS cf
      FROM toks WHERE doc_id % {_DELTA_MOD} = 0 GROUP BY 1),
    merged AS (
      SELECT d.w,
             COALESCE(b.df, 0) + d.df AS df,
             COALESCE(b.cf, 0) + d.cf AS cf
      FROM delta d LEFT JOIN base b USING (w)),
    full_idx AS (
      SELECT w, COUNT(DISTINCT doc_id) AS df, COUNT(*) AS cf
      FROM toks GROUP BY 1)
    SELECT m.w AS term,
           CAST(m.df AS BIGINT) AS df,
           CAST(m.cf AS BIGINT) AS cf,
           (m.df = f.df AND m.cf = f.cf) AS merge_consistent
    FROM merged m JOIN full_idx f USING (w)
    ORDER BY term
    """,
    tags=("RET4",),
)
def text_index_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RET4: incremental inverted-index merge (block comment) — the delta
    shard (doc_id % {mod} == 0) is aggregated alone and merged into the
    base index term-by-term; every delta-affected term's merged (df, cf)
    is checked against a from-scratch build of the full corpus and the
    agreement flag is part of the output (so the differential gate
    re-proves merge correctness every round, on both engines).

    df merges ADDITIVELY because base and delta partition the documents —
    a doc_id is in exactly one shard, so no doc is double-counted; that
    invariant is the split contract, not an approximation.

    Scale shape: the delta aggregation touches only the delta shard; the
    merge is one term-keyed left join (delta side small); the full
    rebuild here exists only as the self-check and would be absent in
    production."""
    toks = pos_tokens(spread(table(spark, sf_dir, "documents")))
    is_delta = F.col("doc_id") % _DELTA_MOD == 0
    # ONE corpus-sized aggregation (r12, guide §2.3/§2.4): the per-(term,
    # doc) count table subsumes base, delta AND the full rebuild — each
    # idx() is then a vocabulary-keyed rollup of this checkpoint (df =
    # row count per w, cf = SUM of the per-doc counts), so the corpus is
    # tokenized once instead of three times and the three countDistinct
    # double-aggregations collapse into plain counts over unique keys.
    wd = (
        toks.groupBy("w", "doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)
    )

    def idx(rel: DataFrame) -> DataFrame:
        return rel.groupBy("w").agg(
            F.count(F.lit(1)).alias("df"),
            F.sum("n").alias("cf"),
        )

    base = idx(wd.filter(~is_delta)).select(
        "w", F.col("df").alias("b_df"), F.col("cf").alias("b_cf")
    )
    delta = idx(wd.filter(is_delta))
    merged = (
        delta.join(base, "w", "left")
        .select(
            "w",
            (F.coalesce(F.col("b_df"), F.lit(0)) + F.col("df")).alias("m_df"),
            (F.coalesce(F.col("b_cf"), F.lit(0)) + F.col("cf")).alias("m_cf"),
        )
    )
    full_idx = idx(wd).select(
        "w", F.col("df").alias("f_df"), F.col("cf").alias("f_cf")
    )
    return (
        merged.join(full_idx, "w")
        .select(
            F.col("w").alias("term"),
            F.col("m_df").cast("long").alias("df"),
            F.col("m_cf").cast("long").alias("cf"),
            (
                (F.col("m_df") == F.col("f_df"))
                & (F.col("m_cf") == F.col("f_cf"))
            ).alias("merge_consistent"),
        )
        .orderBy("term")
    )


text_index_incremental.__doc__ = (text_index_incremental.__doc__ or "").format(mod=_DELTA_MOD)


# --------------------------------------------------------------------------
# RET5 — proximity (slop) search: two terms within a position window.
#
# The relaxation between exact phrase match (RET2: consecutive positions)
# and bag-of-words retrieval (RET3: positions ignored): a match is any
# co-occurrence of the two query terms within `_PROX_SLOP` token positions,
# in either order — Lucene's `"a b"~k` slop query. Same positional-index
# plan shape as RET2: each join input is the token stream FILTERED to one
# query term before any exchange (predicate reaches the scan), the join
# keys on doc_id with the band predicate on positions, and per-doc
# aggregation ranks by closest pair. Everything is exact integer
# arithmetic — bit-deterministic on both engines.
# --------------------------------------------------------------------------

_PROX_TERMS = ("slow", "batch")
_PROX_SLOP = 5
_PROX_TOP = 20


@register(
    "text_proximity_search",
    oracle=f"""
    WITH toks AS ({SQL_POS_TOKS}),
    a AS (SELECT doc_id, pos FROM toks WHERE w = '{_PROX_TERMS[0]}'),
    b AS (SELECT doc_id, pos FROM toks WHERE w = '{_PROX_TERMS[1]}'),
    m AS (
      SELECT a.doc_id, ABS(b.pos - a.pos) AS gap
      FROM a JOIN b ON b.doc_id = a.doc_id
                   AND ABS(b.pos - a.pos) <= {_PROX_SLOP})
    SELECT doc_id, COUNT(*) AS n_pairs, CAST(MIN(gap) AS BIGINT) AS min_gap
    FROM m GROUP BY 1
    ORDER BY min_gap, doc_id
    LIMIT {_PROX_TOP}
    """,
    tags=("RET5",),
)
def text_proximity_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RET5: docs where the two query terms co-occur within 5 positions
    (block comment above) — per doc the count of qualifying term pairs
    and the tightest gap, closest-first."""
    toks = pos_tokens(spread(table(spark, sf_dir, "documents")))
    a = toks.filter(F.col("w") == _PROX_TERMS[0]).select("doc_id", "pos")
    b = toks.filter(F.col("w") == _PROX_TERMS[1]).select(
        F.col("doc_id").alias("db"), F.col("pos").alias("pb")
    )
    gap = F.abs(F.col("pb") - F.col("pos"))
    m = a.join(
        b, (F.col("db") == F.col("doc_id")) & (gap <= _PROX_SLOP)
    ).select("doc_id", gap.alias("gap"))
    return (
        m.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.min("gap").cast("long").alias("min_gap"),
        )
        .orderBy(F.asc("min_gap"), F.asc("doc_id"))
        .limit(_PROX_TOP)
    )


# --------------------------------------------------------------------------
# RET6 — HARD-NEGATIVE MINING for retrieval training (the DPR/contrastive
# data-prep step): for each PROBE document, rank the corpus by doc-as-query
# BM25 (the probe's distinct token set is the query, binary query weights;
# identical rational-idf constants to RET3 so every per-term score is an
# exact integer ratio), EXCLUDE positives — candidates whose word-bigram
# jaccard with the probe reaches the near-dup bar (dedup.py's exact
# rare-shingle pair machinery, reused verbatim) — and keep the top-k
# remaining: lexically close, semantically distinct training negatives.
#
# Scale shape: the probe set is a deterministic hash slice of doc_ids
# (batch the probes at 100 TB — fan-out is |probe terms| x df(w), the
# inverted-index join, NOT probes x corpus); df/idf live in a
# vocabulary-sized dim that broadcasts; the candidate tf relation
# shuffles once on the term key; the positive-exclusion anti-join reuses
# the shingle index with its stop-shingle skew cap. On a Zipfian corpus
# the standard df cap prunes stop-word terms from the probe query; this
# 31-word synthetic vocab is uniformly hot (df 75-80% of N), so the cap
# is deliberately NOT applied here — it would delete the whole query.
# --------------------------------------------------------------------------

_HN_PROBE_MOD = 97  # probe slice: doc_id % 97 == 0 (~1% of the corpus)
_HN_TOP = 5
_HN_POS_TAU = 0.25  # jaccard at/above this = positive, excluded


@register(
    "retrieval_hard_negatives",
    oracle=f"""
    WITH toks AS ({SQL_POS_TOKS}),
    dterm AS (SELECT DISTINCT doc_id, w FROM toks),
    stats AS (
      SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS N,
             CAST(COUNT(*) AS BIGINT) AS T
      FROM toks),
    dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks GROUP BY 1),
    dfreq AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS df FROM dterm GROUP BY 1),
    tf AS (
      SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf
      FROM toks GROUP BY 1, 2),
    probes AS (
      SELECT doc_id AS probe_id, w FROM dterm
      WHERE doc_id % {_HN_PROBE_MOD} = 0),
    scored AS (
      SELECT p.probe_id, tf.doc_id AS neg_id, {_sql_bm25_score()} AS s
      FROM probes p
      JOIN tf ON p.w = tf.w AND tf.doc_id <> p.probe_id
      JOIN dfreq ON dfreq.w = p.w
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN stats),
    agg AS (
      SELECT probe_id, neg_id,
             CAST(COUNT(*) AS BIGINT) AS n_shared_terms,
             {sql_dsum("s", scale=18)} AS score
      FROM scored GROUP BY 1, 2),
    {_SQL_JACCARD_CORE},
    positives AS (
      SELECT doc_a AS probe_id, doc_b AS neg_id FROM jac
      WHERE jaccard >= {_HN_POS_TAU}
      UNION ALL
      SELECT doc_b, doc_a FROM jac WHERE jaccard >= {_HN_POS_TAU}),
    negs AS (
      SELECT a.* FROM agg a
      ANTI JOIN positives p USING (probe_id, neg_id)),
    ranked AS (
      SELECT probe_id, neg_id, n_shared_terms, score,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY probe_id
               ORDER BY score DESC, neg_id) AS BIGINT) AS rank
      FROM negs)
    SELECT probe_id, neg_id, n_shared_terms, score, rank
    FROM ranked WHERE rank <= {_HN_TOP}
    ORDER BY probe_id, rank
    """,
    tags=("RET6",),
)
def retrieval_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RET6: top-{top} BM25 hard negatives per probe doc (block comment
    above) — doc-as-query scoring, near-dup positives excluded at word-
    bigram jaccard >= {tau}."""
    from .dedup import _STOP_SHINGLE_DF, exact_jaccard_of_pairs
    from .text import word_bigram_arrays

    docs = spread(table(spark, sf_dir, "documents"))
    toks = pos_tokens(docs)
    # ONE corpus-sized aggregation (r12, guide §2.3): tf is the only
    # consumer of the raw token stream — dl (= SUM of tf per doc), stats,
    # dfreq (tf's key set counted per w), and the probe slice are all
    # rollups of it. One tokenize+exchange pass instead of three, and the
    # checkpoint pins the (doc, term)-grain frame, not the token stream.
    # spread() before the checkpoint: AQE coalesces this few-MB exchange
    # to ONE partition and the checkpoint would freeze that, serializing
    # the probes x tf posting join below onto one core (measured 7.9s ->
    # 10.4s at sf0.1); the round-robin rebalance of the (doc, term) frame
    # is noise next to that join.
    tf = spread(
        toks.groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    ).localCheckpoint(eager=False)
    dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("long").alias("N"),
        F.sum("dl").cast("long").alias("T"),
    )
    dfreq = tf.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("df"))
    probes = tf.filter(F.col("doc_id") % _HN_PROBE_MOD == 0).select(
        F.col("doc_id").alias("probe_id"), "w"
    )
    idf = (2 * F.col("N") - 2 * F.col("df") + 1).cast("double") / (
        2 * F.col("df") + 1
    ).cast("double")
    tfn = (22 * F.col("tf") * F.col("T")).cast("double") / (
        10 * F.col("tf") * F.col("T")
        + 3 * F.col("T")
        + 9 * F.col("dl") * F.col("N")
    ).cast("double")
    scored = (
        probes.join(tf, "w")
        .filter(F.col("doc_id") != F.col("probe_id"))
        .join(F.broadcast(dfreq), "w")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("probe_id", F.col("doc_id").alias("neg_id"), (idf * tfn).alias("s"))
    )
    agg = scored.groupBy("probe_id", "neg_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_shared_terms"),
        dsum("s", "score", scale=18),
    )
    # Positive exclusion, PROBE-RESTRICTED: the generic all-pairs jaccard
    # scan (dedup._jaccard_pairs) costs the whole corpus-pair relation;
    # only pairs with a probe on one side can ever exclude anything here,
    # so the candidate self-join keeps the probe slice on the build side —
    # measured 7.7s -> sub-second at sf0.1 for the identical exclusion
    # set (the oracle keeps the symmetric all-pairs form and filters;
    # both reduce to the same probe-involving pairs).
    arrays = word_bigram_arrays(docs)
    big = arrays.select("doc_id", F.explode("bgs").alias("bg")).localCheckpoint(
        eager=False
    )
    rare = (
        big.groupBy("bg")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= _STOP_SHINGLE_DF)
        .select("bg")
    )
    rare_big = big.join(rare, "bg", "semi")
    probe_big = rare_big.filter(F.col("doc_id") % _HN_PROBE_MOD == 0)
    cand = (
        probe_big.alias("a")
        .join(
            rare_big.alias("b"),
            (F.col("a.bg") == F.col("b.bg"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    positives = (
        exact_jaccard_of_pairs(cand, arrays)
        .filter(F.col("jaccard") >= _HN_POS_TAU)
        .select(F.col("doc_a").alias("probe_id"), F.col("doc_b").alias("neg_id"))
    )
    # shuffle_hash (r12): the BM25 candidate relation (probes x corpus)
    # dwarfs the near-dup positives; sort-merge would sort it for an
    # exclusion whose build side is a handful of pairs per probe
    negs = agg.join(positives.hint("shuffle_hash"), ["probe_id", "neg_id"], "anti")
    w = Window.partitionBy("probe_id").orderBy(F.desc("score"), F.asc("neg_id"))
    return (
        negs.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= _HN_TOP)
        .select("probe_id", "neg_id", "n_shared_terms", "score", "rank")
        .orderBy("probe_id", "rank")
    )


retrieval_hard_negatives.__doc__ = (retrieval_hard_negatives.__doc__ or "").format(
    top=_HN_TOP, tau=_HN_POS_TAU
)


# --------------------------------------------------------------------------
# RET7 — HYBRID RETRIEVAL with reciprocal-rank fusion (Cormack, Clarke &
# Buettcher, SIGIR'09): the standard production shape for "find documents
# like this one" — a LEXICAL ranking (doc-as-query rational-idf BM25 over
# the probe document's token set, RET3/RET6's exact-integer scoring) and a
# VECTOR ranking (cosine against the probe's embedding, SIM1's bit-stable
# fold) are each cut to a top-K pool, and the pools fuse by
# rrf(d) = sum over rankings of 1/(RRF_K + rank_d). Neither signal alone:
# BM25 misses paraphrases, cosine misses rare exact terms; RRF needs no
# score calibration because only RANKS cross the fusion boundary.
#
# Scale shape: the lexical side is the probe-restricted posting join (the
# probe's terms fan out to df(w)-sized posting lists, never probes x
# corpus); the vector side is a map-only broadcast-probe scan; both pools
# are TakeOrderedAndProject top-K, so the only global windows run above
# K-row frames (the unreduced-global-window audit sees the limit below
# them). The fusion is a K-vs-K full outer join. At 100 TB with a probe
# BATCH, both sides partition by probe exactly like RET6; ranks stay
# per-probe window functions over top-K pools.
#
# Determinism: BM25 scores are exact integer ratios decimal-summed
# (module docstring), cosine is the sequential double fold verified
# bit-identical on all pairs (dedup.py) — so both RANKINGS match the
# oracle exactly, and rrf_score is one IEEE division per ranking plus one
# two-term sum, bit-stable by construction.
# --------------------------------------------------------------------------

_HY_PROBE = 0  # probe doc: doc_id / vec_id 0 (the similarity module's query)
_HY_K = 20  # per-ranking pool depth
_RRF_K = 60  # the standard RRF dampening constant
_HY_TOP = 10


@register(
    "retrieval_hybrid_rrf",
    oracle=f"""
    WITH toks AS ({SQL_POS_TOKS}),
    dterm AS (SELECT DISTINCT doc_id, w FROM toks),
    stats AS (
      SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS N,
             CAST(COUNT(*) AS BIGINT) AS T
      FROM toks),
    dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks GROUP BY 1),
    dfreq AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS df FROM dterm GROUP BY 1),
    tf AS (
      SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf
      FROM toks GROUP BY 1, 2),
    qterms AS (SELECT w FROM dterm WHERE doc_id = {_HY_PROBE}),
    scored AS (
      SELECT tf.doc_id, {_sql_bm25_score()} AS s
      FROM qterms q
      JOIN tf ON tf.w = q.w AND tf.doc_id <> {_HY_PROBE}
      JOIN dfreq ON dfreq.w = q.w
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN stats),
    lex AS (
      SELECT doc_id, {sql_dsum("s", scale=18)} AS score FROM scored GROUP BY 1),
    lex_rank AS (
      SELECT doc_id,
             CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id)
                  AS BIGINT) AS r_lex
      FROM lex QUALIFY r_lex <= {_HY_K}),
    q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = {_HY_PROBE}),
    norms AS ({SQL_EMB_NORMS}),
    dots AS (
      SELECT e.vec_id, {sql_emb_dot('e.embedding', 'q.q_emb')} AS dot
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> {_HY_PROBE}),
    cosv AS (
      SELECT d.vec_id AS doc_id,
             d.dot / NULLIF(sqrt(n.n2) * sqrt(qn.n2), 0.0) AS cosine
      FROM dots d
      JOIN norms n ON d.vec_id = n.vec_id
      CROSS JOIN (SELECT n2 FROM norms WHERE vec_id = {_HY_PROBE}) qn),
    vec_rank AS (
      SELECT doc_id,
             CAST(ROW_NUMBER() OVER (ORDER BY cosine DESC, doc_id)
                  AS BIGINT) AS r_vec
      FROM cosv QUALIFY r_vec <= {_HY_K}),
    fused AS (
      SELECT doc_id, r_lex, r_vec,
             COALESCE(CAST(1.0 AS DOUBLE)
                      / CAST({_RRF_K} + r_lex AS DOUBLE), 0.0)
           + COALESCE(CAST(1.0 AS DOUBLE)
                      / CAST({_RRF_K} + r_vec AS DOUBLE), 0.0) AS rrf_score
      FROM lex_rank FULL OUTER JOIN vec_rank USING (doc_id))
    SELECT doc_id, r_lex, r_vec, rrf_score
    FROM fused
    ORDER BY rrf_score DESC, doc_id
    LIMIT {_HY_TOP}
    """,
    tags=("RET7",),
)
def retrieval_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RET7: reciprocal-rank fusion of doc-as-query BM25 and embedding
    cosine for probe doc {probe} (block comment above) — per fused doc its
    lexical rank, vector rank (NULL if outside that pool's top-{k}), and
    rrf score; top-{top}."""
    from .dedup import emb_dot, emb_norm2

    toks = pos_tokens(spread(table(spark, sf_dir, "documents")))
    # ONE corpus-sized aggregation (r12, guide §2.3): tf is the only
    # consumer of the raw token stream — dl (token count per doc = SUM of
    # tf), stats, dfreq (distinct (doc, w) pairs per w = tf's key set),
    # and the probe's term set are all rollups of it, so the corpus is
    # tokenized and exchanged exactly once and the multi-consumer
    # checkpoint pins the (doc, term)-grain frame instead of the
    # token-grain stream (~5x smaller on ordinary prose). Unlike RET6
    # (probe SLICE x corpus fan-out), everything downstream of tf here is
    # one probe's worth of postings — small enough that AQE's coalesced
    # partitioning of this exchange is the right local shape and a
    # re-spread only adds scheduling overhead (measured).
    tf = (
        toks.groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        .localCheckpoint(eager=False)
    )
    dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("long").alias("N"),
        F.sum("dl").cast("long").alias("T"),
    )
    dfreq = tf.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("df"))
    qterms = tf.filter(F.col("doc_id") == _HY_PROBE).select("w")
    idf = (2 * F.col("N") - 2 * F.col("df") + 1).cast("double") / (
        2 * F.col("df") + 1
    ).cast("double")
    tfn = (22 * F.col("tf") * F.col("T")).cast("double") / (
        10 * F.col("tf") * F.col("T")
        + 3 * F.col("T")
        + 9 * F.col("dl") * F.col("N")
    ).cast("double")
    lex = (
        F.broadcast(qterms)
        .join(tf, "w")
        .filter(F.col("doc_id") != _HY_PROBE)
        .join(F.broadcast(dfreq), "w")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", (idf * tfn).alias("s"))
        .groupBy("doc_id")
        .agg(dsum("s", "score", scale=18))
    )
    w_lex = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    lex_rank = (
        lex.orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(_HY_K)  # TakeOrderedAndProject; the window below sees K rows
        .select(
            "doc_id", F.row_number().over(w_lex).cast("long").alias("r_lex")
        )
    )
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = emb.filter(F.col("vec_id") == _HY_PROBE).select(
        F.col("embedding").alias("q_emb"),
        emb_norm2(F.col("embedding")).alias("q_n2"),
    )
    cosine = emb_dot(F.col("embedding"), F.col("q_emb")) / F.nullif(
        F.sqrt(emb_norm2(F.col("embedding"))) * F.sqrt(F.col("q_n2")),
        F.lit(0.0),
    )
    w_vec = Window.orderBy(F.desc("cosine"), F.asc("doc_id"))
    vec_rank = (
        emb.filter(F.col("vec_id") != _HY_PROBE)
        .crossJoin(F.broadcast(q))
        .select(F.col("vec_id").alias("doc_id"), cosine.alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("doc_id"))
        .limit(_HY_K)
        .select(
            "doc_id", F.row_number().over(w_vec).cast("long").alias("r_vec")
        )
    )
    rrf = F.coalesce(
        F.lit(1.0) / (F.lit(_RRF_K) + F.col("r_lex")).cast("double"),
        F.lit(0.0),
    ) + F.coalesce(
        F.lit(1.0) / (F.lit(_RRF_K) + F.col("r_vec")).cast("double"),
        F.lit(0.0),
    )
    return (
        lex_rank.join(vec_rank, "doc_id", "full_outer")
        .select("doc_id", "r_lex", "r_vec", rrf.alias("rrf_score"))
        .orderBy(F.desc("rrf_score"), F.asc("doc_id"))
        .limit(_HY_TOP)
    )


retrieval_hybrid_rrf.__doc__ = (retrieval_hybrid_rrf.__doc__ or "").format(
    probe=_HY_PROBE, k=_HY_K, top=_HY_TOP
)
