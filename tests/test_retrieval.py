"""Retrieval operators (RET1-3, operators/retrieval.py): semantic property
tests on synthetic corpora pushed through the production DAGs, plus plan
shape — the oracle differential covers the registered queries end-to-end;
these pin the behaviors an oracle can't distinguish (packing arithmetic,
phrase adjacency vs bag-of-words, BM25's length normalization direction).
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from hhs_and_cms_data_pipeline_spark.operators.retrieval import (
    _POSTING_PACK,
    pos_tokens,
)
from hhs_and_cms_data_pipeline_spark.registry import all_specs
from tests.conftest import SF_SMOKE
from tests.plan_audit import formatted_plan


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_pos_tokens_one_based_and_skips_empties(spark):
    out = {
        (r.doc_id, r.w, r.pos)
        for r in pos_tokens(_docs(spark, [(1, "a  b c")])).collect()
    }
    # string_split of "a  b c" is [a, '', b, c]: positions 1,2,3,4 with the
    # empty dropped AFTER numbering — 'b' is pos 3, not 2.
    assert out == {(1, "a", 1), (1, "b", 3), (1, "c", 4)}


def test_phrase_search_requires_adjacency(spark):
    """Bag-of-words must NOT match: all three words present but never
    adjacent scores zero; the true phrase counts every occurrence."""
    from hhs_and_cms_data_pipeline_spark.operators import retrieval as R

    docs = _docs(
        spark,
        [
            (1, "slow hash batch x slow hash batch"),  # 2 occurrences
            (2, "slow x hash x batch"),  # words present, not adjacent
            (3, "hash slow batch"),  # wrong order
        ],
    )
    toks = pos_tokens(docs)
    t1 = toks.filter(F.col("w") == R._PHRASE[0]).select("doc_id", "pos")
    t2 = toks.filter(F.col("w") == R._PHRASE[1]).select(
        F.col("doc_id").alias("d2"), F.col("pos").alias("p2")
    )
    t3 = toks.filter(F.col("w") == R._PHRASE[2]).select(
        F.col("doc_id").alias("d3"), F.col("pos").alias("p3")
    )
    m = (
        t1.join(t2, (F.col("d2") == F.col("doc_id")) & (F.col("p2") == F.col("pos") + 1))
        .join(t3, (F.col("d3") == F.col("doc_id")) & (F.col("p3") == F.col("pos") + 2))
        .groupBy("doc_id")
        .count()
    )
    got = {r.doc_id: r["count"] for r in m.collect()}
    assert got == {1: 2}


def test_inverted_index_posting_pack_roundtrips(spark):
    rows = all_specs()["text_inverted_index"].builder(spark, SF_SMOKE).collect()
    assert rows, "index build empty at smoke SF"
    for r in rows:
        # postings_head is a comma-joined string (driver-hashable output
        # contract — no ARRAY columns); parse it back for the pack check.
        head = [int(x) for x in r.postings_head.split(",")]
        assert 1 <= len(head) <= 5
        assert head == sorted(head)
        for p in head:
            doc, pos = divmod(p, _POSTING_PACK)
            assert doc >= 0 and 1 <= pos < _POSTING_PACK
        assert r.df <= r.cf


def test_bm25_prefers_more_query_terms_and_shorter_docs(spark):
    """Directional sanity of the rational-idf scoring on a controlled
    corpus: (a) a doc hitting two query terms outranks one hitting one at
    equal length; (b) of two docs with identical tf, the shorter wins
    (length normalization points the right way)."""
    from hhs_and_cms_data_pipeline_spark.operators.retrieval import _BM25_QUERY

    q0, q1 = _BM25_QUERY[0], _BM25_QUERY[1]
    filler = "zz yy xx ww vv"
    docs = _docs(
        spark,
        [
            (1, f"{q0} {q1} {filler}"),  # two hits, short
            (2, f"{q0} {filler}"),  # one hit, short
            (3, f"{q0} {filler} {filler} {filler}"),  # one hit, long
        ],
    )
    from hhs_and_cms_data_pipeline_spark.operators.retrieval import (
        bm25_term_scores,
    )

    scores = {
        r.doc_id: r.s
        for r in (
            bm25_term_scores(pos_tokens(docs), _BM25_QUERY)
            .groupBy("doc_id")
            .agg(F.sum("s").alias("s"))
            .collect()
        )
    }
    assert scores[1] > scores[2], "two query-term hits must outrank one"
    assert scores[2] > scores[3], "shorter doc must outrank longer at equal tf"


_words = st.sampled_from(["hash", "join", "sort", "spark", "zz", "yy", "xx"])
_corpus = st.lists(
    st.lists(_words, min_size=1, max_size=8).map(" ".join),
    min_size=1,
    max_size=6,
)


@given(texts=_corpus)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_bm25_matches_python_reference(spark, texts):
    """The full production scoring DAG against a pure-Python rational-idf
    BM25 over random tiny corpora — exact float equality, since every
    engine-side operation is a correctly-rounded IEEE op on exact
    integers and the Python model performs the identical ops (the sum
    order is the only freedom; summing <=4 exact-ratio terms of the same
    magnitude in sorted order matches the decimal-routed engine sum at
    the comparison tolerance used: 1e-12 relative)."""
    from hhs_and_cms_data_pipeline_spark.operators.retrieval import _BM25_QUERY

    docs = _docs(spark, list(enumerate(texts)))
    toks = pos_tokens(docs)
    # python reference
    tok = {
        i: [w for w in t.split(" ") if w != ""] for i, t in enumerate(texts)
    }
    N = len([i for i in tok if tok[i]])
    T = sum(len(v) for v in tok.values())
    df = {
        q: sum(1 for v in tok.values() if q in v) for q in _BM25_QUERY
    }
    expect = {}
    for i, v in tok.items():
        s = 0.0
        for q in _BM25_QUERY:
            tf = v.count(q)
            if not tf:
                continue
            idf = (2 * N - 2 * df[q] + 1) / (2 * df[q] + 1)
            tfn = (22 * tf * T) / (10 * tf * T + 3 * T + 9 * len(v) * N)
            s += idf * tfn
        if s:
            expect[i] = s
    # engine: THE production scoring DAG (shared helper)
    from hhs_and_cms_data_pipeline_spark.operators.retrieval import (
        bm25_term_scores,
    )

    got = {
        r.doc_id: r.s
        for r in (
            bm25_term_scores(toks, _BM25_QUERY)
            .groupBy("doc_id")
            .agg(F.sum("s").alias("s"))
            .collect()
        )
    }
    assert set(got) == set(expect)
    for i, s in expect.items():
        assert abs(got[i] - s) <= 1e-12 * max(1.0, abs(s)), (i, got[i], s)


@given(texts=_corpus)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_inverted_index_reconstructs_corpus(spark, texts):
    """df/cf/postings from the index DAG must reconstruct the naive
    per-token scan exactly, for any corpus: the postings head is the
    ascending prefix of the true posting set and df/cf match counts."""
    from hhs_and_cms_data_pipeline_spark.operators.retrieval import (
        _POSTINGS_HEAD,
    )

    docs = _docs(spark, list(enumerate(texts)))
    toks = pos_tokens(docs)
    posting = (F.col("doc_id") * _POSTING_PACK + F.col("pos")).alias("p")
    got = {
        r.w: (r.df, r.cf, list(r.ph))
        for r in toks.select("w", "doc_id", posting)
        .groupBy("w")
        .agg(
            F.countDistinct("doc_id").alias("df"),
            F.count(F.lit(1)).alias("cf"),
            F.slice(F.sort_array(F.collect_list("p")), 1, _POSTINGS_HEAD).alias(
                "ph"
            ),
        )
        .collect()
    }
    truth: dict[str, list[int]] = {}
    for i, t in enumerate(texts):
        pos = 0
        for w in t.split(" "):
            pos += 1
            if w:
                truth.setdefault(w, []).append(i * _POSTING_PACK + pos)
    assert set(got) == set(truth)
    for w, posts in truth.items():
        df, cf, ph = got[w]
        assert cf == len(posts)
        assert df == len({p // _POSTING_PACK for p in posts})
        assert ph == sorted(posts)[:_POSTINGS_HEAD]


def test_bm25_plan_prunes_and_takes_ordered(spark):
    from tests.plan_audit import scan_columns

    plan = formatted_plan(all_specs()["text_bm25_topk"].builder(spark, SF_SMOKE))
    # the documents scan reads only (doc_id, text) — the query-term IN
    # filter applies post-tokenization, but column pruning must reach
    # parquet; top-k must compile to TakeOrderedAndProject, not a global
    # sort.
    assert scan_columns(plan, containing="text") <= {"doc_id", "text"}
    assert "TakeOrderedAndProject" in plan


def test_posting_pack_overflow_fails_loudly(spark):
    """ADVICE r7: a position at/over the 1e6 pack base would spill into
    the doc_id field — and since the oracle packs identically, the
    differential gate can never see it. The guard must abort execution
    instead of silently aliasing; an in-range position still packs."""
    import pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from hhs_and_cms_data_pipeline_spark.operators.retrieval import (
        _POSTING_PACK,
        packed_posting,
    )

    ok = spark.createDataFrame(
        [(7, _POSTING_PACK - 1)], "doc_id long, pos long"
    ).select(packed_posting().alias("p"))
    assert ok.collect()[0].p == 7 * _POSTING_PACK + _POSTING_PACK - 1
    bad = spark.createDataFrame(
        [(7, _POSTING_PACK)], "doc_id long, pos long"
    ).select(packed_posting().alias("p"))
    with pytest.raises(SparkRuntimeException, match="pack base"):
        bad.collect()


def test_hard_negatives_excludes_neardups_keeps_scrambled(spark, tmp_path):
    """RET6's defining contract, on a corpus built to split the two
    similarity notions apart: a bigram-level near-dup of the probe (one
    token changed, word order kept) must be EXCLUDED as a positive, while
    a token-identical but order-scrambled doc (shared bigrams ~0) is the
    archetypal hard negative and must rank FIRST; a doc sharing nothing
    never enters the candidate set."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hhs_and_cms_data_pipeline_spark.registry import all_specs
    from hhs_and_cms_data_pipeline_spark.sources.tables import TABLES

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    texts = {
        0: base,                                      # the probe (0 % 97 == 0)
        1: base.replace("kappa", "mu"),               # near-dup: excluded
        2: " ".join(reversed(base.split())),          # scrambled: hard negative
        3: "alpha beta ux uy uz p q r s t",           # weak overlap: kept, lower
        4: "foo bar baz qux quux corge grault w x y"  # disjoint: never a candidate
    }
    d = tmp_path / "sf_hn"
    d.mkdir()
    for t in TABLES:
        if t != "documents":
            shutil.copy(f"{SF_SMOKE}/{t}.parquet", d / f"{t}.parquet")
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(list(texts), pa.int64()),
                "text": pa.array(list(texts.values()), pa.string()),
                "lang": pa.array(["en"] * 5, pa.string()),
                "source": pa.array(["s"] * 5, pa.string()),
                "n_chars": pa.array([len(v) for v in texts.values()], pa.int64()),
            }
        ),
        d / "documents.parquet",
    )
    rows = all_specs()["retrieval_hard_negatives"].builder(spark, str(d)).collect()
    by_probe = {}
    for r in rows:
        by_probe.setdefault(r["probe_id"], []).append(r)
    negs = [r["neg_id"] for r in by_probe.get(0, [])]
    assert 1 not in negs, "bigram near-dup must be excluded as a positive"
    assert 4 not in negs, "term-disjoint doc must never become a candidate"
    assert negs[0] == 2, f"scrambled twin must rank first, got {negs}"
    assert 3 in negs
    shared = {r["neg_id"]: r["n_shared_terms"] for r in by_probe[0]}
    assert shared[2] == 10 and shared[3] == 2


def test_hybrid_rrf_fuses_ranks_consistently(spark):
    """RET7 invariants at smoke SF: ranks stay within the per-pool depth,
    each row's rrf_score equals the recomputed fusion formula from its own
    ranks bit-exactly, and a doc present in BOTH pools at rank r outscores
    any doc whose only rank is r (two reciprocal terms beat one)."""
    import hhs_and_cms_data_pipeline_spark.operators.retrieval as R

    rows = all_specs()["retrieval_hybrid_rrf"].builder(spark, SF_SMOKE).collect()
    assert rows and len(rows) <= R._HY_TOP
    for r in rows:
        assert r.r_lex is not None or r.r_vec is not None
        want = 0.0
        if r.r_lex is not None:
            assert 1 <= r.r_lex <= R._HY_K
            want += 1.0 / (R._RRF_K + r.r_lex)
        if r.r_vec is not None:
            assert 1 <= r.r_vec <= R._HY_K
            want += 1.0 / (R._RRF_K + r.r_vec)
        assert r.rrf_score == want, "fusion formula mismatch"
    # sorted by fused score desc, doc_id tie-break
    key = [(-r.rrf_score, r.doc_id) for r in rows]
    assert key == sorted(key)
    both = [r for r in rows if r.r_lex is not None and r.r_vec is not None]
    single = [r for r in rows if (r.r_lex is None) != (r.r_vec is None)]
    for b in both:
        worst = max(b.r_lex, b.r_vec)
        for s in single:
            only = s.r_lex if s.r_lex is not None else s.r_vec
            if only >= worst:
                assert b.rrf_score > s.rrf_score
