"""Approximate-nearest-neighbor similarity search over the `embeddings` table
(BASELINE.json north star).

Two tiers:
  sim_topk_bruteforce — exact cosine top-k (the correctness baseline);
  sim_ivf_topk        — IVF-style: coarse quantizer (per-label centroids) ->
                        probe nearest cell -> exact search inside the cell.
                        Linear-scan cost drops by ~n_cells; the posting-list
                        partitioning is exactly how a 100 TB vector corpus
                        shards across executors.

All float math uses the sequential-double dot product (dedup.emb_dot): a
per-row array fold is deterministic under any partitioning, and Spark's
`aggregate` and DuckDB's `list_reduce` fold in the same order, so the two
engines agree bitwise (verified over all pairs at sf0.001/sf0.01).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..sources import derived, table
from ..functions.exact import davg, dsum, sql_davg, sql_dsum
from .dedup import SQL_EMB_NORMS, _SQL_EMB_BANDS_CTES, emb_dot, emb_norm2, sql_emb_dot

_QUERY_VEC_ID = 0
_TOP_K = 10
_NPROBE = 2  # cells probed by the IVF search

_SQL_Q = f"SELECT embedding AS q_emb FROM embeddings WHERE vec_id = {_QUERY_VEC_ID}"

# Shared IVF coarse-quantizer CTE text (SIM2's search and SIM11's recall
# report — ONE definition so the cell-selection semantics cannot drift).
# v is cast to DOUBLE before the VARCHAR hop on BOTH engines: DuckDB
# renders a FLOAT as its shortest FLOAT string ("0.1") while Spark's
# decimal cast sees the double-extension value (0.10000000149...), so a
# raw-float hop diverges the centroids by ~1e-7 relative — verified
# empirically; the SIM6/SIM9 k-means machinery always did this.
_SQL_IVF_CELL_CTES = f"""ex AS (
      SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS v,
             generate_subscripts(embedding, 1) AS i
      FROM embeddings),
    cent AS (
      SELECT label, i,
             CAST(CAST(SUM(CAST(CAST(v AS VARCHAR) AS DECIMAL(38,18))) AS VARCHAR)
                  AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS c
      FROM ex GROUP BY 1, 2),
    qx AS (
      SELECT generate_subscripts(embedding, 1) AS i,
             CAST(unnest(embedding) AS DOUBLE) AS qv
      FROM embeddings WHERE vec_id = {_QUERY_VEC_ID}),
    cell AS (
      SELECT cent.label,
             CAST(CAST(SUM(CAST(CAST((cent.c - qx.qv)
                           * (cent.c - qx.qv) AS VARCHAR)
                           AS DECIMAL(38,24))) AS VARCHAR) AS DOUBLE) AS d2
      FROM cent JOIN qx ON cent.i = qx.i
      GROUP BY 1
      ORDER BY d2, label
      LIMIT {_NPROBE})"""



@register(
    "sim_topk_bruteforce",
    oracle=f"""
    WITH q AS ({_SQL_Q}),
    norms AS ({SQL_EMB_NORMS}),
    dots AS (
      SELECT e.vec_id, {sql_emb_dot('e.embedding', 'q.q_emb')} AS dot
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> {_QUERY_VEC_ID})
    SELECT d.vec_id,
           d.dot / NULLIF(sqrt(n.n2) * sqrt(qn.n2), 0.0) AS cosine
    FROM dots d
    JOIN norms n ON d.vec_id = n.vec_id
    CROSS JOIN (SELECT n2 FROM norms WHERE vec_id = {_QUERY_VEC_ID}) qn
    ORDER BY cosine DESC, d.vec_id
    LIMIT {_TOP_K}
    """,
    bench=True,
    tags=("SIM1",),
)
def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 for the query vector (vec_id=0), brute force.

    The query vector is a 1-row broadcast; the scan is a single pass with a
    vectorized zip_with dot product and a TakeOrderedAndProject top-k — the
    optimal exact plan at any scale (no shuffle except the final k-row merge).
    """
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = (
        emb.filter(F.col("vec_id") == _QUERY_VEC_ID)
        .select(
            F.col("embedding").alias("q_emb"),
            emb_norm2(F.col("embedding")).alias("q_n2"),
        )
    )
    cand = emb.filter(F.col("vec_id") != _QUERY_VEC_ID).crossJoin(F.broadcast(q))
    cosine = emb_dot(F.col("embedding"), F.col("q_emb")) / F.nullif((
        F.sqrt(emb_norm2(F.col("embedding"))) * F.sqrt(F.col("q_n2"))
    ), F.lit(0.0))
    return (
        cand.select("vec_id", cosine.alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(_TOP_K)
    )


def _ivf_query_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The _NPROBE cells nearest the standing query by L2 over the
    per-label centroids — THE Spark twin of _SQL_IVF_CELL_CTES, shared by
    SIM2's top-k, SIM18's radius search, and (through them) the recall
    reports, so cell-selection semantics cannot drift between the ops."""
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    ex = emb.select(
        "vec_id", "label", F.posexplode(F.col("embedding")).alias("i0", "v")
    ).select(
        "vec_id",
        "label",
        (F.col("i0") + 1).alias("i"),
        # DOUBLE first: davg's direct decimal cast of a raw FLOAT quantizes
        # the double-extension digits while the oracle's VARCHAR hop parses
        # the shortest FLOAT string — centroids then differ ~1e-7 relative
        # (masked only while cell-ranking gaps are large). Double-widening
        # is exact, and both engines then agree bitwise (see
        # _SQL_IVF_CELL_CTES).
        F.col("v").cast("double").alias("v"),
    )
    cent = ex.groupBy("label", "i").agg(davg("v", "c", scale=18))
    q = ex.filter(F.col("vec_id") == _QUERY_VEC_ID).select("i", F.col("v").alias("qv"))
    diff = F.col("c") - F.col("qv").cast("double")
    return (
        cent.join(F.broadcast(q), "i")
        .groupBy("label")
        .agg(dsum(diff * diff, "d2", scale=24))
        .orderBy("d2", "label")
        .limit(_NPROBE)
        .select("label")
    )


@register(
    "sim_ivf_topk",
    oracle=f"""
    WITH {_SQL_IVF_CELL_CTES},
    q AS ({_SQL_Q}),
    norms AS ({SQL_EMB_NORMS}),
    dots AS (
      SELECT e.vec_id, {sql_emb_dot('e.embedding', 'q.q_emb')} AS dot
      FROM embeddings e
      JOIN cell ON e.label = cell.label
      CROSS JOIN q
      WHERE e.vec_id <> {_QUERY_VEC_ID})
    SELECT d.vec_id,
           d.dot / NULLIF(sqrt(n.n2) * sqrt(qn.n2), 0.0) AS cosine
    FROM dots d
    JOIN norms n ON d.vec_id = n.vec_id
    CROSS JOIN (SELECT n2 FROM norms WHERE vec_id = {_QUERY_VEC_ID}) qn
    ORDER BY cosine DESC, d.vec_id
    LIMIT {_TOP_K}
    """,
    tags=("SIM2",),
)
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-10: per-label centroids (coarse quantizer), probe the
    _NPROBE nearest cells by L2, exact cosine search inside those cells only.

    The scale path: at 100 TB the corpus is hash-partitioned by cell id, the
    centroid table (n_cells rows) broadcasts, and a query touches
    nprobe/n_cells of the data. Cell ranking ties are broken by label so
    both engines probe identical cells.
    """
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    cell = _ivf_query_cells(spark, sf_dir)
    q_full = (
        emb.filter(F.col("vec_id") == _QUERY_VEC_ID)
        .select(
            F.col("embedding").alias("q_emb"),
            emb_norm2(F.col("embedding")).alias("q_n2"),
        )
    )
    in_cell = (
        emb.join(F.broadcast(cell), "label", "semi")
        .filter(F.col("vec_id") != _QUERY_VEC_ID)
        .crossJoin(F.broadcast(q_full))
    )
    cosine = emb_dot(F.col("embedding"), F.col("q_emb")) / F.nullif((
        F.sqrt(emb_norm2(F.col("embedding"))) * F.sqrt(F.col("q_n2"))
    ), F.lit(0.0))
    return (
        in_cell.select("vec_id", cosine.alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(_TOP_K)
    )


# --------------------------------------------------------------------------
# Arrow-vectorized Pandas-UDF variant of the brute-force search.
# --------------------------------------------------------------------------


@register(
    "sim_topk_pandas_udf",
    # BLAS pairwise summation differs from the sequential fold by ulps, so the
    # cosine VALUES can't hash-match — but the top-k ID ranking can (the top-10
    # cosines here are separated by far more than a few ulps, and ties break on
    # vec_id). The driver-facing projection is therefore (rnk, vec_id) only;
    # the oracle is the exact brute-force SQL projected the same way.
    oracle=f"""
    WITH q AS ({_SQL_Q}),
    norms AS ({SQL_EMB_NORMS}),
    dots AS (
      SELECT e.vec_id, {sql_emb_dot('e.embedding', 'q.q_emb')} AS dot
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> {_QUERY_VEC_ID}),
    top AS (
      SELECT d.vec_id,
             d.dot / NULLIF(sqrt(n.n2) * sqrt(qn.n2), 0.0) AS cosine
      FROM dots d
      JOIN norms n ON d.vec_id = n.vec_id
      CROSS JOIN (SELECT n2 FROM norms WHERE vec_id = {_QUERY_VEC_ID}) qn
      ORDER BY cosine DESC, d.vec_id
      LIMIT {_TOP_K})
    SELECT CAST(row_number() OVER (ORDER BY cosine DESC, vec_id) AS BIGINT)
             AS rnk,
           vec_id
    FROM top ORDER BY rnk
    """,
    tags=("SIM3",),
)
def sim_topk_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine top-10 via a scalar Pandas UDF: Arrow ships embedding batches
    to Python, numpy does one matrix-vector product per batch. This is the
    pattern for similarity math Spark's built-ins can't express (learned
    metrics, quantized dots): ~batch-sized BLAS calls instead of per-row
    Python. The built-in zip_with fold (sim_topk_bruteforce) stays the
    default — JVM-side, oracle-exact; this variant documents the escape
    hatch and is checked for rank-identical results."""
    import numpy as np

    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # the query vector is a parameter (like the reference's date picker):
    # a 1-row driver-side fetch, then closed over by the UDF
    q_row = emb.filter(F.col("vec_id") == _QUERY_VEC_ID).head()
    if q_row is None:
        raise ValueError(
            f"query vector vec_id={_QUERY_VEC_ID} not found in embeddings "
            "(empty or regenerated fixture?)"
        )
    q = np.asarray(q_row["embedding"], dtype=np.float64)
    q_norm = float(np.sqrt((q * q).sum()))

    @F.pandas_udf("double")
    def cosine_to_q(batch: pd.Series) -> pd.Series:
        m = np.stack(batch.to_numpy()).astype(np.float64)
        dots = m @ q
        norms = np.sqrt((m * m).sum(axis=1))
        return pd.Series(dots / (norms * q_norm))

    from pyspark.sql import Window

    top = (
        emb.filter(F.col("vec_id") != _QUERY_VEC_ID)
        .select("vec_id", cosine_to_q("embedding").alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(_TOP_K)
    )
    # rank the 10 surviving rows (tiny frame — the unpartitioned window is
    # safe by construction) and project to the ulp-robust (rnk, vec_id) pair
    rnk = F.row_number().over(Window.orderBy(F.desc("cosine"), F.asc("vec_id")))
    return top.select(rnk.cast("long").alias("rnk"), "vec_id").orderBy("rnk")


# --------------------------------------------------------------------------
# k-NN JOIN: top-k neighbors for a whole probe batch (SIM4).
# --------------------------------------------------------------------------

_KNN_N_PROBES = 10  # probe batch: vec_id < 10
_KNN_K = 5


@register(
    "sim_knn_join",
    oracle=f"""
    WITH norms AS ({SQL_EMB_NORMS}),
    probes AS (
      SELECT vec_id AS probe_id, embedding AS p_emb
      FROM embeddings WHERE vec_id < {_KNN_N_PROBES}),
    scored AS (
      SELECT p.probe_id, e.vec_id,
             {sql_emb_dot('e.embedding', 'p.p_emb')}
               / NULLIF(sqrt(n.n2) * sqrt(pn.n2), 0.0) AS cosine
      FROM probes p
      CROSS JOIN embeddings e
      JOIN norms n  ON e.vec_id = n.vec_id
      JOIN norms pn ON p.probe_id = pn.vec_id
      WHERE e.vec_id <> p.probe_id),
    ranked AS (
      SELECT probe_id, vec_id, cosine,
             row_number() OVER (PARTITION BY probe_id
                                ORDER BY cosine DESC, vec_id) AS rnk
      FROM scored)
    SELECT probe_id, rnk, vec_id, cosine
    FROM ranked WHERE rnk <= {_KNN_K}
    ORDER BY probe_id, rnk
    """,
    tags=("SIM4",),
)
def sim_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN JOIN: exact cosine top-5 neighbors for every vector in a probe
    batch (vec_id < 10) in ONE pass over the corpus — the batch shape of
    hard-negative mining / retrieval-eval, where per-query loops would be
    1000x the scans.

    Plan: the probe batch (with precomputed norms) broadcasts; each corpus
    row scores against all probes map-side (explode over the broadcast
    list); the per-probe top-k is a rank<=k window PARTITIONED BY probe_id —
    parallel across probes, with the rank predicate enabling the window
    group-limit pushdown (Spark 3.5+) so each partition keeps a k-row heap
    instead of sorting the full candidate set. Scales as
    O(corpus x probes / executors); for probe batches beyond ~1k, block
    with the hyperplane-LSH buckets of dedup_embedding_lsh (D6) instead of
    broadcasting.
    """
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    probes = (
        emb.filter(F.col("vec_id") < _KNN_N_PROBES)
        .select(
            F.col("vec_id").alias("probe_id"),
            F.col("embedding").alias("p_emb"),
            emb_norm2(F.col("embedding")).alias("p_n2"),
        )
    )
    scored = (
        emb.withColumn("n2", emb_norm2(F.col("embedding")))
        .crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "vec_id",
            (
                emb_dot(F.col("embedding"), F.col("p_emb"))
                / F.nullif((F.sqrt(F.col("n2")) * F.sqrt(F.col("p_n2"))), F.lit(0.0))
            ).alias("cosine"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("probe_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= _KNN_K)
        .select("probe_id", "rnk", "vec_id", "cosine")
        .orderBy("probe_id", "rnk")
    )


# --------------------------------------------------------------------------
# SIM5 — int8 embedding quantization: per-vector affine codes + max
# reconstruction error. The compression pass a vector corpus runs before
# serving/shipping (4x smaller than float32, 8x than float64).
# --------------------------------------------------------------------------

_Q_LEVELS = 255  # codes 0..255 via floor((x-min)/scale), clipped


@register(
    "sim_quantize_int8",
    oracle=f"""
    WITH base AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings),
    stats AS (
      SELECT vec_id, emb,
             list_min(emb) AS mn,
             (list_max(emb) - list_min(emb)) / {_Q_LEVELS}.0 AS scale
      FROM base),
    coded AS (
      SELECT vec_id, emb, mn, scale,
             list_transform(emb, x -> CASE WHEN scale = 0 THEN 0
               ELSE least({_Q_LEVELS}, CAST(floor((x - mn) / scale) AS BIGINT))
               END) AS codes
      FROM stats)
    SELECT vec_id,
           len(codes) AS n_dims,
           scale,
           CAST(list_sum(codes) AS BIGINT) AS code_sum,
           list_max(list_transform(list_zip(emb, codes),
             p -> abs(p[1] - (mn + (CAST(p[2] AS DOUBLE) + 0.5) * scale))))
             AS max_err
    FROM coded
    ORDER BY vec_id
    """,
    tags=("SIM5",),
)
def sim_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Affine int8 quantization per vector: code_i = floor((x_i - min) /
    scale) with scale = (max - min) / 255, clipped to [0, 255]; plus the max
    reconstruction error against midpoint dequantization. floor (not round)
    keeps the arithmetic bit-identical across engines — round() ties break
    HALF_UP in Spark and HALF_EVEN in DuckDB.

    Spark shape: MAP-ONLY — min/max/codes/error are all per-row array
    expressions inside whole-stage codegen; nothing shuffles but the output
    sort. At 100 TB this runs as a pure scan-transform-write pass. The
    driver-facing projection summarizes (n_dims, scale, code_sum, max_err)
    per vector; the codes array itself would ship to a binary sink."""
    emb = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    base = table(spark, sf_dir, "embeddings").select("vec_id", emb.alias("emb"))
    mn = F.array_min("emb")
    scale = (F.array_max("emb") - mn) / float(_Q_LEVELS)
    stats = base.select("vec_id", "emb", mn.alias("mn"), scale.alias("scale"))
    code = lambda x: (
        F.when(F.col("scale") == 0, F.lit(0).cast("long")).otherwise(
            F.least(
                F.lit(_Q_LEVELS).cast("long"),
                F.floor((x - F.col("mn")) / F.col("scale")).cast("long"),
            )
        )
    )
    coded = stats.select(
        "vec_id", "emb", "mn", "scale", F.transform("emb", code).alias("codes")
    )
    err = F.array_max(
        F.zip_with(
            "emb",
            "codes",
            lambda x, c: F.abs(
                x - (F.col("mn") + (c.cast("double") + F.lit(0.5)) * F.col("scale"))
            ),
        )
    )
    return (
        coded.select(
            "vec_id",
            F.size("codes").cast("long").alias("n_dims"),
            "scale",
            F.aggregate(
                "codes", F.lit(0).cast("long"), lambda acc, c: acc + c
            ).alias("code_sum"),
            err.alias("max_err"),
        )
        .orderBy("vec_id")
    )


# --------------------------------------------------------------------------
# SIM6 — IVF index BUILD: train the coarse quantizer itself with Lloyd
# (k-means) iterations, instead of inheriting cells from a label column.
# --------------------------------------------------------------------------

_KM_K = 8
_KM_ROUNDS = 2

def _sql_km_round(r: int, prev_cent: str) -> str:
    """CTE text for one Lloyd round: score -> assign (ties by cluster id)
    -> recompute decimal-exact means (sql_dsum/sql_davg at similarity
    scales — one definition of the VARCHAR->DECIMAL trick, functions/
    exact.py)."""
    d2 = sql_dsum(
        "(CAST(e.v AS DOUBLE) - c.c) * (CAST(e.v AS DOUBLE) - c.c)", scale=24
    )
    mean = sql_davg("CAST(e.v AS DOUBLE)", scale=18)
    return f"""
    s{r} AS (
      SELECT e.vec_id, c.cl, {d2} AS d2
      FROM ex e JOIN {prev_cent} c ON e.i = c.i
      GROUP BY 1, 2),
    a{r} AS (
      SELECT vec_id, cl FROM (
        SELECT vec_id, cl,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rn
        FROM s{r}) WHERE rn = 1),
    c{r} AS (
      SELECT a.cl, e.i, {mean} AS c
      FROM ex e JOIN a{r} a USING (vec_id)
      GROUP BY 1, 2)"""


@register(
    "sim_ivf_build",
    oracle=f"""
    WITH ex AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS i,
             unnest(embedding) AS v
      FROM embeddings),
    c0 AS (
      SELECT vec_id AS cl, i, CAST(v AS DOUBLE) AS c
      FROM ex WHERE vec_id < {_KM_K}),
    {_sql_km_round(1, "c0")},
    {_sql_km_round(2, "c1")}
    SELECT vec_id, cl AS cluster,
           COUNT(*) OVER (PARTITION BY cl) AS cluster_size
    FROM a2
    ORDER BY vec_id
    """,
    tags=("SIM6",),
)
def sim_ivf_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the IVF coarse quantizer: k=8 centroids, deterministic init
    (the vectors with the 8 smallest vec_ids), 2 Lloyd rounds — assign each
    vector to its nearest centroid by exact L2 (ties to the lower cluster
    id), recompute centroids as decimal-exact per-dimension means. Returns
    the final assignment with cluster sizes; sim_ivf_topk (SIM2) is the
    search half that consumes such an index.

    Spark shape per round: the centroid relation is k x dims rows —
    BROADCAST to score map-side against the exploded vector relation; one
    hash-shuffle per round for the (vec_id, cluster) distance aggregation
    and one for the means. Rounds are a fixed unrolled count (the plan is a
    static DAG, no driver iteration): at 100 TB each round is two shuffles
    of n_vectors x dims rows regardless of k. All cross-row float sums run
    through the VARCHAR->DECIMAL route, so a local[32] run, a
    1000-executor run, and the DuckDB oracle produce identical bits and
    identical argmins."""
    from pyspark.sql import Window

    assign = ivf_coarse_assign(spark, sf_dir)
    wsz = Window.partitionBy("cl")
    return (
        assign.select(
            "vec_id",
            F.col("cl").alias("cluster"),
            F.count(F.lit(1)).over(wsz).alias("cluster_size"),
        )
        .orderBy("vec_id")
    )


def ivf_coarse_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the k=8 coarse quantizer (deterministic init, 2 decimal-exact
    Lloyd rounds — sim_ivf_build's docstring has the full account) and
    return the final (vec_id, cl) assignment, localCheckpointed and
    memoized on ``embeddings``: SIM6's report and SIM12's cell restriction
    both consume it, and training per query would re-pay the Lloyd
    shuffles on every search."""
    return derived(
        spark, sf_dir, "ivf_coarse_assign", ("embeddings",),
        lambda: _ivf_train_assign(spark, sf_dir).localCheckpoint(eager=False),
    )


def _ivf_train_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UNCHECKPOINTED coarse-training DAG — factored out because the
    memo wrapper's localCheckpoint truncates the visible plan, which would
    make the broadcast-centroid plan audit (tests/test_plans.py) vacuous."""
    from pyspark.sql import Window

    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # materialized once, like SIM9: every Lloyd round's scoring and means
    # join back to this frame; without lineage truncation the DAG re-reads
    # and re-explodes the parquet per reference (the measured 11.7s -> ~4s
    # difference SIM9 documents)
    ex = (
        emb.select("vec_id", F.posexplode("embedding").alias("i0", "v"))
        .select("vec_id", (F.col("i0") + 1).alias("i"), F.col("v").cast("double").alias("v"))
        .localCheckpoint(eager=False)
    )
    cent = ex.filter(F.col("vec_id") < _KM_K).select(
        F.col("vec_id").alias("cl"), "i", F.col("v").alias("c")
    )
    assign = None
    for r in range(_KM_ROUNDS):
        diff = F.col("v") - F.col("c")
        scored = (
            ex.join(F.broadcast(cent), "i")
            .groupBy("vec_id", "cl")
            .agg(dsum(diff * diff, "d2", scale=24))
        )
        w = Window.partitionBy("vec_id").orderBy("d2", "cl")
        assign = (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vec_id", "cl")
        )
        if r < _KM_ROUNDS - 1:
            cent = (
                ex.join(assign, "vec_id")
                .groupBy("cl", "i")
                .agg(davg("v", "c", scale=18))
            )
    return assign


# --------------------------------------------------------------------------
# SIM7 — partitioned GEMM k-NN: per-partition partial top-k, then merge.
# --------------------------------------------------------------------------

_GEMM_N_PROBES = 10  # probe batch: vec_id < 10 (same batch as SIM4)
_GEMM_K = 5


@register(
    "sim_partitioned_knn_gemm",
    # BLAS pairwise sums differ from the sequential fold by ulps (same
    # caveat as SIM3), so the driver-facing projection is the ulp-robust
    # (probe_id, rnk, vec_id); the oracle is the exact k-NN SQL projected
    # identically.
    oracle=f"""
    WITH norms AS ({SQL_EMB_NORMS}),
    probes AS (
      SELECT vec_id AS probe_id, embedding AS p_emb
      FROM embeddings WHERE vec_id < {_GEMM_N_PROBES}),
    scored AS (
      SELECT p.probe_id, e.vec_id,
             {sql_emb_dot('e.embedding', 'p.p_emb')}
               / NULLIF(sqrt(n.n2) * sqrt(pn.n2), 0.0) AS cosine
      FROM probes p
      CROSS JOIN embeddings e
      JOIN norms n  ON e.vec_id = n.vec_id
      JOIN norms pn ON p.probe_id = pn.vec_id
      WHERE e.vec_id <> p.probe_id),
    ranked AS (
      SELECT probe_id, vec_id,
             row_number() OVER (PARTITION BY probe_id
                                ORDER BY cosine DESC, vec_id) AS rnk
      FROM scored)
    SELECT probe_id, CAST(rnk AS BIGINT) AS rnk, vec_id
    FROM ranked WHERE rnk <= {_GEMM_K}
    ORDER BY probe_id, rnk
    """,
    tags=("SIM7",),
)
def sim_partitioned_knn_gemm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN join via mapInPandas GEMM with PARTIAL top-k: each corpus
    partition computes one (batch x probes) BLAS matrix product and emits
    only its local top-k rows per probe, so the shuffle into the global
    merge carries at most `partitions x probes x k` rows instead of
    `corpus x probes` (SIM4's window input). This is the scale path for
    exact many-probe search: per-executor FLOPs stay identical, but the
    reduction is k-bounded — the same partial-aggregate shape Spark applies
    to SUM, applied to top-k.
    """
    import numpy as np

    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    probe_rows = sorted(
        emb.filter(F.col("vec_id") < _GEMM_N_PROBES).collect(),
        key=lambda r: r["vec_id"],
    )
    if not probe_rows:
        raise ValueError("probe batch vec_id < %d is empty" % _GEMM_N_PROBES)
    p_ids = np.array([r["vec_id"] for r in probe_rows], dtype=np.int64)
    p_mat = np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in probe_rows])
    p_norm = np.sqrt((p_mat * p_mat).sum(axis=1))

    def partial_topk(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            ids = pdf["vec_id"].to_numpy()
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = (m @ p_mat.T) / (
                    np.sqrt((m * m).sum(axis=1))[:, None] * p_norm[None, :]
                )
            out = []
            for j in range(len(p_ids)):
                # EXCLUDE self-matches (masking them with -inf and slicing
                # top-k would still emit them whenever a probe has fewer
                # than k non-self rows — the oracle never contains them)
                valid = ids != p_ids[j]
                vids, vcos = ids[valid], cos[valid, j]
                # exact local top-k with the global tie-break (cos desc, id
                # asc). A zero-norm vector has UNDEFINED cosine (0/0): the
                # corpus-wide contract is SQL NULL, which ranks LAST under
                # DESC on both engines — so undefined entries sort to the
                # back here and are emitted as real NULLs (nullable
                # Float64), matching the oracle's NULLIF exactly.
                undef = ~np.isfinite(vcos)
                sort_key = np.where(undef, np.inf, -vcos)
                order = np.lexsort((vids, sort_key))[: _GEMM_K]
                for i in order:
                    out.append(
                        (
                            int(p_ids[j]),
                            int(vids[i]),
                            None if undef[i] else float(vcos[i]),
                        )
                    )
            pdf_out = pd.DataFrame(out, columns=["probe_id", "vec_id", "cosine"])
            pdf_out["cosine"] = pd.array(pdf_out["cosine"], dtype="Float64")
            yield pdf_out

    partial = emb.mapInPandas(
        partial_topk, "probe_id long, vec_id long, cosine double"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("probe_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        partial.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= _GEMM_K)
        .select("probe_id", "rnk", "vec_id")
        .orderBy("probe_id", "rnk")
    )


# --------------------------------------------------------------------------
# SIM8 — LSH-bucketed approximate k-NN join: the blocked path SIM4's
# broadcast design hands off to once the probe batch outgrows a broadcast
# (SIM4 docstring: "for probe batches beyond ~1k, block with the
# hyperplane-LSH buckets"). Candidates = corpus vectors sharing ANY
# hyperplane band with the probe; exact cosine + rank on candidates only.
# --------------------------------------------------------------------------

_LSH_KNN_K = 5


@register(
    "sim_lsh_knn_join",
    oracle=f"""
    WITH {_SQL_EMB_BANDS_CTES},
    cand AS (
      SELECT DISTINCT p.vec_id AS probe_id, c.vec_id
      FROM bands p
      JOIN bands c ON p.band = c.band AND p.sig = c.sig
                  AND p.vec_id <> c.vec_id
      WHERE p.vec_id < {_KNN_N_PROBES}),
    norms AS ({SQL_EMB_NORMS}),
    scored AS (
      SELECT cd.probe_id, cd.vec_id,
             {sql_emb_dot('ec.embedding', 'ep.embedding')}
               / NULLIF(sqrt(nc.n2) * sqrt(np.n2), 0.0) AS cosine
      FROM cand cd
      JOIN embeddings ep ON ep.vec_id = cd.probe_id
      JOIN embeddings ec ON ec.vec_id = cd.vec_id
      JOIN norms nc ON cd.vec_id = nc.vec_id
      JOIN norms np ON cd.probe_id = np.vec_id),
    ranked AS (
      SELECT probe_id, vec_id, cosine,
             row_number() OVER (PARTITION BY probe_id
                                ORDER BY cosine DESC, vec_id) AS rnk
      FROM scored)
    SELECT probe_id, CAST(rnk AS BIGINT) AS rnk, vec_id, cosine
    FROM ranked WHERE rnk <= {_LSH_KNN_K}
    ORDER BY probe_id, rnk
    """,
    tags=("SIM8",),
)
def sim_lsh_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIM8: approximate k-NN for the probe batch restricted to
    hyperplane-LSH bucket collisions — candidates are corpus vectors
    sharing at least one of the 8 band signatures with the probe, scored
    with the exact sequential-fold cosine and ranked per probe. The
    oracle implements the SAME blocking, so the check is exact on the
    approximate semantics; recall against the exact k-NN (SIM4) is
    asserted separately in tests (a zero-recall bucket scheme cannot
    hide behind an agreeing oracle — the D6 round-3 lesson).

    Scale shape: band signatures are map-only (hyperplane_bands); the
    candidate join is probe-bands (tiny) against corpus-bands keyed on
    (band, sig) — cost scales with bucket occupancy, not corpus x probes.
    This is the handoff SIM4 names for probe batches too large to
    broadcast: both sides shard by bucket, no broadcast, no full scan
    per probe."""
    from .dedup import hyperplane_bands

    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    bands = hyperplane_bands(emb)
    p, c = bands.alias("p"), bands.alias("c")
    cand = (
        p.filter(F.col("p.vec_id") < _KNN_N_PROBES)
        .join(
            c,
            (F.col("p.band") == F.col("c.band"))
            & (F.col("p.sig") == F.col("c.sig"))
            & (F.col("p.vec_id") != F.col("c.vec_id")),
        )
        .select(
            F.col("p.vec_id").alias("probe_id"), F.col("c.vec_id").alias("vec_id")
        )
        .distinct()
    )
    # probe frame restricted to the probe batch BEFORE the join: building
    # it over the whole corpus re-ran the norm fold for every vector and
    # shuffled the full table to serve 10 probes
    ep = F.broadcast(
        emb.filter(F.col("vec_id") < _KNN_N_PROBES).select(
            F.col("vec_id").alias("probe_id"),
            F.col("embedding").alias("p_emb"),
            emb_norm2(F.col("embedding")).alias("p_n2"),
        )
    )
    ec = emb.withColumn("n2", emb_norm2(F.col("embedding")))
    cosine = emb_dot(F.col("embedding"), F.col("p_emb")) / F.nullif((
        F.sqrt(F.col("n2")) * F.sqrt(F.col("p_n2"))
    ), F.lit(0.0))
    from pyspark.sql import Window

    w = Window.partitionBy("probe_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        cand.join(ep, "probe_id")
        .join(ec, "vec_id")
        .select("probe_id", "vec_id", cosine.alias("cosine"))
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= _LSH_KNN_K)
        .select("probe_id", "rnk", "vec_id", "cosine")
        .orderBy("probe_id", "rnk")
    )


# --------------------------------------------------------------------------
# SIM9 — product quantization (PQ) + asymmetric-distance (ADC) search.
# The 64-dim vectors split into 4 subspaces of 16 dims; each subspace
# trains its own k=8 codebook (deterministic init = subvectors of the 8
# smallest vec_ids, 2 Lloyd rounds — the SIM6 machinery keyed by an extra
# `sub` column). A vector's code is then 4 bytes instead of 256, and query
# distance is approximated as the sum of 4 table lookups (ADC): the memory
# model that makes billion-vector search fit in RAM (Jegou et al., PAMI
# 2011). Every cross-row float reduction rides the decimal route, so
# training, encoding, the lookup table, and the final ranking are
# bit-identical across engines and cluster sizes.
# --------------------------------------------------------------------------

_PQ_SUBS = 4  # M subspaces
_PQ_SUBDIM = 16  # dims per subspace (4 x 16 = 64)
_PQ_K = 8  # codes per subspace
_PQ_ROUNDS = 2
_PQ_TOP_K = 10
_PQ_PROBE = 0  # query vector


def _sql_pq_round(r: int, prev_cent: str) -> str:
    """One Lloyd round per (vec, subspace): score -> assign (ties by code)
    -> decimal-exact per-(sub, code, dim) means."""
    d2 = sql_dsum(
        "(CAST(e.v AS DOUBLE) - c.c) * (CAST(e.v AS DOUBLE) - c.c)", scale=24
    )
    mean = sql_davg("CAST(e.v AS DOUBLE)", scale=18)
    return f"""
    ps{r} AS (
      SELECT e.vec_id, e.sub, c.cl, {d2} AS d2
      FROM pq_ex e JOIN {prev_cent} c ON e.i = c.i
      GROUP BY 1, 2, 3),
    pa{r} AS (
      SELECT vec_id, sub, cl FROM (
        SELECT vec_id, sub, cl,
               row_number() OVER (PARTITION BY vec_id, sub
                                  ORDER BY d2, cl) AS rn
        FROM ps{r}) WHERE rn = 1),
    pc{r} AS (
      SELECT a.cl, e.sub, e.i, {mean} AS c
      FROM pq_ex e JOIN pa{r} a ON e.vec_id = a.vec_id AND e.sub = a.sub
      GROUP BY 1, 2, 3)"""


def pq_build(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Train the 4x8 PQ codebooks (deterministic init, 2 decimal-exact Lloyd
    rounds — module comment) and encode every vector. Returns
    (codebook, codes): codebook is (cl, sub, i, c) — M*K*subdim rows,
    broadcastable; codes is (vec_id, sub, cl) — M rows per vector.

    Both frames are localCheckpointed and memoized on ``embeddings``: the
    offline-build / online-query split. Retraining per query would bury
    the ADC lookup's cost under Lloyd iterations; with the memo every
    later consumer (sim_pq_adc_topk after sim_pq_build, or a repeated
    query) reads the materialized codebook and codes directly."""
    return derived(
        spark, sf_dir, "pq_build", ("embeddings",), lambda: _train_pq(spark, sf_dir)
    )


def _train_pq(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    from pyspark.sql import Window

    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # materialized once: every Lloyd round's scoring AND means join back to
    # this frame, and without lineage truncation the DAG re-reads + re-
    # explodes the parquet once per reference (measured 11.7s -> ~4s at
    # sf0.1) — same discipline as GRAPH3's edge materialization
    ex = (
        emb.select("vec_id", F.posexplode("embedding").alias("i0", "v"))
        .select(
            "vec_id",
            (F.col("i0") + 1).alias("i"),
            (F.col("i0") / _PQ_SUBDIM).cast("long").alias("sub"),
            F.col("v").cast("double").alias("v"),
        )
        .localCheckpoint(eager=False)
    )
    # codebooks: (cl, i, c) — i encodes the subspace, so joins on i alone
    # are already subspace-aligned; `sub` rides along where grouping needs it
    cent = ex.filter(F.col("vec_id") < _PQ_K).select(
        F.col("vec_id").alias("cl"), "sub", "i", F.col("v").alias("c")
    )
    assign = None
    for r in range(_PQ_ROUNDS):
        diff = F.col("v") - F.col("c")
        scored = (
            ex.join(F.broadcast(cent.select("cl", "i", "c")), "i")
            .groupBy("vec_id", "sub", "cl")
            .agg(dsum(diff * diff, "d2", scale=24))
        )
        w = Window.partitionBy("vec_id", "sub").orderBy("d2", "cl")
        assign = (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vec_id", "sub", "cl")
        )
        # recompute after EVERY round (incl. the last): the ADC lookup
        # table must be built against the final means (oracle's pc2), not
        # the previous round's codebook
        cent = (
            ex.join(assign, ["vec_id", "sub"])
            .groupBy("cl", "sub", "i")
            .agg(davg("v", "c", scale=18))
        )
    return (
        cent.localCheckpoint(eager=False),
        assign.localCheckpoint(eager=False),
    )


def _pq_probe_lut(spark: SparkSession, sf_dir: str, cent: DataFrame) -> DataFrame:
    """ADC lookup table for the probe vector against a trained codebook:
    M x K rows of partial squared distances, built from the 1-row probe
    parquet slice — broadcastable, recomputed per query (it IS the per-query
    work in ADC search)."""
    probe = (
        table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == _PQ_PROBE)
        .select(F.posexplode("embedding").alias("i0", "v"))
        .select(
            (F.col("i0") + 1).alias("i"), F.col("v").cast("double").alias("qv")
        )
    )
    return (
        cent.select("sub", "cl", "i", "c")
        .join(F.broadcast(probe), "i")
        .groupBy("sub", "cl")
        .agg(
            dsum(
                (F.col("qv") - F.col("c")) * (F.col("qv") - F.col("c")),
                "lut_d2",
                scale=24,
            )
        )
    )


@register(
    "sim_pq_build",
    oracle=f"""
    WITH pq_ex AS (
      SELECT vec_id, i, (i - 1) // {_PQ_SUBDIM} AS sub, v FROM (
        SELECT vec_id, generate_subscripts(embedding, 1) AS i,
               CAST(unnest(embedding) AS DOUBLE) AS v
        FROM embeddings)),
    pc0 AS (
      SELECT vec_id AS cl, sub, i, v AS c
      FROM pq_ex WHERE vec_id < {_PQ_K}),
    {_sql_pq_round(1, "pc0")},
    {_sql_pq_round(2, "pc1")}
    SELECT vec_id,
           MAX(CASE WHEN sub = 0 THEN cl END) AS code_s0,
           MAX(CASE WHEN sub = 1 THEN cl END) AS code_s1,
           MAX(CASE WHEN sub = 2 THEN cl END) AS code_s2,
           MAX(CASE WHEN sub = 3 THEN cl END) AS code_s3
    FROM pa2
    GROUP BY vec_id
    ORDER BY vec_id
    """,
    tags=("SIM9",),
)
def sim_pq_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIM9's BUILD half as its own query (round-5 VERDICT ask #4,
    mirroring the SIM6/SIM2 IVF build/search pair): train the codebooks,
    encode the corpus, and report each vector's 4-byte code word — the
    persisted artifact an ADC query serves from. Same registered output
    shape as sim_ivf_build's assignment report.

    Scale shape: per Lloyd round two keyed shuffles of the exploded
    vector relation with the 512-row codebook broadcast (sim_pq_adc_topk's
    docstring has the full account); the code pivot is one hash aggregate
    on vec_id over M rows per vector."""
    _, assign = pq_build(spark, sf_dir)
    codes = [
        F.max(F.when(F.col("sub") == s, F.col("cl"))).alias(f"code_s{s}")
        for s in range(_PQ_SUBS)
    ]
    return assign.groupBy("vec_id").agg(*codes).orderBy("vec_id")


@register(
    "sim_pq_adc_topk",
    oracle=f"""
    WITH pq_ex AS (
      SELECT vec_id, i, (i - 1) // {_PQ_SUBDIM} AS sub, v FROM (
        SELECT vec_id, generate_subscripts(embedding, 1) AS i,
               CAST(unnest(embedding) AS DOUBLE) AS v
        FROM embeddings)),
    pc0 AS (
      SELECT vec_id AS cl, sub, i, v AS c
      FROM pq_ex WHERE vec_id < {_PQ_K}),
    {_sql_pq_round(1, "pc0")},
    {_sql_pq_round(2, "pc1")},
    lut AS (
      SELECT c.sub, c.cl,
             {sql_dsum("(q.v - c.c) * (q.v - c.c)", scale=24)} AS lut_d2
      FROM pc2 c
      JOIN pq_ex q ON q.i = c.i AND q.vec_id = {_PQ_PROBE}
      GROUP BY 1, 2),
    adc AS (
      SELECT a.vec_id,
             MAX(CASE WHEN a.sub = 0 THEN a.cl END) AS code_s0,
             MAX(CASE WHEN a.sub = 1 THEN a.cl END) AS code_s1,
             MAX(CASE WHEN a.sub = 2 THEN a.cl END) AS code_s2,
             MAX(CASE WHEN a.sub = 3 THEN a.cl END) AS code_s3,
             {sql_dsum("l.lut_d2", scale=24)} AS adc_d2
      FROM pa2 a JOIN lut l ON a.sub = l.sub AND a.cl = l.cl
      WHERE a.vec_id <> {_PQ_PROBE}
      GROUP BY 1)
    SELECT vec_id, code_s0, code_s1, code_s2, code_s3, adc_d2
    FROM adc
    ORDER BY adc_d2, vec_id
    LIMIT {_PQ_TOP_K}
    """,
    tags=("SIM9",),
)
def sim_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIM9: PQ-encode the corpus (4 subspaces x 8 codes, Lloyd-trained)
    and return the query's ADC top-10 with each hit's code word.

    Scale shape: training is SIM6's per-round two-shuffle pattern with the
    subspace as an extra grouping key — the codebook relation stays
    M x K x subdim rows (512 here) and BROADCASTS for scoring, so each
    round costs two keyed shuffles of the exploded vector relation and
    nothing else. Encoding reuses the final round's assignment; the ADC
    lookup table is M x K rows built against the 64-row probe slice, also
    broadcast; approximate distances then need only the 4-row-per-vector
    code relation — the corpus's full float vectors are never touched at
    query time, which is the entire point of PQ at 100 TB (4 bytes/vector
    resident instead of 256). The final top-10 is orderBy+limit =
    TakeOrderedAndProject, no single-partition exchange. Decimal-routed
    sums make ranking ties and all float folds engine- and
    partitioning-invariant.

    Since round 6 the training lives in pq_build (memoized, shared with
    sim_pq_build — the offline-build/online-query split, round-5 VERDICT
    ask #4): this query is the ONLINE half. It explodes one probe vector,
    builds the M x K lookup table against the codebook, and ranks the
    4-rows-per-vector code relation — once the index exists, no exchange
    here is proportional to corpus x dims.
    """
    cent, assign = pq_build(spark, sf_dir)
    lut = _pq_probe_lut(spark, sf_dir, cent)
    codes = [
        F.max(F.when(F.col("sub") == s, F.col("cl"))).alias(f"code_s{s}")
        for s in range(_PQ_SUBS)
    ]
    return (
        assign.filter(F.col("vec_id") != _PQ_PROBE)
        .join(F.broadcast(lut), ["sub", "cl"])
        .groupBy("vec_id")
        .agg(*codes, dsum("lut_d2", "adc_d2", scale=24))
        .orderBy("adc_d2", "vec_id")
        .limit(_PQ_TOP_K)
    )


# --------------------------------------------------------------------------
# SIM12 — IVF + PQ composite (IVFADC, Jegou et al. PAMI 2011 §IV): the
# coarse quantizer restricts search to the probe's cell, then PQ codes
# rank ONLY those candidates by ADC distance. This is the actual
# billion-vector serving architecture — IVF bounds how much is scanned,
# PQ bounds the bytes per scanned vector — composed here from the two
# index builds the registry already trains (sim_ivf_build's Lloyd coarse
# cells, pq_build's subspace codebooks).
# --------------------------------------------------------------------------


@register(
    "sim_ivfpq_topk",
    oracle=f"""
    WITH ex AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS i,
             unnest(embedding) AS v
      FROM embeddings),
    c0 AS (
      SELECT vec_id AS cl, i, CAST(v AS DOUBLE) AS c
      FROM ex WHERE vec_id < {_KM_K}),
    {_sql_km_round(1, "c0")},
    {_sql_km_round(2, "c1")},
    pq_ex AS (
      SELECT vec_id, i, (i - 1) // {_PQ_SUBDIM} AS sub,
             CAST(v AS DOUBLE) AS v
      FROM ex),
    pc0 AS (
      SELECT vec_id AS cl, sub, i, v AS c
      FROM pq_ex WHERE vec_id < {_PQ_K}),
    {_sql_pq_round(1, "pc0")},
    {_sql_pq_round(2, "pc1")},
    lut AS (
      SELECT c.sub, c.cl,
             {sql_dsum("(q.v - c.c) * (q.v - c.c)", scale=24)} AS lut_d2
      FROM pc2 c
      JOIN pq_ex q ON q.i = c.i AND q.vec_id = {_PQ_PROBE}
      GROUP BY 1, 2),
    pcell AS (SELECT cl FROM a2 WHERE vec_id = {_PQ_PROBE}),
    cand AS (
      SELECT a2.vec_id FROM a2 JOIN pcell ON a2.cl = pcell.cl
      WHERE a2.vec_id <> {_PQ_PROBE}),
    adc AS (
      SELECT a.vec_id, {sql_dsum("l.lut_d2", scale=24)} AS adc_d2
      FROM pa2 a
      JOIN lut l ON a.sub = l.sub AND a.cl = l.cl
      WHERE a.vec_id IN (SELECT vec_id FROM cand)
      GROUP BY 1)
    SELECT vec_id, adc_d2
    FROM adc
    ORDER BY adc_d2, vec_id
    LIMIT {_PQ_TOP_K}
    """,
    tags=("SIM12",),
)
def sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIM12: IVFADC search — top-10 by PQ asymmetric distance among the
    vectors sharing the probe's coarse IVF cell (module comment).

    Scale shape: both index halves are offline artifacts (the coarse
    assignment is sim_ivf_build's two-shuffle-per-round training; the PQ
    codes come from the memoized pq_build). At query time the probe's
    cell id and the M x K lookup table BROADCAST; the candidate set is one
    semi-join on the code relation — the exchanges carry cell-occupancy
    rows (corpus / n_cells), never the corpus, and never a float vector.
    Decimal-routed sums keep the ranking bit-identical to the oracle's
    re-derivation across engines and partitionings."""
    coarse = ivf_coarse_assign(spark, sf_dir).select(
        "vec_id", F.col("cl").alias("cluster")
    )
    pcell = coarse.filter(F.col("vec_id") == _PQ_PROBE).select(
        F.col("cluster").alias("pcell")
    )
    cand = (
        coarse.join(F.broadcast(pcell), F.col("cluster") == F.col("pcell"))
        .filter(F.col("vec_id") != _PQ_PROBE)
        .select("vec_id")
    )
    cent, assign = pq_build(spark, sf_dir)
    lut = _pq_probe_lut(spark, sf_dir, cent)
    return (
        assign.join(cand, "vec_id", "semi")
        .join(F.broadcast(lut), ["sub", "cl"])
        .groupBy("vec_id")
        .agg(dsum("lut_d2", "adc_d2", scale=24))
        .orderBy("adc_d2", "vec_id")
        .limit(_PQ_TOP_K)
    )


# --------------------------------------------------------------------------
# SIM13 — PQ recall audit: |ADC top-10 ∩ exact-L2 top-10| / 10. The same
# honest-accuracy contract SIM11 enforces for the IVF path (an approximate
# index with no registered accuracy metric is the D6 round-3 failure mode):
# ADC approximates SQUARED L2, so the exact reference is the full-scan L2
# top-k over the same probe, not SIM1's cosine ranking.
# --------------------------------------------------------------------------


def emb_l2sq(a: F.Column, b: F.Column) -> F.Column:
    """Squared L2 distance of two float vectors as a sequential double fold
    (same engine-identical evaluation-order contract as emb_dot)."""
    diffs = F.zip_with(
        a,
        b,
        lambda x, y: (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double")),
    )
    return F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x)


def sql_emb_l2sq(a: str, b: str) -> str:
    """Oracle-side rendering of :func:`emb_l2sq` — left-to-right fold over
    the zipped pair list, matching Spark's aggregate order."""
    return (
        f"list_reduce(list_transform(list_zip({a}, {b}),"
        " p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))"
        " * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))),"
        " (acc, x) -> acc + x)"
    )


@register(
    "sim_pq_recall_report",
    oracle=f"""
    WITH q AS (
      SELECT embedding AS q_emb FROM embeddings WHERE vec_id = {_PQ_PROBE}),
    exact_top AS (
      SELECT e.vec_id
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> {_PQ_PROBE}
      ORDER BY {sql_emb_l2sq('e.embedding', 'q.q_emb')}, e.vec_id
      LIMIT {_PQ_TOP_K}),
    pq_ex AS (
      SELECT vec_id, i, (i - 1) // {_PQ_SUBDIM} AS sub, v FROM (
        SELECT vec_id, generate_subscripts(embedding, 1) AS i,
               CAST(unnest(embedding) AS DOUBLE) AS v
        FROM embeddings)),
    pc0 AS (
      SELECT vec_id AS cl, sub, i, v AS c
      FROM pq_ex WHERE vec_id < {_PQ_K}),
    {_sql_pq_round(1, "pc0")},
    {_sql_pq_round(2, "pc1")},
    lut AS (
      SELECT c.sub, c.cl,
             {sql_dsum("(q.v - c.c) * (q.v - c.c)", scale=24)} AS lut_d2
      FROM pc2 c
      JOIN pq_ex q ON q.i = c.i AND q.vec_id = {_PQ_PROBE}
      GROUP BY 1, 2),
    adc_top AS (
      SELECT vec_id FROM (
        SELECT a.vec_id, {sql_dsum("l.lut_d2", scale=24)} AS adc_d2
        FROM pa2 a JOIN lut l ON a.sub = l.sub AND a.cl = l.cl
        WHERE a.vec_id <> {_PQ_PROBE}
        GROUP BY 1)
      ORDER BY adc_d2, vec_id
      LIMIT {_PQ_TOP_K})
    SELECT CAST({_PQ_TOP_K} AS BIGINT) AS k,
           (SELECT COUNT(*) FROM exact_top) AS n_exact,
           (SELECT COUNT(*) FROM adc_top) AS n_adc,
           (SELECT COUNT(*) FROM exact_top e
             JOIN adc_top a ON e.vec_id = a.vec_id) AS n_overlap,
           CAST((SELECT COUNT(*) FROM exact_top e
                  JOIN adc_top a ON e.vec_id = a.vec_id) AS DOUBLE)
             / {_PQ_TOP_K} AS recall_at_k
    """,
    tags=("SIM13",),
)
def sim_pq_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIM13: one-row recall@10 report for the PQ/ADC path (module
    comment) — the per-build audit a deployment runs before serving
    approximate distances: two top-k searches and a k-row join, cheap by
    construction at any scale.

    The exact side is a single-pass full-scan L2 top-k (zip_with fold +
    TakeOrderedAndProject, the SIM1 plan with a different metric); the
    approximate side is sim_pq_adc_topk's online query against the
    memoized index. Both ID sets are 10-row localCheckpoints so the
    overlap join and the counts don't re-run either search.

    Measured finding this report exists to surface: recall@10 = 0.4 at
    sf0.01 — 4 subspaces x 8 codes is a 4-byte code over a 64-dim
    isotropic synthetic corpus, so quantization error dominates the
    neighbor margins; a production build would raise K (8 bits/subspace
    is the Jegou et al. default, not 3) or re-rank ADC candidates with
    exact distances. An approximate path with no registered accuracy
    metric was the D6 round-3 failure mode."""
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = F.broadcast(
        emb.filter(F.col("vec_id") == _PQ_PROBE).select(
            F.col("embedding").alias("q_emb")
        )
    )
    exact_ids = (
        emb.filter(F.col("vec_id") != _PQ_PROBE)
        .crossJoin(q)
        .select("vec_id", emb_l2sq(F.col("embedding"), F.col("q_emb")).alias("d2"))
        .orderBy("d2", "vec_id")
        .limit(_PQ_TOP_K)
        .select("vec_id")
        .localCheckpoint(eager=False)
    )
    adc_ids = (
        sim_pq_adc_topk(spark, sf_dir)
        .select(F.col("vec_id").alias("v2"))
        .localCheckpoint(eager=False)
    )
    overlap = exact_ids.join(adc_ids, exact_ids.vec_id == F.col("v2"))
    return (
        exact_ids.agg(F.count(F.lit(1)).alias("n_exact"))
        .crossJoin(adc_ids.agg(F.count(F.lit(1)).alias("n_adc")))
        .crossJoin(overlap.agg(F.count(F.lit(1)).alias("n_overlap")))
        .select(
            F.lit(_PQ_TOP_K).cast("long").alias("k"),
            "n_exact",
            "n_adc",
            "n_overlap",
            (F.col("n_overlap").cast("double") / F.lit(_PQ_TOP_K)).alias(
                "recall_at_k"
            ),
        )
    )


# --------------------------------------------------------------------------
# SIM10 — k-NN label classification eval: the retrieval-quality metric on
# top of SIM4's exact k-NN join. Each probe is classified by majority vote
# among its 5 nearest neighbors' labels (ties to the smaller label); the
# report compares prediction to the probe's own label. This is the
# standard embedding-quality probe (kNN accuracy) run entirely as
# relational ops — no model, no UDF.
# --------------------------------------------------------------------------

_EVAL_N_PROBES = 10
_EVAL_K = 5


@register(
    "sim_knn_label_eval",
    oracle=f"""
    WITH norms AS ({SQL_EMB_NORMS}),
    eprobes AS (
      SELECT vec_id AS probe_id, embedding AS p_emb, label AS true_label
      FROM embeddings WHERE vec_id < {_EVAL_N_PROBES}),
    escored AS (
      SELECT p.probe_id, e.vec_id, e.label,
             {sql_emb_dot('e.embedding', 'p.p_emb')}
               / NULLIF(sqrt(n.n2) * sqrt(pn.n2), 0.0) AS cosine
      FROM eprobes p
      CROSS JOIN embeddings e
      JOIN norms n  ON e.vec_id = n.vec_id
      JOIN norms pn ON p.probe_id = pn.vec_id
      WHERE e.vec_id <> p.probe_id),
    eranked AS (
      SELECT probe_id, vec_id, label,
             row_number() OVER (PARTITION BY probe_id
                                ORDER BY cosine DESC, vec_id) AS rnk
      FROM escored),
    votes AS (
      SELECT probe_id, label, COUNT(*) AS n_votes
      FROM eranked WHERE rnk <= {_EVAL_K}
      GROUP BY 1, 2),
    pred AS (
      SELECT probe_id, label AS predicted_label, n_votes FROM (
        SELECT probe_id, label, n_votes,
               row_number() OVER (PARTITION BY probe_id
                                  ORDER BY n_votes DESC, label) AS vr
        FROM votes) WHERE vr = 1)
    SELECT p.probe_id,
           CAST(b.true_label AS BIGINT) AS true_label,
           CAST(p.predicted_label AS BIGINT) AS predicted_label,
           p.n_votes,
           p.predicted_label = b.true_label AS correct
    FROM pred p JOIN eprobes b ON p.probe_id = b.probe_id
    ORDER BY p.probe_id
    """,
    tags=("SIM10",),
)
def sim_knn_label_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIM10: per-probe kNN(5) majority-vote classification vs the probe's
    own label (module comment).

    Same plan family as SIM4: probe batch broadcasts, corpus scores
    map-side, per-probe top-k via the group-limit window; the vote is one
    tiny (probe, label) aggregation over k*probes rows and the majority
    pick is a second window with a total (votes DESC, label) order so ties
    are deterministic. Cosines use the sequential fold (engine-identical),
    so neighbor sets — and therefore the whole eval — are bit-stable."""
    from pyspark.sql import Window

    emb = table(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    probes = emb.filter(F.col("vec_id") < _EVAL_N_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("p_emb"),
        F.col("label").alias("true_label"),
        emb_norm2(F.col("embedding")).alias("p_n2"),
    )
    scored = (
        emb.withColumn("n2", emb_norm2(F.col("embedding")))
        .crossJoin(F.broadcast(probes.select("probe_id", "p_emb", "p_n2")))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "vec_id",
            "label",
            (
                emb_dot(F.col("embedding"), F.col("p_emb"))
                / F.nullif((F.sqrt(F.col("n2")) * F.sqrt(F.col("p_n2"))), F.lit(0.0))
            ).alias("cosine"),
        )
    )
    wr = Window.partitionBy("probe_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    votes = (
        scored.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= _EVAL_K)
        .groupBy("probe_id", "label")
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    wv = Window.partitionBy("probe_id").orderBy(F.desc("n_votes"), F.asc("label"))
    pred = (
        votes.withColumn("vr", F.row_number().over(wv))
        .filter(F.col("vr") == 1)
        .select(
            "probe_id", F.col("label").alias("predicted_label"), "n_votes"
        )
    )
    return (
        pred.join(F.broadcast(probes.select("probe_id", "true_label")), "probe_id")
        .select(
            "probe_id",
            F.col("true_label").cast("long").alias("true_label"),
            F.col("predicted_label").cast("long").alias("predicted_label"),
            "n_votes",
            (F.col("predicted_label") == F.col("true_label")).alias("correct"),
        )
        .orderBy("probe_id")
    )


# --------------------------------------------------------------------------
# SIM11 — ANN quality report: recall@10 of the IVF probe search against
# the exact brute-force top-10, as a REGISTERED query. SIM8's LSH recall
# lives in a unit test; making the IVF recall a driver-checked report
# means the accuracy of the approximate path is itself part of the
# correctness surface — the eval every production ANN deployment runs
# before trusting an index. Both rankings are deterministic (sequential-
# fold cosines, vec_id tie-breaks), so the overlap count is exact.
# --------------------------------------------------------------------------


@register(
    "sim_ivf_recall_report",
    oracle=f"""
    WITH q AS ({_SQL_Q}),
    norms AS ({SQL_EMB_NORMS}),
    exact_dots AS (
      SELECT e.vec_id, {sql_emb_dot('e.embedding', 'q.q_emb')} AS dot
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> {_QUERY_VEC_ID}),
    exact_top AS (
      SELECT d.vec_id
      FROM exact_dots d
      JOIN norms n ON d.vec_id = n.vec_id
      CROSS JOIN (SELECT n2 FROM norms WHERE vec_id = {_QUERY_VEC_ID}) qn
      ORDER BY d.dot / NULLIF(sqrt(n.n2) * sqrt(qn.n2), 0.0) DESC, d.vec_id
      LIMIT {_TOP_K}),
    {_SQL_IVF_CELL_CTES},
    ivf_dots AS (
      SELECT e.vec_id, {sql_emb_dot('e.embedding', 'q.q_emb')} AS dot
      FROM embeddings e
      JOIN cell ON e.label = cell.label
      CROSS JOIN q
      WHERE e.vec_id <> {_QUERY_VEC_ID}),
    ivf_top AS (
      SELECT d.vec_id
      FROM ivf_dots d
      JOIN norms n ON d.vec_id = n.vec_id
      CROSS JOIN (SELECT n2 FROM norms WHERE vec_id = {_QUERY_VEC_ID}) qn
      ORDER BY d.dot / NULLIF(sqrt(n.n2) * sqrt(qn.n2), 0.0) DESC, d.vec_id
      LIMIT {_TOP_K})
    SELECT CAST({_TOP_K} AS BIGINT) AS k,
           (SELECT COUNT(*) FROM exact_top) AS n_exact,
           (SELECT COUNT(*) FROM ivf_top) AS n_ivf,
           (SELECT COUNT(*) FROM exact_top e
             JOIN ivf_top i ON e.vec_id = i.vec_id) AS n_overlap,
           CAST((SELECT COUNT(*) FROM exact_top e
                  JOIN ivf_top i ON e.vec_id = i.vec_id) AS DOUBLE)
             / {_TOP_K} AS recall_at_k
    """,
    tags=("SIM11",),
)
def sim_ivf_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIM11: one-row recall@10 report — |IVF top-10 ∩ exact top-10| / 10
    for the standing query vector (module comment).

    Executes both searches exactly as their standalone operators do (SIM1
    brute force, SIM2 nprobe=2 IVF) and joins the two 10-row ID sets; at
    100 TB this is the cheap-by-construction audit (two top-k results,
    k-row join) you run per index build to decide whether nprobe/cell
    sizing is adequate before cutting search traffic over.

    Measured finding this report exists to surface: on the synthetic
    corpus, recall@10 is 0.3 at every SF — the `label` column used as the
    coarse quantizer is nearly orthogonal to the cosine geometry (the same
    reason SIM10's kNN label accuracy is low), so a production deployment
    of this index would need trained cells (SIM6) or more probes. A
    vacuously-green approximate path with no registered accuracy metric
    was exactly the D6 failure mode in rounds 1-3."""
    # the two top-10 frames are each referenced twice (overlap join + own
    # count); without materialization every reference re-runs the whole
    # search lineage — checkpointing 10-row frames costs nothing
    exact_ids = (
        sim_topk_bruteforce(spark, sf_dir).select("vec_id").localCheckpoint(eager=False)
    )
    ivf_ids = (
        sim_ivf_topk(spark, sf_dir)
        .select(F.col("vec_id").alias("v2"))
        .localCheckpoint(eager=False)
    )
    overlap = exact_ids.join(ivf_ids, exact_ids.vec_id == F.col("v2"))
    return (
        exact_ids.agg(F.count(F.lit(1)).alias("n_exact"))
        .crossJoin(ivf_ids.agg(F.count(F.lit(1)).alias("n_ivf")))
        .crossJoin(overlap.agg(F.count(F.lit(1)).alias("n_overlap")))
        .select(
            F.lit(_TOP_K).cast("long").alias("k"),
            "n_exact",
            "n_ivf",
            "n_overlap",
            (F.col("n_overlap").cast("double") / F.lit(_TOP_K)).alias(
                "recall_at_k"
            ),
        )
    )


# --------------------------------------------------------------------------
# SIM14 — truncated-dimension recall: rank by cosine over only the FIRST
# _TRUNC_DIMS embedding dimensions and report overlap with the full-vector
# top-k. This is the evaluation behind Matryoshka-style dimension
# truncation (Kusupati et al. 2022): if a prefix preserves the neighbor
# set, the index can store (and shuffle) a fraction of the bytes — at
# 100 TB of vectors, the difference between 64 and 16 resident floats per
# vector is the difference between fitting in cluster RAM or not. Like
# SIM11/SIM13, the metric is cheap by construction: two top-k searches
# and a k-row join.
# --------------------------------------------------------------------------

_TRUNC_DIMS = 16


@register(
    "sim_truncated_dim_recall",
    oracle=f"""
    WITH q AS (
      SELECT embedding AS q_emb FROM embeddings WHERE vec_id = {_QUERY_VEC_ID}),
    norms AS ({SQL_EMB_NORMS}),
    full_top AS (
      SELECT d.vec_id FROM (
        SELECT e.vec_id, {sql_emb_dot('e.embedding', 'q.q_emb')} AS dot
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id <> {_QUERY_VEC_ID}) d
      JOIN norms n ON d.vec_id = n.vec_id
      CROSS JOIN (SELECT n2 FROM norms WHERE vec_id = {_QUERY_VEC_ID}) qn
      ORDER BY d.dot / NULLIF(sqrt(n.n2) * sqrt(qn.n2), 0.0) DESC, d.vec_id
      LIMIT {_TOP_K}),
    trunc_top AS (
      SELECT e.vec_id
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> {_QUERY_VEC_ID}
      ORDER BY {sql_emb_dot(f'e.embedding[1:{_TRUNC_DIMS}]', f'q.q_emb[1:{_TRUNC_DIMS}]')}
               / NULLIF(sqrt({sql_emb_dot(f'e.embedding[1:{_TRUNC_DIMS}]', f'e.embedding[1:{_TRUNC_DIMS}]')})
                  * sqrt({sql_emb_dot(f'q.q_emb[1:{_TRUNC_DIMS}]', f'q.q_emb[1:{_TRUNC_DIMS}]')}), 0.0) DESC,
               e.vec_id
      LIMIT {_TOP_K})
    SELECT CAST({_TOP_K} AS BIGINT) AS k,
           CAST({_TRUNC_DIMS} AS BIGINT) AS n_dims_trunc,
           (SELECT COUNT(*) FROM full_top) AS n_full,
           (SELECT COUNT(*) FROM trunc_top) AS n_trunc,
           (SELECT COUNT(*) FROM full_top f
             JOIN trunc_top t ON f.vec_id = t.vec_id) AS n_overlap,
           CAST((SELECT COUNT(*) FROM full_top f
                  JOIN trunc_top t ON f.vec_id = t.vec_id) AS DOUBLE)
             / {_TOP_K} AS recall_at_k
    """,
    tags=("SIM14",),
)
def sim_truncated_dim_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIM14: recall@10 of prefix-truncated (16 of 64 dims) cosine ranking
    against the full-vector exact top-10 (module comment).

    Both searches are the SIM1 plan — single scan, sequential-fold cosine
    inside codegen, TakeOrderedAndProject — the truncated side just
    slices the array before folding, which is exactly what a
    reduced-dimension index would persist. ID sets are 10-row
    localCheckpoints; the report is a k-row join. Engine-identical folds
    make both rankings and therefore the recall bit-stable.

    Measured finding this report exists to surface: recall@10 = 0.1 at
    sf0.01 — the synthetic embeddings are ISOTROPIC, so a 16-dim prefix
    carries no privileged variance and truncation destroys the neighbor
    set. Real Matryoshka-trained embeddings concentrate information in
    the prefix precisely so this number stays high; run this audit before
    truncating any production index."""
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # probe norms (full and truncated) computed ONCE in the 1-row broadcast
    # frame, like SIM1's q_n2 — not re-folded per candidate row
    q = F.broadcast(
        emb.filter(F.col("vec_id") == _QUERY_VEC_ID).select(
            F.col("embedding").alias("q_emb"),
            emb_norm2(F.col("embedding")).alias("q_n2"),
            emb_norm2(F.slice("embedding", 1, _TRUNC_DIMS)).alias("q_n2_t"),
        )
    )
    cand = emb.filter(F.col("vec_id") != _QUERY_VEC_ID).crossJoin(q)

    def topk(vec: F.Column, qv: F.Column, q_n2: F.Column) -> DataFrame:
        cosine = emb_dot(vec, qv) / F.nullif((F.sqrt(emb_dot(vec, vec)) * F.sqrt(q_n2)), F.lit(0.0))
        return (
            cand.select("vec_id", cosine.alias("cosine"))
            .orderBy(F.desc("cosine"), F.asc("vec_id"))
            .limit(_TOP_K)
            .select("vec_id")
            .localCheckpoint(eager=False)
        )

    full_ids = topk(F.col("embedding"), F.col("q_emb"), F.col("q_n2"))
    trunc_ids = topk(
        F.slice("embedding", 1, _TRUNC_DIMS),
        F.slice("q_emb", 1, _TRUNC_DIMS),
        F.col("q_n2_t"),
    ).select(F.col("vec_id").alias("v2"))
    overlap = full_ids.join(trunc_ids, full_ids.vec_id == F.col("v2"))
    return (
        full_ids.agg(F.count(F.lit(1)).alias("n_full"))
        .crossJoin(trunc_ids.agg(F.count(F.lit(1)).alias("n_trunc")))
        .crossJoin(overlap.agg(F.count(F.lit(1)).alias("n_overlap")))
        .select(
            F.lit(_TOP_K).cast("long").alias("k"),
            F.lit(_TRUNC_DIMS).cast("long").alias("n_dims_trunc"),
            "n_full",
            "n_trunc",
            "n_overlap",
            (F.col("n_overlap").cast("double") / F.lit(_TOP_K)).alias(
                "recall_at_k"
            ),
        )
    )


# --------------------------------------------------------------------------
# SIM15 — SemDeDup: semantic dedup via cluster-then-prune (Abbas et al.
# 2023, "SemDeDup: Data-efficient learning at web-scale through semantic
# deduplication"). The coarse k-means cells trained by SIM6 become the
# BLOCKING structure: candidate pairs are generated only within a cell,
# never across the corpus, and a vector is pruned when a lower-id vector
# in its cell sits within the cosine threshold.
# --------------------------------------------------------------------------

_SEMDEDUP_TAU = 0.45  # same non-trivial threshold as D5/D6 on the
# synthetic isotropic embeddings; production corpora use ~0.95+


@register(
    "dedup_semantic_prune",
    oracle=f"""
    WITH ex AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS i,
             unnest(embedding) AS v
      FROM embeddings),
    c0 AS (
      SELECT vec_id AS cl, i, CAST(v AS DOUBLE) AS c
      FROM ex WHERE vec_id < {_KM_K}),
    {_sql_km_round(1, "c0")},
    {_sql_km_round(2, "c1")},
    norms AS ({SQL_EMB_NORMS}),
    cand AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM a2 a JOIN a2 b ON a.cl = b.cl AND a.vec_id < b.vec_id),
    dups AS (
      SELECT DISTINCT c.vec_b AS vec_id
      FROM cand c
      JOIN embeddings ea ON ea.vec_id = c.vec_a
      JOIN embeddings eb ON eb.vec_id = c.vec_b
      JOIN norms na ON c.vec_a = na.vec_id
      JOIN norms nb ON c.vec_b = nb.vec_id
      WHERE {sql_emb_dot('ea.embedding', 'eb.embedding')}
              / NULLIF(sqrt(na.n2) * sqrt(nb.n2), 0.0) >= {_SEMDEDUP_TAU})
    SELECT a.vec_id, a.cl AS cluster, d.vec_id IS NULL AS kept
    FROM a2 a LEFT JOIN dups d ON a.vec_id = d.vec_id
    ORDER BY a.vec_id
    """,
    tags=("SIM15",),
)
def dedup_semantic_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic dedup: cluster embeddings with the SIM6-trained
    coarse quantizer, then within each cluster drop every vector whose
    cosine to some LOWER-id vector in the same cluster reaches tau (the
    paper keeps one exemplar per epsilon-ball; min-id is the deterministic,
    oracle-expressible exemplar rule). Returns every vector with its
    cluster and a kept flag — the curation layer consumes `kept`.

    Spark shape: the memoized Lloyd assignment (ivf_coarse_assign — an
    offline index artifact, trained once per corpus) is self-joined on the
    cluster id, so candidate generation is CELL-LOCAL: the only exchange
    over the corpus is the hash partition on cl, and pair count is
    sum(n_c^2) rather than n^2. The exact-cosine verify tail is D5/D6's
    shared cosine_of_pairs (sequential zip_with fold inside codegen, no
    positional explode). At 100 TB the paper's own scale lever applies:
    k grows with the corpus (~sqrt(n) cells of ~sqrt(n) vectors) so cells
    stay bounded; k=8 here only keeps the 2-Lloyd-round oracle tractable.
    Skewed cells are AQE's skew-join case; the pair join never leaves a
    cell."""
    from .dedup import cosine_of_pairs

    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    assign = ivf_coarse_assign(spark, sf_dir)
    a = assign.select(F.col("vec_id").alias("vec_a"), "cl")
    b = assign.select(F.col("vec_id").alias("vec_b"), "cl")
    cand = (
        a.join(b, "cl")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
    )
    dups = (
        cosine_of_pairs(cand, emb)
        .filter(F.col("cosine") >= _SEMDEDUP_TAU)
        .select(F.col("vec_b").alias("vec_id"))
        .distinct()
        .withColumn("dup", F.lit(True))
    )
    return (
        # shuffle_hash (r12): dups (the pruned subset) is the smaller
        # side; without the hint the stats-less frames plan sort-merge
        assign.join(dups.hint("shuffle_hash"), "vec_id", "left")
        .select(
            "vec_id",
            F.col("cl").alias("cluster"),
            F.col("dup").isNull().alias("kept"),
        )
        .orderBy("vec_id")
    )


# --------------------------------------------------------------------------
# SIM16 — two-stage Matryoshka retrieval: truncated-dimension candidate
# generation + full-vector re-rank. SIM14 measured what a truncated index
# LOSES (recall@10 = 0.1 on these isotropic vectors); this operator is the
# standard production answer: scan cheaply in the truncated space, keep a
# candidate pool k' >> k, then re-rank only the pool with full vectors.
# At 100 TB the first stage touches _TRUNC_DIMS/64 of the bytes per
# vector and the second stage touches _RERANK_POOL rows — the full-vector
# corpus is never scanned at query time.
# --------------------------------------------------------------------------

_RERANK_POOL = 50


@register(
    "sim_matryoshka_rerank",
    oracle=f"""
    WITH q AS (
      SELECT embedding AS q_emb FROM embeddings WHERE vec_id = {_QUERY_VEC_ID}),
    norms AS ({SQL_EMB_NORMS}),
    pool AS (
      SELECT e.vec_id
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> {_QUERY_VEC_ID}
      ORDER BY {sql_emb_dot(f'e.embedding[1:{_TRUNC_DIMS}]', f'q.q_emb[1:{_TRUNC_DIMS}]')}
               / NULLIF(sqrt({sql_emb_dot(f'e.embedding[1:{_TRUNC_DIMS}]', f'e.embedding[1:{_TRUNC_DIMS}]')})
                  * sqrt({sql_emb_dot(f'q.q_emb[1:{_TRUNC_DIMS}]', f'q.q_emb[1:{_TRUNC_DIMS}]')}), 0.0) DESC,
               e.vec_id
      LIMIT {_RERANK_POOL}),
    rer AS (
      SELECT e.vec_id,
             {sql_emb_dot('e.embedding', 'q.q_emb')}
               / NULLIF(sqrt(n.n2) * sqrt(qn.n2), 0.0) AS cosine_full
      FROM pool p
      JOIN embeddings e ON e.vec_id = p.vec_id
      CROSS JOIN q
      JOIN norms n ON e.vec_id = n.vec_id
      CROSS JOIN (SELECT n2 FROM norms
                  WHERE vec_id = {_QUERY_VEC_ID}) qn),
    rtop AS (
      SELECT vec_id, cosine_full,
             row_number() OVER (ORDER BY cosine_full DESC, vec_id) AS rnk
      FROM rer),
    exact_top AS (
      SELECT d.vec_id FROM (
        SELECT e.vec_id, {sql_emb_dot('e.embedding', 'q.q_emb')} AS dot
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id <> {_QUERY_VEC_ID}) d
      JOIN norms n ON d.vec_id = n.vec_id
      CROSS JOIN (SELECT n2 FROM norms
                  WHERE vec_id = {_QUERY_VEC_ID}) qn
      ORDER BY d.dot / NULLIF(sqrt(n.n2) * sqrt(qn.n2), 0.0) DESC, d.vec_id
      LIMIT {_TOP_K})
    SELECT CAST(r.rnk AS BIGINT) AS rnk, r.vec_id, r.cosine_full,
           x.vec_id IS NOT NULL AS in_exact
    FROM rtop r LEFT JOIN exact_top x ON r.vec_id = x.vec_id
    WHERE r.rnk <= {_TOP_K}
    ORDER BY r.rnk
    """,
    tags=("SIM16",),
)
def sim_matryoshka_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIM16: top-10 neighbors of the probe via two-stage retrieval —
    stage 1 ranks the corpus by 16-of-64-dim truncated cosine and keeps a
    50-candidate pool, stage 2 re-ranks ONLY the pool by full-vector
    cosine. Each row carries an `in_exact` flag against the exact
    full-vector top-10, so the report quantifies how much of SIM14's
    truncation loss the re-rank recovers at pool size 50 (measured at
    sf0.01: 3/10 vs the truncated-only 1/10 — the isotropic synthetic
    embeddings are the worst case for prefix truncation, SIM14's
    docstring has the account; Matryoshka-trained vectors recover far
    more).

    Spark shape: stage 1 is SIM1's plan over sliced arrays (single scan,
    broadcast 1-row probe, sequential fold in codegen,
    TakeOrderedAndProject — a real truncated index would persist the
    16-dim prefix and scan 4x fewer bytes); the pool is a 50-row
    localCheckpoint, and stage 2 joins it back to the corpus by vec_id —
    AQE broadcasts the 50 ids, so the re-rank reads full vectors for 50
    rows, not the corpus. The exact-top audit side is the same SIM1 plan.
    Probe norms (full + truncated) are computed once in the broadcast
    frame; identical folds on both engines make every cosine and both
    rankings bit-stable."""
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = F.broadcast(
        emb.filter(F.col("vec_id") == _QUERY_VEC_ID).select(
            F.col("embedding").alias("q_emb"),
            emb_norm2(F.col("embedding")).alias("q_n2"),
            emb_norm2(F.slice("embedding", 1, _TRUNC_DIMS)).alias("q_n2_t"),
        )
    )
    cand = emb.filter(F.col("vec_id") != _QUERY_VEC_ID).crossJoin(q)
    e_t = F.slice("embedding", 1, _TRUNC_DIMS)
    cos_t = emb_dot(e_t, F.slice("q_emb", 1, _TRUNC_DIMS)) / F.nullif((
        F.sqrt(emb_dot(e_t, e_t)) * F.sqrt("q_n2_t")
    ), F.lit(0.0))
    pool = (
        cand.select("vec_id", cos_t.alias("cos_t"))
        .orderBy(F.desc("cos_t"), F.asc("vec_id"))
        .limit(_RERANK_POOL)
        .select("vec_id")
        .localCheckpoint(eager=False)
    )
    cos_f = emb_dot(F.col("embedding"), F.col("q_emb")) / F.nullif((
        F.sqrt(emb_dot(F.col("embedding"), F.col("embedding")))
        * F.sqrt("q_n2")
    ), F.lit(0.0))
    rer = (
        pool.join(emb, "vec_id")
        .crossJoin(q)
        .select("vec_id", cos_f.alias("cosine_full"))
    )
    from pyspark.sql import Window

    rtop = rer.withColumn(
        "rnk",
        F.row_number().over(
            Window.orderBy(F.desc("cosine_full"), F.asc("vec_id"))
        ),
    ).filter(F.col("rnk") <= _TOP_K)
    exact_top = (
        cand.select("vec_id", cos_f.alias("cos"))
        .orderBy(F.desc("cos"), F.asc("vec_id"))
        .limit(_TOP_K)
        .select("vec_id", F.lit(True).alias("hit"))
    )
    return (
        rtop.join(exact_top, "vec_id", "left")
        .select(
            F.col("rnk").cast("long").alias("rnk"),
            "vec_id",
            "cosine_full",
            F.coalesce(F.col("hit"), F.lit(False)).alias("in_exact"),
        )
        .orderBy("rnk")
    )


# --------------------------------------------------------------------------
# SIM17 — incremental index maintenance: assign an INCOMING batch of
# vectors to an already-trained coarse quantizer WITHOUT retraining. The
# 100 TB vector corpus grows continuously; re-running Lloyd on every
# arrival is impossible, so production IVF systems append by scoring new
# vectors against the frozen centroids and updating posting-list sizes.
# Base corpus = vec_id % 10 != 7 (the index that exists); incoming batch
# = vec_id % 10 == 7. The quantizer trains on the BASE ONLY (deterministic
# init: the 8 smallest base vec_ids), so batch vectors are genuinely
# unseen by the index they join.
# --------------------------------------------------------------------------

_INC_MOD = 10
_INC_REM = 7

def _ivf_base_index(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Train the k=8 coarse quantizer on the BASE corpus (module comment)
    and return (assign, cent): the final (vec_id, cl) assignment and the
    final decimal-exact per-dimension means (cl, i, c) — the frozen index
    artifact SIM17's online add consumes. Same Lloyd machinery as SIM6
    (broadcast centroids, two keyed shuffles per unrolled round), one
    extra means aggregation at the end because the incremental assign
    needs the POST-final-assignment centroids (the oracle's c2).

    Both frames are localCheckpointed and memoized on ``embeddings``: the
    frozen index is what every online add joins, so an add never re-pays
    the base corpus's Lloyd rounds."""
    return derived(
        spark, sf_dir, "ivf_base_index", ("embeddings",),
        lambda: _train_ivf_base(spark, sf_dir),
    )


def _train_ivf_base(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    from pyspark.sql import Window

    base = (
        table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .filter(F.col("vec_id") % _INC_MOD != _INC_REM)
    )
    ex = (
        base.select("vec_id", F.posexplode("embedding").alias("i0", "v"))
        .select(
            "vec_id",
            (F.col("i0") + 1).alias("i"),
            F.col("v").cast("double").alias("v"),
        )
        .localCheckpoint(eager=False)
    )
    # init: the 8 smallest BASE ids (TakeOrdered, not a global sort), as a
    # broadcast semi-join against the exploded relation
    init = base.select("vec_id").orderBy("vec_id").limit(_KM_K)
    cent = ex.join(F.broadcast(init), "vec_id", "semi").select(
        F.col("vec_id").alias("cl"), "i", F.col("v").alias("c")
    )
    assign = None
    for _ in range(_KM_ROUNDS):
        diff = F.col("v") - F.col("c")
        scored = (
            ex.join(F.broadcast(cent), "i")
            .groupBy("vec_id", "cl")
            .agg(dsum(diff * diff, "d2", scale=24))
        )
        w = Window.partitionBy("vec_id").orderBy("d2", "cl")
        assign = (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vec_id", "cl")
        )
        # recompute after EVERY round including the last: the frozen index
        # centroid must reflect the final assignment (oracle c2), exactly
        # as SIM9's PQ build does
        cent = (
            ex.join(assign, "vec_id")
            .groupBy("cl", "i")
            .agg(davg("v", "c", scale=18))
        )
    return (
        assign.localCheckpoint(eager=False),
        cent.localCheckpoint(eager=False),
    )


@register(
    "sim_ivf_incremental_add",
    oracle=f"""
    WITH ex AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS i,
             unnest(embedding) AS v
      FROM embeddings WHERE vec_id % {_INC_MOD} != {_INC_REM}),
    init AS (
      SELECT vec_id FROM embeddings
      WHERE vec_id % {_INC_MOD} != {_INC_REM}
      ORDER BY vec_id LIMIT {_KM_K}),
    c0 AS (
      SELECT vec_id AS cl, i, CAST(v AS DOUBLE) AS c
      FROM ex WHERE vec_id IN (SELECT vec_id FROM init)),
    {_sql_km_round(1, "c0")},
    {_sql_km_round(2, "c1")},
    bx AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS i,
             unnest(embedding) AS v
      FROM embeddings WHERE vec_id % {_INC_MOD} = {_INC_REM}),
    sb AS (
      SELECT e.vec_id, c.cl,
             {sql_dsum("(CAST(e.v AS DOUBLE) - c.c) * (CAST(e.v AS DOUBLE) - c.c)", scale=24)} AS d2
      FROM bx e JOIN c2 c ON e.i = c.i
      GROUP BY 1, 2),
    ab AS (
      SELECT vec_id, cl FROM (
        SELECT vec_id, cl,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rn
        FROM sb) WHERE rn = 1),
    old AS (SELECT cl, COUNT(*) AS old_size FROM a2 GROUP BY 1),
    added AS (SELECT cl, COUNT(*) AS n_added FROM ab GROUP BY 1)
    SELECT COALESCE(o.cl, n.cl) AS cluster,
           CAST(COALESCE(o.old_size, 0) AS BIGINT) AS old_size,
           CAST(COALESCE(n.n_added, 0) AS BIGINT) AS n_added,
           CAST(COALESCE(o.old_size, 0) + COALESCE(n.n_added, 0) AS BIGINT)
             AS new_size
    FROM old o FULL OUTER JOIN added n ON o.cl = n.cl
    ORDER BY cluster
    """,
    tags=("SIM17",),
)
def sim_ivf_incremental_add(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIM17: per-cluster posting-list report after appending the incoming
    batch to the frozen base index — (cluster, old_size, n_added,
    new_size), ordered by cluster.

    Scale posture (100 TB): the ONLINE path — everything after the
    memoized offline build — is one broadcast of the k x dims centroid
    relation against the exploded batch, one hash aggregation per
    (vector, cluster), the per-vector argmin, and two tiny per-cluster
    counts: the base corpus is NEVER rescanned or reshuffled at add time
    (its assignment is a materialized artifact; its per-cluster sizes a
    k-row aggregate of that artifact). That is the whole point of the
    operator: arrival cost scales with the batch, not the corpus. The
    distance sums ride the VARCHAR->DECIMAL route, so the argmin (and
    therefore every count) is bit-identical to the oracle under any
    partitioning."""
    from pyspark.sql import Window

    base_assign, cent = _ivf_base_index(spark, sf_dir)
    bx = (
        table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % _INC_MOD == _INC_REM)
        .select("vec_id", F.posexplode("embedding").alias("i0", "v"))
        .select(
            "vec_id",
            (F.col("i0") + 1).alias("i"),
            F.col("v").cast("double").alias("v"),
        )
    )
    diff = F.col("v") - F.col("c")
    scored = (
        bx.join(F.broadcast(cent), "i")
        .groupBy("vec_id", "cl")
        .agg(dsum(diff * diff, "d2", scale=24))
    )
    w = Window.partitionBy("vec_id").orderBy("d2", "cl")
    new_assign = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cl")
    )
    # per-cluster sizes merge by UNION + re-aggregate, not a full-outer
    # join (which Spark cannot broadcast and would sort-merge even k rows);
    # the tagged union is the joinless shape at any scale
    merged = base_assign.select(
        "cl", F.lit(1).alias("is_old"), F.lit(0).alias("is_new")
    ).unionAll(
        new_assign.select("cl", F.lit(0).alias("is_old"), F.lit(1).alias("is_new"))
    )
    return (
        merged.groupBy(F.col("cl").alias("cluster"))
        .agg(
            F.sum("is_old").cast("long").alias("old_size"),
            F.sum("is_new").cast("long").alias("n_added"),
            F.count(F.lit(1)).cast("long").alias("new_size"),
        )
        .orderBy("cluster")
    )


# --------------------------------------------------------------------------
# SIM18/SIM19 — cosine RADIUS (range) search: all neighbors of the standing
# query with cosine >= R, via the same nprobe=2 IVF cell restriction as
# SIM2 — the "find everything similar enough" retrieval mode (dedup
# candidate pull, near-duplicate audits) where top-k is the wrong contract
# because the answer SIZE is data-dependent. Plan shape is identical to
# SIM2 (cells broadcast, one filtered pass, no shuffle beyond the terminal
# sort); the radius threshold compares the bit-deterministic cosine, so
# the gate stays exact. SIM19 is the recall audit against the exact
# radius set — same contract as SIM11: an approximate path without a
# registered accuracy metric is the round-1-3 D6 failure mode.
# --------------------------------------------------------------------------

_RADIUS = 0.25  # non-trivial on the synthetic corpus: 12/14/43 exact
# neighbors at sf0.001/0.01/0.1


@register(
    "sim_radius_search",
    oracle=f"""
    WITH {_SQL_IVF_CELL_CTES},
    q AS ({_SQL_Q}),
    norms AS ({SQL_EMB_NORMS}),
    dots AS (
      SELECT e.vec_id, {sql_emb_dot('e.embedding', 'q.q_emb')} AS dot
      FROM embeddings e
      JOIN cell ON e.label = cell.label
      CROSS JOIN q
      WHERE e.vec_id <> {_QUERY_VEC_ID})
    SELECT d.vec_id,
           d.dot / NULLIF(sqrt(n.n2) * sqrt(qn.n2), 0.0) AS cosine
    FROM dots d
    JOIN norms n ON d.vec_id = n.vec_id
    CROSS JOIN (SELECT n2 FROM norms WHERE vec_id = {_QUERY_VEC_ID}) qn
    WHERE d.dot / NULLIF(sqrt(n.n2) * sqrt(qn.n2), 0.0) >= {_RADIUS}
    ORDER BY cosine DESC, d.vec_id
    """,
    tags=("SIM18",),
)
def sim_radius_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIM18: every vector within cosine radius 0.25 of the query, probed
    through the nprobe=2 IVF cells (block comment above)."""
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding", "label")
    cells = _ivf_query_cells(spark, sf_dir)
    q = (
        emb.filter(F.col("vec_id") == _QUERY_VEC_ID)
        .select(
            F.col("embedding").alias("q_emb"),
            emb_norm2(F.col("embedding")).alias("q_n2"),
        )
    )
    cand = (
        emb.filter(F.col("vec_id") != _QUERY_VEC_ID)
        .join(F.broadcast(cells), "label", "semi")
        .crossJoin(F.broadcast(q))
    )
    cosine = emb_dot(F.col("embedding"), F.col("q_emb")) / F.nullif((
        F.sqrt(emb_norm2(F.col("embedding"))) * F.sqrt(F.col("q_n2"))
    ), F.lit(0.0))
    return (
        cand.select("vec_id", cosine.alias("cosine"))
        .filter(F.col("cosine") >= _RADIUS)
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
    )


@register(
    "sim_radius_recall_report",
    oracle=f"""
    WITH q AS ({_SQL_Q}),
    norms AS ({SQL_EMB_NORMS}),
    exact_dots AS (
      SELECT e.vec_id, {sql_emb_dot('e.embedding', 'q.q_emb')} AS dot
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> {_QUERY_VEC_ID}),
    exact_set AS (
      SELECT d.vec_id
      FROM exact_dots d
      JOIN norms n ON d.vec_id = n.vec_id
      CROSS JOIN (SELECT n2 FROM norms WHERE vec_id = {_QUERY_VEC_ID}) qn
      WHERE d.dot / NULLIF(sqrt(n.n2) * sqrt(qn.n2), 0.0) >= {_RADIUS}),
    {_SQL_IVF_CELL_CTES},
    ivf_dots AS (
      SELECT e.vec_id, {sql_emb_dot('e.embedding', 'q.q_emb')} AS dot
      FROM embeddings e
      JOIN cell ON e.label = cell.label
      CROSS JOIN q
      WHERE e.vec_id <> {_QUERY_VEC_ID}),
    ivf_set AS (
      SELECT d.vec_id
      FROM ivf_dots d
      JOIN norms n ON d.vec_id = n.vec_id
      CROSS JOIN (SELECT n2 FROM norms WHERE vec_id = {_QUERY_VEC_ID}) qn
      WHERE d.dot / NULLIF(sqrt(n.n2) * sqrt(qn.n2), 0.0) >= {_RADIUS})
    SELECT (SELECT COUNT(*) FROM exact_set) AS n_exact,
           (SELECT COUNT(*) FROM ivf_set) AS n_ivf,
           (SELECT COUNT(*) FROM exact_set e
             JOIN ivf_set i ON e.vec_id = i.vec_id) AS n_overlap,
           CASE WHEN (SELECT COUNT(*) FROM exact_set) = 0 THEN 1.0
                ELSE CAST((SELECT COUNT(*) FROM exact_set e
                            JOIN ivf_set i ON e.vec_id = i.vec_id) AS DOUBLE)
                     / (SELECT COUNT(*) FROM exact_set) END AS radius_recall
    """,
    tags=("SIM19",),
)
def sim_radius_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIM19: one-row radius-recall report — |probed radius set ∩ exact
    radius set| / |exact| for the standing query and R = 0.25. The probed
    set can only MISS (it is a subset of the exact set restricted to the
    probed cells, never a superset with false positives — the cosine is
    exact on every scored candidate), so recall is the single number that
    decides whether nprobe/cell sizing is adequate for range queries."""
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = (
        emb.filter(F.col("vec_id") == _QUERY_VEC_ID)
        .select(
            F.col("embedding").alias("q_emb"),
            emb_norm2(F.col("embedding")).alias("q_n2"),
        )
    )
    cosine = emb_dot(F.col("embedding"), F.col("q_emb")) / F.nullif((
        F.sqrt(emb_norm2(F.col("embedding"))) * F.sqrt(F.col("q_n2"))
    ), F.lit(0.0))
    exact_ids = (
        emb.filter(F.col("vec_id") != _QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select("vec_id", cosine.alias("cosine"))
        .filter(F.col("cosine") >= _RADIUS)
        .select("vec_id")
        .localCheckpoint(eager=False)
    )
    ivf_ids = (
        sim_radius_search(spark, sf_dir)
        .select(F.col("vec_id").alias("v2"))
        .localCheckpoint(eager=False)
    )
    overlap = exact_ids.join(ivf_ids, exact_ids.vec_id == F.col("v2"))
    n_exact = F.col("n_exact")
    return (
        exact_ids.agg(F.count(F.lit(1)).alias("n_exact"))
        .crossJoin(ivf_ids.agg(F.count(F.lit(1)).alias("n_ivf")))
        .crossJoin(overlap.agg(F.count(F.lit(1)).alias("n_overlap")))
        .select(
            "n_exact",
            "n_ivf",
            "n_overlap",
            F.when(n_exact == 0, F.lit(1.0))
            .otherwise(F.col("n_overlap").cast("double") / n_exact.cast("double"))
            .alias("radius_recall"),
        )
    )


# --------------------------------------------------------------------------
# SIM20 — NDCG@10 audit of the IVF ranking: recall (SIM11) says WHETHER the
# true neighbors were found; NDCG says whether they were found IN THE RIGHT
# ORDER — the position-discounted metric (Järvelin & Kekäläinen 2002) every
# retrieval eval reports next to recall. Binary gains (IVF hit is in the
# exact top-10 or not); the 1/log2(rank+1) discounts are TEN fixed-point
# integer literals (round(1e12/log2(i+1)), generated once in Python and
# inlined into BOTH engines — the floor-log2/Benford-literal determinism
# discipline), so DCG and ideal DCG are exact BIGINT sums and the final
# NDCG is one IEEE division. Cheap by construction: two top-k searches and
# a 10-row join, like SIM11/SIM13/SIM14.
# --------------------------------------------------------------------------

_NDCG_DISC_FP = {
    1: 1000000000000, 2: 630929753571, 3: 500000000000, 4: 430676558073,
    5: 386852807235, 6: 356207187108, 7: 333333333333, 8: 315464876786,
    9: 301029995664, 10: 289064826318,
}  # round(1e12 / log2(rank+1)), rank = 1..10


@register(
    "sim_ndcg_report",
    oracle=f"""
    WITH q AS ({_SQL_Q}),
    norms AS ({SQL_EMB_NORMS}),
    exact_dots AS (
      SELECT e.vec_id, {sql_emb_dot('e.embedding', 'q.q_emb')} AS dot
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> {_QUERY_VEC_ID}),
    exact_top AS (
      SELECT d.vec_id
      FROM exact_dots d
      JOIN norms n ON d.vec_id = n.vec_id
      CROSS JOIN (SELECT n2 FROM norms WHERE vec_id = {_QUERY_VEC_ID}) qn
      ORDER BY d.dot / NULLIF(sqrt(n.n2) * sqrt(qn.n2), 0.0) DESC, d.vec_id
      LIMIT {_TOP_K}),
    {_SQL_IVF_CELL_CTES},
    ivf_dots AS (
      SELECT e.vec_id, {sql_emb_dot('e.embedding', 'q.q_emb')} AS dot
      FROM embeddings e
      JOIN cell ON e.label = cell.label
      CROSS JOIN q
      WHERE e.vec_id <> {_QUERY_VEC_ID}),
    ivf_ranked AS (
      SELECT vec_id, ROW_NUMBER() OVER (ORDER BY cosine DESC, vec_id) AS rnk
      FROM (
        SELECT d.vec_id, d.dot / NULLIF(sqrt(n.n2) * sqrt(qn.n2), 0.0) AS cosine
        FROM ivf_dots d
        JOIN norms n ON d.vec_id = n.vec_id
        CROSS JOIN (SELECT n2 FROM norms WHERE vec_id = {_QUERY_VEC_ID}) qn)
      ORDER BY rnk LIMIT {_TOP_K}),
    disc AS (
      SELECT * FROM (VALUES
        {", ".join(f"({r}, CAST({w} AS BIGINT))" for r, w in sorted(_NDCG_DISC_FP.items()))})
        t(rnk, w)),
    dcg AS (
      SELECT CAST(COALESCE(SUM(d.w), 0) AS BIGINT) AS dcg_fp
      FROM ivf_ranked r
      JOIN exact_top e ON r.vec_id = e.vec_id
      JOIN disc d ON r.rnk = d.rnk),
    idcg AS (
      SELECT CAST(SUM(w) AS BIGINT) AS idcg_fp FROM disc
      WHERE rnk <= (SELECT COUNT(*) FROM exact_top))
    SELECT CAST({_TOP_K} AS BIGINT) AS k,
           dcg.dcg_fp, idcg.idcg_fp,
           CAST(dcg.dcg_fp AS DOUBLE) / CAST(idcg.idcg_fp AS DOUBLE)
             AS ndcg_at_k
    FROM dcg CROSS JOIN idcg
    """,
    tags=("SIM20",),
)
def sim_ndcg_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIM20: one-row NDCG@10 report for the IVF path (block comment
    above) — exact-integer DCG over fixed-point rank discounts, ideal DCG
    from the same table, one final division."""
    from pyspark.sql import Window

    exact_ids = (
        sim_topk_bruteforce(spark, sf_dir)
        .select("vec_id")
        .localCheckpoint(eager=False)
    )
    w = Window.orderBy(F.desc("cosine"), F.asc("vec_id"))  # 10-row frame
    ivf_ranked = (
        sim_ivf_topk(spark, sf_dir)
        .select("vec_id", "cosine")
        .withColumn("rnk", F.row_number().over(w))
        .localCheckpoint(eager=False)
    )
    disc = spark.createDataFrame(
        sorted(_NDCG_DISC_FP.items()), "rnk int, w long"
    )
    dcg = (
        ivf_ranked.join(exact_ids, "vec_id")
        .join(F.broadcast(disc), "rnk")
        .agg(F.coalesce(F.sum("w"), F.lit(0)).cast("long").alias("dcg_fp"))
    )
    n_exact = exact_ids.agg(F.count(F.lit(1)).alias("n_exact"))
    idcg = (
        disc.crossJoin(F.broadcast(n_exact))
        .filter(F.col("rnk") <= F.col("n_exact"))
        .agg(F.sum("w").cast("long").alias("idcg_fp"))
    )
    return dcg.crossJoin(idcg).select(
        F.lit(_TOP_K).cast("long").alias("k"),
        "dcg_fp",
        "idcg_fp",
        (F.col("dcg_fp").cast("double") / F.col("idcg_fp").cast("double"))
        .alias("ndcg_at_k"),
    )


# --------------------------------------------------------------------------
# SIM21/SIM22/SIM23 — MAXIMUM INNER PRODUCT SEARCH (MIPS). Recommender and
# reranker retrieval ranks by raw <x,q>, NOT cosine — a high-norm vector can
# out-rank a better-aligned short one, so none of the cosine paths above
# answer it. SIM21 is the exact baseline: one corpus pass, vectorized fold
# dot product, TakeOrderedAndProject top-k (optimal exact plan at any
# scale). SIM22 is the scale path via the standard norm-augmentation
# reduction (Bachrach et al. 2014, "Speeding up the Xbox recommender"):
# append one coordinate sqrt(M^2 - |x|^2) (M = max corpus norm) to every
# data vector and 0 to the query; then the augmented L2 distance is
# d^2 = M^2 + |q|^2 - 2<x,q> — monotone DECREASING in the inner product —
# so nearest-neighbor machinery (here: the IVF per-label cells, built over
# AUGMENTED centroids) solves MIPS. SIM23 audits the probe honestly:
# recall@10 of SIM22 against SIM21 (measured 0.3 at sf0.001-0.1 with
# nprobe=2 of 10 label cells; norm-banded 20-cell variants measured no
# better at equal scan fraction — the synthetic embeddings are near-
# isotropic random vectors, the documented WORST case for any coarse
# quantizer, so ~scan-fraction recall is the honest expectation here and
# the audit existing to SAY so is the deliverable; clustered real corpora
# are where IVF recall beats the scan fraction). All dot math rides the
# bit-exact fold + decimal-routed aggregates the cosine family uses, so
# every float agrees with the DuckDB oracle bitwise.
# At 100 TB: M^2 is one scalar agg (map-side partial max); augmentation is
# map-only; cell build and probe shuffle exactly like SIM2's IVF —
# posting-list partitioning by cell, probed cells pruned at the scan.
# --------------------------------------------------------------------------

_SQL_MIPS_NORMS_M = f"""norms AS ({SQL_EMB_NORMS}),
    m AS (SELECT MAX(n2) AS m2 FROM norms WHERE vec_id <> {_QUERY_VEC_ID})"""

_SQL_MIPS_DOTS = f"""q AS ({_SQL_Q}),
    dots AS (
      SELECT e.vec_id, {sql_emb_dot('e.embedding', 'q.q_emb')} AS dot
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> {_QUERY_VEC_ID})"""

_SQL_MIPS_EXACT_TOPK = f"""WITH {_SQL_MIPS_DOTS}
    SELECT vec_id, dot FROM dots
    ORDER BY dot DESC, vec_id
    LIMIT {_TOP_K}"""

# Augmented-IVF cell selection: per-label centroids over data vectors with
# the sqrt(M^2-n2) coordinate appended at i = dim+1; the query contributes
# qv = 0 there. Same decimal-hop discipline as _SQL_IVF_CELL_CTES.
_SQL_MIPS_CELL_CTES = f"""{_SQL_MIPS_NORMS_M},
    ex AS (
      SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS v,
             generate_subscripts(embedding, 1) AS i
      FROM embeddings WHERE vec_id <> {_QUERY_VEC_ID}
      UNION ALL
      SELECT e.vec_id, e.label, sqrt(m.m2 - n.n2) AS v,
             len(e.embedding) + 1 AS i
      FROM embeddings e
      JOIN norms n USING (vec_id) CROSS JOIN m
      WHERE e.vec_id <> {_QUERY_VEC_ID}),
    cent AS (
      SELECT label, i, {sql_davg('v', scale=18)} AS c
      FROM ex GROUP BY 1, 2),
    qx AS (
      SELECT generate_subscripts(embedding, 1) AS i,
             CAST(unnest(embedding) AS DOUBLE) AS qv
      FROM embeddings WHERE vec_id = {_QUERY_VEC_ID}
      UNION ALL
      SELECT len(embedding) + 1 AS i, CAST(0.0 AS DOUBLE) AS qv
      FROM embeddings WHERE vec_id = {_QUERY_VEC_ID}),
    cell AS (
      SELECT cent.label,
             {sql_dsum('(cent.c - qx.qv) * (cent.c - qx.qv)', scale=24)} AS d2
      FROM cent JOIN qx ON cent.i = qx.i
      GROUP BY 1
      ORDER BY d2, label
      LIMIT {_NPROBE})"""

_SQL_MIPS_IVF_TOPK = f"""WITH {_SQL_MIPS_CELL_CTES},
    q AS ({_SQL_Q}),
    dots AS (
      SELECT e.vec_id, {sql_emb_dot('e.embedding', 'q.q_emb')} AS dot
      FROM embeddings e
      JOIN cell ON e.label = cell.label
      CROSS JOIN q
      WHERE e.vec_id <> {_QUERY_VEC_ID})
    SELECT vec_id, dot FROM dots
    ORDER BY dot DESC, vec_id
    LIMIT {_TOP_K}"""


def _mips_exact_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = emb.filter(F.col("vec_id") == _QUERY_VEC_ID).select(
        F.col("embedding").alias("q_emb")
    )
    return (
        emb.filter(F.col("vec_id") != _QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select("vec_id", emb_dot(F.col("embedding"), F.col("q_emb")).alias("dot"))
        .orderBy(F.desc("dot"), F.asc("vec_id"))
        .limit(_TOP_K)
    )


def _mips_aug_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The _NPROBE cells nearest the query in AUGMENTED space — Spark twin
    of _SQL_MIPS_CELL_CTES (shared by SIM22 and SIM23)."""
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    data = emb.filter(F.col("vec_id") != _QUERY_VEC_ID)
    m = data.agg(F.max(emb_norm2(F.col("embedding"))).alias("m2"))
    ex = data.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding")).alias("i0", "v"),
    ).select(
        "vec_id", "label", (F.col("i0") + 1).alias("i"), F.col("v").cast("double").alias("v")
    )
    aug = (
        data.crossJoin(F.broadcast(m))
        .select(
            "vec_id",
            "label",
            (F.size("embedding") + 1).alias("i"),
            F.sqrt(F.col("m2") - emb_norm2(F.col("embedding"))).alias("v"),
        )
    )
    cent = ex.unionByName(aug).groupBy("label", "i").agg(davg("v", "c", scale=18))
    qrow = emb.filter(F.col("vec_id") == _QUERY_VEC_ID)
    qx = qrow.select(
        F.posexplode(F.col("embedding")).alias("i0", "qv")
    ).select((F.col("i0") + 1).alias("i"), F.col("qv").cast("double").alias("qv")).unionByName(
        qrow.select(
            (F.size("embedding") + 1).alias("i"), F.lit(0.0).alias("qv")
        )
    )
    diff = F.col("c") - F.col("qv")
    return (
        cent.join(F.broadcast(qx), "i")
        .groupBy("label")
        .agg(dsum(diff * diff, "d2", scale=24))
        .orderBy("d2", "label")
        .limit(_NPROBE)
        .select("label")
    )


def _mips_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    cells = _mips_aug_cells(spark, sf_dir)
    q = emb.filter(F.col("vec_id") == _QUERY_VEC_ID).select(
        F.col("embedding").alias("q_emb")
    )
    return (
        emb.filter(F.col("vec_id") != _QUERY_VEC_ID)
        .join(F.broadcast(cells), "label")
        .crossJoin(F.broadcast(q))
        .select("vec_id", emb_dot(F.col("embedding"), F.col("q_emb")).alias("dot"))
        .orderBy(F.desc("dot"), F.asc("vec_id"))
        .limit(_TOP_K)
    )


@register(
    "sim_mips_topk",
    oracle=_SQL_MIPS_EXACT_TOPK,
    tags=("SIM21",),
)
def sim_mips_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIM21: exact maximum-inner-product top-10 for the standing query
    (block comment above) — the MIPS correctness baseline."""
    return _mips_exact_topk(spark, sf_dir)


@register(
    "sim_mips_ivf_topk",
    oracle=_SQL_MIPS_IVF_TOPK,
    tags=("SIM22",),
)
def sim_mips_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIM22: MIPS top-10 through norm-augmented IVF cells (block comment
    above) — the probe the 100 TB path runs instead of the full scan."""
    return _mips_ivf_topk(spark, sf_dir)


@register(
    "sim_mips_recall_report",
    oracle=f"""
    WITH exact_tk AS ({_SQL_MIPS_EXACT_TOPK}),
    probe_tk AS ({_SQL_MIPS_IVF_TOPK}),
    hit AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_hit
      FROM (SELECT vec_id FROM exact_tk INTERSECT SELECT vec_id FROM probe_tk))
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM exact_tk) AS n_exact,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM probe_tk) AS n_probe,
           n_hit,
           CAST(n_hit AS DOUBLE)
             / NULLIF((SELECT CAST(COUNT(*) AS DOUBLE) FROM exact_tk), 0) AS recall
    FROM hit
    """,
    tags=("SIM23",),
)
def sim_mips_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIM23: recall@10 of the norm-augmented IVF MIPS probe (SIM22)
    against the exact scan (SIM21) — the honesty audit every approximate
    index ships with."""
    # localCheckpoint: each 10-row ID set is consumed twice (count +
    # intersect) — without it the exact scan and the whole augmented-IVF
    # centroid/probe pipeline would execute twice (same convention as the
    # SIM11/SIM14 recall reports)
    exact_ids = (
        _mips_exact_topk(spark, sf_dir).select("vec_id").localCheckpoint(eager=False)
    )
    probe_ids = (
        _mips_ivf_topk(spark, sf_dir).select("vec_id").localCheckpoint(eager=False)
    )
    n_exact = exact_ids.agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
    n_probe = probe_ids.agg(F.count(F.lit(1)).cast("long").alias("n_probe"))
    n_hit = (
        exact_ids.intersect(probe_ids)
        .agg(F.count(F.lit(1)).cast("long").alias("n_hit"))
    )
    return (
        n_exact.crossJoin(F.broadcast(n_probe))
        .crossJoin(F.broadcast(n_hit))
        .select(
            "n_exact",
            "n_probe",
            "n_hit",
            # NULL (not NaN) on an empty exact set: Spark double 0/0 is NaN
            # while DuckDB's is NULL — the same degenerate-corpus divergence
            # class the adversarial gate fixed elsewhere (oracle uses NULLIF).
            F.when(F.col("n_exact") == 0, F.lit(None).cast("double"))
            .otherwise(F.col("n_hit").cast("double") / F.col("n_exact").cast("double"))
            .alias("recall"),
        )
    )
