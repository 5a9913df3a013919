"""Embedding-statistics operators over the `embeddings` table.

Mean-pooled per-label centroids and nearest-centroid assignment — the
building blocks of embedding-space corpus curation (cluster-balanced
sampling, label auditing, semantic dedup triage). Complements the ANN
family in operators/similarity.py: centroids are the "coarse" structure
(same role as IVF cells) expressed as an oracle-checkable aggregate.

Scale shape: `label_centroids` is one shuffle keyed (label, dim) over the
pos-exploded vectors — D-way fan-out of the scan, partial aggregation
map-side, output is labels x dims rows (tiny at any corpus size).
`nearest_centroid_confusion` broadcasts that centroid table and the
per-label norms; the dot products re-aggregate on (vec_id, label) — at
production scale you would fuse the dot product as a zip_with over a
broadcast array literal (narrow map, no explode); the exploded shape here
keeps every float accumulation in exact DECIMAL so the oracle comparison
is bit-identical (see functions/exact.py).

No reference equivalent (the reference has no vector ops); this extends
the similarity family required of a training-data pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from banking_streaming_etl_spark import datamodel
from banking_streaming_etl_spark.functions import exact
from banking_streaming_etl_spark.operators import memo


def _exploded(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = datamodel.load_table(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos", "v")
    )


def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean vector, one row per (label, dimension)."""
    ex = _exploded(spark, sf_dir)
    return (
        ex.groupBy("label", "pos")
        .agg(
            F.count("*").alias("n_vecs"),
            exact.exact_avg(F.col("v").cast("double"), "centroide"),
        )
        .select(
            "label", F.col("pos").cast("bigint").alias("pos"),
            "n_vecs", "centroide",
        )
    )


LABEL_CENTROIDS_SQL = f"""
SELECT label, pos, COUNT(*) AS n_vecs,
       {exact.sql_avg("CAST(v AS DOUBLE)", "centroide")}
FROM (
    SELECT label,
           unnest(range(0, len(embedding))) AS pos,
           unnest(embedding) AS v
    FROM embeddings
)
GROUP BY label, pos
"""


def centroid_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each vector's nearest label centroid by cosine: (vec_id, label,
    label_c).

    Since ||v|| is constant per vector, ranking by dot(v, c)/||c|| is
    ranking by cosine — one division fewer to keep term-identical across
    engines. Ties broken by ascending centroid label."""
    ex = _exploded(spark, sf_dir)
    cen = label_centroids(spark, sf_dir).select(
        F.col("label").alias("label_c"), "pos", "centroide"
    )
    norms = (
        cen.groupBy("label_c")
        .agg(
            exact.exact_sum(
                F.round("centroide", 6) * F.round("centroide", 6), "nsq"
            )
        )
        .select("label_c", F.sqrt("nsq").alias("norm_c"))
    )
    dots = (
        ex.join(F.broadcast(cen), "pos")
        .groupBy("vec_id", "label", "label_c")
        .agg(
            exact.exact_sum(
                F.round(F.col("v").cast("double"), 6)
                * F.round("centroide", 6),
                "dot",
            )
        )
    )
    scored = dots.join(F.broadcast(norms), "label_c").withColumn(
        "score", F.col("dot") / F.col("norm_c")
    )
    w = W.partitionBy("vec_id").orderBy(F.desc("score"), F.asc("label_c"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "label", "label_c")
    )


def nearest_centroid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (true label, predicted label, count) confusion table over the
    nearest-centroid assignment."""
    return (
        centroid_assignments(spark, sf_dir)
        .groupBy("label", F.col("label_c").alias("label_previsto"))
        .agg(F.count("*").alias("n_vecs"))
    )


#: shared CTE chain ending in `assign(vec_id, label, label_c)` — the
#: nearest-centroid assignment both the confusion table and semantic dedup
#: build on (must stay in lock-step with `centroid_assignments`).
ASSIGN_SQL_CTES = f"""cen AS ({LABEL_CENTROIDS_SQL}),
ex AS (
    SELECT vec_id, label,
           unnest(range(0, len(embedding))) AS pos,
           unnest(embedding) AS v
    FROM embeddings
),
norms AS (
    SELECT label_c, SQRT(nsq) AS norm_c
    FROM (
        SELECT label AS label_c,
               {exact.sql_sum("ROUND(centroide, 6) * ROUND(centroide, 6)",
                              "nsq")}
        FROM cen
        GROUP BY label
    )
),
dots AS (
    SELECT ex.vec_id, ex.label, cen.label AS label_c,
           {exact.sql_sum(
               "ROUND(CAST(ex.v AS DOUBLE), 6) * ROUND(cen.centroide, 6)",
               "dot")}
    FROM ex JOIN cen ON ex.pos = cen.pos
    GROUP BY 1, 2, 3
),
scored AS (
    SELECT dots.vec_id, dots.label, dots.label_c,
           ROW_NUMBER() OVER (
               PARTITION BY dots.vec_id
               ORDER BY dots.dot / norms.norm_c DESC, dots.label_c ASC
           ) AS rn
    FROM dots JOIN norms USING (label_c)
),
assign AS (
    SELECT vec_id, label, label_c FROM scored WHERE rn = 1
)"""


NEAREST_CENTROID_SQL = f"""
WITH {ASSIGN_SQL_CTES}
SELECT label, label_c AS label_previsto, COUNT(*) AS n_vecs
FROM assign
GROUP BY 1, 2
"""


#: SemDeDup prune threshold — intentionally below the 0.95 near-dup bar:
#: semantic dedup removes *redundant* (merely similar) training points,
#: not just copies. 0.40 is just under this corpus's max pairwise cosine,
#: so the greedy prune keeps a deterministic nonempty drop set.
SEM_DEDUP_COSINE = 0.40


#: the shared engine-portable ladder (functions/portable.py) under the
#: module's historical names
from banking_streaming_etl_spark.functions import portable as _portable

_portable_hash_spark = _portable.lcg_hash
_PORTABLE_HASH_SQL = _portable.lcg_hash_sql("vec_id")


def sem_dedup_centroids(emb: DataFrame, k: int) -> DataFrame:
    """K hash-sampled seed centroids (K smallest portable-hash(vec_id),
    vec_id tiebreak — a total order, partition- and engine-independent).
    Planned as TakeOrdered top-K: no global sort, O(K x dim) output."""
    return (
        emb.select("vec_id", "embedding", "norm")
        .orderBy(
            _portable_hash_spark(F.col("vec_id")).asc(), F.col("vec_id").asc()
        )
        .limit(k)
        .select(
            F.col("vec_id").alias("centroid_id"),
            F.col("embedding").alias("centroid"),
            F.col("norm").alias("cnorm"),
        )
    )


def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    cluster vectors by nearest centroid, then within each cluster greedily
    drop any vector that has a lower-id clustermate with cosine >= tau
    (keep-earliest policy — deterministic, single pass, no iteration).

    Scale shape — cluster count is a BUDGET, not a data property: K =
    ceil(sqrt(N)) hash-sampled centroids (the IVF mechanism from
    operators/similarity.py:ivf_assignments), so expected cluster size is
    ~sqrt(N) and total within-cluster pairwise work is O(N^1.5), at any
    corpus size. (The earlier design blocked on label centroids, whose
    count is a data constant — linear cluster growth, quadratic total
    work at 100x; tests/test_extensions.py pins the budget and the
    cluster equi-join key so that regression cannot return.) The
    centroid table stays an O(K x dim) broadcast; assignment is one
    broadcast join + row_number argmax; the pairwise cosine is confined
    WITHIN clusters — an equi-join on the cluster key, never corpus-level
    all-pairs. N is read once up front (a count-star metadata job, the
    same scalar the reference's producer issues — SURVEY §2.1 S7).

    No reference equivalent; this is the embedding-space stage of the
    training-data curation family (COVERAGE.md "Scale extensions").
    """
    import math

    from banking_streaming_etl_spark.operators.similarity import (
        _dot,
        _with_norm,
    )

    n = datamodel.load_table(spark, sf_dir, "embeddings").count()
    k = max(1, math.ceil(math.sqrt(n)))
    emb = _with_norm(datamodel.load_table(spark, sf_dir, "embeddings"))
    cent = sem_dedup_centroids(emb, k)

    # nearest-centroid assignment: broadcast crossJoin, then an ARGMAX
    # AGGREGATE — max(struct(csim, -centroid_id)) — instead of a
    # row_number window. Same answer (highest 6-rounded cosine, lowest
    # centroid_id on ties — the struct compares fields in order, and the
    # oracle's ROW_NUMBER ORDER BY picks identically), but the partial
    # aggregate collapses the N x K expansion to one row per vector
    # MAP-SIDE, so the exchange carries N rows — a window would shuffle
    # all N x K. At K ~ sqrt(N) that is the difference between an
    # O(N^1.5)-row shuffle and an O(N)-row one. The cosine is 6-rounded
    # so the ranking key is bit-identical across engines; embedding/norm
    # ride along via first() (constant within each vec_id group).
    csim = F.round(
        _dot(F.col("embedding"), F.col("centroid"))
        / (F.col("norm") * F.col("cnorm")),
        6,
    )
    m = (
        emb.crossJoin(F.broadcast(cent))
        .select(
            "vec_id",
            "embedding",
            "norm",
            F.struct(
                csim.alias("csim"),
                (-F.col("centroid_id")).alias("neg_cid"),
            ).alias("cand"),
        )
        .groupBy("vec_id")
        .agg(
            F.max("cand").alias("best"),
            F.first("embedding").alias("embedding"),
            F.first("norm").alias("norm"),
        )
        .select(
            "vec_id",
            (-F.col("best.neg_cid")).alias("cluster"),
            "embedding",
            "norm",
        )
    )
    a = m.select(
        F.col("cluster").alias("cluster_a"),
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("ea"),
        F.col("norm").alias("na"),
    )
    b = m.select(
        F.col("cluster").alias("cluster_b"),
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("eb"),
        F.col("norm").alias("nb"),
    )
    drops = (
        a.join(
            b,
            (F.col("cluster_a") == F.col("cluster_b"))
            & (F.col("vec_a") < F.col("vec_b")),
        )
        .withColumn(
            "cosine",
            F.round(_dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb")), 6),
        )
        .filter(F.col("cosine") >= SEM_DEDUP_COSINE)
        .select(F.col("vec_b").alias("vec_id"))
        .distinct()
        .withColumn("dropped", F.lit(True))
    )
    return (
        m.join(drops, "vec_id", "left")
        .select(
            "vec_id",
            "cluster",
            F.coalesce(~F.col("dropped"), F.lit(True)).alias("mantido"),
        )
    )


def _semantic_dedup_sql() -> str:
    from banking_streaming_etl_spark.operators.similarity import (
        NORM_SQL,
        _dot_sql,
    )

    return f"""
WITH emb AS (
    SELECT vec_id, embedding, {NORM_SQL} AS norm FROM embeddings
),
kk AS (
    SELECT GREATEST(1, CAST(CEIL(SQRT(COUNT(*))) AS BIGINT)) AS k
    FROM embeddings
),
hashed AS (
    SELECT vec_id, embedding, norm, {_PORTABLE_HASH_SQL} AS h FROM emb
),
cent AS (
    SELECT vec_id AS centroid_id, embedding AS centroid, norm AS cnorm
    FROM (
        SELECT *, ROW_NUMBER() OVER (ORDER BY h ASC, vec_id ASC) AS rn
        FROM hashed
    )
    WHERE rn <= (SELECT k FROM kk)
),
scored AS (
    SELECT e.vec_id, c.centroid_id, e.embedding, e.norm,
           ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY ROUND({_dot_sql('e.embedding', 'c.centroid')}
                              / (e.norm * c.cnorm), 6) DESC,
                        c.centroid_id ASC
           ) AS rk
    FROM emb e CROSS JOIN cent c
),
m AS (
    SELECT vec_id, centroid_id AS cluster, embedding, norm
    FROM scored WHERE rk = 1
),
drops AS (
    SELECT DISTINCT b.vec_id
    FROM m a JOIN m b
      ON a.cluster = b.cluster AND a.vec_id < b.vec_id
    WHERE ROUND({_dot_sql('a.embedding', 'b.embedding')}
                / (a.norm * b.norm), 6) >= {SEM_DEDUP_COSINE}
)
SELECT m.vec_id, m.cluster,
       drops.vec_id IS NULL AS mantido
FROM m LEFT JOIN drops ON m.vec_id = drops.vec_id
"""


SEMANTIC_DEDUP_SQL = _semantic_dedup_sql()


# --- Johnson-Lindenstrauss random projection ---------------------------------

#: target dimensionality of the sketch. JL: K = O(ln N / eps^2) preserves
#: pairwise distances within (1 +- eps) — K is a budget independent of the
#: source dimension, so the projection matrix (D x K doubles) is a literal
#: baked into the plan at ANY corpus size.
JL_DIM = 16
JL_SEED = 7


def _jl_signs() -> list[list[int]]:
    """Deterministic D x K +-1 matrix (Achlioptas-style sign projection)
    from a seeded LCG — same literals inlined in the Spark plan and the
    oracle SQL, so both engines compute identical doubles."""
    state = JL_SEED
    rows = []
    for _ in range(64):
        row = []
        for _ in range(JL_DIM):
            state = (state * 6364136223846793005 + 1442695040888963407) % (
                1 << 64
            )
            row.append(1 if (state >> 32) & 1 else -1)
        rows.append(row)
    return rows


def jl_project_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL sketch of the embedding table: 64 dims -> JL_DIM via a fixed
    +-1 sign matrix, scaled 1/sqrt(K). Output exploded to (vec_id, pos,
    valor) rows (array columns don't canonicalize in the driver compare).

    Scale shape: a narrow map — each output coordinate is a left-fold dot
    product against a literal column vector, whole-stage-codegen'd; no
    shuffle, no broadcast, no state. This is the cheap front-end that cuts
    vector bytes 4x ahead of ANN indexing (pairs with int8 quantization:
    project first, quantize after).
    """
    from banking_streaming_etl_spark.operators.similarity import _dot

    e = datamodel.load_table(spark, sf_dir, "embeddings")
    scale = 1.0 / (JL_DIM ** 0.5)
    signs = _jl_signs()
    coords = [
        F.round(
            _dot(
                F.col("embedding"),
                F.array(*[F.lit(float(signs[d][k])) for d in range(64)]),
            )
            * F.lit(scale),
            6,
        ).alias(f"c{k}")
        for k in range(JL_DIM)
    ]
    wide = e.select("vec_id", *coords)
    pairs = F.array(
        *[
            F.struct(
                F.lit(k).cast("int").alias("pos"), F.col(f"c{k}").alias("valor")
            )
            for k in range(JL_DIM)
        ]
    )
    return wide.select(
        "vec_id", F.explode(pairs).alias("pv")
    ).select("vec_id", F.col("pv.pos").alias("pos"), F.col("pv.valor").alias("valor"))


def _jl_sql() -> str:
    from banking_streaming_etl_spark.operators.similarity import _dot_sql

    scale = 1.0 / (JL_DIM ** 0.5)
    signs = _jl_signs()
    cols = []
    for k in range(JL_DIM):
        vec = "[" + ", ".join(
            f"{float(signs[d][k])!r}" for d in range(64)
        ) + "]"
        cols.append(
            f"SELECT vec_id, {k} AS pos, "
            f"ROUND({_dot_sql('embedding', vec)} * {scale!r}, 6) AS valor "
            f"FROM embeddings"
        )
    return " UNION ALL ".join(cols)


JL_PROJECT_SQL = _jl_sql()


def centroid_similarity_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine between the label centroids — the class-geometry
    diagnostic (which labels are confusable BEFORE looking at a
    confusion table; the centroid-space complement of
    nearest_centroid_confusion). Decimal-exact dot products over the
    exploded (label, pos) centroid frame keep every cosine bit-identical
    cross-engine.

    Scale shape: everything downstream of label_centroids is
    labels x dim sized — the self-join keys on pos with labels^2 output
    groups; the fact-table work is label_centroids' one aggregate."""
    cen = label_centroids(spark, sf_dir).select("label", "pos", "centroide")
    norms = cen.groupBy("label").agg(
        exact.exact_sum(F.col("centroide") * F.col("centroide"), "ssq")
    )
    a = cen.select(
        F.col("label").alias("label_a"), "pos", F.col("centroide").alias("ca")
    )
    b = cen.select(
        F.col("label").alias("label_b"), "pos", F.col("centroide").alias("cb")
    )
    dots = (
        a.join(b, "pos")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(exact.exact_sum(F.col("ca") * F.col("cb"), "dot"))
    )
    na = norms.select(F.col("label").alias("label_a"), F.col("ssq").alias("ssq_a"))
    nb = norms.select(F.col("label").alias("label_b"), F.col("ssq").alias("ssq_b"))
    return (
        dots.join(na, "label_a")
        .join(nb, "label_b")
        .select(
            "label_a",
            "label_b",
            F.round(
                F.col("dot") / (F.sqrt("ssq_a") * F.sqrt("ssq_b")), 6
            ).alias("cosseno"),
        )
    )


CENTROID_SIMILARITY_SQL = f"""
WITH cen AS (
    SELECT label, pos, centroide FROM ({LABEL_CENTROIDS_SQL.strip()})
),
norms AS (
    SELECT label, {exact.sql_sum("centroide * centroide", "ssq")}
    FROM cen GROUP BY label
),
dots AS (
    SELECT a.label AS label_a, b.label AS label_b,
           {exact.sql_sum("a.centroide * b.centroide", "dot")}
    FROM cen a JOIN cen b ON a.pos = b.pos AND a.label < b.label
    GROUP BY 1, 2
)
SELECT d.label_a, d.label_b,
       ROUND(d.dot / (SQRT(na.ssq) * SQRT(nb.ssq)), 6) AS cosseno
FROM dots d
JOIN norms na ON d.label_a = na.label
JOIN norms nb ON d.label_b = nb.label
"""


def embedding_dimension_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding drift between the reference half and the
    current half of the corpus (split on vec_id parity — the stand-in
    for "last index build vs this one"): decimal-exact means and stds
    per half plus the standardized mean shift
    |mean_cur - mean_ref| / std_ref — the monitor that catches a model
    or preprocessing change upstream of an ANN index before recall
    quietly degrades (an embedding-space PSI; value-space twin:
    plans/governance.psi_value_drift).

    Scale shape: one posexplode + (half, pos) aggregate — dims x 2
    groups, map-side partials; the drift join is dims-sized."""
    ex = _exploded(spark, sf_dir).withColumn(
        "metade",
        F.when(F.col("vec_id") % 2 == 0, F.lit("ref")).otherwise(
            F.lit("cur")
        ),
    )
    stats = ex.groupBy("metade", "pos").agg(
        exact.exact_avg(F.col("v").cast("double"), "media"),
        exact.exact_std(F.col("v").cast("double"), "desvio"),
    )
    ref = stats.filter(F.col("metade") == "ref").select(
        "pos", F.col("media").alias("media_ref"),
        F.col("desvio").alias("desvio_ref"),
    )
    cur = stats.filter(F.col("metade") == "cur").select(
        "pos", F.col("media").alias("media_cur"),
        F.col("desvio").alias("desvio_cur"),
    )
    # the shift derives from the ROUNDED on-grid components (decimal-
    # exact means are rationals that can land on the .5 round boundary
    # at digit 7 — the seasonal-residual lesson, CLAUDE.md invariants)
    return (
        ref.join(cur, "pos")
        .select(
            F.col("pos").cast("bigint").alias("pos"),
            F.round("media_ref", 6).alias("media_ref"),
            F.round("media_cur", 6).alias("media_cur"),
            F.round("desvio_ref", 6).alias("desvio_ref"),
            F.round("desvio_cur", 6).alias("desvio_cur"),
        )
        .withColumn(
            "deslocamento_padronizado",
            F.round(
                F.abs(F.col("media_cur") - F.col("media_ref"))
                / F.col("desvio_ref"),
                6,
            ),
        )
    )


EMBEDDING_DRIFT_SQL = f"""
WITH ex AS (
    SELECT vec_id,
           CASE WHEN vec_id % 2 = 0 THEN 'ref' ELSE 'cur' END AS metade,
           unnest(range(0, len(embedding))) AS pos,
           unnest(embedding) AS v
    FROM embeddings
),
stats AS (
    SELECT metade, pos,
           {exact.sql_avg("CAST(v AS DOUBLE)", "media")},
           {exact.sql_std("CAST(v AS DOUBLE)", "desvio")}
    FROM ex GROUP BY 1, 2
)
SELECT pos, media_ref, media_cur, desvio_ref, desvio_cur,
       ROUND(ABS(media_cur - media_ref) / desvio_ref, 6)
           AS deslocamento_padronizado
FROM (
    SELECT r.pos, ROUND(r.media, 6) AS media_ref,
           ROUND(c.media, 6) AS media_cur,
           ROUND(r.desvio, 6) AS desvio_ref,
           ROUND(c.desvio, 6) AS desvio_cur
    FROM (SELECT * FROM stats WHERE metade = 'ref') r
    JOIN (SELECT * FROM stats WHERE metade = 'cur') c ON r.pos = c.pos
)
"""


# --- distributed PCA ---------------------------------------------------------

#: principal components reported by `pca_embeddings`.
PCA_K = 8


def covariance_moments(emb: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Distributed inputs of the D x D covariance: (upper-triangle raw
    second moments S_ij = sum_rows x_i * x_j, per-dimension sums+count).
    One narrow nested-transform explode (D*(D+1)/2 cells per row, 2080 at
    D=64) feeding a hash aggregate with map-side combine — the shuffle
    carries at most D^2 groups no matter the corpus size. No join, no
    window, corpus scanned once per frame."""
    prods = (
        emb.select(
            F.explode(
                F.expr(
                    "flatten(transform(sequence(0, size(embedding) - 1), "
                    "i -> transform(sequence(i, size(embedding) - 1), "
                    "j -> struct(i AS i, j AS j, "
                    "CAST(element_at(embedding, i + 1) AS DOUBLE) * "
                    "CAST(element_at(embedding, j + 1) AS DOUBLE) AS p))))"
                )
            ).alias("t")
        )
        .select("t.i", "t.j", "t.p")
        .groupBy("i", "j")
        .agg(F.sum("p").alias("s"))
    )
    sums = (
        emb.select(F.posexplode("embedding").alias("i", "xi"))
        .groupBy("i")
        .agg(
            F.sum(F.col("xi").cast("double")).alias("sx"),
            F.count("*").alias("cnt"),
        )
    )
    return prods, sums


def pca_fit(spark: SparkSession, sf_dir: str) -> tuple:
    """Fit PCA over the embeddings table: distributed moments -> D x D
    covariance C = (S - n * mu mu^T) / (n - 1) assembled on the DRIVER
    (D^2 floats — the MODEL, not the data; same driver-holds-the-model
    stance as the BPE merge table) -> numpy eigendecomposition. Returns
    (eigenvalues desc, components [k x D], mean vector, n), memoized per
    (session, sf_dir) by operators/memo.shared: the two full-corpus
    moment jobs run once per session, not once per
    pca_embeddings/pca_project plan build (registration cost is handled
    by EAGER_QUERIES membership)."""
    return memo.shared(spark, sf_dir, "pca_fit", lambda: _pca_fit(spark, sf_dir))


def _pca_fit(spark: SparkSession, sf_dir: str) -> tuple:
    import numpy as np

    emb = datamodel.load_table(spark, sf_dir, "embeddings")
    prods, sums = covariance_moments(emb)
    mrows = {r.i: (r.sx, r.cnt) for r in sums.collect()}
    d = len(mrows)
    n = mrows[0][1]
    mu = np.array([mrows[i][0] / n for i in range(d)])
    s = np.zeros((d, d))
    for r in prods.collect():
        s[r.i, r.j] = r.s
        s[r.j, r.i] = r.s
    cov = (s - n * np.outer(mu, mu)) / (n - 1)
    w, v = np.linalg.eigh(cov)
    order = np.argsort(w)[::-1]
    return (w[order], v[:, order].T, mu, n)


def pca_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA spectrum report: top-PCA_K eigenvalues and explained-variance
    ratios of the embedding covariance — the curation diagnostic for
    effective dimensionality / collapsed-embedding detection (a healthy
    encoder spreads variance; a collapsed one concentrates it in a few
    directions).

    Rows-only registration: eigendecomposition has no SQL twin and
    eigenvector sign/order is LAPACK-determined; the differential test
    pins eigenvalues and projected variance against a full numpy PCA of
    the collected corpus."""
    w, _, _, _ = pca_fit(spark, sf_dir)
    total = float(w.sum())
    rows = [
        (int(i + 1), float(w[i]), float(w[i] / total))
        for i in range(min(PCA_K, len(w)))
    ]
    return spark.createDataFrame(
        rows, "componente int, autovalor double, razao_variancia double"
    )


def pca_project(emb: DataFrame, components, mean) -> DataFrame:
    """Project every embedding onto the given components (k x D python
    lists / numpy rows): centered dot products as zip_with folds against
    BROADCAST-LITERAL component arrays — a narrow map, no explode, no
    shuffle; the serving-path shape for whitening / dimensionality
    reduction at any corpus size."""
    out = emb
    mean_arr = F.array(*[F.lit(float(x)) for x in mean])
    centered = F.zip_with(
        F.col("embedding").cast("array<double>"),
        mean_arr,
        lambda x, m: x - m,
    )
    out = out.withColumn("_centered", centered)
    for ki, comp in enumerate(components, start=1):
        carr = F.array(*[F.lit(float(x)) for x in comp])
        out = out.withColumn(
            f"pc{ki}",
            F.aggregate(
                F.zip_with(
                    F.col("_centered"), carr, lambda x, c: x * c
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )
    return out.drop("_centered")
