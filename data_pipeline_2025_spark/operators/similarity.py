"""Similarity search over the `embeddings` table — BASELINE.json's
ANN requirement (the Spark-native analog of the reference's RAG
retrieval, SURVEY.md §2.11: FAISS + RetrievalQA(k=2) →
embedding-column + cosine top-k).

Two paths, mirroring how you'd actually serve 100 TB of vectors:
- brute-force cosine top-k (the correctness baseline): queries are a
  tiny broadcast side, candidates stream; one pass, no shuffle
  beyond the final per-query top-k;
- IVF-style partitioning (the scale path): assign every vector to
  its nearest of K fixed centroids — searches then touch one
  bucket instead of the full corpus. Bucketing is the same
  pattern as LSH banding in dedup.py.

All vector math is double-precision column algebra
(zip_with/aggregate — JVM-side, no UDF); cosines are rounded to 6
decimals BEFORE ranking so ordering is engine-stable (rank ties
break by vec_id).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import Catalog, fan_out
from ..registry import register

QUERY_IDS = (0, 1, 2)
TOP_K = 10
N_CENTROIDS = 8
NEARDUP_COS = 0.4

_QIDS_SQL = ", ".join(str(i) for i in QUERY_IDS)


def _vec_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, v: array<double>, label, n2: double self-dot)."""
    cat = Catalog(spark, sf_dir)
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    # fan_out: embeddings is one parquet file -> one scan partition;
    # the per-row dot-product folds would all run on one core.
    e = fan_out(cat.embeddings, "vec_id").select("vec_id", v.alias("v"), "label")
    return e.withColumn("n2", _dot(F.col("v"), F.col("v")))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


_ORACLE_Q40 = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
n AS (SELECT vec_id, v, label, list_dot_product(v, v) AS n2 FROM e),
q AS (SELECT * FROM n WHERE vec_id IN ({_QIDS_SQL})),
pairs AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label AS neighbor_label,
           round(list_dot_product(q.v, c.v) / (sqrt(q.n2) * sqrt(c.n2)), 6) AS cos_r
    FROM q JOIN n c ON c.vec_id <> q.vec_id
)
SELECT query_id, neighbor_id, neighbor_label, cos_r, CAST(rn AS INTEGER) AS rank
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos_r DESC, neighbor_id
    ) AS rn
    FROM pairs
)
WHERE rn <= {TOP_K}
"""


@register(
    "q40_ann_bruteforce",
    oracle=_ORACLE_Q40,
    doc="Brute-force cosine top-k per query vector (ANN correctness "
    "baseline; broadcast queries × streamed candidates).",
    tags=("similarity", "ann"),
)
def q40_ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = _vec_norms(spark, sf_dir)
    q = (
        n.where(F.col("vec_id").isin(*QUERY_IDS))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("n2").alias("qn2"),
        )
    )
    pairs = (
        F.broadcast(q)
        .crossJoin(n)
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("neighbor_label"),
            F.round(
                _dot(F.col("qv"), F.col("v"))
                / (F.sqrt(F.col("qn2")) * F.sqrt(F.col("n2"))),
                6,
            ).alias("cos_r"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_r").desc(), "neighbor_id"
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "neighbor_label", "cos_r", "rank")
    )


# IVF assignment: centroids are the first K vectors (a deterministic
# stand-in for trained k-means centers; the plumbing — bucket assign,
# in-bucket search — is what scales). Distance via the dot identity
# ||a-b||² = n2a + n2b - 2·a·b, identical formula in both engines.
_IVF_CTE = f"""
e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
n AS (SELECT vec_id, v, label, list_dot_product(v, v) AS n2 FROM e),
cent AS (SELECT vec_id AS centroid_id, v AS cv, n2 AS cn2 FROM n
         WHERE vec_id < {N_CENTROIDS}),
assign AS (
    SELECT vec_id, label, centroid_id, d2_r FROM (
        SELECT n.vec_id, n.label, cent.centroid_id,
               round(n.n2 + cent.cn2 - 2 * list_dot_product(n.v, cent.cv), 6) AS d2_r,
               row_number() OVER (
                   PARTITION BY n.vec_id ORDER BY
                   round(n.n2 + cent.cn2 - 2 * list_dot_product(n.v, cent.cv), 6),
                   cent.centroid_id
               ) AS rn
        FROM n CROSS JOIN cent
    ) WHERE rn = 1
)"""

_ORACLE_Q46 = f"""
WITH m AS (
    SELECT vec_id,
           list_transform(embedding::DOUBLE[],
                          x -> CAST(floor(x * 1000000) AS BIGINT)) AS mv
    FROM embeddings
),
n AS (SELECT vec_id, mv, list_dot_product(mv, mv) AS n2 FROM m),
q AS (SELECT vec_id AS query_id, mv AS qv, n2 AS qn2 FROM n
      WHERE vec_id IN ({_QIDS_SQL})),
pairs AS (
    SELECT q.query_id, c.vec_id AS neighbor_id,
           round(list_dot_product(q.qv, c.mv)
                 / (sqrt(c.n2) * sqrt(q.qn2)), 6) AS cos_r
    FROM q JOIN n c ON c.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, cos_r, CAST(rn AS INTEGER) AS rank
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos_r DESC, neighbor_id
    ) AS rn
    FROM pairs
)
WHERE rn <= {TOP_K}
"""


@register(
    "q46_ann_pandas_vectorized",
    oracle=_ORACLE_Q46,
    doc="Brute-force cosine top-k via an Arrow-batched pandas UDF "
    "(numpy matmul per batch) — the high-throughput path for wide "
    "fan-out scoring. Embeddings are quantized to integers "
    "(floor(x*1e6), the q44 trick) so every dot product and partial "
    "sum is an exact integer < 2^53: numpy's pairwise/SIMD matmul, "
    "a SQL fold, and IEEE sqrt/divide then agree bit-for-bit, which "
    "is what lets the vectorized path carry a value-hash oracle.",
    tags=("similarity", "ann", "pandas-udf"),
)
def q46_ann_pandas_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    n = _vec_norms(spark, sf_dir)

    def quant(mat: "np.ndarray") -> "np.ndarray":
        return np.floor(mat * 1_000_000.0).astype(np.int64)

    queries = [
        (int(r["vec_id"]), np.asarray(r["v"], dtype=np.float64))
        for r in n.where(F.col("vec_id").isin(*QUERY_IDS)).collect()
    ]
    qmat = quant(np.stack([q[1] for q in queries]))
    qnorm = np.sqrt((qmat * qmat).sum(axis=1).astype(np.float64))
    qids = [q[0] for q in queries]

    def score(batches):
        for pdf in batches:
            cmat = quant(np.stack(pdf["v"].apply(np.asarray).values))
            cnorm = np.sqrt((cmat * cmat).sum(axis=1).astype(np.float64))
            # int64 matmul: exact (|dot| ≤ 64·1e12 ≪ 2^63, and every
            # value is < 2^53 so the float conversion is exact too).
            sims = (cmat @ qmat.T).astype(np.float64) / (
                cnorm[:, None] * qnorm[None, :]
            )
            out = []
            for qi, qid in enumerate(qids):
                out.append(
                    pd.DataFrame(
                        {
                            "query_id": qid,
                            "neighbor_id": pdf["vec_id"].values,
                            "cos_r": np.round(sims[:, qi], 6),
                        }
                    )
                )
            yield pd.concat(out)

    pairs = (
        n.select("vec_id", "v")
        .mapInPandas(score, "query_id long, neighbor_id long, cos_r double")
        .where(F.col("neighbor_id") != F.col("query_id"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_r").desc(), "neighbor_id")
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "cos_r", "rank")
    )


# Random-hyperplane LSH: 8 signed projections → 256 buckets.
# Hyperplane weights are DATA-INDEPENDENT pseudo-random integers
# derived from md5 at module load (python-side) and inlined as
# literals into both engines — no runtime hashing, and the dot
# products are ALL-INTEGER (embedding scaled by 1e6 via floor), so
# both engines compute bit-identical signs with zero float-ordering
# risk.
import hashlib as _hashlib

N_PLANES = 8
EMB_DIM = 64


def _plane_weights() -> list[list[int]]:
    return [
        [
            int(_hashlib.md5(f"{p}:{d}".encode()).hexdigest()[:12], 16) % 2001 - 1000
            for d in range(EMB_DIM)
        ]
        for p in range(N_PLANES)
    ]


PLANES = _plane_weights()


def _plane_sql(p: int) -> str:
    w = PLANES[p]
    terms = " + ".join(f"m[{d + 1}] * ({w[d]})" for d in range(EMB_DIM))
    return f"(CASE WHEN {terms} > 0 THEN 1::BIGINT << {p} ELSE 0 END)"


_ORACLE_Q44 = f"""
WITH m AS (
    SELECT vec_id, label,
           list_transform(embedding::DOUBLE[],
                          x -> CAST(floor(x * 1000000) AS BIGINT)) AS m
    FROM embeddings
)
SELECT vec_id, label,
       {" + ".join(_plane_sql(p) for p in range(N_PLANES))} AS bucket
FROM m
"""


@register(
    "q44_rp_lsh_buckets",
    oracle=_ORACLE_Q44,
    doc="Random-hyperplane LSH bucketing (8 planes → 256 buckets): "
    "literal integer hyperplanes, all-integer dot products — the "
    "cosine-space analog of MinHash banding for 100 TB ANN.",
    tags=("similarity", "lsh"),
)
def q44_rp_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    m = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * 1_000_000).cast("bigint"),
    )
    e = fan_out(cat.embeddings, "vec_id").select("vec_id", "label", m.alias("m"))
    bucket = None
    for p in range(N_PLANES):
        w = F.array(*[F.lit(v) for v in PLANES[p]])
        dot = F.aggregate(
            F.zip_with(F.col("m"), w, lambda x, y: x * y),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )
        term = F.when(dot > 0, F.shiftleft(F.lit(1).cast("bigint"), p)).otherwise(
            F.lit(0).cast("bigint")
        )
        bucket = term if bucket is None else bucket + term
    return e.select("vec_id", "label", bucket.alias("bucket"))


_ORACLE_Q41 = f"""
WITH {_IVF_CTE}
SELECT vec_id, centroid_id, d2_r FROM assign
"""


def _ivf_assign(
    spark: SparkSession, sf_dir: str, k: int = N_CENTROIDS
) -> DataFrame:
    n = _vec_norms(spark, sf_dir)
    cent = (
        n.where(F.col("vec_id") < k)
        .select(
            F.col("vec_id").alias("centroid_id"),
            F.col("v").alias("cv"),
            F.col("n2").alias("cn2"),
        )
    )
    d2 = F.round(
        F.col("n2") + F.col("cn2") - 2 * _dot(F.col("v"), F.col("cv")), 6
    )
    w = Window.partitionBy("vec_id").orderBy("d2_r", "centroid_id")
    return (
        n.crossJoin(F.broadcast(cent))
        .withColumn("d2_r", d2)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", "label", "centroid_id", "d2_r")
    )


@register(
    "q41_ivf_assign",
    oracle=_ORACLE_Q41,
    doc="IVF bucket assignment: nearest-of-K centroids per vector "
    "(broadcast centroids, deterministic tie-break).",
    tags=("similarity", "ivf"),
)
def q41_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ivf_assign(spark, sf_dir).select("vec_id", "centroid_id", "d2_r")


_ORACLE_Q42 = f"""
WITH {_IVF_CTE}
SELECT centroid_id,
       COUNT(*) AS members,
       CAST(SUM(CAST(d2_r AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_d2,
       COUNT(DISTINCT label) AS distinct_labels
FROM assign
GROUP BY centroid_id
ORDER BY centroid_id
"""


@register(
    "q42_ivf_cluster_stats",
    oracle=_ORACLE_Q42,
    doc="IVF cluster profile: membership, mean squared distance "
    "(exact decimal sum), label diversity.",
    tags=("similarity", "ivf", "agg"),
)
def q42_ivf_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = _ivf_assign(spark, sf_dir)
    return (
        a.groupBy("centroid_id")
        .agg(
            F.count(F.lit(1)).alias("members"),
            (
                F.sum(F.col("d2_r").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_d2"),
            F.countDistinct("label").alias("distinct_labels"),
        )
        .orderBy("centroid_id")
    )


# Density-adaptive centroid count for the near-dup pair generator
# (round-5 scale fix): with a FIXED K, packing 10x the vectors into
# the same space multiplies bucket occupancy by 10 and in-bucket
# candidate pairs by ~100 — measured on the 10x tier (SCALE.md
# round 5: candidates 262k -> 25.7M, q43 wall 1.5 s -> 147 s). The
# IVF sizing rule nlist ∝ N caps expected occupancy at
# NEARDUP_TARGET_OCC, making candidates LINEAR in N:
# K = greatest(8, ceil(N / 64)), exact integer arithmetic in both
# engines. At the correctness tiers (N=500) this is exactly the old
# K=8 — outputs there are bit-identical to the pre-adaptive rule.
# q181 sweeps the knob and emits the occupancy/candidates/recall
# evidence behind this default.
NEARDUP_TARGET_OCC = 64

# Two-level (coarse-quantized) assignment: route each vector through
# K1 = ceil(sqrt(K)) super-centroids, then argmin only over the
# centroids whose nearest super matches — assignment cost drops from
# N*K (quadratic once K ∝ N) to ~2*N*sqrt(K), the standard IVF
# build trick. When K <= 128, K1 = K and the two-level rule is
# PROVABLY identical to the flat argmin (the global argmin centroid
# is its own coarse winner and still wins in-bucket under the same
# (distance, id) tie-break), so every correctness tier is
# bit-identical to the flat rule; the coarse path engages only at
# 10x-tier scale and is cross-engine verified there.
_ADAPTIVE_CENT_SQL = f"""
ak AS (SELECT GREATEST({N_CENTROIDS}, (COUNT(*) + {NEARDUP_TARGET_OCC - 1})
                        // {NEARDUP_TARGET_OCC}) AS k,
              CASE WHEN GREATEST({N_CENTROIDS},
                        (COUNT(*) + {NEARDUP_TARGET_OCC - 1})
                        // {NEARDUP_TARGET_OCC}) > 128
                   THEN CAST(CEIL(SQRT(GREATEST({N_CENTROIDS},
                        (COUNT(*) + {NEARDUP_TARGET_OCC - 1})
                        // {NEARDUP_TARGET_OCC}))) AS BIGINT)
                   ELSE GREATEST({N_CENTROIDS},
                        (COUNT(*) + {NEARDUP_TARGET_OCC - 1})
                        // {NEARDUP_TARGET_OCC}) END AS k1
       FROM embeddings),
acent AS (SELECT vec_id AS centroid_id, v AS cv, n2 AS cn2 FROM n
          WHERE vec_id < (SELECT k FROM ak)),
asup AS (SELECT centroid_id AS sup_id, cv AS sv, cn2 AS sn2 FROM acent
         WHERE centroid_id < (SELECT k1 FROM ak)),
c2s AS (
    SELECT centroid_id, sup_id FROM (
        SELECT c.centroid_id, s.sup_id,
               row_number() OVER (
                   PARTITION BY c.centroid_id ORDER BY
                   round(c.cn2 + s.sn2 - 2 * list_dot_product(c.cv, s.sv), 6),
                   s.sup_id
               ) AS rn
        FROM acent c CROSS JOIN asup s
    ) WHERE rn = 1
),
v2s AS (
    SELECT vec_id, sup_id FROM (
        SELECT n.vec_id, s.sup_id,
               row_number() OVER (
                   PARTITION BY n.vec_id ORDER BY
                   round(n.n2 + s.sn2 - 2 * list_dot_product(n.v, s.sv), 6),
                   s.sup_id
               ) AS rn
        FROM n CROSS JOIN asup s
    ) WHERE rn = 1
),
aassign AS (
    SELECT vec_id, centroid_id FROM (
        SELECT n.vec_id, c.centroid_id,
               row_number() OVER (
                   PARTITION BY n.vec_id ORDER BY
                   round(n.n2 + c.cn2 - 2 * list_dot_product(n.v, c.cv), 6),
                   c.centroid_id
               ) AS rn
        FROM n
        JOIN v2s ON v2s.vec_id = n.vec_id
        JOIN c2s ON c2s.sup_id = v2s.sup_id
        JOIN acent c ON c.centroid_id = c2s.centroid_id
    ) WHERE rn = 1
)"""

_ORACLE_Q43 = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
n AS (SELECT vec_id, v, label, list_dot_product(v, v) AS n2 FROM e),
{_ADAPTIVE_CENT_SQL}
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_dot_product(na.v, nb.v) / (sqrt(na.n2) * sqrt(nb.n2)), 6) AS cos_r
FROM aassign a
JOIN aassign b ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
JOIN n na ON na.vec_id = a.vec_id
JOIN n nb ON nb.vec_id = b.vec_id
WHERE round(list_dot_product(na.v, nb.v) / (sqrt(na.n2) * sqrt(nb.n2)), 6) >= {NEARDUP_COS}
"""


def _ivf_assign_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """_ivf_assign with K = greatest(8, ceil(N / TARGET_OCC)) and a
    two-level coarse-quantized argmin (see _ADAPTIVE_CENT_SQL):
    route each vector through K1 = ceil(sqrt(K)) broadcast
    super-centroids (K1 = K while K <= 128, where the rule is
    provably identical to the flat argmin), then argmin only over
    that coarse bucket's centroids — ~2*N*sqrt(K) distance
    computations instead of N*K once K grows with N."""
    n = _vec_norms(spark, sf_dir)
    k_expr = F.greatest(
        F.lit(N_CENTROIDS).cast("bigint"),
        F.expr(f"(count(1) + {NEARDUP_TARGET_OCC - 1}) div {NEARDUP_TARGET_OCC}"),
    )
    k_row = n.agg(
        k_expr.alias("__k"),
        F.when(k_expr > 128, F.ceil(F.sqrt(k_expr.cast("double"))).cast("bigint"))
        .otherwise(k_expr)
        .alias("__k1"),
    )
    cent = (
        n.crossJoin(F.broadcast(k_row))
        .where(F.col("vec_id") < F.col("__k"))
        .select(
            F.col("vec_id").alias("centroid_id"),
            F.col("v").alias("cv"),
            F.col("n2").alias("cn2"),
            "__k1",
        )
    )
    sup = cent.where(F.col("centroid_id") < F.col("__k1")).select(
        F.col("centroid_id").alias("sup_id"),
        F.col("cv").alias("sv"),
        F.col("cn2").alias("sn2"),
    )

    def argmin_over(left: DataFrame, key: str, cand: DataFrame, cand_key: str,
                    lv: str, ln2: str, cv: str, cn2: str, how: str) -> DataFrame:
        d2 = F.round(F.col(ln2) + F.col(cn2) - 2 * _dot(F.col(lv), F.col(cv)), 6)
        w = Window.partitionBy(key).orderBy("d2_r", cand_key)
        joined = (
            left.crossJoin(F.broadcast(cand))
            if how == "cross"
            else left.join(F.broadcast(cand), how)
        )
        return (
            joined.withColumn("d2_r", d2)
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
        )

    # centroid -> nearest super (K x K1, tiny)
    c2s = argmin_over(
        cent.select("centroid_id", F.col("cv").alias("xv"), F.col("cn2").alias("xn2")),
        "centroid_id", sup, "sup_id", "xv", "xn2", "sv", "sn2", "cross",
    ).select("centroid_id", "sup_id")
    # vector -> nearest super (N x K1)
    v2s = argmin_over(
        n, "vec_id", sup, "sup_id", "v", "n2", "sv", "sn2", "cross"
    ).select("vec_id", "sup_id")
    # vector -> nearest centroid inside its coarse bucket (N x K/K1)
    bucket_cents = c2s.join(
        cent.select("centroid_id", "cv", "cn2"), "centroid_id"
    ).select("sup_id", "centroid_id", "cv", "cn2")
    return argmin_over(
        n.join(v2s, "vec_id"), "vec_id", bucket_cents, "centroid_id",
        "v", "n2", "cv", "cn2", "sup_id",
    ).select("vec_id", "centroid_id")


@register(
    "q43_embedding_neardup",
    oracle=_ORACLE_Q43,
    doc="Embedding near-dup pairs: candidates restricted to the same "
    "IVF bucket with DENSITY-ADAPTIVE centroid count "
    "K = max(8, ceil(N/64)) — bucket occupancy bounded, candidate "
    "pairs linear in N (the fixed-K rule measured ~100x candidate "
    "growth at 10x density; q181 emits the sweep evidence) — "
    "cosine-verified.",
    tags=("similarity", "dedup", "scale"),
)
def q43_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = _vec_norms(spark, sf_dir)
    # One materialized assignment feeds both sides of the in-bucket
    # self-join — without the checkpoint each side re-runs the full
    # two-level argmin (2 ints per vector: tiny at any N).
    assign = _ivf_assign_adaptive(spark, sf_dir).localCheckpoint()
    a = assign.select(
        F.col("vec_id").alias("vec_a"), F.col("centroid_id").alias("ca")
    )
    b = assign.select(
        F.col("vec_id").alias("vec_b"), F.col("centroid_id").alias("cb")
    )
    cand = a.join(
        b, (F.col("ca") == F.col("cb")) & (F.col("vec_a") < F.col("vec_b"))
    )
    na = n.select(
        F.col("vec_id").alias("vec_a"), F.col("v").alias("va"), F.col("n2").alias("na2")
    )
    nb = n.select(
        F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"), F.col("n2").alias("nb2")
    )
    cos_r = F.round(
        _dot(F.col("va"), F.col("vb"))
        / (F.sqrt(F.col("na2")) * F.sqrt(F.col("nb2"))),
        6,
    )
    return (
        cand.join(na, "vec_a")
        .join(nb, "vec_b")
        .select("vec_a", "vec_b", cos_r.alias("cos_r"))
        .where(F.col("cos_r") >= NEARDUP_COS)
    )


def neardup_pairs_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q43's verified embedding near-dup pair table, persisted once
    per (session, sf_dir) — the materialized similarity GRAPH all
    graph analytics read (q91 rank propagation, q172 PageRank, q192
    decontamination). Same contract as dedup.lsh_pairs_df: q43
    itself never reads this cache (it times/checks construction);
    consumers time the analysis on the materialized graph."""
    from ..session import session_frame

    return session_frame(
        "neardup_pairs",
        spark,
        sf_dir,
        lambda: q43_embedding_neardup(spark, sf_dir),
    )


# ----------------------------------------------------- ANN recall@k
#
# The measurement half of ANN serving: recall@k of the IVF path
# (probe the query's own bucket, nprobe=1) against the exact
# brute-force top-k. This is the number you actually turn the IVF
# knobs (K centroids, nprobe) against at 100 TB — scanning ~1/K of
# the corpus buys you `recall_at_k`, and the query itself reports
# how many candidates the probe scanned. All ranking is on
# round(cos, 6) with vec_id tie-breaks, so both engines produce the
# identical top-k sets and the recall fractions are exact.

_ORACLE_Q72 = f"""
WITH {_IVF_CTE},
q AS (SELECT vec_id, v, n2 FROM n WHERE vec_id IN ({_QIDS_SQL})),
exact AS (
    SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY round(list_dot_product(q.v, c.v)
                                  / (sqrt(q.n2) * sqrt(c.n2)), 6) DESC,
                            c.vec_id
               ) AS rn
        FROM q JOIN n c ON c.vec_id <> q.vec_id
    ) WHERE rn <= {TOP_K}
),
qa AS (
    SELECT vec_id AS query_id, centroid_id FROM assign
    WHERE vec_id IN ({_QIDS_SQL})
),
probe AS (
    SELECT qa.query_id, a.vec_id AS neighbor_id,
           round(list_dot_product(nq.v, nc.v)
                 / (sqrt(nq.n2) * sqrt(nc.n2)), 6) AS cos_r
    FROM qa
    JOIN assign a ON a.centroid_id = qa.centroid_id
                 AND a.vec_id <> qa.query_id
    JOIN n nq ON nq.vec_id = qa.query_id
    JOIN n nc ON nc.vec_id = a.vec_id
),
ivf AS (
    SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (
                   PARTITION BY query_id ORDER BY cos_r DESC, neighbor_id
               ) AS rn
        FROM probe
    ) WHERE rn <= {TOP_K}
),
scanned AS (
    SELECT query_id, COUNT(*) AS scanned FROM probe GROUP BY query_id
)
SELECT e.query_id,
       s.scanned,
       CAST(COUNT(i.neighbor_id) AS BIGINT)              AS hits,
       CAST(COUNT(i.neighbor_id) AS DOUBLE) / {TOP_K}    AS recall_at_k
FROM exact e
LEFT JOIN ivf i ON i.query_id = e.query_id
               AND i.neighbor_id = e.neighbor_id
JOIN scanned s ON s.query_id = e.query_id
GROUP BY e.query_id, s.scanned
ORDER BY e.query_id
"""


@register(
    "q72_ann_recall",
    oracle=_ORACLE_Q72,
    doc="ANN quality metric: recall@k of the IVF probe (own bucket, "
    "nprobe=1) vs the exact brute-force top-k, plus how many "
    "candidates the probe scanned — the tuning signal for K/nprobe "
    "at scale.",
    tags=("similarity", "ann", "eval"),
)
def q72_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = q40_ann_bruteforce(spark, sf_dir).select("query_id", "neighbor_id")
    # r10 (guide §5): `assign` is consumed twice (query buckets +
    # neighbor side) and _vec_norms is not session-persisted, so the
    # lazy form ran the corpus × centroids crossJoin + argmin window
    # twice. One materialization of the (vec_id, centroid_id) table.
    assign = _ivf_assign(spark, sf_dir).localCheckpoint()
    n = _vec_norms(spark, sf_dir)
    qa = (
        assign.where(F.col("vec_id").isin(*QUERY_IDS))
        .select(F.col("vec_id").alias("query_id"), F.col("centroid_id").alias("qc"))
    )
    nq = n.select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"),
        F.col("n2").alias("qn2"),
    )
    nc = n.select(
        F.col("vec_id").alias("neighbor_id"), F.col("v").alias("cv"),
        F.col("n2").alias("cn2"),
    )
    probe = (
        F.broadcast(qa)
        .join(
            assign.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("centroid_id").alias("cc"),
            ),
            (F.col("cc") == F.col("qc"))
            & (F.col("neighbor_id") != F.col("query_id")),
        )
        .join(F.broadcast(nq), "query_id")
        .join(nc, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _dot(F.col("qv"), F.col("cv"))
                / (F.sqrt(F.col("qn2")) * F.sqrt(F.col("cn2"))),
                6,
            ).alias("cos_r"),
        )
        # r10: probe feeds the top-k window AND the scanned count —
        # candidate-sized, so materializing beats re-running the
        # bucket join + cosine pass twice.
        .localCheckpoint()
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_r").desc(), "neighbor_id")
    ivf = (
        probe.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= TOP_K)
        .select("query_id", "neighbor_id", F.lit(1).alias("hit"))
    )
    scanned = probe.groupBy("query_id").agg(F.count(F.lit(1)).alias("scanned"))
    return (
        exact.join(ivf, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.sum(F.coalesce("hit", F.lit(0))).cast("bigint").alias("hits"),
            (
                F.sum(F.coalesce("hit", F.lit(0))).cast("double") / TOP_K
            ).alias("recall_at_k"),
        )
        .join(F.broadcast(scanned), "query_id")
        .select("query_id", "scanned", "hits", "recall_at_k")
        .orderBy("query_id")
    )


# ------------------- q82: deterministic k-means Lloyd refinement --
#
# The iterative-algorithm shape (SURVEY custom-operator rule (a)):
# one full Lloyd step — assign to seed centroids, recompute centroids
# as member means, reassign — with every quantity INTEGER so both
# engines agree bit-for-bit: vectors quantized to floor(x*1e6)
# (the q44/q46 trick), distances expanded to integer dot products
# (n2_v - 2*v.c + n2_c), and refined centroids floor-averaged
# per dimension. floor(s/cnt) computed via double division is exact
# here: |s| <= 5e8 and cnt <= 500, so the quotient's double error
# (~5e-8) can never cross an integer boundary (non-integer rationals
# with denominator <= 500 sit >= 1/500 from any integer). Multi-round
# Lloyd at scale = this step iterated with localCheckpoint lineage
# truncation, exactly like q70's connected components.
_Q82_SQL = f"""
WITH m AS (
    SELECT vec_id,
           list_transform(embedding::DOUBLE[],
                          x -> CAST(floor(x * 1000000) AS BIGINT)) AS mv
    FROM embeddings
),
n AS (SELECT vec_id, mv, list_dot_product(mv, mv) AS n2 FROM m),
c0 AS (SELECT vec_id AS cid, mv AS cv FROM n WHERE vec_id < {N_CENTROIDS}),
a0 AS (
    SELECT vec_id, cid FROM (
        SELECT n.vec_id, c0.cid,
               row_number() OVER (
                   PARTITION BY n.vec_id
                   ORDER BY n.n2 - 2 * list_dot_product(n.mv, c0.cv)
                            + list_dot_product(c0.cv, c0.cv), c0.cid
               ) AS rn
        FROM n CROSS JOIN c0
    ) WHERE rn = 1
),
mem AS (
    SELECT a0.cid, i.i AS pos, n.mv[i.i] AS val
    FROM a0 JOIN n USING (vec_id), UNNEST(range(1, {EMB_DIM} + 1)) AS i(i)
),
sums AS (
    SELECT cid, pos, CAST(SUM(val) AS BIGINT) AS s,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM mem GROUP BY cid, pos
),
c1 AS (
    SELECT cid,
           list(CAST(floor(CAST(s AS DOUBLE) / cnt) AS BIGINT)
                ORDER BY pos) AS cv
    FROM sums GROUP BY cid
),
a1 AS (
    SELECT vec_id, cid FROM (
        SELECT n.vec_id, c1.cid,
               row_number() OVER (
                   PARTITION BY n.vec_id
                   ORDER BY n.n2 - 2 * list_dot_product(n.mv, c1.cv)
                            + list_dot_product(c1.cv, c1.cv), c1.cid
               ) AS rn
        FROM n CROSS JOIN c1
    ) WHERE rn = 1
),
n0 AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_before FROM a0 GROUP BY cid),
n1 AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_after FROM a1 GROUP BY cid),
arr AS (
    SELECT a1.cid, CAST(COUNT(*) AS BIGINT) AS arrivals
    FROM a1 JOIN a0 USING (vec_id)
    WHERE a1.cid <> a0.cid GROUP BY a1.cid
)
SELECT c0.cid AS centroid_id,
       CAST(COALESCE(n0.n_before, 0) AS BIGINT) AS n_before,
       CAST(COALESCE(n1.n_after, 0) AS BIGINT) AS n_after,
       CAST(COALESCE(arr.arrivals, 0) AS BIGINT) AS arrivals
FROM c0
LEFT JOIN n0 ON n0.cid = c0.cid
LEFT JOIN n1 ON n1.cid = c0.cid
LEFT JOIN arr ON arr.cid = c0.cid
ORDER BY centroid_id
"""


def _int_vecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, mv: array<bigint>, n2: bigint) quantized vectors."""
    cat = Catalog(spark, sf_dir)
    m = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * 1_000_000).cast("bigint"),
    )
    e = fan_out(cat.embeddings, "vec_id").select("vec_id", m.alias("mv"))
    return e.withColumn("n2", _idot(F.col("mv"), F.col("mv")))


def _idot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def _nearest(vecs: DataFrame, cents: DataFrame, keep_d2: bool = False) -> DataFrame:
    """(vec_id, cid) nearest-centroid assignment, integer distances,
    ties broken by centroid id. Centroids are broadcast — the only
    join in a Lloyd step at any scale. keep_d2 additionally carries
    the chosen centroid's exact integer squared distance (q199's
    per-round cost witness)."""
    d2 = (
        F.col("n2")
        - 2 * _idot(F.col("mv"), F.col("cv"))
        + _idot(F.col("cv"), F.col("cv"))
    )
    w = Window.partitionBy("vec_id").orderBy(d2.asc(), F.col("cid").asc())
    cols = ["vec_id", "cid", "mv", "n2"] + (["d2"] if keep_d2 else [])
    return (
        vecs.crossJoin(F.broadcast(cents))
        .withColumn("d2", d2)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(*cols)
    )


@register(
    "q82_kmeans_refine",
    oracle=_Q82_SQL,
    doc="One deterministic Lloyd step over quantized embeddings: "
    "assign to seed centroids, floor-average members per dimension "
    "into integer refined centroids, reassign. All-integer distance "
    "algebra makes the iterative algorithm value-hash checkable; "
    "scale shape: centroids broadcast, per-dimension sums are one "
    "map-side-combinable groupBy, rounds iterate with checkpointed "
    "lineage like q70's connected components.",
    tags=("similarity", "kmeans", "iterative"),
)
def q82_kmeans_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    vecs = _int_vecs(spark, sf_dir)
    c0 = vecs.where(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("cid"), F.col("mv").alias("cv")
    )
    a0 = _nearest(vecs, c0)
    # refined centroids: per-dimension integer floor-average
    sums = (
        a0.select("cid", F.posexplode("mv").alias("pos", "val"))
        .groupBy("cid", "pos")
        .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("cnt"))
    )
    c1 = (
        sums.withColumn(
            "cval",
            F.floor(F.col("s").cast("double") / F.col("cnt")).cast("bigint"),
        )
        .groupBy("cid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "cval"))),
                lambda x: x["cval"],
            ).alias("cv")
        )
    )
    a1 = _nearest(vecs, c1)
    n0 = a0.groupBy("cid").agg(F.count(F.lit(1)).alias("n_before"))
    n1 = a1.groupBy("cid").agg(F.count(F.lit(1)).alias("n_after"))
    arr = (
        a1.select("vec_id", F.col("cid").alias("c_new"))
        .join(a0.select("vec_id", F.col("cid").alias("c_old")), "vec_id")
        .where(F.col("c_new") != F.col("c_old"))
        .groupBy(F.col("c_new").alias("cid"))
        .agg(F.count(F.lit(1)).alias("arrivals"))
    )
    out = (
        c0.select("cid")
        .join(n0, "cid", "left")
        .join(n1, "cid", "left")
        .join(arr, "cid", "left")
        .select(
            F.col("cid").alias("centroid_id"),
            F.coalesce("n_before", F.lit(0)).cast("bigint").alias("n_before"),
            F.coalesce("n_after", F.lit(0)).cast("bigint").alias("n_after"),
            F.coalesce("arrivals", F.lit(0)).cast("bigint").alias("arrivals"),
        )
    )
    return out.orderBy("centroid_id")


# ------------------------------------------- q90: coreset per cell
#
# Diversity / coreset sampling: keep the R most central NON-SEED
# members of every IVF cell — the cheap distributed stand-in for
# facility-location coresets when a 100 TB corpus must shrink to a
# representative sample. The per-cell ranking shares the one
# assignment shuffle; R rows per cell leave the cluster, so the
# coreset is O(K·R) however large the corpus. Seed vectors are
# excluded (they'd trivially win their own cell at d2 = 0).

CORESET_R = 3

_ORACLE_Q90 = f"""
WITH {_IVF_CTE},
members AS (
    SELECT a.centroid_id, a.vec_id, a.label, a.d2_r
    FROM assign a WHERE a.vec_id >= {N_CENTROIDS}
),
r AS (
    SELECT centroid_id, vec_id, label, d2_r,
           row_number() OVER (
               PARTITION BY centroid_id ORDER BY d2_r, vec_id
           ) AS rn,
           COUNT(*) OVER (PARTITION BY centroid_id) AS members
    FROM members
)
SELECT CAST(centroid_id AS BIGINT) AS centroid_id,
       CAST(rn AS BIGINT)          AS rep_rank,
       CAST(vec_id AS BIGINT)      AS rep_vec_id,
       CAST(label AS BIGINT)       AS rep_label,
       d2_r                        AS rep_d2_r,
       CAST(members AS BIGINT)     AS members
FROM r WHERE rn <= {CORESET_R}
"""


@register(
    "q90_ivf_coreset",
    oracle=_ORACLE_Q90,
    doc=f"Coreset sampling: the {CORESET_R} most-central non-seed "
    "members per IVF cell (deterministic d2/vec_id ranking) plus "
    "cell population — O(K·R) output regardless of corpus size, "
    "sharing the single assignment shuffle.",
    tags=("similarity", "ivf", "curation"),
)
def q90_ivf_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    members = _ivf_assign(spark, sf_dir).where(F.col("vec_id") >= N_CENTROIDS)
    w = Window.partitionBy("centroid_id").orderBy("d2_r", "vec_id")
    wc = Window.partitionBy("centroid_id")
    return (
        members.withColumn("rn", F.row_number().over(w))
        .withColumn("members", F.count(F.lit(1)).over(wc))
        .where(F.col("rn") <= CORESET_R)
        .select(
            F.col("centroid_id").cast("bigint").alias("centroid_id"),
            F.col("rn").cast("bigint").alias("rep_rank"),
            F.col("vec_id").cast("bigint").alias("rep_vec_id"),
            F.col("label").cast("bigint").alias("rep_label"),
            F.col("d2_r").alias("rep_d2_r"),
            F.col("members").cast("bigint").alias("members"),
        )
    )


# ------------------------- q114: product quantization (PQ) encoding
#
# The memory half of ANN at 100 TB: IVF (q41/q42/q90) prunes the
# SEARCH, PQ shrinks the STORAGE — a 64-dim float vector becomes 4
# one-byte codes (one per 16-dim subspace) plus a shared codebook,
# a 64x compression that is what makes billion-vector indexes fit
# in RAM (Jegou et al., "Product Quantization for Nearest Neighbor
# Search", TPAMI 2011). Codebook = the N_CENTROIDS seed vectors'
# sub-vectors (the same deterministic seeding as IVF/k-means here;
# a real deployment runs q82's Lloyd step per subspace first).
#
# Scale shape: the codebook is ONE broadcast row (arrays of
# sub-centroids); encoding is then pure per-row array algebra —
# zero shuffles, embarrassingly parallel, exactly how a 100 TB
# encode pass must run. All distances are exact integers over the
# quantized vectors, so the assignment AND the reconstruction error
# are bit-stable across engines.
PQ_SUB = 4
PQ_SUB_DIM = EMB_DIM // PQ_SUB  # 16

_SUB_SQL = ", ".join(str(s) for s in range(PQ_SUB))

_Q114_SQL = f"""
WITH m AS (
    SELECT vec_id,
           list_transform(embedding::DOUBLE[],
                          x -> CAST(floor(x * 1000000) AS BIGINT)) AS mv
    FROM embeddings
),
cb AS (SELECT vec_id AS cid, mv AS cv FROM m WHERE vec_id < {N_CENTROIDS}),
d AS (
    SELECT m.vec_id, s.s AS sub, cb.cid,
           list_dot_product(list_slice(m.mv, s.s * {PQ_SUB_DIM} + 1, (s.s + 1) * {PQ_SUB_DIM}),
                            list_slice(m.mv, s.s * {PQ_SUB_DIM} + 1, (s.s + 1) * {PQ_SUB_DIM}))
         - 2 * list_dot_product(list_slice(m.mv, s.s * {PQ_SUB_DIM} + 1, (s.s + 1) * {PQ_SUB_DIM}),
                                list_slice(cb.cv, s.s * {PQ_SUB_DIM} + 1, (s.s + 1) * {PQ_SUB_DIM}))
         + list_dot_product(list_slice(cb.cv, s.s * {PQ_SUB_DIM} + 1, (s.s + 1) * {PQ_SUB_DIM}),
                            list_slice(cb.cv, s.s * {PQ_SUB_DIM} + 1, (s.s + 1) * {PQ_SUB_DIM})) AS d2
    FROM m
    CROSS JOIN (SELECT UNNEST([{_SUB_SQL}]) AS s) s
    CROSS JOIN cb
),
best AS (
    SELECT vec_id, sub, cid, d2,
           row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, cid) AS rn
    FROM d
)
SELECT vec_id,
       CAST(MAX(CASE WHEN sub = 0 THEN cid END) AS BIGINT) AS code0,
       CAST(MAX(CASE WHEN sub = 1 THEN cid END) AS BIGINT) AS code1,
       CAST(MAX(CASE WHEN sub = 2 THEN cid END) AS BIGINT) AS code2,
       CAST(MAX(CASE WHEN sub = 3 THEN cid END) AS BIGINT) AS code3,
       CAST(SUM(d2) AS BIGINT) AS recon_err
FROM best WHERE rn = 1
GROUP BY vec_id
ORDER BY vec_id
"""


def _il2(x: Column, y: Column) -> Column:
    """Exact integer squared L2 distance between two bigint arrays."""
    return F.aggregate(
        F.zip_with(x, y, lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


@register(
    "q114_pq_quantization",
    oracle=_Q114_SQL,
    doc="Product-quantization encode: 64-dim vector -> 4 subspace "
    "codes + exact integer reconstruction error. Codebook joins as "
    "ONE broadcast row; encoding is per-row array algebra — zero "
    "shuffles, the only shape a 100 TB encode pass can take.",
    tags=("similarity", "pq", "compression"),
)
def q114_pq_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    vecs = _int_vecs(spark, sf_dir)
    # Codebook as one row of parallel arrays (cids sorted ascending,
    # cvs aligned) — argmin by array_position then picks the LOWEST
    # cid on distance ties, matching the oracle's ORDER BY d2, cid.
    cb = (
        vecs.where(F.col("vec_id") < N_CENTROIDS)
        .agg(F.array_sort(F.collect_list(F.struct("vec_id", "mv"))).alias("cb"))
        .select(
            F.transform("cb", lambda x: x["vec_id"]).alias("cids"),
            F.transform("cb", lambda x: x["mv"]).alias("cvs"),
        )
    )
    rows = vecs.crossJoin(F.broadcast(cb))
    cols = [F.col("vec_id")]
    total = None
    def _sub_dists(s: int, sub: Column) -> Column:
        def dist(c: Column) -> Column:
            return _il2(sub, F.slice(c, s * PQ_SUB_DIM + 1, PQ_SUB_DIM))

        return F.transform("cvs", dist)

    for s in range(PQ_SUB):
        sub = F.slice("mv", s * PQ_SUB_DIM + 1, PQ_SUB_DIM)
        dists = _sub_dists(s, sub)
        best = F.array_min(dists)
        idx = F.array_position(dists, best).cast("int")
        cols.append(F.element_at("cids", idx).cast("bigint").alias(f"code{s}"))
        total = best if total is None else total + best
    cols.append(total.cast("bigint").alias("recon_err"))
    return rows.select(*cols).orderBy("vec_id")


# --------------------- q147: multi-probe IVF recall/cost curve ----
#
# Production ANN raises recall not by adding centroids but by probing
# the nprobe NEAREST buckets per query instead of one (FAISS's nprobe
# knob; q72 is the nprobe=1 point of this curve). One frame reports
# recall@k AND candidate count per (query, nprobe) for nprobe in
# {1,2,4} — the recall/cost trade-off you tune against at 100 TB,
# where each probed bucket is ~1/K of the corpus.
#
# Scale shape: queries x centroids is a broadcast cross of two tiny
# frames (Q x K rows); candidates come from an equi-join of that
# probe list against the bucket assignment on centroid_id — never an
# all-pairs scan. The three nprobe levels share ONE candidate pass:
# each candidate carries the probe rank of its bucket, and a
# broadcast 3-row level frame replicates it only into the levels
# that include it (bucket_rank <= nprobe).
NPROBES = (1, 2, 4)

_NPROBE_SQL = ", ".join(f"({p})" for p in NPROBES)

_ORACLE_Q147 = f"""
WITH {_IVF_CTE},
q AS (SELECT vec_id, v, n2 FROM n WHERE vec_id IN ({_QIDS_SQL})),
exact AS (
    SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY round(list_dot_product(q.v, c.v)
                                  / (sqrt(q.n2) * sqrt(c.n2)), 6) DESC,
                            c.vec_id
               ) AS rn
        FROM q JOIN n c ON c.vec_id <> q.vec_id
    ) WHERE rn <= {TOP_K}
),
qrank AS (
    SELECT query_id, centroid_id, brank FROM (
        SELECT q.vec_id AS query_id, cent.centroid_id,
               row_number() OVER (
                   PARTITION BY q.vec_id ORDER BY
                   round(q.n2 + cent.cn2 - 2 * list_dot_product(q.v, cent.cv), 6),
                   cent.centroid_id
               ) AS brank
        FROM q CROSS JOIN cent
    ) WHERE brank <= {max(NPROBES)}
),
cand AS (
    SELECT qr.query_id, a.vec_id AS neighbor_id, qr.brank,
           round(list_dot_product(nq.v, nc.v)
                 / (sqrt(nq.n2) * sqrt(nc.n2)), 6) AS cos_r
    FROM qrank qr
    JOIN assign a ON a.centroid_id = qr.centroid_id
                 AND a.vec_id <> qr.query_id
    JOIN n nq ON nq.vec_id = qr.query_id
    JOIN n nc ON nc.vec_id = a.vec_id
),
lev AS (SELECT * FROM (VALUES {_NPROBE_SQL}) AS t(nprobe)),
probe AS (
    SELECT c.query_id, l.nprobe, c.neighbor_id, c.cos_r
    FROM cand c JOIN lev l ON c.brank <= l.nprobe
),
ivf AS (
    SELECT query_id, nprobe, neighbor_id FROM (
        SELECT query_id, nprobe, neighbor_id,
               row_number() OVER (
                   PARTITION BY query_id, nprobe
                   ORDER BY cos_r DESC, neighbor_id
               ) AS rn
        FROM probe
    ) WHERE rn <= {TOP_K}
),
scanned AS (
    SELECT query_id, nprobe, COUNT(*) AS scanned
    FROM probe GROUP BY query_id, nprobe
)
SELECT e.query_id,
       CAST(s.nprobe AS BIGINT)                       AS nprobe,
       s.scanned,
       CAST(COUNT(i.neighbor_id) AS BIGINT)           AS hits,
       CAST(COUNT(i.neighbor_id) AS DOUBLE) / {TOP_K} AS recall_at_k
FROM exact e
JOIN scanned s ON s.query_id = e.query_id
LEFT JOIN ivf i ON i.query_id = e.query_id
               AND i.nprobe = s.nprobe
               AND i.neighbor_id = e.neighbor_id
GROUP BY e.query_id, s.nprobe, s.scanned
ORDER BY e.query_id, nprobe
"""


@register(
    "q147_ivf_multiprobe_recall",
    oracle=_ORACLE_Q147,
    doc="Multi-probe IVF recall/cost curve: recall@k and candidates "
    "scanned per (query, nprobe) for nprobe in {1,2,4} — one shared "
    "candidate pass (each candidate tagged with its bucket's probe "
    "rank, replicated into levels by a broadcast 3-row join). q72 "
    "is this curve's nprobe=1 point.",
    tags=("similarity", "ann", "ivf", "eval"),
)
def q147_ivf_multiprobe_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = q40_ann_bruteforce(spark, sf_dir).select("query_id", "neighbor_id")
    n = _vec_norms(spark, sf_dir)
    cent = n.where(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("v").alias("cv"),
        F.col("n2").alias("cn2"),
    )
    q = n.where(F.col("vec_id").isin(*QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("n2").alias("qn2"),
    )
    d2 = F.round(
        F.col("qn2") + F.col("cn2") - 2 * _dot(F.col("qv"), F.col("cv")), 6
    )
    wb = Window.partitionBy("query_id").orderBy("d2_r", "centroid_id")
    qrank = (
        q.crossJoin(F.broadcast(cent))
        .withColumn("d2_r", d2)
        .withColumn("brank", F.row_number().over(wb))
        .where(F.col("brank") <= max(NPROBES))
        .select("query_id", "centroid_id", "brank", "qv", "qn2")
    )
    assign = _ivf_assign(spark, sf_dir).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("centroid_id"),
    )
    nc = n.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("cv2"),
        F.col("n2").alias("cn22"),
    )
    cand = (
        F.broadcast(qrank)
        .join(assign, "centroid_id")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .join(nc, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            "brank",
            F.round(
                _dot(F.col("qv"), F.col("cv2"))
                / (F.sqrt(F.col("qn2")) * F.sqrt(F.col("cn22"))),
                6,
            ).alias("cos_r"),
        )
        # r10 (guide §5): cand feeds both downstream consumers (the
        # per-nprobe top-k window and the scanned counts) through
        # `probe`, and _vec_norms/_ivf_assign are not session-
        # persisted — lazily the bucket join + cosine pass (and the
        # corpus × centroids assignment beneath it) ran twice.
        .localCheckpoint()
    )
    lev = spark.createDataFrame([(p,) for p in NPROBES], "nprobe INT")
    probe = cand.join(
        F.broadcast(lev), F.col("brank") <= F.col("nprobe")
    ).select("query_id", "nprobe", "neighbor_id", "cos_r")
    wk = Window.partitionBy("query_id", "nprobe").orderBy(
        F.col("cos_r").desc(), "neighbor_id"
    )
    ivf = (
        probe.withColumn("rn", F.row_number().over(wk))
        .where(F.col("rn") <= TOP_K)
        .select("query_id", "nprobe", "neighbor_id", F.lit(1).alias("hit"))
    )
    scanned = probe.groupBy("query_id", "nprobe").agg(
        F.count(F.lit(1)).alias("scanned")
    )
    return (
        exact.join(F.broadcast(scanned), "query_id")
        .join(F.broadcast(ivf), ["query_id", "nprobe", "neighbor_id"], "left")
        .groupBy("query_id", "nprobe", "scanned")
        .agg(
            F.sum(F.coalesce("hit", F.lit(0))).cast("bigint").alias("hits"),
            (
                F.sum(F.coalesce("hit", F.lit(0))).cast("double") / TOP_K
            ).alias("recall_at_k"),
        )
        .select(
            "query_id",
            F.col("nprobe").cast("bigint").alias("nprobe"),
            "scanned",
            "hits",
            "recall_at_k",
        )
        .orderBy("query_id", "nprobe")
    )


# ----------- q159: nearest-centroid classifier evaluation
#
# The model-eval operator an embedding pipeline runs after every
# labeling pass: fit the Rocchio/nearest-centroid classifier (one
# integer floor-averaged centroid per label — q82's reduction
# reused with labels as the assignment) and score it on the corpus,
# emitting the full row-normalized confusion matrix. Resubstitution
# protocol (train == eval set), stated as such — the point is the
# distributed eval SHAPE: per-label centroids are one map-side-
# combinable groupBy over posexploded dims (K·D rows), the K-row
# centroid table broadcasts, assignment is the same broadcast
# nearest-centroid step as q41/q82, and the confusion matrix is a
# bounded K^2-row aggregate. All-integer distance algebra keeps
# every cell value-hash exact.

_Q159_SQL = f"""
WITH m AS (
    SELECT vec_id, label,
           list_transform(embedding::DOUBLE[],
                          x -> CAST(floor(x * 1000000) AS BIGINT)) AS mv
    FROM embeddings
),
n AS (SELECT vec_id, label, mv, list_dot_product(mv, mv) AS n2 FROM m),
mem AS (
    SELECT label, i.i AS pos, n.mv[i.i] AS val
    FROM n, UNNEST(range(1, {EMB_DIM} + 1)) AS i(i)
),
cent AS (
    SELECT label AS cid,
           list(CAST(floor(CAST(s AS DOUBLE) / cnt) AS BIGINT)
                ORDER BY pos) AS cv
    FROM (
        SELECT label, pos, SUM(val) AS s, COUNT(*) AS cnt
        FROM mem GROUP BY label, pos
    ) GROUP BY label
),
a AS (
    SELECT vec_id, label, cid AS predicted FROM (
        SELECT n.vec_id, n.label, cent.cid,
               row_number() OVER (
                   PARTITION BY n.vec_id
                   ORDER BY n.n2 - 2 * list_dot_product(n.mv, cent.cv)
                            + list_dot_product(cent.cv, cent.cv), cent.cid
               ) AS rn
        FROM n CROSS JOIN cent
    ) WHERE rn = 1
),
conf AS (
    SELECT label, predicted, CAST(COUNT(*) AS BIGINT) AS n
    FROM a GROUP BY label, predicted
)
SELECT label, predicted, n,
       CAST(n * 1000000 // SUM(n) OVER (PARTITION BY label) AS BIGINT)
           AS share_ppm
FROM conf
ORDER BY label, predicted
"""


@register(
    "q159_centroid_classifier_eval",
    oracle=_Q159_SQL,
    doc="Nearest-centroid (Rocchio) classifier fit + resubstitution "
    "eval over the labeled embeddings: integer floor-averaged "
    "per-label centroids (broadcast), broadcast nearest-centroid "
    "assignment, row-normalized confusion matrix in exact ppm — "
    "the bounded K^2-row model-eval aggregate.",
    tags=("similarity", "classifier", "eval"),
)
def q159_centroid_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    vecs = _int_vecs(spark, sf_dir)
    lab = cat.embeddings.select("vec_id", "label")
    v = vecs.join(lab, "vec_id")
    sums = (
        v.select("label", F.posexplode("mv").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("cnt"))
    )
    cents = (
        sums.withColumn(
            "cval", F.floor(F.col("s").cast("double") / F.col("cnt")).cast("bigint")
        )
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "cval"))),
                lambda x: x["cval"],
            ).alias("cv")
        )
        .select(F.col("label").alias("cid"), "cv")
    )
    assigned = _nearest(vecs, cents).select(
        "vec_id", F.col("cid").alias("predicted")
    )
    conf = (
        assigned.join(lab, "vec_id")
        .groupBy("label", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wl = Window.partitionBy("label")
    return conf.select(
        "label",
        "predicted",
        "n",
        F.expr("n * 1000000").cast("bigint").alias("_num"),
        F.sum("n").over(wl).alias("_den"),
    ).select(
        "label",
        "predicted",
        "n",
        F.expr("_num div _den").cast("bigint").alias("share_ppm"),
    ).orderBy("label", "predicted")


# -------- q169: dominant eigenvector by integer power iteration
#
# The dimensionality-reduction primitive (PCA's first component):
# the corpus' 64x64 Gram matrix G = X^T X is a BOUNDED aggregate of
# the embedding stream (4096 cells, map-side combinable — at scale
# you'd fold per-partition numpy partial Grams via mapInPandas, the
# cells and their values are identical). Random embeddings make the
# spectrum nearly FLAT (measured lambda1/lambda2 ~ 1.07), so plain
# power iteration needs ~60 rounds; instead the matrix is SQUARED
# four times first (G^16 — each squaring squares the eigen-ratios,
# one bounded 64^3 matmul each) and 4 vector iterations on G^16
# then act like ~64 plain rounds. Exactness without floats: every
# multiply is exact BIGINT; after each squaring/iteration the frame
# rescales by a data-derived divisor r = max(1, max|x| div 2^16)
# applied as sign(x)*(|x| div r) — written EXACTLY that way in both
# engines because Spark's div truncates toward zero while DuckDB's
# // floors, and they disagree on negatives. Power iteration only
# needs the direction, so rescaling is free; output is signed ppm
# of the max component. Quantization is 10^3 (not _int_vecs' 10^6)
# so the initial cells stay ~n_vecs*10^6; after the first rescale
# every cell is <= 2^17 and a matmul sum is <= 64*2^34 — int64-safe
# at any corpus size.

POWER_ITERS = 4
MATRIX_SQUARINGS = 4  # iterate on G^(2^4): ~64 plain rounds
PI_RESCALE_BITS = 16

_Q169_GRAM_SQL = f"""
m AS (
    SELECT vec_id,
           list_transform(embedding::DOUBLE[],
                          x -> CAST(floor(x * 1000) AS BIGINT)) AS mv
    FROM embeddings
),
cells AS (
    SELECT i.i AS i, j.j AS j, SUM(m.mv[i.i] * m.mv[j.j]) AS g
    FROM m,
         UNNEST(range(1, {EMB_DIM} + 1)) AS i(i),
         UNNEST(range(1, {EMB_DIM} + 1)) AS j(j)
    GROUP BY i.i, j.j
),
v0 AS (SELECT i.i AS i, CAST(1 AS BIGINT) AS v
       FROM UNNEST(range(1, {EMB_DIM} + 1)) AS i(i))"""


def _pi_square_sql(k: int) -> str:
    prev = f"g{k - 1}"
    return f"""
s{k} AS MATERIALIZED (
    SELECT a.i, b.j, SUM(a.g * b.g) AS g
    FROM {prev} a JOIN {prev} b ON a.j = b.i
    GROUP BY a.i, b.j
),
sr{k} AS (
    SELECT GREATEST(1, MAX(ABS(g)) // {1 << PI_RESCALE_BITS}) AS r FROM s{k}
),
g{k} AS MATERIALIZED (
    SELECT s.i, s.j, CAST(sign(s.g) AS BIGINT) * (ABS(s.g) // r.r) AS g
    FROM s{k} s CROSS JOIN sr{k} r
)"""


def _pi_iter_sql(k: int) -> str:
    prev = f"v{k - 1}"
    return f"""
x{k} AS MATERIALIZED (
    SELECT c.i, SUM(c.g * p.v) AS x
    FROM g{MATRIX_SQUARINGS} c JOIN {prev} p ON p.i = c.j
    GROUP BY c.i
),
r{k} AS (
    SELECT GREATEST(1, MAX(ABS(x)) // {1 << PI_RESCALE_BITS}) AS r FROM x{k}
),
v{k} AS (
    SELECT x.i, CAST(sign(x.x) AS BIGINT) * (ABS(x.x) // r.r) AS v
    FROM x{k} x CROSS JOIN r{k} r
)"""


_ORACLE_Q169 = (
    "WITH "
    + _Q169_GRAM_SQL
    + ",\ng0 AS MATERIALIZED (SELECT i, j, g FROM cells),"
    + ",".join(_pi_square_sql(k) for k in range(1, MATRIX_SQUARINGS + 1))
    + ","
    + ",".join(_pi_iter_sql(k) for k in range(1, POWER_ITERS + 1))
    + f"""
SELECT CAST(v.i AS BIGINT) AS dim,
       CAST(CAST(sign(v.v) AS BIGINT)
            * (ABS(v.v) * 1000000 // mx.m) AS BIGINT) AS val_ppm
FROM v{POWER_ITERS} v
CROSS JOIN (SELECT MAX(ABS(v)) AS m FROM v{POWER_ITERS}) mx
ORDER BY dim
"""
)


@register(
    "q169_power_iteration",
    oracle=_ORACLE_Q169,
    doc="Dominant eigenvector of the embedding Gram matrix by 4 "
    "integer power-iteration steps: the Gram is a bounded 4096-cell "
    "map-side-combinable aggregate of the vector stream, each "
    "iteration an exact-BIGINT 64-row multiply with sign-safe "
    "power-of-two rescaling — PCA's first component, engine-exact.",
    tags=("similarity", "linalg", "iterative"),
)
def q169_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The ONLY data-sized work is the Gram aggregate: one
    # posexplode-join-groupBy pass over the vector stream, map-side
    # combinable, collapsing to a BOUNDED 64x64 = 4096-cell integer
    # matrix. Everything after operates on that bounded state, so
    # the squarings and power steps run driver-side in exact Python
    # integers (bit-identical to the former distributed chain, which
    # spent four shuffle+checkpoint rounds on 4096-row frames — pure
    # fixed overhead at ANY data scale; local bench: 4.2 s -> ~1 s).
    # The same collect-a-bounded-aggregate pattern as q168's count
    # histogram; the oracle still runs the full chained-CTE ladder.
    cat = Catalog(spark, sf_dir)
    mq = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * 1000).cast("bigint"),
    )
    vecs = fan_out(cat.embeddings, "vec_id").select("vec_id", mq.alias("mv"))
    # r10 (guide §2.4 — remove shuffles outright): the Gram terms
    # come from CHAINED generators (explode i keeping mv, then
    # explode j) instead of a self-join of two exploded streams —
    # the join shuffled both N x 64 sides by vec_id before emitting
    # the same N x 4096 terms; now nothing shuffles until the
    # map-side-combined 4096-group aggregate. Identical cells.
    mi = vecs.select("vec_id", F.posexplode("mv").alias("i", "vi"), "mv")
    cells = (
        mi.select("i", "vi", F.posexplode("mv").alias("j", "vj"))
        .groupBy("i", "j")
        .agg(F.sum(F.col("vi") * F.col("vj")).alias("g"))
        .collect()
    )
    d = EMB_DIM
    g = [[0] * d for _ in range(d)]
    for row in cells:
        g[row["i"]][row["j"]] = row["g"]

    def _rescale_val(x: int, r: int) -> int:
        s = (x > 0) - (x < 0)
        return s * (abs(x) // r)

    for _ in range(MATRIX_SQUARINGS):
        sq = [
            [sum(g[i][k] * g[k][j] for k in range(d)) for j in range(d)]
            for i in range(d)
        ]
        r = max(1, max(abs(x) for row in sq for x in row) >> PI_RESCALE_BITS)
        g = [[_rescale_val(x, r) for x in row] for row in sq]
    v = [1] * d
    for _ in range(POWER_ITERS):
        x = [sum(g[i][j] * v[j] for j in range(d)) for i in range(d)]
        r = max(1, max(abs(e) for e in x) >> PI_RESCALE_BITS)
        v = [_rescale_val(e, r) for e in x]
    m = max(abs(e) for e in v)
    out = [
        (i + 1, ((e > 0) - (e < 0)) * (abs(e) * 1_000_000 // m))
        for i, e in enumerate(v)
    ]
    return spark.createDataFrame(out, "dim bigint, val_ppm bigint").orderBy("dim")


# -------- q170: Johnson-Lindenstrauss projection distortion audit
#
# The cheap-prefilter companion to q169: project 64-dim embeddings
# to 16 dims with a deterministic +-1 matrix (sign of an md5 bit —
# Achlioptas' database-friendly JL construction) and MEASURE what
# the distance-preserving guarantee actually delivers on the pairs
# the pipeline cares about (the q36 LSH candidates): the ratio of
# projected to original squared distance, normalized by the
# unscaled-+-1 expectation E[d_proj^2] = k*d^2, in
# exact integral ppm (ratio 1e6 = perfectly preserved). This is the
# audit run before trusting a projected index as a prefilter. All
# integer: quantized vectors, +-1 matrix, exact squared distances,
# one div. Scale shape: the projection is per-row column algebra
# (the 64x16 sign matrix is a literal, no join), distances only for
# the bounded candidate-pair set.

JL_OUT_DIMS = 16


def _jl_sign(i: int, j: int) -> int:
    """Deterministic +-1 from md5 — reproduced verbatim in SQL."""
    import hashlib

    return 1 if int(hashlib.md5(f"jl:{i}:{j}".encode()).hexdigest()[:2], 16) % 2 == 0 else -1


_JL_SIGNS = [[_jl_sign(i, j) for j in range(64)] for i in range(JL_OUT_DIMS)]

_JL_PROJ_SQL = ",\n".join(
    "        ("
    + " + ".join(
        f"{'' if s > 0 else '-'}mv[{j + 1}]" for j, s in enumerate(row)
    )
    + f") AS p{i}"
    for i, row in enumerate(_JL_SIGNS)
)

_ORACLE_Q170 = f"""
WITH m AS (
    SELECT vec_id,
           list_transform(embedding::DOUBLE[],
                          x -> CAST(floor(x * 1000) AS BIGINT)) AS mv
    FROM embeddings
),
p AS (
    SELECT vec_id, mv,
{_JL_PROJ_SQL}
    FROM m
),
pairs AS (
    SELECT a.vec_id AS va, b.vec_id AS vb,
           CAST(list_dot_product(
               list_transform(range(1, 65), i -> a.mv[i] - b.mv[i]),
               list_transform(range(1, 65), i -> a.mv[i] - b.mv[i])
           ) AS BIGINT) AS d64,
           {" + ".join(f"(a.p{i} - b.p{i}) * (a.p{i} - b.p{i})" for i in range(JL_OUT_DIMS))}
               AS d16
    FROM p a
    JOIN p b ON b.vec_id = a.vec_id + 1 OR b.vec_id = a.vec_id + 17
)
SELECT va, vb,
       CAST(d64 AS BIGINT) AS d64_sq,
       CAST(d16 AS BIGINT) AS d16_sq,
       CAST(d16 * 1000000 // (d64 * {JL_OUT_DIMS}) AS BIGINT)
           AS ratio_ppm
FROM pairs
WHERE d64 > 0
ORDER BY va, vb
"""


@register(
    "q170_jl_distortion",
    oracle=_ORACLE_Q170,
    doc="Johnson-Lindenstrauss 64-to-16 projection with a "
    "deterministic Achlioptas +-1 matrix and an exact distortion "
    "audit: dimension-normalized projected/original squared-"
    "distance ratio in integral ppm over a deterministic pair "
    "sample — the check run before trusting a projected index as "
    "an ANN prefilter; projection is joinless per-row algebra.",
    tags=("similarity", "projection", "jl"),
)
def q170_jl_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    mq = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * 1000).cast("bigint"),
    )
    m = fan_out(cat.embeddings, "vec_id").select("vec_id", mq.alias("mv"))
    # one fold per output dim (16 expressions) instead of 16x64
    # unrolled array extracts — same integers, ~10x faster to
    # analyze/codegen.
    # Each projection is ONE SQL string parsed JVM-side: building
    # the same tree from 64 F.lit() objects per output dim paid
    # ~5 s of py4j round trips per invocation (measured).
    proj = [
        F.expr(
            "aggregate(zip_with(mv, array("
            + ",".join(f"{sgn}L" for sgn in row)
            + "), (x, sg) -> x * sg), 0L, (acc, x) -> acc + x)"
        ).alias(f"p{i}")
        for i, row in enumerate(_JL_SIGNS)
    ]
    # ONE equi-join for both sample offsets: the probe side explodes
    # each vector to its two pair targets (vec_id+1, vec_id+17) and
    # joins the projection frame once — the former per-offset
    # self-join pair computed the 16-fold projection four times
    # (2 offsets x 2 sides) and doubled the shuffle.
    # r10: p feeds both sides of the pair join — checkpoint so the
    # 16-fold projection and the embeddings scan run once, not twice
    # (before-plan: 4 parquet scans, no ReusedExchange).
    p = m.select("vec_id", "mv", *proj).localCheckpoint()
    a = p.select(
        "vec_id",
        "mv",
        *[F.col(f"p{i}") for i in range(JL_OUT_DIMS)],
        F.explode(F.array(F.lit(1), F.lit(17))).alias("off"),
    ).withColumn("b_id", F.col("vec_id") + F.col("off"))
    b = p.select(
        F.col("vec_id").alias("b_id"),
        F.col("mv").alias("bmv"),
        *[F.col(f"p{i}").alias(f"bp{i}") for i in range(JL_OUT_DIMS)],
    )
    diff = F.zip_with(F.col("mv"), F.col("bmv"), lambda x, y: x - y)
    d64 = F.aggregate(
        F.zip_with(diff, diff, lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    d16 = None
    for i in range(JL_OUT_DIMS):
        term = (F.col(f"p{i}") - F.col(f"bp{i}")) * (
            F.col(f"p{i}") - F.col(f"bp{i}")
        )
        d16 = term if d16 is None else d16 + term
    shifted = a.join(b, "b_id")
    return (
        shifted
        .select(
            F.col("vec_id").alias("va"),
            F.col("b_id").alias("vb"),
            d64.alias("d64_sq"),
            d16.cast("bigint").alias("d16_sq"),
        )
        .where(F.col("d64_sq") > 0)
        .select(
            "va",
            "vb",
            "d64_sq",
            "d16_sq",
            F.expr(
                f"CAST(d16_sq * 1000000 div (d64_sq * {JL_OUT_DIMS}) AS BIGINT)"
            ).alias("ratio_ppm"),
        )
        .orderBy("va", "vb")
    )


# -------- q181: IVF density sweep — the knob that keeps near-dup linear
#
# Closes the density-scaling loop for the embedding near-dup family
# the way q175 closed skew and q171 closed join order. The 10x-tier
# measurement (SCALE.md round 5) showed q43's candidate set — pairs
# sharing one of a FIXED K=8 centroids — growing with bucket
# occupancy SQUARED: pack 10x the vectors into the same space and
# the same buckets, and candidates grow ~100x even though the plan
# does only O(candidates) work. The production cure is the IVF
# sizing rule nlist ∝ N (bucket occupancy bounded, candidates
# linear), paid for with recall against the coarse-bucket baseline
# (recovered in practice by multi-probe — measured separately in
# q147). This query runs the SWEEP: for K in {8, 32, 128} it emits
# occupancy, candidate count, verified near-dup pairs, and exact
# recall of the K=8 (q43) pair set — the evidence table an operator
# reads to pick nlist for the next 10x of data. All legs share one
# vector-norms frame; every per-K stat is a broadcast scalar row;
# pair-set intersection joins on the (vec_a, vec_b) key.
IVF_SWEEP_KS = (8, 32, 128)


def _sweep_block_sql(k: int) -> str:
    return f"""
cent{k} AS (SELECT vec_id AS centroid_id, v AS cv, n2 AS cn2 FROM n
            WHERE vec_id < {k}),
assign{k} AS (
    SELECT vec_id, centroid_id FROM (
        SELECT n.vec_id, cent{k}.centroid_id,
               row_number() OVER (
                   PARTITION BY n.vec_id ORDER BY
                   round(n.n2 + cent{k}.cn2
                         - 2 * list_dot_product(n.v, cent{k}.cv), 6),
                   cent{k}.centroid_id
               ) AS rn
        FROM n CROSS JOIN cent{k}
    ) WHERE rn = 1
),
cand{k} AS (
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
    FROM assign{k} a JOIN assign{k} b
      ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
),
ver{k} AS (
    SELECT c.vec_a, c.vec_b
    FROM cand{k} c JOIN n na ON na.vec_id = c.vec_a
                   JOIN n nb ON nb.vec_id = c.vec_b
    WHERE round(list_dot_product(na.v, nb.v)
                / (sqrt(na.n2) * sqrt(nb.n2)), 6) >= {NEARDUP_COS}
),
occ{k} AS (SELECT centroid_id, COUNT(*) AS m FROM assign{k} GROUP BY 1)"""


def _sweep_row_sql(k: int) -> str:
    return f"""
SELECT CAST({k} AS BIGINT) AS k_centroids,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM occ{k}) AS buckets_used,
       (SELECT CAST(MAX(m) AS BIGINT) FROM occ{k}) AS max_occupancy,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM cand{k}) AS candidate_pairs,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM ver{k}) AS verified_pairs,
       CAST((SELECT COUNT(*) FROM ver{k} v
             JOIN ver{IVF_SWEEP_KS[0]} b
               ON b.vec_a = v.vec_a AND b.vec_b = v.vec_b) * 1000000
            // GREATEST((SELECT COUNT(*) FROM ver{IVF_SWEEP_KS[0]}), 1)
            AS BIGINT) AS recall_vs_base_ppm"""


_ORACLE_Q181 = (
    """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
n AS (SELECT vec_id, v, list_dot_product(v, v) AS n2 FROM e),"""
    + ",".join(_sweep_block_sql(k) for k in IVF_SWEEP_KS)
    + " "
    + " UNION ALL ".join(_sweep_row_sql(k) for k in IVF_SWEEP_KS)
    + " ORDER BY k_centroids"
)


@register(
    "q181_ivf_density_sweep",
    oracle=_ORACLE_Q181,
    doc="IVF nlist sizing sweep for the embedding near-dup path: for "
    "K in {8,32,128} centroids, emits bucket occupancy, candidate "
    "pairs, verified near-dup pairs, and exact recall of the "
    "fixed-K=8 pair set — the measured evidence that candidates shrink "
    "~1/K while recall degrades gracefully, i.e. the nlist ∝ N rule "
    "that keeps near-dup candidate generation LINEAR as density "
    "grows 10x (SCALE.md round-5 measurement).",
    tags=("similarity", "dedup", "scale", "sweep"),
)
def q181_ivf_density_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = _vec_norms(spark, sf_dir).localCheckpoint()  # shared by all legs
    base_k = IVF_SWEEP_KS[0]

    def leg(k: int):
        # r10 (guide §5): consumed three times per leg (both pair
        # sides + occupancy) and _ivf_assign re-derives vec_norms
        # internally — lazily each leg ran the corpus × k crossJoin
        # + argmin window three times. One (vec_id, centroid_id)
        # materialization per leg.
        assign = (
            _ivf_assign(spark, sf_dir, k)
            .select("vec_id", "centroid_id")
            .localCheckpoint()
        )
        a = assign.select(F.col("vec_id").alias("vec_a"), F.col("centroid_id").alias("ca"))
        b = assign.select(F.col("vec_id").alias("vec_b"), F.col("centroid_id").alias("cb"))
        cand = a.join(b, (F.col("ca") == F.col("cb")) & (F.col("vec_a") < F.col("vec_b"))).select(
            "vec_a", "vec_b"
        )
        na = n.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"), F.col("n2").alias("na2"))
        nb = n.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"), F.col("n2").alias("nb2"))
        cos_r = F.round(
            _dot(F.col("va"), F.col("vb")) / (F.sqrt(F.col("na2")) * F.sqrt(F.col("nb2"))), 6
        )
        ver = (
            cand.join(na, "vec_a").join(nb, "vec_b")
            .where(cos_r >= NEARDUP_COS)
            .select("vec_a", "vec_b")
        )
        occ = assign.groupBy("centroid_id").agg(F.count(F.lit(1)).alias("m"))
        return cand, ver, occ

    # guide §2.6: each leg's eager assign job is independent — build
    # them from a small pool so a leg's straggler tail is back-filled
    # by the next leg's tasks instead of serializing the sweeps.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(2) as _pool:
        _futs = {k: _pool.submit(leg, k) for k in IVF_SWEEP_KS}
        legs = {k: f.result() for k, f in _futs.items()}
    base_ver = legs[base_k][1].localCheckpoint()  # reused by every recall join

    out = None
    for k in IVF_SWEEP_KS:
        cand, ver, occ = legs[k]
        ver = base_ver if k == base_k else ver
        inter = ver.join(base_ver, ["vec_a", "vec_b"], "semi")
        row = (
            occ.agg(
                F.count(F.lit(1)).cast("bigint").alias("buckets_used"),
                F.max("m").cast("bigint").alias("max_occupancy"),
            )
            .crossJoin(F.broadcast(cand.agg(F.count(F.lit(1)).alias("candidate_pairs"))))
            .crossJoin(F.broadcast(ver.agg(F.count(F.lit(1)).alias("verified_pairs"))))
            .crossJoin(F.broadcast(inter.agg(F.count(F.lit(1)).alias("n_inter"))))
            .crossJoin(F.broadcast(base_ver.agg(F.count(F.lit(1)).alias("n_base"))))
            .select(
                F.lit(k).cast("bigint").alias("k_centroids"),
                "buckets_used",
                "max_occupancy",
                F.col("candidate_pairs").cast("bigint").alias("candidate_pairs"),
                F.col("verified_pairs").cast("bigint").alias("verified_pairs"),
                F.expr("CAST(n_inter * 1000000 div greatest(n_base, 1) AS BIGINT)").alias(
                    "recall_vs_base_ppm"
                ),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("k_centroids")


# --------- q191: retrieval quality — nDCG@10 (round 5)
#
# The graded IR metric beside q72/q147's recall@k: per query vector,
# DCG@10 of the brute-force cosine top-10 (q40's exact ranking, the
# ground-truth retrieval) with binary relevance = label match,
# normalized by the ideal DCG for that query's relevant-candidate
# count. The 1/log2(rank+1) position weights are IRRATIONAL — both
# engines use the SAME precomputed integer micro-weights (Python
# round-half-even at module import, embedded as literals in the SQL
# and the Spark plan), so every DCG is exact BIGINT arithmetic and
# the final ppm a floor division: zero libm-vs-JVM drift by
# construction (the q154 micro-bits principle applied to constants).
#
# Scale shape: rides q40's broadcast-queries x streamed-candidates
# pass (no new data-sized work); relevant-candidate counts are one
# label groupBy; everything after is a <=|Q| x 10 row frame.
_NDCG_K = 10
# micro-weights: round(2^20 / log2(i+1)) for rank i = 1..10
_NDCG_W = [round(2**20 / math.log2(i + 1)) for i in range(1, _NDCG_K + 1)]
# cumulative ideal DCG for R relevant docs in the top-k: _NDCG_CUM[R]
_NDCG_CUM = [0]
for _w in _NDCG_W:
    _NDCG_CUM.append(_NDCG_CUM[-1] + _w)

_NDCG_W_SQL = ", ".join(str(w) for w in _NDCG_W)
_NDCG_CUM_SQL = ", ".join(str(c) for c in _NDCG_CUM)

_ORACLE_Q191 = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
n AS (SELECT vec_id, v, label, list_dot_product(v, v) AS n2 FROM e),
q AS (SELECT * FROM n WHERE vec_id IN ({_QIDS_SQL})),
pairs AS (
    SELECT q.vec_id AS query_id, q.label AS qlabel, c.label AS clabel,
           round(list_dot_product(q.v, c.v) / (sqrt(q.n2) * sqrt(c.n2)), 6) AS cos_r,
           c.vec_id AS neighbor_id
    FROM q JOIN n c ON c.vec_id <> q.vec_id
),
topk AS (
    SELECT * FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cos_r DESC, neighbor_id
        ) AS rn
        FROM pairs
    ) WHERE rn <= {_NDCG_K}
),
dcg AS (
    SELECT query_id,
           CAST(SUM(CASE WHEN clabel = qlabel
                    THEN list_extract([{_NDCG_W_SQL}], CAST(rn AS INTEGER))
                    ELSE 0 END) AS BIGINT) AS dcg_micro
    FROM topk GROUP BY query_id
),
rel AS (
    SELECT q.vec_id AS query_id,
           CAST(COUNT(*) AS BIGINT) AS n_rel
    FROM q JOIN n c ON c.vec_id <> q.vec_id AND c.label = q.label
    GROUP BY 1
)
SELECT d.query_id,
       COALESCE(r.n_rel, 0) AS n_rel,
       d.dcg_micro,
       CAST(list_extract([{_NDCG_CUM_SQL}],
            CAST(LEAST(COALESCE(r.n_rel, 0), {_NDCG_K}) + 1 AS INTEGER))
            AS BIGINT) AS idcg_micro,
       CAST(CASE WHEN COALESCE(r.n_rel, 0) = 0 THEN 0
            ELSE (d.dcg_micro * 1000000) //
                 list_extract([{_NDCG_CUM_SQL}],
                     CAST(LEAST(r.n_rel, {_NDCG_K}) + 1 AS INTEGER))
            END AS BIGINT) AS ndcg_ppm
FROM dcg d LEFT JOIN rel r USING (query_id)
ORDER BY query_id
"""


@register(
    "q191_retrieval_ndcg",
    oracle=_ORACLE_Q191,
    doc="nDCG@10 of the exact cosine top-10 per query vector with "
    "label-match relevance — the graded retrieval-quality metric "
    "beside recall@k (q72/q147). Position weights 1/log2(rank+1) "
    "are precomputed integer micro-weights shared by both engines, "
    "so DCG/IDCG are exact BIGINT and nDCG an integral ppm.",
    tags=("similarity", "eval", "ndcg"),
)
def q191_retrieval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    topk = q40_ann_bruteforce(spark, sf_dir)
    n = _vec_norms(spark, sf_dir)
    q = n.where(F.col("vec_id").isin(*QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("qlabel")
    )
    w_arr = F.array(*[F.lit(w) for w in _NDCG_W])
    dcg = (
        topk.join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            F.when(
                F.col("neighbor_label") == F.col("qlabel"),
                F.element_at(w_arr, F.col("rank").cast("int")),
            )
            .otherwise(F.lit(0))
            .alias("w"),
        )
        .groupBy("query_id")
        .agg(F.sum("w").cast("bigint").alias("dcg_micro"))
    )
    rel = (
        n.select("vec_id", "label")
        .join(
            F.broadcast(q),
            (F.col("label") == F.col("qlabel"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_rel"))
    )
    cum_arr = F.array(*[F.lit(c) for c in _NDCG_CUM])
    out = (
        dcg.join(F.broadcast(rel), "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_rel", F.lit(0)).cast("bigint").alias("n_rel"),
            "dcg_micro",
            F.element_at(
                cum_arr,
                (F.least(F.coalesce("n_rel", F.lit(0)), F.lit(_NDCG_K)) + 1).cast(
                    "int"
                ),
            )
            .cast("bigint")
            .alias("idcg_micro"),
        )
        .withColumn(
            "ndcg_ppm",
            F.expr(
                "CAST(CASE WHEN n_rel = 0 THEN 0 "
                "ELSE (dcg_micro * 1000000) div idcg_micro END AS BIGINT)"
            ),
        )
    )
    return out.orderBy("query_id")


# --------- q192: semantic decontamination (round 5)
#
# The embedding-space half of test-set decontamination: q63 catches
# test-train leakage by SHARED N-GRAMS; q192 catches paraphrased /
# re-encoded leakage by EMBEDDING NEAR-DUPLICATION, which n-grams
# miss. Held-out split = vec_id % 10 == 0 (deterministic, stated
# identically in both engines); a train vector is contaminated when
# it is a q43 near-dup (density-adaptive IVF candidates, exact
# rounded cosine >= threshold) of ANY held-out vector. Per-label
# report keeps zero-leak labels visible (left join from the train
# label frame), contamination in integral ppm.
#
# Scale shape: rides q43's candidate machinery unchanged (nlist
# proportional to N, bounded cell occupancy — the linear path the
# round-5 sweeps validated); everything after the pair set is
# O(pairs) + one label groupBy.
_ORACLE_Q192 = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
n AS (SELECT vec_id, v, label, list_dot_product(v, v) AS n2 FROM e),
{_ADAPTIVE_CENT_SQL},
pairs AS (
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
    FROM aassign a
    JOIN aassign b ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
    JOIN n na ON na.vec_id = a.vec_id
    JOIN n nb ON nb.vec_id = b.vec_id
    WHERE round(list_dot_product(na.v, nb.v) / (sqrt(na.n2) * sqrt(nb.n2)), 6)
          >= {NEARDUP_COS}
),
leaks AS (
    SELECT CASE WHEN vec_a % 10 = 0 THEN vec_b ELSE vec_a END AS train_vec
    FROM pairs
    WHERE (vec_a % 10 = 0) <> (vec_b % 10 = 0)
),
train AS (
    SELECT label, CAST(COUNT(*) AS BIGINT) AS n_train
    FROM e WHERE vec_id % 10 <> 0 GROUP BY label
),
agg AS (
    SELECT e.label,
           CAST(COUNT(*) AS BIGINT) AS leak_pairs,
           CAST(COUNT(DISTINCT l.train_vec) AS BIGINT) AS contaminated_train
    FROM leaks l JOIN e ON e.vec_id = l.train_vec
    GROUP BY e.label
)
SELECT CAST(t.label AS BIGINT) AS label,
       t.n_train,
       COALESCE(a.leak_pairs, 0) AS leak_pairs,
       COALESCE(a.contaminated_train, 0) AS contaminated_train,
       CAST((COALESCE(a.contaminated_train, 0) * 1000000) // t.n_train
            AS BIGINT) AS contamination_ppm
FROM train t LEFT JOIN agg a USING (label)
ORDER BY label
"""


@register(
    "q192_semantic_decontamination",
    oracle=_ORACLE_Q192,
    doc="Semantic test-set decontamination: train vectors that are "
    "embedding near-dups (q43's density-adaptive IVF candidates, "
    "exact rounded cosine) of any held-out vector (vec_id % 10 == "
    "0) — the paraphrase-leakage mode n-gram decontamination (q63) "
    "misses. Per-label contaminated counts and ppm, zero-leak "
    "labels kept visible.",
    tags=("similarity", "dedup", "curation"),
)
def q192_semantic_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = neardup_pairs_df(spark, sf_dir)
    a_test = F.col("vec_a") % 10 == 0
    b_test = F.col("vec_b") % 10 == 0
    leaks = pairs.where(a_test != b_test).select(
        F.when(a_test, F.col("vec_b")).otherwise(F.col("vec_a")).alias("train_vec")
    )
    e = Catalog(spark, sf_dir).embeddings.select("vec_id", "label")
    train = (
        e.where(F.col("vec_id") % 10 != 0)
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_train"))
    )
    agg = (
        leaks.join(e, leaks.train_vec == e.vec_id)
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("leak_pairs"),
            F.countDistinct("train_vec").alias("contaminated_train"),
        )
    )
    return (
        train.join(F.broadcast(agg), "label", "left")
        .select(
            F.col("label").cast("bigint").alias("label"),
            F.col("n_train").cast("bigint").alias("n_train"),
            F.coalesce("leak_pairs", F.lit(0)).cast("bigint").alias("leak_pairs"),
            F.coalesce("contaminated_train", F.lit(0))
            .cast("bigint")
            .alias("contaminated_train"),
            F.expr(
                "CAST((COALESCE(contaminated_train, 0) * 1000000) div n_train"
                " AS BIGINT)"
            ).alias("contamination_ppm"),
        )
        .orderBy("label")
    )


# ------------- q199: Lloyd k-means run to a round budget (q82 iterated)
#
# q82 is ONE deterministic Lloyd step; q199 runs the training loop —
# the clustering analog of q172's PageRank-to-convergence: five
# rounds of (floor-averaged integer centroid update, broadcast
# reassignment), each round emitting its convergence witnesses:
# how many vectors changed cluster (churn -> 0 at the fixpoint), the
# mean exact squared distance to the chosen centroid (the k-means
# objective Lloyd drives down), and the count of nonempty clusters
# (empty clusters drop out, the standard Lloyd behavior, made
# visible instead of hidden).
#
# Scale shape: per round, the ONLY data-sized operations are one
# broadcast nearest-centroid assignment (centroids are K rows) and
# one map-side-combinable (cid, pos) sum for the update — no
# shuffle keyed on anything bigger than K x 64 rows; lineage is
# truncated per round with localCheckpoint (q70/q165/q172 idiom);
# nothing is collected. The d2 cost sum runs in 128-bit integers
# (Spark DECIMAL(38,0) / DuckDB HUGEINT — the q125 pattern): d2 is
# bounded by 4*EMB_DIM*1e12 ~ 2.6e14, so an int64 SUM would
# overflow near 3.5e4 vectors — below the 10x tier's cardinality.
# The floor(s/cnt) double-division is exact by the q82 argument
# (quotient error ~1e-9 can never cross an integer boundary that is
# at least 1/cnt away).

LLOYD_ROUNDS = 5


def _q199_oracle() -> str:
    parts = [
        f"""
WITH m AS (
    SELECT vec_id,
           list_transform(embedding::DOUBLE[],
                          x -> CAST(floor(x * 1000000) AS BIGINT)) AS mv
    FROM embeddings
),
n AS (SELECT vec_id, mv, list_dot_product(mv, mv) AS n2 FROM m),
c0 AS (SELECT vec_id AS cid, mv AS cv FROM n WHERE vec_id < {N_CENTROIDS}),
a0 AS (
    SELECT vec_id, cid FROM (
        SELECT n.vec_id, c.cid,
               row_number() OVER (
                   PARTITION BY n.vec_id
                   ORDER BY n.n2 - 2 * list_dot_product(n.mv, c.cv)
                            + list_dot_product(c.cv, c.cv), c.cid
               ) AS rn
        FROM n CROSS JOIN c0 AS c
    ) WHERE rn = 1
)"""
    ]
    for r in range(1, LLOYD_ROUNDS + 1):
        parts.append(
            f""",
c{r} AS (
    SELECT cid,
           list(CAST(floor(CAST(s AS DOUBLE) / cnt) AS BIGINT)
                ORDER BY pos) AS cv
    FROM (
        SELECT a.cid, i.i AS pos, CAST(SUM(n.mv[i.i]) AS BIGINT) AS s,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM a{r - 1} a JOIN n USING (vec_id),
             UNNEST(range(1, {EMB_DIM} + 1)) AS i(i)
        GROUP BY a.cid, i.i
    ) GROUP BY cid
),
a{r} AS (
    SELECT vec_id, cid, d2 FROM (
        SELECT n.vec_id, c.cid,
               n.n2 - 2 * list_dot_product(n.mv, c.cv)
                    + list_dot_product(c.cv, c.cv) AS d2,
               row_number() OVER (
                   PARTITION BY n.vec_id
                   ORDER BY n.n2 - 2 * list_dot_product(n.mv, c.cv)
                            + list_dot_product(c.cv, c.cv), c.cid
               ) AS rn
        FROM n CROSS JOIN c{r} AS c
    ) WHERE rn = 1
),
s{r} AS (
    SELECT CAST({r} AS BIGINT) AS round,
           CAST(COUNT(DISTINCT a.cid) AS BIGINT) AS nonempty,
           CAST(SUM(CASE WHEN a.cid <> p.cid THEN 1 ELSE 0 END)
                AS BIGINT) AS moved,
           CAST(SUM(CAST(a.d2 AS HUGEINT)) // COUNT(*) AS BIGINT)
               AS mean_d2
    FROM a{r} a JOIN a{r - 1} p USING (vec_id)
)"""
        )
    sel = "\nUNION ALL\n".join(
        f"SELECT * FROM s{r}" for r in range(1, LLOYD_ROUNDS + 1)
    )
    parts.append(f"\nSELECT * FROM (\n{sel}\n) ORDER BY round")
    return "".join(parts)


_ORACLE_Q199 = _q199_oracle()


@register(
    "q199_lloyd_convergence",
    oracle=_ORACLE_Q199,
    doc="Lloyd k-means run for five rounds over quantized embeddings "
    "(q82's step iterated, the clustering analog of q172): per "
    "round, floor-averaged integer centroid update + broadcast "
    "reassignment, emitting cluster churn, nonempty-cluster count, "
    "and the exact mean squared distance (128-bit sum) as "
    "convergence witnesses; localCheckpoint lineage truncation, "
    "nothing collected.",
    tags=("similarity", "kmeans", "iterative"),
)
def q199_lloyd_convergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    vecs = _int_vecs(spark, sf_dir).localCheckpoint()
    c0 = vecs.where(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("cid"), F.col("mv").alias("cv")
    )
    assign = _nearest(vecs, c0).localCheckpoint()
    stats = None
    for r in range(1, LLOYD_ROUNDS + 1):
        sums = (
            assign.select("cid", F.posexplode("mv").alias("pos", "val"))
            .groupBy("cid", "pos")
            .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("cnt"))
        )
        cents = (
            sums.withColumn(
                "cval",
                F.floor(F.col("s").cast("double") / F.col("cnt")).cast(
                    "bigint"
                ),
            )
            .groupBy("cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "cval"))),
                    lambda x: x["cval"],
                ).alias("cv")
            )
        )
        nxt = _nearest(vecs, cents, keep_d2=True).localCheckpoint()
        row = (
            nxt.select("vec_id", "cid", "d2")
            .join(
                assign.select(
                    "vec_id", F.col("cid").alias("prev_cid")
                ),
                "vec_id",
            )
            .agg(
                F.lit(r).cast("bigint").alias("round"),
                F.countDistinct("cid").cast("bigint").alias("nonempty"),
                F.sum(
                    (F.col("cid") != F.col("prev_cid")).cast("bigint")
                ).alias("moved"),
                F.expr(
                    "CAST(SUM(CAST(d2 AS DECIMAL(38,0))) div COUNT(*)"
                    " AS BIGINT)"
                ).alias("mean_d2"),
            )
        )
        stats = row if stats is None else stats.unionAll(row)
        assign = nxt.select("vec_id", "cid", "mv", "n2")
    return stats.orderBy("round")


# ------------- q202: IVF-PQ end-to-end search (round 6)
#
# The round-5 verdict's composition item: q41's coarse quantizer and
# q114's PQ codes existed separately; this is the actual
# billion-vector serving shape (FAISS IVFPQ; Jegou et al. 2011)
# as ONE checked query:
#   1. COARSE: every vector is assigned to its nearest of
#      N_CENTROIDS seed centroids (integer L2 via the dot identity);
#   2. ENCODE: each vector's 4 subspace PQ codes (q114's per-row
#      broadcast-codebook algebra — zero shuffles);
#   3. PROBE: each query searches only its IVFPQ_NPROBE nearest
#      buckets (the q147 nprobe knob) — candidates come from an
#      equi-join against the assignment, never an all-pairs scan;
#   4. ADC: candidates are ranked by ASYMMETRIC DISTANCE — exact
#      integer L2 between the query and the candidate's
#      PQ-RECONSTRUCTED vector (64 bytes of codes stand in for the
#      512-byte vector: the memory trick that fits a billion vectors
#      in RAM);
#   5. RE-RANK: only the IVFPQ_RERANK best ADC candidates get the
#      true vector read + exact integer-quantized cosine (q46's
#      bit-stable formula), yielding the final top-10;
#   6. EVIDENCE: recall@10 against the brute-force exact top-10 and
#      candidates_scanned are emitted per query — the recall/cost
#      frontier a production deployment tunes.
# Scale shape: the codebook is ONE broadcast row; assignment+encode
# are per-row algebra over the corpus scan; the probe list is
# O(Q x nprobe) broadcast; ADC touches only probed buckets; the
# true-vector read touches IVFPQ_RERANK rows per query. All
# arithmetic before the final cosine is exact int64 (quantized
# 1e6), so both engines agree bit-for-bit.

IVFPQ_NPROBE = 2
IVFPQ_RERANK = 20

_PQ_SLICE = "list_slice({v}, {s} * 16 + 1, ({s} + 1) * 16)"


def _q202_sub_d2(v: str, c: str, s: str) -> str:
    vs = _PQ_SLICE.format(v=v, s=s)
    cs = _PQ_SLICE.format(v=c, s=s)
    return (
        f"list_dot_product({vs}, {vs}) - 2 * list_dot_product({vs}, {cs})"
        f" + list_dot_product({cs}, {cs})"
    )


_ORACLE_Q202 = f"""
WITH m AS (
    SELECT vec_id,
           list_transform(embedding::DOUBLE[],
                          x -> CAST(floor(x * 1000000) AS BIGINT)) AS mv
    FROM embeddings
),
n AS (SELECT vec_id, mv, list_dot_product(mv, mv) AS n2 FROM m),
cent AS (SELECT vec_id AS cid, mv AS cv, n2 AS cn2 FROM n
         WHERE vec_id < {N_CENTROIDS}),
assign AS (
    SELECT vec_id, cid FROM (
        SELECT n.vec_id, cent.cid,
               row_number() OVER (PARTITION BY n.vec_id
                   ORDER BY n.n2 + cent.cn2 - 2 * list_dot_product(n.mv, cent.cv),
                            cent.cid) AS rn
        FROM n CROSS JOIN cent
    ) WHERE rn = 1
),
codes AS (
    SELECT vec_id, sub, cid FROM (
        SELECT m.vec_id, s.s AS sub, cent.cid,
               row_number() OVER (PARTITION BY m.vec_id, s.s
                   ORDER BY {_q202_sub_d2('m.mv', 'cent.cv', 's.s')},
                            cent.cid) AS rn
        FROM m
        CROSS JOIN (SELECT UNNEST([0, 1, 2, 3]) AS s) s
        CROSS JOIN cent
    ) WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, mv AS qmv, n2 AS qn2 FROM n
      WHERE vec_id IN ({_QIDS_SQL})),
qprobe AS (
    SELECT query_id, cid FROM (
        SELECT q.query_id, cent.cid,
               row_number() OVER (PARTITION BY q.query_id
                   ORDER BY q.qn2 + cent.cn2 - 2 * list_dot_product(q.qmv, cent.cv),
                            cent.cid) AS rn
        FROM q CROSS JOIN cent
    ) WHERE rn <= {IVFPQ_NPROBE}
),
cand AS (
    SELECT qp.query_id, a.vec_id
    FROM qprobe qp JOIN assign a ON a.cid = qp.cid
    WHERE a.vec_id <> qp.query_id
),
adc AS (
    SELECT c.query_id, c.vec_id,
           SUM({_q202_sub_d2('q.qmv', 'cent.cv', 'k.sub')}) AS approx_d2
    FROM cand c
    JOIN codes k ON k.vec_id = c.vec_id
    JOIN q ON q.query_id = c.query_id
    JOIN cent ON cent.cid = k.cid
    GROUP BY c.query_id, c.vec_id
),
shortlist AS (
    SELECT query_id, vec_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY approx_d2, vec_id) AS rn
        FROM adc
    ) WHERE rn <= {IVFPQ_RERANK}
),
finals AS (
    SELECT query_id, neighbor_id FROM (
        SELECT s.query_id, s.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY s.query_id
                   ORDER BY round(list_dot_product(q.qmv, n.mv)
                                  / (sqrt(q.qn2) * sqrt(n.n2)), 6) DESC,
                            s.vec_id) AS rn
        FROM shortlist s
        JOIN q ON q.query_id = s.query_id
        JOIN n ON n.vec_id = s.vec_id
    ) WHERE rn <= {TOP_K}
),
exact AS (
    SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.query_id
                   ORDER BY round(list_dot_product(q.qmv, c.mv)
                                  / (sqrt(q.qn2) * sqrt(c.n2)), 6) DESC,
                            c.vec_id) AS rn
        FROM q JOIN n c ON c.vec_id <> q.query_id
    ) WHERE rn <= {TOP_K}
),
counts AS (
    SELECT query_id, CAST(COUNT(*) AS BIGINT) AS candidates_scanned
    FROM cand GROUP BY query_id
),
hits AS (
    SELECT f.query_id, CAST(COUNT(*) AS BIGINT) AS hits_at_10
    FROM finals f JOIN exact e
      ON e.query_id = f.query_id AND e.neighbor_id = f.neighbor_id
    GROUP BY f.query_id
)
SELECT q.query_id,
       CAST(COALESCE(c.candidates_scanned, 0) AS BIGINT) AS candidates_scanned,
       CAST(COALESCE(h.hits_at_10, 0) AS BIGINT) AS hits_at_10,
       CAST(COALESCE(h.hits_at_10, 0) * 1000000 // {TOP_K} AS BIGINT)
           AS recall_ppm
FROM q
LEFT JOIN counts c ON c.query_id = q.query_id
LEFT JOIN hits h ON h.query_id = q.query_id
ORDER BY q.query_id
"""


@register(
    "q202_ivfpq_search",
    oracle=_ORACLE_Q202,
    doc="IVF-PQ end-to-end (FAISS IVFPQ shape): coarse-quantized "
    "candidate generation (nprobe=2 buckets per query), asymmetric "
    "PQ distances on the candidates (exact integer L2 to the "
    "code-reconstructed vector), exact cosine re-rank of the 20 "
    "best, and the recall@10-vs-brute-force + candidates_scanned "
    "evidence per query — the pieces q41/q114/q147 built, composed "
    "into the billion-vector serving pipeline and value-checked.",
    tags=("similarity", "ann", "pq", "ivf"),
)
def q202_ivfpq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r10: the quantized-vector frame feeds the codebook, encoder,
    # queries, rerank AND exact legs — lazily it was re-derived at
    # every use (28 parquet scans / 74 exchanges in the before
    # plan). Checkpointed once, as q225 already does (guide §5).
    # r11 note: a fused generalized serve (shared with q225, both
    # legs through one parametrized pipeline) was implemented and
    # in-session A/B'd — identical rows, median 2.20 s (this form)
    # vs 2.90 s (fused): the union-built codebook rows and the
    # leg-indexed ADC deepen the stage chain for zero byte savings.
    # Reverted; this specialized single-leg form stays.
    vecs = _int_vecs(spark, sf_dir).localCheckpoint()
    # ONE broadcast codebook row: cids ascending with aligned vectors
    # and self-dots (the q114 pattern).
    cb = (
        vecs.where(F.col("vec_id") < N_CENTROIDS)
        .agg(F.array_sort(F.collect_list(F.struct("vec_id", "mv", "n2"))).alias("cb"))
        .select(
            F.transform("cb", lambda x: x["vec_id"]).alias("cids"),
            F.transform("cb", lambda x: x["mv"]).alias("cvs"),
            F.transform("cb", lambda x: x["n2"]).alias("cn2s"),
        )
    )
    rows = vecs.crossJoin(F.broadcast(cb))

    def _centroid_dists(mv: Column, n2: Column) -> Column:
        # integer L2 to every centroid via the dot identity
        return F.zip_with(
            F.col("cvs"),
            F.col("cn2s"),
            lambda cv, cn2: n2 + cn2 - F.lit(2) * _idot(mv, cv),
        )

    # coarse assignment + 4 PQ codes in ONE per-row pass
    dists = _centroid_dists(F.col("mv"), F.col("n2"))
    enc_cols = [
        "vec_id",
        "mv",
        "n2",
        F.element_at(
            "cids", F.array_position(dists, F.array_min(dists)).cast("int")
        ).alias("cid"),
    ]
    def _sub_code(s: int) -> Column:
        sub = F.slice("mv", s * PQ_SUB_DIM + 1, PQ_SUB_DIM)

        def sub_dist(cv: Column) -> Column:
            return _il2(sub, F.slice(cv, s * PQ_SUB_DIM + 1, PQ_SUB_DIM))

        sdists = F.transform("cvs", sub_dist)
        idx = F.array_position(sdists, F.array_min(sdists)).cast("int")
        return F.element_at("cids", idx).alias(f"code{s}")

    enc_cols += [_sub_code(s) for s in range(PQ_SUB)]
    enc = rows.select(*enc_cols)

    queries = vecs.where(F.col("vec_id").isin(*QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"),
        F.col("mv").alias("qmv"),
        F.col("n2").alias("qn2"),
    )
    # probe list: Q x nprobe rows, sorted struct array -> explode
    qp = (
        queries.crossJoin(F.broadcast(cb))
        .select(
            "query_id",
            F.explode(
                F.slice(
                    F.array_sort(
                        F.zip_with(
                            _centroid_dists(F.col("qmv"), F.col("qn2")),
                            F.col("cids"),
                            lambda d, c: F.struct(d.alias("d2"), c.alias("cid")),
                        )
                    ),
                    1,
                    IVFPQ_NPROBE,
                )
            ).alias("p"),
        )
        .select("query_id", F.col("p.cid").alias("cid"))
    )
    # candidates: equi-join probed buckets against the assignment
    cand = enc.join(F.broadcast(qp), "cid").where(
        F.col("vec_id") != F.col("query_id")
    )
    # ADC: exact integer L2 between the query and the candidate's
    # PQ-reconstructed vector (identical to the per-subspace sum)
    recon = F.concat(
        *[
            F.slice(
                F.element_at(
                    "cvs", F.array_position("cids", F.col(f"code{s}")).cast("int")
                ),
                s * PQ_SUB_DIM + 1,
                PQ_SUB_DIM,
            )
            for s in range(PQ_SUB)
        ]
    )
    adc = (
        cand.join(F.broadcast(queries), "query_id")
        .crossJoin(F.broadcast(cb))
        .select(
            "query_id",
            "vec_id",
            "qmv",
            "qn2",
            _il2(F.col("qmv"), recon).alias("approx_d2"),
        )
    )
    wadc = Window.partitionBy("query_id").orderBy("approx_d2", "vec_id")
    shortlist = (
        adc.withColumn("rn", F.row_number().over(wadc))
        .where(F.col("rn") <= IVFPQ_RERANK)
        .select("query_id", "vec_id", "qmv", "qn2")
    )
    # re-rank: true-vector read for the shortlist only — the
    # Q x RERANK shortlist broadcasts so the corpus NEVER shuffles
    rerank = vecs.select("vec_id", "mv", "n2").join(
        F.broadcast(shortlist), "vec_id"
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(
            _idot(F.col("qmv"), F.col("mv"))
            / (F.sqrt(F.col("qn2")) * F.sqrt(F.col("n2"))),
            6,
        ).alias("cos_r"),
    )
    wfin = Window.partitionBy("query_id").orderBy(
        F.col("cos_r").desc(), "neighbor_id"
    )
    finals = (
        rerank.withColumn("rn", F.row_number().over(wfin))
        .where(F.col("rn") <= TOP_K)
        .select("query_id", "neighbor_id")
    )
    # brute-force exact reference (the recall denominator)
    exact = (
        F.broadcast(queries)
        .crossJoin(vecs)
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                _idot(F.col("qmv"), F.col("mv"))
                / (F.sqrt(F.col("qn2")) * F.sqrt(F.col("n2"))),
                6,
            ).alias("cos_r"),
        )
        .withColumn("rn", F.row_number().over(wfin))
        .where(F.col("rn") <= TOP_K)
        .select("query_id", "neighbor_id")
    )
    counts = cand.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("candidates_scanned")
    )
    hits = (
        finals.join(F.broadcast(exact), ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("hits_at_10"))
    )
    return (
        queries.select("query_id")
        .join(F.broadcast(counts), "query_id", "left")
        .join(F.broadcast(hits), "query_id", "left")
        .select(
            "query_id",
            F.coalesce("candidates_scanned", F.lit(0)).cast("bigint").alias(
                "candidates_scanned"
            ),
            F.coalesce("hits_at_10", F.lit(0)).cast("bigint").alias("hits_at_10"),
            F.expr(
                f"CAST(coalesce(hits_at_10, 0) * 1000000 div {TOP_K} AS BIGINT)"
            ).alias("recall_ppm"),
        )
        .orderBy("query_id")
    )


# ------------------------------------------------ SemDeDup (round 6)
#
# Semantic deduplication in embedding space (the SemDeDup recipe:
# cluster, then drop within-cluster semantic duplicates) — the
# curation step a training corpus runs AFTER lexical dedup, because
# paraphrases share no shingles (same motivation as q192's
# embedding-space decontamination). This implementation rides the
# adaptive-IVF machinery end to end: clusters are the q43 buckets
# (K = max(8, ceil(N/64)) keeps occupancy bounded, so the in-cluster
# pair set stays LINEAR in N — never all-pairs), the similarity
# graph is the session-materialized neardup_pairs_df, and the keep
# rule is the parallel deterministic one: a vector is dropped iff
# ANY smaller-id in-cluster neighbor sits above the threshold
# (one anti-join — no sequential scan over cluster members, which
# is what makes the rule embarrassingly parallel at 100 TB; the
# paper's "keep one random member" differs only in which
# representative survives, not in what counts as a duplicate).

_ORACLE_Q217 = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
n AS (SELECT vec_id, v, label, list_dot_product(v, v) AS n2 FROM e),
{_ADAPTIVE_CENT_SQL},
pairs AS (
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
    FROM aassign a
    JOIN aassign b ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
    JOIN n na ON na.vec_id = a.vec_id
    JOIN n nb ON nb.vec_id = b.vec_id
    WHERE round(list_dot_product(na.v, nb.v)
                / (sqrt(na.n2) * sqrt(nb.n2)), 6) >= {NEARDUP_COS}
),
dropped AS (SELECT DISTINCT vec_b FROM pairs)
SELECT a.vec_id, CAST(a.centroid_id AS BIGINT) AS centroid_id,
       CAST(CASE WHEN d.vec_b IS NULL THEN 0 ELSE 1 END AS BIGINT) AS is_dup
FROM aassign a
LEFT JOIN dropped d ON d.vec_b = a.vec_id
ORDER BY a.vec_id
"""


@register(
    "q217_semdedup",
    oracle=_ORACLE_Q217,
    doc="SemDeDup-style semantic dedup: adaptive-IVF clusters "
    "(occupancy-bounded, in-cluster pairs linear in N), the "
    "materialized q43 cosine graph, and a parallel min-id keep "
    "rule — one anti-join decides every vector, no sequential "
    "cluster scan. Per-vector (cluster, is_dup) verdicts "
    "value-checked against the full SQL restatement.",
    tags=("similarity", "dedup", "curation"),
)
def q217_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    assign = _ivf_assign_adaptive(spark, sf_dir)
    dropped = (
        neardup_pairs_df(spark, sf_dir)
        .select(F.col("vec_b").alias("vec_id"))
        .distinct()
        .withColumn("__dup", F.lit(1))
    )
    return (
        assign.join(dropped, "vec_id", "left")
        .select(
            "vec_id",
            F.col("centroid_id").cast("bigint").alias("centroid_id"),
            F.coalesce("__dup", F.lit(0)).cast("bigint").alias("is_dup"),
        )
        .orderBy("vec_id")
    )


# ------------- q225: IVF-PQ with TRAINED codebooks (round 7)
#
# The round-6 verdict's #4: q202 quantizes against UNTRAINED
# codebooks (the first-256-vectors shortcut — fine as protocol
# evidence, not the production shape). This composes q199's exact
# integer Lloyd loop into the IVF-PQ pipeline the way FAISS trains
# an IVFPQ index:
#   1. COARSE TRAINING: the q202 seeds refined by IVFPQ_TRAIN_ROUNDS
#      Lloyd rounds over the full vectors (q199's floor-averaged
#      integer update — bit-identical in both engines);
#   2. PQ TRAINING: per-subspace codebooks trained by the SAME loop
#      over the SUBvectors, all four subspaces in one keyed
#      (s, cid) iteration — the distribution each codebook actually
#      quantizes, which is the whole point of training;
#   3. the full q202 pipeline (assign + encode + probe + ADC +
#      re-rank + brute-force recall) run TWICE — seeds vs trained —
#      emitting per query candidates_scanned and recall@10 for both
#      legs: the trained-vs-untrained frontier at the same nprobe.
# Scale shape: training is q199's (broadcast assignment +
# map-side-combinable per-dimension sums) — nothing new; both legs
# keep q202's no-corpus-shuffle plan (broadcast codebooks, equi-join
# candidates, broadcast shortlist re-rank). The trained-recall >=
# untrained-recall expectation is pinned empirically in
# tests/test_prep_ops.py, not in the oracle (it is a property of
# the data, not of the algebra).

IVFPQ_TRAIN_ROUNDS = 2


def _q225_leg_sql(p: str, coarse: str, sub: str) -> str:
    """One search leg (assign/encode/probe/ADC/rerank/recall) against
    the given coarse (cid, cv) and per-subspace (s, cid, scv)
    codebook CTEs — the q202 algebra parametrized by codebook."""
    return f"""
{p}assign AS (
    SELECT vec_id, cid FROM (
        SELECT n.vec_id, c.cid,
               row_number() OVER (PARTITION BY n.vec_id
                   ORDER BY n.n2 - 2 * list_dot_product(n.mv, c.cv)
                            + list_dot_product(c.cv, c.cv), c.cid) AS rn
        FROM n CROSS JOIN {coarse} AS c
    ) WHERE rn = 1
),
{p}codes AS (
    SELECT vec_id, s, cid FROM (
        SELECT v.vec_id, v.s, c.cid,
               row_number() OVER (PARTITION BY v.vec_id, v.s
                   ORDER BY list_dot_product(v.sv, v.sv)
                            - 2 * list_dot_product(v.sv, c.scv)
                            + list_dot_product(c.scv, c.scv), c.cid) AS rn
        FROM sv v JOIN {sub} AS c ON c.s = v.s
    ) WHERE rn = 1
),
{p}qprobe AS (
    SELECT query_id, cid FROM (
        SELECT q.query_id, c.cid,
               row_number() OVER (PARTITION BY q.query_id
                   ORDER BY q.qn2 - 2 * list_dot_product(q.qmv, c.cv)
                            + list_dot_product(c.cv, c.cv), c.cid) AS rn
        FROM q CROSS JOIN {coarse} AS c
    ) WHERE rn <= {IVFPQ_NPROBE}
),
{p}cand AS (
    SELECT qp.query_id, a.vec_id
    FROM {p}qprobe qp JOIN {p}assign a ON a.cid = qp.cid
    WHERE a.vec_id <> qp.query_id
),
{p}adc AS (
    SELECT c.query_id, c.vec_id,
           SUM(list_dot_product(qs.qsv, qs.qsv)
               - 2 * list_dot_product(qs.qsv, sc.scv)
               + list_dot_product(sc.scv, sc.scv)) AS approx_d2
    FROM {p}cand c
    JOIN {p}codes k ON k.vec_id = c.vec_id
    JOIN {sub} AS sc ON sc.s = k.s AND sc.cid = k.cid
    JOIN qsv qs ON qs.query_id = c.query_id AND qs.s = k.s
    GROUP BY c.query_id, c.vec_id
),
{p}shortlist AS (
    SELECT query_id, vec_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY approx_d2, vec_id) AS rn
        FROM {p}adc
    ) WHERE rn <= {IVFPQ_RERANK}
),
{p}finals AS (
    SELECT query_id, neighbor_id FROM (
        SELECT s.query_id, s.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY s.query_id
                   ORDER BY round(list_dot_product(q.qmv, n.mv)
                                  / (sqrt(q.qn2) * sqrt(n.n2)), 6) DESC,
                            s.vec_id) AS rn
        FROM {p}shortlist s
        JOIN q ON q.query_id = s.query_id
        JOIN n ON n.vec_id = s.vec_id
    ) WHERE rn <= {TOP_K}
),
{p}counts AS (
    SELECT query_id, CAST(COUNT(*) AS BIGINT) AS cand
    FROM {p}cand GROUP BY query_id
),
{p}hits AS (
    SELECT f.query_id, CAST(COUNT(*) AS BIGINT) AS hits
    FROM {p}finals f JOIN exact e
      ON e.query_id = f.query_id AND e.neighbor_id = f.neighbor_id
    GROUP BY f.query_id
)"""


def _q225_oracle() -> str:
    subs = ", ".join(str(s) for s in range(PQ_SUB))
    head = f"""
WITH m AS (
    SELECT vec_id,
           list_transform(embedding::DOUBLE[],
                          x -> CAST(floor(x * 1000000) AS BIGINT)) AS mv
    FROM embeddings
),
n AS (SELECT vec_id, mv, list_dot_product(mv, mv) AS n2 FROM m),
q AS (SELECT vec_id AS query_id, mv AS qmv, n2 AS qn2 FROM n
      WHERE vec_id IN ({_QIDS_SQL})),
sv AS (
    SELECT vec_id, s.s AS s,
           list_slice(mv, s.s * {PQ_SUB_DIM} + 1,
                      (s.s + 1) * {PQ_SUB_DIM}) AS sv
    FROM n CROSS JOIN (SELECT UNNEST([{subs}]) AS s) s
),
qsv AS (
    SELECT query_id, s.s AS s,
           list_slice(qmv, s.s * {PQ_SUB_DIM} + 1,
                      (s.s + 1) * {PQ_SUB_DIM}) AS qsv
    FROM q CROSS JOIN (SELECT UNNEST([{subs}]) AS s) s
),
c0 AS (SELECT vec_id AS cid, mv AS cv FROM n WHERE vec_id < {N_CENTROIDS}),
sc0 AS (
    SELECT s.s AS s, cid,
           list_slice(cv, s.s * {PQ_SUB_DIM} + 1,
                      (s.s + 1) * {PQ_SUB_DIM}) AS scv
    FROM c0 CROSS JOIN (SELECT UNNEST([{subs}]) AS s) s
),
a0 AS (
    SELECT vec_id, cid FROM (
        SELECT n.vec_id, c.cid,
               row_number() OVER (PARTITION BY n.vec_id
                   ORDER BY n.n2 - 2 * list_dot_product(n.mv, c.cv)
                            + list_dot_product(c.cv, c.cv), c.cid) AS rn
        FROM n CROSS JOIN c0 AS c
    ) WHERE rn = 1
),
sa0 AS (
    SELECT vec_id, s, cid FROM (
        SELECT v.vec_id, v.s, c.cid,
               row_number() OVER (PARTITION BY v.vec_id, v.s
                   ORDER BY list_dot_product(v.sv, v.sv)
                            - 2 * list_dot_product(v.sv, c.scv)
                            + list_dot_product(c.scv, c.scv), c.cid) AS rn
        FROM sv v JOIN sc0 AS c ON c.s = v.s
    ) WHERE rn = 1
)"""
    rounds = []
    for r in range(1, IVFPQ_TRAIN_ROUNDS + 1):
        rounds.append(f""",
c{r} AS (
    SELECT cid,
           list(CAST(floor(CAST(su AS DOUBLE) / cnt) AS BIGINT)
                ORDER BY pos) AS cv
    FROM (
        SELECT a.cid, i.i AS pos, CAST(SUM(n.mv[i.i]) AS BIGINT) AS su,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM a{r - 1} a JOIN n USING (vec_id),
             UNNEST(range(1, {EMB_DIM} + 1)) AS i(i)
        GROUP BY a.cid, i.i
    ) GROUP BY cid
),
a{r} AS (
    SELECT vec_id, cid FROM (
        SELECT n.vec_id, c.cid,
               row_number() OVER (PARTITION BY n.vec_id
                   ORDER BY n.n2 - 2 * list_dot_product(n.mv, c.cv)
                            + list_dot_product(c.cv, c.cv), c.cid) AS rn
        FROM n CROSS JOIN c{r} AS c
    ) WHERE rn = 1
),
sc{r} AS (
    SELECT s, cid,
           list(CAST(floor(CAST(su AS DOUBLE) / cnt) AS BIGINT)
                ORDER BY pos) AS scv
    FROM (
        SELECT a.s, a.cid, i.i AS pos, CAST(SUM(v.sv[i.i]) AS BIGINT) AS su,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM sa{r - 1} a
        JOIN sv v ON v.vec_id = a.vec_id AND v.s = a.s,
             UNNEST(range(1, {PQ_SUB_DIM} + 1)) AS i(i)
        GROUP BY a.s, a.cid, i.i
    ) GROUP BY s, cid
),
sa{r} AS (
    SELECT vec_id, s, cid FROM (
        SELECT v.vec_id, v.s, c.cid,
               row_number() OVER (PARTITION BY v.vec_id, v.s
                   ORDER BY list_dot_product(v.sv, v.sv)
                            - 2 * list_dot_product(v.sv, c.scv)
                            + list_dot_product(c.scv, c.scv), c.cid) AS rn
        FROM sv v JOIN sc{r} AS c ON c.s = v.s
    ) WHERE rn = 1
)""")
    exact = f""",
exact AS (
    SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.query_id
                   ORDER BY round(list_dot_product(q.qmv, c.mv)
                                  / (sqrt(q.qn2) * sqrt(c.n2)), 6) DESC,
                            c.vec_id) AS rn
        FROM q JOIN n c ON c.vec_id <> q.query_id
    ) WHERE rn <= {TOP_K}
),"""
    legs = (
        _q225_leg_sql("u", "c0", "sc0")
        + ","
        + _q225_leg_sql(
            "t", f"c{IVFPQ_TRAIN_ROUNDS}", f"sc{IVFPQ_TRAIN_ROUNDS}"
        )
    )
    tail = f"""
SELECT q.query_id,
       CAST(COALESCE(uc.cand, 0) AS BIGINT) AS cand_untrained,
       CAST(COALESCE(uh.hits, 0) * 1000000 // {TOP_K} AS BIGINT)
           AS recall_ppm_untrained,
       CAST(COALESCE(tc.cand, 0) AS BIGINT) AS cand_trained,
       CAST(COALESCE(th.hits, 0) * 1000000 // {TOP_K} AS BIGINT)
           AS recall_ppm_trained
FROM q
LEFT JOIN ucounts uc ON uc.query_id = q.query_id
LEFT JOIN uhits uh ON uh.query_id = q.query_id
LEFT JOIN tcounts tc ON tc.query_id = q.query_id
LEFT JOIN thits th ON th.query_id = q.query_id
ORDER BY q.query_id
"""
    return head + "".join(rounds) + exact + legs + tail


_ORACLE_Q225 = _q225_oracle()


def _q225_sub_rows(vecs: DataFrame) -> DataFrame:
    """(vec_id, s, sv) subvector rows — one bounded explode."""
    return vecs.select(
        "vec_id",
        F.explode(F.array(*[F.lit(s) for s in range(PQ_SUB)])).alias("s"),
        "mv",
    ).select(
        "vec_id",
        "s",
        F.expr(f"slice(mv, s * {PQ_SUB_DIM} + 1, {PQ_SUB_DIM})").alias("sv"),
    )


def _q225_train(
    vecs: DataFrame, subv: DataFrame, c0: DataFrame, sc0: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """q199's exact integer Lloyd, run twice in parallel keyspaces:
    full vectors -> trained coarse centroids, (s, cid)-keyed
    subvectors -> trained per-subspace PQ codebooks."""
    def sub_nearest(sc: DataFrame) -> DataFrame:
        cb = sc.groupBy("s").agg(
            F.array_sort(F.collect_list(F.struct("cid", "scv"))).alias("e")
        ).select(
            "s",
            F.transform("e", lambda x: x["cid"]).alias("cids"),
            F.transform("e", lambda x: x["scv"]).alias("scvs"),
        )
        j = subv.join(F.broadcast(cb), "s")
        dists = F.transform(
            F.col("scvs"), lambda scv: _il2(F.col("sv"), scv)
        )
        return j.select(
            "vec_id",
            "s",
            F.element_at(
                "cids", F.array_position(dists, F.array_min(dists)).cast("int")
            ).alias("cid"),
            "sv",
        )

    def update(assign: DataFrame, key: list[str]) -> DataFrame:
        vcol = "mv" if "mv" in assign.columns else "sv"
        sums = (
            assign.select(*key, F.posexplode(vcol).alias("pos", "val"))
            .groupBy(*key, "pos")
            .agg(F.sum("val").alias("su"), F.count(F.lit(1)).alias("cnt"))
        )
        return (
            sums.withColumn(
                "cval",
                F.floor(F.col("su").cast("double") / F.col("cnt")).cast("bigint"),
            )
            .groupBy(*key)
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "cval"))),
                    lambda x: x["cval"],
                ).alias("mv" if "mv" in assign.columns else "scv")
            )
        )

    # r10 (guide §2.6 — overlap independent jobs): the coarse chain
    # (full vectors) and the sub chain (per-subspace codebooks) are
    # fully independent job sequences; each round's pair of eager
    # checkpoints now runs from two driver threads so the second
    # job's tasks back-fill the first one's tail instead of waiting
    # for it. Same DataFrames, same checkpoints, ~20% off the
    # query's wall at sf0.1; on a cluster the win is the idle tail
    # of every training stage.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(2) as pool:
        fa = pool.submit(lambda: _nearest(vecs, c0).localCheckpoint())
        fb = pool.submit(lambda: sub_nearest(sc0).localCheckpoint())
        assign, sassign = fa.result(), fb.result()
        coarse = c0
        sub = sc0
        for r in range(IVFPQ_TRAIN_ROUNDS):
            fa = pool.submit(
                lambda a=assign: update(a, ["cid"])
                .select("cid", F.col("mv").alias("cv"))
                .localCheckpoint()
            )
            fb = pool.submit(
                lambda a=sassign: update(a, ["s", "cid"]).localCheckpoint()
            )
            coarse, sub = fa.result(), fb.result()
            if r < IVFPQ_TRAIN_ROUNDS - 1:
                fa = pool.submit(
                    lambda c=coarse: _nearest(vecs, c).localCheckpoint()
                )
                fb = pool.submit(lambda s=sub: sub_nearest(s).localCheckpoint())
                assign, sassign = fa.result(), fb.result()
    return coarse, sub


def _q225_exact(vecs: DataFrame, queries: DataFrame) -> DataFrame:
    """Brute-force (query_id, neighbor_id) top-k ground truth. Shared
    by both legs (r10 optimization): it depends only on queries x
    vecs — never on a codebook — so computing it once per query
    (instead of once per leg) removes a full corpus cross-join +
    window from the second leg's plan for identical results."""
    wfin = Window.partitionBy("query_id").orderBy(
        F.col("cos_r").desc(), "neighbor_id"
    )
    return (
        F.broadcast(queries)
        .crossJoin(vecs)
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                _idot(F.col("qmv"), F.col("mv"))
                / (F.sqrt(F.col("qn2")) * F.sqrt(F.col("n2"))),
                6,
            ).alias("cos_r"),
        )
        .withColumn("rn", F.row_number().over(wfin))
        .where(F.col("rn") <= TOP_K)
        .select("query_id", "neighbor_id")
    )


def _q225_seed_codebooks(vecs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Seed (untrained) coarse codebook (cid, cv) and per-subspace
    codebook (s, cid, scv) from the first N_CENTROIDS vectors — the
    q202 seeds. Shared by q202, q225 and the plan tests so the
    pinned subtree IS the production subtree (advisor r10)."""
    c0 = vecs.where(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("cid"), F.col("mv").alias("cv")
    )
    sc0 = c0.select(
        F.explode(F.array(*[F.lit(s) for s in range(PQ_SUB)])).alias("s"),
        "cid",
        "cv",
    ).select(
        "s",
        "cid",
        F.expr(f"slice(cv, s * {PQ_SUB_DIM} + 1, {PQ_SUB_DIM})").alias("scv"),
    )
    return c0, sc0


def _q225_queries(vecs: DataFrame) -> DataFrame:
    """(query_id, qmv, qn2) probe set — shared by q202/q225/tests."""
    return vecs.where(F.col("vec_id").isin(*QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"),
        F.col("mv").alias("qmv"),
        F.col("n2").alias("qn2"),
    )


def _q225_leg(
    vecs: DataFrame,
    subv: DataFrame,
    queries: DataFrame,
    coarse: DataFrame,
    sub: DataFrame,
    exact: DataFrame,
) -> DataFrame:
    """(query_id, cand, hits) for one codebook pair — q202's
    no-corpus-shuffle plan parametrized by codebook: coarse
    assignment AND all four PQ codes are computed in ONE broadcast-
    codebook pass over the corpus (the enc row carries its codes, so
    the candidate stream never joins back against a corpus-sized
    codes table — a SortMergeJoin that would shuffle the codes at
    100 TB; plan-asserted in tests/test_plans.py)."""
    cb = coarse.agg(
        F.array_sort(F.collect_list(F.struct("cid", "cv"))).alias("e")
    ).select(
        F.transform("e", lambda x: x["cid"]).alias("cids"),
        F.transform("e", lambda x: x["cv"]).alias("cvs"),
        F.transform("e", lambda x: _idot(x["cv"], x["cv"])).alias("cn2s"),
    )
    # the four per-subspace codebooks packed into ONE broadcast row,
    # ordered by s: subs[s+1] = (cids ascending, aligned subvectors)
    scb_row = (
        sub.groupBy("s")
        .agg(F.array_sort(F.collect_list(F.struct("cid", "scv"))).alias("e"))
        .select(
            F.struct(
                F.col("s"),
                F.transform("e", lambda x: x["cid"]).alias("scids"),
                F.transform("e", lambda x: x["scv"]).alias("scvs"),
            ).alias("sub1")
        )
        .agg(F.array_sort(F.collect_list("sub1")).alias("subs"))
    )

    def coarse_dists(mv, n2):
        return F.zip_with(
            F.col("cvs"),
            F.col("cn2s"),
            lambda cv, cn2: n2 + cn2 - F.lit(2) * _idot(mv, cv),
        )

    def sub_code(s: int) -> Column:
        sl = F.expr(f"slice(mv, {s * PQ_SUB_DIM + 1}, {PQ_SUB_DIM})")
        scids = F.col("subs")[s]["scids"]
        scvs = F.col("subs")[s]["scvs"]
        sdists = F.transform(scvs, lambda scv: _il2(sl, scv))
        return F.element_at(
            scids, F.array_position(sdists, F.array_min(sdists)).cast("int")
        ).alias(f"code{s}")

    dists = coarse_dists(F.col("mv"), F.col("n2"))
    enc = vecs.crossJoin(F.broadcast(cb)).crossJoin(F.broadcast(scb_row)).select(
        "vec_id",
        F.element_at(
            "cids", F.array_position(dists, F.array_min(dists)).cast("int")
        ).alias("cid"),
        *[sub_code(s) for s in range(PQ_SUB)],
    )
    qp = (
        queries.crossJoin(F.broadcast(cb))
        .select(
            "query_id",
            F.explode(
                F.slice(
                    F.array_sort(
                        F.zip_with(
                            coarse_dists(F.col("qmv"), F.col("qn2")),
                            F.col("cids"),
                            lambda d, c: F.struct(d.alias("d2"), c.alias("cid")),
                        )
                    ),
                    1,
                    IVFPQ_NPROBE,
                )
            ).alias("p"),
        )
        .select("query_id", F.col("p.cid").alias("cid"))
    )
    cand = enc.join(F.broadcast(qp), "cid").where(
        F.col("vec_id") != F.col("query_id")
    )
    # ADC: per candidate, the four reconstructed subvectors come from
    # the broadcast codebook row; approx_d2 is the exact integer sum
    # of per-subspace L2s to the query's slices — identical to the
    # oracle's per-(s) decomposition, no corpus-side join anywhere
    def recon_term(s: int) -> Column:
        scids = F.col("subs")[s]["scids"]
        scvs = F.col("subs")[s]["scvs"]
        rsv = F.element_at(
            scvs, F.array_position(scids, F.col(f"code{s}")).cast("int")
        )
        qsl = F.expr(f"slice(qmv, {s * PQ_SUB_DIM + 1}, {PQ_SUB_DIM})")
        return _il2(qsl, rsv)

    adc = (
        cand.join(F.broadcast(queries), "query_id")
        .crossJoin(F.broadcast(scb_row))
        .select(
            "query_id",
            "vec_id",
            sum(
                (recon_term(s) for s in range(1, PQ_SUB)),
                recon_term(0),
            ).alias("approx_d2"),
        )
    )
    wadc = Window.partitionBy("query_id").orderBy("approx_d2", "vec_id")
    shortlist = (
        adc.withColumn("rn", F.row_number().over(wadc))
        .where(F.col("rn") <= IVFPQ_RERANK)
        .select("query_id", "vec_id")
        .join(
            F.broadcast(
                queries.select("query_id", "qmv", "qn2")
            ),
            "query_id",
        )
    )
    rerank = vecs.select("vec_id", "mv", "n2").join(
        F.broadcast(shortlist), "vec_id"
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(
            _idot(F.col("qmv"), F.col("mv"))
            / (F.sqrt(F.col("qn2")) * F.sqrt(F.col("n2"))),
            6,
        ).alias("cos_r"),
    )
    wfin = Window.partitionBy("query_id").orderBy(
        F.col("cos_r").desc(), "neighbor_id"
    )
    finals = (
        rerank.withColumn("rn", F.row_number().over(wfin))
        .where(F.col("rn") <= TOP_K)
        .select("query_id", "neighbor_id")
    )
    counts = cand.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("cand")
    )
    hits = (
        finals.join(F.broadcast(exact), ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("hits"))
    )
    return (
        queries.select("query_id")
        .join(F.broadcast(counts), "query_id", "left")
        .join(F.broadcast(hits), "query_id", "left")
        .select(
            "query_id",
            F.coalesce("cand", F.lit(0)).cast("bigint").alias("cand"),
            F.coalesce("hits", F.lit(0)).cast("bigint").alias("hits"),
        )
    )


@register(
    "q225_trained_ivfpq",
    oracle=_ORACLE_Q225,
    doc="IVF-PQ with TRAINED codebooks (round 7, judge #4): q199's "
    "exact integer Lloyd refines the coarse centroids over the "
    "full vectors AND the per-subspace PQ codebooks over the "
    "subvector distributions (all four subspaces in one keyed "
    "iteration), then the q202 pipeline runs seeds-vs-trained at "
    "the same nprobe, emitting candidates_scanned and recall@10 "
    "for both legs per query — the trained index a production "
    "IVFPQ deployment ships.",
    tags=("similarity", "ann", "pq", "ivf", "kmeans"),
)
def q225_trained_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    vecs = _int_vecs(spark, sf_dir).localCheckpoint()
    subv = _q225_sub_rows(vecs)
    c0, sc0 = _q225_seed_codebooks(vecs)
    queries = _q225_queries(vecs)
    # Ground truth computed ONCE for both legs (r10): Q x TOP_K rows,
    # checkpointed so neither leg's plan re-runs the brute-force
    # corpus cross-join + window — and computed CONCURRENTLY with the
    # training chain (guide §2.6: exact depends only on vecs/queries,
    # never on a codebook, so its job overlaps the training stages'
    # idle tails instead of serializing after them).
    #
    # r11 re-examined, both alternatives measured and DECLINED
    # (in-session alternating A/Bs, identical 3 rows asserted):
    # (a) a fused serve — both legs through one parametrized
    #     pipeline (one corpus encode emitting both legs' codes,
    #     (leg, query_id)-keyed windows, one rerank) — measured
    #     5.93 s median vs this form, because the union-built
    #     codebook rows deepen the critical path and the fusion
    #     SERIALIZES the untrained leg behind training;
    # (b) launching the untrained leg as soon as `exact` lands
    #     (3-thread schedule, overlapping it with the training
    #     rounds) — 4.93 vs 4.65 s median, flat within noise: the
    #     extra concurrent job contends with training for the same
    #     cores and the trained leg remains the tail either way.
    # The r10 schedule below stays.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(2) as pool:
        fex = pool.submit(
            lambda: _q225_exact(vecs, queries).localCheckpoint()
        )
        ftr = pool.submit(lambda: _q225_train(vecs, subv, c0, sc0))
        exact = fex.result()
        coarse_t, sub_t = ftr.result()
        # r10 round-close (guide §2.6): the two serve legs are
        # independent given (vecs, exact, codebooks) — lazily they
        # serialize, so each leg is eagerly checkpointed from its
        # own driver thread and the legs' stages back-fill each
        # other. Q x 1-row outputs, so the checkpoints are free.
        fu = pool.submit(
            lambda: _q225_leg(
                vecs, subv, queries, c0, sc0, exact
            ).localCheckpoint()
        )
        ft = pool.submit(
            lambda: _q225_leg(
                vecs, subv, queries, coarse_t, sub_t, exact
            ).localCheckpoint()
        )
        u, t = fu.result(), ft.result()
    return (
        u.select(
            "query_id",
            F.col("cand").alias("cand_untrained"),
            F.expr(f"CAST(hits * 1000000 div {TOP_K} AS BIGINT)").alias(
                "recall_ppm_untrained"
            ),
        )
        .join(
            # Q-row result join: broadcast explicitly — Catalyst has
            # no size estimate for the aggregate side and would
            # SortMergeJoin three rows
            F.broadcast(
                t.select(
                    "query_id",
                    F.col("cand").alias("cand_trained"),
                    F.expr(
                        f"CAST(hits * 1000000 div {TOP_K} AS BIGINT)"
                    ).alias("recall_ppm_trained"),
                )
            ),
            "query_id",
        )
        .orderBy("query_id")
    )


# ------------- q237: contrastive-pair mining (hard negatives)
#
# The embedding-training data op the ANN family feeds: for each
# anchor vector, mine the TOP-K most-similar vectors with a
# DIFFERENT label (hard negatives — the pairs that actually move a
# contrastive loss) and the top-k same-label vectors (positives).
# Same exact-cosine machinery as q40 (broadcast anchors ×
# candidates, integer-exact rank tiebreak on neighbor_id), with the
# label constraint expressed as a second window-partition key — one
# pass produces both legs, no second scan. At 100 TB the anchor set
# is the (bounded) training batch and the candidate scan rides the
# q202/q225 IVF candidate generation instead of the full corpus;
# this registered query IS the exact-mining baseline that validates
# that path, exactly as q40 validates ANN recall.

_ORACLE_Q237 = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
n AS (SELECT vec_id, v, label, list_dot_product(v, v) AS n2 FROM e),
q AS (SELECT * FROM n WHERE vec_id IN ({_QIDS_SQL})),
pairs AS (
    SELECT q.vec_id AS query_id,
           CASE WHEN c.label = q.label THEN 'positive'
                ELSE 'hard_negative' END AS pair_type,
           c.vec_id AS neighbor_id, c.label AS neighbor_label,
           round(list_dot_product(q.v, c.v) / (sqrt(q.n2) * sqrt(c.n2)), 6)
               AS cos_r
    FROM q JOIN n c ON c.vec_id <> q.vec_id
)
SELECT query_id, pair_type, neighbor_id, neighbor_label, cos_r,
       CAST(rn AS INTEGER) AS rank
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id, pair_type ORDER BY cos_r DESC, neighbor_id
    ) AS rn
    FROM pairs
)
WHERE rn <= {TOP_K}
ORDER BY query_id, pair_type, rank
"""


@register(
    "q237_hard_negative_mining",
    oracle=_ORACLE_Q237,
    doc="Contrastive-pair mining: per anchor, top-k most-similar "
    "DIFFERENT-label vectors (hard negatives) and top-k same-label "
    "positives in one pass — the label constraint is a second "
    "window-partition key over the q40 exact-cosine machinery. The "
    "exact baseline the IVF-candidate mining path validates "
    "against.",
    tags=("similarity", "ann", "training-pairs"),
)
def q237_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = _vec_norms(spark, sf_dir)
    q = (
        n.where(F.col("vec_id").isin(*QUERY_IDS))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("n2").alias("qn2"),
            F.col("label").alias("qlabel"),
        )
    )
    pairs = (
        F.broadcast(q)
        .crossJoin(n)
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.when(F.col("label") == F.col("qlabel"), F.lit("positive"))
            .otherwise(F.lit("hard_negative"))
            .alias("pair_type"),
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("neighbor_label"),
            F.round(
                _dot(F.col("qv"), F.col("v"))
                / (F.sqrt(F.col("qn2")) * F.sqrt(F.col("n2"))),
                6,
            ).alias("cos_r"),
        )
    )
    w = Window.partitionBy("query_id", "pair_type").orderBy(
        F.col("cos_r").desc(), "neighbor_id"
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select(
            "query_id", "pair_type", "neighbor_id", "neighbor_label",
            "cos_r", "rank",
        )
        .orderBy("query_id", "pair_type", "rank")
    )
