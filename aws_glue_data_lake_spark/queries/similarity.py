"""Similarity search over ``embeddings`` (north star; SURVEY.md §7 Phase 4):
brute-force cosine top-k as the exactness baseline, and an IVF
(inverted-file) probed variant as the scale path.

Both use the deterministic decimal dot product from queries/dedup.py
(``ddot``) so Spark and DuckDB agree bit-for-bit; vector norms are computed
once per vector, never per pair.

Scale design (100 TB):
- Brute force is exact but O(|Q|·N): right when |Q| is small (the query set
  is broadcast, the corpus is scanned once, per-partition top-k folds into a
  global top-k — no full sort). Wrong as the standing index.
- IVF: assign every vector to its nearest of K centroids (one broadcast
  join, linear), store the corpus *bucketed by centroid*; a query probes
  only its ``nprobe`` nearest centroid buckets, scanning ~nprobe/K of the
  corpus. At real scale K grows with N (√N rule of thumb) and centroids come
  from k-means (expressible as repeated Spark joins/aggregations); here the
  centroids are a deterministic seed set (vec_id < K) so the oracle can
  reproduce the exact index. The probed search underneath is the same
  broadcast + top-k-per-group plan either way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from aws_glue_data_lake_spark.queries.base import Registry, t
from aws_glue_data_lake_spark.queries.dedup import _DOT_SQL, ddot
from aws_glue_data_lake_spark.queries.textops import TOKS_SQL
from aws_glue_data_lake_spark.session import session_memo, session_tmpdir

REGISTRY = Registry()
_q = REGISTRY.query

#: Deterministic query set / IVF parameters (small, sf-independent).
_QUERY_IDS = (0, 1, 2, 3, 4)
_TOP_K = 10
_N_CENTROIDS = 8
_N_PROBE = 2

_QIDS_SQL = "(" + ", ".join(str(i) for i in _QUERY_IDS) + ")"

# Shared oracle CTE: vectors with precomputed norms.
_NV_SQL = f"""
nv AS (
  SELECT vec_id, label, embedding,
         SQRT({_DOT_SQL.format(a='embedding', b='embedding')}) AS norm
  FROM embeddings
)"""


def _nv(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The same (vec_id, label, embedding, norm) projection dedup already
    # memoizes+persists per (session, fixture) — one norm build (32-way,
    # see _norm_table) serves every sim_* consumer and all the k-means
    # Lloyd passes instead of each rebuilding it on the one-row-group scan.
    from aws_glue_data_lake_spark.queries.dedup import _norm_table

    return _norm_table(spark, sf_dir)


def _cosine(ea, na, eb, nb):
    return F.round(ddot(ea, eb) / (na * nb), 6)


# ---------------------------------------------------------------------------
# Brute-force cosine top-k: broadcast the 5 query vectors against the whole
# corpus, rank per query. The Spark plan is a BroadcastNestedLoop-free
# broadcast hash join on a crossable key? No — it's a broadcast cross of 5
# rows, then per-partition partial top-k under the rank window (AQE keeps
# the exchange small: only |Q|·k rows survive the filter).
# ---------------------------------------------------------------------------
@_q(
    "sim_topk_bruteforce",
    oracle=f"""
WITH {_NV_SQL},
q AS (SELECT * FROM nv WHERE vec_id IN {_QIDS_SQL}),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label AS neighbor_label,
         ROUND({_DOT_SQL.format(a='q.embedding', b='c.embedding')}
               / (q.norm * c.norm), 6) AS cosine
  FROM q JOIN nv c ON c.vec_id <> q.vec_id
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rnk
  FROM scored
)
SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id, neighbor_label, cosine
FROM ranked WHERE rnk <= {_TOP_K}
ORDER BY query_id, rnk
""",
)
def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    nv = _nv(spark, sf_dir)
    q = nv.where(F.col("vec_id").isin(*_QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("norm").alias("qn"),
    )
    c = nv.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
        F.col("embedding").alias("ce"),
        F.col("norm").alias("cn"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            "neighbor_label",
            _cosine(F.col("qe"), F.col("qn"), F.col("ce"), F.col("cn")).alias(
                "cosine"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rnk") <= _TOP_K)
        .select("query_id", "rnk", "neighbor_id", "neighbor_label", "cosine")
        .orderBy("query_id", "rnk")
    )


# ---------------------------------------------------------------------------
# IVF top-k: deterministic centroid seeds (vec_id < K), nearest-centroid
# assignment (broadcast join + argmax), queries probe their nprobe nearest
# centroids and search only those buckets. Approximate by construction —
# the oracle reproduces the identical index, so results still hash-match.
# ---------------------------------------------------------------------------
@_q(
    "sim_ivf_topk",
    oracle=f"""
WITH {_NV_SQL},
cent AS (SELECT vec_id AS centroid_id, embedding, norm FROM nv
         WHERE vec_id < {_N_CENTROIDS}),
assign_scored AS (
  SELECT v.vec_id, v.label, v.embedding, v.norm, c.centroid_id,
         ROUND({_DOT_SQL.format(a='v.embedding', b='c.embedding')}
               / (v.norm * c.norm), 6) AS cos_c,
         ROW_NUMBER() OVER (
           PARTITION BY v.vec_id
           ORDER BY ROUND({_DOT_SQL.format(a='v.embedding', b='c.embedding')}
                          / (v.norm * c.norm), 6) DESC, c.centroid_id) AS crnk
  FROM nv v CROSS JOIN cent c
),
assigned AS (
  SELECT vec_id, label, embedding, norm, centroid_id
  FROM assign_scored WHERE crnk = 1
),
q AS (SELECT * FROM nv WHERE vec_id IN {_QIDS_SQL}),
probes AS (
  SELECT query_id, centroid_id FROM (
    SELECT q.vec_id AS query_id, c.centroid_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY ROUND({_DOT_SQL.format(a='q.embedding', b='c.embedding')}
                            / (q.norm * c.norm), 6) DESC, c.centroid_id) AS prnk
    FROM q CROSS JOIN cent c
  ) WHERE prnk <= {_N_PROBE}
),
scored AS (
  SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id, a.centroid_id,
         ROUND({_DOT_SQL.format(a='q.embedding', b='a.embedding')}
               / (q.norm * a.norm), 6) AS cosine
  FROM probes p
  JOIN assigned a ON a.centroid_id = p.centroid_id
  JOIN q ON q.vec_id = p.query_id
  WHERE a.vec_id <> q.vec_id
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rnk
  FROM scored
)
SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id,
       CAST(centroid_id AS BIGINT) AS centroid_id, cosine
FROM ranked WHERE rnk <= {_TOP_K}
ORDER BY query_id, rnk
""",
)
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    nv = _nv(spark, sf_dir)
    cent = nv.where(F.col("vec_id") < _N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("che"),
        F.col("norm").alias("chn"),
    )
    # Index build: broadcast the K centroids, score all N·K pairs map-side,
    # argmax per vector. One narrow window on vec_id (already the scan key).
    v = nv.select(
        "vec_id", "label", "embedding", "norm"
    )
    cos_vc = _cosine(F.col("embedding"), F.col("norm"), F.col("che"), F.col("chn"))
    aw = Window.partitionBy("vec_id").orderBy(
        F.desc("cos_c"), F.col("centroid_id")
    )
    assigned = (
        v.join(F.broadcast(cent))
        .select("vec_id", "label", "embedding", "norm", "centroid_id",
                cos_vc.alias("cos_c"))
        .withColumn("crnk", F.row_number().over(aw))
        .where(F.col("crnk") == 1)
        .select("vec_id", "embedding", "norm", "centroid_id")
    )
    q = nv.where(F.col("vec_id").isin(*_QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("norm").alias("qn"),
    )
    pw = Window.partitionBy("query_id").orderBy(
        F.desc("cos_q"), F.col("centroid_id")
    )
    probes = (
        q.join(F.broadcast(cent))
        .select(
            "query_id", "qe", "qn", "centroid_id",
            _cosine(F.col("qe"), F.col("qn"), F.col("che"), F.col("chn")).alias(
                "cos_q"
            ),
        )
        .withColumn("prnk", F.row_number().over(pw))
        .where(F.col("prnk") <= _N_PROBE)
        .select("query_id", "qe", "qn", "centroid_id")
    )
    # Probed search: the corpus side stays partitioned by centroid bucket;
    # the (query, bucket) probe list is tiny and broadcast.
    scored = (
        assigned.join(F.broadcast(probes), "centroid_id")
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("centroid_id").cast("bigint").alias("centroid_id"),
            _cosine(
                F.col("qe"), F.col("qn"), F.col("embedding"), F.col("norm")
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rnk") <= _TOP_K)
        .select("query_id", "rnk", "neighbor_id", "centroid_id", "cosine")
        .orderBy("query_id", "rnk")
    )


# ---------------------------------------------------------------------------
# PERSISTED IVF index + partition-pruned probe — the build/serve split a
# production ANN system runs: the assignment table is written ONCE to
# disk PARTITIONED BY centroid bucket (one directory per bucket, exactly
# an inverted-file layout), and the probe is a fresh scan of that store
# where the broadcast (query, bucket) probe list DYNAMICALLY PRUNES the
# partition directories — Spark reads only the nprobe buckets per query,
# never the full index (pinned in tests/test_plans.py). Same index
# parameters as sim_ivf_topk, so the round-trip must reproduce its
# results exactly — the two queries share one oracle.
#
# At 100 TB this is the shape that matters: index build is a one-time
# (or incremental) job; every query after that touches
# |probes| / |buckets| of the data via directory pruning, and the store
# doubles as the co-clustered layout for batch rescoring jobs.
# ---------------------------------------------------------------------------
@session_memo
def _ivf_index_dir(spark: SparkSession, sf_dir: str) -> str:
    """Build-once IVF store: assignments partitioned by centroid_id +
    the centroid table, memoized per (session, fixture)."""
    nv = _nv(spark, sf_dir)
    cent = nv.where(F.col("vec_id") < _N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("che"),
        F.col("norm").alias("chn"),
    )
    cos_vc = _cosine(F.col("embedding"), F.col("norm"), F.col("che"), F.col("chn"))
    aw = Window.partitionBy("vec_id").orderBy(F.desc("cos_c"), F.col("centroid_id"))
    assigned = (
        nv.join(F.broadcast(cent))
        .select("vec_id", "embedding", "norm", "centroid_id", cos_vc.alias("cos_c"))
        .withColumn("crnk", F.row_number().over(aw))
        .where(F.col("crnk") == 1)
        .select("vec_id", "embedding", "norm", "centroid_id")
    )
    d = session_tmpdir("ivf_store_")
    # v1 committer for the fan-out write (see deltacompat._stage_files).
    assigned.write.partitionBy("centroid_id").option(
        "mapreduce.fileoutputcommitter.algorithm.version", "1"
    ).parquet(f"{d}/assignments")
    cent.write.parquet(f"{d}/centroids")
    return d


@_q("sim_ivf_persisted_probe", oracle=REGISTRY.oracles["sim_ivf_topk"])
def sim_ivf_persisted_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    store = _ivf_index_dir(spark, sf_dir)
    assigned = spark.read.parquet(f"{store}/assignments")
    cent = spark.read.parquet(f"{store}/centroids")
    q = _nv(spark, sf_dir).where(F.col("vec_id").isin(*_QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("norm").alias("qn"),
    )
    pw = Window.partitionBy("query_id").orderBy(F.desc("cos_q"), F.col("centroid_id"))
    probes = (
        q.join(F.broadcast(cent))
        .select(
            "query_id", "qe", "qn", "centroid_id",
            _cosine(F.col("qe"), F.col("qn"), F.col("che"), F.col("chn")).alias(
                "cos_q"
            ),
        )
        .withColumn("prnk", F.row_number().over(pw))
        .where(F.col("prnk") <= _N_PROBE)
        .select("query_id", "qe", "qn", "centroid_id")
    )
    scored = (
        assigned.join(F.broadcast(probes), "centroid_id")
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("centroid_id").cast("bigint").alias("centroid_id"),
            _cosine(
                F.col("qe"), F.col("qn"), F.col("embedding"), F.col("norm")
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rnk") <= _TOP_K)
        .select("query_id", "rnk", "neighbor_id", "centroid_id", "cosine")
        .orderBy("query_id", "rnk")
    )


# ---------------------------------------------------------------------------
# Hyperplane-LSH top-k: the third ANN strategy (vs exact brute force and
# probed IVF) — signature bit b = sign(<v, hyperplane_b>), vectors hash to
# 2^B buckets, a query scans only its own bucket. Sign-random-projection
# is the classic cosine LSH (collision probability 1 − θ/π per bit);
# bucket residency is ONE bit-packed int per vector, so the "index" is
# just a clustered sort key at scale — cheaper to maintain than IVF
# centroids under streaming ingest, at the cost of unbalanced buckets.
# Hyperplanes are deterministic seed vectors (vec_id 8..11) so the oracle
# rebuilds the identical index; sign(exact-decimal dot) is engine-stable.
# ---------------------------------------------------------------------------
_N_PLANES = 4
_HP_LO = 8  # hyperplane seeds: vec_id in [_HP_LO, _HP_LO + _N_PLANES)


@_q(
    "sim_lsh_topk",
    oracle=f"""
WITH {_NV_SQL},
hp AS (SELECT vec_id, embedding FROM nv
       WHERE vec_id >= {_HP_LO} AND vec_id < {_HP_LO + _N_PLANES}),
sig AS (
  SELECT v.vec_id, CAST(SUM(
           CASE WHEN {_DOT_SQL.format(a='v.embedding', b='h.embedding')} >= 0
                THEN (1 << CAST(h.vec_id - {_HP_LO} AS INT)) ELSE 0 END)
         AS BIGINT) AS bucket
  FROM nv v CROSS JOIN hp h
  GROUP BY v.vec_id
),
q AS (SELECT nv.*, sig.bucket FROM nv JOIN sig USING (vec_id)
      WHERE vec_id IN {_QIDS_SQL}),
c AS (SELECT nv.*, sig.bucket FROM nv JOIN sig USING (vec_id)),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.bucket,
         ROUND({_DOT_SQL.format(a='q.embedding', b='c.embedding')}
               / (q.norm * c.norm), 6) AS cosine
  FROM q JOIN c ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rnk
  FROM scored
)
SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id, bucket, cosine
FROM ranked WHERE rnk <= {_TOP_K}
ORDER BY query_id, rnk
""",
)
def sim_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    nv = _nv(spark, sf_dir)
    hp = nv.where(
        (F.col("vec_id") >= _HP_LO) & (F.col("vec_id") < _HP_LO + _N_PLANES)
    ).select(
        (F.col("vec_id") - _HP_LO).cast("int").alias("plane"),
        F.col("embedding").alias("he"),
    )
    # Index build: broadcast the B hyperplanes, one bit per (vector, plane)
    # map-side, then a bit-packing SUM per vector — linear, no corpus
    # shuffle wider than the B-row broadcast.
    bit = F.when(
        ddot(F.col("embedding"), F.col("he")) >= 0,
        F.expr("shiftleft(1, plane)"),
    ).otherwise(F.lit(0))
    sig = (
        nv.join(F.broadcast(hp))
        .select("vec_id", bit.alias("bit"))
        .groupBy("vec_id")
        .agg(F.sum("bit").cast("bigint").alias("bucket"))
    )
    nvb = nv.join(sig, "vec_id")
    q = nvb.where(F.col("vec_id").isin(*_QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("norm").alias("qn"),
        "bucket",
    )
    c = nvb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ce"),
        F.col("norm").alias("cn"),
        "bucket",
    )
    scored = (
        c.join(F.broadcast(q), ["bucket"])
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            "bucket",
            _cosine(F.col("qe"), F.col("qn"), F.col("ce"), F.col("cn")).alias(
                "cosine"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rnk") <= _TOP_K)
        .select("query_id", "rnk", "neighbor_id", "bucket", "cosine")
        .orderBy("query_id", "rnk")
    )


# ---------------------------------------------------------------------------
# Label centroids via grouped-map applyInPandas + a scalar pandas_udf —
# the §2.11 vectorized-UDF surface: per-group NumPy math that the built-in
# operators can't express (matrix mean + per-row distances in one kernel),
# Arrow-batched both ways. The kernel sorts by vec_id so the output is
# deterministic for a given input regardless of shuffle arrival order.
# Scale: one shuffle on label, kernel memory = one label block — for
# billion-row groups switch to the two-pass built-in agg (per-dim decimal
# sums), which this complements, not replaces.
#
# Oracle: the centroid/distance math IS SQL-expressible through the repo's
# exact-decimal trick — unnest the 64 dimensions, per-(label, dim) exact
# DECIMAL sums ÷ count give the centroid, per-(label, vec) exact sums of
# squared deviations give the distances. Kernel (float64, pairwise NumPy
# sums) and oracle (exact decimal sums) differ by ~1e-12 before the final
# ROUND(·, 6), orders of magnitude inside the 5e-7 rounding slack, same
# argument every embedding oracle in queries/dedup.py relies on.
# ---------------------------------------------------------------------------
@_q(
    "sim_label_centroids",
    oracle="""
WITH dims AS (
  SELECT label, vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
  FROM embeddings, generate_series(1, 64) AS g(i)
),
cent AS (
  SELECT label, i,
         CAST(SUM(CAST(x AS DECIMAL(38, 12))) AS DOUBLE) / COUNT(*) AS c
  FROM dims GROUP BY label, i
),
counts AS (
  SELECT label, COUNT(*) AS n_vectors FROM embeddings GROUP BY label
),
dist AS (
  SELECT d.label, d.vec_id,
         SQRT(CAST(SUM(CAST((d.x - c.c) * (d.x - c.c)
                            AS DECIMAL(38, 20))) AS DOUBLE)) AS dist
  FROM dims d JOIN cent c ON d.label = c.label AND d.i = c.i
  GROUP BY d.label, d.vec_id
),
cnorm AS (
  -- kernel rounds the centroid to 6 decimals BEFORE taking its norm
  SELECT label,
         ROUND(SQRT(CAST(SUM(CAST(ROUND(c, 6) * ROUND(c, 6)
                                  AS DECIMAL(38, 18))) AS DOUBLE)), 6)
           AS centroid_norm
  FROM cent GROUP BY label
),
dstats AS (
  SELECT label,
         ROUND(CAST(SUM(CAST(dist AS DECIMAL(38, 12))) AS DOUBLE)
               / COUNT(*), 6) AS mean_dist,
         ROUND(MAX(dist), 6) AS max_dist
  FROM dist GROUP BY label
)
SELECT n.label, CAST(n.n_vectors AS BIGINT) AS n_vectors,
       d.mean_dist, d.max_dist, c.centroid_norm
FROM counts n
JOIN cnorm c USING (label)
JOIN dstats d USING (label)
ORDER BY label
""",
)
def sim_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    from pyspark.sql import functions as SF
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("label", LongType()),
            StructField("n_vectors", LongType()),
            StructField("centroid", ArrayType(DoubleType())),
            StructField("mean_dist", DoubleType()),
            StructField("max_dist", DoubleType()),
        ]
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id")
        m = np.array([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
        c = m.mean(axis=0)
        d = np.sqrt(((m - c) ** 2).sum(axis=1))
        return pd.DataFrame(
            [
                {
                    "label": int(pdf["label"].iloc[0]),
                    "n_vectors": len(pdf),
                    "centroid": np.round(c, 6).tolist(),
                    "mean_dist": round(float(d.mean()), 6),
                    "max_dist": round(float(d.max()), 6),
                }
            ]
        )

    cents = (
        t(spark, sf_dir, "embeddings")
        .groupBy("label")
        .applyInPandas(kernel, schema=out_schema)
    )

    def _centroid_norm(c):
        return c.map(
            lambda v: round(float(np.sqrt((np.asarray(v) ** 2).sum())), 6)
        )

    # `from __future__ import annotations` stringifies inline hints, which
    # pandas_udf's signature inspection rejects — attach real objects.
    _centroid_norm.__annotations__ = {"c": pd.Series, "return": pd.Series}
    centroid_norm = SF.pandas_udf(_centroid_norm, "double")

    return (
        cents.withColumn("centroid_norm", centroid_norm("centroid"))
        .drop("centroid")
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# kNN classification by majority vote: the standard embedding-quality probe
# — top-10 neighbors vote with their labels; ties break toward the smaller
# label for determinism. Composes the brute-force top-k with one small
# aggregate; the heavy lifting stays in the broadcast scoring stage.
# ---------------------------------------------------------------------------
@_q(
    "sim_knn_label_vote",
    oracle=f"""
WITH {_NV_SQL},
q AS (SELECT * FROM nv WHERE vec_id IN {_QIDS_SQL}),
scored AS (
  SELECT q.vec_id AS query_id, q.label AS true_label,
         c.vec_id AS neighbor_id, c.label AS neighbor_label,
         ROUND({_DOT_SQL.format(a='q.embedding', b='c.embedding')}
               / (q.norm * c.norm), 6) AS cosine
  FROM q JOIN nv c ON c.vec_id <> q.vec_id
),
topk AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, neighbor_id) AS rnk
    FROM scored
  ) WHERE rnk <= {_TOP_K}
),
votes AS (
  SELECT query_id, true_label, neighbor_label,
         CAST(COUNT(*) AS BIGINT) AS n_votes
  FROM topk GROUP BY query_id, true_label, neighbor_label
)
SELECT query_id, CAST(true_label AS INT) AS true_label,
       CAST(predicted_label AS INT) AS predicted_label, n_votes
FROM (
  SELECT *, neighbor_label AS predicted_label,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY n_votes DESC, neighbor_label) AS vrnk
  FROM votes
) WHERE vrnk = 1
ORDER BY query_id
""",
)
def sim_knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    nv = _nv(spark, sf_dir)
    q = nv.where(F.col("vec_id").isin(*_QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("true_label"),
        F.col("embedding").alias("qe"),
        F.col("norm").alias("qn"),
    )
    c = nv.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
        F.col("embedding").alias("ce"),
        F.col("norm").alias("cn"),
    )
    scored = c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id")).select(
        "query_id",
        "true_label",
        "neighbor_id",
        "neighbor_label",
        _cosine(F.col("qe"), F.col("qn"), F.col("ce"), F.col("cn")).alias("cosine"),
    )
    wk = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("neighbor_id"))
    topk = scored.withColumn("rnk", F.row_number().over(wk)).where(
        F.col("rnk") <= _TOP_K
    )
    votes = topk.groupBy("query_id", "true_label", "neighbor_label").agg(
        F.count("*").cast("bigint").alias("n_votes")
    )
    wv = Window.partitionBy("query_id").orderBy(
        F.desc("n_votes"), F.col("neighbor_label")
    )
    return (
        votes.withColumn("vrnk", F.row_number().over(wv))
        .where(F.col("vrnk") == 1)
        .select(
            "query_id",
            F.col("true_label").cast("int").alias("true_label"),
            F.col("neighbor_label").cast("int").alias("predicted_label"),
            "n_votes",
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# IVF with k-means-refined centroids: the real index-build path. Seeds are
# the deterministic vec_id < K set, then _KM_ITERS Lloyd iterations run as
# plain Spark relational ops — assign = broadcast-join + per-vector argmax,
# update = posexplode(dims) + per-(centroid, dim) exact-decimal mean — and
# the probed search runs against the refined centroids. Every float the
# two engines must agree on is either an exact-decimal sum cast to double
# or an IEEE double op on identical inputs, so the oracle replays the
# *identical* iterations in SQL and the result hash-matches.
#
# Scale: each iteration is one broadcast join (K rows), one 64×N explode,
# and one (K·64)-group aggregate — all map-side-combinable; nothing scales
# with N² and the centroid table never leaves broadcast range (K ~ √N
# stays tiny relative to the corpus even at 100 TB).
# ---------------------------------------------------------------------------
_KM_ITERS = 2
_DIM = 64


def _km_assign_sql(cent: str, out: str) -> str:
    """One Lloyd assignment step in SQL: nearest refined centroid per
    vector (rounded-cosine argmax, centroid_id tiebreak)."""
    dot = _DOT_SQL.format(a="v.embedding", b="c.cvec")
    return f"""{out} AS (
  SELECT vec_id, embedding, norm, centroid_id FROM (
    SELECT v.vec_id, v.embedding, v.norm, c.centroid_id,
           ROW_NUMBER() OVER (
             PARTITION BY v.vec_id
             ORDER BY ROUND({dot} / (v.norm * c.cnorm), 6) DESC,
                      c.centroid_id) AS crnk
    FROM nv v CROSS JOIN {cent} c
  ) WHERE crnk = 1
)"""


def _km_assigned_blocks() -> list[str]:
    """Oracle CTE chain up to the refined-centroid final assignment
    (``assigned``) — shared by the k-means probe query and semantic dedup."""
    blocks = [
        _NV_SQL.strip(),
        f"""cent0 AS (
  SELECT vec_id AS centroid_id,
         LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS cvec,
         norm AS cnorm
  FROM nv WHERE vec_id < {_N_CENTROIDS}
)""",
    ]
    for it in range(1, _KM_ITERS + 1):
        blocks.append(_km_assign_sql(f"cent{it - 1}", f"assign{it}"))
        blocks.append(f"""dims{it} AS (
  SELECT centroid_id, i, CAST(embedding[i] AS DOUBLE) AS x
  FROM assign{it}, UNNEST(generate_series(1, {_DIM})) AS g(i)
)""")
        blocks.append(f"""centc{it} AS (
  SELECT centroid_id, i,
         CAST(SUM(CAST(x AS DECIMAL(38, 12))) AS DOUBLE) / COUNT(*) AS c
  FROM dims{it} GROUP BY centroid_id, i
)""")
        blocks.append(f"""centv{it} AS (
  SELECT centroid_id, LIST(c ORDER BY i) AS cvec
  FROM centc{it} GROUP BY centroid_id
)""")
        blocks.append(f"""cent{it} AS (
  SELECT centroid_id, cvec,
         SQRT({_DOT_SQL.format(a='cvec', b='cvec')}) AS cnorm
  FROM centv{it}
)""")
    blocks.append(_km_assign_sql(f"cent{_KM_ITERS}", "assigned"))
    return blocks


def _km_ranked_blocks() -> list[str]:
    """Oracle CTE chain through the probed, per-query-ranked neighbor set
    (``ranked``) — shared by the k-means probe query and context packing."""
    final = f"cent{_KM_ITERS}"
    blocks = _km_assigned_blocks()
    blocks.append(f"q AS (SELECT * FROM nv WHERE vec_id IN {_QIDS_SQL})")
    qdot = _DOT_SQL.format(a="q.embedding", b="c.cvec")
    blocks.append(f"""probes AS (
  SELECT query_id, centroid_id FROM (
    SELECT q.vec_id AS query_id, c.centroid_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY ROUND({qdot} / (q.norm * c.cnorm), 6) DESC,
                      c.centroid_id) AS prnk
    FROM q CROSS JOIN {final} c
  ) WHERE prnk <= {_N_PROBE}
)""")
    sdot = _DOT_SQL.format(a="q.embedding", b="a.embedding")
    blocks.append(f"""scored AS (
  SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id, a.centroid_id,
         ROUND({sdot} / (q.norm * a.norm), 6) AS cosine
  FROM probes p
  JOIN assigned a ON a.centroid_id = p.centroid_id
  JOIN q ON q.vec_id = p.query_id
  WHERE a.vec_id <> q.vec_id
)""")
    blocks.append("""ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rnk
  FROM scored
)""")
    return blocks


def _km_oracle() -> str:
    blocks = _km_ranked_blocks()
    return (
        "WITH " + ",\n".join(blocks) + f"""
SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id,
       CAST(centroid_id AS BIGINT) AS centroid_id, cosine
FROM ranked WHERE rnk <= {_TOP_K}
ORDER BY query_id, rnk
"""
    )


def _km_assign(nv: DataFrame, cent: DataFrame) -> DataFrame:
    """Spark twin of _km_assign_sql: broadcast centroids, rounded-cosine
    argmax per vector."""
    aw = Window.partitionBy("vec_id").orderBy(
        F.desc("cos_c"), F.col("centroid_id")
    )
    return (
        nv.select("vec_id", "embedding", "norm")
        .join(F.broadcast(cent))
        .select(
            "vec_id",
            "embedding",
            "norm",
            "centroid_id",
            _cosine(
                F.col("embedding"), F.col("norm"), F.col("cvec"), F.col("cnorm")
            ).alias("cos_c"),
        )
        .withColumn("crnk", F.row_number().over(aw))
        .where(F.col("crnk") == 1)
        .drop("crnk", "cos_c")
    )


def _km_refined_centroids(nv: DataFrame) -> DataFrame:
    """Lloyd-refined centroids from the deterministic vec_id < K seeds —
    the shared index-build step of the k-means probe query and semantic
    dedup (Spark twin of the cent0..centN oracle chain)."""
    cent = nv.where(F.col("vec_id") < _N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("cvec"),
        F.col("norm").alias("cnorm"),
    )
    for _ in range(_KM_ITERS):
        assigned = _km_assign(nv, cent)
        dims = assigned.select(
            "centroid_id", F.posexplode("embedding").alias("i", "x")
        )
        newc = dims.groupBy("centroid_id", "i").agg(
            (
                F.sum(F.col("x").cast("double").cast("decimal(38,12)"))
                .cast("double")
                / F.count("*")
            ).alias("c")
        )
        cvec = F.transform(
            F.array_sort(F.collect_list(F.struct("i", "c"))), lambda s: s["c"]
        )
        cent = (
            newc.groupBy("centroid_id")
            .agg(cvec.alias("cvec"))
            .select(
                "centroid_id",
                "cvec",
                F.sqrt(ddot(F.col("cvec"), F.col("cvec"))).alias("cnorm"),
            )
        )
    return cent


@session_memo
def _km_assigned(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Memoized (refined centroids, final assignment) — the k-means index
    is built once per (session, fixture) and shared by every consumer in
    the suite (probe search, semantic dedup), exactly as a real deployment
    materializes the assignment table once per index build."""
    nv = _nv(spark, sf_dir)
    cent = _km_refined_centroids(nv).persist()
    assigned = _km_assign(nv, cent).persist()
    return cent, assigned


def _km_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probed top-k against the memoized k-means index: (query_id, rnk,
    neighbor_id, centroid_id, cosine) — the retrieval core shared by the
    ranked search and context packing."""
    nv = _nv(spark, sf_dir)
    cent, assigned = _km_assigned(spark, sf_dir)
    q = nv.where(F.col("vec_id").isin(*_QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("norm").alias("qn"),
    )
    pw = Window.partitionBy("query_id").orderBy(
        F.desc("cos_q"), F.col("centroid_id")
    )
    probes = (
        q.join(F.broadcast(cent))
        .select(
            "query_id",
            "qe",
            "qn",
            "centroid_id",
            _cosine(F.col("qe"), F.col("qn"), F.col("cvec"), F.col("cnorm")).alias(
                "cos_q"
            ),
        )
        .withColumn("prnk", F.row_number().over(pw))
        .where(F.col("prnk") <= _N_PROBE)
        .select("query_id", "qe", "qn", "centroid_id")
    )
    scored = (
        assigned.join(F.broadcast(probes), "centroid_id")
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("centroid_id").cast("bigint").alias("centroid_id"),
            _cosine(
                F.col("qe"), F.col("qn"), F.col("embedding"), F.col("norm")
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rnk") <= _TOP_K)
        .select("query_id", "rnk", "neighbor_id", "centroid_id", "cosine")
    )


@_q("sim_ivf_kmeans_topk", oracle=_km_oracle())
def sim_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _km_topk(spark, sf_dir).orderBy("query_id", "rnk")


# ---------------------------------------------------------------------------
# IVF recall evaluation — the measurement every ANN deployment ships with:
# recall@k of the IVF probe against the exact brute-force top-k, per
# query. Composes the two registered searches (and their oracles — the
# oracle below nests both as CTEs), so the recall number the driver
# hash-verifies is the recall of exactly the index this engine serves.
# Scale: the eval join runs over two (n_queries × k)-row relations — the
# cost is the underlying searches, the comparison is free; in production
# this runs over a sampled query set against the same persisted index
# the serving path probes (sim_ivf_persisted_probe).
# ---------------------------------------------------------------------------
@_q(
    "sim_ivf_recall",
    oracle=f"""
WITH exact AS ({{exact}}),
ivf AS ({{ivf}})
SELECT e.query_id,
       CAST(COUNT(*) AS BIGINT) AS n_exact,
       CAST(SUM(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_hit,
       ROUND(SUM(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
             * 1.0 / COUNT(*), 6) AS recall_at_k
FROM exact e
LEFT JOIN ivf i
  ON i.query_id = e.query_id AND i.neighbor_id = e.neighbor_id
GROUP BY e.query_id
ORDER BY e.query_id
""".format(
        exact=REGISTRY.oracles["sim_topk_bruteforce"],
        ivf=REGISTRY.oracles["sim_ivf_topk"],
    ),
)
def sim_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = REGISTRY.queries["sim_topk_bruteforce"](spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    ivf = REGISTRY.queries["sim_ivf_topk"](spark, sf_dir).select(
        "query_id", "neighbor_id", F.lit(1).alias("hit")
    )
    return (
        exact.join(ivf, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("*").cast("bigint").alias("n_exact"),
            F.sum(F.coalesce("hit", F.lit(0))).cast("bigint").alias("n_hit"),
            F.round(
                F.sum(F.coalesce("hit", F.lit(0))) * 1.0 / F.count("*"), 6
            ).alias("recall_at_k"),
        )
        .orderBy("query_id")
    )


# --------------------------------------------------------------------------
# One-pass Gram (second-moment) matrix over the embedding corpus — the
# accumulation PCA/whitening starts from, in the only shape that works at
# 100 TB: mapInPandas computes a per-batch 64×64 partial matrix (map-side
# combine — each Arrow batch collapses to 2,080 upper-triangle cells), and
# the shuffle then carries batches×2080 tiny rows into a final keyed sum,
# never the vectors themselves. Products are quantized PER (row, i, j) to
# int64 via floor(x*y*1e12 + 0.5) BEFORE any cross-row summation, so the
# accumulated matrix is exact integer math — order-independent and
# bit-identical to DuckDB's lateral double-unnest, with no float summation
# drift to reconcile.
# --------------------------------------------------------------------------
@_q(
    "emb_gram_matrix",
    oracle="""
SELECT CAST(g.i AS INT) AS i,
       CAST(h.j AS INT) AS j,
       CAST(SUM(CAST(FLOOR(CAST(embedding[g.i + 1] AS DOUBLE)
                           * CAST(embedding[h.j + 1] AS DOUBLE)
                           * 1000000000000.0 + 0.5) AS BIGINT)) AS BIGINT)
         AS gram_q,
       CAST(COUNT(*) AS BIGINT) AS n_vectors
FROM embeddings,
     (SELECT UNNEST(generate_series(0,
        (SELECT MAX(len(embedding)) FROM embeddings) - 1)) AS i) AS g,
     (SELECT UNNEST(generate_series(0,
        (SELECT MAX(len(embedding)) FROM embeddings) - 1)) AS j) AS h
WHERE g.i <= h.j
GROUP BY g.i, h.j
ORDER BY i, j
""",
)
def emb_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    def partial_gram(batches):
        import numpy as np
        import pandas as pd

        iu, ju = None, None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack(pdf["embedding"].to_numpy()).astype("float64")
            if iu is None:
                d = x.shape[1]
                iu, ju = np.triu_indices(d)
            acc = np.zeros(len(iu), dtype="int64")
            # chunk rows so the n×d×d product tensor stays ~32 MB
            step = max(1, (1 << 22) // (x.shape[1] * x.shape[1]))
            for s in range(0, len(x), step):
                c = x[s : s + step]
                p = np.einsum("ni,nj->nij", c, c)[:, iu, ju]
                acc += np.floor(p * 1e12 + 0.5).astype("int64").sum(axis=0)
            yield pd.DataFrame(
                {
                    "i": iu.astype("int32"),
                    "j": ju.astype("int32"),
                    "gram_q": acc,
                    "n_vectors": np.int64(len(x)),
                }
            )

    e = t(spark, sf_dir, "embeddings").select("embedding")
    partials = e.mapInPandas(
        partial_gram, "i INT, j INT, gram_q BIGINT, n_vectors BIGINT"
    )
    return (
        partials.groupBy("i", "j")
        .agg(
            F.sum("gram_q").cast("bigint").alias("gram_q"),
            F.sum("n_vectors").cast("bigint").alias("n_vectors"),
        )
        .orderBy("i", "j")
    )


# --------------------------------------------------------------------------
# Int8 quantized search + recall — the memory-bandwidth optimization every
# large ANN deployment ships first (4× less to scan than float32, SIMD
# int8 dot kernels): per-dimension symmetric quantization q = round(x/s ·
# 127) with s = max|x| per dim, then top-k by INTEGER dot product, then
# recall@k against the exact-cosine baseline. All post-quantization math
# is int64 — exact in both engines — and the only float steps (scale
# division, ×127, round) are single per-element IEEE ops, so the
# quantized index is bit-identical to the oracle's; the recall metric
# itself is what's hash-verified, same contract as sim_ivf_recall. Scale:
# scales are a 64-value broadcast; the quantized corpus scan is the same
# broadcast-5-queries × corpus plan as the float brute force, at a
# quarter of the bytes.
# --------------------------------------------------------------------------
@_q(
    "sim_quantized_recall",
    oracle=f"""
WITH dims AS (
  SELECT UNNEST(generate_series(1,
    (SELECT MAX(len(embedding)) FROM embeddings))) AS i
),
sc AS (
  SELECT i, GREATEST(MAX(ABS(CAST(embedding[i] AS DOUBLE))), 1e-30) AS s
  FROM embeddings CROSS JOIN dims
  GROUP BY i
),
q AS (
  SELECT vec_id, sc.i,
         CAST(ROUND(CAST(embedding[sc.i] AS DOUBLE) / sc.s * 127) AS BIGINT)
           AS qv
  FROM embeddings CROSS JOIN sc
),
dots AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         SUM(a.qv * b.qv) AS dot
  FROM q a JOIN q b ON a.i = b.i
  WHERE a.vec_id IN {_QIDS_SQL} AND b.vec_id <> a.vec_id
  GROUP BY 1, 2
),
quant AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY dot DESC, neighbor_id) AS rn
    FROM dots
  ) WHERE rn <= {_TOP_K}
),
exact AS ({{exact}})
SELECT e.query_id,
       CAST(COUNT(*) AS BIGINT) AS n_exact,
       CAST(SUM(CASE WHEN qx.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_hit,
       ROUND(SUM(CASE WHEN qx.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
             * 1.0 / COUNT(*), 6) AS recall_at_k
FROM exact e
LEFT JOIN quant qx
  ON qx.query_id = e.query_id AND qx.neighbor_id = e.neighbor_id
GROUP BY e.query_id
ORDER BY e.query_id
""".format(exact=REGISTRY.oracles["sim_topk_bruteforce"]),
)
def sim_quantized_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings")
    # per-dim scales -> one 64-element array on a broadcast 1-row side
    sc = (
        e.select(F.posexplode("embedding").alias("pos", "x"))
        .groupBy("pos")
        .agg(F.greatest(F.max(F.abs(F.col("x").cast("double"))), F.lit(1e-30)).alias("s"))
    )
    scales_row = sc.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "s"))),
            lambda st: st["s"],
        ).alias("scales")
    )
    q = e.crossJoin(F.broadcast(scales_row)).select(
        "vec_id",
        F.zip_with(
            "embedding",
            "scales",
            lambda x, s: F.round(x.cast("double") / s * 127).cast("long"),
        ).alias("qv"),
    )
    probes = q.where(F.col("vec_id").isin(*_QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"), F.col("qv").alias("q_qv")
    )
    dots = (
        q.crossJoin(F.broadcast(probes))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.aggregate(
                F.zip_with("q_qv", "qv", lambda a, b: a * b),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("dot"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("dot"), "neighbor_id")
    quant = (
        dots.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _TOP_K)
        .select("query_id", "neighbor_id", F.lit(1).alias("hit"))
    )
    exact = REGISTRY.queries["sim_topk_bruteforce"](spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    return (
        exact.join(quant, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("*").cast("bigint").alias("n_exact"),
            F.sum(F.coalesce("hit", F.lit(0))).cast("bigint").alias("n_hit"),
            F.round(
                F.sum(F.coalesce("hit", F.lit(0))) * 1.0 / F.count("*"), 6
            ).alias("recall_at_k"),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup-style, Abbas et al. 2023): k-means-cluster the
# embedding space, compute pairwise cosine ONLY within each cluster, and
# drop every vector that has an ε-similar neighbor with a lower vec_id
# (keep-lowest-id, the deterministic twin of the paper's keep-one rule).
# Reuses the relational Lloyd iterations (_km_refined_centroids /
# _km_assigned_blocks) — the clustering IS the candidate blocker, so the
# pair space is Σ cluster_size² instead of N².
#
# Scale: K grows with N (√N rule) keeping clusters bounded; the per-cluster
# member cap below is the flood guard for a degenerate clustering (same
# rationale as the LSH _MAX_BUCKET — deterministic by vec_id rank and
# mirrored in the oracle, so the capped semantics are what's verified).
# ε is corpus-tuned: the fixture's synthetic vectors are near-orthogonal
# (max pairwise cosine ≈ 0.51), so 0.4 exercises the removal path the way
# 0.95+ would on a real embedding corpus.
# ---------------------------------------------------------------------------
_SEM_EPS = 0.4
_SEM_CAP = 128


def _semdedup_oracle() -> str:
    blocks = _km_assigned_blocks()
    pdot = _DOT_SQL.format(a="a.embedding", b="b.embedding")
    blocks.append(f"""capped AS (
  SELECT vec_id, embedding, norm, centroid_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY centroid_id ORDER BY vec_id) AS mrnk
    FROM assigned
  ) WHERE mrnk <= {_SEM_CAP}
)""")
    blocks.append(f"""removed AS (
  SELECT DISTINCT b.vec_id
  FROM capped a JOIN capped b
    ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
  WHERE ROUND({pdot} / (a.norm * b.norm), 6) >= {_SEM_EPS}
)""")
    return (
        "WITH " + ",\n".join(blocks) + """
SELECT CAST(e.label AS INT) AS label,
       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(COUNT(r.vec_id) AS BIGINT) AS n_removed,
       CAST(COUNT(*) - COUNT(r.vec_id) AS BIGINT) AS n_kept
FROM embeddings e LEFT JOIN removed r ON e.vec_id = r.vec_id
GROUP BY e.label
ORDER BY label
"""
    )


@_q("dedup_semdedup", oracle=_semdedup_oracle())
def dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    nv = _nv(spark, sf_dir)
    _, assigned = _km_assigned(spark, sf_dir)
    mw = Window.partitionBy("centroid_id").orderBy("vec_id")
    # Both self-join arms read the memoized persisted assignment (at real
    # scale: the written cluster-assignment table).
    capped = (
        assigned.withColumn("mrnk", F.row_number().over(mw))
        .where(F.col("mrnk") <= _SEM_CAP)
        .select("vec_id", "embedding", "norm", "centroid_id")
    )
    a = capped.select(
        "centroid_id",
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("ea"),
        F.col("norm").alias("na"),
    )
    b = capped.select(
        "centroid_id",
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("eb"),
        F.col("norm").alias("nb"),
    )
    # Two-phase ε-test (guide §1.2 "per-task work"): a plain double dot is
    # ~an order of magnitude cheaper per pair than the exact-decimal one.
    # Both paths multiply the same doubles; they differ only in summation:
    # ddot quantizes each product to decimal(38,12) (≤5e-13/element, ×64 =
    # 3.2e-11 on the dot) and the double sum adds ≤63·eps·Σ|p_i| ≈
    # 7e-15·na·nb (Cauchy-Schwarz). So |double_cos − exact_cos| ≤
    # 3.2e-11/(na·nb) + 7e-15 — far under the 1e-7 guard for any na·nb ≥
    # 3.3e-4 (corpus norms are O(1)). Pairs with double_cos below the
    # decision boundary (exact ≥ EPS−5e-7 after HALF_UP ROUND(·,6)) minus
    # the guard can NEVER pass the exact test — the exact-decimal cosine
    # runs only on the prefilter's survivors (few: the corpus is
    # near-orthogonal). Results are bit-identical; the exact predicate
    # still decides.
    fast_dot = F.aggregate(
        F.zip_with(
            F.col("ea"), F.col("eb"),
            lambda x, y: x.cast("double") * y.cast("double"),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    removed = (
        a.join(b, "centroid_id")
        .where(F.col("vec_a") < F.col("vec_b"))
        .where(
            fast_dot / (F.col("na") * F.col("nb"))
            >= F.lit(_SEM_EPS - 5e-7 - 1e-7)
        )
        .where(
            _cosine(F.col("ea"), F.col("na"), F.col("eb"), F.col("nb"))
            >= _SEM_EPS
        )
        .select(F.col("vec_b").alias("vec_id"))
        .distinct()
        .withColumn("r", F.lit(1))
    )
    return (
        nv.select("vec_id", "label")
        .join(removed, "vec_id", "left")
        .groupBy(F.col("label").cast("int").alias("label"))
        .agg(
            F.count("*").cast("bigint").alias("n_vectors"),
            F.count("r").cast("bigint").alias("n_removed"),
            (F.count("*") - F.count("r")).cast("bigint").alias("n_kept"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Retrieval + context packing — the RAG serving shape end-to-end: probe
# the ANN index for each query vector, join the neighbor ids back to the
# documents table for the actual text, and greedily pack retrieved docs
# (in relevance order) into a fixed token budget via a running-sum window.
# A doc that would overflow the budget is dropped WITH its tail (prefix
# packing — the deterministic rule real context assemblers use), so the
# output is exactly the docs a serving node would concatenate.
#
# Scale: retrieval cost is the probed search (nprobe/K of the corpus);
# the doc join is an equi-join of |Q|·k rows against the documents table
# (broadcast the retrieval side — it is always tiny); packing is one
# window over |Q|·k rows. Nothing scales with corpus size but the probe.
# ---------------------------------------------------------------------------
_PACK_BUDGET = 180  # tokens — tight enough to cut the top-10 mid-list


@_q(
    "sim_rag_context_pack",
    oracle=f"""
WITH {{ranked}},
retrieved AS (
  SELECT r.query_id, r.rnk, r.neighbor_id, r.cosine,
         LEN({TOKS_SQL}) AS n_tokens
  FROM ranked r JOIN documents d ON d.doc_id = r.neighbor_id
  WHERE r.rnk <= {_TOP_K}
),
packed AS (
  SELECT *, SUM(n_tokens) OVER (PARTITION BY query_id ORDER BY rnk) AS cum_tokens
  FROM retrieved
)
SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id AS doc_id,
       cosine, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(cum_tokens AS BIGINT) AS cum_tokens
FROM packed
WHERE cum_tokens <= {_PACK_BUDGET}
ORDER BY query_id, rnk
""".format(ranked=",\n".join(_km_ranked_blocks())),
)
def sim_rag_context_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_glue_data_lake_spark.queries.textops import toks

    topk = _km_topk(spark, sf_dir)
    docs = t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("neighbor_id"),
        F.size(toks()).alias("n_tokens"),
    )
    # Broadcast the |Q|·k retrieval result into the documents scan — the
    # join must never shuffle the corpus for a handful of lookups.
    retrieved = docs.join(F.broadcast(topk), "neighbor_id")
    pw = Window.partitionBy("query_id").orderBy("rnk")
    return (
        retrieved.withColumn(
            "cum_tokens", F.sum("n_tokens").over(pw).cast("bigint")
        )
        .where(F.col("cum_tokens") <= _PACK_BUDGET)
        .select(
            "query_id",
            F.col("rnk").cast("bigint").alias("rnk"),
            F.col("neighbor_id").alias("doc_id"),
            "cosine",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            "cum_tokens",
        )
        .orderBy("query_id", "rnk")
    )


# --------------------------------------------------------------------------
# Product quantization with ADC (Jégou et al. 2011, the workhorse of every
# billion-scale ANN index): split each vector into M=4 subspaces of 16
# dims, encode each subvector as the id of its nearest of K=16 codewords,
# and answer queries by summing M one-table lookups — the scan touches
# only the CODES table (M small ints per vector, a 64× compression of the
# float32 row) plus a broadcast query×(M·K) lookup table; full-precision
# vectors are never read at query time. That codes-only scan shape is the
# whole point at 100 TB: the index fits in memory where the vectors don't.
#
# Cross-engine exactness: everything after the int8 per-dim quantization
# (same single-IEEE-op scheme as sim_quantized_recall) is int64 —
# codewords are the quantized subvectors of the 16 lowest vec_ids,
# encoding argmin is an exact integer L2 with ties to the lowest code id,
# the ADC table is an exact integer inner product. So the PQ index, the
# top-k, and the recall@k vs the exact baseline all hash-match the
# oracle; recall is what's verified, same contract as sim_ivf_recall.
# --------------------------------------------------------------------------
_PQ_M = 4        # subspaces
_PQ_DSUB = 16    # dims per subspace
_PQ_K = 16       # codewords per subspace (seeded from the 16 lowest vec_ids)


def _pq_codes_and_lut(spark: SparkSession, sf_dir: str):
    """Build the PQ index pieces shared by sim_pq_adc_topk and
    sim_ivfpq_topk: ``enc`` (vec_id, m, code — the compressed corpus, M
    small ints per vector) and ``lut`` (query_id, lut_m, code, ip — the
    broadcastable |Q|·M·K ADC lookup table). All math after the int8
    per-dim quantization is int64 — exact in both engines."""
    e = t(spark, sf_dir, "embeddings")
    # per-dim int8 scales -> one broadcast 64-element array (as in
    # sim_quantized_recall)
    sc = (
        e.select(F.posexplode("embedding").alias("pos", "x"))
        .groupBy("pos")
        .agg(
            F.greatest(
                F.max(F.abs(F.col("x").cast("double"))), F.lit(1e-30)
            ).alias("s")
        )
    )
    scales_row = sc.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "s"))),
            lambda st: st["s"],
        ).alias("scales")
    )
    qv = e.crossJoin(F.broadcast(scales_row)).select(
        "vec_id",
        F.zip_with(
            "embedding",
            "scales",
            lambda x, s: F.round(x.cast("double") / s * 127).cast("long"),
        ).alias("qv"),
    )
    # subvectors: one row per (vec_id, subspace), carrying the 16-dim slice
    sub = qv.select(
        "vec_id",
        F.posexplode(
            F.array(
                *[
                    F.slice("qv", m * _PQ_DSUB + 1, _PQ_DSUB)
                    for m in range(_PQ_M)
                ]
            )
        ).alias("m", "sub"),
    )
    cb = sub.where(F.col("vec_id") < _PQ_K).select(
        F.col("vec_id").alias("c"), F.col("m").alias("cb_m"),
        F.col("sub").alias("csub"),
    )
    int_l2 = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    int_ip = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    # ENCODE: nearest codeword per (vector, subspace) — corpus × broadcast
    # (M·K = 64 rows), exact integer L2, ties to the lowest code id via
    # MIN over a (dist, c) struct (one shuffle keyed on vec_id, m).
    enc = (
        sub.join(F.broadcast(cb), F.col("m") == F.col("cb_m"))
        .select(
            "vec_id", "m", "c",
            int_l2(F.col("sub"), F.col("csub")).alias("dist"),
        )
        .groupBy("vec_id", "m")
        .agg(F.min(F.struct("dist", "c")).alias("best"))
        .select("vec_id", "m", F.col("best.c").alias("code"))
    )
    # ADC lookup table: query × (subspace, codeword) inner products —
    # |Q|·M·K = 320 rows, broadcast into the codes scan.
    lut = (
        sub.where(F.col("vec_id").isin(*_QUERY_IDS))
        .join(F.broadcast(cb), F.col("m") == F.col("cb_m"))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("m").alias("lut_m"),
            F.col("c").alias("code"),
            int_ip(F.col("sub"), F.col("csub")).alias("ip"),
        )
    )
    return enc, lut


#: Shared PQ-index CTE pyramid (quantize -> subvectors -> codebook ->
#: encode -> codes + query LUT), reused by sim_pq_adc_topk and sim_ivfpq_topk.
_PQ_INDEX_CTES = f"""dims AS (
  SELECT UNNEST(generate_series(1,
    (SELECT MAX(len(embedding)) FROM embeddings))) AS i
),
sc AS (
  SELECT i, GREATEST(MAX(ABS(CAST(embedding[i] AS DOUBLE))), 1e-30) AS s
  FROM embeddings CROSS JOIN dims
  GROUP BY i
),
q AS (
  SELECT vec_id, sc.i,
         CAST(ROUND(CAST(embedding[sc.i] AS DOUBLE) / sc.s * 127) AS BIGINT)
           AS qv
  FROM embeddings CROSS JOIN sc
),
sub AS (
  SELECT vec_id, (i - 1) // {_PQ_DSUB} AS m, (i - 1) % {_PQ_DSUB} AS d, qv
  FROM q
),
cb AS (
  SELECT vec_id AS c, m, d, qv AS cv FROM sub WHERE vec_id < {_PQ_K}
),
enc AS (
  SELECT s.vec_id, s.m, c.c, SUM((s.qv - c.cv) * (s.qv - c.cv)) AS dist
  FROM sub s JOIN cb c ON c.m = s.m AND c.d = s.d
  GROUP BY 1, 2, 3
),
codes AS (
  SELECT vec_id, m, c AS code FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                 ORDER BY dist, c) AS rn
    FROM enc
  ) WHERE rn = 1
),
lut AS (
  SELECT s.vec_id AS query_id, c.m, c.c AS code, SUM(s.qv * c.cv) AS ip
  FROM sub s JOIN cb c ON c.m = s.m AND c.d = s.d
  WHERE s.vec_id IN {_QIDS_SQL}
  GROUP BY 1, 2, 3
)"""


@_q(
    "sim_pq_adc_topk",
    oracle=f"""
WITH {_PQ_INDEX_CTES},
adc AS (
  SELECT l.query_id, cd.vec_id AS neighbor_id, SUM(l.ip) AS dot
  FROM codes cd JOIN lut l ON l.m = cd.m AND l.code = cd.code
  WHERE cd.vec_id <> l.query_id
  GROUP BY 1, 2
),
pq AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY dot DESC, neighbor_id) AS rn
    FROM adc
  ) WHERE rn <= {_TOP_K}
),
exact AS ({{exact}})
SELECT e.query_id,
       CAST(COUNT(*) AS BIGINT) AS n_exact,
       CAST(SUM(CASE WHEN p.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_hit,
       ROUND(SUM(CASE WHEN p.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
             * 1.0 / COUNT(*), 6) AS recall_at_k
FROM exact e
LEFT JOIN pq p
  ON p.query_id = e.query_id AND p.neighbor_id = e.neighbor_id
GROUP BY e.query_id
ORDER BY e.query_id
""".format(exact=REGISTRY.oracles["sim_topk_bruteforce"]),
)
def sim_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    enc, lut = _pq_codes_and_lut(spark, sf_dir)
    adc = (
        enc.join(
            F.broadcast(lut),
            (F.col("m") == F.col("lut_m")) & (enc["code"] == lut["code"]),
        )
        .where(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("ip").alias("dot"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("dot"), "vec_id")
    pq = (
        adc.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _TOP_K)
        .select(
            "query_id", F.col("vec_id").alias("neighbor_id"),
            F.lit(1).alias("hit"),
        )
    )
    exact = REGISTRY.queries["sim_topk_bruteforce"](spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    return (
        exact.join(pq, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("*").cast("bigint").alias("n_exact"),
            F.sum(F.coalesce("hit", F.lit(0))).cast("bigint").alias("n_hit"),
            F.round(
                F.sum(F.coalesce("hit", F.lit(0))) * 1.0 / F.count("*"), 6
            ).alias("recall_at_k"),
        )
        .orderBy("query_id")
    )


# --------------------------------------------------------------------------
# IVF-PQ — the composition faiss ships as its production default
# (IndexIVFPQ): the IVF coarse quantizer restricts each query to nprobe
# centroid buckets, and within those buckets the scan reads ONLY the PQ
# codes (M small ints/vector) scored via the broadcast ADC lookup table.
# Query cost is |probed fraction of corpus| × M lookups — both the
# partition pruning AND the 64× row compression compound, which is the
# whole reason billion-scale indexes are IVF-PQ rather than either half
# alone. Same exact-integer PQ pieces as sim_pq_adc_topk (shared
# _pq_codes_and_lut) and the same ROUND-6 cosine IVF assignment as
# sim_ivf_topk, so the composed index is oracle-reproducible; recall@k
# vs the exact baseline is the hash-verified contract.
# --------------------------------------------------------------------------
@_q(
    "sim_ivfpq_topk",
    oracle=f"""
WITH {{pq_ctes}},{_NV_SQL},
cent AS (SELECT vec_id AS centroid_id, embedding, norm FROM nv
         WHERE vec_id < {_N_CENTROIDS}),
assign_scored AS (
  SELECT v.vec_id, c.centroid_id,
         ROW_NUMBER() OVER (
           PARTITION BY v.vec_id
           ORDER BY ROUND({_DOT_SQL.format(a='v.embedding', b='c.embedding')}
                          / (v.norm * c.norm), 6) DESC, c.centroid_id) AS crnk
  FROM nv v CROSS JOIN cent c
),
assigned AS (SELECT vec_id, centroid_id FROM assign_scored WHERE crnk = 1),
qq AS (SELECT * FROM nv WHERE vec_id IN {_QIDS_SQL}),
probes AS (
  SELECT query_id, centroid_id FROM (
    SELECT qq.vec_id AS query_id, c.centroid_id,
           ROW_NUMBER() OVER (
             PARTITION BY qq.vec_id
             ORDER BY ROUND({_DOT_SQL.format(a='qq.embedding', b='c.embedding')}
                            / (qq.norm * c.norm), 6) DESC, c.centroid_id) AS prnk
    FROM qq CROSS JOIN cent c
  ) WHERE prnk <= {_N_PROBE}
),
adc AS (
  SELECT l.query_id, cd.vec_id AS neighbor_id, SUM(l.ip) AS dot
  FROM codes cd
  JOIN assigned a ON a.vec_id = cd.vec_id
  JOIN probes p ON p.centroid_id = a.centroid_id
  JOIN lut l ON l.m = cd.m AND l.code = cd.code AND l.query_id = p.query_id
  WHERE cd.vec_id <> l.query_id
  GROUP BY 1, 2
),
pq AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY dot DESC, neighbor_id) AS rn
    FROM adc
  ) WHERE rn <= {_TOP_K}
),
exact AS ({{exact}})
SELECT e.query_id,
       CAST(COUNT(*) AS BIGINT) AS n_exact,
       CAST(SUM(CASE WHEN p.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_hit,
       ROUND(SUM(CASE WHEN p.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
             * 1.0 / COUNT(*), 6) AS recall_at_k
FROM exact e
LEFT JOIN pq p
  ON p.query_id = e.query_id AND p.neighbor_id = e.neighbor_id
GROUP BY e.query_id
ORDER BY e.query_id
""".format(
        pq_ctes=_PQ_INDEX_CTES,
        exact=REGISTRY.oracles["sim_topk_bruteforce"],
    ),
)
def sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    enc, lut = _pq_codes_and_lut(spark, sf_dir)
    nv = _nv(spark, sf_dir)
    cent = nv.where(F.col("vec_id") < _N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("che"),
        F.col("norm").alias("chn"),
    )
    aw = Window.partitionBy("vec_id").orderBy(
        F.desc("cos_c"), F.col("centroid_id")
    )
    assigned = (
        nv.join(F.broadcast(cent))
        .select(
            "vec_id", "centroid_id",
            _cosine(
                F.col("embedding"), F.col("norm"), F.col("che"), F.col("chn")
            ).alias("cos_c"),
        )
        .withColumn("crnk", F.row_number().over(aw))
        .where(F.col("crnk") == 1)
        .select("vec_id", "centroid_id")
    )
    q = nv.where(F.col("vec_id").isin(*_QUERY_IDS)).select(
        F.col("vec_id").alias("pq_query_id"),
        F.col("embedding").alias("qe"),
        F.col("norm").alias("qn"),
    )
    pw = Window.partitionBy("pq_query_id").orderBy(
        F.desc("cos_q"), F.col("centroid_id")
    )
    probes = (
        q.join(F.broadcast(cent))
        .select(
            "pq_query_id", "centroid_id",
            _cosine(F.col("qe"), F.col("qn"), F.col("che"), F.col("chn")).alias(
                "cos_q"
            ),
        )
        .withColumn("prnk", F.row_number().over(pw))
        .where(F.col("prnk") <= _N_PROBE)
        .select("pq_query_id", "centroid_id")
    )
    # the serving scan: codes ⨝ bucket assignment, pruned to the probed
    # (query, bucket) pairs, ADC-scored via the broadcast LUT
    bucketed = (
        enc.withColumnRenamed("code", "v_code")
        .join(assigned, "vec_id")
        .join(F.broadcast(probes), "centroid_id")
    )
    adc = (
        bucketed.join(
            F.broadcast(lut),
            (F.col("m") == F.col("lut_m"))
            & (F.col("v_code") == F.col("code"))
            & (F.col("pq_query_id") == F.col("query_id")),
        )
        .where(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("ip").alias("dot"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("dot"), "vec_id")
    pq = (
        adc.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _TOP_K)
        .select(
            "query_id", F.col("vec_id").alias("neighbor_id"),
            F.lit(1).alias("hit"),
        )
    )
    exact = REGISTRY.queries["sim_topk_bruteforce"](spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    return (
        exact.join(pq, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("*").cast("bigint").alias("n_exact"),
            F.sum(F.coalesce("hit", F.lit(0))).cast("bigint").alias("n_hit"),
            F.round(
                F.sum(F.coalesce("hit", F.lit(0))) * 1.0 / F.count("*"), 6
            ).alias("recall_at_k"),
        )
        .orderBy("query_id")
    )
