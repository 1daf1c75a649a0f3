"""Deduplication operators over ``documents`` / ``embeddings`` (north star;
SURVEY.md §7 Phase 4): exact hash-groupBy dedup, MinHash+LSH near-dedup,
SimHash near-dedup, n-gram Jaccard verification, and embedding-cosine
near-dup. The reference has no dedup surface beyond latest-per-key CDC
(SURVEY.md §2.4); these are the LLM-data-pipeline additions.

All hot paths are JVM-side built-ins (split/transform/filter/aggregate/
explode + one equi-join per method) — no Python UDFs — so every stage
whole-stage-codegens. Hashes are md5 hex strings (bit-identical in Spark
and DuckDB), which makes the sketches portable across engines and lets the
oracle check exact pair sets, not just counts.

Scale design (100 TB):
- Sketching (shingles → minhash/simhash) is per-row map work: linear in
  corpus bytes, no shuffle, embarrassingly parallel.
- Candidate generation is a self-equi-join on a *band key* — the classic
  LSH bucket join. Shuffle is keyed on (band_idx, band_key), whose
  cardinality grows with the corpus, so buckets stay small and AQE handles
  stragglers; we never materialize the O(n²) pair space.
- Verification (exact Jaccard / hamming) runs only on candidates.
- Embedding near-dup uses label blocking here (a stand-in for an IVF/LSH
  bucket id at scale — see queries/similarity.py for the probed variant);
  norms are precomputed once per vector, not per pair.

MinHash parameters: 24 hashes, 8 bands × 3 rows → S-curve threshold
(1/8)^(1/3) ≈ 0.5 Jaccard. SimHash: 60 bits (stays in signed BIGINT for
both engines), 10 bands × 6 bits → guarantees candidate generation for
hamming ≤ 9; we report pairs at hamming ≤ 7 (fixture near-dups land at
1-7, random pairs at ≥ 15).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from aws_glue_data_lake_spark.queries.base import Registry, t
from aws_glue_data_lake_spark.queries.textops import TOKS_SQL, toks, trigrams
from aws_glue_data_lake_spark.session import session_memo

REGISTRY = Registry()
_q = REGISTRY.query

# ---------------------------------------------------------------------------
# Shared shingling: distinct word-3-grams. DuckDB twin of ``shingles()``.
# ---------------------------------------------------------------------------
_SHINGLE_CTES = f"""
tk AS (
  SELECT doc_id, {TOKS_SQL} AS t FROM documents
), sh AS (
  SELECT doc_id,
         CASE WHEN LEN(t) >= 3 THEN
           LIST_DISTINCT(LIST_TRANSFORM(generate_series(1, LEN(t) - 2),
                                        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
         ELSE [] END AS s
  FROM tk
)"""


def shingles(tk: Column | None = None) -> Column:
    """Distinct word-trigram shingles (first-occurrence order), built on the
    shared zip_with trigram kernel (textops.trigrams — see its note on the
    element_at-inside-lambda inlining trap; the rewrite measured 6.1 s →
    0.86 s for the sf0.1 shingle stage)."""
    return F.array_distinct(trigrams(toks() if tk is None else tk))


@session_memo
def _shingle_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted (doc_id, s) sketch base.

    The persist is load-bearing for performance, not a cache nicety:
    Catalyst's projection collapse inlines a column's defining expression
    into *every* downstream reference, and common-subexpression elimination
    does not reach inside higher-order-function lambdas. Without a
    materialization boundary, each of the 24 minhash lambdas / 60 simhash
    bit terms / 8 band keys would re-derive the full shingle array — and
    each ``element_at(tokens, i)`` would re-split the whole document
    (measured 200+ s at sf0.1 vs ~5 s with the boundary). At 100 TB the
    same boundary is a materialized sketch *table* (compute once, write,
    reuse across dedup passes); ``persist()`` is its single-job stand-in.
    """
    # The fixture is one parquet file with ONE row group, so the scan is a
    # single partition and the sketch compute (the CPU-heavy stage: per-doc
    # tokenize + shingle + 24 hash evals downstream) would run one-threaded.
    # Spread the raw docs across the cluster first — shuffling ~300-byte
    # rows is noise next to the hash math it parallelizes. At 100 TB the
    # input arrives pre-split, but the principle stands: sketch parallelism
    # should be sized to cores, never inherited from input file layout.
    d = t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    tk_tbl = d.select("doc_id", toks().alias("tk"))
    out = (
        tk_tbl.select("doc_id", shingles(F.col("tk")).alias("s"))
        .where(F.size("s") > 0)
        .persist()
    )
    return out


# ---------------------------------------------------------------------------
# Exact dedup (hash-groupBy) — corpus summary at three normalization levels:
# raw text, whitespace-normalized token sequence, bag-of-words. One narrow
# aggregate; at scale this is a partial/final count-distinct per level (or
# approx_count_distinct when exactness isn't required).
# ---------------------------------------------------------------------------
@_q(
    "dedup_exact",
    oracle=f"""
WITH {_SHINGLE_CTES}
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_distinct_texts,
       CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT) AS n_exact_dup_rows,
       CAST(COUNT(DISTINCT md5(ARRAY_TO_STRING({TOKS_SQL}, ' '))) AS BIGINT)
         AS n_distinct_token_seqs,
       CAST(COUNT(DISTINCT md5(ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT({TOKS_SQL})), ' ')))
            AS BIGINT) AS n_distinct_bow
FROM documents
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    tk = toks()
    return d.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.countDistinct(F.md5("text")).cast("bigint").alias("n_distinct_texts"),
        (F.count("*") - F.countDistinct(F.md5("text")))
        .cast("bigint")
        .alias("n_exact_dup_rows"),
        F.countDistinct(F.md5(F.concat_ws(" ", tk)))
        .cast("bigint")
        .alias("n_distinct_token_seqs"),
        F.countDistinct(F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(tk)))))
        .cast("bigint")
        .alias("n_distinct_bow"),
    )


# ---------------------------------------------------------------------------
# Exact dedup groups on the bag-of-words fingerprint: hash-groupBy, keep
# min(doc_id) as the canonical survivor, emit only groups with duplicates.
# The canonical pattern for "exact dedup at scale": one shuffle on the
# 128-bit content key — uniformly distributed, no skew.
# ---------------------------------------------------------------------------
@_q(
    "dedup_bow_groups",
    oracle=f"""
WITH fp AS (
  SELECT doc_id,
         md5(ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT({TOKS_SQL})), ' ')) AS bow_fingerprint
  FROM documents
)
SELECT bow_fingerprint,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(doc_id) AS BIGINT) AS canonical_doc_id,
       ARRAY_TO_STRING(LIST_SORT(LIST(doc_id)), ',') AS member_ids
FROM fp
GROUP BY bow_fingerprint
HAVING COUNT(*) >= 2
ORDER BY bow_fingerprint
""",
)
def dedup_bow_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    fp = F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(toks()))))
    return (
        d.select("doc_id", fp.alias("bow_fingerprint"))
        .groupBy("bow_fingerprint")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("canonical_doc_id"),
            F.concat_ws(
                ",",
                F.transform(
                    F.sort_array(F.collect_list("doc_id")), lambda x: x.cast("string")
                ),
            ).alias("member_ids"),
        )
        .where(F.col("n_docs") >= 2)
        .orderBy("bow_fingerprint")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH near-dedup: shingle → 24 minhashes → 8 bands × 3 rows →
# band-key bucket self-join → estimated Jaccard from signature agreement.
# ---------------------------------------------------------------------------
_N_HASH, _N_BANDS, _ROWS_PER_BAND = 24, 8, 3

#: LSH bucket-size cap: a band bucket larger than this is dropped before
#: the self-join. Oversized buckets are floods of (near-)identical content
#: — a million boilerplate pages share every band, and one such bucket
#: would cost O(bucket²) pairs, the classic adversarial-skew scale-killer.
#: Capping is standard LSH practice: exact-duplicate floods belong to the
#: linear hash-groupBy pass (``dedup_exact``), and genuine near-dup
#: *clusters* that big are equally served by their exact representatives.
#: The cap is mirrored in every oracle (QUALIFY on the bands CTE), so both
#: engines agree for ANY input, not just inputs without hot buckets.
_MAX_BUCKET = 100

#: DuckDB twin of the cap — appended inside each bands CTE.
_BUCKET_CAP_SQL = (
    f"QUALIFY COUNT(*) OVER (PARTITION BY band_idx, band_key) <= {_MAX_BUCKET}"
)


def sketch_minhash(shingled: DataFrame) -> DataFrame:
    """(doc_id, s) shingle table → (doc_id, m) minhash signatures. Per-row
    map work, no shuffle: minhash_k = min over shingles of md5("k:shingle")
    — a k-indexed family of order-preserving hashes."""
    mh_col = F.transform(
        F.sequence(F.lit(0), F.lit(_N_HASH - 1)),
        lambda k: F.array_min(
            F.transform(
                F.col("s"), lambda x: F.md5(F.concat(k.cast("string"), F.lit(":"), x))
            )
        ),
    )
    return shingled.select("doc_id", mh_col.alias("m"))


@session_memo
def _minhash_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted+memoized signature table over the fixture corpus. The
    persist boundary is load-bearing (see _shingle_table); memoized because
    the LSH pair query and the components query share the signature."""
    return sketch_minhash(_shingle_table(spark, sf_dir)).persist()


def _cap_buckets(bands: DataFrame, keys=("band_idx", "band_key")) -> DataFrame:
    """Drop band buckets larger than ``_MAX_BUCKET`` before any self-join.
    One window count over the SAME band key the join shuffles on — no
    extra exchange, and the quadratic bucket blow-up is cut off at the
    source."""
    w = Window.partitionBy(*keys)
    return (
        bands.withColumn("bucket_n", F.count("*").over(w))
        .where(F.col("bucket_n") <= _MAX_BUCKET)
        .drop("bucket_n")
    )


def _minhash_bands(sk: DataFrame) -> DataFrame:
    """Capped (doc_id, band_idx, band_key) table from the signature table —
    the shared candidate-generation input for self-join AND incremental
    new-vs-corpus dedup."""
    band_key = lambda j: F.md5(
        F.concat_ws(
            "|",
            F.element_at("m", 3 * j + 1),
            F.element_at("m", 3 * j + 2),
            F.element_at("m", 3 * j + 3),
        )
    )
    return _cap_buckets(
        sk.select(
            "doc_id",
            F.posexplode(
                F.transform(F.sequence(F.lit(0), F.lit(_N_BANDS - 1)), band_key)
            ).alias("band_idx", "band_key"),
        )
    )


def _minhash_candidate_pairs(sk: DataFrame) -> DataFrame:
    """LSH band bucket self-join → (doc_a, doc_b, n_shared_bands). The
    shuffle is keyed on (band_idx, band_key) — bucket sizes are bounded by
    collision rate under normal content and hard-capped at ``_MAX_BUCKET``
    under adversarial floods, so this scales; the O(n²) pair space is
    never materialized."""
    bands = _minhash_bands(sk)
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").cast("bigint").alias("n_shared_bands"))
    )




@_q(
    "dedup_minhash_lsh",
    oracle=f"""
WITH {_SHINGLE_CTES},
mh AS (
  SELECT doc_id,
         LIST_TRANSFORM(generate_series(0, {_N_HASH - 1}),
           k -> LIST_MIN(LIST_TRANSFORM(s, x -> md5(CAST(k AS VARCHAR) || ':' || x)))) AS m
  FROM sh WHERE LEN(s) > 0
),
bands AS (
  SELECT doc_id, j AS band_idx,
         md5(m[3*j+1] || '|' || m[3*j+2] || '|' || m[3*j+3]) AS band_key
  FROM mh, UNNEST(generate_series(0, {_N_BANDS - 1})) AS u(j)
  {_BUCKET_CAP_SQL}
),
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(COUNT(*) AS BIGINT) AS n_shared_bands
  FROM bands a
  JOIN bands b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
              AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT c.doc_a, c.doc_b, c.n_shared_bands,
       ROUND(LEN(LIST_FILTER(generate_series(1, {_N_HASH}), i -> ma.m[i] = mb.m[i]))
             * 1.0 / {_N_HASH}, 6) AS est_jaccard
FROM cand c
JOIN mh ma ON ma.doc_id = c.doc_a
JOIN mh mb ON mb.doc_id = c.doc_b
WHERE LEN(LIST_FILTER(generate_series(1, {_N_HASH}), i -> ma.m[i] = mb.m[i]))
      * 1.0 / {_N_HASH} >= 0.35
ORDER BY doc_a, doc_b
""",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    sk = _minhash_sketch(spark, sf_dir)
    cand = _minhash_candidate_pairs(sk)
    ma = sk.select(F.col("doc_id").alias("doc_a"), F.col("m").alias("ma"))
    mb = sk.select(F.col("doc_id").alias("doc_b"), F.col("m").alias("mb"))
    agree = F.size(
        F.filter(
            F.zip_with(F.col("ma"), F.col("mb"), lambda x, y: x == y), lambda v: v
        )
    )
    est = agree * 1.0 / _N_HASH
    return (
        cand.join(ma, "doc_a")
        .join(mb, "doc_b")
        .where(est >= 0.35)
        .select("doc_a", "doc_b", "n_shared_bands", F.round(est, 6).alias("est_jaccard"))
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# Incremental (ingest-time) dedup: match a NEW batch against the EXISTING
# corpus instead of self-joining everything — the shape a production
# pipeline actually runs per ingest. The batch's bands probe the corpus
# band table (at scale: the materialized sketch the self-join pass
# already maintains), so per-ingest cost is O(batch × collision rate),
# independent of corpus size. Each new doc reports its best corpus match
# at est_jaccard ≥ 0.35 (ties → smallest corpus doc_id). "New" here is the
# deterministic doc_id % 10 = 7 slice so the oracle reproduces the split.
# ---------------------------------------------------------------------------
@_q(
    "dedup_incremental_new_docs",
    oracle=f"""
WITH {_SHINGLE_CTES},
mh AS (
  SELECT doc_id,
         LIST_TRANSFORM(generate_series(0, {_N_HASH - 1}),
           k -> LIST_MIN(LIST_TRANSFORM(s, x -> md5(CAST(k AS VARCHAR) || ':' || x)))) AS m
  FROM sh WHERE LEN(s) > 0
),
bands AS (
  SELECT doc_id, j AS band_idx,
         md5(m[3*j+1] || '|' || m[3*j+2] || '|' || m[3*j+3]) AS band_key
  FROM mh, UNNEST(generate_series(0, {_N_BANDS - 1})) AS u(j)
  {_BUCKET_CAP_SQL}
),
cand AS (
  SELECT DISTINCT n.doc_id AS new_doc_id, o.doc_id AS corpus_doc_id
  FROM bands n
  JOIN bands o ON n.band_idx = o.band_idx AND n.band_key = o.band_key
              AND n.doc_id % 10 = 7 AND o.doc_id % 10 <> 7
),
scored AS (
  SELECT c.new_doc_id, c.corpus_doc_id,
         ROUND(LEN(LIST_FILTER(generate_series(1, {_N_HASH}),
                               i -> mn.m[i] = mo.m[i])) * 1.0 / {_N_HASH}, 6)
           AS est_jaccard
  FROM cand c
  JOIN mh mn ON mn.doc_id = c.new_doc_id
  JOIN mh mo ON mo.doc_id = c.corpus_doc_id
),
best AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY new_doc_id
                               ORDER BY est_jaccard DESC, corpus_doc_id) AS rnk
  FROM scored WHERE est_jaccard >= 0.35
)
SELECT new_doc_id, corpus_doc_id, est_jaccard
FROM best WHERE rnk = 1
ORDER BY new_doc_id
""",
)
def dedup_incremental_new_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    sk = _minhash_sketch(spark, sf_dir)
    bands = _minhash_bands(sk)
    is_new = F.col("doc_id") % 10 == 7
    n = bands.where(is_new).select(
        F.col("doc_id").alias("new_doc_id"), "band_idx", "band_key"
    )
    o = bands.where(~is_new).select(
        F.col("doc_id").alias("corpus_doc_id"), "band_idx", "band_key"
    )
    cand = (
        n.join(o, ["band_idx", "band_key"])
        .select("new_doc_id", "corpus_doc_id")
        .distinct()
    )
    mn = sk.select(F.col("doc_id").alias("new_doc_id"), F.col("m").alias("mn"))
    mo = sk.select(
        F.col("doc_id").alias("corpus_doc_id"), F.col("m").alias("mo")
    )
    agree = F.size(
        F.filter(
            F.zip_with(F.col("mn"), F.col("mo"), lambda x, y: x == y), lambda v: v
        )
    )
    est = F.round(agree * 1.0 / _N_HASH, 6)
    w = Window.partitionBy("new_doc_id").orderBy(
        F.desc("est_jaccard"), F.col("corpus_doc_id")
    )
    return (
        cand.join(mn, "new_doc_id")
        .join(mo, "corpus_doc_id")
        .select("new_doc_id", "corpus_doc_id", est.alias("est_jaccard"))
        .where(F.col("est_jaccard") >= 0.35)
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") == 1)
        .select("new_doc_id", "corpus_doc_id", "est_jaccard")
        .orderBy("new_doc_id")
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dedup: blocking on the *minimum shingle hash* (a
# 1-hash winnowing anchor — two docs sharing their global min shingle are
# candidates), then exact 3-gram Jaccard on candidates only. Complements
# MinHash: exact similarity, cheaper sketch, lower recall.
# ---------------------------------------------------------------------------
@_q(
    "dedup_ngram_jaccard",
    oracle=f"""
WITH {_SHINGLE_CTES},
anchored AS (
  SELECT doc_id, s, LIST_MIN(LIST_TRANSFORM(s, x -> md5(x))) AS anchor
  FROM sh WHERE LEN(s) > 0
  QUALIFY COUNT(*) OVER (PARTITION BY anchor) <= {_MAX_BUCKET}
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(LEN(LIST_INTERSECT(a.s, b.s)) AS BIGINT) AS n_common_shingles,
       ROUND(LEN(LIST_INTERSECT(a.s, b.s)) * 1.0
             / (LEN(a.s) + LEN(b.s) - LEN(LIST_INTERSECT(a.s, b.s))), 6) AS jaccard
FROM anchored a
JOIN anchored b ON a.anchor = b.anchor AND a.doc_id < b.doc_id
WHERE LEN(LIST_INTERSECT(a.s, b.s)) * 1.0
      / (LEN(a.s) + LEN(b.s) - LEN(LIST_INTERSECT(a.s, b.s))) >= 0.5
ORDER BY doc_a, doc_b
""",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Persisted: both join sides read the anchored sketch (see _shingle_table).
    # The anchor-block join has the same flood failure mode as the LSH band
    # joins, so it gets the same bucket cap (window over the join key).
    w = Window.partitionBy("anchor")
    anchored = (
        _shingle_table(spark, sf_dir)
        .select(
            "doc_id",
            "s",
            F.array_min(F.transform("s", lambda x: F.md5(x))).alias("anchor"),
        )
        .withColumn("anchor_n", F.count("*").over(w))
        .where(F.col("anchor_n") <= _MAX_BUCKET)
        .drop("anchor_n")
        .persist()
    )
    a = anchored.select(
        F.col("doc_id").alias("doc_a"), F.col("s").alias("sa"), "anchor"
    )
    b = anchored.select(
        F.col("doc_id").alias("doc_b"), F.col("s").alias("sb"), "anchor"
    )
    inter = F.size(F.array_intersect("sa", "sb"))
    jac = inter * 1.0 / (F.size("sa") + F.size("sb") - inter)
    return (
        a.join(b, "anchor")
        .where(F.col("doc_a") < F.col("doc_b"))
        .where(jac >= 0.5)
        .select(
            "doc_a",
            "doc_b",
            inter.cast("bigint").alias("n_common_shingles"),
            F.round(jac, 6).alias("jaccard"),
        )
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# Containment dedup (near-superset detection): C(A,B) = |A∩B| / min(|A|,|B|)
# over shingle sets. Jaccard misses the boilerplate-wrapped-copy case — a
# short doc pasted inside a much longer one has low Jaccard but containment
# ≈ 1 — and that's one of the most common duplication shapes in web-scale
# training corpora. Candidates come from the SAME minhash band join as
# dedup_minhash_lsh (shared persisted sketch, bucket-capped); the exact
# set intersection runs only on candidates.
# ---------------------------------------------------------------------------
_CONTAIN_MIN = 0.6


@_q(
    "dedup_containment",
    oracle=f"""
WITH {_SHINGLE_CTES},
mh AS (
  SELECT doc_id,
         LIST_TRANSFORM(generate_series(0, {_N_HASH - 1}),
           k -> LIST_MIN(LIST_TRANSFORM(s, x -> md5(CAST(k AS VARCHAR) || ':' || x)))) AS m
  FROM sh WHERE LEN(s) > 0
),
bands AS (
  SELECT doc_id, j AS band_idx,
         md5(m[3*j+1] || '|' || m[3*j+2] || '|' || m[3*j+3]) AS band_key
  FROM mh, UNNEST(generate_series(0, {_N_BANDS - 1})) AS u(j)
  {_BUCKET_CAP_SQL}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN bands b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
              AND a.doc_id < b.doc_id
)
SELECT c.doc_a, c.doc_b,
       CAST(LEN(LIST_INTERSECT(sa.s, sb.s)) AS BIGINT) AS n_common_shingles,
       ROUND(LEN(LIST_INTERSECT(sa.s, sb.s)) * 1.0
             / LEAST(LEN(sa.s), LEN(sb.s)), 6) AS containment,
       CASE WHEN LEN(sa.s) <= LEN(sb.s) THEN c.doc_a ELSE c.doc_b END
         AS contained_doc
FROM cand c
JOIN sh sa ON sa.doc_id = c.doc_a
JOIN sh sb ON sb.doc_id = c.doc_b
WHERE LEN(LIST_INTERSECT(sa.s, sb.s)) * 1.0
      / LEAST(LEN(sa.s), LEN(sb.s)) >= {_CONTAIN_MIN}
ORDER BY doc_a, doc_b
""",
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    sk = _minhash_sketch(spark, sf_dir)
    cand = _minhash_candidate_pairs(sk).select("doc_a", "doc_b")
    sh = _shingle_table(spark, sf_dir)
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("sa"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb"))
    containment = inter * 1.0 / F.least(F.size("sa"), F.size("sb"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .where(containment >= _CONTAIN_MIN)
        .select(
            "doc_a",
            "doc_b",
            inter.cast("bigint").alias("n_common_shingles"),
            F.round(containment, 6).alias("containment"),
            F.when(F.size("sa") <= F.size("sb"), F.col("doc_a"))
            .otherwise(F.col("doc_b"))
            .alias("contained_doc"),
        )
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# SimHash near-dedup: 60-bit majority-vote fingerprint over shingle hashes,
# banded self-join (10 bands × 6 bits guarantees candidates for hamming ≤ 9),
# exact hamming ≤ 7 on candidates. Bit j comes from bit (3 - j%4) of md5 hex
# nibble j//4 — portable across engines via the hex string.
# ---------------------------------------------------------------------------
_SIM_BITS, _SIM_BANDS, _BITS_PER_BAND, _MAX_HAM = 60, 10, 6, 7


def _sim_bit_sql(j: int) -> str:
    p, k = j // 4 + 1, 3 - j % 4
    return (
        f"CASE WHEN 2*LEN(LIST_FILTER(h, x -> "
        f"((instr('0123456789abcdef', substr(x,{p},1))-1) >> {k}) & 1 = 1)) > LEN(h) "
        f"THEN CAST({1 << j} AS BIGINT) ELSE 0 END"
    )


_SIM_EXPR_SQL = " + ".join(_sim_bit_sql(j) for j in range(_SIM_BITS))


@_q(
    "dedup_simhash",
    oracle=f"""
WITH {_SHINGLE_CTES},
hs AS (
  SELECT doc_id, LIST_TRANSFORM(s, x -> md5(x)) AS h FROM sh WHERE LEN(s) > 0
),
sim AS (
  SELECT doc_id, {_SIM_EXPR_SQL} AS simhash FROM hs
),
bands AS (
  SELECT doc_id, simhash, j AS band_idx,
         (simhash >> ({_BITS_PER_BAND}*j)) & {(1 << _BITS_PER_BAND) - 1} AS band_val
  FROM sim, UNNEST(generate_series(0, {_SIM_BANDS - 1})) AS u(j)
  QUALIFY COUNT(*) OVER (PARTITION BY band_idx, band_val) <= {_MAX_BUCKET}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sim_a, b.simhash AS sim_b
  FROM bands a
  JOIN bands b ON a.band_idx = b.band_idx AND a.band_val = b.band_val
              AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(sim_a, sim_b)) AS BIGINT) AS hamming
FROM cand
WHERE bit_count(xor(sim_a, sim_b)) <= {_MAX_HAM}
ORDER BY doc_a, doc_b
""",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One boundary: simhash feeds 10 band projections and both join sides
    # (see _shingle_table).
    #
    # Bit-layout identity: the oracle's bit j is bit (3 − j%4) of hex
    # nibble j//4 of md5(x) — for the 15-nibble prefix parsed as one
    # integer v, that is exactly bit (59 − j) of v. So instead of 60
    # separate filter-lambda passes over the hash array (which cost ~5 s
    # of driver lambda-construction/analysis per session and 60 array
    # traversals per row at runtime), parse v ONCE per element and fold
    # all 60 majority counts in a single aggregate pass. Same simhash
    # value bit-for-bit; the oracle is untouched.
    hs = _shingle_table(spark, sf_dir).select(
        "doc_id", F.transform("s", lambda x: F.md5(x)).alias("h")
    )
    counts = f"""aggregate(
      transform(h, x -> CAST(conv(substr(x, 1, 15), 16, 10) AS BIGINT)),
      array_repeat(CAST(0 AS BIGINT), {_SIM_BITS}),
      (acc, v) -> zip_with(
        acc,
        transform(sequence(0, {_SIM_BITS - 1}),
                  i -> shiftright(v, {_SIM_BITS - 1} - i) & CAST(1 AS BIGINT)),
        (a, b) -> a + b))"""
    sim_expr = f"""CAST(aggregate(
      zip_with({counts}, sequence(0, {_SIM_BITS - 1}),
               (c, j) -> IF(2 * c > size(h),
                            shiftleft(CAST(1 AS BIGINT), j),
                            CAST(0 AS BIGINT))),
      CAST(0 AS BIGINT), (a, b) -> a + b) AS BIGINT)"""
    sim = hs.select(
        "doc_id", F.expr(sim_expr).alias("simhash")
    ).persist()
    band_val = lambda j: F.shiftright("simhash", _BITS_PER_BAND * j).bitwiseAND(
        (1 << _BITS_PER_BAND) - 1
    )
    bands = _cap_buckets(
        sim.select(
            "doc_id",
            "simhash",
            F.posexplode(
                F.array(*[band_val(j) for j in range(_SIM_BANDS)])
            ).alias("band_idx", "band_val"),
        ),
        keys=("band_idx", "band_val"),
    )
    a = bands.select(
        F.col("doc_id").alias("doc_a"),
        F.col("simhash").alias("sim_a"),
        "band_idx",
        "band_val",
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"),
        F.col("simhash").alias("sim_b"),
        "band_idx",
        "band_val",
    )
    ham = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        a.join(b, ["band_idx", "band_val"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sim_a", "sim_b")
        .distinct()
        .where(ham <= _MAX_HAM)
        .select("doc_a", "doc_b", ham.cast("bigint").alias("hamming"))
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup: label-blocked pair generation (stand-in for an
# IVF/LSH bucket id at scale — see queries/similarity.py), norms precomputed
# once per vector, exact-decimal dot products so Spark and DuckDB agree
# bit-for-bit, top-20 most-similar pairs.
# ---------------------------------------------------------------------------
_DOT_SQL = (
    "CAST(LIST_SUM(LIST_TRANSFORM(generate_series(1, 64), "
    "i -> CAST(CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE) AS DECIMAL(30,12)))) "
    "AS DOUBLE)"
)


def ddot(a: Column, b: Column) -> Column:
    """Deterministic dot product: per-element double multiply, exact decimal
    sum (order-free), reported as double. Shared with queries/similarity.py."""
    prods = F.zip_with(
        a,
        b,
        lambda x, y: (x.cast("double") * y.cast("double")).cast("decimal(38,12)"),
    )
    # (acc + x) widens to DECIMAL(38,11) under Spark's precision-loss rule;
    # cast back — exact, since 64 products of unit-scale floats never overflow.
    total = F.aggregate(
        prods,
        F.lit(0).cast("decimal(38,12)"),
        lambda acc, x: (acc + x).cast("decimal(38,12)"),
    )
    return total.cast("double")


# Candidate banding for the embedding self-join, as JOIN KEYS (not a
# post-join filter): quantize the first _N_BAND_DIMS *norm-scaled*
# coordinates (x_i / ||x|| — cosine ≈ 1 implies UNIT-scaled coordinates
# nearly equal; raw coordinates only if inputs happen to be unit-norm) to
# _BAND_W-wide bands. Two vectors whose per-dim bands differ by ≤ 1 share
# a double-width (2·_BAND_W) bucket at one of two phase offsets per dim,
# so each vector emits 2^_N_BAND_DIMS = 16 (phase-vector, bucket-combo)
# keys and candidates come from a plain hash equi-join on the key — the
# shuffle is keyed on (label, phase, buckets), never on label alone, so
# block size no longer scales with label frequency. FLOOR of IEEE doubles
# is bit-deterministic, so Spark and DuckDB band identically; the same
# bucket cap as the LSH joins guards identical-vector floods.
_BAND_W = 0.1
_N_BAND_DIMS = 4
_N_PHASES = 1 << _N_BAND_DIMS

_KEY_COLS_SQL = ",\n         ".join(
    f"FLOOR((CAST(embedding[{i}] AS DOUBLE) / norm + ((p >> {i - 1}) & 1) * {_BAND_W})"
    f" / {2 * _BAND_W}) AS b{i}"
    for i in range(1, _N_BAND_DIMS + 1)
)


def _embedding_cosine_oracle(with_label: bool) -> str:
    """DuckDB twin of ``_embedding_cosine_topk`` — the cap partition and the
    candidate equi-join use exactly the Spark join key (with or without
    ``label``), so both engines agree for any input."""
    key_cols = (["label"] if with_label else []) + ["p"] + [
        f"b{i}" for i in range(1, _N_BAND_DIMS + 1)
    ]
    key_eq = " AND ".join(f"a.{c} = b.{c}" for c in key_cols)
    return f"""
WITH nv AS (
  SELECT vec_id, label, embedding,
         SQRT({_DOT_SQL.format(a='embedding', b='embedding')}) AS norm
  FROM embeddings
),
keys AS (
  SELECT vec_id, label, p,
         {_KEY_COLS_SQL}
  FROM nv, UNNEST(generate_series(0, {_N_PHASES - 1})) AS u(p)
  QUALIFY COUNT(*) OVER (
    PARTITION BY {', '.join(key_cols)}) <= {_MAX_BUCKET}
),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM keys a JOIN keys b ON {key_eq} AND a.vec_id < b.vec_id
),
pairs AS (
  SELECT c.vec_a, c.vec_b,
         ROUND({_DOT_SQL.format(a='a.embedding', b='b.embedding')}
               / (a.norm * b.norm), 6) AS cosine
  FROM cand c
  JOIN nv a ON a.vec_id = c.vec_a
  JOIN nv b ON b.vec_id = c.vec_b
)
SELECT vec_a, vec_b, cosine
FROM pairs
ORDER BY cosine DESC, vec_a, vec_b
LIMIT 20
"""


@session_memo
def _norm_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted+memoized (vec_id, label, embedding, norm) — the exact-
    decimal norm is the expensive shared input of BOTH banding variants
    (key emission reads it twice, the cosine join twice more), so one
    persist per (session, fixture) serves all four reads of each variant
    and both variants of the same suite run."""
    e = t(spark, sf_dir, "embeddings")
    # The fixture parquet has ONE row group, so the scan is one task and
    # every decimal-exact norm (64 ops/row) and each downstream k-means /
    # banding pass over the persisted table would run single-threaded.
    # Up-partition only when the scan is narrower than the cores (at real
    # scale the corpus arrives in many files and this is a no-op).
    cores = spark.sparkContext.defaultParallelism
    if len(e.inputFiles()) < cores:
        e = e.repartition(cores)
    nv = e.select(
        "vec_id",
        "label",
        "embedding",
        F.sqrt(ddot(F.col("embedding"), F.col("embedding"))).alias("norm"),
    ).persist()
    return nv


def _band_join_cols(with_label: bool) -> list[str]:
    return (["label"] if with_label else []) + ["p"] + [
        f"b{i}" for i in range(1, _N_BAND_DIMS + 1)
    ]


@session_memo
def _band_keys(spark: SparkSession, sf_dir: str, with_label: bool) -> DataFrame:
    """Persisted, bucket-capped band-key table of every vector. It feeds
    both sides of the candidate self-join, and without the boundary the
    16-way explode + window count runs twice (projection collapse — same
    trap as _shingle_table); memoized so repeat calls in one session reuse
    ONE cached RDD instead of stacking a new persist per call."""
    nv = _norm_table(spark, sf_dir)

    def bucket(i: int, p: int) -> Column:
        scaled = F.element_at("embedding", i).cast("double") / F.col("norm")
        phase = ((p >> (i - 1)) & 1) * _BAND_W
        return F.floor((scaled + phase) / (2 * _BAND_W))

    return _cap_buckets(
        nv.select(
            "vec_id",
            "label",
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(p).alias("p"),
                        *[bucket(i, p).alias(f"b{i}")
                          for i in range(1, _N_BAND_DIMS + 1)],
                    )
                    for p in range(_N_PHASES)
                ])
            ).alias("k"),
        ).select("vec_id", "label", "k.*"),
        keys=tuple(_band_join_cols(with_label)),
    ).persist()


def _embedding_cosine_cand(
    spark: SparkSession, sf_dir: str, with_label: bool
) -> DataFrame:
    """Distinct banded candidate pairs (vec_a, vec_b) — the shared
    blocker of the per-label and global variants."""
    keys = _band_keys(spark, sf_dir, with_label)
    join_cols = _band_join_cols(with_label)
    a = keys.select(F.col("vec_id").alias("vec_a"), *join_cols)
    b = keys.select(F.col("vec_id").alias("vec_b"), *join_cols)
    return (
        a.join(b, join_cols)
        .where(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()  # a pair can match under several phase vectors
    )


def _embedding_sides(spark: SparkSession, sf_dir: str):
    nv = _norm_table(spark, sf_dir)
    na = nv.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"),
        F.col("norm").alias("na"),
    )
    nb = nv.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"),
        F.col("norm").alias("nb"),
    )
    return na, nb


def _embedding_cosine_pairs(
    spark: SparkSession, sf_dir: str, with_label: bool
) -> DataFrame:
    """All banded candidate pairs with exact cosine (the superset test's
    view; the top-k variants rescore in two phases instead)."""
    cand = _embedding_cosine_cand(spark, sf_dir, with_label)
    na, nb = _embedding_sides(spark, sf_dir)
    cosine = F.round(
        ddot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb")), 6
    )
    return (
        cand.join(na, "vec_a")
        .join(nb, "vec_b")
        .select("vec_a", "vec_b", cosine.alias("cosine"))
    )


@session_memo
def _fast_scored(spark: SparkSession, sf_dir: str, with_label: bool) -> DataFrame:
    """Persisted (vec_a, vec_b, fcos): every banded candidate pair with its
    plain-double cosine — tiny, (id, id, double) per pair."""
    cand = _embedding_cosine_cand(spark, sf_dir, with_label)
    na, nb = _embedding_sides(spark, sf_dir)
    fast = F.aggregate(
        F.zip_with(
            F.col("ea"), F.col("eb"),
            lambda x, y: x.cast("double") * y.cast("double"),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    ) / (F.col("na") * F.col("nb"))
    return (
        cand.join(na, "vec_a")
        .join(nb, "vec_b")
        .select("vec_a", "vec_b", fast.alias("fcos"))
        .persist()
    )


def _embedding_cosine_topk(
    spark: SparkSession, sf_dir: str, with_label: bool
) -> DataFrame:
    """Top-20 pairs by exact rounded cosine, computed in two phases
    (guide §1.2): score every candidate with the plain-double cosine
    (~10× cheaper per pair than the exact-decimal ddot), find the 20th
    double score, and run the exact decimal rescore ONLY on pairs within
    a conservative margin of it. Safety: |double − raw| ≤ ~1e-7 (same
    two summation error sources as dedup_semdedup) and ROUND(·,6) moves
    a value ≤ 5e-7, so any pair whose ROUNDED cosine can reach the final
    top-20 has double score ≥ (20th double) − 1.2e-6; the filter keeps a
    2e-6 margin. The exact predicate still orders the final rows — the
    output is bit-identical, degrading only to a full rescore if the
    margin captures everything."""
    scored = _fast_scored(spark, sf_dir, with_label)
    na, nb = _embedding_sides(spark, sf_dir)
    th = (
        scored.orderBy(F.desc("fcos"))
        .limit(20)
        .agg(F.min("fcos").alias("th"))
    )
    cosine = F.round(
        ddot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb")), 6
    )
    return (
        scored.crossJoin(F.broadcast(th))
        .where(F.col("fcos") >= F.col("th") - 2e-6)
        .select("vec_a", "vec_b")
        .join(na, "vec_a")
        .join(nb, "vec_b")
        .select("vec_a", "vec_b", cosine.alias("cosine"))
        .orderBy(F.desc("cosine"), "vec_a", "vec_b")
        .limit(20)
    )


@_q("dedup_embedding_cosine", oracle=_embedding_cosine_oracle(True))
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _embedding_cosine_topk(spark, sf_dir, with_label=True)


@_q("dedup_embedding_cosine_global", oracle=_embedding_cosine_oracle(False))
def dedup_embedding_cosine_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-FREE embedding near-dedup: identical banding scheme, but the
    candidate join key is (phase, buckets) only — near-identical vectors
    with different labels ARE candidates. This is the training-corpus
    dedup story: cross-source duplicates (the dominant duplication mode in
    web-scale corpora) never share a source/label, so a label-blocked
    scheme structurally misses them. The bucket cap still bounds every
    block at ``_MAX_BUCKET``; dropping label only merges buckets, so the
    shuffle stays keyed and flood-proof. Candidate recall is a strict
    superset of the per-label variant whenever no merged bucket trips the
    cap (pinned by tests/test_dedup_scale.py)."""
    return _embedding_cosine_topk(spark, sf_dir, with_label=False)


# ---------------------------------------------------------------------------
# Near-dup clustering: connected components over the MinHash-LSH candidate
# graph — turns pairwise matches into dedup *groups* (pick min doc_id per
# component as the canonical survivor). Spark side runs BSP min-label
# propagation (each sweep: one join + one aggregate, shuffles keyed on
# node id); converges in O(component diameter) sweeps — near-dup clusters
# are tiny, so 2-3 sweeps in practice at any corpus size. The oracle is
# the same fixpoint via a recursive CTE.
# ---------------------------------------------------------------------------
#: Edge-count gate for solving the component graph with a driver-local
#: union-find instead of the BSP loop (~32 MB of longs at the gate; see
#: the in-function note). Both paths yield identical min-id labels.
_LOCAL_CC_MAX_EDGES = 2_000_000


@_q(
    "dedup_components",
    oracle=f"""
WITH RECURSIVE
tk AS (
  SELECT doc_id, {TOKS_SQL} AS t FROM documents
), sh AS (
  SELECT doc_id,
         CASE WHEN LEN(t) >= 3 THEN
           LIST_DISTINCT(LIST_TRANSFORM(generate_series(1, LEN(t) - 2),
                                        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
         ELSE [] END AS s
  FROM tk
),
mh AS (
  SELECT doc_id,
         LIST_TRANSFORM(generate_series(0, {_N_HASH - 1}),
           k -> LIST_MIN(LIST_TRANSFORM(s, x -> md5(CAST(k AS VARCHAR) || ':' || x)))) AS m
  FROM sh WHERE LEN(s) > 0
),
bands AS (
  SELECT doc_id, j AS band_idx,
         md5(m[3*j+1] || '|' || m[3*j+2] || '|' || m[3*j+3]) AS band_key
  FROM mh, UNNEST(generate_series(0, {_N_BANDS - 1})) AS u(j)
  {_BUCKET_CAP_SQL}
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band_idx = b.band_idx
                           AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),
walk(node, label) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, w.label FROM edges e JOIN walk w ON e.dst = w.node
),
labeled AS (
  SELECT node, MIN(label) AS label FROM walk GROUP BY node
)
SELECT CAST(label AS BIGINT) AS component_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       ARRAY_TO_STRING(LIST_SORT(LIST(node)), ',') AS members
FROM labeled
GROUP BY label
ORDER BY component_id
""",
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    sk = _minhash_sketch(spark, sf_dir)
    pairs = (
        _minhash_candidate_pairs(sk).select("doc_a", "doc_b").persist()
    )
    # Materialize the pair graph at full parallelism FIRST: the coalesce
    # below would otherwise fold the sketch + band self-join into the
    # narrowed task count (coalesce narrows its whole upstream stage, it
    # does not shuffle) — and the count doubles as the edge-count input to
    # the partition sizing.
    n_edges = pairs.count()
    # The pair graph is tiny relative to the corpus (near-dup edges only);
    # size the BSP partitioning to the EDGE COUNT (~2M edges per task keeps
    # a task's join state in cache), never to the corpus. On the fixtures
    # this is 1 partition — measured 4.3 s → 1.9 s per components run vs a
    # fixed coalesce(4), because each sweep's shuffle machinery on
    # kilobytes of edges costs more than the compute.
    if n_edges <= _LOCAL_CC_MAX_EDGES:
        # Scale gate: the near-dup pair graph is O(duplicate clusters),
        # not O(corpus). When the edge list fits comfortably on the driver
        # (two longs per edge — the gate bounds it at ~32 MB), a one-pass
        # union-find replaces 2+ BSP sweeps whose per-sweep cost here is
        # ~90% fixed machinery (Catalyst + AQE + shuffle setup on
        # kilobytes of data; measured ~1.5-2 s/sweep vs <1 ms of actual
        # union work). Rooting each union at the SMALLER id makes every
        # root the component minimum — exactly the BSP fixpoint label —
        # so both paths produce identical rows. Above the gate the BSP
        # loop below is unchanged; this mirrors production CC practice
        # (distributed contraction only until the graph fits locally).
        labels = _local_cc_labels(spark, pairs)
        pairs.unpersist()
        return _cc_summarize(labels)
    nparts = min(
        spark.sparkContext.defaultParallelism, max(1, n_edges // 2_000_000)
    )
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    ).coalesce(nparts).persist()
    labels = edges.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    ).coalesce(nparts).persist()
    # BSP min-label propagation to fixpoint. Each sweep is one shuffle join
    # (edges ⋈ labels on dst) + one min-aggregate on src + a least() merge.
    for _ in range(20):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        # Carry a per-row "did this node's label shrink" marker through the
        # SAME join that computes the new labels: the convergence probe is
        # then a count on the persisted result — one job per sweep instead
        # of a second join+count pass against the old labels.
        merged = F.least(F.col("label"), F.coalesce("nbr_label", F.col("label")))
        new_labels = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                merged.alias("new_label"),
                (merged < F.col("label")).alias("chg"),
            )
            .withColumnRenamed("new_label", "label")
            .persist()
        )
        changed = new_labels.where("chg").count()  # also materializes persist
        labels.unpersist()
        labels = new_labels.drop("chg")
        if changed == 0:
            break
    return _cc_summarize(labels)


def _local_cc_labels(spark: SparkSession, pairs: DataFrame) -> DataFrame:
    """Driver-local connected components of the (doc_a, doc_b) edge list
    → (node, label) with label = component MINIMUM id (the BSP fixpoint).

    Arrow collect (two int64 numpy arrays — no per-row Row/pickle
    overhead) + dense-index union-find over ONE numpy parent array: at
    the 2M-edge gate boundary this is ~32 MB of driver arrays instead of
    hundreds of MB of Row objects + a 4M-entry dict (VERDICT r14).
    np.unique sorts, so dense-index order == node-id order and rooting
    each union at the smaller INDEX roots it at the smaller id."""
    import numpy as np

    arrow = pairs.toArrow()
    ea = arrow.column("doc_a").to_numpy(zero_copy_only=False)
    eb = arrow.column("doc_b").to_numpy(zero_copy_only=False)
    nodes, dense = np.unique(np.concatenate([ea, eb]), return_inverse=True)
    parent = np.arange(len(nodes), dtype=np.int64)

    def _find(x: int) -> int:
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = int(r), int(parent[x])
        return int(r)

    # chunked tolist keeps the Python-int working set ~bounded instead
    # of materializing two 2M-int lists at once
    chunk = 1 << 18
    n_e = len(ea)
    for lo in range(0, n_e, chunk):
        hi = min(lo + chunk, n_e)
        for a, b in zip(
            dense[lo:hi].tolist(), dense[n_e + lo:n_e + hi].tolist()
        ):
            ra, rb = _find(a), _find(b)
            if ra != rb:
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
    # full path compression, vectorized (log-depth pointer doubling)
    while True:
        pp = parent[parent]
        if np.array_equal(pp, parent):
            break
        parent = pp
    # hand the (node, label) columns to Spark as ONE Arrow table —
    # zero-copy from the numpy arrays, no 3M-tuple driver list
    import pyarrow as pa

    return spark.createDataFrame(
        pa.table({"node": nodes, "label": nodes[parent]})
    )


def _cc_summarize(labels: DataFrame) -> DataFrame:
    """(node, label) → per-component summary rows — shared tail of the
    local union-find and BSP paths of ``dedup_components``."""
    return (
        labels.groupBy("label")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.concat_ws(
                ",",
                F.transform(
                    F.sort_array(F.collect_list("node")), lambda x: x.cast("string")
                ),
            ).alias("members"),
        )
        .select(
            F.col("label").cast("bigint").alias("component_id"), "n_docs", "members"
        )
        .orderBy("component_id")
    )


# ---------------------------------------------------------------------------
# MinHash-LSH recall evaluation — the approximation itself under test
# (the dedup twin of sim_ivf_recall): ground truth is the EXACT Jaccard
# pair set over a bounded 200-doc slice (an all-pairs diagnostic — cheap
# and explicitly not the production path; the production operator is the
# banded LSH it measures), candidates are the capped band join restricted
# to the same slice. Recall = caught/true at the 0.5 threshold. Both
# sides derive from the same md5 minhash family, so the measured recall
# is bit-deterministic and the oracle recomputes it exactly.
# ---------------------------------------------------------------------------
_RECALL_SLICE = 200
_RECALL_J = 0.5


@_q(
    "dedup_minhash_recall",
    oracle=f"""
WITH {_SHINGLE_CTES},
sl AS (SELECT * FROM sh WHERE doc_id < {_RECALL_SLICE} AND LEN(s) > 0),
truth AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sl a JOIN sl b ON a.doc_id < b.doc_id
  WHERE LEN(LIST_INTERSECT(a.s, b.s)) * 1.0
        / (LEN(a.s) + LEN(b.s) - LEN(LIST_INTERSECT(a.s, b.s))) >= {_RECALL_J}
),
mh AS (
  SELECT doc_id,
         LIST_TRANSFORM(generate_series(0, {_N_HASH - 1}),
           k -> LIST_MIN(LIST_TRANSFORM(s, x -> md5(CAST(k AS VARCHAR) || ':' || x)))) AS m
  FROM sh WHERE LEN(s) > 0
),
bands AS (
  SELECT doc_id, j AS band_idx,
         md5(m[3*j+1] || '|' || m[3*j+2] || '|' || m[3*j+3]) AS band_key
  FROM mh, UNNEST(generate_series(0, {_N_BANDS - 1})) AS u(j)
  {_BUCKET_CAP_SQL}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN bands b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
              AND a.doc_id < b.doc_id
  WHERE a.doc_id < {_RECALL_SLICE} AND b.doc_id < {_RECALL_SLICE}
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_true_pairs,
       CAST(SUM(CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_caught,
       ROUND(SUM(CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END) * 1.0
             / COUNT(*), 6) AS recall
FROM truth t
LEFT JOIN cand c ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
""",
)
def dedup_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    sl = _shingle_table(spark, sf_dir).where(F.col("doc_id") < _RECALL_SLICE)
    a = sl.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("sa"))
    b = sl.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb"))
    jac = inter * 1.0 / (F.size("sa") + F.size("sb") - inter)
    # Bounded all-pairs (|slice|^2 = 40k rows max) — intentional: this is
    # the ground-truth diagnostic, so the explicit crossJoin guardrail
    # applies, and the broadcast keeps the big side un-shuffled.
    truth = (
        a.crossJoin(F.broadcast(b))
        .where((F.col("doc_a") < F.col("doc_b")) & (jac >= _RECALL_J))
        .select("doc_a", "doc_b")
    )
    sk = _minhash_sketch(spark, sf_dir)
    cand = (
        _minhash_candidate_pairs(sk)
        .where(
            (F.col("doc_a") < _RECALL_SLICE) & (F.col("doc_b") < _RECALL_SLICE)
        )
        .select("doc_a", "doc_b")
        .withColumn("hit", F.lit(1))
    )
    return truth.join(cand, ["doc_a", "doc_b"], "left").agg(
        F.count("*").cast("bigint").alias("n_true_pairs"),
        F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("bigint").alias("n_caught"),
        F.round(
            F.sum(F.coalesce(F.col("hit"), F.lit(0))) * 1.0 / F.count("*"), 6
        ).alias("recall"),
    )


# ---------------------------------------------------------------------------
# Bloom-prefiltered passage-overlap screen — the scale pattern for "does
# this ingest batch share any verbatim passage with the corpus" when the
# corpus gram set is far too large to broadcast: compact the corpus's
# distinct word-8-grams into a Bloom bitmap (k=7 double-hashed positions
# per gram, 24 bits/key), probe every batch gram against the bitmap, and
# run the exact (shuffling) gram join ONLY for docs with at least one
# full-k bloom hit. Bloom misses are definitive (no false negatives), so
# the final answer is exactly the exact-join answer — the filter buys the
# skip, never changes the result — and the oracle replays the identical
# position arithmetic (md5-derived Kirsch-Mitzenmacher double hashing is
# bit-identical in both engines), so even the false-positive count is
# hash-checked.
#
# Scale: the bitmap lives as a (word_idx, word) relational table of
# m/64 rows — built by one bit_or aggregate, probed by an equi-join on
# word_idx — so NOTHING requires a driver-side or broadcast bitmap: at
# fixture scale Catalyst broadcasts it (it's tiny), at 100 TB the same
# plan shuffles probes and words on word_idx (both sides hash-partition;
# probe volume is batch grams × k rows of 16 bytes). Bits/key = 24 with
# k = 7 keeps per-gram FP ≈ 7e-5 so doc-level FP (1-(1-p)^grams — the
# any-of-G amplification) stays ~1% for kilotoken docs. The one scalar
# action (corpus gram count, sizing m) is the same A1-class read as the
# reference's watermark MAX (icberg/iceberg_tables.py:131).
# ---------------------------------------------------------------------------
_BLOOM_GRAM_N = 8   # passage width (tokens) — selective but dup-sensitive
_BLOOM_K = 7        # hash functions
_BLOOM_BPK = 24     # bits per key
_BLOOM_BATCH_MOD = 10  # doc_id % 10 == 0 → ingest batch, else corpus

_BLOOM_GRAMS_SQL = f"""
btk AS (
  SELECT doc_id, {TOKS_SQL} AS t FROM documents
),
bgrams AS (
  SELECT DISTINCT doc_id, ARRAY_TO_STRING(t[i:i+{_BLOOM_GRAM_N - 1}], ' ') AS g
  FROM btk, UNNEST(generate_series(1, GREATEST(LEN(t) - {_BLOOM_GRAM_N - 1}, 0))) AS u(i)
),
cg AS (SELECT DISTINCT g FROM bgrams WHERE doc_id % {_BLOOM_BATCH_MOD} <> 0),
params AS (SELECT {_BLOOM_BPK} * COUNT(*) AS m FROM cg),
hashed_cg AS (
  SELECT CAST('0x' || SUBSTR(md5(g), 1, 8) AS BIGINT) AS h1,
         CAST('0x' || SUBSTR(md5(g), 9, 8) AS BIGINT) | 1 AS h2
  FROM cg
),
cpos AS (
  SELECT DISTINCT (h1 + j * h2) % m AS pos
  FROM hashed_cg, params, UNNEST(generate_series(0, {_BLOOM_K - 1})) AS u(j)
),
bg AS (SELECT doc_id, g FROM bgrams WHERE doc_id % {_BLOOM_BATCH_MOD} = 0),
bpos AS (
  SELECT doc_id, g, j,
         (CAST('0x' || SUBSTR(md5(g), 1, 8) AS BIGINT)
          + j * (CAST('0x' || SUBSTR(md5(g), 9, 8) AS BIGINT) | 1)) % m AS pos
  FROM bg, params, UNNEST(generate_series(0, {_BLOOM_K - 1})) AS u(j)
),
cand AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_id, g FROM bpos JOIN cpos USING (pos)
    GROUP BY doc_id, g HAVING COUNT(*) = {_BLOOM_K}
  )
),
conf AS (SELECT DISTINCT doc_id FROM bg JOIN cg USING (g))
"""


@session_memo
def _bloom_gram_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted+memoized (doc_id, g) distinct word-8-gram table — one
    tokenize+gram pass serves the corpus filter build, the batch probe,
    and the exact confirmation join (same materialization-boundary
    rationale as _shingle_table; the repartition spreads the single-row-
    group fixture scan across cores before the CPU-heavy gram build)."""
    from aws_glue_data_lake_spark.queries.textops import ngrams

    d = t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return d.select(
        "doc_id",
        F.explode(F.array_distinct(ngrams(toks(), _BLOOM_GRAM_N))).alias("g"),
    ).persist()


@session_memo
def _bloom_corpus_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted distinct gram set of the corpus (the non-batch docs): it
    feeds the bitmap build AND the exact confirmation join, and the sizing
    count materializes it — without the boundary each subtree re-runs the
    distinct shuffle."""
    is_batch = F.col("doc_id") % _BLOOM_BATCH_MOD == 0
    grams = _bloom_gram_table(spark, sf_dir)
    return grams.where(~is_batch).select("g").distinct().persist()


@_q(
    "dedup_bloom_gram_prefilter",
    oracle=f"""
WITH {_BLOOM_GRAMS_SQL.strip()}
SELECT d.source,
       CAST(COUNT(*) AS BIGINT) AS n_batch,
       CAST(COUNT(c.doc_id) AS BIGINT) AS n_candidates,
       CAST(COUNT(f.doc_id) AS BIGINT) AS n_confirmed,
       CAST(COUNT(c.doc_id) - COUNT(f.doc_id) AS BIGINT) AS n_false_pos,
       CAST(COUNT(*) - COUNT(f.doc_id) AS BIGINT) AS n_new
FROM documents d
LEFT JOIN cand c ON d.doc_id = c.doc_id
LEFT JOIN conf f ON d.doc_id = f.doc_id
WHERE d.doc_id % {_BLOOM_BATCH_MOD} = 0
GROUP BY d.source
ORDER BY d.source
""",
)
def dedup_bloom_gram_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    is_batch = F.col("doc_id") % _BLOOM_BATCH_MOD == 0
    grams = _bloom_gram_table(spark, sf_dir)
    cg = _bloom_corpus_grams(spark, sf_dir)
    # Scalar A1-class read: the corpus gram count sizes the bitmap so
    # bits-per-key stays constant at any corpus scale.
    m = _BLOOM_BPK * cg.count()

    h = F.md5("g")
    h1 = F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint").alias("h1")
    h2 = (
        F.conv(F.substring(h, 9, 8), 16, 10)
        .cast("bigint")
        .bitwiseOR(F.lit(1))
        .alias("h2")
    )
    js = F.explode(F.array(*[F.lit(j) for j in range(_BLOOM_K)])).alias("j")

    def with_pos(df: DataFrame) -> DataFrame:
        return df.select(*df.columns, js).withColumn(
            "pos", (F.col("h1") + F.col("j") * F.col("h2")) % m
        )

    words = (
        with_pos(cg.select(h1, h2))
        .select(
            F.expr("pos div 64").alias("w"),
            F.expr("shiftleft(1L, CAST(pos % 64 AS INT))").alias("bit"),
        )
        .groupBy("w")
        .agg(F.bit_or("bit").alias("word"))
    )

    bg = grams.where(is_batch)
    bpos = with_pos(bg.select("doc_id", "g", h1, h2)).select(
        "doc_id",
        "g",
        F.expr("pos div 64").alias("w"),
        F.expr("shiftleft(1L, CAST(pos % 64 AS INT))").alias("bit"),
    )
    passed = (
        bpos.join(words, "w")
        .where(F.col("word").bitwiseAND(F.col("bit")) != 0)
        .groupBy("doc_id", "g")
        .agg(F.count("*").alias("nhit"))
        .where(F.col("nhit") == _BLOOM_K)
    )
    cand = passed.select("doc_id").distinct().withColumn("c", F.lit(1))
    # Exact confirmation runs on bloom-PASSED grams only — the whole point
    # of the filter. No false negatives ⇒ exact-matching grams are always
    # a subset of passed grams, so this is semantically bg ∩ cg; the
    # passed set is candidate-sized (tiny), so the semi-join broadcasts it
    # instead of shuffling every batch gram.
    conf = (
        passed.join(cg, "g", "semi")
        .select("doc_id")
        .distinct()
        .withColumn("f", F.lit(1))
    )
    return (
        d.where(is_batch)
        .select("doc_id", "source")
        .join(cand, "doc_id", "left")
        .join(conf, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_batch"),
            F.count("c").cast("bigint").alias("n_candidates"),
            F.count("f").cast("bigint").alias("n_confirmed"),
            (F.count("c") - F.count("f")).cast("bigint").alias("n_false_pos"),
            (F.count("*") - F.count("f")).cast("bigint").alias("n_new"),
        )
        .orderBy("source")
    )
