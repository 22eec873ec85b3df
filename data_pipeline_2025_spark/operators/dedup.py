"""Deduplication operators over the `documents` table — the
LLM-training-data dedup family BASELINE.json makes first-class:
exact (hash groupBy), n-gram Jaccard, MinHash+LSH, SimHash.

Everything is deterministic (hash functions derived from md5, which
both engines implement identically) so each stage has a DuckDB
oracle — including the banded MinHash pipeline.

Scale design (the reason each shape was chosen):
- exact dedup: one groupBy on a 128-bit key — partial-aggregatable,
  no skew (hash keys are uniform).
- n-gram Jaccard: candidate pairs come from an equi-join on
  shingles, never a cross join; at 100 TB the shingle join is the
  classic doc-pair generator but its fan-out is bounded by shingle
  document frequency, and the MinHash/LSH variant below caps it.
- MinHash/LSH: signatures are 16 aggregate expressions in ONE
  groupBy pass (no 16× row explosion); candidates join on banded
  signature keys — the 100 TB-safe path (pairs only form inside a
  band bucket).
- SimHash: 32 conditional-sum aggregates in one pass; near-dup
  candidates join on 8-bit band keys, verified by bit_count(xor).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import Catalog, fan_out
from ..registry import register
from ..session import session_frame
from .text import TOKENS_SQL, tokens_col

# ---------------------------------------------------------------- exact

_ORACLE_Q34 = """
WITH fp AS (
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint
    FROM documents
)
SELECT fingerprint,
       MIN(doc_id) AS survivor_doc_id,
       COUNT(*)    AS copies
FROM fp
GROUP BY fingerprint
"""


@register(
    "q34_dedup_exact",
    oracle=_ORACLE_Q34,
    doc="Exact dedup: hash-groupBy on normalized-content md5; "
    "min doc_id survives.",
    tags=("dedup", "exact"),
)
def q34_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    return (
        cat.documents.select("doc_id", F.md5(norm).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("survivor_doc_id"),
            F.count(F.lit(1)).alias("copies"),
        )
    )


# ------------------------------------------------------------- shingles

# Word 3-gram shingles, distinct per document.
SHINGLES_SQL = f"""
toks AS (
    SELECT doc_id, {TOKENS_SQL} AS toks FROM documents
),
shingles AS (
    SELECT doc_id,
           unnest(list_distinct([array_to_string(list_slice(toks, i, i + 2), ' ')
                                 for i in range(1, len(toks) - 1)])) AS sh
    FROM toks
    WHERE len(toks) >= 3
)"""


def doc_shingles(docs: DataFrame) -> DataFrame:
    """(doc_id, sh) distinct word-trigram shingles of ANY
    (doc_id, text) frame — shared by the batch path (shingles_df)
    and the streaming dedup gate (streaming/dedupgate.py), so both
    compute bit-identical features."""
    toks = tokens_col()
    # array_distinct BEFORE the explode: per-doc uniqueness is a
    # local (no-shuffle) operation; a global .distinct() after the
    # explode would shuffle the entire shingle stream for nothing.
    shingle_arr = F.array_distinct(
        F.when(
            F.size(toks) >= 3,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - 2),
                lambda i: F.array_join(F.slice(toks, i, 3), " "),
            ),
        ).otherwise(F.array().cast("array<string>"))
    )
    return docs.select("doc_id", F.explode(shingle_arr).alias("sh"))


def doc_minhash(sh: DataFrame) -> DataFrame:
    """(doc_id, h0..h15) MinHash signatures of a (doc_id, sh) frame
    — the affine-hash family over md5, identical for batch and
    streaming callers."""
    hashed = sh.select("doc_id", F.md5("sh").alias("h")).select(
        "doc_id",
        F.conv(F.substring("h", 1, 12), 16, 10).cast("bigint").alias("a"),
        F.conv(F.substring("h", 17, 12), 16, 10).cast("bigint").alias("b"),
    )
    return hashed.groupBy("doc_id").agg(
        *[
            F.min((F.col("a") + i * F.col("b")) % MINHASH_PRIME).alias(f"h{i}")
            for i in range(NUM_HASHES)
        ]
    )


def band_keys(minhash: DataFrame) -> DataFrame:
    """(doc_id, band, bkey) LSH band keys from a signature frame —
    one scan, bands via explode (no union-of-projections re-running
    the signature aggregation)."""
    rows = NUM_HASHES // NUM_BANDS
    band_structs = [
        F.struct(
            F.lit(bnd).alias("band"),
            F.md5(
                F.concat_ws(
                    "|", *[F.col(f"h{bnd * rows + r}") for r in range(rows)]
                )
            ).alias("bkey"),
        )
        for bnd in range(NUM_BANDS)
    ]
    return minhash.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("bb")
    ).select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bkey").alias("bkey"))


def shingles_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sh) distinct word-trigram shingles (persisted once
    per (session, sf_dir) — see session.session_frame)."""

    def build() -> DataFrame:
        cat = Catalog(spark, sf_dir)
        # fan_out BEFORE the shingle expansion: the narrow documents
        # scan is one partition per input file; exploding there would
        # serialize the whole shingle build on one core.
        return doc_shingles(fan_out(cat.documents, "doc_id"))

    return session_frame("shingles", spark, sf_dir, build)


def minhash_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, h0..h15) MinHash signatures — persisted once per
    (session, sf_dir) like shingles_df; q36/q61/q70 all read it, and
    the LSH self-join reads it twice, so materializing is the same
    "build the signature table once" move a 100 TB dedup run makes."""

    def build() -> DataFrame:
        return doc_minhash(shingles_df(spark, sf_dir))

    return session_frame("minhash", spark, sf_dir, build)


JACCARD_THRESHOLD = 0.8

# Document-frequency cap on the shingle universe: a shingle appearing
# in more than this many documents is boilerplate — it contributes
# ~zero Jaccard signal but O(df²) candidate pairs (the quadratic
# blow-up that kills the naive shingle join at 100 TB). q35 computes
# Jaccard over the DF-CAPPED shingle sets (the standard practitioner
# definition: hot shingles are dropped from pairs, intersections AND
# set sizes alike — self-consistent, so the similarity stays a true
# Jaccard of the capped feature sets). This keeps the cheap
# direct-count plan: one equi-join whose per-shingle fan-out is
# bounded by the cap, one groupBy — no candidate-distinct shuffle,
# no second verification pass. Mirrored verbatim in the oracle SQL
# so the query stays hash-checked.
SHINGLE_DF_CAP = 128

_ORACLE_Q35 = f"""
WITH {SHINGLES_SQL},
hot AS (
    SELECT sh FROM shingles GROUP BY sh HAVING COUNT(*) > {SHINGLE_DF_CAP}
),
rare_sh AS (
    SELECT s.doc_id, s.sh FROM shingles s ANTI JOIN hot h ON s.sh = h.sh
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM rare_sh GROUP BY doc_id),
pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
    FROM rare_sh a
    JOIN rare_sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
    GROUP BY doc_a, doc_b
)
SELECT doc_a, doc_b, inter,
       sa.n + sb.n - inter AS unions,
       CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
FROM pairs
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= {JACCARD_THRESHOLD}
"""


def rare_shingles_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DF-capped shingles (hot boilerplate dropped) — persisted once
    per (session, sf_dir): q35 reads it three times (sizes + both
    self-join sides), and without the cache each read re-runs the
    hot-shingle aggregation and anti-join."""

    def build() -> DataFrame:
        sh = shingles_df(spark, sf_dir)
        # Hot-shingle list is tiny (≤ total_shingles/CAP values can
        # exceed the cap) → broadcast the anti side; the surviving
        # stream never shuffles for the filter.
        hot = (
            sh.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") > SHINGLE_DF_CAP)
            .select("sh")
        )
        return sh.join(F.broadcast(hot), "sh", "left_anti")

    return session_frame("rare_sh", spark, sf_dir, build)


@register(
    "q35_ngram_jaccard_pairs",
    oracle=_ORACLE_Q35,
    doc="Near-dup pairs by word-trigram Jaccard >= 0.8 over DF-capped "
    "shingle sets; candidates from a shingle equi-join whose "
    "per-shingle fan-out is bounded by SHINGLE_DF_CAP (never a cross "
    "join, never an uncapped hot-shingle blow-up).",
    tags=("dedup", "jaccard"),
)
def q35_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    rare_sh = rare_shingles_df(spark, sf_dir)
    sizes = rare_sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = rare_sh.alias("a")
    b = rare_sh.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    unions = F.col("na") + F.col("nb") - F.col("inter")
    jac = F.col("inter").cast("double") / unions
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "inter",
            unions.alias("unions"),
            jac.alias("jaccard"),
        )
        .where(jac >= JACCARD_THRESHOLD)
    )


# ------------------------------------------------------------ MinHash/LSH

NUM_HASHES = 16
NUM_BANDS = 4  # 4 rows per band
LSH_VERIFY_THRESHOLD = 0.8

# Kirsch-Mitzenmacher hash family: h_i = (a + i·b) mod P with a, b
# drawn from ONE md5 per shingle (first/second 12 hex chars = 48-bit
# ints; a + 15·b < 2^53 so bigint arithmetic is exact in both
# engines). 16× fewer md5 invocations than hashing per-i — the
# difference between 1 and 16 passes over 100 TB of shingles.
MINHASH_PRIME = 281474976710597  # largest prime < 2^48


def _minhash_select_sql() -> str:
    cols = ",\n           ".join(
        f"MIN((a + {i} * b) % {MINHASH_PRIME}) AS h{i}" for i in range(NUM_HASHES)
    )
    return f"""SELECT doc_id,
           {cols}
    FROM (
        SELECT doc_id,
               ('0x' || substr(h, 1, 12))::BIGINT  AS a,
               ('0x' || substr(h, 17, 12))::BIGINT AS b
        FROM (SELECT doc_id, md5(sh) AS h FROM shingles)
    ) GROUP BY doc_id"""


def _band_keys_sql() -> str:
    rows = NUM_HASHES // NUM_BANDS
    parts = []
    for b in range(NUM_BANDS):
        key = " || '|' || ".join(f"h{b * rows + r}" for r in range(rows))
        parts.append(
            f"SELECT doc_id, {b} AS band, md5({key}) AS bkey FROM minhash"
        )
    return "\nUNION ALL\n".join(parts)


_ORACLE_Q36 = f"""
WITH {SHINGLES_SQL},
minhash AS (
    {_minhash_select_sql()}
),
bands AS (
{_band_keys_sql()}
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a
    JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
                AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
verified AS (
    SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
    FROM cand c
    JOIN shingles a ON a.doc_id = c.doc_a
    JOIN shingles b ON b.doc_id = c.doc_b AND a.sh = b.sh
    GROUP BY c.doc_a, c.doc_b
)
SELECT v.doc_a, v.doc_b,
       CAST(v.inter AS DOUBLE) / (sa.n + sb.n - v.inter) AS jaccard
FROM verified v
JOIN sizes sa ON v.doc_a = sa.doc_id
JOIN sizes sb ON v.doc_b = sb.doc_id
WHERE CAST(v.inter AS DOUBLE) / (sa.n + sb.n - v.inter) >= {LSH_VERIFY_THRESHOLD}
"""


@register(
    "q36_minhash_lsh_dedup",
    oracle=_ORACLE_Q36,
    doc="MinHash (16 hashes as aggregates, no row explosion) + LSH "
    "banding (4×4) candidate join + Jaccard verification — the "
    "100 TB-safe near-dup path.",
    tags=("dedup", "minhash", "lsh"),
)
def q36_minhash_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = shingles_df(spark, sf_dir)
    minhash = minhash_df(spark, sf_dir)
    # One scan of the cached signatures, bands via explode — the
    # previous union-of-4-projections (x2 join sides) recomputed the
    # signature aggregation ~8x per run (24 HashAggregates in the
    # plan; now 4).
    bands = band_keys(minhash)
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sha = sh.select(F.col("doc_id").alias("da"), F.col("sh").alias("sh_a"))
    shb = sh.select(F.col("doc_id").alias("db"), F.col("sh").alias("sh_b"))
    verified = (
        cand.join(sha, F.col("doc_a") == F.col("da"))
        .join(shb, (F.col("doc_b") == F.col("db")) & (F.col("sh_a") == F.col("sh_b")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb_ = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("inter").cast("double") / (F.col("na") + F.col("nb") - F.col("inter"))
    return (
        verified.join(sa, "doc_a")
        .join(sb_, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .where(jac >= LSH_VERIFY_THRESHOLD)
    )


def lsh_pairs_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q36's verified near-dup pair table, persisted once per
    (session, sf_dir) — the materialized near-dup GRAPH.

    At 100 TB the LSH join + Jaccard verify runs once at ingest and
    every downstream analysis (dedup pipeline q61, connected
    components q70/q165, threshold audits) reads the materialized
    pair table — exactly like the shingle/minhash frames above.
    q36 itself does NOT read this cache: as a registered query it
    times/checks the construction; consumers time the analysis."""
    return session_frame(
        "lsh_pairs", spark, sf_dir, lambda: q36_minhash_lsh_dedup(spark, sf_dir)
    )


# ------------------------------------------------------- full pipeline

_ORACLE_Q61 = f"""
WITH fp AS (
    SELECT doc_id, n_chars,
           md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint
    FROM documents
),
exact_survivors AS (
    SELECT MIN(doc_id) AS doc_id FROM fp GROUP BY fingerprint
),
{SHINGLES_SQL.lstrip()},
minhash AS (
    {_minhash_select_sql()}
),
bands AS (
{_band_keys_sql()}
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a
    JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
                AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
near_dup_losers AS (
    SELECT DISTINCT v.doc_b AS doc_id
    FROM (
        SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
        FROM cand c
        JOIN shingles a ON a.doc_id = c.doc_a
        JOIN shingles b ON b.doc_id = c.doc_b AND a.sh = b.sh
        GROUP BY c.doc_a, c.doc_b
    ) v
    JOIN sizes sa ON v.doc_a = sa.doc_id
    JOIN sizes sb ON v.doc_b = sb.doc_id
    WHERE CAST(v.inter AS DOUBLE) / (sa.n + sb.n - v.inter) >= {LSH_VERIFY_THRESHOLD}
),
kept AS (
    SELECT e.doc_id FROM exact_survivors e
    WHERE e.doc_id NOT IN (SELECT doc_id FROM near_dup_losers)
)
SELECT (SELECT COUNT(*) FROM documents)          AS input_docs,
       (SELECT COUNT(*) FROM exact_survivors)    AS after_exact,
       (SELECT COUNT(*) FROM kept)               AS after_near_dup,
       (SELECT CAST(SUM(n_chars) AS BIGINT) FROM fp JOIN kept USING (doc_id)) AS kept_chars
"""


@register(
    "q61_dedup_pipeline",
    oracle=_ORACLE_Q61,
    doc="End-to-end dedup pipeline: exact (md5 groupBy) → MinHash-"
    "LSH near-dup removal (keep the lower doc_id of each verified "
    "pair) → surviving-corpus stats. The composition a training-"
    "data curation job actually runs.",
    tags=("dedup", "pipeline"),
)
def q61_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE DataFrame plan, one job: the input/exact counts and the
    # survivor stats are single-row aggregates stitched with a
    # broadcast join on a literal key (no driver-side .count()/
    # .collect() assembly, no cartesian).
    cat = Catalog(spark, sf_dir)
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    fp = cat.documents.select(
        "doc_id", "n_chars", F.md5(norm).alias("fingerprint")
    )
    exact = fp.groupBy("fingerprint").agg(F.min("doc_id").alias("doc_id"))
    losers = (
        lsh_pairs_df(spark, sf_dir)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    kept = exact.select("doc_id").join(losers, "doc_id", "left_anti")
    totals = fp.agg(
        F.count(F.lit(1)).alias("input_docs"),
        F.countDistinct("fingerprint").alias("after_exact"),
    ).withColumn("_k", F.lit(1))
    kept_stats = (
        kept.join(fp.select("doc_id", "n_chars"), "doc_id")
        .agg(
            F.count(F.lit(1)).alias("after_near_dup"),
            F.sum("n_chars").alias("kept_chars"),
        )
        .withColumn("_k", F.lit(1))
    )
    return (
        totals.join(F.broadcast(kept_stats), "_k")
        .select("input_docs", "after_exact", "after_near_dup", "kept_chars")
    )


# ------------------------------------------------- duplicated spans
#
# Exact-substring duplication signal (the Lee et al. "Deduplicating
# Training Data Makes Language Models Better" idea, span-level): a
# document's 8-gram windows that also appear in OTHER documents are
# duplicated spans; their fraction is the cut-or-keep signal a
# substring-dedup pass uses. Scale shape: window→df is one groupBy
# on the gram hash (uniform keys, partial-aggregatable); the join
# back to window positions is an equi-join on the same key — no
# pair explosion anywhere (this is a per-DOC signal, not a pair
# generator).

SPAN_N = 8

_SPANS_SQL = f"""
toks AS (
    SELECT doc_id, {TOKENS_SQL} AS toks FROM documents
),
spans AS (
    SELECT doc_id,
           unnest([md5(array_to_string(list_slice(toks, i, i + {SPAN_N - 1}), ' '))
                   for i in range(1, len(toks) - {SPAN_N - 2})]) AS g
    FROM toks
    WHERE len(toks) >= {SPAN_N}
)"""

_ORACLE_Q69 = f"""
WITH {_SPANS_SQL},
df AS (
    SELECT g, COUNT(DISTINCT doc_id) AS docs FROM spans GROUP BY g
)
SELECT s.doc_id,
       CAST(COUNT(*) AS BIGINT)                                    AS windows,
       CAST(SUM(CASE WHEN df.docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                                                                   AS dup_windows,
       CAST(SUM(CASE WHEN df.docs >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
           / COUNT(*)                                              AS dup_ratio
FROM spans s JOIN df USING (g)
GROUP BY s.doc_id
"""


@register(
    "q69_duplicated_span_ratio",
    oracle=_ORACLE_Q69,
    doc="Span-level exact-duplication signal: fraction of each "
    "document's 8-gram windows that appear in at least one other "
    "document (substring-dedup cut signal; per-doc, no pair join).",
    tags=("dedup", "spans"),
)
def q69_duplicated_span_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    toks = tokens_col()
    gram = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (SPAN_N - 1)),
        lambda i: F.md5(F.array_join(F.slice(toks, i, SPAN_N), " ")),
    )
    spans = (
        fan_out(cat.documents, "doc_id")
        .where(F.size(toks) >= SPAN_N)
        .select("doc_id", F.explode(F.when(F.size(toks) >= SPAN_N, gram)).alias("g"))
    )
    # r10: the old form joined the raw span stream back to the per-g
    # document-frequency table ON THE GRAM KEY — at toy scale Spark
    # broadcasts the g-table (it fits under the threshold only by
    # size ESTIMATE), at corpus scale that table is the distinct-gram
    # dictionary (over the broadcast cap) and the fallback is a
    # gram⋈gram SortMergeJoin with unbounded hot-gram skew
    # (boilerplate spans appear in every doc). Computed instead by
    # complement, with stacked combine-safe aggs and no content-key
    # join anywhere: dup_windows = windows − occurrences in SINGLETON
    # grams (docs == 1), and a singleton gram's occurrences all live
    # in its one doc (min(doc_id) = the doc). fan_out's doc_id
    # partitioning satisfies both (g, doc_id)-keyed groupBys, so the
    # only gram-sized exchange is the per-g rollup's PARTIAL rows —
    # a hot gram is absorbed map-side. A/B: identical 5000 rows +
    # schema at sf0.1, flat wall (3.26 → 3.23 s median).
    windows_per_doc = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("windows")
    )
    gdg = spans.groupBy("g", "doc_id").agg(F.count(F.lit(1)).alias("c"))
    uniq_per_doc = (
        gdg.groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.min("doc_id").alias("doc_id"),
            F.sum("c").alias("occ"),
        )
        .where(F.col("docs") == 1)
        .groupBy("doc_id")
        .agg(F.sum("occ").alias("uniq"))
    )
    # windows comes from the LEFT side of the left join, so it is
    # never null — no guard needed (advisor r10).
    dupw = (F.col("windows") - F.coalesce(F.col("uniq"), F.lit(0))).cast(
        "bigint"
    )
    return (
        windows_per_doc.join(uniq_per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.col("windows").cast("bigint").alias("windows"),
            dupw.alias("dup_windows"),
            (dupw.cast("double") / F.col("windows")).alias("dup_ratio"),
        )
    )


# Applying the span signal as a cut policy: drop documents whose
# duplicated-span ratio exceeds the threshold; docs too short to
# carry any 8-gram window have no signal and are kept by default
# (COALESCE(ratio, 0) — the standard fail-open choice for a dedup
# signal). Scale shape: q69's per-doc frame plus ONE broadcast-free
# left join back to the narrow documents table and a per-source
# aggregation — nothing new shuffles.

SPAN_CUT = 0.2

_ORACLE_Q73 = f"""
WITH {_SPANS_SQL},
df AS (
    SELECT g, COUNT(DISTINCT doc_id) AS docs FROM spans GROUP BY g
),
ratio AS (
    SELECT s.doc_id,
           CAST(SUM(CASE WHEN df.docs >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
               / COUNT(*) AS dup_ratio
    FROM spans s JOIN df USING (g)
    GROUP BY s.doc_id
)
SELECT d.source,
       CAST(COUNT(*) AS BIGINT) AS docs,
       CAST(SUM(CASE WHEN COALESCE(r.dup_ratio, 0) <= {SPAN_CUT}
                     THEN 1 ELSE 0 END) AS BIGINT)        AS docs_kept,
       CAST(SUM(CASE WHEN COALESCE(r.dup_ratio, 0) <= {SPAN_CUT}
                     THEN d.n_chars ELSE 0 END) AS BIGINT) AS chars_kept,
       CAST(SUM(CASE WHEN COALESCE(r.dup_ratio, 0) <= {SPAN_CUT}
                     THEN 1 ELSE 0 END) AS DOUBLE)
           / COUNT(*)                                      AS keep_rate
FROM documents d
LEFT JOIN ratio r USING (doc_id)
GROUP BY d.source
ORDER BY d.source
"""


@register(
    "q73_span_cut_stats",
    oracle=_ORACLE_Q73,
    doc="Substring-dedup cut policy applied: per-source docs/chars "
    "kept when documents over the duplicated-span threshold are "
    "dropped (short no-signal docs kept fail-open).",
    tags=("dedup", "spans", "curation"),
)
def q73_span_cut_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    ratio = q69_duplicated_span_ratio(spark, sf_dir).select("doc_id", "dup_ratio")
    keep = F.coalesce("dup_ratio", F.lit(0.0)) <= SPAN_CUT
    return (
        cat.documents.select("doc_id", "source", "n_chars")
        .join(ratio, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum(keep.cast("bigint")).alias("docs_kept"),
            F.sum(F.when(keep, F.col("n_chars")).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("chars_kept"),
            (F.sum(keep.cast("bigint")).cast("double") / F.count(F.lit(1))).alias(
                "keep_rate"
            ),
        )
        .orderBy("source")
    )


# ----------------------------------- q101: novelty curve (dedup pressure)
#
# How much NEW text does each slice of the corpus contribute, in
# ingest order? A span is "novel" in the document where it FIRST
# appears (min doc_id over its occurrences); a document's novelty is
# the share of its distinct 8-gram spans it introduced. Bucketing
# docs into deciles of the doc_id range yields the curve curation
# teams watch: novelty decays as the corpus grows, and a flat-low
# tail says additional ingest is mostly duplication. Scale shape:
# identical to q69 — ONE combine-safe groupBy on the span hash
# (min doc_id is partial-aggregatable), then doc-sized aggregations
# only (novel per doc = a second agg over firsts, r10 — no
# content-key join back); no pair explosion.
# The decile uses the max doc_id, a one-row broadcast scalar. All
# ratios are exact integral ppm (DIV / //).

_ORACLE_Q101 = f"""
WITH {_SPANS_SQL},
dg AS (
    SELECT DISTINCT doc_id, g FROM spans
),
firsts AS (
    SELECT g, MIN(doc_id) AS first_doc FROM dg GROUP BY g
),
perdoc AS (
    SELECT d.doc_id,
           COUNT(*) AS spans,
           SUM(CASE WHEN f.first_doc = d.doc_id THEN 1 ELSE 0 END) AS novel
    FROM dg d JOIN firsts f USING (g)
    GROUP BY d.doc_id
),
mx AS (SELECT MAX(doc_id) + 1 AS m FROM documents)
SELECT CAST((p.doc_id * 10) // mx.m AS BIGINT)           AS decile,
       CAST(COUNT(*) AS BIGINT)                          AS docs,
       CAST(SUM(p.spans) AS BIGINT)                      AS spans,
       CAST(SUM(p.novel) AS BIGINT)                      AS novel_spans,
       CAST((SUM(p.novel) * 1000000) // SUM(p.spans) AS BIGINT)
                                                         AS novelty_ppm
FROM perdoc p, mx
GROUP BY decile
ORDER BY decile
"""


@register(
    "q101_novelty_curve",
    oracle=_ORACLE_Q101,
    doc="Corpus novelty curve: share of each document's distinct "
    "8-gram spans that FIRST appear in it (min doc_id per span), "
    "pooled per doc_id decile in exact integer ppm — the "
    "dedup-pressure-over-ingest-order signal. Same single "
    "span-hash shuffle as q69; no pair join.",
    tags=("dedup", "spans", "curation"),
)
def q101_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    toks = tokens_col()
    gram = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (SPAN_N - 1)),
        lambda i: F.md5(F.array_join(F.slice(toks, i, SPAN_N), " ")),
    )
    dg = (
        fan_out(cat.documents, "doc_id")
        .where(F.size(toks) >= SPAN_N)
        .select("doc_id", F.explode(F.when(F.size(toks) >= SPAN_N, gram)).alias("g"))
        .distinct()
    )
    # r10: the old form joined dg back to the per-g firsts table ON
    # THE GRAM KEY (broadcast locally only by size estimate; at
    # corpus scale firsts IS the distinct-gram dictionary — over the
    # broadcast cap, SMJ fallback, hot-gram skew). A doc's novel
    # count is just how many grams it is the min-doc OF, so the
    # join-back collapses to a second aggregation over firsts:
    # gram-sized data crosses one combine-safe (g, min) exchange and
    # everything after is doc-sized. A/B: identical 10 rows + schema
    # at sf0.1, flat wall (2.62 → 2.57 s median).
    spans_per_doc = dg.groupBy("doc_id").agg(F.count(F.lit(1)).alias("spans"))
    novel_per_doc = (
        dg.groupBy("g")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("novel"))
    )
    perdoc = (
        spans_per_doc.join(novel_per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "spans",
            F.coalesce("novel", F.lit(0)).alias("novel"),
        )
    )
    mx = cat.documents.agg((F.max("doc_id") + 1).alias("m"))
    return (
        perdoc.crossJoin(F.broadcast(mx))
        .groupBy(F.expr("CAST((doc_id * 10) DIV m AS BIGINT)").alias("decile"))
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("spans").cast("bigint").alias("spans"),
            F.sum("novel").cast("bigint").alias("novel_spans"),
        )
        .select(
            "decile",
            "docs",
            "spans",
            "novel_spans",
            F.expr("CAST((novel_spans * 1000000) DIV spans AS BIGINT)").alias(
                "novelty_ppm"
            ),
        )
        .orderBy("decile")
    )


# --------------------------------------------------------------- SimHash

SIMHASH_BITS = 32
HAMMING_MAX = 3


def _simhash_cte_sql() -> str:
    # bit j of a token = top bit of nibble j of its md5 (32 nibbles).
    sums = ",\n           ".join(
        "SUM(CASE WHEN substr(md5(tok), %d, 1) IN "
        "('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS s%d" % (j + 1, j)
        for j in range(SIMHASH_BITS)
    )
    fp = " + ".join(
        f"(CASE WHEN s{j} > 0 THEN (1::BIGINT << {j}) ELSE 0 END)"
        for j in range(SIMHASH_BITS)
    )
    return f"""
tokd AS (
    SELECT doc_id, unnest({TOKENS_SQL}) AS tok FROM documents
),
bitsums AS (
    SELECT doc_id,
           {sums}
    FROM tokd GROUP BY doc_id
),
simhash AS (
    SELECT doc_id, {fp} AS simhash FROM bitsums
)"""


_ORACLE_Q37 = f"""
WITH {_simhash_cte_sql()}
SELECT doc_id, simhash FROM simhash
"""


def _simhash_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Persisted once per (session, sf_dir): the near-dup query reads
    # it three times.
    def build() -> DataFrame:
        cat = Catalog(spark, sf_dir)
        tokd = fan_out(cat.documents, "doc_id").select(
            "doc_id", F.explode(tokens_col()).alias("tok")
        )
        high = tuple("89abcdef")
        sums = [
            F.sum(
                F.when(
                    F.substring(F.md5("tok"), j + 1, 1).isin(*high), 1
                ).otherwise(-1)
            ).alias(f"s{j}")
            for j in range(SIMHASH_BITS)
        ]
        bitsums = tokd.groupBy("doc_id").agg(*sums)
        fp = None
        for j in range(SIMHASH_BITS):
            term = F.when(
                F.col(f"s{j}") > 0, F.shiftleft(F.lit(1).cast("bigint"), j)
            ).otherwise(F.lit(0).cast("bigint"))
            fp = term if fp is None else fp + term
        return bitsums.select("doc_id", fp.alias("simhash"))

    return session_frame("simhash", spark, sf_dir, build)


@register(
    "q37_simhash",
    oracle=_ORACLE_Q37,
    doc="32-bit SimHash fingerprint per document — 32 conditional-"
    "sum aggregates in one pass (tf-weighted bit voting).",
    tags=("dedup", "simhash"),
)
def q37_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _simhash_frame(spark, sf_dir)


_ORACLE_Q38 = f"""
WITH {_simhash_cte_sql()},
bands AS (
    SELECT doc_id, b AS band, (simhash >> (b * 8)) & 255 AS bkey
    FROM simhash, UNNEST(range(0, 4)) AS t(b)
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a
    JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
                AND a.doc_id < b.doc_id
)
SELECT c.doc_a, c.doc_b,
       CAST(bit_count(xor(sa.simhash, sb.simhash)) AS INTEGER) AS hamming
FROM cand c
JOIN simhash sa ON c.doc_a = sa.doc_id
JOIN simhash sb ON c.doc_b = sb.doc_id
WHERE bit_count(xor(sa.simhash, sb.simhash)) <= {HAMMING_MAX}
"""


@register(
    "q38_simhash_neardup",
    oracle=_ORACLE_Q38,
    doc="SimHash near-dups: 8-bit band bucketing for candidates, "
    "verified by Hamming distance <= 3 (bit_count of xor).",
    tags=("dedup", "simhash", "lsh"),
)
def q38_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    sim = _simhash_frame(spark, sf_dir)
    bands = (
        sim.withColumn(
            "band", F.explode(F.array(*[F.lit(b) for b in range(4)]))
        )
        .select(
            "doc_id",
            "band",
            F.expr("shiftright(simhash, CAST(band * 8 AS INT)) & 255").alias("bkey"),
        )
    )
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = sim.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("fa"))
    sb = sim.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("fb"))
    hamming = F.bit_count(F.col("fa").bitwiseXOR(F.col("fb")))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", hamming.alias("hamming"))
        .where(hamming <= HAMMING_MAX)
    )


# ------------------------------------------- connected components
#
# Near-dup CLUSTERS, not just pairs: production dedup keeps one
# canonical document per connected component of the near-dup graph
# (pairs alone under-delete: a~b, b~c must collapse to ONE survivor
# even when a~c was never emitted). Spark side is iterative
# min-label propagation over the symmetrized LSH edge list — each
# round is one shuffle join + groupBy, labels only ever decrease,
# and lineage is truncated per round with localCheckpoint (the
# local[] analog of checkpointing to the cluster store, mandatory
# for any iterative DataFrame algorithm). Rounds = graph diameter;
# near-dup components are shallow (dup clusters, not social
# graphs), so this converges in a handful of rounds. At 100 TB the
# same loop runs with pointer-doubling / alternating large-star
# small-star (O(log n) rounds, Kiveris et al. "Connected Components
# in MapReduce and Beyond") — the per-round plan is identical.

MAX_CC_ROUNDS = 50

_ORACLE_Q70 = f"""
WITH RECURSIVE {SHINGLES_SQL.lstrip()},
minhash AS (
    {_minhash_select_sql()}
),
bands AS (
{_band_keys_sql()}
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a
    JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
                AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
verified AS (
    SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
    FROM cand c
    JOIN shingles a ON a.doc_id = c.doc_a
    JOIN shingles b ON b.doc_id = c.doc_b AND a.sh = b.sh
    GROUP BY c.doc_a, c.doc_b
),
edges AS (
    SELECT v.doc_a AS eu, v.doc_b AS ew
    FROM verified v
    JOIN sizes sa ON v.doc_a = sa.doc_id
    JOIN sizes sb ON v.doc_b = sb.doc_id
    WHERE CAST(v.inter AS DOUBLE) / (sa.n + sb.n - v.inter)
          >= {LSH_VERIFY_THRESHOLD}
),
sym AS (
    SELECT eu, ew FROM edges
    UNION ALL
    SELECT ew AS eu, eu AS ew FROM edges
),
reach(doc_id, label) AS (
    SELECT doc_id, doc_id AS label FROM documents
    UNION
    SELECT s.ew AS doc_id, r.label FROM reach r JOIN sym s ON s.eu = r.doc_id
),
comp AS (
    SELECT doc_id, MIN(label) AS component FROM reach GROUP BY doc_id
)
SELECT doc_id,
       CAST(component AS BIGINT) AS component,
       CAST(COUNT(*) OVER (PARTITION BY component) AS BIGINT) AS cluster_size,
       doc_id = component AS is_canonical
FROM comp
"""


@register(
    "q70_neardup_components",
    oracle=_ORACLE_Q70,
    doc="Connected components of the verified LSH near-dup graph "
    "(iterative min-label propagation, localCheckpoint-truncated "
    "lineage): every document labeled with its cluster's min "
    "doc_id, cluster size, and canonical flag — the cluster-level "
    "dedup survivor selection that pairwise output can't give.",
    tags=("dedup", "graph", "components"),
)
def q70_neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    cat = Catalog(spark, sf_dir)
    # reads the persisted pair table (lsh_pairs_df) — the LSH join +
    # Jaccard verify is shared with every other graph consumer.
    edges = lsh_pairs_df(spark, sf_dir).select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("w")
    )
    # r10 (guide §2.4): hash-partition the symmetric edge list by u
    # ONCE and checkpoint — localCheckpoint preserves the physical
    # partitioning, so every round's message join reuses it instead
    # of re-shuffling the edges per round (the q172 fix).
    sym = (
        edges.unionByName(
            edges.select(F.col("w").alias("u"), F.col("u").alias("w"))
        )
        .repartition("u")
        .localCheckpoint()
    )
    labels = cat.documents.select(
        "doc_id", F.col("doc_id").alias("label")
    ).localCheckpoint()
    # Labels are non-negative and strictly decrease wherever a
    # smaller component label arrives, so sum(label) is a
    # monotone convergence witness — one tiny agg action per
    # round instead of a join-based diff.
    prev_sum = labels.agg(F.sum("label")).collect()[0][0]
    for _ in range(MAX_CC_ROUNDS):
        lbl_u = labels.select(
            F.col("doc_id").alias("u"), F.col("label").alias("ulabel")
        )
        msgs = (
            sym.join(lbl_u, "u")
            .groupBy("w")
            .agg(F.min("ulabel").alias("nlabel"))
            .select(F.col("w").alias("doc_id"), "nlabel")
        )
        new_labels = (
            labels.join(msgs, "doc_id", "left")
            .select(
                "doc_id",
                F.least(
                    F.col("label"), F.coalesce("nlabel", "label")
                ).alias("label"),
            )
            .localCheckpoint()
        )
        new_sum = new_labels.agg(F.sum("label")).collect()[0][0]
        labels = new_labels
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    else:
        raise RuntimeError(
            f"connected components did not converge in {MAX_CC_ROUNDS} rounds"
        )
    wc = Window.partitionBy("component")
    return labels.select("doc_id", F.col("label").alias("component")).select(
        "doc_id",
        "component",
        F.count(F.lit(1)).over(wc).cast("bigint").alias("cluster_size"),
        (F.col("doc_id") == F.col("component")).alias("is_canonical"),
    )


# --------------------------------------------------- KMV sketch
#
# K-minimum-values distinct-count sketch (Bar-Yossef et al.): keep
# the K smallest hash values of a set; estimate |set| as (K-1)/u_K
# where u_K is the K-th smallest hash mapped into [0,1). The sketch
# is tiny (K doubles), MERGEABLE (union = K smallest of the merged
# lists — the property that makes distributed COUNT DISTINCT cheap:
# partial sketches combine on the map side like any aggregate), and
# here fully DETERMINISTIC: md5-derived 48-bit hashes, ties broken
# by the shingle text, the estimate a single IEEE division — so the
# sketch itself is oracle-checked, not just its error bound.
# Substrate: distinct word-trigram shingles per source (the corpus
# vocabulary is tiny; shingles give a real cardinality to estimate).

KMV_K = 64
_KMV_DENOM = float(1 << 48)

_SRC_SHINGLES_SQL = f"""
stoks AS (
    SELECT source, {TOKENS_SQL} AS toks FROM documents
),
src_shingles AS (
    SELECT DISTINCT source,
           unnest([array_to_string(list_slice(toks, i, i + 2), ' ')
                   for i in range(1, len(toks) - 1)]) AS sh
    FROM stoks
    WHERE len(toks) >= 3
)"""

_ORACLE_Q77 = f"""
WITH {_SRC_SHINGLES_SQL},
hashed AS (
    SELECT source, sh,
           CAST(('0x' || substr(md5(sh), 1, 12))::BIGINT AS DOUBLE)
               / {_KMV_DENOM} AS u
    FROM src_shingles
),
ranked AS (
    SELECT source, u,
           row_number() OVER (PARTITION BY source ORDER BY u, sh) AS rn,
           COUNT(*) OVER (PARTITION BY source) AS n
    FROM hashed
)
SELECT source,
       CAST(MAX(n) AS BIGINT) AS exact_distinct,
       CASE WHEN MAX(n) < {KMV_K} THEN CAST(MAX(n) AS DOUBLE)
            ELSE ({KMV_K} - 1) / MAX(CASE WHEN rn = {KMV_K} THEN u END)
       END AS kmv_estimate,
       ABS(CASE WHEN MAX(n) < {KMV_K} THEN CAST(MAX(n) AS DOUBLE)
                ELSE ({KMV_K} - 1) / MAX(CASE WHEN rn = {KMV_K} THEN u END)
           END - MAX(n)) / MAX(n) AS rel_err
FROM ranked
GROUP BY source
ORDER BY source
"""


@register(
    "q77_kmv_distinct_sketch",
    oracle=_ORACLE_Q77,
    doc="KMV distinct-count sketch per source over the shingle "
    "universe: (K-1)/u_K estimate vs the exact distinct count, "
    "deterministic md5 hashes so the sketch itself is oracle-checked "
    "— the mergeable scale path for COUNT DISTINCT.",
    tags=("dedup", "sketch", "kmv"),
)
def q77_kmv_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    cat = Catalog(spark, sf_dir)
    toks = tokens_col()
    shingle_arr = F.array_distinct(
        F.when(
            F.size(toks) >= 3,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - 2),
                lambda i: F.array_join(F.slice(toks, i, 3), " "),
            ),
        ).otherwise(F.array().cast("array<string>"))
    )
    src_sh = (
        fan_out(cat.documents)
        .select("source", F.explode(shingle_arr).alias("sh"))
        .distinct()
    )
    u = (
        F.conv(F.substring(F.md5("sh"), 1, 12), 16, 10).cast("bigint").cast("double")
        / F.lit(_KMV_DENOM)
    )
    hashed = src_sh.select("source", "sh", u.alias("u"))
    wr = Window.partitionBy("source").orderBy("u", "sh")
    wn = Window.partitionBy("source")
    ranked = hashed.select(
        "source",
        "u",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    est = F.when(
        F.max("n") < KMV_K, F.max("n").cast("double")
    ).otherwise(
        (KMV_K - 1) / F.max(F.when(F.col("rn") == KMV_K, F.col("u")))
    )
    return (
        ranked.groupBy("source")
        .agg(
            F.max("n").cast("bigint").alias("exact_distinct"),
            est.alias("kmv_estimate"),
            (F.abs(est - F.max("n")) / F.max("n")).alias("rel_err"),
        )
        .orderBy("source")
    )


# --------------------------------------------- KMV sketch MERGE
#
# The property that makes sketches worth carrying at 100 TB:
# sketches of two sets MERGE (union sketch = K smallest of the
# concatenated value lists) without touching the raw sets again.
# q78 estimates pairwise source-vocabulary Jaccard from merged KMV
# sketches — |A∩B| ≈ est(A) + est(B) − est(A∪B) — next to the exact
# pairwise Jaccard, all-deterministic so the whole comparison is
# hash-checked. Exact pairwise overlap is the O(pairs · vocab)
# computation the sketch path replaces with O(pairs · K).

_ORACLE_Q78 = f"""
WITH {_SRC_SHINGLES_SQL},
hashed AS (
    SELECT source, sh,
           CAST(('0x' || substr(md5(sh), 1, 12))::BIGINT AS DOUBLE)
               / {_KMV_DENOM} AS u
    FROM src_shingles
),
per_src AS (
    SELECT source, u,
           row_number() OVER (PARTITION BY source ORDER BY u, sh) AS rn,
           COUNT(*) OVER (PARTITION BY source) AS n
    FROM hashed
),
est_src AS (
    SELECT source,
           MAX(n) AS n,
           CASE WHEN MAX(n) < {KMV_K} THEN CAST(MAX(n) AS DOUBLE)
                ELSE ({KMV_K} - 1) / MAX(CASE WHEN rn = {KMV_K} THEN u END)
           END AS est
    FROM per_src GROUP BY source
),
srcs AS (SELECT DISTINCT source FROM hashed),
pairs AS (
    SELECT a.source AS src_a, b.source AS src_b
    FROM srcs a JOIN srcs b ON a.source < b.source
),
inter AS (
    SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS i
    FROM hashed a JOIN hashed b ON a.sh = b.sh AND a.source < b.source
    GROUP BY src_a, src_b
),
merged AS (
    SELECT p.src_a, p.src_b, h.sh, MIN(h.u) AS u
    FROM pairs p
    JOIN hashed h ON h.source = p.src_a OR h.source = p.src_b
    GROUP BY p.src_a, p.src_b, h.sh
),
ranked_m AS (
    SELECT src_a, src_b, u,
           row_number() OVER (PARTITION BY src_a, src_b ORDER BY u, sh) AS rn,
           COUNT(*) OVER (PARTITION BY src_a, src_b) AS n_union
    FROM merged
),
est_u AS (
    SELECT src_a, src_b,
           MAX(n_union) AS n_union,
           CASE WHEN MAX(n_union) < {KMV_K} THEN CAST(MAX(n_union) AS DOUBLE)
                ELSE ({KMV_K} - 1) / MAX(CASE WHEN rn = {KMV_K} THEN u END)
           END AS est_union
    FROM ranked_m GROUP BY src_a, src_b
)
SELECT e.src_a, e.src_b,
       CAST(COALESCE(i.i, 0) AS DOUBLE) / e.n_union AS exact_jaccard,
       (ea.est + eb.est - e.est_union) / e.est_union AS kmv_jaccard
FROM est_u e
LEFT JOIN inter i ON i.src_a = e.src_a AND i.src_b = e.src_b
JOIN est_src ea ON ea.source = e.src_a
JOIN est_src eb ON eb.source = e.src_b
ORDER BY e.src_a, e.src_b
"""


@register(
    "q78_kmv_sketch_merge",
    oracle=_ORACLE_Q78,
    doc="KMV sketch MERGE: pairwise source-vocabulary Jaccard "
    "estimated from merged sketches (est A + est B - est A∪B over "
    "est A∪B) beside the exact pairwise Jaccard — mergeability is "
    "what replaces O(pairs · vocab) with O(pairs · K).",
    tags=("dedup", "sketch", "kmv", "merge"),
)
def q78_kmv_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    cat = Catalog(spark, sf_dir)
    toks = tokens_col()
    shingle_arr = F.array_distinct(
        F.when(
            F.size(toks) >= 3,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - 2),
                lambda i: F.array_join(F.slice(toks, i, 3), " "),
            ),
        ).otherwise(F.array().cast("array<string>"))
    )
    hashed = (
        fan_out(cat.documents)
        .select("source", F.explode(shingle_arr).alias("sh"))
        .distinct()
        .withColumn(
            "u",
            F.conv(F.substring(F.md5("sh"), 1, 12), 16, 10)
            .cast("bigint")
            .cast("double")
            / F.lit(_KMV_DENOM),
        )
    )
    wr = Window.partitionBy("source").orderBy("u", "sh")
    wn = Window.partitionBy("source")
    per_src = hashed.select(
        "source", "u",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    est_expr = F.when(
        F.max("n") < KMV_K, F.max("n").cast("double")
    ).otherwise((KMV_K - 1) / F.max(F.when(F.col("rn") == KMV_K, F.col("u"))))
    est_src = per_src.groupBy("source").agg(est_expr.alias("est"))

    srcs = hashed.select("source").distinct()
    pairs = (
        srcs.select(F.col("source").alias("src_a"))
        .join(
            srcs.select(F.col("source").alias("src_b")),
            F.col("src_a") < F.col("src_b"),
        )
    )
    ha = hashed.select(F.col("source").alias("src_a"), F.col("sh").alias("sh_a"))
    hb = hashed.select(
        F.col("source").alias("src_b"), F.col("sh").alias("sh_b")
    )
    inter = (
        ha.join(hb, (F.col("sh_a") == F.col("sh_b")) & (F.col("src_a") < F.col("src_b")))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    # sketch merge: pair × member-source equi-joins (no OR-join —
    # that would plan as a nested loop), dedup shared shingles
    m_a = pairs.join(hashed.select(F.col("source").alias("src_a"), "sh", "u"), "src_a")
    m_b = pairs.join(hashed.select(F.col("source").alias("src_b"), "sh", "u"), "src_b")
    merged = (
        m_a.select("src_a", "src_b", "sh", "u")
        .unionByName(m_b.select("src_a", "src_b", "sh", "u"))
        .groupBy("src_a", "src_b", "sh")
        .agg(F.min("u").alias("u"))
    )
    wrm = Window.partitionBy("src_a", "src_b").orderBy("u", "sh")
    wnm = Window.partitionBy("src_a", "src_b")
    ranked_m = merged.select(
        "src_a", "src_b", "u",
        F.row_number().over(wrm).alias("rn"),
        F.count(F.lit(1)).over(wnm).alias("n_union"),
    )
    est_u_expr = F.when(
        F.max("n_union") < KMV_K, F.max("n_union").cast("double")
    ).otherwise((KMV_K - 1) / F.max(F.when(F.col("rn") == KMV_K, F.col("u"))))
    est_u = ranked_m.groupBy("src_a", "src_b").agg(
        F.max("n_union").alias("n_union"), est_u_expr.alias("est_union")
    )
    ea = est_src.select(F.col("source").alias("src_a"), F.col("est").alias("ea"))
    eb = est_src.select(F.col("source").alias("src_b"), F.col("est").alias("eb"))
    return (
        est_u.join(inter, ["src_a", "src_b"], "left")
        .join(F.broadcast(ea), "src_a")
        .join(F.broadcast(eb), "src_b")
        .select(
            "src_a",
            "src_b",
            (
                F.coalesce("i", F.lit(0)).cast("double") / F.col("n_union")
            ).alias("exact_jaccard"),
            (
                (F.col("ea") + F.col("eb") - F.col("est_union"))
                / F.col("est_union")
            ).alias("kmv_jaccard"),
        )
        .orderBy("src_a", "src_b")
    )


# -------------------- q107: triangles / clustering coefficient ------
#
# Graph-metric pass over the verified SimHash near-dup graph (q38's
# edges): triangle count via the oriented 3-way self-join (every
# edge stored a < b, so each triangle a<b<c is enumerated exactly
# once — the standard distributed triangle-counting orientation;
# at real scale the orientation is by DEGREE, which caps the wedge
# fan-out at sqrt(m) per node), wedge count from the symmetrized
# degree distribution (deg*(deg-1) DIV 2 — integer-exact), and the
# global clustering coefficient 3*triangles/wedges in integral ppm.
# Dup clusters are near-cliques, so cc close to 1e6 is itself a
# dedup-quality signal: low cc means the LSH verify threshold is
# admitting chains, not clusters.

_ORACLE_Q107 = f"""
WITH {_simhash_cte_sql()},
bands AS (
    SELECT doc_id, b AS band, (simhash >> (b * 8)) & 255 AS bkey
    FROM simhash, UNNEST(range(0, 4)) AS t(b)
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a
    JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
                AND a.doc_id < b.doc_id
),
edges AS (
    SELECT c.doc_a, c.doc_b
    FROM cand c
    JOIN simhash sa ON c.doc_a = sa.doc_id
    JOIN simhash sb ON c.doc_b = sb.doc_id
    WHERE bit_count(xor(sa.simhash, sb.simhash)) <= {HAMMING_MAX}
),
deg AS (
    SELECT v, COUNT(*) AS d FROM (
        SELECT doc_a AS v FROM edges
        UNION ALL
        SELECT doc_b AS v FROM edges
    ) GROUP BY v
),
tri AS (
    SELECT COUNT(*) AS t
    FROM edges e1
    JOIN edges e2 ON e2.doc_a = e1.doc_b
    JOIN edges e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
)
SELECT CAST((SELECT COUNT(*) FROM edges) AS BIGINT)            AS n_edges,
       CAST((SELECT COUNT(*) FROM deg) AS BIGINT)              AS n_vertices,
       CAST((SELECT SUM(d * (d - 1) // 2) FROM deg) AS BIGINT) AS n_wedges,
       CAST((SELECT t FROM tri) AS BIGINT)                     AS n_triangles,
       CAST((SELECT t FROM tri) * 3000000
            // (SELECT SUM(d * (d - 1) // 2) FROM deg) AS BIGINT)
                                                               AS global_cc_ppm
"""


@register(
    "q107_neardup_triangles",
    oracle=_ORACLE_Q107,
    doc="Triangle count + global clustering coefficient over the "
    "verified SimHash near-dup graph: oriented 3-way self-join "
    "(each triangle once), wedge count from symmetrized degrees, "
    "cc in integral ppm — low cc flags an LSH threshold admitting "
    "chains instead of dup clusters.",
    tags=("dedup", "graph", "triangles"),
)
def q107_neardup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The edge list feeds FIVE consumers (degree, both wedge sides,
    # the 3-way triangle join, the edge count); checkpoint it once
    # instead of re-running the simhash build + banding + Hamming
    # verify per consumer.
    edges = (
        q38_simhash_neardup(spark, sf_dir).select("doc_a", "doc_b").localCheckpoint()
    )
    deg = (
        edges.select(F.col("doc_a").alias("v"))
        .unionAll(edges.select(F.col("doc_b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    wedges = deg.agg(
        F.expr("CAST(SUM(d * (d - 1) DIV 2) AS BIGINT)").alias("n_wedges"),
        F.count(F.lit(1)).alias("n_vertices"),
    )
    # Degree-ordered orientation (the MapReduce-era standard for
    # distributed triangle counting): direct every edge from the
    # (degree, id)-smaller endpoint to the larger, enumerate wedges
    # only between OUT-edges of the pivot, and close them against
    # the oriented edge list. Work drops from sum(d^2) over raw
    # degrees to sum(outdeg^2) = O(m^1.5) worst-case — on a skewed
    # dup graph the hub vertex no longer pivots its whole
    # neighborhood. The triangle COUNT is identical to any other
    # orientation, so the oracle needs no change.
    da = deg.select(F.col("v").alias("doc_a"), F.col("d").alias("da"))
    db = deg.select(F.col("v").alias("doc_b"), F.col("d").alias("db"))
    akey = F.struct(F.col("da").alias("d"), F.col("doc_a").alias("v"))
    bkey = F.struct(F.col("db").alias("d"), F.col("doc_b").alias("v"))
    oriented = (
        edges.join(da, "doc_a")
        .join(db, "doc_b")
        .select(
            F.when(akey < bkey, F.col("doc_a")).otherwise(F.col("doc_b")).alias("src"),
            F.when(akey < bkey, F.col("doc_b")).otherwise(F.col("doc_a")).alias("dst"),
            F.when(akey < bkey, bkey).otherwise(akey).alias("dst_key"),
        )
    )
    # NOT checkpointed: rebuilding it per consumer is two cheap keyed
    # joins off the checkpointed edge list, while materializing a
    # second multi-million-row deserialized copy was the difference
    # between fitting and OOM-ing a 4g local driver at the 10x tier.
    w1 = oriented.select("src", F.col("dst").alias("v"), F.col("dst_key").alias("vkey"))
    w2 = oriented.select("src", F.col("dst").alias("w"), F.col("dst_key").alias("wkey"))
    # r10: aggregate wedge MULTIPLICITY per endpoint pair before the
    # close join (guide §2.3 "aggregate before you shuffle"). The raw
    # wedge stream is O(sum outdeg^2) = O(m^1.5) rows; the groupBy's
    # map-side partial aggregation compresses it to the distinct
    # co-out-neighbor pairs INSIDE the wedge join's output partitions,
    # so the exchange feeding the close join carries one row per
    # (v, w) pair instead of one per wedge instance (at sf0.1:
    # 32.5M wedges -> the distinct pairs; A/B 8.26 -> 7.05 s median,
    # identical rows). n_triangles = SUM of multiplicities over the
    # pairs an oriented edge closes — identical to counting the
    # wedge-join rows one by one.
    tri = (
        w1.join(w2, "src")
        .where(F.col("vkey") < F.col("wkey"))
        .groupBy("v", "w")
        .agg(F.count(F.lit(1)).alias("wc"))
        .join(
            oriented.select(F.col("src").alias("v"), F.col("dst").alias("w")),
            ["v", "w"],
        )
        .agg(
            F.coalesce(F.sum("wc"), F.lit(0))
            .cast("long")
            .alias("n_triangles")
        )
    )
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        n_edges.crossJoin(wedges)
        .crossJoin(tri)
        .select(
            "n_edges",
            "n_vertices",
            "n_wedges",
            "n_triangles",
            F.expr("CAST(n_triangles * 3000000 DIV n_wedges AS BIGINT)").alias(
                "global_cc_ppm"
            ),
        )
    )


# --------------------- q115: asymmetric containment (sub-document dup)
#
# Jaccard (q35) misses the commonest real-world duplication mode: a
# small document embedded verbatim inside a much larger one (quoted
# articles, boilerplate-wrapped reposts) — the union term dilutes
# the score below threshold. Containment C = |A∩B| / min(|A|,|B|)
# is the standard fix (Broder's "containment" from the original
# resemblance paper). This reports pairs a Jaccard dedup would KEEP
# that containment flags: C >= 0.9 but J < 0.8.
#
# Same candidate generator and scale bound as q35: one equi-join on
# the DF-capped shingle frame (per-shingle fan-out <= SHINGLE_DF_CAP),
# one groupBy — thresholds compared in exact integers (inter*10 vs
# 9*min / 8*union), the division only in the reported column.
CONTAIN_THRESHOLD_X10 = 9  # containment >= 0.9

_ORACLE_Q115 = f"""
WITH {SHINGLES_SQL},
hot AS (
    SELECT sh FROM shingles GROUP BY sh HAVING COUNT(*) > {SHINGLE_DF_CAP}
),
rare_sh AS (
    SELECT s.doc_id, s.sh FROM shingles s ANTI JOIN hot h ON s.sh = h.sh
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM rare_sh GROUP BY doc_id),
pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
    FROM rare_sh a
    JOIN rare_sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
    GROUP BY doc_a, doc_b
)
SELECT doc_a, doc_b, inter,
       sa.n AS na, sb.n AS nb,
       CAST(inter AS DOUBLE) / least(sa.n, sb.n) AS containment
FROM pairs
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE inter * 10 >= {CONTAIN_THRESHOLD_X10} * least(sa.n, sb.n)
  AND inter * 10 <  8 * (sa.n + sb.n - inter)
ORDER BY doc_a, doc_b
"""


@register(
    "q115_shingle_containment",
    oracle=_ORACLE_Q115,
    doc="Asymmetric containment dedup: pairs with C=|A∩B|/min >= 0.9 "
    "but Jaccard < 0.8 — sub-document duplication Jaccard misses. "
    "Same DF-capped shingle equi-join bound as q35; thresholds in "
    "exact integer arithmetic.",
    tags=("dedup", "containment"),
)
def q115_shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    rare_sh = rare_shingles_df(spark, sf_dir)
    sizes = rare_sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = rare_sh.alias("a")
    b = rare_sh.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    inter10 = F.col("inter") * 10
    mn = F.least(F.col("na"), F.col("nb"))
    union = F.col("na") + F.col("nb") - F.col("inter")
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .where(
            (inter10 >= CONTAIN_THRESHOLD_X10 * mn) & (inter10 < 8 * union)
        )
        .select(
            "doc_a",
            "doc_b",
            "inter",
            "na",
            "nb",
            (F.col("inter").cast("double") / mn).alias("containment"),
        )
        .orderBy("doc_a", "doc_b")
    )


# ------------- q119: MinHash estimator accuracy vs exact Jaccard
#
# The sketch-accuracy report for the LSH path (the q72/q95 pattern
# applied to MinHash): for every band-candidate pair, the MinHash
# ESTIMATE (matching hashes / 16) next to the EXACT shingle Jaccard,
# with the error. This is the tuning artifact for NUM_HASHES /
# banding: at 100 TB you decide "are 16 hashes enough at my 0.8
# threshold" from exactly this table, computed on a sample — and
# every column here is engine-exact (match count is an integer;
# est = mh/16 has a power-of-two denominator so the double is exact;
# the exact Jaccard is one correctly-rounded division).
# Scale shape: candidates only from LSH buckets (never all pairs);
# the signature compare is a row-local integer sum after two
# signature-table joins on doc id.
_ORACLE_Q119 = f"""
WITH {SHINGLES_SQL},
minhash AS (
    {_minhash_select_sql()}
),
bands AS (
{_band_keys_sql()}
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a
    JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
                AND a.doc_id < b.doc_id
),
mh AS (
    SELECT c.doc_a, c.doc_b,
           CAST({" + ".join(f"(CASE WHEN ma.h{i} = mb.h{i} THEN 1 ELSE 0 END)" for i in range(NUM_HASHES))} AS BIGINT) AS matches
    FROM cand c
    JOIN minhash ma ON ma.doc_id = c.doc_a
    JOIN minhash mb ON mb.doc_id = c.doc_b
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
exact AS (
    SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
    FROM cand c
    JOIN shingles a ON a.doc_id = c.doc_a
    JOIN shingles b ON b.doc_id = c.doc_b AND a.sh = b.sh
    GROUP BY c.doc_a, c.doc_b
)
SELECT m.doc_a, m.doc_b, m.matches,
       CAST(COALESCE(e.inter, 0) AS BIGINT) AS inter,
       CAST(sa.n + sb.n - COALESCE(e.inter, 0) AS BIGINT) AS unions,
       CAST(m.matches AS DOUBLE) / {NUM_HASHES} AS est_jaccard,
       CAST(COALESCE(e.inter, 0) AS DOUBLE)
           / (sa.n + sb.n - COALESCE(e.inter, 0)) AS exact_jaccard,
       abs(CAST(m.matches AS DOUBLE) / {NUM_HASHES}
           - CAST(COALESCE(e.inter, 0) AS DOUBLE)
             / (sa.n + sb.n - COALESCE(e.inter, 0))) AS abs_err
FROM mh m
LEFT JOIN exact e ON e.doc_a = m.doc_a AND e.doc_b = m.doc_b
JOIN sizes sa ON m.doc_a = sa.doc_id
JOIN sizes sb ON m.doc_b = sb.doc_id
ORDER BY m.doc_a, m.doc_b
"""


@register(
    "q119_minhash_accuracy",
    oracle=_ORACLE_Q119,
    doc="MinHash estimate vs exact Jaccard for every LSH-candidate "
    "pair, with absolute error — the NUM_HASHES/banding tuning "
    "table. Match count is a row-local integer sum; est = k/16 is "
    "an exact power-of-two double; candidates come only from LSH "
    "buckets.",
    tags=("dedup", "minhash", "accuracy"),
)
def q119_minhash_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = shingles_df(spark, sf_dir)
    minhash = minhash_df(spark, sf_dir)
    bands = band_keys(minhash)
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    ma = minhash.select(
        F.col("doc_id").alias("doc_a"), *[F.col(f"h{i}").alias(f"a{i}") for i in range(NUM_HASHES)]
    )
    mb = minhash.select(
        F.col("doc_id").alias("doc_b"), *[F.col(f"h{i}").alias(f"b{i}") for i in range(NUM_HASHES)]
    )
    match_sum = None
    for i in range(NUM_HASHES):
        term = F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        match_sum = term if match_sum is None else match_sum + term
    mh = (
        cand.join(ma, "doc_a")
        .join(mb, "doc_b")
        .select("doc_a", "doc_b", match_sum.cast("bigint").alias("matches"))
    )
    sha = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    shb = sh.select(F.col("doc_id").alias("db"), F.col("sh").alias("sh_b"))
    exact = (
        cand.join(sha, "doc_a")
        .join(
            shb,
            (F.col("doc_b") == F.col("db")) & (F.col("sh_a") == F.col("sh_b")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    inter = F.coalesce(F.col("inter"), F.lit(0)).cast("bigint")
    unions = (F.col("na") + F.col("nb") - inter).cast("bigint")
    est = F.col("matches").cast("double") / NUM_HASHES
    exact_j = inter.cast("double") / unions
    return (
        mh.join(exact, ["doc_a", "doc_b"], "left")
        .join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "matches",
            inter.alias("inter"),
            unions.alias("unions"),
            est.alias("est_jaccard"),
            exact_j.alias("exact_jaccard"),
            F.abs(est - exact_j).alias("abs_err"),
        )
        .orderBy("doc_a", "doc_b")
    )


# ------------- q121: dedup threshold sensitivity (one-pass sweep)
#
# "How much of the corpus disappears if I set the Jaccard bar at
# 0.5 / 0.6 / 0.7 / 0.8 / 0.9?" — the report that decides the
# threshold BEFORE a 100 TB dedup run commits to one. One pass over
# the same DF-capped pair frame as q35: per threshold, conditional
# sums count qualifying pairs and distinct blocked docs (doc_b of a
# qualifying pair, the min-id-keeps policy). Thresholds compared in
# exact integers (inter*10 >= t*union); no extra shuffle per
# threshold — five report rows from ONE candidate generation.
_THRESHOLDS_X10 = (5, 6, 7, 8, 9)

_ORACLE_Q121 = f"""
WITH {SHINGLES_SQL},
hot AS (
    SELECT sh FROM shingles GROUP BY sh HAVING COUNT(*) > {SHINGLE_DF_CAP}
),
rare_sh AS (
    SELECT s.doc_id, s.sh FROM shingles s ANTI JOIN hot h ON s.sh = h.sh
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM rare_sh GROUP BY doc_id),
pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
    FROM rare_sh a
    JOIN rare_sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
    GROUP BY doc_a, doc_b
),
scored AS (
    SELECT p.doc_a, p.doc_b, p.inter, sa.n + sb.n - p.inter AS unions
    FROM pairs p
    JOIN sizes sa ON p.doc_a = sa.doc_id
    JOIN sizes sb ON p.doc_b = sb.doc_id
),
t AS (SELECT UNNEST([{", ".join(str(t) for t in _THRESHOLDS_X10)}]) AS t10)
SELECT t.t10,
       CAST(COUNT(CASE WHEN s.inter * 10 >= t.t10 * s.unions THEN 1 END) AS BIGINT)
           AS qualifying_pairs,
       CAST(COUNT(DISTINCT CASE WHEN s.inter * 10 >= t.t10 * s.unions
                                THEN s.doc_b END) AS BIGINT) AS blocked_docs
FROM t CROSS JOIN scored s
GROUP BY t.t10
ORDER BY t.t10
"""


@register(
    "q121_threshold_sweep",
    oracle=_ORACLE_Q121,
    doc="Dedup threshold sensitivity: qualifying pairs and blocked "
    "docs at Jaccard 0.5-0.9 from ONE DF-capped candidate pass — "
    "integer-exact threshold tests, O(thresholds) output.",
    tags=("dedup", "tuning"),
)
def q121_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    rare_sh = rare_shingles_df(spark, sf_dir)
    sizes = rare_sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = rare_sh.alias("a")
    b = rare_sh.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    scored = (
        pairs.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "inter",
            (F.col("na") + F.col("nb") - F.col("inter")).alias("unions"),
        )
    )
    # thresholds as an exploded tiny dimension — the pair frame is
    # scanned once; the per-threshold conditionals are row-local
    hits = scored.select(
        "doc_b",
        "inter",
        "unions",
        F.explode(F.array(*[F.lit(t) for t in _THRESHOLDS_X10])).alias("t10"),
    )
    qual = F.col("inter") * 10 >= F.col("t10") * F.col("unions")
    return (
        hits.groupBy("t10")
        .agg(
            F.count(F.when(qual, 1)).alias("qualifying_pairs"),
            F.countDistinct(F.when(qual, F.col("doc_b"))).alias("blocked_docs"),
        )
        .orderBy("t10")
    )


# ----------- q144: prefix-filtered similarity join (AllPairs/PPJoin)
#
# The THIRD classic candidate-pruning principle, alongside the
# DF-cap (q35) and LSH banding (q36): PREFIX FILTERING (Bayardo's
# AllPairs / PPJoin). Order every document's (DF-capped) shingles
# rarest-first; for Jaccard >= 1/2 a document with n shingles needs
# only its first p = n - ceil(n/2) + 1 shingles indexed — any
# qualifying pair MUST collide inside both prefixes (if two sets
# disagree on all prefix elements, their overlap is too small to
# reach the threshold). Candidates therefore come from an equi-join
# of PREFIX postings only — far smaller than the full inverted
# index — and are then verified exactly. Every step is integer /
# deterministic: global order = (df, shingle), prefix lengths by
# integer ceil, the threshold test 3·inter >= na + nb.
PREFIX_JACCARD_X2 = 1  # threshold 1/2

_ORACLE_Q144 = f"""
WITH {SHINGLES_SQL},
hot AS (
    SELECT sh FROM shingles GROUP BY sh HAVING COUNT(*) > {SHINGLE_DF_CAP}
),
rare_sh AS (
    SELECT s.doc_id, s.sh FROM shingles s ANTI JOIN hot h ON s.sh = h.sh
),
df AS (SELECT sh, CAST(COUNT(*) AS BIGINT) AS df FROM rare_sh GROUP BY sh),
ranked AS (
    SELECT r.doc_id, r.sh,
           CAST(row_number() OVER (
               PARTITION BY r.doc_id ORDER BY d.df, r.sh
           ) AS BIGINT) AS rk,
           CAST(COUNT(*) OVER (PARTITION BY r.doc_id) AS BIGINT) AS n
    FROM rare_sh r JOIN df d ON d.sh = r.sh
),
prefix AS (
    SELECT doc_id, sh, n FROM ranked
    WHERE rk <= n - (n + 1) // 2 + 1
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM prefix a JOIN prefix b
      ON a.sh = b.sh AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM rare_sh GROUP BY doc_id),
verified AS (
    SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS inter
    FROM cand c
    JOIN rare_sh a ON a.doc_id = c.doc_a
    JOIN rare_sh b ON b.doc_id = c.doc_b AND a.sh = b.sh
    GROUP BY c.doc_a, c.doc_b
)
SELECT v.doc_a, v.doc_b, v.inter,
       sa.n + sb.n - v.inter AS unions,
       CAST(v.inter AS DOUBLE) / (sa.n + sb.n - v.inter) AS jaccard
FROM verified v
JOIN sizes sa ON v.doc_a = sa.doc_id
JOIN sizes sb ON v.doc_b = sb.doc_id
WHERE 3 * v.inter >= sa.n + sb.n
ORDER BY v.doc_a, v.doc_b
"""


@register(
    "q144_prefix_filter_join",
    oracle=_ORACLE_Q144,
    doc="AllPairs/PPJoin prefix filtering: rarest-first shingle "
    "order, only the first n-ceil(n/2)+1 shingles per doc indexed; "
    "Jaccard >= 1/2 pairs MUST collide inside both prefixes, so "
    "candidates come from the tiny prefix-posting join, verified "
    "exactly (3·inter >= na+nb). The third candidate-pruning "
    "principle next to the DF-cap (q35) and LSH bands (q36).",
    tags=("dedup", "jaccard", "prefix-filter"),
)
def q144_prefix_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    rare_sh = rare_shingles_df(spark, sf_dir)
    df = rare_sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    wr = Window.partitionBy("doc_id").orderBy("df", "sh")
    wn = Window.partitionBy("doc_id")
    ranked = (
        rare_sh.join(df, "sh")
        .select(
            "doc_id",
            "sh",
            F.row_number().over(wr).cast("bigint").alias("rk"),
            F.count(F.lit(1)).over(wn).alias("n"),
        )
    )
    prefix = ranked.where(
        F.col("rk") <= F.col("n") - F.expr("(n + 1) div 2") + 1
    ).select("doc_id", "sh")
    a = prefix.alias("a")
    b = prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # Verification the way PPJoin actually does it: each candidate
    # pair merges its two docs' shingle SETS directly. Expressed as
    # two keyed joins against a per-doc array table plus a row-local
    # array_intersect — exact (the shingle lists are per-doc
    # distinct by construction). The previous row-exploded form
    # (cand ⋈ postings ⋈ postings → groupBy pair) shuffled
    # |candidates| × avg-shingles rows (104M at the 10x tier, 2/3
    # of the query's wall time); this shuffles |candidates| rows.
    doc_sets = rare_sh.groupBy("doc_id").agg(
        F.collect_list("sh").alias("shs"), F.count(F.lit(1)).alias("n")
    )
    verified = (
        cand.join(
            doc_sets.select(
                F.col("doc_id").alias("doc_a"),
                F.col("shs").alias("shs_a"),
                F.col("n").alias("na"),
            ),
            "doc_a",
        )
        .join(
            doc_sets.select(
                F.col("doc_id").alias("doc_b"),
                F.col("shs").alias("shs_b"),
                F.col("n").alias("nb"),
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("shs_a", "shs_b")).cast("bigint").alias("inter"),
            "na",
            "nb",
        )
    )
    unions = F.col("na") + F.col("nb") - F.col("inter")
    return (
        verified.where(F.lit(3) * F.col("inter") >= F.col("na") + F.col("nb"))
        .select(
            "doc_a",
            "doc_b",
            "inter",
            unions.alias("unions"),
            (F.col("inter").cast("double") / unions).alias("jaccard"),
        )
        .orderBy("doc_a", "doc_b")
    )


# -------- q145: KMV join-cardinality estimation (optimizer sketch)
#
# The optimizer-side use of the KMV sketch (q77/q78): estimate a
# join's key overlap WITHOUT running the join — the cardinality
# estimate a cost-based planner needs to pick broadcast vs shuffle.
# Method (Beyer et al.): keep the K smallest hash values of the
# KEY UNION with per-key membership flags; Jaccard_est = (members
# of both sets among those K) / K, |A∪B|_est = (K−1)/u_K,
# |A∩B|_est = J_est · |A∪B|_est. Everything deterministic: md5
# hashes, ties by key, matches an integer, K = 64 a power of two
# (matches/K exact in double). The report carries exact values +
# relative error — the sketch grades itself. Scale shape: the
# flagged key union is one combinable groupBy; the K smallest are
# a partial top-K (here a rank over the O(distinct) frame); sketch
# state is K rows per side, mergeable exactly like q78.
_ORACLE_Q145 = f"""
WITH a AS (SELECT DISTINCT o_custkey AS k FROM orders),
b AS (SELECT DISTINCT c_custkey AS k FROM customer WHERE c_acctbal > 0),
u AS (
    SELECT COALESCE(a.k, b.k) AS k,
           CASE WHEN a.k IS NOT NULL THEN 1 ELSE 0 END AS in_a,
           CASE WHEN b.k IS NOT NULL THEN 1 ELSE 0 END AS in_b,
           CAST(('0x' || substr(md5(CAST(COALESCE(a.k, b.k) AS VARCHAR)), 1, 12))::BIGINT AS DOUBLE)
               / {_KMV_DENOM} AS h
    FROM a FULL OUTER JOIN b ON a.k = b.k
),
r AS (
    SELECT k, in_a, in_b, h,
           row_number() OVER (ORDER BY h, k) AS rn
    FROM u
)
SELECT CAST((SELECT SUM(in_a) FROM u) AS BIGINT) AS exact_a,
       CAST((SELECT SUM(in_b) FROM u) AS BIGINT) AS exact_b,
       CAST((SELECT SUM(in_a * in_b) FROM u) AS BIGINT) AS exact_inter,
       CAST((SELECT SUM(in_a * in_b) FROM r WHERE rn <= {KMV_K}) AS BIGINT)
           AS sketch_matches,
       ({KMV_K} - 1) / (SELECT MAX(h) FROM r WHERE rn <= {KMV_K}) AS union_est,
       CAST((SELECT SUM(in_a * in_b) FROM r WHERE rn <= {KMV_K}) AS DOUBLE)
           / {KMV_K}
           * (({KMV_K} - 1) / (SELECT MAX(h) FROM r WHERE rn <= {KMV_K}))
           AS inter_est
"""


@register(
    "q145_kmv_join_cardinality",
    oracle=_ORACLE_Q145,
    doc="Join-cardinality estimation from KMV sketches (the "
    "cost-based-optimizer use): K smallest union hashes with "
    "membership flags give Jaccard and intersection estimates "
    "WITHOUT running the join; exact values + the estimates in one "
    "deterministic row. Sketch state is K rows per side, mergeable "
    "(q78); the K-min selection is a partial top-K at scale.",
    tags=("sketch", "kmv", "optimizer"),
)
def q145_kmv_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    a = cat.orders.select(F.col("o_custkey").alias("k")).distinct().withColumn(
        "in_a", F.lit(1)
    )
    b = (
        cat.customer.where(F.col("c_acctbal") > 0)
        .select(F.col("c_custkey").alias("k"))
        .distinct()
        .withColumn("in_b", F.lit(1))
    )
    u = (
        a.join(b, "k", "full_outer")
        .select(
            "k",
            F.coalesce("in_a", F.lit(0)).alias("in_a"),
            F.coalesce("in_b", F.lit(0)).alias("in_b"),
        )
        .withColumn(
            "h",
            F.conv(F.substring(F.md5(F.col("k").cast("string")), 1, 12), 16, 10)
            .cast("bigint")
            .cast("double")
            / _KMV_DENOM,
        )
    )
    exact = u.agg(
        F.sum("in_a").alias("exact_a"),
        F.sum("in_b").alias("exact_b"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("exact_inter"),
    )
    # K-min selection as a TRUE partial top-k (orderBy+limit ->
    # TakeOrderedAndProject), not a rank window over the whole
    # union key stream — same rows, per-partition heads only.
    sk = u.orderBy("h", "k").limit(KMV_K).agg(
        F.sum(F.col("in_a") * F.col("in_b")).alias("sketch_matches"),
        F.max("h").alias("u_k"),
    )
    return exact.crossJoin(sk).select(
        "exact_a",
        "exact_b",
        "exact_inter",
        "sketch_matches",
        ((F.lit(KMV_K) - 1) / F.col("u_k")).alias("union_est"),
        (
            F.col("sketch_matches").cast("double")
            / KMV_K
            * ((F.lit(KMV_K) - 1) / F.col("u_k"))
        ).alias("inter_est"),
    )


# ------------- q164: sorted-neighborhood near-dup candidates (SNM)
#
# The FOURTH candidate-pruning principle next to the shingle-DF cap
# (q35), LSH banding (q36) and the prefix filter (q144): SORTED
# NEIGHBORHOOD (Hernandez & Stolfo). Sort documents by a similarity-
# preserving blocking key — here the 1-hash MinHash, i.e. the
# minimum shingle hash, which near-identical shingle sets share with
# probability ~J(a,b) — and only compare each document with its
# SNM_WINDOW-1 successors in sort order: candidate count is O(n·W)
# BY CONSTRUCTION, no bucket-size variance at all (LSH's hot-bucket
# risk traded for a miss probability the window size tunes).
# Verification is the same exact-Jaccard equi-join as q36, in pure
# integer arithmetic (inter*10 >= 8*union ⇔ J >= 0.8).
#
# Scale shape (and the actual implementation below): value-range
# bucketing on the 48-bit key needs no global sort — bucket =
# skey div (2^48/B) is deterministic per-row algebra, the lead()
# window runs PER BUCKET in parallel, and only native anchors emit
# pairs. The key is NOT uniform — it is the minimum of each
# document's shingle hashes, which is stochastically SMALLER for
# documents with more shingles — so value-range buckets can be
# arbitrarily skewed, sparse, or empty. Correctness under that
# skew (round-5 advisor fix): a tail anchor of bucket b needs the
# next W-1 rows in GLOBAL order, which may span several sparse or
# empty following buckets. So each bucket's HEAD (its first W-1
# rows, a map-side WindowGroupLimit top-k) is replicated backwards
# along a chain computed from the per-bucket count list: bucket b
# receives heads of following non-empty buckets until at least
# W-1 following rows are guaranteed. The count list is O(B) rows
# of AQE-style metadata collected to the driver — never the data.
# Replicated rows always sort after every native row (their skey
# lies in a strictly higher value range) and in global order among
# themselves, so the per-bucket window sees exactly the global
# successor sequence: the pair set is IDENTICAL to the sequential
# global-sort spec (ties can't straddle buckets — equal keys share
# a bucket). Pinned against a crafted skewed/empty-bucket key set
# in tests/test_dedup.py::test_snm_bucket_parallel_matches_sequential.

SNM_WINDOW = 4
SNM_BUCKETS = 16
_SNM_BUCKET_DIV = (1 << 48) // SNM_BUCKETS

def snm_candidate_pairs(bucketed: DataFrame) -> DataFrame:
    """Bucket-parallel sorted-neighborhood candidate pairs over a
    ``(doc_id, skey, bucket)`` frame — pair set provably identical
    to the sequential spec (one global sort by (skey, doc_id), each
    row paired with its SNM_WINDOW-1 successors).

    Skew/sparsity-safe: each bucket's head (first W-1 rows, a
    map-side per-bucket top-k) is replicated backwards along a
    chain derived from the per-bucket count list, so a tail anchor
    always sees its next W-1 GLOBAL successors even when the
    following buckets are sparse or empty. The count list is O(B)
    driver-side metadata (B = number of non-empty buckets), the
    same scale class as AQE statistics — the data never moves
    through one task."""
    spark = bucketed.sparkSession
    counts = sorted(
        (r["bucket"], r["cnt"])
        for r in bucketed.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    )
    blist = [b for b, _ in counts]
    cnt = dict(counts)
    # chain plan: bucket b borrows heads of following non-empty
    # buckets until >= W-1 following rows are guaranteed (a chained
    # bucket with cnt < W-1 contributes ALL its rows via its head,
    # so the union of chained heads contains exactly the first W-1
    # rows after bucket b in global order).
    repl: list[tuple[int, int]] = []
    for i, b in enumerate(blist[:-1]):
        acc = 0
        for c in blist[i + 1 :]:
            repl.append((c, b))
            acc += min(cnt[c], SNM_WINDOW - 1)
            if acc >= SNM_WINDOW - 1:
                break
    w = Window.partitionBy("bucket").orderBy("skey", "doc_id")
    native = bucketed.select(
        "doc_id", "skey", "bucket", F.lit(True).alias("native")
    )
    if repl:
        map_df = spark.createDataFrame(
            repl, "src_bucket BIGINT, dst_bucket BIGINT"
        )
        heads = (
            bucketed.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") < SNM_WINDOW)
            .drop("rn")
        )
        ghosts = heads.join(
            F.broadcast(map_df), F.col("bucket") == F.col("src_bucket")
        ).select(
            "doc_id",
            "skey",
            F.col("dst_bucket").alias("bucket"),
            F.lit(False).alias("native"),
        )
        replicated = native.unionByName(ghosts)
    else:
        replicated = native
    led = replicated.select(
        "doc_id",
        "native",
        *[F.lead("doc_id", i).over(w).alias(f"n{i}") for i in range(1, SNM_WINDOW)],
    ).where(F.col("native"))
    return (
        led.select(
            "doc_id",
            F.explode(
                F.array(*[F.col(f"n{i}") for i in range(1, SNM_WINDOW)])
            ).alias("n"),
        )
        .where(F.col("n").isNotNull())
        .select(
            F.least("doc_id", "n").alias("doc_a"),
            F.greatest("doc_id", "n").alias("doc_b"),
        )
        .distinct()
    )


_ORACLE_Q164 = f"""
WITH {SHINGLES_SQL.lstrip()},
keys AS (
    SELECT doc_id,
           MIN(CAST(concat('0x', substr(md5(sh), 1, 12)) AS UBIGINT)) AS skey
    FROM shingles GROUP BY doc_id
),
ordered AS (
    SELECT doc_id,
           lead(doc_id, 1) OVER wsnm AS n1,
           lead(doc_id, 2) OVER wsnm AS n2,
           lead(doc_id, 3) OVER wsnm AS n3
    FROM keys
    WINDOW wsnm AS (ORDER BY skey, doc_id)
),
cand AS (
    SELECT LEAST(doc_id, n) AS doc_a, GREATEST(doc_id, n) AS doc_b
    FROM (SELECT doc_id, unnest([n1, n2, n3]) AS n FROM ordered)
    WHERE n IS NOT NULL
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
verified AS (
    SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
    FROM cand c
    JOIN shingles a ON a.doc_id = c.doc_a
    JOIN shingles b ON b.doc_id = c.doc_b AND a.sh = b.sh
    GROUP BY c.doc_a, c.doc_b
)
SELECT v.doc_a, v.doc_b,
       CAST(v.inter AS BIGINT) AS inter,
       CAST(sa.n + sb.n - v.inter AS BIGINT) AS uni,
       CAST(v.inter * 1000000 // (sa.n + sb.n - v.inter) AS BIGINT)
           AS jaccard_ppm
FROM verified v
JOIN sizes sa ON sa.doc_id = v.doc_a
JOIN sizes sb ON sb.doc_id = v.doc_b
WHERE v.inter * 10 >= 8 * (sa.n + sb.n - v.inter)
ORDER BY doc_a, doc_b
"""


@register(
    "q164_sorted_neighborhood",
    oracle=_ORACLE_Q164,
    doc="Sorted-neighborhood (SNM) near-dup detection: documents "
    "sorted by their 1-hash MinHash blocking key, each compared "
    "only with its 3 successors — O(n*W) candidates with zero "
    "bucket-size variance (the pruning principle LSH banding "
    "doesn't give), exact-Jaccard verified in integer arithmetic.",
    tags=("dedup", "snm", "blocking"),
)
def q164_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r10 optimization (guide §1.2 + §5): the naive form re-derived
    # the shingle subtree FOUR times (keys, sizes, and both verify
    # sides — 13 parquet scans / 32 exchanges in the before plan)
    # and verified candidates by exploding cand x shingles through a
    # shuffle. Now ONE pass over the shingles computes per-doc
    # blocking key, set size and the collected shingle set together
    # (same groupBy key — one shuffle), checkpointed and reused
    # everywhere; verification is the repo's q144/q252 per-candidate
    # array_intersect idiom, shuffling one row per candidate instead
    # of one per (candidate, shingle). inter = |set intersection| is
    # identical because shingles are distinct per doc (the same
    # equivalence _verified_dup_pairs rests on); oracle unchanged.
    sh = shingles_df(spark, sf_dir)
    docs = (
        sh.select(
            "doc_id",
            "sh",
            F.conv(F.substring(F.md5("sh"), 1, 12), 16, 10)
            .cast("bigint")
            .alias("hv"),
        )
        .groupBy("doc_id")
        .agg(
            F.min("hv").alias("skey"),
            F.collect_list("sh").alias("shs"),
            F.count(F.lit(1)).alias("n"),
        )
        .localCheckpoint()
    )
    bucketed = docs.select(
        "doc_id", "skey", F.expr(f"skey div {_SNM_BUCKET_DIV}").alias("bucket")
    )
    cand = snm_candidate_pairs(bucketed)
    inter_c = F.size(F.array_intersect("sha", "shb")).cast("bigint")
    uni = F.col("na") + F.col("nb") - F.col("inter")
    return (
        cand.join(
            docs.select(
                F.col("doc_id").alias("doc_a"),
                F.col("shs").alias("sha"),
                F.col("n").alias("na"),
            ),
            "doc_a",
        )
        .join(
            docs.select(
                F.col("doc_id").alias("doc_b"),
                F.col("shs").alias("shb"),
                F.col("n").alias("nb"),
            ),
            "doc_b",
        )
        .select("doc_a", "doc_b", "na", "nb", inter_c.alias("inter"))
        .where((F.col("inter") > 0) & (F.col("inter") * 10 >= 8 * uni))
        .select(
            "doc_a",
            "doc_b",
            F.col("inter").cast("bigint").alias("inter"),
            uni.cast("bigint").alias("uni"),
            F.expr("CAST(inter * 1000000 div (na + nb - inter) AS BIGINT)").alias(
                "jaccard_ppm"
            ),
        )
        .orderBy("doc_a", "doc_b")
    )


# -------- q165: connected components by pointer doubling
#
# q70's min-label propagation needs rounds ~ graph diameter; the
# published scale answer (Kiveris et al., "Connected Components in
# MapReduce and Beyond"; classic Shiloach-Vishkin) interleaves a
# POINTER-JUMP into every round: after hooking each node to its
# neighborhood minimum, labels are re-resolved THROUGH themselves
# (L <- L(L)), so label-chain depth halves per round and
# convergence needs O(log n) rounds on path-shaped components
# instead of O(n). Invariant kept by both steps: L(v) is always the
# id of a node in v's component and only ever decreases, so the
# fixpoint (witnessed by the same monotone sum(label) as q70) is
# the component minimum. Per round: one edge join + one label
# self-join, lineage truncated by localCheckpoint — the identical
# plan at any scale. Output and oracle are exactly q70's, and
# tests/test_prep_ops.py asserts the two algorithms agree row for
# row (same clusters, fewer rounds).

MAX_PJ_ROUNDS = 20


@register(
    "q165_cc_pointer_doubling",
    oracle=_ORACLE_Q70,
    doc="Connected components of the verified LSH near-dup graph by "
    "hook + pointer-jumping (Shiloach-Vishkin style): label-chain "
    "depth halves every round, O(log n) rounds instead of q70's "
    "O(diameter) — same output, same oracle, the 100 TB iteration "
    "budget.",
    tags=("dedup", "graph", "components", "iterative"),
)
def q165_cc_pointer_doubling(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    # reads the persisted pair table (lsh_pairs_df) — the LSH join +
    # Jaccard verify is shared with every other graph consumer.
    edges = lsh_pairs_df(spark, sf_dir).select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("w")
    )
    # r10 (guide §2.4): hash-partition the symmetric edge list by u
    # ONCE and checkpoint — localCheckpoint preserves the physical
    # partitioning, so every round's message join reuses it instead
    # of re-shuffling the edges per round (the q172 fix).
    sym = (
        edges.unionByName(
            edges.select(F.col("w").alias("u"), F.col("u").alias("w"))
        )
        .repartition("u")
        .localCheckpoint()
    )
    labels = cat.documents.select(
        "doc_id", F.col("doc_id").alias("label")
    ).localCheckpoint()
    prev_sum = labels.agg(F.sum("label")).collect()[0][0]
    for _ in range(MAX_PJ_ROUNDS):
        # hook: L(v) <- min(L(v), min over neighbors' labels)
        lbl_u = labels.select(
            F.col("doc_id").alias("u"), F.col("label").alias("ulabel")
        )
        msgs = (
            sym.join(lbl_u, "u")
            .groupBy("w")
            .agg(F.min("ulabel").alias("nlabel"))
            .select(F.col("w").alias("doc_id"), "nlabel")
        )
        hooked = labels.join(msgs, "doc_id", "left").select(
            "doc_id",
            F.least(F.col("label"), F.coalesce("nlabel", "label")).alias(
                "label"
            ),
        )
        # jump: L(v) <- L(L(v)) — resolve labels through the
        # label table itself; chain depth halves.
        ptr = hooked.select(
            F.col("doc_id").alias("p_id"), F.col("label").alias("p_label")
        )
        jumped = (
            hooked.join(ptr, F.col("label") == F.col("p_id"), "left")
            .select(
                "doc_id",
                F.least(
                    F.col("label"), F.coalesce("p_label", "label")
                ).alias("label"),
            )
            .localCheckpoint()
        )
        new_sum = jumped.agg(F.sum("label")).collect()[0][0]
        labels = jumped
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    else:
        raise RuntimeError(
            f"pointer-doubling CC did not converge in {MAX_PJ_ROUNDS} rounds"
        )
    wc = Window.partitionBy("component")
    return labels.select("doc_id", F.col("label").alias("component")).select(
        "doc_id",
        "component",
        F.count(F.lit(1)).over(wc).cast("bigint").alias("cluster_size"),
        (F.col("doc_id") == F.col("component")).alias("is_canonical"),
    )


# ------------------------------- q229: corpus-level segment dedup
#
# The REWRITE member of the dedup family (round 7). q34/q35/q115
# decide which whole documents to drop; q69/q73 measure duplicated
# spans and apply a drop-the-doc cut. C4/RefinedWeb-style pipelines
# additionally REWRITE documents: remove the duplicated pieces
# corpus-wide, keep the (now shorter) document. This implements that
# operator at segment granularity:
#
# 1. segment every document into fixed 8-token windows (the same
#    bounded-explode shape as q216's sequence packing — output is
#    O(tokens), the operator's irreducible size);
# 2. keep each distinct segment's FIRST occurrence in corpus order
#    (row_number over md5(segment) ordered by (doc_id, seg_no) —
#    one shuffle on the 32-byte hash, never on the text, the q34
#    convention; a document's internal repeats dedup against
#    themselves the same way);
# 3. REBUILD every document as the ordered join of its kept
#    segments (collect_list(struct(seg_no, seg)) → array_sort →
#    array_join — per-doc state bounded by document size), keeping
#    docs that lost everything as empty rebuilds.
#
# The md5 of the rebuilt text is emitted per document, so the oracle
# (identical segmentation/keep/rebuild algebra in DuckDB) pins the
# reconstruction BYTE-EXACT, not just the counts.
#
# 100 TB: one hash-partitioned shuffle of O(tokens) segment rows +
# one doc_id-partitioned rebuild — both partial-aggregatable, no
# all-pairs, no skew (md5 keys are uniform; the heaviest possible
# key is one segment's duplicate count, bounded by corpus dup rate).
# The first-occurrence rule makes the result deterministic under
# ANY partitioning — a reshuffled cluster rebuilds identical docs.

SEG_W = 8  # tokens per segment

_ORACLE_Q229 = f"""
WITH base AS (
    SELECT doc_id, {TOKENS_SQL} AS toks FROM documents
), segs AS (
    SELECT doc_id, i AS seg_no,
           array_to_string(list_slice(toks, i * {SEG_W} + 1,
                                      i * {SEG_W} + {SEG_W}), ' ') AS seg,
           least(len(toks) - i * {SEG_W}, {SEG_W}) AS seg_len
    FROM base,
         LATERAL UNNEST(range(0, CAST(ceil(len(toks) / {SEG_W}.0) AS BIGINT)))
             AS t(i)
), ranked AS (
    SELECT *, row_number() OVER (PARTITION BY md5(seg)
                                 ORDER BY doc_id, seg_no) AS rn
    FROM segs
), rebuilt AS (
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS segs_total,
           CAST(COUNT(*) FILTER (WHERE rn = 1) AS BIGINT) AS segs_kept,
           CAST(COALESCE(SUM(seg_len) FILTER (WHERE rn = 1), 0)
                AS BIGINT) AS toks_after,
           md5(COALESCE(string_agg(seg, ' ' ORDER BY seg_no)
                            FILTER (WHERE rn = 1), '')) AS rebuilt_md5
    FROM ranked GROUP BY doc_id
)
SELECT d.doc_id, r.segs_total, r.segs_kept, r.toks_after, r.rebuilt_md5
FROM documents d JOIN rebuilt r USING (doc_id)
ORDER BY d.doc_id
"""


@register(
    "q229_segment_dedup_rebuild",
    oracle=_ORACLE_Q229,
    doc="C4/RefinedWeb-style corpus-level duplicate-segment removal "
    "WITH document reconstruction: 8-token segments, first corpus "
    "occurrence kept, every document rebuilt as the ordered join of "
    "its kept segments — the rebuild pinned byte-exact via md5 "
    "against the oracle's identical algebra. SKEW-PROOF survival "
    "(round 8): the keeper per segment hash is a partial-aggregatable "
    "groupBy(seg_h).agg(min(struct(doc_id, seg_no))) — map-side "
    "combine caps any reducer's fan-in at #map-partitions rows even "
    "for a segment duplicated 10^8 times — and the keeper flag comes "
    "back via a left join on the FULL occurrence key (seg_h, doc_id, "
    "seg_no), which is unique, so the join shuffle has no hot key "
    "either. No window over the content hash anywhere "
    "(plan-asserted, tests/test_plans.py).",
    tags=("dedup", "rewrite", "segments"),
)
def q229_segment_dedup_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    return segment_dedup_rebuilt(spark, sf_dir).select(
        "doc_id", "segs_total", "segs_kept", "toks_after", "rebuilt_md5"
    ).orderBy("doc_id")


def _doc_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared 8-token segmentation stream: one row per
    (doc_id, seg_no) with the segment text, its token length, and
    its md5 — q229/q248 (first-occurrence dedup) and q251
    (frequency-threshold boilerplate removal) all start here."""
    # NO fan_out here (r10, measured): unlike the regex-heavy q256,
    # the tokenize+explode is cheap relative to a pre-shuffle of the
    # rows — fan_out variants measured 2.0-3.0 s vs 1.3-1.6 s plain
    # for q229 at sf0.1 (both orderings: shuffling raw text or token
    # arrays). The downstream groupBy supplies the parallelism.
    docs = Catalog(spark, sf_dir).documents.select(
        "doc_id", tokens_col().alias("toks")
    )
    n_seg = F.ceil(F.size("toks") / F.lit(SEG_W)).cast("int")
    return docs.select(
        "doc_id",
        F.posexplode(
            F.when(
                n_seg > 0,
                F.transform(
                    F.sequence(F.lit(0), n_seg - 1),
                    lambda i: F.slice(F.col("toks"), i * SEG_W + 1, SEG_W),
                ),
            ).otherwise(F.array().cast("array<array<string>>"))
        ).alias("seg_no", "seg_toks"),
    ).select(
        "doc_id",
        "seg_no",
        F.array_join("seg_toks", " ").alias("seg"),
        F.size("seg_toks").cast("bigint").alias("seg_len"),
    ).withColumn("seg_h", F.md5(F.col("seg").cast("binary")))


def segment_dedup_rebuilt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q229's dedup+rebuild core, exposed so downstream stages
    (q248 packs the deduped corpus) compose on the same plan."""
    segs = _doc_segments(spark, sf_dir)
    # First-occurrence survival WITHOUT a window over the content
    # hash: min(struct) is partial-aggregatable (map-side combine →
    # a mega-duplicated segment contributes ≤1 row per map partition
    # to its reducer), and the keeper flag joins back on the unique
    # occurrence key (seg_h, doc_id, seg_no) — no hot join key.
    winners = segs.groupBy("seg_h").agg(
        F.min(F.struct("doc_id", "seg_no")).alias("w")
    ).select(
        "seg_h",
        F.col("w.doc_id").alias("doc_id"),
        F.col("w.seg_no").alias("seg_no"),
        F.lit(True).alias("is_keeper"),
    )
    ranked = segs.join(
        winners, on=["seg_h", "doc_id", "seg_no"], how="left"
    )
    kept = F.col("is_keeper").isNotNull()
    rebuilt = ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("segs_total"),
        F.sum(kept.cast("bigint")).cast("bigint").alias("segs_kept"),
        F.coalesce(
            F.sum(F.when(kept, F.col("seg_len"))), F.lit(0)
        ).cast("bigint").alias("toks_after"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(kept, F.struct("seg_no", "seg"))
                        )
                    ),
                    lambda s: s["seg"],
                ),
                " ",
            ).cast("binary")
        ).alias("rebuilt_md5"),
    )
    return rebuilt


# ----------- q247: content-defined chunking (rolling-hash CDC)
#
# q229 dedups FIXED 8-token segments — insert ONE token near a
# document's head and every later boundary shifts, so nothing
# downstream matches. Content-defined chunking (the rolling-hash
# trick backup dedup and long-doc near-dup pipelines use) fixes
# exactly that: a boundary is cut wherever the hash of the local
# 4-token window satisfies H % 64 == 0, so boundaries are a
# function of CONTENT, not position — after an edit the chunking
# re-synchronizes at the next content boundary and the untouched
# chunks dedup again.
#
# Two-engine exactness: token hash = first 12 md5 hex chars as a
# 48-bit int reduced mod 2^20; window hash = Σ_j th_{i+j}·31^j
# (j < 4) — every term < 2^36, the sum exact BIGINT in both
# engines, no modular tricks needed. Boundary BEFORE position i
# (i > 1) when H_i % 64 == 0; chunk number = running cut count
# (one ordered window per doc); chunk identity = md5 of the
# token-joined chunk; corpus-level first-occurrence survival
# exactly like q229 (row_number over the chunk hash — the 32-byte
# shuffle key convention).
#
# 100 TB: per-doc windows only (lead ×3 + one cumsum — state is
# four values), then ONE corpus shuffle keyed on md5(chunk) with
# bounded per-key fan-in; expected chunk length is the divisor
# (64 tokens), tunable per corpus.

CDC_W = 4        # rolling window (tokens)
CDC_DIV = 64     # expected chunk length = divisor
CDC_MASK = (1 << 20) - 1
_CDC_B = (1, 31, 961, 29791)  # 31^j, j<4

_CDC_TH = (
    "CAST(concat('0x', substr(md5({t}), 1, 12)) AS UBIGINT) % 1048576"
)

_ORACLE_Q247 = f"""
WITH toks AS (
    SELECT doc_id, {TOKENS_SQL} AS toks FROM documents
), pos AS (
    SELECT doc_id, i AS p, toks[i] AS tok, len(toks) AS n
    FROM toks, LATERAL UNNEST(range(1, len(toks) + 1)) AS r(i)
), th AS (
    SELECT doc_id, p, tok, n,
           {_CDC_TH.format(t='tok')} AS h
    FROM pos
), win AS (
    SELECT doc_id, p, tok,
           h * {_CDC_B[0]}
             + COALESCE(lead(h, 1) OVER w, 0) * {_CDC_B[1]}
             + COALESCE(lead(h, 2) OVER w, 0) * {_CDC_B[2]}
             + COALESCE(lead(h, 3) OVER w, 0) * {_CDC_B[3]} AS hw,
           p <= n - {CDC_W} + 1 AS full_win
    FROM th
    WINDOW w AS (PARTITION BY doc_id ORDER BY p)
), cuts AS (
    SELECT doc_id, p, tok,
           CASE WHEN p > 1 AND full_win AND hw % {CDC_DIV} = 0
                THEN 1 ELSE 0 END AS cut
    FROM win
), numbered AS (
    SELECT doc_id, p, tok,
           SUM(cut) OVER (PARTITION BY doc_id ORDER BY p
                          ROWS UNBOUNDED PRECEDING) AS chunk_no
    FROM cuts
), chunks AS (
    SELECT doc_id, chunk_no,
           md5(string_agg(tok, ' ' ORDER BY p)) AS ch,
           CAST(COUNT(*) AS BIGINT) AS chunk_toks
    FROM numbered GROUP BY doc_id, chunk_no
), ranked AS (
    SELECT *, row_number() OVER (PARTITION BY ch
                                 ORDER BY doc_id, chunk_no) AS rn
    FROM chunks
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(COUNT(*) FILTER (WHERE rn > 1) AS BIGINT) AS dup_chunks,
       CAST(COALESCE(SUM(chunk_toks) FILTER (WHERE rn = 1), 0) AS BIGINT)
           AS toks_kept
FROM ranked GROUP BY doc_id
ORDER BY doc_id
"""


@register(
    "q247_cdc_chunk_dedup",
    oracle=_ORACLE_Q247,
    doc="Content-defined chunking (rolling-hash CDC): boundaries cut "
    "where the 4-token window hash ≡ 0 mod 64, so chunking is a "
    "function of content — an insertion re-synchronizes at the next "
    "boundary and untouched chunks still dedup (the robustness "
    "fixed segmentation q229 lacks). Exact BIGINT window algebra. "
    "SKEW-PROOF survival (round 8): first-occurrence keeper per "
    "chunk hash via partial-aggregatable min(struct(doc_id, "
    "chunk_no)) + left join on the unique occurrence key — no "
    "window over the content hash (the doc-local lead/cumsum "
    "windows partition by doc_id, which is per-document bounded).",
    tags=("dedup", "cdc", "chunking"),
)
def q247_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir).documents.select(
        "doc_id", tokens_col().alias("toks")
    )
    pos = docs.select(
        "doc_id",
        F.size("toks").alias("n"),
        F.posexplode("toks").alias("p0", "tok"),
    ).select(
        "doc_id", "n", (F.col("p0") + 1).alias("p"), "tok"
    )
    # Spark half of the shared 48-bit md5 hash (the oracle's UBIGINT
    # cast is DuckDB spelling; conv() is Spark's — same integer)
    th = pos.withColumn(
        "h",
        F.conv(F.substring(F.md5(F.col("tok").cast("binary")), 1, 12), 16, 10)
        .cast("long")
        % (CDC_MASK + 1),
    )
    w = Window.partitionBy("doc_id").orderBy("p")
    hw = (
        F.col("h") * _CDC_B[0]
        + F.coalesce(F.lead("h", 1).over(w), F.lit(0)) * _CDC_B[1]
        + F.coalesce(F.lead("h", 2).over(w), F.lit(0)) * _CDC_B[2]
        + F.coalesce(F.lead("h", 3).over(w), F.lit(0)) * _CDC_B[3]
    )
    cuts = th.select(
        "doc_id",
        "p",
        "tok",
        F.when(
            (F.col("p") > 1)
            & (F.col("p") <= F.col("n") - CDC_W + 1)
            & (hw % CDC_DIV == 0),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("cut"),
    )
    numbered = cuts.withColumn(
        "chunk_no",
        F.sum("cut").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    chunks = numbered.groupBy("doc_id", "chunk_no").agg(
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("p", "tok"))),
                    lambda s: s["tok"],
                ),
                " ",
            ).cast("binary")
        ).alias("ch"),
        F.count(F.lit(1)).cast("bigint").alias("chunk_toks"),
    )
    # Skew-proof survival: combine-safe min-struct per chunk hash,
    # keeper flag restored by a left join on the unique occurrence
    # key (ch, doc_id, chunk_no) — same shape as q229/q34.
    winners = chunks.groupBy("ch").agg(
        F.min(F.struct("doc_id", "chunk_no")).alias("w")
    ).select(
        "ch",
        F.col("w.doc_id").alias("doc_id"),
        F.col("w.chunk_no").alias("chunk_no"),
        F.lit(True).alias("is_keeper"),
    )
    ranked = chunks.join(
        winners, on=["ch", "doc_id", "chunk_no"], how="left"
    )
    kept = F.col("is_keeper").isNotNull()
    return (
        ranked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
            F.sum((~kept).cast("bigint"))
            .cast("bigint")
            .alias("dup_chunks"),
            F.coalesce(
                F.sum(F.when(kept, F.col("chunk_toks"))),
                F.lit(0),
            )
            .cast("bigint")
            .alias("toks_kept"),
        )
        .orderBy("doc_id")
    )


# ----------- q248: dedup → pack, the composed training-data path
#
# The actual order a training-data run executes: corpus-level
# segment dedup (q229) FIRST, then sequence packing (q226) over the
# deduped token counts. Both primitives existed; this is the
# end-to-end composition, sharing q229's skew-proof survival plan
# and q226's pack_assignment algebra verbatim — the packed spans
# partition each deduped document's toks_after exactly
# (every-token-exactly-once over the DEDUPED corpus pinned in
# tests/test_prep_ops.py::test_q248_token_conservation).
# Scale shape: q229's one bounded corpus shuffle + q226's
# per-stream cumsum and output-sized explode — no new shuffles
# beyond the two stages' own.

_ORACLE_Q248 = f"""
WITH base AS (
    SELECT doc_id, {TOKENS_SQL} AS toks FROM documents
), segs AS (
    SELECT doc_id, i AS seg_no,
           array_to_string(list_slice(toks, i * {SEG_W} + 1,
                                      i * {SEG_W} + {SEG_W}), ' ') AS seg,
           least(len(toks) - i * {SEG_W}, {SEG_W}) AS seg_len
    FROM base,
         LATERAL UNNEST(range(0, CAST(ceil(len(toks) / {SEG_W}.0) AS BIGINT)))
             AS t(i)
), ranked AS (
    SELECT *, row_number() OVER (PARTITION BY md5(seg)
                                 ORDER BY doc_id, seg_no) AS rn
    FROM segs
), deduped AS (
    SELECT doc_id,
           CAST(COALESCE(SUM(seg_len) FILTER (WHERE rn = 1), 0)
                AS BIGINT) AS n_tok
    FROM ranked GROUP BY doc_id
), d AS (
    SELECT doc_id, doc_id % {{PACK_STREAMS}} AS stream, n_tok
    FROM deduped WHERE n_tok > 0
), c AS (
    SELECT doc_id, stream, n_tok,
           SUM(n_tok) OVER (
               PARTITION BY stream ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) - n_tok AS b,
           SUM(n_tok) OVER (
               PARTITION BY stream ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS e
    FROM d
), sp AS (
    SELECT c.stream, g.seq_id, c.doc_id,
           GREATEST(c.b, g.seq_id * {{PACK_WINDOW}})
               - g.seq_id * {{PACK_WINDOW}} AS start_offset,
           LEAST(c.e, (g.seq_id + 1) * {{PACK_WINDOW}})
               - g.seq_id * {{PACK_WINDOW}} AS end_offset
    FROM c, LATERAL (
        SELECT UNNEST(generate_series(
            CAST(c.b // {{PACK_WINDOW}} AS BIGINT),
            CAST((c.e - 1) // {{PACK_WINDOW}} AS BIGINT))) AS seq_id
    ) g
)
SELECT CAST(stream AS BIGINT) AS stream,
       CAST(seq_id AS BIGINT) AS seq_id,
       CAST(doc_id AS BIGINT) AS doc_id,
       CAST(start_offset AS BIGINT) AS start_offset,
       CAST(end_offset AS BIGINT) AS end_offset
FROM sp
ORDER BY stream, seq_id, start_offset
"""


def _oracle_q248() -> str:
    from .text import PACK_STREAMS, PACK_WINDOW

    return _ORACLE_Q248.format(
        PACK_STREAMS=PACK_STREAMS, PACK_WINDOW=PACK_WINDOW
    )


@register(
    "q248_dedup_then_pack",
    oracle=_oracle_q248(),
    doc="Composed training-data pipeline: segment-dedup the corpus "
    "(q229's skew-proof survival), then pack the deduped token "
    "counts into fixed 256-token training windows (q226's "
    "assignment algebra) — one row per (doc, window) span with "
    "window-local offsets; spans partition each doc's toks_after "
    "exactly.",
    tags=("dedup", "packing", "pipeline"),
)
def q248_dedup_then_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .text import PACK_STREAMS, pack_assignment

    d = (
        segment_dedup_rebuilt(spark, sf_dir)
        .select(
            "doc_id",
            (F.col("doc_id") % PACK_STREAMS).alias("stream"),
            F.col("toks_after").alias("n_tok"),
        )
        .where(F.col("n_tok") > 0)
    )
    return pack_assignment(d)


# ----------- q251: boilerplate removal by document frequency
#
# q229 keeps the FIRST copy of a duplicated segment; boilerplate
# filtering (C4's "discard any line appearing verbatim across
# enough pages", RefinedWeb's repetition rules) drops EVERY copy —
# headers, cookie banners, navigation chrome carry no training
# signal even once. Semantics: a segment whose corpus DOCUMENT
# frequency (distinct docs containing it) >= BP_DF is boilerplate;
# all its occurrences are removed and each document is rebuilt
# from its surviving segments (byte-exact md5 pin, as q229).
# Scale shape: document frequency is approximate-count-distinct's
# exact cousin done right — groupBy(seg_h, doc_id) first (combine
# collapses a doc's internal repeats), then groupBy(seg_h) count,
# both partial-aggregatable, so a segment on 10^8 pages still
# reaches its reducer as <= #map-partitions rows. The flag join
# (round-9 rewrite) uses the q200 fair-share hot/cold split —
# AQE's skew-join CANNOT rescue the naive join here, because the
# build side rides its own aggregation exchange (pinned in
# tools/audit_skew_joinback.py) — which a row_number window could
# never match either way.

BP_DF = 3  # segments in >= 3 distinct docs are boilerplate

_ORACLE_Q251 = f"""
WITH base AS (
    SELECT doc_id, {TOKENS_SQL} AS toks FROM documents
), segs AS (
    SELECT doc_id, i AS seg_no,
           array_to_string(list_slice(toks, i * {SEG_W} + 1,
                                      i * {SEG_W} + {SEG_W}), ' ') AS seg,
           least(len(toks) - i * {SEG_W}, {SEG_W}) AS seg_len
    FROM base,
         LATERAL UNNEST(range(0, CAST(ceil(len(toks) / {SEG_W}.0) AS BIGINT)))
             AS t(i)
), df AS (
    SELECT md5(seg) AS h,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS seg_df
    FROM segs GROUP BY md5(seg)
), flagged AS (
    SELECT s.*, d.seg_df >= {BP_DF} AS bp
    FROM segs s JOIN df d ON md5(s.seg) = d.h
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS segs_total,
       CAST(COUNT(*) FILTER (WHERE bp) AS BIGINT) AS segs_dropped,
       CAST(COALESCE(SUM(seg_len) FILTER (WHERE NOT bp), 0) AS BIGINT)
           AS toks_after,
       md5(COALESCE(string_agg(seg, ' ' ORDER BY seg_no)
                        FILTER (WHERE NOT bp), '')) AS rebuilt_md5
FROM flagged GROUP BY doc_id
ORDER BY doc_id
"""


@register(
    "q251_boilerplate_removal",
    oracle=_ORACLE_Q251,
    doc="Corpus boilerplate removal: segments appearing in >= 3 "
    "distinct documents are dropped EVERYWHERE (unlike q229's "
    "keep-first) and every document rebuilt byte-exact from its "
    "survivors. Document frequency via two stacked combine-safe "
    "aggregations (per-doc collapse then per-segment count) — "
    "skew-proof at any duplication — and the flag joins back via "
    "the q200 fair-share hot/cold split: above-fair-share keys "
    "(a self-bounded <= P-row set) broadcast, the cold tail joins "
    "co-keyed behind a broadcast anti-filter, so no shuffle "
    "partition ever absorbs a hot segment's occurrences.",
    tags=("dedup", "boilerplate", "rewrite"),
)
def q251_boilerplate_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .joins import JOIN_HOT_FACTOR, JOIN_PARALLELISM

    # r10: the segment stream feeds the DF aggregation AND both
    # hot/cold flag-join branches — without a checkpoint the
    # tokenize+explode subtree ran three times (18 parquet scans /
    # 52 exchanges in the before plan). Same for seg_stats, whose
    # stacked aggs fed tot/hot/cold separately (guide §5: reuse
    # beats recompute; one materialization vs three corpus passes).
    segs = _doc_segments(spark, sf_dir).localCheckpoint()
    # document frequency: collapse per (seg, doc) FIRST — both
    # levels partial-aggregatable, no hot reducer at any skew
    per_doc = (
        segs.select("seg_h", "doc_id")
        .groupBy("seg_h", "doc_id")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    seg_stats = per_doc.groupBy("seg_h").agg(
        F.count(F.lit(1)).cast("bigint").alias("seg_df"),
        F.sum("c").cast("bigint").alias("occ"),
    ).localCheckpoint()
    # The flag applies to EVERY occurrence, so unlike q229/q261
    # there is no unique-key join to hide behind: a boilerplate
    # segment in 10^9 documents funnels 10^9 probe rows through one
    # shuffle partition, and AQE cannot split a join whose build
    # side rides its own aggregation exchange (demonstrated in
    # tools/audit_skew_joinback.py). The q200 fair-share hot/cold
    # decomposition fixes it structurally: keys above the 1/P
    # occurrence share (≤ P rows at ANY corpus size — the criterion
    # bounds its own broadcast) join map-side, the cold tail joins
    # co-keyed with per-key fan-in bounded by occ_total/P, and the
    # cold PROBE is pre-filtered by a broadcast anti-join so hot
    # occurrences never enter the shuffle.
    tot = seg_stats.agg(F.sum("occ").cast("bigint").alias("occ_total"))
    hot = (
        seg_stats.crossJoin(F.broadcast(tot))
        .where(
            F.expr(
                f"occ * 1000000 div occ_total * {JOIN_PARALLELISM}"
                f" >= {JOIN_HOT_FACTOR} * 1000000"
            )
        )
        .select("seg_h", "seg_df")
    )
    cold = seg_stats.join(
        F.broadcast(hot.select("seg_h")), "seg_h", "left_anti"
    ).select("seg_h", "seg_df")
    flagged = (
        segs.join(F.broadcast(hot), "seg_h")
        .unionByName(
            segs.join(
                F.broadcast(hot.select("seg_h")), "seg_h", "left_anti"
            ).join(cold, "seg_h")
        )
        .withColumn("bp", F.col("seg_df") >= BP_DF)
    )
    keep = ~F.col("bp")
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("segs_total"),
            F.sum(F.col("bp").cast("bigint"))
            .cast("bigint")
            .alias("segs_dropped"),
            F.coalesce(F.sum(F.when(keep, F.col("seg_len"))), F.lit(0))
            .cast("bigint")
            .alias("toks_after"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(keep, F.struct("seg_no", "seg"))
                            )
                        ),
                        lambda s: s["seg"],
                    ),
                    " ",
                ).cast("binary")
            ).alias("rebuilt_md5"),
        )
        .select(
            "doc_id", "segs_total", "segs_dropped", "toks_after",
            "rebuilt_md5",
        )
        .orderBy("doc_id")
    )


# ----------- q252: incremental dedup probe (round 8)
#
# Production dedup is INCREMENTAL: each new crawl batch is checked
# against the standing corpus index, not re-deduped from scratch —
# you never re-shingle 100 TB because 100 GB arrived. The shape:
# the base corpus's LSH band index is a standing artifact (here
# doc_id % 10 != 0, materialized by the shared minhash/band cache);
# the delta (doc_id % 10 == 0) is signed and PROBED against it —
# an asymmetric join whose probe side is delta-sized, candidates
# verified by exact Jaccard on shingles. The 0.8 threshold is
# checked as inter*5 >= union*4 — pure BIGINT, no doubles anywhere.
# Per delta doc: band candidates, verified near-dups, and the
# largest verified overlap (the "is this new page already in the
# corpus" triage row an ingest gate consumes).

INC_MOD = 10  # doc_id % 10 == 0 → the new-crawl delta; rest = base

_ORACLE_Q252 = f"""
WITH {SHINGLES_SQL},
minhash AS (
    {_minhash_select_sql()}
),
bands AS (
{_band_keys_sql()}
),
cand AS (
    SELECT DISTINCT d.doc_id AS delta_doc, b.doc_id AS base_doc
    FROM bands d
    JOIN bands b ON d.band = b.band AND d.bkey = b.bkey
    WHERE d.doc_id % {INC_MOD} = 0 AND b.doc_id % {INC_MOD} <> 0
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
verified AS (
    SELECT c.delta_doc, c.base_doc,
           CAST(COUNT(*) AS BIGINT) AS inter,
           CAST(sa.n + sb.n - COUNT(*) AS BIGINT) AS un
    FROM cand c
    JOIN shingles a ON a.doc_id = c.delta_doc
    JOIN shingles b ON b.doc_id = c.base_doc AND a.sh = b.sh
    JOIN sizes sa ON sa.doc_id = c.delta_doc
    JOIN sizes sb ON sb.doc_id = c.base_doc
    GROUP BY c.delta_doc, c.base_doc, sa.n, sb.n
)
SELECT c.delta_doc AS doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_candidates,
       CAST(COALESCE(SUM(CASE WHEN v.inter * 5 >= v.un * 4
                               THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_dups,
       CAST(COALESCE(MAX(CASE WHEN v.inter * 5 >= v.un * 4
                               THEN v.inter END), 0) AS BIGINT) AS max_inter
FROM cand c
LEFT JOIN verified v
       ON v.delta_doc = c.delta_doc AND v.base_doc = c.base_doc
GROUP BY c.delta_doc
ORDER BY doc_id
"""


@register(
    "q252_incremental_dedup_probe",
    oracle=_ORACLE_Q252,
    doc="Incremental dedup: a new-crawl delta (doc_id % 10 == 0) is "
    "MinHash-signed and probed against the standing base corpus's "
    "LSH band index (the asymmetric delta-vs-index join — never "
    "re-dedup the corpus for a new batch), candidates verified by "
    "exact Jaccard with the 0.8 threshold as the all-BIGINT "
    "inter*5 >= union*4. Per delta doc: candidates, verified "
    "near-dups, largest verified overlap.",
    tags=("dedup", "minhash", "lsh", "incremental"),
)
def q252_incremental_dedup_probe(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    bands = band_keys(minhash_df(spark, sf_dir))
    delta = bands.where(F.col("doc_id") % INC_MOD == 0)
    base = bands.where(F.col("doc_id") % INC_MOD != 0)
    cand = (
        delta.alias("d")
        .join(
            base.alias("b"),
            (F.col("d.band") == F.col("b.band"))
            & (F.col("d.bkey") == F.col("b.bkey")),
        )
        .select(
            F.col("d.doc_id").alias("delta_doc"),
            F.col("b.doc_id").alias("base_doc"),
        )
        .distinct()
        # r10 optimization (guide §2.4): cand feeds both the verify
        # joins and the final join-back — without truncation the LSH
        # band join + distinct execute twice (before-plan: 21 parquet
        # scans / 43 exchanges). Checkpoint the delta-sized pair list
        # once, like q264's fold-in does.
        .localCheckpoint()
    )
    # Verify with the q144 idiom: two keyed joins against a per-doc
    # shingle-SET table + a row-local array_intersect, shuffling
    # |candidates| rows — NOT the row-exploded cand ⋈ shingles ⋈
    # shingles form, which shuffles |candidates| × avg-shingles rows
    # (same-harness A/B at the 10× tier: exploded 41.9 s vs 2.1 s
    # for this shape; a candidate-semi-filtered doc_sets variant is
    # WORSE — broadcasting the candidate doc list forces the whole
    # LSH pipeline to evaluate twice). Exact because the shingle
    # lists are per-doc distinct by construction. A pair with zero
    # common shingles now gets an explicit inter = 0 row, which the
    # 0.8-threshold check rejects exactly as the old no-row form did
    # through the left join.
    sh = shingles_df(spark, sf_dir)
    # r10: the per-doc shingle-set table feeds BOTH verify joins
    # (delta side and base side) — checkpoint so the groupBy +
    # collect_list shuffle runs once, not twice (no ReusedExchange in
    # the before-plan).
    doc_sets = sh.groupBy("doc_id").agg(
        F.collect_list("sh").alias("shs"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    ).localCheckpoint()
    inter = F.size(F.array_intersect("shs_a", "shs_b")).cast("bigint")
    verified = (
        cand.join(
            doc_sets.select(
                F.col("doc_id").alias("delta_doc"),
                F.col("shs").alias("shs_a"),
                F.col("n").alias("na"),
            ),
            "delta_doc",
        )
        .join(
            doc_sets.select(
                F.col("doc_id").alias("base_doc"),
                F.col("shs").alias("shs_b"),
                F.col("n").alias("nb"),
            ),
            "base_doc",
        )
        .select(
            "delta_doc",
            "base_doc",
            inter.alias("inter"),
            (F.col("na") + F.col("nb") - inter).cast("bigint").alias("un"),
        )
    )
    is_dup = F.col("inter") * 5 >= F.col("un") * 4
    return (
        cand.join(verified, ["delta_doc", "base_doc"], "left")
        .groupBy(F.col("delta_doc").alias("doc_id"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
            F.coalesce(
                F.sum(F.when(is_dup, 1).otherwise(0)), F.lit(0)
            ).cast("bigint").alias("n_dups"),
            F.coalesce(
                F.max(F.when(is_dup, F.col("inter"))), F.lit(0)
            ).cast("bigint").alias("max_inter"),
        )
        .orderBy("doc_id")
    )


# ------- q255: URL canonicalization + domain-aware dedup (round 9)
#
# The standard pre-filter of a web-corpus pipeline (run BEFORE
# content dedup, it is near-free and removes the bulk of re-crawl
# duplicates): canonicalize each page's URL — strip scheme, a
# leading "www.", tracking query parameters (utm_*, ref), a bare
# trailing slash — then dedup exact canonical URLs keeping the
# first fetch, and report per REGISTRABLE DOMAIN (the last two
# host labels — the grouping crawl schedulers and robots caches
# key on). Reference analog: the crawler's one-row-per-page fetch
# (salim/app/crawler, SURVEY S1/S2) never re-visits a URL; at
# corpus scale that discipline becomes this operator.
#
# The documents table carries no url column, so the fixture
# synthesizes one DETERMINISTICALLY from doc_id — identical
# algebra in both engines, exercising every canonicalization rule:
# scheme varies (%2), subdomain varies www/news/none (%3), 12
# hosts (%12) spread over 6 REGISTRABLE domains (example{0,1,2} x
# {com,org} — the %3/%2 pair; the r9 advisor caught that the
# original d<k>.example.com hosts all collapsed to the single
# registrable domain "example.com", leaving the per-domain GROUP
# BY with one group), 50 paths (%50) forcing canonical collisions,
# a bare trailing slash (%5), utm/ref tracking params (%4 / %7).
# The canonicalizer itself is the operator under test; a real
# deployment maps `url` straight in.
#
# Scale shape: two STACKED combine-safe aggregations (the q251
# discipline) — canonical-URL groups collapse map-side (survivor =
# min(doc_id): the q229 agg-not-window shape), then the per-domain
# rollup is a second combine-safe agg over one row per canonical
# URL. No windows, no join back, no hot key: a domain with 10^9
# pages costs its reducer one row per DISTINCT canonical URL after
# map-side partial aggregation.

_URL_SYNTH_SQL = """
    (CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'http://' END)
    || (CASE WHEN doc_id % 3 = 0 THEN 'www.'
             WHEN doc_id % 3 = 1 THEN 'news.' ELSE '' END)
    || 'd' || CAST(doc_id % 12 AS STRING)
    || '.example' || CAST(doc_id % 3 AS STRING)
    || (CASE WHEN doc_id % 2 = 0 THEN '.com' ELSE '.org' END)
    || '/p/' || CAST(doc_id % 50 AS STRING)
    || (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END)
    || (CASE WHEN doc_id % 4 = 0 THEN '?utm_source=x&utm_campaign=y'
             WHEN doc_id % 7 = 0 THEN '?ref=abc' ELSE '' END)
"""

# Canonicalization as portable regex algebra. Two-engine agreement
# needs BOTH (a) a shared dialect — no backrefs, no lookaround, so
# Java regex and RE2 parse every pattern identically — AND (b) the
# same replace arity: Spark's F.regexp_replace is replace-ALL, while
# DuckDB's regexp_replace is replace-FIRST unless passed the 'g'
# option. _canon_sql passes 'g' explicitly (the r9 advisor caught
# that without it the oracle stripped only the first tracking param
# of '?utm_source=x&utm_campaign=y', and the queries hash-matched
# only through a fixture coincidence).
#   1. strip scheme            ^https?://
#   2. strip leading www.      ^www\.
#   3. strip tracking params   (utm_[a-z]+|ref)=[^&#]* (+ tidy &/?)
#   4. strip bare trailing /   /$
_CANON_STEPS = (
    (r"^https?://", ""),
    (r"^www\.", ""),
    (r"(utm_[a-z]+|ref)=[^&#]*&?", ""),
    (r"[?&]$", ""),
    (r"/$", ""),
)
_REG_DOMAIN_RE = r"([a-z0-9-]+\.[a-z]+)(/|$)"


def _canon_sql(expr: str) -> str:
    out = expr
    for pat, rep in _CANON_STEPS:
        out = f"regexp_replace({out}, '{pat}', '{rep}', 'g')"
    return out


_ORACLE_Q255 = f"""
WITH u AS (
    SELECT doc_id, {_URL_SYNTH_SQL} AS url FROM documents
), c AS (
    SELECT doc_id, {_canon_sql('url')} AS curl FROM u
), s AS (
    SELECT curl,
           regexp_extract(curl, '{_REG_DOMAIN_RE}', 1) AS domain,
           CAST(COUNT(*) AS BIGINT) AS n_fetches,
           CAST(MIN(doc_id) AS BIGINT) AS keep_doc
    FROM c GROUP BY curl, regexp_extract(curl, '{_REG_DOMAIN_RE}', 1)
)
SELECT domain,
       CAST(COUNT(*) AS BIGINT) AS n_canonical,
       CAST(SUM(n_fetches) AS BIGINT) AS n_fetches,
       CAST(SUM(n_fetches) - COUNT(*) AS BIGINT) AS n_dupes,
       CAST((SUM(n_fetches) - COUNT(*)) * 1000000
            // SUM(n_fetches) AS BIGINT) AS dup_ppm,
       CAST(MIN(keep_doc) AS BIGINT) AS first_doc
FROM s GROUP BY domain ORDER BY domain
"""


@register(
    "q255_url_dedup_by_domain",
    oracle=_ORACLE_Q255,
    doc="URL canonicalization + domain-aware crawl dedup (the "
    "web-pipeline pre-filter run before content dedup): strip "
    "scheme/www./tracking params/trailing slash with portable "
    "regex algebra, dedup exact canonical URLs keeping the first "
    "fetch, report per registrable domain — two stacked "
    "combine-safe aggregations, no windows, skew-proof at any "
    "re-crawl rate.",
    tags=("dedup", "url", "crawl"),
)
def q255_url_dedup_by_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    # five regex passes per row on a possibly single-file scan:
    # fan_out parallelizes the canonicalizer (no-op on wide scans)
    docs = fan_out(Catalog(spark, sf_dir).documents, "doc_id").selectExpr(
        "doc_id", f"{_URL_SYNTH_SQL} AS url"
    )
    curl = F.col("url")
    for pat, rep in _CANON_STEPS:
        curl = F.regexp_replace(curl, pat, rep)
    c = docs.select("doc_id", curl.alias("curl")).withColumn(
        "domain", F.regexp_extract("curl", _REG_DOMAIN_RE, 1)
    )
    per_url = c.groupBy("curl", "domain").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_fetches"),
        F.min("doc_id").cast("bigint").alias("keep_doc"),
    )
    return (
        per_url.groupBy("domain")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_canonical"),
            F.sum("n_fetches").cast("bigint").alias("n_fetches"),
            (F.sum("n_fetches") - F.count(F.lit(1)))
            .cast("bigint")
            .alias("n_dupes"),
            F.expr(
                "CAST((SUM(n_fetches) - COUNT(*)) * 1000000"
                " DIV SUM(n_fetches) AS BIGINT)"
            ).alias("dup_ppm"),
            F.min("keep_doc").cast("bigint").alias("first_doc"),
        )
        .orderBy("domain")
    )


# --------- q261: per-domain quality scoreboard (round 9)
#
# The domain-level curation step (FineWeb/RefinedWeb-style): after
# URL canonicalization, roll CONTENT signals up to the registrable
# domain — content-duplicate rate and cheap text-quality ratios —
# to build the domain blocklist/allowlist that runs before any
# per-document scoring. Composes q255's URL algebra with q34's
# exact-dedup fingerprint and q30-style stopword ppm, all exact
# BIGINT.
#
# Scale shape: the content-dup survivor comes from ONE combine-safe
# agg (1 row per distinct hash) and joins back on the UNIQUE
# (fingerprint, doc_id) key — the q229 shape — so a hot fingerprint
# spreads over distinct doc_ids instead of funneling one shuffle
# partition; the domain rollup is a second combine-safe agg.
# Survivorship = min(), never a window over a content hash (q229
# rule).

_STOP_RE = "^(the|a|of|and|in|to|is)$"

_ORACLE_Q261 = f"""
WITH u AS (
    SELECT doc_id,
           {_canon_sql(f"({_URL_SYNTH_SQL})")} AS curl,
           md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
               AS fingerprint,
           len({TOKENS_SQL}) AS n_tok,
           len(list_filter({TOKENS_SQL},
               x -> regexp_matches(lower(x), '{_STOP_RE}'))) AS n_stop
    FROM documents
), d AS (
    SELECT u.*, regexp_extract(curl, '{_REG_DOMAIN_RE}', 1) AS domain
    FROM u
), fp AS (
    SELECT fingerprint, MIN(doc_id) AS survivor,
           COUNT(*) AS copies
    FROM d GROUP BY fingerprint
)
SELECT domain,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN d.doc_id <> fp.survivor THEN 1 ELSE 0 END)
            AS BIGINT) AS redundant_docs,
       CAST(SUM(CASE WHEN d.doc_id <> fp.survivor THEN 1 ELSE 0 END)
            * 1000000 // COUNT(*) AS BIGINT) AS dup_ppm,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       CAST(SUM(n_stop) * 1000000 // SUM(n_tok) AS BIGINT)
           AS stop_ppm,
       CAST(CASE WHEN SUM(CASE WHEN d.doc_id <> fp.survivor
                               THEN 1 ELSE 0 END) * 2 < COUNT(*)
                 THEN 1 ELSE 0 END AS BIGINT) AS keep_flag
FROM d JOIN fp USING (fingerprint)
GROUP BY domain ORDER BY domain
"""


@register(
    "q261_domain_quality_rollup",
    oracle=_ORACLE_Q261,
    doc="Domain-level curation scoreboard: content-duplicate rate "
    "(exact md5 fingerprint) and stopword ppm per registrable "
    "domain, plus the majority-unique keep flag — the domain "
    "blocklist builder web pipelines run before per-document "
    "scoring. Two combine-safe aggs; the survivor flag joins back "
    "on the UNIQUE (fingerprint, doc_id) key (q229 shape) — never "
    "on the bare content hash, which AQE cannot skew-split when "
    "the build side is agg-fused (tools/audit_skew_joinback.py).",
    tags=("dedup", "url", "quality", "curation"),
)
def q261_domain_quality_rollup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = fan_out(Catalog(spark, sf_dir).documents, "doc_id")
    curl = F.expr(f"({_URL_SYNTH_SQL})")
    for pat, rep in _CANON_STEPS:
        curl = F.regexp_replace(curl, pat, rep)
    toks = tokens_col()
    d = docs.select(
        "doc_id",
        F.regexp_extract(curl, _REG_DOMAIN_RE, 1).alias("domain"),
        F.md5(
            F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
        ).alias("fingerprint"),
        F.size(toks).alias("n_tok"),
        F.size(
            F.filter(toks, lambda x: F.lower(x).rlike(_STOP_RE))
        ).alias("n_stop"),
    )
    # Survivor flag via the q229 composite-key join: the winners
    # frame carries (fingerprint, doc_id) so the shuffle key is the
    # UNIQUE document identity, never the content hash — a
    # fingerprint duplicated 10^9 times spreads over 10^9 distinct
    # join keys. (A plain join on fingerprint is NOT rescued by AQE:
    # skew-split cannot re-read a build side fused to its own
    # aggregation exchange — demonstrated in
    # tools/audit_skew_joinback.py.)
    winners = d.groupBy("fingerprint").agg(
        F.min("doc_id").alias("doc_id"),
    ).withColumn("is_survivor", F.lit(True))
    j = d.join(winners, ["fingerprint", "doc_id"], "left")
    red = F.when(F.col("is_survivor").isNull(), 1).otherwise(0)
    return (
        j.groupBy("domain")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(red).cast("bigint").alias("redundant_docs"),
            F.expr(
                "CAST(SUM(CASE WHEN is_survivor IS NULL THEN 1 ELSE 0 END)"
                " * 1000000 DIV COUNT(*) AS BIGINT)"
            ).alias("dup_ppm"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
            F.expr(
                "CAST(SUM(n_stop) * 1000000 DIV SUM(n_tok) AS BIGINT)"
            ).alias("stop_ppm"),
            F.expr(
                "CAST(CASE WHEN SUM(CASE WHEN is_survivor IS NULL"
                " THEN 1 ELSE 0 END) * 2 < COUNT(*)"
                " THEN 1 ELSE 0 END AS BIGINT)"
            ).alias("keep_flag"),
        )
        .orderBy("domain")
    )


# --------- q263: URL-dedup vs content-dedup agreement (round 9)
#
# Pipeline QA for the two-stage dedup design: how much of the
# exact-content duplication would the CHEAP URL-canonical dedup
# (q255) alone have caught, and how often does it over-fire
# (same canonical URL, different content — a re-crawled page that
# changed)? The 2x2 confusion counts decide whether the expensive
# content stage can run on the URL-surviving subset only.
#
# Scale shape: both flags are composite-key survivor joins as in
# q261; the final cross-tab is a single combine-safe aggregation
# to ONE row.

_ORACLE_Q263 = f"""
WITH u AS (
    SELECT doc_id,
           {_canon_sql(f"({_URL_SYNTH_SQL})")} AS curl,
           md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
               AS fingerprint
    FROM documents
), cu AS (
    SELECT curl, MIN(doc_id) AS u_survivor FROM u GROUP BY curl
), fp AS (
    SELECT fingerprint, MIN(doc_id) AS c_survivor
    FROM u GROUP BY fingerprint
), flags AS (
    SELECT u.doc_id,
           CASE WHEN u.doc_id <> cu.u_survivor THEN 1 ELSE 0 END
               AS url_dup,
           CASE WHEN u.doc_id <> fp.c_survivor THEN 1 ELSE 0 END
               AS content_dup
    FROM u JOIN cu USING (curl) JOIN fp USING (fingerprint)
)
SELECT CAST(SUM(url_dup * content_dup) AS BIGINT) AS n_both,
       CAST(SUM(url_dup * (1 - content_dup)) AS BIGINT) AS n_url_only,
       CAST(SUM((1 - url_dup) * content_dup) AS BIGINT)
           AS n_content_only,
       CAST(SUM((1 - url_dup) * (1 - content_dup)) AS BIGINT)
           AS n_neither,
       CAST(SUM(CASE WHEN url_dup = content_dup THEN 1 ELSE 0 END)
            * 1000000 // COUNT(*) AS BIGINT) AS agree_ppm
FROM flags
"""


@register(
    "q263_dedup_agreement",
    oracle=_ORACLE_Q263,
    doc="URL-dedup vs content-dedup 2x2 agreement: per doc, the "
    "cheap canonical-URL duplicate flag (q255) against the exact "
    "content-fingerprint flag (q34), cross-tabbed to one row with "
    "an agreement ppm — the measurement that decides whether the "
    "expensive content stage can run on URL survivors only. Two "
    "combine-safe survivor aggs joined back on UNIQUE composite "
    "keys (q229 shape), one single-row rollup.",
    tags=("dedup", "url", "monitoring"),
)
def q263_dedup_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(Catalog(spark, sf_dir).documents, "doc_id")
    curl = F.expr(f"({_URL_SYNTH_SQL})")
    for pat, rep in _CANON_STEPS:
        curl = F.regexp_replace(curl, pat, rep)
    u = docs.select(
        "doc_id",
        curl.alias("curl"),
        F.md5(
            F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
        ).alias("fingerprint"),
    )
    # Composite-key survivor joins (the q229/q261 shape): shuffle on
    # the UNIQUE (key, doc_id) pair, never on the bare content/URL
    # key — a plain key join is not rescued by AQE skew-split when
    # the build side rides its own aggregation exchange
    # (tools/audit_skew_joinback.py).
    cu = (
        u.groupBy("curl")
        .agg(F.min("doc_id").alias("doc_id"))
        .withColumn("u_sv", F.lit(True))
    )
    fp = (
        u.groupBy("fingerprint")
        .agg(F.min("doc_id").alias("doc_id"))
        .withColumn("c_sv", F.lit(True))
    )
    flags = (
        u.join(cu, ["curl", "doc_id"], "left")
        .join(fp, ["fingerprint", "doc_id"], "left")
        .select(
            F.when(F.col("u_sv").isNull(), 1).otherwise(0).alias("url_dup"),
            F.when(F.col("c_sv").isNull(), 1)
            .otherwise(0)
            .alias("content_dup"),
        )
    )
    return flags.agg(
        F.sum(F.col("url_dup") * F.col("content_dup"))
        .cast("bigint")
        .alias("n_both"),
        F.sum(F.col("url_dup") * (1 - F.col("content_dup")))
        .cast("bigint")
        .alias("n_url_only"),
        F.sum((1 - F.col("url_dup")) * F.col("content_dup"))
        .cast("bigint")
        .alias("n_content_only"),
        F.sum((1 - F.col("url_dup")) * (1 - F.col("content_dup")))
        .cast("bigint")
        .alias("n_neither"),
        F.expr(
            "CAST(SUM(CASE WHEN url_dup = content_dup THEN 1 ELSE 0 END)"
            " * 1000000 DIV COUNT(*) AS BIGINT)"
        ).alias("agree_ppm"),
    )


# ------- q264: LSH index fold-in + replay idempotence (round 10)
#
# Closes the loop q252 left open (r9 verdict #3): q252 PROBES the
# standing LSH band index with a new-crawl delta but never UPDATES
# it. A real ingest gate is probe → admit the non-duplicate
# survivors → fold the survivors' bands back into the index — and
# the defining property of that composition is REPLAY IDEMPOTENCE:
# re-probing the very same delta against the folded index must
# admit nothing (every survivor now collides with its own index
# entry at Jaccard 1, every rejected doc still collides with the
# base duplicate that rejected it). This is the batch twin of
# streaming/dedupgate.py's persistent LSH store discipline (the
# q120 gate folds survivors into its state store per micro-batch
# for exactly this reason); reference analog: the crawler's
# "skip files already ingested" anti-join (SURVEY S6) lifted from
# file identity to content near-identity.
#
# Scale shape: the index is O(#docs x NUM_BANDS) rows and fold-in
# is an APPEND (a union of band rows — never a rewrite of the
# standing index); both probes are the asymmetric delta-vs-index
# band equi-join (never corpus x corpus); verification is the
# q144/q252 per-candidate array_intersect idiom shuffling
# |candidates| rows, not candidates x shingles. Per-doc rollups
# are combine-safe aggs; survivor selection is a semi join on the
# unique doc_id (agg-not-window, q229 discipline).

_ORACLE_Q264 = f"""
WITH {SHINGLES_SQL},
minhash AS (
    {_minhash_select_sql()}
),
bands AS (
{_band_keys_sql()}
),
dbands AS (SELECT * FROM bands WHERE doc_id % {INC_MOD} = 0),
bbands AS (SELECT * FROM bands WHERE doc_id % {INC_MOD} <> 0),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
cand1 AS (
    SELECT DISTINCT d.doc_id AS delta_doc, b.doc_id AS idx_doc
    FROM dbands d JOIN bbands b ON d.band = b.band AND d.bkey = b.bkey
),
ver1 AS (
    SELECT c.delta_doc, c.idx_doc
    FROM cand1 c
    JOIN shingles a ON a.doc_id = c.delta_doc
    JOIN shingles b ON b.doc_id = c.idx_doc AND a.sh = b.sh
    JOIN sizes sa ON sa.doc_id = c.delta_doc
    JOIN sizes sb ON sb.doc_id = c.idx_doc
    GROUP BY c.delta_doc, c.idx_doc, sa.n, sb.n
    HAVING COUNT(*) * 5 >= (sa.n + sb.n - COUNT(*)) * 4
),
firstpass AS (
    SELECT u.doc_id,
           CAST(COALESCE(v.n_dups, 0) AS BIGINT) AS n_dups_first,
           CAST(CASE WHEN v.n_dups IS NULL THEN 1 ELSE 0
                END AS BIGINT) AS admitted
    FROM (SELECT DISTINCT doc_id FROM dbands) u
    LEFT JOIN (SELECT delta_doc, COUNT(*) AS n_dups
               FROM ver1 GROUP BY delta_doc) v
           ON v.delta_doc = u.doc_id
),
folded AS (
    SELECT * FROM bbands
    UNION ALL
    SELECT d.* FROM dbands d
    JOIN firstpass f ON f.doc_id = d.doc_id AND f.admitted = 1
),
cand2 AS (
    SELECT DISTINCT d.doc_id AS delta_doc, x.doc_id AS idx_doc
    FROM dbands d JOIN folded x ON d.band = x.band AND d.bkey = x.bkey
),
ver2 AS (
    SELECT c.delta_doc, c.idx_doc
    FROM cand2 c
    JOIN shingles a ON a.doc_id = c.delta_doc
    JOIN shingles b ON b.doc_id = c.idx_doc AND a.sh = b.sh
    JOIN sizes sa ON sa.doc_id = c.delta_doc
    JOIN sizes sb ON sb.doc_id = c.idx_doc
    GROUP BY c.delta_doc, c.idx_doc, sa.n, sb.n
    HAVING COUNT(*) * 5 >= (sa.n + sb.n - COUNT(*)) * 4
)
SELECT f.doc_id, f.n_dups_first, f.admitted,
       CAST(COALESCE(c2.n_cand, 0) AS BIGINT) AS n_cand_replay,
       CAST(COALESCE(v2.n_dups, 0) AS BIGINT) AS n_dups_replay,
       CAST(CASE WHEN COALESCE(v2.n_dups, 0) = 0 THEN 1 ELSE 0
            END AS BIGINT) AS readmitted
FROM firstpass f
LEFT JOIN (SELECT delta_doc, COUNT(*) AS n_cand
           FROM cand2 GROUP BY delta_doc) c2 ON c2.delta_doc = f.doc_id
LEFT JOIN (SELECT delta_doc, COUNT(*) AS n_dups
           FROM ver2 GROUP BY delta_doc) v2 ON v2.delta_doc = f.doc_id
ORDER BY doc_id
"""


def _verified_dup_pairs(cand: DataFrame, doc_sets: DataFrame) -> DataFrame:
    """(delta_doc, idx_doc) pairs of `cand` whose exact shingle-set
    Jaccard clears the 0.8 threshold — the q144/q252 per-candidate
    array_intersect idiom (all-BIGINT inter*5 >= union*4), shuffling
    one row per candidate."""
    inter = F.size(F.array_intersect("shs_a", "shs_b")).cast("bigint")
    return (
        cand.join(
            doc_sets.select(
                F.col("doc_id").alias("delta_doc"),
                F.col("shs").alias("shs_a"),
                F.col("n").alias("na"),
            ),
            "delta_doc",
        )
        .join(
            doc_sets.select(
                F.col("doc_id").alias("idx_doc"),
                F.col("shs").alias("shs_b"),
                F.col("n").alias("nb"),
            ),
            "idx_doc",
        )
        .where(inter * 5 >= (F.col("na") + F.col("nb") - inter) * 4)
        .select("delta_doc", "idx_doc")
    )


def _probe_counts(cand: DataFrame, alias: str) -> DataFrame:
    return cand.groupBy(F.col("delta_doc").alias("doc_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias(alias)
    )


@register(
    "q264_lsh_index_foldin",
    oracle=_ORACLE_Q264,
    doc="LSH ingest-gate composition: probe the new-crawl delta "
    "(doc_id % 10 == 0) against the standing base band index "
    "(q252), ADMIT the survivors, FOLD their bands back into the "
    "index as an append, then re-probe the same delta to prove "
    "replay idempotence — every doc collides on replay (survivors "
    "with themselves at Jaccard 1, rejects with their base dups), "
    "so a replayed batch admits nothing. Per delta doc: first-pass "
    "verified dups, admitted flag, replay candidates/dups, and the "
    "all-zero readmitted flag.",
    tags=("dedup", "minhash", "lsh", "incremental", "replay"),
)
def q264_lsh_index_foldin(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r10 optimization (guide §1.2 "the distributed algorithm" +
    # §5 reuse-beats-recompute). The naive composition re-derived the
    # shingle->minhash->band subtree at every use (77 parquet scans /
    # 126 exchanges in the before plan) and probed + verified the
    # ENTIRE folded index on replay. Two exact rewrites:
    #   1. checkpoint the shared intermediates (band table, per-doc
    #      shingle sets, first-pass candidates) — each is built once
    #      per invocation and reused by both passes;
    #   2. the replay pass distributes over the fold-in union:
    #      folded = base ∪ admitted-delta partitions the index by
    #      doc_id % INC_MOD, so cand2 = cand1 ∪ (delta ⋈ admitted
    #      bands) with DISJOINT idx_doc sides, and verification
    #      distributes over that disjoint union: ver2 = ver1 ∪
    #      verify(extra). The replay probe therefore touches only
    #      delta-vs-admitted-delta band pairs — O(delta), never a
    #      second full-index pass. At 100 TB the base index never
    #      moves twice; semantics pinned by the unchanged oracle
    #      (which still computes the replay pass naively).
    # r11 (guide §2.6): the band table and the per-doc shingle sets
    # are INDEPENDENT eager builds (bands <- minhash, doc_sets <-
    # shingles; both ride session-persisted base frames), so their
    # checkpoint jobs run from two driver threads and back-fill each
    # other's straggler tails instead of serializing.
    from concurrent.futures import ThreadPoolExecutor

    sh = shingles_df(spark, sf_dir)
    with ThreadPoolExecutor(2) as pool:
        fb = pool.submit(
            lambda: band_keys(minhash_df(spark, sf_dir)).localCheckpoint()
        )
        fd = pool.submit(
            lambda: sh.groupBy("doc_id")
            .agg(
                F.collect_list("sh").alias("shs"),
                F.count(F.lit(1)).cast("bigint").alias("n"),
            )
            .localCheckpoint()
        )
        bands, doc_sets = fb.result(), fd.result()
    delta_b = bands.where(F.col("doc_id") % INC_MOD == 0)
    base_b = bands.where(F.col("doc_id") % INC_MOD != 0)

    def probe(index_b: DataFrame) -> DataFrame:
        return (
            delta_b.alias("d")
            .join(
                index_b.alias("x"),
                (F.col("d.band") == F.col("x.band"))
                & (F.col("d.bkey") == F.col("x.bkey")),
            )
            .select(
                F.col("d.doc_id").alias("delta_doc"),
                F.col("x.doc_id").alias("idx_doc"),
            )
            .distinct()
        )

    cand1 = probe(base_b).localCheckpoint()
    dups1 = _probe_counts(_verified_dup_pairs(cand1, doc_sets), "n_dups_first")
    firstpass = (
        delta_b.select("doc_id")
        .distinct()
        .join(dups1, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_dups_first", F.lit(0))
            .cast("bigint")
            .alias("n_dups_first"),
            F.when(F.col("n_dups_first").isNull(), 1)
            .otherwise(0)
            .cast("bigint")
            .alias("admitted"),
        )
        .localCheckpoint()
    )
    # Fold-in = APPEND of the survivors' band rows (semi join on the
    # unique doc_id — never a window, never an index rewrite). Only
    # the appended slice needs probing on replay (rewrite #2 above).
    admitted_b = delta_b.join(
        firstpass.where(F.col("admitted") == 1).select("doc_id"),
        "doc_id",
        "semi",
    )
    # (not checkpointed: it derives from the checkpointed bands +
    # firstpass, so the duplicated subtree is two cheap band joins,
    # and the LeftSemi fold-in stays visible in the final plan)
    extra = probe(admitted_b)
    # r11 (guide §2.3/§2.4): the three per-doc rollups (first-pass
    # candidates, replay-extra candidates, replay-extra verified
    # dups) used to aggregate separately and LEFT JOIN back onto the
    # firstpass spine one by one — 3 doc-keyed agg exchanges + 3
    # SortMergeJoins. They are all counts over delta_doc, so one
    # tagged union + ONE conditional combine-safe agg + ONE join
    # produces the identical three columns with a single doc-keyed
    # exchange.
    tagged = (
        cand1.select("delta_doc", F.lit(0).alias("k"))
        .unionByName(extra.select("delta_doc", F.lit(1).alias("k")))
        .unionByName(
            _verified_dup_pairs(extra, doc_sets).select(
                "delta_doc", F.lit(2).alias("k")
            )
        )
    )
    counts = tagged.groupBy(F.col("delta_doc").alias("doc_id")).agg(
        F.sum(F.when(F.col("k") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("nc1"),
        F.sum(F.when(F.col("k") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("ncx"),
        F.sum(F.when(F.col("k") == 2, 1).otherwise(0))
        .cast("bigint")
        .alias("ndx"),
    )
    n_dups_replay = (
        F.col("n_dups_first") + F.coalesce("ndx", F.lit(0))
    ).cast("bigint")
    return (
        firstpass.join(counts, "doc_id", "left")
        .select(
            "doc_id",
            "n_dups_first",
            "admitted",
            (F.coalesce("nc1", F.lit(0)) + F.coalesce("ncx", F.lit(0)))
            .cast("bigint")
            .alias("n_cand_replay"),
            n_dups_replay.alias("n_dups_replay"),
            F.when(n_dups_replay == 0, 1)
            .otherwise(0)
            .cast("bigint")
            .alias("readmitted"),
        )
        .orderBy("doc_id")
    )


# ------- q270: cross-source near-dup contamination matrix (r10)
#
# The curation diagnostic behind every "dataset X is N% contained
# in dataset Y" report: roll the verified near-dup pair graph up
# to the SOURCE level — which feeds copy from each other, how many
# pairs cross a source boundary, how many docs are implicated per
# source pair. Runs on the materialized pair table (lsh_pairs_df —
# at 100 TB the LSH join + verify runs once at ingest; this query
# is pure analysis over it, like q70's components).
#
# Scale shape: two keyed joins doc_id -> source (unique key, no
# fan-out), a least/greatest pair normalization (the unordered
# source pair), and two combine-safe rollups — pair counts
# directly, implicated-doc counts over the UNION of the two
# endpoint projections pre-distincted on (pair, doc). No windows,
# no content-keyed joins.

_ORACLE_Q270 = f"""
WITH {SHINGLES_SQL},
minhash AS (
    {_minhash_select_sql()}
),
bands AS (
{_band_keys_sql()}
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a
    JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
                AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
verified AS (
    SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
    FROM cand c
    JOIN shingles a ON a.doc_id = c.doc_a
    JOIN shingles b ON b.doc_id = c.doc_b AND a.sh = b.sh
    GROUP BY c.doc_a, c.doc_b
),
pairs AS (
    SELECT v.doc_a, v.doc_b
    FROM verified v
    JOIN sizes sa ON v.doc_a = sa.doc_id
    JOIN sizes sb ON v.doc_b = sb.doc_id
    WHERE CAST(v.inter AS DOUBLE) / (sa.n + sb.n - v.inter)
          >= {LSH_VERIFY_THRESHOLD}
),
src AS (SELECT doc_id, source FROM documents),
p AS (
    SELECT least(s1.source, s2.source) AS source_a,
           greatest(s1.source, s2.source) AS source_b,
           doc_a, doc_b
    FROM pairs
    JOIN src s1 ON s1.doc_id = doc_a
    JOIN src s2 ON s2.doc_id = doc_b
),
np AS (
    SELECT source_a, source_b, COUNT(*) AS n_pairs
    FROM p GROUP BY source_a, source_b
),
nd AS (
    SELECT source_a, source_b, COUNT(*) AS n_docs FROM (
        SELECT DISTINCT source_a, source_b, d FROM (
            SELECT source_a, source_b, doc_a AS d FROM p
            UNION ALL
            SELECT source_a, source_b, doc_b AS d FROM p
        )
    ) GROUP BY source_a, source_b
)
SELECT np.source_a, np.source_b,
       CAST(CASE WHEN np.source_a <> np.source_b THEN 1 ELSE 0
            END AS BIGINT) AS cross_source,
       CAST(np.n_pairs AS BIGINT) AS n_pairs,
       CAST(nd.n_docs AS BIGINT) AS n_docs
FROM np JOIN nd USING (source_a, source_b)
ORDER BY source_a, source_b
"""


@register(
    "q270_cross_source_matrix",
    oracle=_ORACLE_Q270,
    doc="Cross-source near-dup contamination matrix (the 'dataset "
    "X is N% contained in dataset Y' report): the verified LSH "
    "pair graph rolled up to unordered source pairs — pair counts, "
    "implicated-doc counts, cross-source flag. Pure analysis over "
    "the materialized pair table; doc->source joins key on the "
    "unique doc_id.",
    tags=("dedup", "minhash", "curation", "monitoring"),
)
def q270_cross_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = lsh_pairs_df(spark, sf_dir).select("doc_a", "doc_b")
    src = Catalog(spark, sf_dir).documents.select("doc_id", "source")
    p = (
        pairs.join(
            src.select(
                F.col("doc_id").alias("doc_a"), F.col("source").alias("s1")
            ),
            "doc_a",
        )
        .join(
            src.select(
                F.col("doc_id").alias("doc_b"), F.col("source").alias("s2")
            ),
            "doc_b",
        )
        .select(
            F.least("s1", "s2").alias("source_a"),
            F.greatest("s1", "s2").alias("source_b"),
            "doc_a",
            "doc_b",
        )
    )
    np_ = p.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs")
    )
    nd = (
        p.select("source_a", "source_b", F.col("doc_a").alias("d"))
        .unionByName(
            p.select("source_a", "source_b", F.col("doc_b").alias("d"))
        )
        .distinct()
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )
    return (
        np_.join(nd, ["source_a", "source_b"])
        .select(
            "source_a",
            "source_b",
            F.when(F.col("source_a") != F.col("source_b"), 1)
            .otherwise(0)
            .cast("bigint")
            .alias("cross_source"),
            "n_pairs",
            "n_docs",
        )
        .orderBy("source_a", "source_b")
    )
