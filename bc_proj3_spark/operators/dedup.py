"""Deduplication operator family over the ``documents`` table.

Training-data-pipeline dedup, Spark-first, each variant registered with
a full DuckDB oracle (cross-engine hash parity via
:mod:`bc_proj3_spark.functions.hashing`):

- exact dedup on a content fingerprint (hash-groupBy — one shuffle);
- near-dup via exact n-gram Jaccard on an inverted shingle index
  (never all-pairs: the self-join is on the shingle key);
- MinHash + banded LSH candidate generation with candidate-only
  verification (the 100 TB path: Jaccard is computed ONLY for pairs
  that share a band bucket);
- SimHash bit-vote signatures (constant-size sketch per doc).

The reference's closest analogue is its sha2 surrogate-key dedup-insert
(silver_nyt_archive.py:102-120 — row identity); these operators extend
that to *content* identity, the thing an LLM-corpus pipeline dedups on.

Scale notes (100 TB posture):
- every operator is explode → shuffle-on-key → agg; no driver-side
  loops, no cross joins, no Python workers.
- the shingle index is document-frequency capped (shingle_df_cap):
  boilerplate shingles — the quadratic hot keys of any inverted-index
  self-join — are dropped before signatures/joins, identically in the
  Spark plan and the DuckDB oracle. With the cap, d3's self-join input
  is bounded; at corpus scale you still run d4 (LSH) so the pairwise
  work is bucket-local, then verify candidates only.
- MinHash signatures are fixed-width (K ints/doc): the groupBy that
  builds them is a single map-side-combinable aggregation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from bc_proj3_spark.functions import text as T
from bc_proj3_spark.functions.hashing import hash32, hash60, sql_hash32, sql_hash60
from bc_proj3_spark.plans.tables import fanout, local_rows_df, table
from bc_proj3_spark.registry import register

# MinHash/LSH geometry: K = NUM_BANDS * ROWS_PER_BAND signatures.
NUM_HASHES = 16
NUM_BANDS = 4
ROWS_PER_BAND = 4
JACCARD_THRESHOLD = 0.2

# Shingle document-frequency cap: a shingle appearing in more than
# max(n_docs // DIV, MIN) documents is boilerplate (license headers,
# navigation chrome) — it contributes ~no Jaccard discrimination but is
# THE quadratic blow-up in any inverted-index self-join (a shingle in m
# docs yields m² candidate pairs). Dropping capped shingles bounds d3's
# self-join fan-out and shrinks d4/d6's signature + verification index.
# Applied identically in the Spark plan and the DuckDB oracle (floor
# division in both engines) so cross-engine hashes still match.
SHINGLE_DF_CAP_DIV = 100
SHINGLE_DF_CAP_MIN = 20


def shingle_df_cap(n_docs: int) -> int:
    return max(n_docs // SHINGLE_DF_CAP_DIV, SHINGLE_DF_CAP_MIN)

_WS = r"\s+"


# ---------------------------------------------------------------------------
# shared shingle builders (word 3-grams, Spark + DuckDB twins)
# ---------------------------------------------------------------------------


def _words(col: Column) -> Column:
    return F.split(F.trim(col), _WS)


def shingles(col: Column, n: int = 3) -> Column:
    """Word n-gram shingles of a text column (empty array when < n words).

    The n>=size guard matters: Spark's ``sequence(1, 0)`` counts *down*
    (step defaults to -1 when start > stop), which would fabricate
    indices — so short docs short-circuit to an empty array.
    """
    w = _words(col)
    size = F.size(w)
    idx = F.when(size >= n, F.sequence(F.lit(1), size - (n - 1))).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(w, i + j) for j in range(n)]
        ),
    )


#: DuckDB CTE prefix producing the hashed shingle index
#: `sh(doc_id, k, a, b)` plus per-doc counts `sizes`.
#:
#: One md5 per distinct (doc, shingle); its hex is parsed into
#: - k: 60-bit join key (15 hex chars — fits BIGINT in both engines;
#:   smaller+faster shuffle key than the raw 3-word shingle string, and
#:   collisions at 2^60 are negligible; functions/hashing.py hash60 is
#:   the Spark twin of this slice),
#: - a, b: two independent 32-bit words that seed the MinHash family
#:   h_i = (a + (i+1)*(2b+1)) mod 2^32 — one md5 yields all K hash
#:   functions arithmetically (Carter-Wegman style) instead of K md5
#:   calls per row.
#:
#: The source relation is a {src} placeholder (see :func:`_sql_shingles`)
#: so survivor-scoped variants (d6) substitute explicitly instead of
#: string-replacing the shared CTE after the fact. ``sh`` is the
#: DF-capped index (see SHINGLE_DF_CAP_DIV): shingles whose document
#: frequency exceeds max(count({src}) // DIV, MIN) are dropped BEFORE
#: signatures/joins/sizes, mirroring _shingle_pairs exactly.
_SQL_SHINGLES_TMPL = """
toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM {src}
),
shs AS (
  SELECT DISTINCT doc_id,
    unnest(list_transform(generate_series(1, greatest(len(w) - 2, 0)),
                          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
  FROM toks
),
hs AS (SELECT doc_id, md5(s) AS h FROM shs),
sh0 AS (
  SELECT doc_id,
         ('0x' || substr(h, 1, 15))::BIGINT AS k,
         ('0x' || substr(h, 1, 8))::BIGINT AS a,
         ('0x' || substr(h, 9, 8))::BIGINT AS b
  FROM hs
),
sh AS (
  SELECT doc_id, k, a, b FROM (
    SELECT sh0.*, COUNT(*) OVER (PARTITION BY k) AS dfreq FROM sh0
  ) capped
  WHERE dfreq <= (SELECT greatest(count(*) // {cap_div}, {cap_min}) FROM {src})
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id)
"""


def _sql_shingles(src: str = "documents") -> str:
    """The hashed-shingle CTE block over a named source relation."""
    return _SQL_SHINGLES_TMPL.format(
        src=src, cap_div=SHINGLE_DF_CAP_DIV, cap_min=SHINGLE_DF_CAP_MIN
    )


_MOD32 = 1 << 32


def _sql_minhash(i: int) -> str:
    return f"MIN((a + {i + 1} * (2 * b + 1)) % {_MOD32}) AS h{i}"


def _minhash_col(i: int) -> Column:
    return F.min(
        (F.col("a") + F.lit(i + 1) * (F.lit(2) * F.col("b") + F.lit(1))) % F.lit(_MOD32)
    ).alias(f"h{i}")


def _shingle_pairs(
    docs: DataFrame,
    n_docs: int | None = None,
    n_docs_df: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(sh, sizes): hashed distinct-shingle index and per-doc counts,
    with the document-frequency cap applied (SHINGLE_DF_CAP_DIV).

    sh carries (doc_id, k, a, b) — see _SQL_SHINGLES for the layout
    rationale. All downstream joins use the compact integer key k.

    The cap costs ONE extra pass over the raw (un-persisted) index: a
    map-side-combinable (k, count) aggregate whose over-cap keys are
    collected to the driver. The list is size-BOUNDED independent of
    corpus size — sum(dfreq) = index rows N and every hot key has
    dfreq > cap = n_docs // 100, so |hot| < N/cap ≈ 100 × the average
    shingles-per-doc — a few thousand bigints at any scale. When the
    list is empty (clean corpora; every test SF) the anti-join is
    dropped from the plan entirely; otherwise it is a broadcast of the
    already-collected keys, so the filter stays map-side and the raw
    index is never shuffled. The raw (pre-cap) index is persisted so
    the hot-key census and the capped filter share ONE explode→md5
    pass; the transient cache is released as soon as the capped index
    materializes. (History: r4 measured the raw persist slower than
    recomputing [3.8 s vs 1.2 s] and reverted it; an r7 10-sample A/B
    at sf0.1 shows persist consistently ~20% faster [median 1.27 s vs
    1.61 s build] — the r4 number was host-VM noise. At cluster scale
    the shingle expression is CPU-bound [regex split + md5], so
    trading it for a local-disk cache write is the right default; the
    cache is line-rate local I/O, never a shuffle.)

    Caching: the CAPPED index is persisted + materialized — every later
    job (self-joins, signatures, candidate verification, each a
    separate plan) reads the capped blocks instead of re-deriving the
    explode→md5 subtree per plan. Callers own ``sh.unpersist()`` unless
    they went through :func:`_documents_shingle_index` (which owns the
    cache). ``n_docs`` avoids a recount when the caller already
    materialized the doc count (d6's survivor set)."""
    from pyspark import StorageLevel

    if n_docs is None and n_docs_df is None:
        n_docs = docs.count()  # parquet metadata count — no data scan
    shs = fanout(docs).select(
        "doc_id", F.explode(F.array_distinct(shingles(F.col("text")))).alias("s")
    )
    h = F.md5(F.col("s"))
    sh0 = shs.select(
        "doc_id",
        F.conv(F.substring(h, 1, 15), 16, 10).cast("bigint").alias("k"),
        F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint").alias("a"),
        F.conv(F.substring(h, 9, 8), 16, 10).cast("bigint").alias("b"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    census = sh0.groupBy("k").agg(F.count(F.lit(1)).alias("dfreq"))
    if n_docs_df is not None:
        # cap computed IN-PLAN (r11 job trim): a caller whose doc set is
        # itself a computed frame (d6/d9's survivor set) passes its
        # 1-row count subtree instead of paying a separate count job
        # just to derive the cap — the census collect below is then the
        # FIRST job over the survivor set and fills its cache. The
        # arithmetic mirrors shingle_df_cap exactly (floor division,
        # SHINGLE_DF_CAP_MIN floor).
        hot = census.crossJoin(n_docs_df.select(F.col("n_docs_cap"))).filter(
            F.col("dfreq")
            > F.greatest(
                # integer DIV, the exact twin of shingle_df_cap's //
                F.expr(f"n_docs_cap DIV {SHINGLE_DF_CAP_DIV}"),
                F.lit(SHINGLE_DF_CAP_MIN).cast("bigint"),
            )
        )
    else:
        hot = census.filter(F.col("dfreq") > shingle_df_cap(n_docs))
    hot_keys = [r[0] for r in hot.select("k").collect()]
    if hot_keys:
        hot = docs.sparkSession.createDataFrame(
            [(k,) for k in hot_keys], "k bigint"
        )
        sh = sh0.join(F.broadcast(hot), "k", "left_anti").persist(
            StorageLevel.MEMORY_AND_DISK
        )
        sh.count()  # materialize: downstream plans read cached blocks
        # the capped index is materialized; the raw one is only safe to
        # release when it is a DIFFERENT frame (no hot keys -> sh IS
        # sh0, and unpersisting would drop the live cache)
        sh0.unpersist()
    else:
        # clean corpus: the capped index IS sh0, whose cache the hot-key
        # census job just filled — a second persist+count would only
        # re-read the cache (one whole job of pure overhead, r10 trim)
        sh = sh0
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    return sh, sizes


#: Session-shared capped shingle index over the FULL documents table,
#: keyed by (applicationId, sf_dir). d3 and d4 build byte-identical
#: indexes; the correctness driver runs the whole registry on one
#: session, so sharing saves a full index build per query. Entries
#: whose cache was evicted (bench.py clearCache between queries, or
#: executor pressure) are rebuilt transparently. d6's survivor-scoped
#: index is per-call and NOT cached here (different source relation).
_DOC_INDEX_CACHE: dict[tuple[str, str], tuple[DataFrame, DataFrame]] = {}


def _documents_shingle_index(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The shared (sh, sizes) index for ``{sf_dir}/documents.parquet``.

    Cache lifetime is the session: callers must NOT unpersist the
    returned frame (unlike :func:`_shingle_pairs`, whose private
    results the caller owns).

    Disk-materialization seam (``SPARK_GRAFT_INDEX_SPILL_DIR``, see
    operators.artifacts): when set, the capped index is ALSO published
    once per (spill dir, sf_dir) as the ``shingle_index`` artifact, and
    a cache-evicted entry is restored by re-reading it instead of
    re-running the explode→md5 build — a local columnar scan of a few
    MB vs ~1.5 s of regex+hash CPU at sf0.1. bench.py sets a fresh
    temp dir per run (its per-query clearCache evicts the blocks
    between each of the ~15 index consumers, so without the seam each
    one rebuilds from scratch); this is the write-once derived-index
    pattern a warehouse would use — at 100 TB the index is a bucketed
    table, not a per-query recompute. The restore bypasses the
    consumer memo (``_ARTIFACT_CACHE``): this cache is the index's
    memo. Correctness runs never set the variable, so driver plans are
    untouched."""
    key = (spark.sparkContext.applicationId, sf_dir)
    hit = _DOC_INDEX_CACHE.get(key)
    if hit is not None and hit[0].is_cached:
        return hit
    path = _published(sf_dir, "shingle_index")
    if path is None:
        sh, sizes = _shingle_pairs(table(spark, sf_dir, "documents"))
        _artifact_publish(sh, sf_dir, "shingle_index")
    else:
        sh = _artifact_read(spark, path)
        sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    _DOC_INDEX_CACHE[key] = (sh, sizes)
    return sh, sizes


# Result-level artifact helpers (owner/consumer seam, docs/benching.md)
# live in operators.artifacts; re-imported here for the dedup owners
# and for test access via dedup._ARTIFACT_CACHE (same dict object).
from bc_proj3_spark.operators.artifacts import (  # noqa: E402
    _ARTIFACT_CACHE,
    _artifact_publish,
    _artifact_read,
    _artifact_restore,
    _published,
)


def _verified_jaccard(cand: DataFrame, sh: DataFrame) -> DataFrame:
    """Exact Jaccard for candidate (doc_a, doc_b) pairs only.

    The pair list is materialized eagerly (persist + count — the same
    barrier MLlib's LSH uses) and the shingle index is first semi-joined
    down to candidate docs, so every probe join runs over data
    proportional to CANDIDATE volume, not corpus size — which is what
    makes the LSH path scale. Eager materialization also stops AQE's
    concurrent broadcast-exchange jobs from racing to recompute the
    un-cached candidate subtree once per branch.

    Candidate-pair volume is data-dependent and unbounded (a hot band
    bucket yields quadratic pairs), so the candidate/size joins carry NO
    broadcast hint: they shuffle on doc keys, and AQE still converts to
    broadcast at runtime whenever the materialized side is actually
    small. Only ``docs_in`` — the distinct doc-id list, bounded by
    2 × candidates and a single bigint column — is broadcast, to drive
    the semi-join pruning of the shingle index.

    The returned pair list is persisted + materialized here so the
    intermediates (cand, pruned index) can be unpersisted before
    returning; callers get a small cached result and owe no cleanup.
    """
    from pyspark import StorageLevel

    cand_was_cached = cand.is_cached
    if not cand_was_cached:
        cand = cand.persist(StorageLevel.MEMORY_AND_DISK)
        cand.count()
    # else: _lsh_candidate_pairs already persisted AND materialized it —
    # re-counting would spend one whole job re-reading the cache.
    docs_in = cand.select(
        F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
    ).distinct()
    # r11 job trim: no standalone shc.count — the single action below
    # (out.count) fills shc's cache on first touch. The A/B'd AQE risk
    # (broadcast-subquery branches racing to recompute an UNCACHED
    # subtree) is bounded here: shc's subtree is one semi-join of the
    # already-cached index against the already-broadcast id list, so a
    # duplicate evaluation costs less than the job it replaces.
    shc = sh.join(F.broadcast(docs_in), "doc_id", "left_semi").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    sizes = shc.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    ca = cand.join(
        shc.alias("sa"), F.col("doc_a") == F.col("sa.doc_id")
    ).select("doc_a", "doc_b", F.col("sa.k").alias("k_a"))
    inter = (
        ca.join(
            shc.alias("sb"),
            (F.col("doc_b") == F.col("sb.doc_id")) & (F.col("k_a") == F.col("sb.k")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    out = (
        inter.join(sizes.alias("za"), F.col("doc_a") == F.col("za.doc_id"))
        .join(sizes.alias("zb"), F.col("doc_b") == F.col("zb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("n_common").cast("double")
                / (F.col("za.n") + F.col("zb.n") - F.col("n_common"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    out.count()
    cand.unpersist()
    shc.unpersist()
    return out


# ---------------------------------------------------------------------------
# d1 — exact dedup groups (content-identity fingerprint)
# ---------------------------------------------------------------------------

_D1_ORACLE = f"""
SELECT fp, COUNT(*) AS n_docs, MIN(doc_id) AS canonical_doc_id
FROM (SELECT doc_id, {T.sql_fingerprint('text')} AS fp FROM documents) f
GROUP BY fp
HAVING COUNT(*) > 1
"""


@register("d1_exact_dedup_groups", _D1_ORACLE)
def d1_exact_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-content groups: hash-groupBy on the sorted-token-set
    fingerprint (functions/text.py), keep groups with >1 member. One
    shuffle on the 128-bit key; partial aggregation map-side. This is
    content-level dedup, vs the reference's row-level sha2 dedup-insert
    (silver_nyt_archive.py:106-119)."""
    docs = fanout(table(spark, sf_dir, "documents"))
    return (
        docs.select("doc_id", T.fingerprint(F.col("text")).alias("fp"))
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("canonical_doc_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


# ---------------------------------------------------------------------------
# d2 — dedup survivors (keep best-quality member per group)
# ---------------------------------------------------------------------------

_D2_ORACLE = f"""
SELECT doc_id, fp FROM (
  SELECT doc_id, fp,
         ROW_NUMBER() OVER (PARTITION BY fp ORDER BY n_chars DESC, doc_id) AS rn
  FROM (SELECT doc_id, n_chars, {T.sql_fingerprint('text')} AS fp FROM documents) f
) t
WHERE rn = 1
"""


@register("d2_dedup_survivors", _D2_ORACLE)
def d2_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup operator proper: one surviving doc per content
    fingerprint, keeping the longest (then lowest-id) member — a rank
    window over the fingerprint partition, the scalable form of
    "keep-first" dedup."""
    from pyspark.sql.window import Window

    docs = fanout(table(spark, sf_dir, "documents"))
    w = Window.partitionBy("fp").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        docs.select("doc_id", "n_chars", T.fingerprint(F.col("text")).alias("fp"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "fp")
    )


# ---------------------------------------------------------------------------
# d3 — exact n-gram Jaccard near-dup pairs (inverted index join)
# ---------------------------------------------------------------------------

_D3_ORACLE = f"""
WITH {_sql_shingles()},
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.k = b.k AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       CAST(n_common AS DOUBLE) / (za.n + zb.n - n_common) AS jaccard
FROM common
JOIN sizes za ON doc_a = za.doc_id
JOIN sizes zb ON doc_b = zb.doc_id
WHERE CAST(n_common AS DOUBLE) / (za.n + zb.n - n_common) >= {JACCARD_THRESHOLD}
"""


@register("d3_jaccard_pairs", _D3_ORACLE)
def d3_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by word-3-gram Jaccard >= 0.2 (computed over
    the 60-bit hashed shingle space — collision odds at 2^60 are nil).

    Pair generation is an inverted-index self-join on the compact
    integer shingle key (shuffle on `k`), never a doc×doc cross join.
    The document-frequency cap (shingle_df_cap) bounds the self-join
    fan-out: a shingle in m docs yields m² pairs, and capped boilerplate
    shingles carry ~no Jaccard signal, so dropping them makes the join
    input scale-safe. At corpus scale still prefer d4 (MinHash LSH) and
    use this shape as the verifier on candidates.

    The shingle index feeds both self-join sides plus the size lookup;
    it comes persisted + materialized from the session-shared cache
    (_documents_shingle_index — d4 reads the same blocks), so the
    explode→hash subtree runs at most once per session."""
    from pyspark import StorageLevel

    sh, sizes = _documents_shingle_index(spark, sf_dir)
    # r11 (guide §2.4): inverted-index self-join → ONE groupBy(k) +
    # sorted collect_list + in-bucket ordered pair expansion (doc_a <
    # doc_b — the _lsh_candidate_pairs/d10 pattern; doc_ids unique per
    # key). Pair multiset identical, one shuffle instead of two join
    # sides of the cached index.
    common = (
        sh.groupBy("k")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
        .filter(F.size("ds") >= 2)
        .select(F.explode(F.expr(_BUCKET_PAIR_EXPR)).alias("p"))
        .groupBy(
            F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    out = (
        common.join(sizes.alias("za"), F.col("doc_a") == F.col("za.doc_id"))
        .join(sizes.alias("zb"), F.col("doc_b") == F.col("zb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("n_common").cast("double")
                / (F.col("za.n") + F.col("zb.n") - F.col("n_common"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    out.count()
    return out


# ---------------------------------------------------------------------------
# d4 — MinHash + banded LSH near-dup (the 100 TB path)
# ---------------------------------------------------------------------------


def _sql_band_key(b: int) -> str:
    cols = " || ',' || ".join(
        f"h{b * ROWS_PER_BAND + j}::VARCHAR" for j in range(ROWS_PER_BAND)
    )
    return f"md5({cols})"


_D4_ORACLE = f"""
WITH {_sql_shingles()},
sig AS (
  SELECT doc_id,
         {', '.join(_sql_minhash(i) for i in range(NUM_HASHES))}
  FROM sh GROUP BY doc_id
),
bands AS (
  {' UNION ALL '.join(f"SELECT doc_id, {b} AS band, {_sql_band_key(b)} AS key FROM sig" for b in range(NUM_BANDS))}
),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM bands x JOIN bands y
    ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id
),
inter AS (
  SELECT doc_a, doc_b, COUNT(*) AS n_common
  FROM cand
  JOIN sh sa ON sa.doc_id = doc_a
  JOIN sh sb ON sb.doc_id = doc_b AND sb.k = sa.k
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       CAST(n_common AS DOUBLE) / (za.n + zb.n - n_common) AS jaccard
FROM inter
JOIN sizes za ON doc_a = za.doc_id
JOIN sizes zb ON doc_b = zb.doc_id
WHERE CAST(n_common AS DOUBLE) / (za.n + zb.n - n_common) >= {JACCARD_THRESHOLD}
"""


@register("d4_minhash_lsh_pairs", _D4_ORACLE)
def d4_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash (K=16) + banded LSH (4 bands × 4 rows) near-dup pairs,
    verified with exact Jaccard computed ONLY on candidates.

    The scale path: signatures are a fixed-width aggregate per doc
    (single map-side-combinable groupBy over the shingle index); pair
    generation is a self-join on (band, band-key) so work is bucket-
    local; verification joins candidates back to the index instead of
    re-materializing a corpus-wide pair matrix. The K hash functions
    derive arithmetically from ONE md5 per shingle
    (h_i = (a + (i+1)(2b+1)) mod 2^32, see _SQL_SHINGLES) — one hash
    computation per row, not K. Recall vs d3 is governed by the band
    geometry (1-(1-s^4)^4); the oracle replays the identical
    deterministic hash family, so the comparison is exact, not
    probabilistic.

    The shingle index and band table are persisted AND materialized
    eagerly (persist + count): each feeds multiple downstream branches
    (sig + verification probes; both sides of the bucket self-join), and
    without the barrier AQE's concurrent broadcast-exchange jobs race to
    recompute the whole explode→hash subtree once per branch — measured
    >10× slower at sf0.1. The index comes from the session-shared cache
    (_documents_shingle_index — shared with d3); the band table is
    per-call and unpersisted once the (small, persisted) verified pair
    list is materialized.

    Result-level disk seam (same SPARK_GRAFT_INDEX_SPILL_DIR contract
    as _documents_shingle_index, full contract in docs/benching.md):
    this OWNER query always COMPUTES — its bench row measures the LSH
    funnel, never a file restore (r9 verdict) — and publishes the pair
    list write-once as the artifact the cc-family consumers restore via
    :func:`d4_pairs_artifact` (in production the near-dup pair table IS
    a persisted table the graph jobs read). Correctness runs never set
    the variable; parity pinned by test_round12_ops."""
    sh, _sizes = _documents_shingle_index(spark, sf_dir)
    out = _verified_jaccard(_lsh_candidate_pairs(sh), sh)
    _artifact_publish(out, sf_dir, "d4_pairs")
    return out


def d4_pairs_artifact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d4's verified pair list for CONSUMERS (cc-family graph ops):
    restore the published artifact when the bench seam is on, else run
    the owner query. Not registered — the registered d4 always computes
    (see d4_minhash_lsh_pairs docstring and docs/benching.md)."""
    out = _artifact_restore(spark, sf_dir, "d4_pairs")
    return out if out is not None else d4_minhash_lsh_pairs(spark, sf_dir)


def _band_table(sig: DataFrame) -> DataFrame:
    """(doc_id, band, key) — one row per document per LSH band, keys
    md5-composed from the band's ROWS_PER_BAND signature components
    (identical expression to _sql_band_key)."""
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    ",",
                    *[
                        F.col(f"h{b * ROWS_PER_BAND + j}").cast("string")
                        for j in range(ROWS_PER_BAND)
                    ],
                )
            ).alias("key"),
        )
        for b in range(NUM_BANDS)
    ]
    return sig.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("bk")
    ).select("doc_id", "bk.band", "bk.key")


#: In-bucket ordered pair expansion over a sorted doc-id array ``ds``:
#: all (doc_a, doc_b) with doc_a < doc_b — the map-side k(k-1)/2
#: pattern shared with graph.copurchase_pairs (r9/r10).
_BUCKET_PAIR_EXPR = (
    "flatten(transform(ds, (x, i) -> "
    "transform(slice(ds, i + 2, size(ds) - i - 1), "
    "y -> struct(x AS doc_a, y AS doc_b))))"
)


def _lsh_candidate_pairs(
    sh: DataFrame, sig: DataFrame | None = None
) -> DataFrame:
    """Banded-LSH candidate (doc_a, doc_b) pairs from a (persisted)
    shingle index: MinHash signatures → per-band bucket keys → sorted
    per-bucket doc-id lists → map-side in-bucket pair expansion.

    r11 (guide §2.4/§3): the bucket SELF-JOIN — which needed the band
    table persisted + counted so both join sides read one
    materialization — is replaced by groupBy(band, key) + collect_list
    + in-bucket expansion, the same map-side k(k-1)/2 pattern as
    graph.copurchase_pairs. The candidate SET is identical: a bucket
    holding docs {d1..dk} contributes exactly the pairs doc_a < doc_b
    under both forms (doc_ids are unique within a bucket — one band row
    per doc — and sort_array makes the expansion emit ascending pairs),
    and the trailing .distinct() dedups across bands either way. What
    it buys: ONE linear plan instead of a self-join — no band-table
    persist+count job, the signature aggregate is computed once by
    construction, and one shuffle of (band, key, doc_id) replaces the
    two self-join sides. Per-bucket memory is the doc-id list (8 bytes
    per doc); output volume stays the same quadratic-in-bucket the
    self-join had, so the hot-bucket failure mode is unchanged.

    ``sig``: a caller that already materialized the signature table
    (d11 persists it for its estimate lookups) passes it in so the band
    build reads the cache instead of re-running the 16-min aggregate
    over the shingle index a second time (guide §1.2 double-compute).
    The expression tree is identical either way, so passing it never
    changes the candidate set."""
    from pyspark import StorageLevel

    if sig is None:
        sig = sh.groupBy("doc_id").agg(
            *[_minhash_col(i) for i in range(NUM_HASHES)]
        )
    cand = (
        _band_table(sig)
        .groupBy("band", "key")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
        .filter(F.size("ds") >= 2)
        .select(F.explode(F.expr(_BUCKET_PAIR_EXPR)).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    cand.count()
    return cand


# ---------------------------------------------------------------------------
# d5 — SimHash signatures (32-bit bit-vote sketch)
# ---------------------------------------------------------------------------

_D5_ORACLE = f"""
WITH tok AS (
  SELECT DISTINCT doc_id,
         unnest(string_split_regex(trim(text), '\\s+')) AS t
  FROM documents
),
hashed AS (SELECT doc_id, {sql_hash32('t')} AS h FROM tok),
votes AS (
  SELECT doc_id,
         {', '.join(f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}" for i in range(32))}
  FROM hashed GROUP BY doc_id
),
sigs AS (
  SELECT doc_id,
         ({' + '.join(f"CASE WHEN b{i} > 0 THEN {1 << i} ELSE 0 END" for i in range(32))})::BIGINT AS simhash
  FROM votes
)
SELECT doc_id, simhash,
       CAST(COUNT(*) OVER (PARTITION BY simhash) AS BIGINT) AS n_bucket
FROM sigs
"""


def _simhash32(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, simhash) — d5's 32-bit bit-vote signature construction,
    shared verbatim by d5 and d13 (identical expression tree, so d5's
    physical plan is unchanged by the extraction)."""
    docs = fanout(table(spark, sf_dir, "documents"))
    tok = docs.select(
        "doc_id", F.explode(F.array_distinct(_words(F.col("text")))).alias("t")
    )
    h = hash32(F.col("t"))
    votes = tok.select("doc_id", h.alias("h")).groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1)
                .otherwise(-1)
            ).alias(f"b{i}")
            for i in range(32)
        ]
    )
    simhash = None
    for i in range(32):
        term = F.when(F.col(f"b{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
        simhash = term if simhash is None else simhash + term
    return votes.select("doc_id", simhash.cast("bigint").alias("simhash"))


@register("d5_simhash_signatures", _D5_ORACLE)
def d5_simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document (bit-vote over hashed distinct words)
    plus the size of each signature bucket. Constant-size sketch: the
    signature aggregation is one groupBy with 32 integer sums, all
    map-side combinable; near-dup docs land in small hamming balls
    (bucket counts surface exact-simhash collisions directly)."""
    from pyspark.sql.window import Window

    sigs = _simhash32(spark, sf_dir)
    return sigs.withColumn(
        "n_bucket", F.count(F.lit(1)).over(Window.partitionBy("simhash"))
    )


# ---------------------------------------------------------------------------
# d6 — end-to-end corpus dedup (exact survivors, then LSH near-dup prune)
# ---------------------------------------------------------------------------


def _exact_survivors(docs: DataFrame) -> DataFrame:
    """(doc_id, text) of the exact-dedup survivors: one doc per content
    fingerprint — longest, then lowest doc_id (d2's rank semantics).

    r11 (guide §2.3/§8 "decide with small rows, move big rows once"):
    the survivor DECISION depends only on (fp, n_chars, doc_id) — ~40
    bytes per doc — never on ``text``, so the pick aggregates NARROW
    rows (min_by doc_id over the (-n_chars, doc_id) ordering ≡ the old
    rank-window's ORDER BY n_chars DESC, doc_id; ties impossible since
    doc_id is unique within a fingerprint group) and the text payload
    is attached afterwards by a semi-join of ``documents`` against the
    surviving ids. The r10 window shape shuffled AND sorted every
    document's full text through Exchange hashpartitioning(fp); now
    text crosses at most one hash-join boundary (none at all when the
    id list broadcasts), and the only sort anywhere runs over the
    narrow decision rows. This is the narrow variant of the r10
    max_by A/B (which buffered the full (doc_id, text) struct in the
    aggregate hash map and regressed) — the aggregate state here is a
    single bigint per fingerprint.
    """
    surv_ids = (
        fanout(docs)
        .select("doc_id", "n_chars", T.fingerprint(F.col("text")).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min_by(
                "doc_id",
                F.struct(
                    (-F.col("n_chars")).alias("neg_len"),
                    F.col("doc_id").alias("tie"),
                ),
            ).alias("doc_id")
        )
        .select("doc_id")
    )
    # fanout the PROBE side before the join (a cached frame's
    # partitioning is materialized, so _shingle_pairs' own fanout would
    # no-op): the single-file test corpus would otherwise leave the
    # survivor set — and every shingle explode built on it — in ONE
    # partition. Joining FROM the fanned-out scan lets the (locally
    # broadcast) semi-join inherit its parallelism map-side instead of
    # needing a second repartition after the join. At scale fanout is a
    # no-op and the join degrades to a doc_id-keyed hash join — text
    # still crosses at most one exchange.
    return fanout(docs).join(surv_ids, "doc_id", "left_semi").select(
        "doc_id", "text"
    )


#: Shared CTE prefix for the end-to-end dedup funnel — d6 selects the
#: surviving doc ids from it, d9 aggregates the funnel counts from it.
_DEDUP_FUNNEL_CTES = f"""
WITH fps AS (
  SELECT doc_id, n_chars, {T.sql_fingerprint('text')} AS fp FROM documents
),
surv AS (
  SELECT doc_id FROM (
    SELECT doc_id,
           ROW_NUMBER() OVER (PARTITION BY fp ORDER BY n_chars DESC, doc_id) AS rn
    FROM fps
  ) t WHERE rn = 1
),
documents_s AS (
  SELECT d.doc_id, d.text FROM documents d JOIN surv USING (doc_id)
),
{_sql_shingles("documents_s")},
sig AS (
  SELECT doc_id,
         {', '.join(_sql_minhash(i) for i in range(NUM_HASHES))}
  FROM sh GROUP BY doc_id
),
bands AS (
  {' UNION ALL '.join(f"SELECT doc_id, {b} AS band, {_sql_band_key(b)} AS key FROM sig" for b in range(NUM_BANDS))}
),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM bands x JOIN bands y
    ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id
),
inter AS (
  SELECT doc_a, doc_b, COUNT(*) AS n_common
  FROM cand
  JOIN sh sa ON sa.doc_id = doc_a
  JOIN sh sb ON sb.doc_id = doc_b AND sb.k = sa.k
  GROUP BY 1, 2
),
dropped AS (
  SELECT DISTINCT doc_b AS doc_id
  FROM inter
  JOIN sizes za ON doc_a = za.doc_id
  JOIN sizes zb ON doc_b = zb.doc_id
  WHERE CAST(n_common AS DOUBLE) / (za.n + zb.n - n_common) >= {JACCARD_THRESHOLD}
)
"""

_D6_ORACLE = f"""{_DEDUP_FUNNEL_CTES}
SELECT s.doc_id
FROM surv s
WHERE s.doc_id NOT IN (SELECT doc_id FROM dropped)
"""


@register("d6_dedup_corpus", _D6_ORACLE)
def d6_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-data pipeline's dedup stage end-to-end: which docs
    survive into the corpus.

    Stage 1 (exact): one survivor per content fingerprint — longest,
    then lowest doc_id (d2's rank window).
    Stage 2 (near): banded MinHash-LSH over the survivors only, exact
    Jaccard verification on candidates, then greedy pruning: every
    verified pair (a < b) drops b. Greedy-by-id is the standard
    corpus-dedup policy (one pass, deterministic, no iterative
    connected-components); for chains a~b~c it keeps only a — the
    conservative direction for training data. The final step is a
    left-anti join of the survivor set against the drop list, so the
    whole operator is shuffles on doc-sized keys; nothing is ever
    corpus × corpus."""
    from pyspark import StorageLevel

    # Result-level disk seam (contract in docs/benching.md): this OWNER
    # query always COMPUTES — its bench row measures the funnel, never
    # a file restore (r9 verdict) — and publishes the survivor set
    # write-once as the artifact pipe1/pipe3 restore via
    # d6_survivors_artifact (in production the dedup stage's output IS
    # a persisted table downstream stages read). Correctness runs never
    # set the variable; value parity pinned by test_round12_ops.
    docs = table(spark, sf_dir, "documents")
    surv = _exact_survivors(docs).persist(StorageLevel.MEMORY_AND_DISK)
    # No standalone count job (r11 trim): the shingle hot-key census is
    # the first job over surv (filling its cache), and the df-cap is
    # derived in the same plan from surv's own 1-row count subtree.
    n_surv_df = surv.agg(F.count(F.lit(1)).alias("n_docs_cap"))
    sh, _sizes = _shingle_pairs(surv, n_docs_df=n_surv_df)  # persisted inside
    pairs = _verified_jaccard(_lsh_candidate_pairs(sh), sh)
    sh.unpersist()
    dropped = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    out = (
        surv.select("doc_id")
        .join(dropped, "doc_id", "left_anti")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # r11 job trim: when the seam-on publish write runs, that job fills
    # out's cache — the explicit count is only needed when publish was
    # a no-op (seam off, or artifact already written by a prior run).
    if not _artifact_publish(out, sf_dir, "d6_survivors"):
        out.count()
    surv.unpersist()
    return out


def d6_survivors_artifact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d6's survivor set for CONSUMERS (pipe1/pipe3): restore the
    published artifact when the bench seam is on, else run the owner
    query. Not registered — the registered d6 always computes (see
    d6_dedup_corpus docstring and docs/benching.md)."""
    out = _artifact_restore(spark, sf_dir, "d6_survivors")
    return out if out is not None else d6_dedup_corpus(spark, sf_dir)


# ---------------------------------------------------------------------------
# d7 — decontamination: train docs overlapping an eval set's 8-grams
# ---------------------------------------------------------------------------

_DECON_N = 4  # real pipelines use 8-13; 4 keeps the synthetic corpus non-vacuous

_D7_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents
),
sh8 AS (
  SELECT DISTINCT doc_id,
    unnest(list_transform(generate_series(1, greatest(len(w) - {_DECON_N - 1}, 0)),
           i -> {' || '.join(f"w[i+{j}]" if j else "w[i]" for j in range(_DECON_N)).replace('||', "|| ' ' ||")})) AS s
  FROM toks
),
hashed AS (
  SELECT doc_id, {sql_hash60('s')} AS k FROM sh8
),
ev AS (SELECT doc_id, k FROM hashed WHERE doc_id % 50 = 0),
tr AS (SELECT doc_id, k FROM hashed WHERE doc_id % 50 <> 0)
SELECT tr.doc_id,
       COUNT(DISTINCT tr.k) AS n_shingles,
       COUNT(DISTINCT ev.doc_id) AS n_eval_docs
FROM tr JOIN ev ON tr.k = ev.k
GROUP BY tr.doc_id
"""


#: Broadcast the eval n-gram index only while it is benchmark-sized.
#: ~24 bytes/row (two bigints + overhead) → 2M rows ≈ 50 MB, inside
#: executor broadcast comfort; past that the plan degrades gracefully
#: to a shuffle join (which AQE may still convert at runtime if the
#: materialized side turns out small).
D7_BROADCAST_MAX_ROWS = 2_000_000


@register("d7_decontaminate", _D7_ORACLE)
def d7_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return decontaminate(spark, sf_dir)


def decontaminate(
    spark: SparkSession,
    sf_dir: str,
    broadcast_max_rows: int = D7_BROADCAST_MAX_ROWS,
) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing any exact
    word-n-gram (n=4 here; 8-13 in production — the synthetic corpus
    shares almost no 8-grams, which would make the check vacuous) with a
    held-out eval set (every 50th doc_id — a deterministic stand-in for
    the real benchmark corpus).

    The shape is an inverted-index join on the hashed shingle key — the
    eval side is usually tiny relative to the corpus, so its index is
    persisted (one materialization) and, WHEN its materialized row count
    is under ``broadcast_max_rows``, broadcast so the training side
    streams through a single scan with no shuffle of the big side. The
    eval index size is data-dependent (eval_docs × distinct n-grams), so
    the hint is gated on the count the persist already pays for — an
    oversized eval corpus falls back to a plain shuffle join instead of
    blowing the broadcast limit. (In this synthetic setup eval docs are
    carved out of the same table by doc_id, so building the eval index
    itself costs one additional corpus scan; in production the eval
    benchmark is its own small table and that scan disappears.) At
    100 TB this is the plan you want: contamination checks are
    eval-index lookups, never corpus self-joins. Longer n-grams keep the
    index selective; keys come from the shared 60-bit md5-prefix family
    (functions/hashing.py :func:`hash60` / :func:`sql_hash60`)."""
    from pyspark import StorageLevel

    docs = table(spark, sf_dir, "documents")
    sh8 = fanout(docs).select(
        "doc_id",
        F.explode(
            F.array_distinct(shingles(F.col("text"), n=_DECON_N))
        ).alias("s"),
    )
    hashed = sh8.select("doc_id", hash60(F.col("s")).alias("k"))
    ev = (
        hashed.filter(F.col("doc_id") % 50 == 0)
        .select(F.col("doc_id").alias("eval_doc_id"), "k")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n_ev = ev.count()
    ev_side = F.broadcast(ev) if n_ev <= broadcast_max_rows else ev
    tr = hashed.filter(F.col("doc_id") % 50 != 0)
    return (
        tr.join(ev_side, "k")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("k").alias("n_shingles"),
            F.countDistinct("eval_doc_id").alias("n_eval_docs"),
        )
    )


# ---------------------------------------------------------------------------
# d8 — incremental dedup: admit a new batch against the existing corpus
# ---------------------------------------------------------------------------

D8_BATCH_MOD = 10
D8_BATCH_REM = 7  # doc_id % 10 == 7 plays the newly-arrived batch


def _sql_d8_bands() -> str:
    return " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, {_sql_band_key(b)} AS key FROM sig"
        for b in range(NUM_BANDS)
    )


#: the d8 CTE chain (shingles/sig/bands/cand/inter/dropped) — shared
#: verbatim with pipe2's spliced oracle so the steady-state ingest
#: composition can never drift from the stage it audits (the
#: _SQL_SHINGLES_TMPL rule). _D8_ORACLE must stay byte-identical to
#: its pre-refactor form: d8 sits in the driver rotation prefix.
_D8_CTES = f"""{_sql_shingles()},
sig AS (
  SELECT doc_id,
         {', '.join(_sql_minhash(i) for i in range(NUM_HASHES))}
  FROM sh GROUP BY doc_id
),
bands AS (
  {_sql_d8_bands()}
),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM bands x JOIN bands y
    ON x.band = y.band AND x.key = y.key
  WHERE x.doc_id % {D8_BATCH_MOD} = {D8_BATCH_REM}
    AND y.doc_id % {D8_BATCH_MOD} <> {D8_BATCH_REM}
),
inter AS (
  SELECT doc_a, doc_b, COUNT(*) AS n_common
  FROM cand
  JOIN sh sa ON sa.doc_id = doc_a
  JOIN sh sb ON sb.doc_id = doc_b AND sb.k = sa.k
  GROUP BY 1, 2
),
dropped AS (
  SELECT DISTINCT doc_a AS doc_id
  FROM inter
  JOIN sizes za ON doc_a = za.doc_id
  JOIN sizes zb ON doc_b = zb.doc_id
  WHERE CAST(n_common AS DOUBLE) / (za.n + zb.n - n_common) >= {JACCARD_THRESHOLD}
)"""

_D8_ORACLE = f"""
WITH {_D8_CTES}
SELECT d.doc_id
FROM documents d
WHERE d.doc_id % {D8_BATCH_MOD} = {D8_BATCH_REM}
  AND d.doc_id NOT IN (SELECT doc_id FROM dropped)
"""


@register("d8_incremental_dedup", _D8_ORACLE)
def d8_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production dedup shape: a NEWLY ARRIVED batch (doc_id % 10
    == 7 stands in for today's crawl) is screened against the EXISTING
    corpus, and only batch docs with no verified near-duplicate among
    existing docs are admitted. Unlike d4/d6 (corpus-wide self-dedup,
    the backfill job), this is the steady-state ingest path: candidate
    generation joins the batch's band buckets against the existing
    side's ONLY — work scales with batch × bucket-collision volume,
    never with corpus².

    Reuses the session-shared capped shingle index (frequencies over
    the full union, matching the oracle), the banded-LSH bucket keys,
    and the candidate-scoped exact-Jaccard verifier. At 100 TB the
    existing side's signatures/bands are a precomputed table updated
    per batch — exactly what the shared index models here."""
    sh, _sizes = _documents_shingle_index(spark, sf_dir)
    sig = sh.groupBy("doc_id").agg(
        *[_minhash_col(i) for i in range(NUM_HASHES)]
    )
    # r11 (guide §2.4): the batch-side × existing-side band-bucket JOIN
    # — which needed the band table persisted + counted so both sides
    # read one materialization — is replaced by ONE groupBy(band, key)
    # + collect_list + in-bucket cross expansion between the bucket's
    # batch members and its existing members. Pair set identical: the
    # join emitted every (batch doc, existing doc) sharing a bucket,
    # exactly what the per-bucket cross of the two filtered sub-arrays
    # emits; .distinct() dedups across bands either way. One linear
    # plan, no persist+count job, signature aggregate computed once by
    # construction, one shuffle instead of two join sides.
    is_batch = F.col("doc_id") % D8_BATCH_MOD == D8_BATCH_REM
    cross_expr = (
        "flatten(transform(ba, x -> "
        "transform(ea, y -> struct(x AS doc_a, y AS doc_b))))"
    )
    cand = (
        _band_table(sig)
        .groupBy("band", "key")
        .agg(F.collect_list("doc_id").alias("ds"))
        .select(
            F.expr(
                f"filter(ds, d -> d % {D8_BATCH_MOD} = {D8_BATCH_REM})"
            ).alias("ba"),
            F.expr(
                f"filter(ds, d -> d % {D8_BATCH_MOD} != {D8_BATCH_REM})"
            ).alias("ea"),
        )
        .filter((F.size("ba") > 0) & (F.size("ea") > 0))
        .select(F.explode(F.expr(cross_expr)).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )
    pairs = _verified_jaccard(cand, sh)
    dropped = pairs.select(F.col("doc_a").alias("doc_id")).distinct()
    batch = table(spark, sf_dir, "documents").filter(is_batch).select("doc_id")
    out = batch.join(dropped, "doc_id", "left_anti")
    # Owner publish (docs/benching.md): the admitted list is the table
    # pipe2/st13 join against in production. Seam-on only — the persist
    # keeps the publish write and the caller's action on one
    # computation; driver-posture plans are untouched.
    from bc_proj3_spark.operators.artifacts import publish_owner_result

    return publish_owner_result(out, sf_dir, "d8_admitted")


def d8_admitted_artifact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d8's admitted batch list for CONSUMERS (pipe2, st13): restore
    the published artifact when the bench seam is on, else run the
    owner query. Not registered — the registered d8 always computes
    (docs/benching.md)."""
    out = _artifact_restore(spark, sf_dir, "d8_admitted")
    return out if out is not None else d8_incremental_dedup(spark, sf_dir)


# ---------------------------------------------------------------------------
# d9 — corpus dedup report (the funnel, as one auditable row)
# ---------------------------------------------------------------------------

_D9_ORACLE = f"""{_DEDUP_FUNNEL_CTES}
SELECT
  (SELECT COUNT(*) FROM documents) AS n_docs,
  (SELECT COUNT(*) FROM documents) - (SELECT COUNT(*) FROM surv)
    AS n_exact_dropped,
  (SELECT COUNT(*) FROM dropped) AS n_near_dropped,
  (SELECT COUNT(*) FROM surv) - (SELECT COUNT(*) FROM dropped) AS n_final,
  ROUND(CAST((SELECT COUNT(*) FROM surv) - (SELECT COUNT(*) FROM dropped)
             AS DOUBLE) / (SELECT COUNT(*) FROM documents), 9) AS keep_rate
"""


@register("d9_dedup_report", _D9_ORACLE)
def d9_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup data card: how many documents entered, how many each
    stage removed (exact-fingerprint, then LSH near-dup), how many
    survived, and the keep rate — the one-row audit artifact a corpus
    build publishes next to the output (every at-scale dedup run needs
    this to detect a mis-tuned threshold eating the corpus). Shares the
    d6 funnel exactly (same fingerprint window, same session-shared
    capped shingle index, same verified-Jaccard prune), so the numbers
    reconcile with d6's survivor list by construction. The three stage
    counts are 1-row aggregates crossJoined into a single row — three
    scalar broadcasts, no data movement beyond d6's own shuffles."""
    from pyspark import StorageLevel

    docs = table(spark, sf_dir, "documents")
    surv = _exact_survivors(docs).persist(StorageLevel.MEMORY_AND_DISK)
    n_surv = surv.count()
    sh, _sizes = _shingle_pairs(surv, n_docs=n_surv)
    pairs = _verified_jaccard(_lsh_candidate_pairs(sh), sh)
    sh.unpersist()
    dropped = pairs.select(F.col("doc_b").alias("doc_id")).distinct()

    # r11 (guide §5.3, the r10 pi1/e24 bounded-state pattern): the
    # report is THREE scalars, all already materialized or one cheap
    # job over the cached pair list — collect them and emit the row as
    # literals instead of a 3-agg double-crossJoin plan whose final
    # action scheduled a broadcast exchange per scalar. n_surv is the
    # survivor cache-fill count; n_docs is a parquet metadata-only
    # count; n_near counts the persisted (candidate-bounded) pair list.
    # keep_rate replays Spark's ROUND(double, 9) exactly: IEEE double
    # division, then shortest-repr HALF_UP quantize, correctly-rounded
    # back to double (linalg._round_half_up/_dec_to_double, the r10
    # driver-replay discipline).
    from bc_proj3_spark.operators.linalg import _dec_to_double, _round_half_up

    n_docs = docs.count()
    n_near = dropped.count()
    surv.unpersist()
    pairs.unpersist()
    # an empty corpus has no keep rate: NULL, as the oracle's x / 0
    keep_rate = (
        _dec_to_double(_round_half_up(float(n_surv - n_near) / float(n_docs), 9))
        if n_docs
        else None
    )
    row = [(n_docs, n_docs - n_surv, n_near, n_surv - n_near, keep_rate)]
    return local_rows_df(
        spark,
        row,
        "n_docs bigint, n_exact_dropped bigint, n_near_dropped bigint, "
        "n_final bigint, keep_rate double",
    )


# ---------------------------------------------------------------------------
# t20 — shingle novelty: how much of each doc the corpus hasn't seen
# ---------------------------------------------------------------------------

_T20_ORACLE = f"""
WITH {_sql_shingles()},
firsts AS (
  SELECT k, MIN(doc_id) AS first_doc FROM sh GROUP BY k
)
SELECT sh.doc_id,
       COUNT(*) AS n_shingles,
       CAST(SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_novel,
       ROUND(CAST(SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)
                  AS DOUBLE) / COUNT(*), 9) AS novelty
FROM sh JOIN firsts f USING (k)
GROUP BY sh.doc_id
"""


@register("t20_shingle_novelty", _T20_ORACLE)
def t20_shingle_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-order novelty: the fraction of a document's shingles
    whose FIRST corpus appearance (min doc_id) is this document —
    near-zero for rehashes/templates of earlier content, high for
    genuinely new text. The incremental-crawl curation signal: ingest
    order is doc_id order, so 'seen before' is exact, not
    probabilistic. Reuses the session-shared DF-capped shingle index
    (one build amortized across the whole d-family), adds one
    (k → min doc_id) map-side-combinable aggregate — shingle-keyed,
    the same shuffle key the index's self-joins use — and a per-doc
    roll-up. Mirrors MinHash novelty at 100 TB without any sketch
    error."""
    sh, _sizes = _documents_shingle_index(spark, sf_dir)
    firsts = sh.groupBy("k").agg(F.min("doc_id").alias("first_doc"))
    novel = F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    return (
        sh.join(firsts, "k")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(novel).alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            F.round(
                F.col("n_novel").cast("double") / F.col("n_shingles"), 9
            ).alias("novelty"),
        )
    )


# ---------------------------------------------------------------------------
# d10 — containment pairs: asymmetric near-dup (quotes / subsets)
# ---------------------------------------------------------------------------

CONTAINMENT_THRESHOLD = 0.5

_D10_ORACLE = f"""
WITH {_sql_shingles()},
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.k = b.k AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       ROUND(CAST(n_common AS DOUBLE) / za.n, 9) AS containment,
       ROUND(CAST(n_common AS DOUBLE) / (za.n + zb.n - n_common), 9)
         AS jaccard
FROM common
JOIN sizes za ON doc_a = za.doc_id
JOIN sizes zb ON doc_b = zb.doc_id
WHERE CAST(n_common AS DOUBLE) / za.n >= {CONTAINMENT_THRESHOLD}
"""


@register("d10_containment_pairs", _D10_ORACLE)
def d10_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-dup: containment |A∩B| / |A| — the measure that
    catches a short document quoted or embedded inside a long one,
    where symmetric Jaccard stays low because the union is dominated
    by the long side (the quote/boilerplate/subset case every corpus
    dedup misses if it only runs d3/d4). Pairs are DIRECTED
    (containment of a in b ≠ b in a), so the self-join keeps both
    orders; same capped inverted-index machinery and session-shared
    shingle cache as d3 — one shuffle on the shingle key, never
    doc×doc. Jaccard is carried alongside so the asymmetry is visible
    in the verified values (high containment, low jaccard = the
    subset case)."""
    sh, sizes = _documents_shingle_index(spark, sf_dir)
    # r11 (guide §2.4, the _lsh_candidate_pairs pattern): the inverted-
    # index self-join on the shingle key — two hash-shuffles of the
    # cached index — is replaced by ONE groupBy(k) + collect_list +
    # in-bucket DIRECTED pair expansion (x ≠ y, both orders — doc_ids
    # are unique within a key, so filter(ds, y -> y != x) is exact).
    # Pair multiset identical, one shuffle instead of two join sides;
    # per-bucket memory is the doc-id list, output stays the same
    # k(k-1) the join produced.
    pair_expr = (
        "flatten(transform(ds, x -> "
        "transform(filter(ds, y -> y != x), "
        "y -> struct(x AS doc_a, y AS doc_b))))"
    )
    common = (
        sh.groupBy("k")
        .agg(F.collect_list("doc_id").alias("ds"))
        .filter(F.size("ds") >= 2)
        .select(F.explode(F.expr(pair_expr)).alias("p"))
        .groupBy(
            F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    cont = F.col("n_common").cast("double") / F.col("za.n")
    jac = F.col("n_common").cast("double") / (
        F.col("za.n") + F.col("zb.n") - F.col("n_common")
    )
    return (
        common.join(sizes.alias("za"), F.col("doc_a") == F.col("za.doc_id"))
        .join(sizes.alias("zb"), F.col("doc_b") == F.col("zb.doc_id"))
        .filter(cont >= CONTAINMENT_THRESHOLD)
        .select(
            "doc_a",
            "doc_b",
            F.round(cont, 9).alias("containment"),
            F.round(jac, 9).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# d11 — MinHash estimator calibration (estimated vs exact Jaccard)
# ---------------------------------------------------------------------------

def _d11_oracle() -> str:
    eq_terms = " + ".join(
        f"CASE WHEN xa.h{i} = xb.h{i} THEN 1 ELSE 0 END"
        for i in range(NUM_HASHES)
    )
    return f"""
WITH {_sql_shingles()},
sig AS (
  SELECT doc_id,
         {', '.join(_sql_minhash(i) for i in range(NUM_HASHES))}
  FROM sh GROUP BY doc_id
),
bands AS (
  {' UNION ALL '.join(f"SELECT doc_id, {b} AS band, {_sql_band_key(b)} AS key FROM sig" for b in range(NUM_BANDS))}
),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM bands x JOIN bands y
    ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id
),
inter AS (
  SELECT doc_a, doc_b, COUNT(*) AS n_common
  FROM cand
  JOIN sh sa ON sa.doc_id = doc_a
  JOIN sh sb ON sb.doc_id = doc_b AND sb.k = sa.k
  GROUP BY 1, 2
),
pairs AS (
  SELECT c.doc_a, c.doc_b,
         ({eq_terms}) / {NUM_HASHES}.0 AS est,
         CAST(COALESCE(i.n_common, 0) AS DOUBLE)
           / (za.n + zb.n - COALESCE(i.n_common, 0)) AS jac
  FROM cand c
  LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
  JOIN sig xa ON xa.doc_id = c.doc_a
  JOIN sig xb ON xb.doc_id = c.doc_b
  JOIN sizes za ON za.doc_id = c.doc_a
  JOIN sizes zb ON zb.doc_id = c.doc_b
)
SELECT LEAST(9, CAST(FLOOR(est * 10) AS INTEGER)) AS bucket,
       COUNT(*) AS n_pairs,
       ROUND(CAST(SUM(CAST(est AS DECIMAL(28,10))) AS DOUBLE)
             / COUNT(*), 9) AS mean_est,
       ROUND(CAST(SUM(CAST(ROUND(jac, 9) AS DECIMAL(28,10))) AS DOUBLE)
             / COUNT(*), 9) AS mean_exact,
       ROUND(CAST(SUM(CAST(ROUND(ABS(est - jac), 9) AS DECIMAL(28,10)))
             AS DOUBLE) / COUNT(*), 9) AS mean_abs_err
FROM pairs
GROUP BY 1
"""


@register("d11_minhash_calibration", _d11_oracle())
def d11_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimator quality control for the MinHash/LSH dedup path: over
    the LSH candidate pairs, compare the K=16 signature-agreement
    ESTIMATE of Jaccard (fraction of equal MinHash components — the
    number the banding decision is actually made from) against the
    EXACT shingle Jaccard, bucketed by estimated similarity decile.
    This is the nightly report that tells you whether the band
    geometry still holds on YOUR corpus (mean_abs_err blowing up means
    shingle distributions shifted and recall/precision drifted) —
    sketch monitoring as a first-class operator, like sk2's CMS error
    report but for the dedup funnel.

    Plan: signatures and candidates reuse d4's shapes (fixed-width
    map-side-combinable signature aggregate from the session-shared
    capped index; bucket-local band self-join); the exact side joins
    candidates back to the index — work ∝ candidates, never corpus².
    est is a multiple of 1/16 (binary-exact double); the generic
    doubles (jac, |est−jac|) follow the module's round-then-decimal-sum
    discipline so both engines' means are bit-identical."""
    from pyspark import StorageLevel

    sh, sizes = _documents_shingle_index(spark, sf_dir)
    # persisted (NOT unpersisted here: an unpersist at plan-build time
    # would release the cache before the caller ever executes the
    # returned frame, wasting the materialization and recomputing the
    # signature aggregate for the band build and both estimate joins —
    # r6 advisor finding; the cache is dropped by the caller's
    # clearCache between queries, as cur1/d12 rely on)
    sig = sh.groupBy("doc_id").agg(
        *[_minhash_col(i) for i in range(NUM_HASHES)]
    ).persist(StorageLevel.MEMORY_AND_DISK)
    sig.count()  # feeds the band build AND both estimate lookups
    cand = _lsh_candidate_pairs(sh, sig=sig)
    inter = (
        cand.join(sh.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(
            sh.alias("sb"),
            (F.col("doc_b") == F.col("sb.doc_id"))
            & (F.col("sa.k") == F.col("sb.k")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    eq = None
    for i in range(NUM_HASHES):
        t = F.when(F.col(f"xa.h{i}") == F.col(f"xb.h{i}"), 1).otherwise(0)
        eq = t if eq is None else eq + t
    nc = F.coalesce(F.col("n_common"), F.lit(0))
    pairs = (
        cand.join(inter, ["doc_a", "doc_b"], "left")
        .join(sig.alias("xa"), F.col("doc_a") == F.col("xa.doc_id"))
        .join(sig.alias("xb"), F.col("doc_b") == F.col("xb.doc_id"))
        .join(sizes.alias("za"), F.col("doc_a") == F.col("za.doc_id"))
        .join(sizes.alias("zb"), F.col("doc_b") == F.col("zb.doc_id"))
        .select(
            (eq / F.lit(float(NUM_HASHES))).alias("est"),
            (
                nc.cast("double")
                / (F.col("za.n") + F.col("zb.n") - nc)
            ).alias("jac"),
        )
    )
    dec = "decimal(28,10)"
    out = (
        pairs.groupBy(
            F.least(F.lit(9), F.floor(F.col("est") * 10).cast("int")).alias(
                "bucket"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(
                F.sum(F.col("est").cast(dec)).cast("double")
                / F.count(F.lit(1)),
                9,
            ).alias("mean_est"),
            F.round(
                F.sum(F.round(F.col("jac"), 9).cast(dec)).cast("double")
                / F.count(F.lit(1)),
                9,
            ).alias("mean_exact"),
            F.round(
                F.sum(
                    F.round(F.abs(F.col("est") - F.col("jac")), 9).cast(dec)
                ).cast("double")
                / F.count(F.lit(1)),
                9,
            ).alias("mean_abs_err"),
        )
    )
    return out


# ---------------------------------------------------------------------------
# d13 — multi-index Hamming near-dup pairs over 60-bit SimHash signatures
# ---------------------------------------------------------------------------

#: Hamming radius and band geometry: 60-bit signatures split into 3
#: disjoint 20-bit bands. Pigeonhole: a pair within distance
#: HAM_R = 2 < 3 bands differs in at most 2 bands, so at least one
#: band matches EXACTLY — the banded index has perfect recall at this
#: radius (Norouzi et al., "Fast Search in Hamming Space with
#: Multi-Index Hashing", CVPR 2012). 60 bits (not d5's 32) because the
#: radius must stay selective: measured on this corpus, dist<=2 covers
#: ~1% of pairs at 60 bits vs ~9% at 32 — a 32-bit ball is mostly
#: background, not near-dups.
HAM_R = 2
HAM_BANDS = 3
HAM_BAND_BITS = 20

_D13_ORACLE = f"""
WITH tok AS (
  SELECT DISTINCT doc_id,
         unnest(string_split_regex(trim(text), '\\s+')) AS t
  FROM documents
),
hashed AS (SELECT doc_id, {sql_hash60('t')} AS h FROM tok),
votes AS (
  SELECT doc_id,
         {', '.join(f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}" for i in range(60))}
  FROM hashed GROUP BY doc_id
),
sigs AS (
  SELECT doc_id,
         ({' + '.join(f"CASE WHEN b{i} > 0 THEN {1 << i}::BIGINT ELSE 0::BIGINT END" for i in range(60))})::BIGINT AS simhash
  FROM votes
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {HAM_R}
"""


def _simhash60(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, simhash) — 60-bit bit-vote SimHash over hashed distinct
    words (d5's construction widened to the hash60 family)."""
    docs = fanout(table(spark, sf_dir, "documents"))
    tok = docs.select(
        "doc_id", F.explode(F.array_distinct(_words(F.col("text")))).alias("t")
    )
    h = hash60(F.col("t"))
    votes = tok.select("doc_id", h.alias("h")).groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1)
                .otherwise(-1)
            ).alias(f"b{i}")
            for i in range(60)
        ]
    )
    simhash = None
    for i in range(60):
        term = F.when(F.col(f"b{i}") > 0, F.lit(1 << i)).otherwise(
            F.lit(0).cast("bigint")
        )
        simhash = term if simhash is None else simhash + term
    return votes.select("doc_id", simhash.cast("bigint").alias("simhash"))


@register("d13_hamming_neardup_pairs", _D13_ORACLE)
def d13_hamming_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All document pairs whose 60-bit SimHash signatures sit within
    Hamming distance 2, found WITHOUT the quadratic scan: the signature
    splits into 3 disjoint 20-bit bands, candidates are pairs sharing
    at least one exact band (equi-join per band), and a popcount verify
    keeps true neighbors — multi-index hashing (Norouzi et al. CVPR
    2012), the standard way to search a billion-signature Hamming
    space (the same index geometry powers phash image dedup at media-
    lake scale; see m4). The ORACLE is the brute-force O(n²) self-join
    over the identical signatures, so the driver's value hash certifies
    the banded index finds EXACTLY the same pairs — the pigeonhole
    guarantee (r=2 < 3 bands) checked in values, not prose.

    Exactness: signatures, band keys, XOR and popcount are all integer
    arithmetic — no float anywhere.

    Scale shape: the signature aggregate is one map-side-combinable
    groupBy (60 integer sums); the band table is a map-side 3-way
    explode carrying (doc_id, simhash); candidates come from band-
    partitioned equi-joins on 20-bit keys (never a cross join), deduped
    on the pair key; the verify is pure per-row arithmetic. Band-bucket
    skew is the d4 hot-key story — a bucket of k docs costs k² — so
    boilerplate-heavy corpora should pre-drop exact duplicates (d1/d6)
    before indexing; the 20-bit band domain (1M keys) keeps random
    collisions negligible at any corpus size."""
    sigs = _simhash60(spark, sf_dir)
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright(F.col("simhash"), b * HAM_BAND_BITS)
            .bitwiseAND(F.lit((1 << HAM_BAND_BITS) - 1))
            .alias("key"),
        )
        for b in range(HAM_BANDS)
    ]
    # r11 (guide §2.4, the _lsh_candidate_pairs pattern): the band
    # self-join — which needed the band table persisted + counted so
    # both sides read one materialization — is replaced by ONE
    # groupBy(band, key) + sorted collect_list of (doc_id, simhash)
    # structs + in-bucket pair expansion. Pair set identical: a bucket
    # {d1..dk} contributes exactly the (doc_a < doc_b) pairs under both
    # forms (sort_array orders by doc_id, the struct's first field, and
    # doc_ids are unique within a bucket), and .distinct() dedups
    # across bands either way. One linear plan, no persist+count job,
    # the 60-bit signature build computed once by construction.
    pair_expr = (
        "flatten(transform(ds, (x, i) -> "
        "transform(slice(ds, i + 2, size(ds) - i - 1), "
        "y -> struct(x.doc_id AS doc_a, y.doc_id AS doc_b, "
        "x.simhash AS sh_a, y.simhash AS sh_b))))"
    )
    cand = (
        sigs.select(
            "doc_id", "simhash", F.explode(F.array(*band_structs)).alias("bk")
        )
        .groupBy("bk.band", "bk.key")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("doc_id", "simhash"))
            ).alias("ds")
        )
        .filter(F.size("ds") >= 2)
        .select(F.explode(F.expr(pair_expr)).alias("p"))
        .select(
            "p.doc_a",
            "p.doc_b",
            F.col("p.sh_a").bitwiseXOR(F.col("p.sh_b")).alias("x_xor"),
        )
        .distinct()
    )
    return cand.select(
        "doc_a",
        "doc_b",
        F.bit_count(F.col("x_xor")).cast("bigint").alias("hamming"),
    ).filter(F.col("hamming") <= HAM_R)


# ---------------------------------------------------------------------------
# d14 — duplicated-span token coverage (what span-dedup WOULD delete)
# ---------------------------------------------------------------------------

SPAN_N = 3  # word n-gram span width (the d-family shingle width)

_D14_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents
),
pos AS (
  SELECT doc_id, i,
         {sql_hash60(f"w[i] || ' ' || w[i+1] || ' ' || w[i+2]")} AS k
  FROM toks, unnest(generate_series(1, greatest(len(w) - {SPAN_N - 1}, 0)))
       AS t(i)
),
dup AS (
  SELECT k FROM pos GROUP BY k HAVING COUNT(DISTINCT doc_id) >= 2
),
hits AS (
  SELECT doc_id, i, LAG(i) OVER (PARTITION BY doc_id ORDER BY i) AS pi
  FROM pos WHERE k IN (SELECT k FROM dup)
),
cov AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_dup_grams,
         CAST(SUM(CASE WHEN pi IS NULL THEN {SPAN_N}
                       ELSE least({SPAN_N}, i - pi) END) AS BIGINT)
           AS n_covered_tokens
  FROM hits GROUP BY doc_id
),
dl AS (
  SELECT doc_id, CAST(MAX(i) + {SPAN_N - 1} AS BIGINT) AS n_tokens
  FROM pos GROUP BY doc_id
)
SELECT dl.doc_id, dl.n_tokens,
       COALESCE(cov.n_dup_grams, 0) AS n_dup_grams,
       COALESCE(cov.n_covered_tokens, 0) AS n_covered_tokens,
       ROUND(CAST(COALESCE(cov.n_covered_tokens, 0) AS DOUBLE)
             / dl.n_tokens, 9) AS dup_coverage
FROM dl LEFT JOIN cov ON cov.doc_id = dl.doc_id
"""


@register("d14_span_coverage", _D14_ORACLE)
def d14_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-SPAN token coverage: the fraction of a
    document's tokens that sit inside at least one word {SPAN_N}-gram
    that also appears in ANOTHER document — i.e. exactly what an
    inter-document span-level deduplicator (RefinedWeb / MassiveText
    style) would delete, measured BEFORE committing to the deletion.
    d1/d4 answer "which whole docs are (near-)copies"; d14 answers "how
    much of each surviving doc is boilerplate shared with the rest of
    the corpus" — the curation dial between dropping documents and
    surgically cutting repeated spans.

    Exactness: coverage is the interval-union length of the fixed-width
    spans [i, i+{SPAN_N}-1] over duplicated positions — computed as
    sum(min({SPAN_N}, gap)) over the LAG window, identical integer
    algebra on both engines; the only double is one final ROUND(÷, 9).
    Docs shorter than {SPAN_N} tokens carry no span and are absent (the
    d-family `sizes` convention).

    Scale shape: ONE documents scan builds the persisted positional
    n-gram index (doc_id, position, 60-bit key) — the same index shape
    the shingle family pays for; from it: (a) the cross-doc frequency
    aggregate (map-side combinable two-phase distinct on the gram key),
    (b) a shuffle semi-join of positions against duplicated keys (never
    a broadcast — the duplicated-key set is corpus-vocabulary-sized),
    (c) a per-doc LAG window whose partitions are bounded by document
    length, and (d) a per-doc roll-up. No pair table exists anywhere —
    unlike d3/d10 this is linear in corpus size by construction, which
    is why span-coverage is the report you CAN afford at 100 TB even
    when the full pairwise dedup runs sampled."""
    from pyspark.sql.window import Window

    docs = fanout(table(spark, sf_dir, "documents"))
    w = _words(F.col("text"))
    gram = F.concat_ws(
        " ", *[F.element_at(F.col("w"), F.col("i") + j) for j in range(SPAN_N)]
    )
    idx = F.when(
        F.size(F.col("w")) >= SPAN_N,
        F.sequence(F.lit(1), F.size(F.col("w")) - (SPAN_N - 1)),
    ).otherwise(F.array().cast("array<int>"))
    pos = (
        docs.select("doc_id", w.alias("w"))
        .select("doc_id", "w", F.explode(idx).alias("i"))
        .select("doc_id", "i", hash60(gram).alias("k"))
        .persist()
    )
    dup = (
        pos.groupBy("k")
        .agg(F.count_distinct("doc_id").alias("ndocs"))
        .filter(F.col("ndocs") >= 2)
        .select("k")
    )
    win = Window.partitionBy("doc_id").orderBy("i")
    hits = pos.join(dup, "k", "semi").withColumn("pi", F.lag("i").over(win))
    cov = hits.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_dup_grams"),
        F.sum(
            F.when(F.col("pi").isNull(), F.lit(SPAN_N)).otherwise(
                F.least(F.lit(SPAN_N), F.col("i") - F.col("pi"))
            )
        )
        .cast("bigint")
        .alias("n_covered_tokens"),
    )
    dl = pos.groupBy("doc_id").agg(
        (F.max("i") + (SPAN_N - 1)).cast("bigint").alias("n_tokens")
    )
    return dl.join(cov, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce(F.col("n_dup_grams"), F.lit(0)).alias("n_dup_grams"),
        F.coalesce(F.col("n_covered_tokens"), F.lit(0)).alias(
            "n_covered_tokens"
        ),
        F.round(
            F.coalesce(F.col("n_covered_tokens"), F.lit(0)).cast("double")
            / F.col("n_tokens"),
            9,
        ).alias("dup_coverage"),
    )


# ---------------------------------------------------------------------------
# d15 — train→eval n-gram contamination report (GPT-3-style decontamination)
# ---------------------------------------------------------------------------

DECON_N = 5  # word n-gram width for overlap detection (longer than the
#              3-gram dedup shingles: decontamination wants high-precision
#              literal overlap, not fuzzy similarity)


def _d15_oracle() -> str:
    from bc_proj3_spark.operators.sampling import (
        TRAIN_PCT,
        VAL_PCT,
        _sql_seeded,
    )

    gram = " || ' ' || ".join(f"w[i+{j}]" for j in range(DECON_N))
    return f"""
WITH b AS (
  SELECT doc_id, text,
         {sql_hash60(_sql_seeded('split', 'CAST(doc_id AS VARCHAR)'))} % 100
           AS bucket
  FROM documents
),
toks AS (
  SELECT doc_id, bucket, string_split_regex(trim(text), '\\s+') AS w FROM b
),
shs AS (
  SELECT DISTINCT doc_id, bucket,
    unnest(list_transform(
      generate_series(1, greatest(len(w) - {DECON_N - 1}, 0)),
      i -> {gram})) AS s
  FROM toks
),
g AS (SELECT doc_id, bucket, {sql_hash60('s')} AS k FROM shs),
train_k AS (SELECT DISTINCT k FROM g WHERE bucket < {TRAIN_PCT}),
ev AS (SELECT doc_id, bucket, k FROM g WHERE bucket >= {TRAIN_PCT}),
hits AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hit
  FROM ev WHERE k IN (SELECT k FROM train_k) GROUP BY doc_id
),
base AS (
  SELECT doc_id,
         CASE WHEN bucket < {VAL_PCT} THEN 'val' ELSE 'test' END AS split,
         CAST(COUNT(*) AS BIGINT) AS n_grams
  FROM ev GROUP BY 1, 2
)
SELECT base.doc_id, split, n_grams,
       COALESCE(n_hit, 0) AS n_hit,
       ROUND(CAST(COALESCE(n_hit, 0) AS DOUBLE) / n_grams, 9)
         AS contamination,
       COALESCE(n_hit, 0) > 0 AS contaminated
FROM base LEFT JOIN hits USING (doc_id)
"""


@register("d15_ngram_decontaminate", _d15_oracle())
def d15_ngram_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Literal n-gram train→eval contamination report: for every
    val/test document of sp1's content-addressed 90/5/5 split, the
    number and fraction of its distinct word {DECON_N}-grams that also
    appear in ANY train document, plus the any-hit flag — the GPT-3
    appendix-C decontamination ledger. Completes the three-mode
    decontamination family: d7 removes exact-hash copies, s7 removes
    semantic neighbors, d15 measures literal PHRASE leakage that
    survives both (a benchmark answer quoted inside an otherwise-novel
    page). The report runs BEFORE training so the call — drop the eval
    doc, or cut the span — is made on numbers, not vibes.

    Exactness: split buckets replay sp1's seeded-hash expression
    verbatim; overlap counting is exact set algebra on distinct
    60-bit gram keys (per-doc DISTINCT applied before hashing on both
    engines); the only double is one final ROUND(÷, 9). Eval docs
    shorter than {DECON_N} tokens carry no gram and are absent (the
    d-family `sizes` convention).

    Scale shape: ONE documents scan fans out the per-doc distinct gram
    keys with the split bucket computed map-side (no join against a
    split table — the bucket is a hash of the key the row already
    carries). The train-key set is corpus-sized, so the eval probe is
    a shuffle SEMI join on the 8-byte key — never a broadcast, and the
    probe side is only ~10 % of the corpus by construction. All three
    aggregates are map-side combinable. At 100 TB this is the cheapest
    of the d-family reports: linear, no pair table, no index persisted
    across queries; the same plan decontaminates against an EXTERNAL
    benchmark suite by swapping the train-key build for a scan of the
    benchmark corpus."""
    from bc_proj3_spark.operators.sampling import TRAIN_PCT, VAL_PCT, _seeded

    docs = fanout(table(spark, sf_dir, "documents"))
    bucket = hash60(_seeded("split", F.col("doc_id").cast("string"))) % 100
    # Explode positions FIRST (d14's shape), then assemble each gram
    # from the carried token array: building grams inside a transform()
    # over the inlined split() re-evaluates the regex tokenizer once
    # per element_at — measured 7× slower at sf0.1 (34 s → 4.8 s). The
    # per-doc DISTINCT runs on the gram STRING (not the 60-bit key) so
    # hash collisions cannot collapse two distinct grams — byte-for-
    # byte the oracle's SELECT DISTINCT doc_id, s.
    gram = F.concat_ws(
        " ",
        *[F.element_at(F.col("w"), F.col("i") + j) for j in range(DECON_N)],
    )
    idx = F.when(
        F.size("w") >= DECON_N,
        F.sequence(F.lit(1), F.size("w") - (DECON_N - 1)),
    ).otherwise(F.array().cast("array<int>"))
    g = (
        docs.select(
            "doc_id", bucket.alias("bucket"), _words(F.col("text")).alias("w")
        )
        .select("doc_id", "bucket", "w", F.explode(idx).alias("i"))
        .select("doc_id", "bucket", gram.alias("s"))
        .distinct()
        .select("doc_id", "bucket", hash60(F.col("s")).alias("k"))
        .persist()
    )
    train_k = (
        g.filter(F.col("bucket") < TRAIN_PCT).select("k").distinct()
    )
    ev = g.filter(F.col("bucket") >= TRAIN_PCT)
    hits = (
        ev.join(train_k, "k", "semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_hit"))
    )
    base = ev.groupBy(
        "doc_id",
        F.when(F.col("bucket") < VAL_PCT, "val").otherwise("test").alias(
            "split"
        ),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_grams"))
    return base.join(hits, "doc_id", "left").select(
        "doc_id",
        "split",
        "n_grams",
        F.coalesce(F.col("n_hit"), F.lit(0)).alias("n_hit"),
        F.round(
            F.coalesce(F.col("n_hit"), F.lit(0)).cast("double")
            / F.col("n_grams"),
            9,
        ).alias("contamination"),
        (F.coalesce(F.col("n_hit"), F.lit(0)) > 0).alias("contaminated"),
    )


# ---------------------------------------------------------------------------
# d16 — cross-split content-leakage report (train/val/test hygiene)
# ---------------------------------------------------------------------------


def _d16_oracle() -> str:
    from bc_proj3_spark.functions.hashing import sql_hash60
    from bc_proj3_spark.operators.sampling import (
        TRAIN_PCT,
        VAL_PCT,
        _sql_seeded,
    )

    bucket = (
        f"{sql_hash60(_sql_seeded('split', 'CAST(doc_id AS VARCHAR)'))} % 100"
    )
    return f"""
WITH fps AS (
  SELECT {T.sql_fingerprint('text')} AS fp,
         CASE WHEN {bucket} < {TRAIN_PCT} THEN 'train'
              WHEN {bucket} < {VAL_PCT} THEN 'val'
              ELSE 'test' END AS split
  FROM documents
),
per_fp AS (
  SELECT fp,
         CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_train,
         CAST(SUM(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_val,
         CAST(SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_test
  FROM fps GROUP BY fp
),
agg AS (
  SELECT
    CAST(SUM(CASE WHEN n_train > 0 AND n_val > 0 THEN 1 ELSE 0 END)
         AS BIGINT) AS sh_tv,
    CAST(SUM(CASE WHEN n_train > 0 THEN n_val ELSE 0 END) AS BIGINT)
      AS docs_tv,
    CAST(SUM(CASE WHEN n_train > 0 AND n_test > 0 THEN 1 ELSE 0 END)
         AS BIGINT) AS sh_tt,
    CAST(SUM(CASE WHEN n_train > 0 THEN n_test ELSE 0 END) AS BIGINT)
      AS docs_tt,
    CAST(SUM(CASE WHEN n_val > 0 AND n_test > 0 THEN 1 ELSE 0 END)
         AS BIGINT) AS sh_vt,
    CAST(SUM(CASE WHEN n_val > 0 THEN n_test ELSE 0 END) AS BIGINT)
      AS docs_vt
  FROM per_fp
)
SELECT 'train' AS split_a, 'val' AS split_b,
       sh_tv AS n_shared_fps, docs_tv AS n_docs_contaminated FROM agg
UNION ALL
SELECT 'train', 'test', sh_tt, docs_tt FROM agg
UNION ALL
SELECT 'val', 'test', sh_vt, docs_vt FROM agg
"""


@register("d16_cross_split_leakage", _d16_oracle())
def d16_cross_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test content-leakage report: for each ordered split
    pair, how many exact content fingerprints (d1's identity) appear
    in BOTH splits, and how many target-split documents carry such a
    fingerprint. sp9's leakage-safe split PREVENTS this by
    construction; d16 is the audit for the splits you did NOT build
    that way (sp1's independent per-doc hash, the industry default) —
    a val set sharing content with train inflates every eval number,
    and this is the first table an eval-integrity review asks for.

    Exactness: fingerprints and split buckets reuse the registered
    d1/sp1 expressions verbatim; all counts are exact integers from
    one conditional aggregate over the per-fingerprint split
    histogram.

    Scale shape: ONE documents scan → groupBy fingerprint (map-side
    combine absorbs duplicates) → ONE 1-row conditional aggregate
    fanned out to the 3 report rows. No joins, no self-products; at
    100 TB the fingerprint aggregate is the d1 dedup pass itself."""
    from bc_proj3_spark.functions.hashing import hash60
    from bc_proj3_spark.operators.sampling import (
        TRAIN_PCT,
        VAL_PCT,
        _seeded,
    )

    docs = table(spark, sf_dir, "documents")
    bucket = hash60(_seeded("split", F.col("doc_id").cast("string"))) % 100
    split = (
        F.when(bucket < TRAIN_PCT, "train")
        .when(bucket < VAL_PCT, "val")
        .otherwise("test")
    )
    per_fp = (
        docs.select(T.fingerprint(F.col("text")).alias("fp"), split.alias("split"))
        .groupBy("fp")
        .agg(
            F.sum(F.when(F.col("split") == "train", 1).otherwise(0))
            .cast("bigint")
            .alias("n_train"),
            F.sum(F.when(F.col("split") == "val", 1).otherwise(0))
            .cast("bigint")
            .alias("n_val"),
            F.sum(F.when(F.col("split") == "test", 1).otherwise(0))
            .cast("bigint")
            .alias("n_test"),
        )
    )

    def _sh(a, b):
        return F.sum(
            F.when((F.col(a) > 0) & (F.col(b) > 0), 1).otherwise(0)
        ).cast("bigint")

    def _docs(a, b):
        return F.sum(
            F.when(F.col(a) > 0, F.col(b)).otherwise(0)
        ).cast("bigint")

    agg = per_fp.agg(
        _sh("n_train", "n_val").alias("sh_tv"),
        _docs("n_train", "n_val").alias("docs_tv"),
        _sh("n_train", "n_test").alias("sh_tt"),
        _docs("n_train", "n_test").alias("docs_tt"),
        _sh("n_val", "n_test").alias("sh_vt"),
        _docs("n_val", "n_test").alias("docs_vt"),
    )

    def _row(a, b, sh, dc):
        return F.struct(
            F.lit(a).alias("split_a"),
            F.lit(b).alias("split_b"),
            F.col(sh).alias("n_shared_fps"),
            F.col(dc).alias("n_docs_contaminated"),
        )

    return agg.select(
        F.explode(
            F.array(
                _row("train", "val", "sh_tv", "docs_tv"),
                _row("train", "test", "sh_tt", "docs_tt"),
                _row("val", "test", "sh_vt", "docs_vt"),
            )
        ).alias("r")
    ).select("r.*")
