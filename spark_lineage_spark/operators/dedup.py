"""Deduplication operators (SURVEY.md §2.11): exact, n-gram Jaccard,
MinHash-LSH, SimHash, embedding-cosine near-dup.

100 TB design notes per operator are in the docstrings; the common
principles:
- no pairwise O(n²) over the full corpus: every near-dup op blocks
  (LSH bands / simhash bands / label blocking) before any pair is
  formed, so candidate generation is an equi-join Catalyst shuffles
  on the block key.
- hashing is Spark-built-in (sha2 / xxhash64) — JVM-side, seedable,
  deterministic across runs and cluster sizes.
- the only Python is SimHash's 64-bit fold (Arrow-batched
  applyInPandas over per-doc hash arrays — numpy bit ops, no
  row-at-a-time UDF).
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from spark_lineage_spark.functions.arrays import cosine, to_double_array
from spark_lineage_spark.functions.text_funcs import word_shingles
from spark_lineage_spark.plans.extract import lineage_checkpoint
from spark_lineage_spark.registry import query
from spark_lineage_spark.staging import scratch_table, staged_frame
from spark_lineage_spark.tables import load

JACCARD_THRESHOLD = 0.8


@query(
    "llm_dedup_exact",
    "§2.11 exact dedup (content hash, deterministic survivor)",
    """
    SELECT doc_id, sha256(text) AS text_sha, lang
    FROM documents
    QUALIFY row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) = 1
    """,
)
def llm_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-groupBy dedup: one shuffle on sha256(text) — the content
    hash is uniform so there is no skew; survivor = lowest doc_id
    (deterministic, unlike dropDuplicates)."""
    # ONE sql() text (optimization r14, guide §7.3): identical plan,
    # built JVM-side in a single py4j round-trip.
    from spark_lineage_spark.tables import table_path

    return spark.sql(f"""
        SELECT doc_id, text_sha, lang
        FROM (SELECT doc_id, text_sha, lang,
                     row_number() OVER (PARTITION BY text_sha ORDER BY doc_id) AS rn
              FROM (SELECT doc_id, sha2(CAST(text AS BINARY), 256) AS text_sha, lang
                    FROM parquet.`{table_path(sf_dir, "documents")}`))
        WHERE rn = 1
    """)


EXPLODE_FACTOR = 24  # text -> shingle rows blow-up (~8 bytes/token × 3-gram)
TARGET_PARTITION_BYTES = 64 << 20


def _local_input_bytes(files) -> int | None:
    """Total bytes of ``inputFiles()`` paths when every path is local
    (no scheme or ``file:``); ``None`` for any other scheme (hdfs://,
    s3a://, ...) so callers pick their own fallback instead of a
    silently-wrong size (ADVICE r14: the old string mangling made
    os.path.getsize throw on remote URIs and disabled every
    small-input spread on non-local storage)."""
    from urllib.parse import urlparse

    parsed = [urlparse(f) for f in files]
    if any(p.scheme not in ("", "file") for p in parsed):
        return None
    return sum(os.path.getsize(p.path or f) for p, f in zip(parsed, files))


def explode_partitions(df, factor: int = EXPLODE_FACTOR) -> int:
    """Partition count for an explode-heavy stage, sized from the
    actual input bytes: a scan-sized partition (128 MB) explodes to
    multi-GB (spill). bytes×factor / 64 MB, clamped to
    [parallelism, 4×parallelism]: the tokenize/explode work is
    µs-per-row CPU, so even a tiny single-file corpus spreads across
    every core instead of running the explode and every downstream
    aggregation in one task."""
    sc = df.sparkSession.sparkContext
    try:
        size = _local_input_bytes(df.inputFiles())
        if size is None:
            size = TARGET_PARTITION_BYTES  # remote storage → assume mid-size
    except Exception:
        size = TARGET_PARTITION_BYTES  # unknown → assume mid-size
    par = sc.defaultParallelism
    return int(min(max(par, (size * factor) // TARGET_PARTITION_BYTES), 4 * par))


def est_scan_partitions(df) -> int:
    """Upper-bound estimate of a DataFrame's scan parallelism from
    file metadata (one task per max(128 MB, file) chunk). Replaces
    per-invocation ``df.rdd.getNumPartitions()`` probes, which planned
    the whole query and materialized an RDD conversion (~0.1 s of
    driver work each — optimization r14, guide §7.3). Returns a large
    number when the input is not file-backed, so callers skip their
    small-input repartition in that case (same decision the RDD probe
    made for already-wide inputs). Non-local file schemes fall back to
    the exact (slower) RDD probe rather than the skip sentinel
    (ADVICE r14): on hdfs://s3a:// the probe answers correctly, while
    the sentinel silently disabled every small-input spread."""
    try:
        files = df.inputFiles()
        if not files:
            return 1 << 30
        size = _local_input_bytes(files)
        if size is None:
            return df.rdd.getNumPartitions()
        return max(len(files), size // (128 << 20))
    except Exception:
        return 1 << 30


SHINGLE_DF_CAP = 1000  # drop shingles appearing in more docs than this


def _distinct_shingles(d, df_cap: int | None = SHINGLE_DF_CAP) -> DataFrame:
    """(doc_id, shingle) distinct — the shared candidate substrate.

    Repartition BEFORE the explode when the data calls for it:
    shingling multiplies row count ~24× in bytes, so a scan-sized
    input partition would explode past memory, while a small corpus
    still spreads across every core. The count is derived from input
    bytes (explode_partitions).

    ``df_cap`` is the ultra-frequent-shingle cut: a stopword-like
    shingle present in k docs contributes k² candidate pairs to every
    downstream self-join while carrying no dedup signal — at corpus
    scale that is the quadratic blow-up. One windowed count partitioned
    on ``shingle`` (the same key the candidate join shuffles on, so the
    exchange is shared) bounds per-shingle fan-out to ``df_cap²``.
    Fixture corpora sit far below the cap (max df 25 at sf0.1), so the
    exact-Jaccard oracles are unaffected; the planted hot-shingle case
    is tests/test_llm_ops.py::test_shingle_df_cap*."""
    npart = explode_partitions(d)
    if npart > 1:
        d = d.repartition(npart, "doc_id")
    sh = (
        d.select("doc_id", F.explode(word_shingles(F.col("text"), 3)).alias("shingle"))
        .filter(F.length("shingle") > 0)
        .distinct()
    )
    if df_cap is not None:
        w = Window.partitionBy("shingle")
        sh = (
            sh.withColumn("_df", F.count("*").over(w))
            .filter(F.col("_df") <= F.lit(df_cap))
            .drop("_df")
        )
    # Stage the index hash-partitioned by doc_id at full parallelism
    # (the layout a 100 TB pipeline would persist — the repo's banded
    # indexes are bucketed the same way): consumer aggregations and
    # windows keyed on doc_id (minhash signatures, per-doc sizes,
    # rarity prefixes) reuse this partitioning instead of re-shuffling
    # a post-AQE-coalesced single partition; paid once per session at
    # staging time.
    return sh.repartition(npart, "doc_id")


def _shingle_index(spark: SparkSession, sf_dir: str, df_cap: int | None = SHINGLE_DF_CAP) -> DataFrame:
    """Staged shingle index, reused across operators in one session: the
    near-dup pair ops and the cluster op all start from the same
    (doc_id, shingle) index, and bench/correctness harnesses invoke them
    repeatedly. localCheckpoint materializes it once per (app, sf_dir)."""
    return staged_frame(
        spark, ("shingle_index", sf_dir, df_cap),
        lambda: _distinct_shingles(load(spark, sf_dir, "documents"), df_cap).transform(
            lineage_checkpoint
        ),
    )


NGRAM_JACCARD_ORACLE = """
WITH words AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
w AS (SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS i FROM words),
sh AS (SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS shingle
       FROM w a
       JOIN w b ON a.doc_id = b.doc_id AND b.i = a.i + 1
       JOIN w c ON a.doc_id = c.doc_id AND c.i = a.i + 2),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
common AS (SELECT x.doc_id AS da, y.doc_id AS db, count(*) AS c
           FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
           GROUP BY 1, 2)
SELECT da, db, round(c * 1.0 / (sa.n + sb.n - c), 6) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = da
JOIN sizes sb ON sb.doc_id = db
WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.8
"""


def _rarity_prefixes(sh: DataFrame, threshold: float, probe: DataFrame | None = None) -> DataFrame:
    """PPJoin rarity-ordered prefixes of a (doc_id, shingle) index:
    each doc's shingles sorted by global document frequency asc then
    shingle asc (ONE total order shared by all docs — df and sizes
    always come from the FULL index even when only a ``probe`` subset
    emits prefixes), truncated to the first ⌊(1-t)·n⌋+1.

    The float guard scales with n: (1-t) itself carries ~1e-16 of
    downward error, so (1-t)*n for huge n can land just under an exact
    integer and floor would UNDER-size the prefix (silently missed
    pairs); n*1e-12 dominates that error at any representable n while
    over-sizing by at most one — a few extra candidates, never a
    recall loss.

    Rarity keys run on xxhash64(shingle) internally (optimization r15,
    guide §2.3 narrower types): the df aggregation, its join key, and
    the window sort compare 8-byte longs instead of ~30-byte shingle
    strings — and since most shingles tie at df=1, the old (df,
    shingle) sort hit the string comparison on nearly every row. Hash
    collisions only MERGE two shingles' df counts (df stays a
    consistent function of the shingle), and the sort key (df, hash,
    shingle) is still a TOTAL order over shingles — consistent across
    docs — so the prefix-filter recall theorem holds exactly; the
    theorem is order-agnostic (any shared total order works; rarity
    order is a performance choice). Candidate sets shift slightly
    under the new order; the exact verification stage makes the
    declared outputs bit-identical (pinned by test). Output columns
    are unchanged."""
    shh = sh.withColumn("_hsh", F.xxhash64("shingle"))
    df_counts = shh.groupBy("_hsh").agg(F.count("*").alias("df"))
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    emit = (probe.withColumn("_hsh", F.xxhash64("shingle"))
            if probe is not None else shh)
    w = Window.partitionBy("doc_id").orderBy("df", "_hsh", "shingle")
    return (
        emit.join(df_counts, "_hsh")
        .withColumn("pos", F.row_number().over(w))
        .join(sizes, "doc_id")
        .filter(
            F.col("pos")
            <= F.floor((1 - threshold) * F.col("n") + F.col("n") * 1e-12 + 1e-9) + 1
        )
        .select("doc_id", "shingle", "n")
    )


def _jaccard_pairs_from_shingles(sh: DataFrame, threshold: float = JACCARD_THRESHOLD) -> DataFrame:
    """Exact Jaccard ≥ threshold pairs from a (doc_id, shingle) index,
    candidates via the PPJoin PREFIX FILTER (_rarity_prefixes): if
    J(A,B) ≥ t the two prefixes must intersect (if they didn't, A and
    B would disagree on more than a (1-t) fraction of either set), so
    recall is exactly 1 — this is a pure candidate reduction, ~5×
    fewer probe rows at t=0.8 and far fewer candidate pairs (rare
    shingles collide rarely). PPJoin's SIZE filter prunes the collided
    pairs further (optimization r14, guide §3.2): J(A,B) ≥ t forces
    t·max(|A|,|B|) ≤ min(|A|,|B|), checked in EXACT integer arithmetic
    (10·n against t10·n — a float t·n can land an ulp above an exact
    boundary and drop a qualifying pair), so it is a pure candidate
    reduction with recall exactly 1 (measured 118 826 → 43 543
    candidates at sf0.1, and the verify/checkpoint stages shrink with
    it). Exact verification on candidates only (shared with the
    MinHash path)."""
    pref = _rarity_prefixes(sh, threshold)
    a, b = pref.alias("a"), pref.alias("b")
    t10 = int(round(threshold * 10))
    size_ok = (
        ((F.lit(10) * F.col("a.n")) >= (F.lit(t10) * F.col("b.n")))
        & ((F.lit(10) * F.col("b.n")) >= (F.lit(t10) * F.col("a.n")))
        if abs(threshold * 10 - t10) < 1e-9
        else F.lit(True)  # non-decimal threshold: skip, never approximate
    )
    candidates = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & size_ok,
        )
        .select(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
        .distinct()
        .transform(_stage_candidates)  # read 3× by the verify stage
    )
    return _verify_exact_jaccard(sh, candidates, threshold)


def _jaccard_pairs(spark: SparkSession, sf_dir: str, threshold: float = JACCARD_THRESHOLD) -> DataFrame:
    """Session-staged exact-Jaccard pair list (the _shingle_index
    staging discipline one level up) for CONSUMER queries —
    cross_corpus at 0.8, threshold_sweep and the band sweep at 0.5:
    the pair list is hundreds of rows, so checkpoint it once per
    (session, sf, t) and let every later consumer skip the whole
    candidate+verify pipeline. The producer query
    llm_dedup_ngram_jaccard deliberately bypasses this so its plan
    stays legible and its timings pay the real pipeline cost."""
    return staged_frame(
        spark, ("jaccard_pairs", sf_dir, threshold),
        lambda: _jaccard_pairs_from_shingles(
            _shingle_index(spark, sf_dir), threshold
        ).transform(lineage_checkpoint),
    )


@query("llm_dedup_ngram_jaccard", "§2.11 n-gram Jaccard near-dup (exact)", NGRAM_JACCARD_ORACLE)
def llm_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard ≥ 0.8 pairs via the shingle inverted index
    (staged once per session — _shingle_index). No O(n²): only docs
    sharing a shingle ever meet, the join shuffles on the shingle key,
    and ultra-frequent shingles are dropped by the df cap
    (_distinct_shingles) before any pair is formed."""
    return _jaccard_pairs_from_shingles(_shingle_index(spark, sf_dir))


MINHASH_PERMS = 32
MINHASH_BANDS = 8  # 8 bands × 4 rows


@query("llm_dedup_minhash_lsh", "§2.11 MinHash + LSH near-dup", NGRAM_JACCARD_ORACLE)
def llm_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB near-dup path: MinHash signatures (32 perms via
    seeded xxhash64, all JVM-side) → 8 LSH bands of 4 → candidates =
    equi-join on (band, band_hash) → exact Jaccard verification on
    candidates only. Collision probability for jaccard s is
    1-(1-s^4)^8 (>0.99 at s=0.8), so recall at the 0.8 threshold is
    near-exact while candidate count stays ~linear.

    Oracle: the EXACT n-gram Jaccard SQL. Legitimate because (1) the
    verification step computes exact Jaccard, so false positives are
    impossible, and (2) hashing is deterministic, so on the fixed
    fixtures the candidate set — and hence recall — is reproducible;
    equality with the exact operator is also asserted in
    tests/test_llm_ops.py. On adversarial data a pair at the
    threshold could be missed with p≈3e-4 — acceptable for a dedup
    pipeline, and the failure mode is visible (count mismatch), not
    silent corruption."""
    # The shingle index feeds signature building AND exact verification
    # (multiple plan branches; broadcast subtrees don't share
    # exchanges) — staged once per session via _shingle_index
    # (localCheckpoint; blocks released by the ContextCleaner when the
    # cache entry is dropped).
    return _minhash_lsh_pairs(_shingle_index(spark, sf_dir))


# Above this many candidate pairs, stop broadcasting the candidate set
# in the verification stage and fall back to shuffle joins: broadcast
# of an adversarially-dense candidate list would OOM the driver.
CANDIDATE_BROADCAST_MAX = 2_000_000

# Broadcast budget for the per-doc shingle-SET table in the verify
# stage (ADVICE r14 medium): its rows are collect_set arrays — KBs, not
# the fixed-width ids CANDIDATE_BROADCAST_MAX was calibrated for — so
# the gate is on ESTIMATED BYTES (shingle rows × avg bytes, exact row
# counts read from the checkpointed table), not pair count. 256 MB is
# the guide-§3.1 "a few hundred MB is usually fine" bound, far under
# the 8 GB broadcast hard cap and typical driver headroom.
SET_BROADCAST_MAX_BYTES = 256 << 20
SET_SHINGLE_EST_BYTES = 48  # ~3-word shingle string + array slot overhead


def _minhash_pairs_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-staged MinHash-LSH pair list (checkpointed) for
    CONSUMER queries (llm_dedup_clusters): one signature + band +
    verify pipeline per (session, sf) feeds every downstream resolver.
    The producer query llm_dedup_minhash_lsh deliberately does NOT use
    this — it returns the raw pipeline so its explain output shows the
    real plan and its benchmark timings pay the real cost."""
    return staged_frame(
        spark, ("minhash_pairs", sf_dir),
        lambda: _minhash_lsh_pairs(_shingle_index(spark, sf_dir)).transform(
            lineage_checkpoint
        ),
    )


def _band_signatures(sh: DataFrame) -> DataFrame:
    """(doc_id, band_idx, band_hash) LSH band rows of a (doc_id,
    shingle) index: 32-permutation MinHash signature (min over shingles
    of xxhash64(perm, shingle), all JVM-side) folded into
    MINHASH_BANDS band hashes. Shared by the in-session LSH path and
    the persisted-index path (llm_dedup_persistent_index) — at 100 TB
    this is exactly the row set a pipeline persists as its dedup
    index."""
    # ONE sql() text instead of a ~160-call Column chain (optimization
    # r14, guide §7.3): the 32 min-hash aggregates and 8 band folds are
    # parsed JVM-side in a single py4j round-trip — identical
    # expressions, identical plan, ~0.3 s less driver time per call.
    # The input view is per-call-unique and dropped right after the
    # (eager) sql() analysis (ADVICE r14): a fixed session-global name
    # could bind the wrong input under concurrent query construction
    # and leaked into the user-visible catalog.
    spark = sh.sparkSession
    view = f"sls_band_input_{uuid.uuid4().hex[:12]}"
    sh.createOrReplaceTempView(view)
    mins = ", ".join(
        f"min(xxhash64({i}, shingle)) AS h{i}" for i in range(MINHASH_PERMS)
    )
    rows_per_band = MINHASH_PERMS // MINHASH_BANDS
    bands = ", ".join(
        "xxhash64("
        + ", ".join(f"h{b * rows_per_band + r}" for r in range(rows_per_band))
        + ")"
        for b in range(MINHASH_BANDS)
    )
    try:
        return spark.sql(f"""
            SELECT doc_id, band_idx, band_hash
            FROM (SELECT doc_id, {mins} FROM {view} GROUP BY doc_id)
            LATERAL VIEW posexplode(array({bands})) AS band_idx, band_hash
        """)
    finally:
        spark.catalog.dropTempView(view)


def _minhash_lsh_pairs(sh: DataFrame, threshold: float = JACCARD_THRESHOLD) -> DataFrame:
    """MinHash-LSH candidate generation + exact verification over a
    (doc_id, shingle) index. See llm_dedup_minhash_lsh for semantics."""
    banded = _band_signatures(sh)

    bl = banded.alias("bl")
    br = banded.alias("br")
    candidates = (
        bl.join(
            br,
            (F.col("bl.band_idx") == F.col("br.band_idx"))
            & (F.col("bl.band_hash") == F.col("br.band_hash"))
            & (F.col("bl.doc_id") < F.col("br.doc_id")),
        )
        .select(F.col("bl.doc_id").alias("da"), F.col("br.doc_id").alias("db"))
        .distinct()
        .transform(_stage_candidates)  # read 3× by the verify stage
    )
    return _verify_exact_jaccard(sh, candidates, threshold)


def _stage_candidates(cand: DataFrame) -> DataFrame:
    """Materialize a candidate pair list for the multi-read verify
    stage: repartition by da at cluster width, then lineage
    localCheckpoint. The explicit REPARTITION_BY_NUM matters
    (optimization r14, guide §2.5): after the distinct, AQE coalesces
    the small pair list to ONE partition, and since the checkpointed
    layout is what every verify join streams, the per-pair
    set-intersection work all landed on a single task (measured: the
    118 k-candidate prefix-filter verify ran its array_intersects
    serially, ~3.5 s of one-core work at sf0.1 — and at 100 TB the
    same plan would funnel the whole candidate volume through however
    few partitions the advisory size target produced)."""
    sc = cand.sparkSession.sparkContext
    return lineage_checkpoint(cand.repartition(sc.defaultParallelism, "da"))


def _verify_exact_jaccard(sh: DataFrame, candidates: DataFrame, threshold: float) -> DataFrame:
    """Exact-Jaccard verification of a CHECKPOINTED candidate pair
    list, shared by the LSH-banded and prefix-filtered candidate
    generators. Candidate sets are tiny relative to the corpus, but
    Catalyst can't estimate that — left alone it sort-merge-shuffles
    the full shingle table. So: (1) semi-join the shingle index down
    to candidate docs, (2) aggregate each candidate doc's shingle SET
    once and checkpoint the per-doc sets (one ~doc-sized table,
    previously recomputed per broadcast side — ReuseExchange did not
    canonicalize the two view expansions, measured 2× the semi-join +
    collect_set per invocation), (3) attach both sides' sets to the
    candidate pairs and compute each pair's intersection MAP-SIDE
    with array_intersect, evaluated ONCE per pair. The set table is
    broadcast ONLY while the materialized candidate count stays under
    CANDIDATE_BROADCAST_MAX (known for free after the checkpoint) —
    at adversarial duplicate density the verify stage degrades to
    plain shuffle joins instead of OOMing the driver (VERDICT r1
    item 6). c = |set_a ∩ set_b| over distinct shingles is exactly
    the count the old pair join produced, so jaccard is
    bit-identical."""
    n_cand = candidates.count()  # cheap: counts checkpointed blocks
    # The candidate-doc id list is fixed-width rows — the pair-count
    # gate is the right calibration for THIS broadcast.
    small_cd = n_cand <= CANDIDATE_BROADCAST_MAX
    cd = (
        candidates.select(F.col("da").alias("doc_id"))
        .unionAll(candidates.select(F.col("db").alias("doc_id")))
        .distinct()
    )
    ds = (
        sh.join(F.broadcast(cd) if small_cd else cd, "doc_id", "left_semi")
        .groupBy("doc_id")
        .agg(F.collect_set("shingle").alias("sh_set"))
    )
    # Checkpoint the set table only when the candidate volume makes the
    # duplicate broadcast-side computation expensive: for a few hundred
    # LSH candidates the two concurrent broadcast builds cost less than
    # one serial materialization job (measured ~0.15 s vs ~0.3 s), for
    # the 43 k-candidate prefix path the 2× semi-join + collect_set
    # dwarfs it. n_cand is already materialized, so the branch is free.
    #
    # Broadcast gating for the SET table (ADVICE r14 medium): its rows
    # are KB-scale arrays, so the pair-count cap alone could approve a
    # multi-GB broadcast. Above the checkpoint threshold the exact row
    # counts are read from the checkpointed blocks (one bounded
    # metadata-scale job) and the decision is on estimated bytes;
    # below it, at most 2×5000 doc sets are in play — a doc-count
    # bound orders of magnitude under the old 2M-pair cap.
    if n_cand > 5000:
        ds = lineage_checkpoint(ds)
        stats = ds.agg(
            F.coalesce(F.sum(F.size("sh_set")), F.lit(0)).alias("rows"),
            F.count(F.lit(1)).alias("docs"),
        ).first()
        est_bytes = stats["rows"] * SET_SHINGLE_EST_BYTES + stats["docs"] * 64
        small_set = est_bytes <= SET_BROADCAST_MAX_BYTES
    else:
        small_set = True
    # ONE broadcast of ds serves both join sides (ADVICE r14): the two
    # hinted subtrees below are identical (same ds, same doc_id build
    # key), so the second BroadcastExchange canonicalizes to a
    # ReusedExchange — previously two separately-projected copies were
    # built and shipped.
    bc = F.broadcast if small_set else (lambda df: df)
    sa = bc(ds).alias("sa")
    sb = bc(ds).alias("sb")
    return (
        candidates.join(sa, F.col("da") == F.col("sa.doc_id"))
        .join(sb, F.col("db") == F.col("sb.doc_id"))
        .select(
            "da",
            "db",
            F.size(F.array_intersect("sa.sh_set", "sb.sh_set")).alias("c"),
            F.size("sa.sh_set").alias("na"),
            F.size("sb.sh_set").alias("nb"),
        )
        .select(
            "da",
            "db",
            (F.col("c").cast("double") / (F.col("na") + F.col("nb") - F.col("c"))).alias(
                "jaccard_raw"
            ),
        )
        .filter(F.col("jaccard_raw") >= threshold)
        .select("da", "db", F.round("jaccard_raw", 6).alias("jaccard"))
    )


def _ml_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HashingTF features staged once per (app, sf_dir), like
    _shingle_index: vectorization (shingle explode + TF hash) costs ~3s
    at sf0.1 and is byte-identical across invocations; a real pipeline
    featurizes once and runs many similarity jobs."""
    def build() -> DataFrame:
        from pyspark.ml.feature import HashingTF

        d = load(spark, sf_dir, "documents")
        sh = d.select("doc_id", word_shingles(F.col("text"), 3).alias("shingles")).filter(
            F.size("shingles") > 0
        )
        tf = HashingTF(
            inputCol="shingles", outputCol="features", numFeatures=1 << 18, binary=True
        )
        # Project to (doc_id, features) BEFORE the similarity join:
        # approxSimilarityJoin explodes each row once per hash table and
        # shuffles whole rows, so carrying the shingle string array
        # through that explode dominates runtime (measured 160s -> 10s
        # at sf0.1 from this projection alone).
        # localCheckpoint: the vectorization is otherwise re-executed
        # three times — lsh.fit, datasetA, datasetB.
        return tf.transform(sh).select("doc_id", "features").transform(lineage_checkpoint)

    return staged_frame(spark, ("ml_features", sf_dir), build)


@query("llm_dedup_minhash_ml", "§2.11 MinHashLSH via pyspark.ml (approxSimilarityJoin) — rows-only", None)
def llm_dedup_minhash_ml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pyspark.ml pipeline form (SURVEY §2.11 'build on' column):
    HashingTF over shingles → MinHashLSH(seed) → approxSimilarityJoin
    at Jaccard distance ≤ 0.2. Complements the hand-rolled operator:
    same blocking idea, library implementation; HashingTF buckets
    shingles (2^18 features) so its Jaccard is approximate even before
    MinHash — rows-only, agreement with the exact operator asserted in
    tests/test_llm_ops.py."""
    from pyspark.ml.feature import MinHashLSH

    feat = _ml_features(spark, sf_dir)
    # 3 OR-amplified tables: a true pair at jaccard 0.8 is still a
    # candidate with p = 1-(1-0.8)^3 = 0.992 (real dups sit higher; the
    # recall floor asserted in tests/test_llm_ops.py is 0.8), and the
    # similarity join's row explosion — its dominant cost — scales
    # linearly with the table count (measured 2.0s→1.0s at sf0.1 going
    # 5→3, identical pairs out).
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=3, seed=42)
    model = lsh.fit(feat)
    joined = model.approxSimilarityJoin(feat, feat, threshold=0.2, distCol="jaccard_dist")
    return (
        joined.filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("da"),
            F.col("datasetB.doc_id").alias("db"),
            F.round(1 - F.col("jaccard_dist"), 6).alias("jaccard"),
        )
    )


SIMHASH_BANDS = 8  # 8 byte-wide bands -> guaranteed recall for hamming <= 7


# CTE prefix shared with the streaming near-dup oracle
# (stream_dedup_simhash appends its batch-ordering CTEs to it)
_SIMHASH_CTES = """
WITH toks AS (
  SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> len(t) > 0)) AS t
  FROM documents WHERE text IS NOT NULL
),
h AS (SELECT doc_id, CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT) AS h
      FROM toks),
bits AS (
  SELECT doc_id, i.i,
         sum(CASE WHEN (h >> i.i) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM h CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS i) i
  GROUP BY doc_id, i.i
),
sigs AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN s >= 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)
              AS BIGINT) AS sig
  FROM bits GROUP BY doc_id
),
bands AS (
  SELECT doc_id, sig, b.b AS band_idx, (sig >> (8 * b.b)) & 255 AS band_key
  FROM sigs CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS b) b
),
cand AS (
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db,
         bit_count(xor(a.sig, b.sig)) AS hamming
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
)
"""

_SIMHASH_ORACLE = _SIMHASH_CTES + "SELECT da, db, hamming FROM cand WHERE hamming <= 6"


@query(
    "llm_dedup_simhash",
    "§2.11 SimHash near-dup (portable md5 token hash, oracle-checked)",
    _SIMHASH_ORACLE,
)
def llm_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash: per-doc token-hash ARRAYS built JVM-side with
    higher-order functions (transform/filter over split — no explode,
    no groupBy: the old explode→collect_list shape shuffled every
    token hash only to put them back into per-doc arrays; this is
    shuffle-free and partition-preserving end to end), then one
    Arrow-batched mapInPandas folds each array into the signature with
    numpy segment sums (np.add.reduceat — one vectorized pass, no
    per-bit bincount). Candidates block on 8 byte-bands (pigeonhole:
    any pair with hamming ≤ 7 shares a band), verified with exact
    bit_count(xor) ≤ 6. Round-6 upgrade: token hashes are md5-derived
    60-bit ints (the KMV portability trick — xxhash64's seeds are
    Spark-specific) so the ENTIRE pipeline is reproducible in the
    DuckDB oracle above, converting this from rows-only to a full
    value-hash check; bits 60-63 are structurally zero in both
    engines, so band and hamming semantics are unchanged.
    Deterministic; recall/property tests in tests/test_llm_ops.py."""
    sigs = _simhash_signatures(load(spark, sf_dir, "documents"))
    bands = _simhash_bands(sigs)
    bl = bands.alias("bl")
    br = bands.alias("br")
    return (
        bl.join(
            br,
            (F.col("bl.band_idx") == F.col("br.band_idx"))
            & (F.col("bl.band_key") == F.col("br.band_key"))
            & (F.col("bl.doc_id") < F.col("br.doc_id")),
        )
        .select(
            F.col("bl.doc_id").alias("da"),
            F.col("br.doc_id").alias("db"),
            F.bit_count(F.col("bl.simhash").bitwiseXOR(F.col("br.simhash"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= 6)
    )


def _simhash_signatures(d: DataFrame) -> DataFrame:
    """(doc_id, simhash) signatures of a documents DataFrame — the
    portable md5-token SimHash pipeline of llm_dedup_simhash, factored
    so the streaming near-dup path (stream_dedup_simhash) signs each
    micro-batch with the identical code. Checkpointed: every consumer
    references the signature subtree at least twice."""
    # Size partitions for the fold's ~10× in-memory expansion (the
    # (tokens × 64) int8 bit matrix) from actual input bytes; the
    # md5-per-token transform feeding the fold is µs-per-row JVM CPU,
    # so the core-width floor keeps it off a single task.
    npart = explode_partitions(d, factor=8)
    if npart > est_scan_partitions(d):
        d = d.repartition(npart, "doc_id")
    # NULL text would propagate through split/filter/transform to a
    # NULL hashes array and crash len() inside the fold — drop such
    # docs up front (the old explode path dropped them implicitly).
    hashed = d.filter(F.col("text").isNotNull()).select(
        "doc_id",
        F.expr(
            "transform(filter(split(text, ' '), t -> length(t) > 0),"
            " t -> cast(conv(substring(md5(cast(t AS BINARY)), 1, 15), 16, 10)"
            " AS BIGINT))"
        ).alias("hashes"),
    )

    def fold(batches):
        # vectorized across the WHOLE Arrow batch (one Python call per
        # batch, not per doc): flatten all token hashes, segment-sum
        # the ±1 bit contributions per (doc, bit) with reduceat, pack.
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            lens = pdf["hashes"].map(lambda h: 0 if h is None else len(h)).to_numpy()
            keep = lens > 0
            if not keep.all():
                pdf, lens = pdf[keep], lens[keep]
                if not len(pdf):
                    continue
            h_all = np.concatenate(pdf["hashes"].to_list()).astype(np.int64).view(np.uint64)
            shifts = np.arange(64, dtype=np.uint64)
            bits = ((h_all[:, None] >> shifts) & np.uint64(1)).astype(np.int8)
            contrib = bits * 2 - 1  # (tokens, 64) of ±1
            starts = np.r_[0, np.cumsum(lens)[:-1]]
            sums = np.add.reduceat(contrib, starts, axis=0, dtype=np.int64)
            packed = ((sums >= 0).astype(np.uint64) << shifts).sum(axis=1, dtype=np.uint64)
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].to_numpy(), "simhash": packed.view(np.int64)}
            )

    # Materialize the signatures before the band self-join: the join
    # references the signature subtree twice, and without a cut the
    # whole explode→groupBy→Python-fold pipeline runs once per branch
    # (two Python worker round-trips). Signatures are 16 bytes/doc —
    # at corpus scale this is "write the signature table once, self-join
    # the table", the same staging discipline as _shingle_index.
    return hashed.mapInPandas(fold, schema="doc_id long, simhash long").transform(
        lineage_checkpoint
    )


def _simhash_bands(sigs: DataFrame) -> DataFrame:
    """Explode a (doc_id, simhash) table into its 8 byte-wide band rows
    (doc_id, simhash, band_idx, band_key) — the blocking key: any pair
    with hamming ≤ 7 shares at least one band (pigeonhole)."""
    return sigs.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    (F.shiftrightunsigned("simhash", 8 * i).bitwiseAND(F.lit(255))).alias(f"b{i}")
                    for i in range(SIMHASH_BANDS)
                ]
            )
        ).alias("band_idx", "band_key"),
    )


def _min_label_components(pairs: DataFrame) -> DataFrame:
    """Connected components over an undirected pair list (da, db) via
    iterative min-label propagation → (node, label).

    Each node takes the min id among itself and its neighbors until
    fixpoint: O(diameter) joined rounds over the (tiny) edge list,
    localCheckpoint per round to truncate iteration lineage (at 100 TB:
    a reliable checkpoint dir, and the large-star/small-star variant
    keeps rounds logarithmic). Labels are monotonically non-increasing,
    so the loop terminates without an arbitrary round cap (ADVICE r1).
    """
    edges = pairs.union(pairs.select(F.col("db").alias("da"), F.col("da").alias("db")))
    labels = (
        edges.select(F.col("da").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .transform(lineage_checkpoint)
    )
    while True:
        neighbor_min = (
            edges.join(labels, edges.db == labels.node)
            .groupBy("da")
            .agg(F.min("label").alias("nmin"))
        )
        # Optimization r15 (guide §7.3 — per-round driver jobs are the
        # cost on a metadata-scale edge list): the changed flag rides
        # in the checkpointed frame (labels only ever decrease, so
        # nmin < label IS "this node changed"), making the convergence
        # probe a filter over already-checkpointed blocks instead of a
        # second join of new-vs-old labels per round.
        new_labels = (
            labels.join(neighbor_min, labels.node == neighbor_min.da, "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))).alias("label"),
                (F.coalesce(F.col("nmin"), F.col("label")) < F.col("label")).alias("_chg"),
            )
            .transform(lineage_checkpoint)
        )
        changed = (
            new_labels.filter(F.col("_chg"))
            .limit(1)  # convergence probe, not a result count
            .count()
        )
        labels = new_labels.drop("_chg")
        if changed == 0:
            break
    return labels


def _cluster_summary(labels: DataFrame) -> DataFrame:
    """(node, label) → one row per cluster: size, min-id survivor,
    sorted comma-joined members. Shared by the lexical and semantic
    dedup resolutions so survivor/member semantics cannot diverge."""
    return labels.groupBy("label").agg(
        F.count("*").alias("cluster_size"),
        F.min("node").alias("survivor"),
        F.array_join(F.sort_array(F.collect_list("node")), ",").alias("members"),
    )


DEDUP_CLUSTERS_ORACLE = """
WITH RECURSIVE
words AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
w AS (SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS i FROM words),
sh AS (SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS shingle
       FROM w a JOIN w b ON a.doc_id = b.doc_id AND b.i = a.i + 1
                JOIN w c ON a.doc_id = c.doc_id AND c.i = a.i + 2),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
common AS (SELECT x.doc_id AS da, y.doc_id AS db, count(*) AS c
           FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
           GROUP BY 1, 2),
pairs AS (
  SELECT da, db FROM common
  JOIN sizes sa ON sa.doc_id = da JOIN sizes sb ON sb.doc_id = db
  WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.8
),
edges AS (SELECT da, db FROM pairs UNION ALL SELECT db, da FROM pairs),
nodes AS (SELECT DISTINCT da AS doc_id FROM edges),
walkcc AS (
  SELECT doc_id, doc_id AS label FROM nodes
  UNION
  SELECT e.da AS doc_id, least(w.label, e.da) AS label
  FROM walkcc w JOIN edges e ON w.doc_id = e.db
),
final AS (SELECT doc_id, min(label) AS label FROM walkcc GROUP BY doc_id)
SELECT label, count(*) AS cluster_size, min(doc_id) AS survivor,
       string_agg(doc_id, ',' ORDER BY doc_id) AS members
FROM final GROUP BY label
"""


@query(
    "llm_dedup_clusters",
    "§2.11 duplicate clusters (connected components)",
    DEDUP_CLUSTERS_ORACLE,
)
def llm_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resolve near-dup PAIRS into duplicate CLUSTERS and pick one
    survivor per cluster — the step that turns detection into actual
    dedup. Connected components via iterative min-label propagation
    (each node takes the min doc_id among itself and neighbors until
    fixpoint): O(diameter) joined rounds, and dup clusters have tiny
    diameter in practice. At 100 TB use the same loop over a
    checkpointed edge list (the large-star/small-star variant keeps
    rounds logarithmic). Oracle: DuckDB WITH RECURSIVE min-label walk
    over the same exact-Jaccard pair set; also verified against a
    Python union-find in tests/test_llm_ops.py."""
    # the session-staged (already checkpointed) pair list — the
    # iteration runs on the tiny edge list, never re-deriving the LSH
    # pipeline per round or per consumer
    pairs = _minhash_pairs_staged(spark, sf_dir).select("da", "db")
    return _cluster_summary(_min_label_components(pairs))


COSINE_NEARDUP_THRESHOLD = 0.40


def _cosine_pairs_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The blocked-cosine pair pipeline (un-checkpointed): the producer
    query returns this directly so its plan stays legible and its
    timings honest; consumers stage it via _cosine_pairs_staged."""
    from spark_lineage_spark.operators.similarity import _parallel_corpus

    e = _parallel_corpus(spark, load(spark, sf_dir, "embeddings")).select(
        "vec_id", "label", to_double_array("embedding").alias("emb")
    )
    # broadcast the build side: a 10-key label join would cap
    # parallelism at 10 skewed tasks; map-side BHJ keeps every corpus
    # partition busy computing cosines
    a, b = e.alias("a"), F.broadcast(e.alias("b"))
    return (
        a.join(b, (F.col("a.label") == F.col("b.label")) & (F.col("a.vec_id") < F.col("b.vec_id")))
        .select(
            F.col("a.vec_id").alias("va"),
            F.col("b.vec_id").alias("vb"),
            F.col("a.label").alias("label"),
            F.round(cosine(F.col("a.emb"), F.col("b.emb")), 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= COSINE_NEARDUP_THRESHOLD)
    )


def _cosine_pairs_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-staged (checkpointed) cosine pair list for CONSUMER
    queries (llm_semantic_dedup): one blocked cosine pass per
    (session, sf)."""
    return staged_frame(
        spark, ("cosine_pairs", sf_dir),
        lambda: _cosine_pairs_raw(spark, sf_dir).transform(lineage_checkpoint),
    )



@query(
    "llm_dedup_embedding_cosine",
    "§2.11 embedding-cosine near-dup (label-blocked)",
    f"""
    WITH e AS (SELECT vec_id, label,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
               FROM embeddings)
    SELECT a.vec_id AS va, b.vec_id AS vb, a.label,
           round(list_cosine_similarity(a.emb, b.emb), 6) AS cos_sim
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(a.emb, b.emb), 6) >= {COSINE_NEARDUP_THRESHOLD}
    """,
)
def llm_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup with label blocking (stand-in for an LSH
    bucket key at 100 TB — same join shape: equi-join on the block,
    cosine only within blocks). Cosine computed in float64 via
    zip_with/aggregate, rounded BEFORE thresholding so both engines
    cut identically. llm_semantic_dedup consumes the same pipeline via
    the session-staged checkpoint (_cosine_pairs_staged)."""
    return _cosine_pairs_raw(spark, sf_dir)


DECONTAMINATE_ORACLE = """
WITH words AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
w AS (SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS i FROM words),
sh5 AS (SELECT DISTINCT a.doc_id,
               a.w || ' ' || b.w || ' ' || c.w || ' ' || d.w || ' ' || e.w AS s
        FROM w a
        JOIN w b ON a.doc_id = b.doc_id AND b.i = a.i + 1
        JOIN w c ON a.doc_id = c.doc_id AND c.i = a.i + 2
        JOIN w d ON a.doc_id = d.doc_id AND d.i = a.i + 3
        JOIN w e ON a.doc_id = e.doc_id AND e.i = a.i + 4),
bench AS (SELECT DISTINCT s FROM sh5 WHERE doc_id < 20),
corpus AS (SELECT doc_id, s FROM sh5 WHERE doc_id >= 20)
SELECT c.doc_id, count(DISTINCT c.s) AS n_shared
FROM corpus c JOIN bench b ON c.s = b.s
GROUP BY c.doc_id
"""


@query(
    "llm_decontaminate_benchmark",
    "§2.11 benchmark decontamination (5-gram overlap vs held-out set)",
    DECONTAMINATE_ORACLE,
)
def llm_decontaminate_benchmark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing any 5-gram
    with a held-out benchmark set (here: doc_id < 20 stands in for the
    benchmark). The benchmark n-gram set is SMALL by construction —
    broadcast it; the corpus side streams map-side through the semi
    overlap join, so the corpus is never shuffled no matter its size.
    Same df-cap caveat as dedup does NOT apply: every benchmark n-gram
    must be checked, however frequent."""
    d = load(spark, sf_dir, "documents")

    def sh5(df) -> DataFrame:
        # explode-sizing rule: the single-file corpus scan otherwise
        # runs the tokenize+5-gram explode in ONE task
        npart = explode_partitions(df)
        if npart > 1:
            df = df.repartition(npart, "doc_id")
        return (
            df.select("doc_id", F.explode(word_shingles(F.col("text"), 5)).alias("s"))
            .filter(F.length("s") > 0)
            .distinct()
        )

    bench = sh5(d.filter(F.col("doc_id") < 20)).select("s").distinct()
    corpus = sh5(d.filter(F.col("doc_id") >= 20))
    return (
        corpus.join(F.broadcast(bench), "s")
        .groupBy("doc_id")
        .agg(F.countDistinct("s").alias("n_shared"))
    )


@query(
    "llm_dedup_edit_distance",
    "§2.11 edit-distance near-dup (length/lang-blocked Levenshtein)",
    """
    SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
           levenshtein(a.text, b.text) AS lev
    FROM documents a JOIN documents b
      ON a.lang = b.lang AND a.doc_id < b.doc_id
     AND abs(a.n_chars - b.n_chars) <= 10
    WHERE levenshtein(a.text, b.text) <= 20
    """,
)
def llm_dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levenshtein near-dup with two-level blocking so the quadratic
    edit-distance DP only runs on plausible pairs: (1) equi-join block
    key (lang, 16-char length bucket) — each doc emits buckets
    {b, b+1}, which provably covers every pair within the 10-char
    length gate since 10 < 16; (2) the cheap |len_a - len_b| <= 10
    filter (a lower bound on edit distance) before the expensive
    F.levenshtein, which runs JVM-side in codegen.

    At sf0.01 blocking admits ~1.1% of all pairs. At 100 TB the block
    key keeps candidate generation an equi-join (no all-pairs); a hot
    (lang, length) bucket is bounded by a df-cap the same way
    _distinct_shingles caps hot shingles. The oracle is the unblocked
    predicate form — blocking must only prune, never change results.
    """
    d = load(spark, sf_dir, "documents")
    # Optimization r14 (guide §8 — decide with small rows, move big
    # rows once): candidate generation previously carried BOTH texts
    # through the block join, the pair dedup and the DP-spread
    # repartition — the document payload crossed three exchanges,
    # duplicated per candidate pair (~hundreds of MB at sf0.1 for a
    # ~140k-pair candidate set). Candidates are now formed on
    # (doc_id, lang, block, n_chars) METADATA only; the texts attach
    # afterwards via two joins against the slim (doc_id, text)
    # projection — each document's bytes move once, and only for docs
    # that appear in candidates (AQE broadcasts the text side when
    # small; at scale it is one doc_id-keyed shuffle of the corpus).
    meta = d.select("doc_id", "lang", "n_chars")
    width = 16
    blocked = meta.withColumn(
        "block",
        F.explode(
            F.array(
                F.floor(F.col("n_chars") / width),
                F.floor(F.col("n_chars") / width) + 1,
            )
        ),
    )
    a, b = blocked.alias("a"), blocked.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.block") == F.col("b.block"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.abs(F.col("a.n_chars") - F.col("b.n_chars")) <= 10),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
        )
        .dropDuplicates(["doc_id_a", "doc_id_b"])  # {b,b+1} double-match
    )
    # The DP stage is CPU-bound, not byte-bound: AQE sizes post-join
    # partitions by bytes and would happily coalesce ~100k small ID
    # rows onto one core, serializing the expensive part — and a
    # repartition on the SAME keys as the dedup exchange is optimized
    # away as redundant, so spread on doc_id_a alone (a different
    # partitioning, kept as REPARTITION_BY_NUM which AQE never
    # coalesces; the broadcast text-attach joins preserve it). The
    # bounded levenshtein (banded DP, O(len*threshold) not O(len^2))
    # returns -1 past the threshold, so `0 <= lev <= 20` selects
    # exactly the pairs the unbounded oracle keeps.
    cand = cand.repartition(spark.sparkContext.defaultParallelism, "doc_id_a")
    texts = d.select("doc_id", "text")
    paired = (
        cand.join(
            texts.select(
                F.col("doc_id").alias("doc_id_a"), F.col("text").alias("text_a")
            ),
            "doc_id_a",
        )
        .join(
            texts.select(
                F.col("doc_id").alias("doc_id_b"), F.col("text").alias("text_b")
            ),
            "doc_id_b",
        )
    )
    # Materialization barrier before the filter: otherwise the lev
    # predicate is pushed into the attach join's condition and the DP
    # runs 3× per candidate (twice in the condition, once in the
    # projection — seen in the physical plan). The checkpoint stores
    # one (ids, lev) row per candidate, so each pair pays the DP once.
    scored = lineage_checkpoint(
        paired.select(
            "doc_id_a", "doc_id_b", F.levenshtein("text_a", "text_b", 20).alias("lev")
        ),
        eager=False,
    )
    return scored.filter((F.col("lev") >= 0) & (F.col("lev") <= 20))


@query(
    "llm_dedup_containment",
    "§2.11 substring-containment dedup (doc fully inside another doc)",
    """
    SELECT a.doc_id AS contained, b.doc_id AS container
    FROM documents a JOIN documents b
      ON a.doc_id <> b.doc_id
     AND contains(b.text, a.text)
     AND (len(a.text) < len(b.text)
          OR (a.text = b.text AND a.doc_id > b.doc_id))
    """,
)
def llm_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment dedup: documents whose entire text occurs inside a
    longer document (quote-reuse / page-wrapping duplication; exact
    duplicates count, with the higher doc_id as the contained copy).

    Not an O(n²) contains() join — and not even an all-common-pairs
    count: the prefix-filter from set-similarity joins. A contained
    document (≥3 tokens on token boundaries) necessarily has ALL its
    3-gram shingles in the container — in particular its RAREST one
    (global min document frequency, shingle-string tie-break). So each
    doc probes the inverted index with exactly ONE shingle: candidates
    per doc ≈ df(rarest shingle), the smallest obtainable blocking
    set, and the join is linear in the index instead of producing a
    count row for every co-shingle pair. contains() then verifies the
    exact predicate (sub-token-boundary containment is out of
    contract; the oracle's brute-force join agrees on the word-soup
    fixture). Shares the session-staged _shingle_index; the df cap can
    only drop a doc's probe if EVERY shingle it has is capped-hot —
    strictly rarer than the all-shingles variant's exposure."""
    sh = _shingle_index(spark, sf_dir)
    df_counts = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    sh_df = sh.join(df_counts, "shingle")
    rarest = sh_df.groupBy("doc_id").agg(
        F.min_by("shingle", F.struct("df", "shingle")).alias("shingle")
    )
    cand = (
        rarest.alias("a")
        .join(sh.alias("b"), "shingle")
        .filter(F.col("a.doc_id") != F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
    )
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = (
        cand.join(d.alias("ta"), F.col("da") == F.col("ta.doc_id"))
        .join(d.alias("tb"), F.col("db") == F.col("tb.doc_id"))
        .filter(
            F.contains(F.col("tb.text"), F.col("ta.text"))
            & (
                (F.length("ta.text") < F.length("tb.text"))
                | (
                    (F.col("ta.text") == F.col("tb.text"))
                    & (F.col("da") > F.col("db"))
                )
            )
        )
    )
    return pairs.select(F.col("da").alias("contained"), F.col("db").alias("container"))


@query(
    "llm_dedup_cross_corpus",
    "§2.11 cross-source near-dup detection (directional corpus overlap)",
    f"""
    WITH pairs AS ({NGRAM_JACCARD_ORACLE}),
    d AS (SELECT doc_id, source FROM documents)
    SELECT da, sa.source AS source_a, db, sb.source AS source_b, jaccard
    FROM pairs
    JOIN d sa ON sa.doc_id = da
    JOIN d sb ON sb.doc_id = db
    WHERE sa.source <> sb.source
    """,
)
def llm_dedup_cross_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus contamination check: near-dup pairs (exact 3-gram
    Jaccard ≥ 0.8) whose two sides come from DIFFERENT sources — the
    'is crawl B re-serving corpus A' question asked before adding a new
    source to a training mixture. Reuses the session-staged shingle
    index and the same inverted-index candidate shape; the per-doc
    source lookup is a join against the (doc_id, source) projection,
    tiny next to the pair generation."""
    pairs = _jaccard_pairs(spark, sf_dir)
    d = load(spark, sf_dir, "documents").select("doc_id", "source")
    sa, sb = d.alias("sa"), d.alias("sb")
    return (
        pairs.join(sa, F.col("da") == F.col("sa.doc_id"))
        .join(sb, F.col("db") == F.col("sb.doc_id"))
        .filter(F.col("sa.source") != F.col("sb.source"))
        .select(
            "da",
            F.col("sa.source").alias("source_a"),
            "db",
            F.col("sb.source").alias("source_b"),
            "jaccard",
        )
    )


SWEEP_THRESHOLDS = [0.5, 0.6, 0.7, 0.8, 0.9]


@query(
    "llm_dedup_threshold_sweep",
    "§2.11 near-dup threshold sweep (dedup-rate tuning curve)",
    f"""
    WITH pairs AS ({NGRAM_JACCARD_ORACLE.replace(">= 0.8", ">= 0.5")}),
    t AS (SELECT unnest([{", ".join(str(t) for t in SWEEP_THRESHOLDS)}]) AS threshold)
    SELECT threshold,
           count(jaccard) AS n_pairs,
           count(DISTINCT db) AS n_docs_dropped
    FROM t LEFT JOIN pairs ON jaccard >= threshold
    GROUP BY threshold
    """,
)
def llm_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup-tuning curve: for each candidate Jaccard threshold,
    how many pairs fire and how many docs would be dropped (survivor =
    lower doc_id, victim = higher). ONE pass builds the pair list at
    the loosest threshold; the sweep is then a 5-row broadcast
    theta-join over the (tiny) pair list — the expensive candidate
    generation is never repeated per threshold. n_pairs counts the
    non-null jaccard values (count(jaccard), BOTH engines — a bare
    count(*) would count the null-extended left-join row as 1 when a
    threshold fires nothing)."""
    pairs = _jaccard_pairs(spark, sf_dir, threshold=0.5)
    t = pairs.sparkSession.createDataFrame(
        [(t,) for t in SWEEP_THRESHOLDS], "threshold double"
    )
    return (
        F.broadcast(t)
        .join(pairs, F.col("jaccard") >= F.col("threshold"), "left")
        .groupBy("threshold")
        .agg(
            F.count("jaccard").alias("n_pairs"),
            F.countDistinct("db").alias("n_docs_dropped"),
        )
    )


@query(
    "llm_dedup_keep_best",
    "§2.11 canonical representative selection after exact dedup",
    """
    WITH ranked AS (
      SELECT doc_id, source, n_chars,
             row_number() OVER (PARTITION BY md5(text)
                                ORDER BY n_chars DESC, doc_id) AS rn
      FROM documents)
    SELECT source,
           CAST(count(CASE WHEN rn = 1 THEN 1 END) AS BIGINT) AS n_kept,
           CAST(count(CASE WHEN rn > 1 THEN 1 END) AS BIGINT) AS n_dropped,
           CAST(sum(CASE WHEN rn = 1 THEN n_chars END) AS BIGINT) AS kept_chars
    FROM ranked GROUP BY source
    """,
)
def llm_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The selection step AFTER duplicate detection: inside each
    exact-duplicate group keep ONE canonical copy — the longest
    document, ties to the lowest doc_id (real pipelines rank by
    quality score; n_chars is the fixture's stand-in). One shuffle on
    the content hash, rank, then per-source keep/drop accounting.
    md5 is used (not sha2) because it exists in BOTH engines with
    identical output — the hash only needs to group, not to be
    cryptographic."""
    d = load(spark, sf_dir, "documents").select("doc_id", "source", "n_chars", "text")
    w = Window.partitionBy(F.md5("text")).orderBy(F.desc("n_chars"), "doc_id")
    ranked = d.withColumn("rn", F.row_number().over(w))
    return ranked.groupBy("source").agg(
        F.count(F.when(F.col("rn") == 1, 1)).alias("n_kept"),
        F.count(F.when(F.col("rn") > 1, 1)).alias("n_dropped"),
        F.sum(F.when(F.col("rn") == 1, F.col("n_chars"))).cast("bigint").alias("kept_chars"),
    )


SEMANTIC_DEDUP_ORACLE = f"""
WITH RECURSIVE
e AS (SELECT vec_id, label AS blk,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings),
pairs AS (
  SELECT a.vec_id AS va, b.vec_id AS vb
  FROM e a JOIN e b ON a.blk = b.blk AND a.vec_id < b.vec_id
  WHERE round(list_cosine_similarity(a.emb, b.emb), 6) >= {COSINE_NEARDUP_THRESHOLD}
),
edges AS (SELECT va, vb FROM pairs UNION ALL SELECT vb, va FROM pairs),
nodes AS (SELECT DISTINCT va AS vec_id FROM edges),
walkcc AS (
  SELECT vec_id, vec_id AS label FROM nodes
  UNION
  SELECT e.va AS vec_id, least(w.label, e.va) AS label
  FROM walkcc w JOIN edges e ON w.vec_id = e.vb
),
final AS (SELECT vec_id, min(label) AS label FROM walkcc GROUP BY vec_id)
SELECT label AS cluster_label, count(*) AS cluster_size, min(vec_id) AS survivor,
       string_agg(vec_id, ',' ORDER BY vec_id) AS members
FROM final GROUP BY label
"""


@query(
    "llm_semantic_dedup",
    "§2.11 semantic dedup (components over embedding-cosine pairs, one survivor each)",
    SEMANTIC_DEDUP_ORACLE,
)
def llm_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shaped semantic dedup: cosine near-dup PAIRS (block-
    keyed — the label column stands in for the coarse cluster a real
    pipeline gets from k-means at scale) resolved into semantic
    CLUSTERS with one survivor per cluster. Reuses the same min-label
    component fixpoint as the lexical dedup path — detection method
    changes, the resolution machinery doesn't. Oracle: DuckDB
    WITH RECURSIVE min-label walk over the identical pair predicate."""
    pairs = _cosine_pairs_staged(spark, sf_dir).select(
        F.col("va").alias("da"), F.col("vb").alias("db")
    )
    return _cluster_summary(_min_label_components(pairs)).select(
        F.col("label").alias("cluster_label"), "cluster_size", "survivor", "members"
    )


@query(
    "llm_dedup_incremental",
    "§2.11 incremental dedup (new batch vs corpus — daily-ingest shape)",
    f"""
    WITH pairs AS ({NGRAM_JACCARD_ORACLE})
    SELECT da, db, jaccard FROM pairs
    WHERE da % 10 = 0 OR db % 10 = 0
    """,
)
def llm_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production ingest shape: dedup a NEW batch (stand-in: docs
    with doc_id % 10 = 0) against the existing corpus AND itself,
    WITHOUT re-deduping corpus-vs-corpus. Asymmetric prefix filter:
    only the new docs' rarity-ordered prefixes probe the full inverted
    index — any qualifying pair has a common prefix element on both
    sides (prefix-filter theorem), and a common element of the new
    side's prefix is in the other doc's full shingle set, so recall
    stays exactly 1 while candidate generation scales with the BATCH,
    not the corpus². The candidate pair carries ≥1 new doc by
    construction; exact verification is the shared stage."""
    sh = _shingle_index(spark, sf_dir)
    new_sh = sh.filter(F.col("doc_id") % 10 == 0)
    # _rarity_prefixes derives df/sizes from the FULL index (both sides
    # of a pair must compute prefixes against the same global order)
    # while only the batch emits prefix rows
    pref_new = _rarity_prefixes(sh, JACCARD_THRESHOLD, probe=new_sh).select(
        F.col("doc_id").alias("new_id"), "shingle"
    )
    candidates = (
        pref_new.join(sh, "shingle")
        .filter(F.col("new_id") != F.col("doc_id"))
        .select(
            F.least("new_id", "doc_id").alias("da"),
            F.greatest("new_id", "doc_id").alias("db"),
        )
        .distinct()
        .transform(_stage_candidates)  # read 3× by the verify stage
    )
    return _verify_exact_jaccard(sh, candidates, JACCARD_THRESHOLD)


@query(
    "llm_dedup_persistent_index",
    "§2.11 persisted dedup index (bucketed MinHash band table, probed by a new batch)",
    f"""
    WITH pairs AS ({NGRAM_JACCARD_ORACLE})
    SELECT da, db, jaccard FROM pairs
    WHERE da % 10 = 0 OR db % 10 = 0
    """,
)
def llm_dedup_persistent_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Productionized llm_dedup_incremental: the corpus's MinHash BAND
    SIGNATURES (doc_id, band_idx, band_hash — _band_signatures, the
    identical rows the in-session LSH path builds) are PERSISTED as a
    table bucketed by the probe join key (band_idx, band_hash), and
    each new batch (stand-in: doc_id % 10 = 0) probes that table
    instead of recomputing corpus signatures. The daily-ingest cost
    model at 100 TB: signature computation + the bucketing shuffle are
    paid ONCE at index build; a probe job shuffles only the new
    batch's band rows to the bucket layout — the corpus index is read
    in place with no exchange (bucketed scan), and candidate volume is
    bounded by band collisions exactly as in llm_dedup_minhash_lsh.
    New-vs-new duplicates come from a self-join of the (tiny) batch
    band rows; union of both candidate sets goes through the shared
    exact-Jaccard verification, so false positives are impossible and
    the output equals the recomputed-from-scratch incremental result
    (byte-identical equality with llm_dedup_incremental's pair set is
    asserted in tests/test_llm_ops.py; banding recall caveat as in
    llm_dedup_minhash_lsh). The index is staged once per (app, sf_dir)
    as a pid-scoped warehouse table (spark_lineage_spark.staging)."""
    sh = _shingle_index(spark, sf_dir)

    def stage() -> DataFrame:
        t_index = scratch_table(spark, "mhidx", sf_dir)
        _band_signatures(sh.filter(F.col("doc_id") % 10 != 0)).write.bucketBy(
            8, "band_idx", "band_hash"
        ).sortBy("band_idx", "band_hash").mode("overwrite").saveAsTable(t_index)
        return spark.table(t_index)

    index = staged_frame(spark, ("mhidx", sf_dir), stage)

    new_bands = _band_signatures(sh.filter(F.col("doc_id") % 10 == 0))
    # batch probes the persisted index: equi-join on the bucket key —
    # only the batch side shuffles into the index's bucket layout
    p = new_bands.alias("p")
    i = index.alias("i")
    vs_corpus = p.join(i, ["band_idx", "band_hash"]).select(
        F.least(F.col("p.doc_id"), F.col("i.doc_id")).alias("da"),
        F.greatest(F.col("p.doc_id"), F.col("i.doc_id")).alias("db"),
    )
    # new-vs-new: self-join of the tiny batch band rows
    a = new_bands.alias("a")
    b = new_bands.alias("b")
    vs_self = a.join(
        b,
        (F.col("a.band_idx") == F.col("b.band_idx"))
        & (F.col("a.band_hash") == F.col("b.band_hash"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
    candidates = (
        vs_corpus.unionByName(vs_self)
        .distinct()
        .transform(_stage_candidates)  # read 3x by the verify stage
    )
    return _verify_exact_jaccard(sh, candidates, JACCARD_THRESHOLD)


# (bands, rows) configurations over the same 32-permutation budget —
# the S-curve knob: more rows per band sharpens the curve (fewer false
# candidates), more bands raises recall at the target similarity.
BAND_SWEEP_CONFIGS = [(32, 1), (16, 2), (8, 4), (4, 8)]

_BAND_SWEEP_ORACLE = f"""
WITH pairs AS ({NGRAM_JACCARD_ORACLE.replace(">= 0.8", ">= 0.5")}),
cfg AS (
  SELECT * FROM (VALUES {", ".join(f"({b}, {r}, {round((1 - 0.5 ** (1 / b)) ** (1 / r), 6)})" for b, r in BAND_SWEEP_CONFIGS)})
       AS t(bands, rows_per_band, s50)
),
scored AS (
  SELECT bands, rows_per_band, s50, jaccard,
         CAST(round(1 - power(1 - power(jaccard, rows_per_band), bands), 3)
              AS DECIMAL(10,3)) AS pr
  FROM cfg CROSS JOIN pairs
)
SELECT bands, rows_per_band, s50,
       count(*) AS n_pairs,
       round(CAST(sum(pr) AS DOUBLE), 3) AS exp_candidates,
       round(CAST(sum(CASE WHEN jaccard >= 0.8 THEN pr END) AS DOUBLE)
             / count(CASE WHEN jaccard >= 0.8 THEN 1 END), 4) AS recall_at_08,
       count(CASE WHEN jaccard >= 0.8 THEN 1 END) AS n_pairs_08
FROM scored
GROUP BY bands, rows_per_band, s50
"""


@query(
    "llm_minhash_band_sweep",
    "§2.11 MinHash banding parameter sweep (the LSH S-curve, exact expectation)",
    _BAND_SWEEP_ORACLE,
)
def llm_minhash_band_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tuning table behind llm_dedup_minhash_lsh's 8x4 choice: for
    every (bands b, rows r) split of the 32-permutation budget, the
    collision probability of a pair with Jaccard s is the S-curve
    p = 1-(1-s^r)^b. Evaluating it over the corpus's ACTUAL >=0.5
    pair-similarity distribution (exact Jaccard from the prefix-filter
    path — computed once, 4-row config side broadcast over it) gives
    expected candidate volume and expected recall at the 0.8 target
    per config, plus each curve's midpoint s50 = (1-0.5^(1/b))^(1/r)
    (a Python-computed literal, identical in both engines). This is
    the expectation the MinHash signatures CONVERGE to — it is
    hash-free, so unlike the signature path it is exactly
    oracle-checkable.

    Per-pair probabilities round to decimal(10,3) BEFORE summing, so
    the aggregate is an exact decimal sum — a 1-ulp pow() difference
    between engines cannot surface, and neither can float accumulation
    order. The expensive stage (pair generation) is one pass; the
    sweep itself is a broadcast theta-free cross of 4 config rows
    (the llm_dedup_threshold_sweep pattern)."""
    pairs = _jaccard_pairs(spark, sf_dir, threshold=0.5)
    cfg = spark.createDataFrame(
        [
            (b, r, round((1 - 0.5 ** (1 / b)) ** (1 / r), 6))
            for b, r in BAND_SWEEP_CONFIGS
        ],
        "bands int, rows_per_band int, s50 double",
    )
    pr = F.round(
        1 - F.pow(1 - F.pow(F.col("jaccard"), F.col("rows_per_band")), F.col("bands")),
        3,
    ).cast("decimal(10,3)")
    hi = F.col("jaccard") >= 0.8
    return (
        F.broadcast(cfg)
        .crossJoin(pairs)  # 4-row config side, broadcast nested loop
        .withColumn("pr", pr)
        .groupBy("bands", "rows_per_band", "s50")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.sum("pr").cast("double"), 3).alias("exp_candidates"),
            F.round(
                F.sum(F.when(hi, F.col("pr"))).cast("double")
                / F.count(F.when(hi, F.lit(1))),
                4,
            ).alias("recall_at_08"),
            F.count(F.when(hi, F.lit(1))).alias("n_pairs_08"),
        )
    )


@query(
    "llm_dedup_index_compaction",
    "§2.11 dedup-index compaction (daily band-row deltas merged into the bucketed base)",
    f"""
    WITH pairs AS ({NGRAM_JACCARD_ORACLE})
    SELECT da, db, jaccard FROM pairs
    """,
)
def llm_dedup_index_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The maintenance job llm_dedup_persistent_index's design implies
    but never runs: daily ingest appends SMALL UNBUCKETED band-row
    deltas next to the bucketed base index (appending straight into
    bucket files from a tiny batch would write 8 near-empty files per
    day and rot the layout); a periodic COMPACTION folds base + deltas
    into a fresh bucketed table so probe joins stay exchange-free on
    the index side. Staged here as base = 90% of the corpus (bucketed
    on (band_idx, band_hash)), two daily deltas (doc_id%20 ∈ {{0,10}},
    plain tables), then one union→bucketBy rewrite — the same shape as
    Delta/Iceberg OPTIMIZE. The proof of equivalence IS the result:
    near-dup pairs computed from the COMPACTED TABLE ALONE (bucketed
    self-join on the band key — no exchange on either side — then the
    shared exact-Jaccard verification) equal the full-corpus LSH
    answer, so the oracle is llm_dedup_minhash_lsh's corpus-wide
    NGRAM_JACCARD_ORACLE unchanged. Banding recall caveat as there."""
    sh = _shingle_index(spark, sf_dir)

    def stage() -> DataFrame:
        t_base, t_d0, t_d1, t_comp = (
            scratch_table(spark, tag, sf_dir) for tag in ("mhcb", "mhcd0", "mhcd1", "mhcc")
        )
        _band_signatures(sh.filter(F.col("doc_id") % 10 != 0)).write.bucketBy(
            8, "band_idx", "band_hash"
        ).sortBy("band_idx", "band_hash").saveAsTable(t_base)
        _band_signatures(sh.filter(F.col("doc_id") % 20 == 0)).write.saveAsTable(t_d0)
        _band_signatures(sh.filter(F.col("doc_id") % 20 == 10)).write.saveAsTable(t_d1)
        # the compaction job proper: base ∪ deltas → fresh bucketed table
        spark.table(t_base).unionByName(spark.table(t_d0)).unionByName(
            spark.table(t_d1)
        ).write.bucketBy(8, "band_idx", "band_hash").sortBy(
            "band_idx", "band_hash"
        ).saveAsTable(t_comp)
        return spark.table(t_comp)

    comp = staged_frame(spark, ("mhcc", sf_dir), stage)
    a, b = comp.alias("a"), comp.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
        .distinct()
        .transform(_stage_candidates)
    )
    return _verify_exact_jaccard(sh, candidates, JACCARD_THRESHOLD)


@query(
    "llm_dedup_bloom_prefilter",
    "§2.11 Bloom-prefiltered incremental exact dedup (bitmap built in-plan, broadcast probe)",
    """
    WITH corpus AS (
      SELECT md5(text) AS h FROM documents WHERE doc_id % 10 != 0
    ), batch AS (
      SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 10 = 0
    ), cpos AS (
      SELECT DISTINCT pos FROM (
        SELECT CAST(concat('0x', substr(h, 1, 15)) AS BIGINT) % 65536 AS pos FROM corpus
        UNION ALL
        SELECT CAST(concat('0x', substr(h, 16, 15)) AS BIGINT) % 65536 AS pos FROM corpus
      )
    ), words AS (
      SELECT pos // 63 AS bucket,
             bit_or(CAST(1 AS BIGINT) << CAST(pos % 63 AS INT)) AS word
      FROM cpos GROUP BY 1
    ), probed AS (
      SELECT b.doc_id, b.h,
             CAST(concat('0x', substr(b.h, 1, 15)) AS BIGINT) % 65536 AS p1,
             CAST(concat('0x', substr(b.h, 16, 15)) AS BIGINT) % 65536 AS p2
      FROM batch b
    ), flagged AS (
      SELECT doc_id, h,
             COALESCE((SELECT (w.word >> CAST(p1 % 63 AS INT)) & 1
                       FROM words w WHERE w.bucket = p1 // 63), 0) = 1
             AND
             COALESCE((SELECT (w.word >> CAST(p2 % 63 AS INT)) & 1
                       FROM words w WHERE w.bucket = p2 // 63), 0) = 1 AS bloom_hit,
             EXISTS (SELECT 1 FROM corpus c WHERE c.h = probed.h) AS confirmed
      FROM probed
    )
    SELECT count(*) AS n_batch,
           CAST(sum(CASE WHEN bloom_hit THEN 1 ELSE 0 END) AS BIGINT) AS bloom_hits,
           CAST(sum(CASE WHEN confirmed THEN 1 ELSE 0 END) AS BIGINT) AS confirmed_dups,
           CAST(sum(CASE WHEN bloom_hit AND NOT confirmed THEN 1 ELSE 0 END) AS BIGINT)
             AS false_positives,
           (SELECT CAST(sum(bit_count(word)) AS BIGINT) FROM words) AS bits_set
    FROM flagged
    """,
)
def llm_dedup_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production accelerator in front of llm_dedup_incremental's
    exact-hash path: a REAL Bloom bitmap (m=65536 bits in 63-bit words (1041 longs; 63 not 64 keeps the max shift at 62, inside BOTH engines' checked signed-shift range),
    j=2 hash functions from disjoint md5 halves) built IN-PLAN from
    the corpus content hashes — explode to bit positions, map-side
    bit_or partials per 64-bit word — then BROADCAST so every new-
    batch row tests membership with two word lookups and bit masks,
    no corpus-side shuffle at all. Only bloom-positive rows reach the
    exact confirm join (bloom guarantees no false negatives; the
    false_positives column measures the price of the 8 KiB bitmap; size m at ~1.44*j*n bits per
    target FP rate as the corpus grows — a saturated bitmap degrades
    to probe-everything, never to wrong answers).
    At 100 TB the corpus never re-shuffles for a daily batch: the
    bitmap is a tiny mergeable aggregate (bit_or is associative —
    per-partition words OR together), exactly how Spark's own runtime
    bloom pruning works, here made explicit and cross-engine checked
    bit-for-bit against DuckDB's replica of the same bitmap."""
    docs = load(spark, sf_dir, "documents").select("doc_id", F.md5("text").alias("h"))
    corpus = docs.filter(F.col("doc_id") % 10 != 0).select("h")
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    pos1 = F.conv(F.substring("h", 1, 15), 16, 10).cast("bigint") % 65536
    pos2 = F.conv(F.substring("h", 16, 15), 16, 10).cast("bigint") % 65536
    words = (
        corpus.select(F.explode(F.array(pos1.alias("p"), pos2.alias("p"))).alias("pos"))
        .distinct()
        .groupBy(F.expr("pos div 63").alias("bucket"))
        .agg(F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(pos % 63 AS INT)))").alias("word"))
        .transform(lineage_checkpoint)  # read twice (probe join + bits_set)
    )
    probed = batch.select("doc_id", "h", pos1.alias("p1"), pos2.alias("p2"))
    w1 = words.select(F.col("bucket").alias("b1"), F.col("word").alias("word1"))
    w2 = words.select(F.col("bucket").alias("b2"), F.col("word").alias("word2"))
    corpus_dedup = corpus.distinct().withColumn("in_corpus", F.lit(True))
    flagged = (
        probed.join(F.broadcast(w1), F.expr("p1 div 63") == F.col("b1"), "left")
        .join(F.broadcast(w2), F.expr("p2 div 63") == F.col("b2"), "left")
        .join(corpus_dedup, "h", "left")
        .select(
            "doc_id",
            (
                F.coalesce(
                    F.expr("(shiftright(word1, CAST(p1 % 63 AS INT)) & 1)"), F.lit(0)
                )
                == 1
            ).alias("g1"),
            (
                F.coalesce(
                    F.expr("(shiftright(word2, CAST(p2 % 63 AS INT)) & 1)"), F.lit(0)
                )
                == 1
            ).alias("g2"),
            F.coalesce(F.col("in_corpus"), F.lit(False)).alias("confirmed"),
        )
        .select("doc_id", (F.col("g1") & F.col("g2")).alias("bloom_hit"), "confirmed")
    )
    bits = words.agg(F.sum(F.expr("bit_count(word)")).cast("bigint").alias("bits_set"))
    return (
        flagged.agg(
            F.count("*").alias("n_batch"),
            F.sum(F.when(F.col("bloom_hit"), 1).otherwise(0)).cast("bigint").alias("bloom_hits"),
            F.sum(F.when(F.col("confirmed"), 1).otherwise(0)).cast("bigint").alias("confirmed_dups"),
            F.sum(F.when(F.col("bloom_hit") & ~F.col("confirmed"), 1).otherwise(0))
            .cast("bigint")
            .alias("false_positives"),
        )
        .crossJoin(F.broadcast(bits))
    )


CONTAINMENT_THRESHOLD = 0.6

CONTAINMENT_ORACLE = """
WITH words AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
w AS (SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS i FROM words),
sh AS (SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS shingle
       FROM w a
       JOIN w b ON a.doc_id = b.doc_id AND b.i = a.i + 1
       JOIN w c ON a.doc_id = c.doc_id AND c.i = a.i + 2),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
common AS (SELECT x.doc_id AS da, y.doc_id AS db, count(*) AS c
           FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
           GROUP BY 1, 2)
SELECT da, db,
       round(c * 1.0 / sa.n, 6) AS cont_a_in_b,
       round(c * 1.0 / sb.n, 6) AS cont_b_in_a
FROM common
JOIN sizes sa ON sa.doc_id = da
JOIN sizes sb ON sb.doc_id = db
WHERE c * 1.0 / sa.n >= 0.6 OR c * 1.0 / sb.n >= 0.6
"""


@query(
    "llm_dedup_set_containment",
    "§2.20 Jaccard CONTAINMENT near-dup (sub-document inclusion detection)",
    CONTAINMENT_ORACLE,
)
def llm_dedup_set_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment C(A,B) = |A∩B| / |A| over 3-gram shingle
    sets — the sub-document duplication detector resemblance misses:
    a 50-word excerpt quoted inside a 400-word page has Jaccard ~0.12
    (invisible at any sane threshold) but containment ~1.0 in the
    excerpt->page direction.  Complements llm_dedup_containment, the
    EXACT substring variant: set containment fires on paraphrased /
    reordered / partially-overlapping reuse where byte-level
    contains() cannot.  Pairs with EITHER direction >= 0.6 are
    reported with both directional scores.

    Same candidate substrate as llm_dedup_ngram_jaccard: the staged
    shingle inverted index (_shingle_index) — only docs sharing a
    shingle ever meet, the join shuffles on the shingle key, the df
    cap bounds per-shingle fan-out, so candidates stay ~linear in the
    corpus; containment needs no new machinery, just the asymmetric
    denominators on the same (common, sizes) join.  The scores are
    one double division of exact counts per direction — identical in
    both engines."""
    sh = _shingle_index(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    x = sh.alias("x")
    y = sh.alias("y")
    common = (
        x.join(
            y,
            (F.col("x.shingle") == F.col("y.shingle"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .groupBy(
            F.col("x.doc_id").alias("da"), F.col("y.doc_id").alias("db")
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    sa = sizes.select(F.col("doc_id").alias("da"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("db"), F.col("n").alias("nb"))
    return (
        common.join(sa, "da")
        .join(sb, "db")
        .filter(
            (F.col("c") * 1.0 / F.col("na") >= CONTAINMENT_THRESHOLD)
            | (F.col("c") * 1.0 / F.col("nb") >= CONTAINMENT_THRESHOLD)
        )
        .select(
            "da",
            "db",
            F.round(F.col("c") * 1.0 / F.col("na"), 6).alias("cont_a_in_b"),
            F.round(F.col("c") * 1.0 / F.col("nb"), 6).alias("cont_b_in_a"),
        )
    )


_SOURCE_OVERLAP_ORACLE = """
WITH words AS (SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents),
w AS (SELECT doc_id, source, unnest(ws) AS w, generate_subscripts(ws, 1) AS i
      FROM words),
sh AS (SELECT DISTINCT a.source, a.w || ' ' || b.w || ' ' || c.w AS shingle
       FROM w a
       JOIN w b ON a.doc_id = b.doc_id AND b.i = a.i + 1
       JOIN w c ON a.doc_id = c.doc_id AND c.i = a.i + 2),
sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY source),
common AS (SELECT x.source AS sa, y.source AS sb, CAST(count(*) AS BIGINT) AS c
           FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.source < y.source
           GROUP BY 1, 2)
SELECT sa, sb, c AS shared_shingles,
       round(c * 1.0 / (za.n + zb.n - c), 6) AS jaccard,
       round(greatest(c * 1.0 / za.n, c * 1.0 / zb.n), 6) AS max_containment
FROM common
JOIN sizes za ON za.source = sa
JOIN sizes zb ON zb.source = sb
ORDER BY c DESC, sa, sb
LIMIT 20
"""


@query(
    "llm_source_overlap_matrix",
    "§2.20 cross-source contamination matrix (per-source-pair shingle overlap)",
    _SOURCE_OVERLAP_ORACLE,
)
def llm_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus forensics: which SOURCES share content?  Distinct 3-gram
    shingle sets per source, then per-pair shared-shingle counts,
    Jaccard, and max directional containment — the screen that finds
    a mirrored site, a syndicated feed, or a benchmark leaked into a
    crawl BEFORE doc-level dedup runs (doc-level pairs tell you two
    pages match; this tells you two SOURCES do).  Candidates come
    from the same shingle-key equi-join discipline as the dedup
    family — only sources sharing a shingle meet, shuffled on the
    shingle — but collapsed to source grain FIRST (distinct (source,
    shingle)), so the join input is bounded by vocabulary, not docs,
    and the pair table is at most |sources|² tiny rows.  Top-20 by
    shared count, deterministic tie-break."""
    d = load(spark, sf_dir, "documents")
    # explode-sizing rule: the single-file scan otherwise runs the
    # tokenize + shingle explode — most of this op's cost — in ONE
    # task before the eager checkpoint
    npart = explode_partitions(d)
    if npart > 1:
        d = d.repartition(npart, "doc_id")
    sh = (
        d.select("source", F.explode(word_shingles(F.col("text"), 3)).alias("shingle"))
        .filter(F.length("shingle") > 0)
        .distinct()
        .transform(lineage_checkpoint)
    )
    sizes = sh.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    x = sh.alias("x")
    y = sh.alias("y")
    common = (
        x.join(
            y,
            (F.col("x.shingle") == F.col("y.shingle"))
            & (F.col("x.source") < F.col("y.source")),
        )
        .groupBy(F.col("x.source").alias("sa"), F.col("y.source").alias("sb"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    za = sizes.select(F.col("source").alias("sa"), F.col("n").alias("na"))
    zb = sizes.select(F.col("source").alias("sb"), F.col("n").alias("nb"))
    return (
        common.join(F.broadcast(za), "sa")
        .join(F.broadcast(zb), "sb")
        .select(
            "sa",
            "sb",
            F.col("c").alias("shared_shingles"),
            F.round(F.col("c") * 1.0 / (F.col("na") + F.col("nb") - F.col("c")), 6).alias(
                "jaccard"
            ),
            F.round(
                F.greatest(
                    F.col("c") * 1.0 / F.col("na"), F.col("c") * 1.0 / F.col("nb")
                ),
                6,
            ).alias("max_containment"),
        )
        .orderBy(F.col("shared_shingles").desc(), "sa", "sb")
        .limit(20)
    )


_CHAPMAN_ORACLE = """
WITH words AS (SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents),
w AS (SELECT doc_id, source, unnest(ws) AS w, generate_subscripts(ws, 1) AS i
      FROM words),
sh AS (SELECT DISTINCT CASE WHEN a.source < 'src5' THEN 0 ELSE 1 END AS half,
              a.w || ' ' || b.w || ' ' || c.w AS shingle
       FROM w a
       JOIN w b ON a.doc_id = b.doc_id AND b.i = a.i + 1
       JOIN w c ON a.doc_id = c.doc_id AND c.i = a.i + 2),
counts AS (
  SELECT CAST(count(*) FILTER (WHERE half = 0) AS BIGINT) AS na,
         CAST(count(*) FILTER (WHERE half = 1) AS BIGINT) AS nb,
         CAST(count(*) AS BIGINT) - CAST(count(DISTINCT shingle) AS BIGINT) AS c,
         CAST(count(DISTINCT shingle) AS BIGINT) AS true_total
  FROM sh
)
SELECT na AS n_sample_a, nb AS n_sample_b, c AS n_recaptured, true_total,
       CAST(floor((CAST(na + 1 AS DOUBLE) * (nb + 1)) / (c + 1) - 1) AS BIGINT)
         AS chapman_estimate,
       round(((CAST(na + 1 AS DOUBLE) * (nb + 1)) / (c + 1) - 1) / true_total, 4)
         AS estimate_over_truth
FROM counts
"""


@query(
    "llm_capture_recapture",
    "§2.20 capture-recapture corpus-size estimate (Chapman estimator)",
    _CHAPMAN_ORACLE,
)
def llm_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capture-recapture estimate of TOTAL unique content from two
    overlapping samples — the mark-recapture trick a crawl operator
    uses to ask "how much of the web's unique text have we actually
    got?" without ever seeing the whole population: treat sources
    src0-src4 as capture one, src5-src19 as capture two, count the
    distinct 3-gram shingles in each and the recaptures (shingles in
    BOTH), and apply the bias-corrected Chapman estimator
    N̂ = (na+1)(nb+1)/(c+1) − 1.  Here the fixture's truth IS
    computable (count(DISTINCT shingle)), so the op also reports
    estimate/truth — the calibration a real pipeline can't see, which
    is exactly what makes it a useful test (the ratio is stable and
    deterministic on the fixture).  The recapture count is derived
    set-algebraically (|A|+|B| − |A∪B|) from two hash-aggs — no pair
    join at all.  Shape at any SF: one shingle explode, two
    distinct aggregations, a 1-row closed-form finish."""
    d = load(spark, sf_dir, "documents")
    sh = (
        d.select(
            F.when(F.col("source") < "src5", 0).otherwise(1).alias("half"),
            F.explode(word_shingles(F.col("text"), 3)).alias("shingle"),
        )
        .filter(F.length("shingle") > 0)
        .distinct()
    )
    counts = sh.agg(
        F.count(F.when(F.col("half") == 0, 1)).cast("bigint").alias("na"),
        F.count(F.when(F.col("half") == 1, 1)).cast("bigint").alias("nb"),
        (F.count(F.lit(1)) - F.countDistinct("shingle")).cast("bigint").alias("c"),
        F.countDistinct("shingle").cast("bigint").alias("true_total"),
    )
    est = (F.col("na") + 1).cast("double") * (F.col("nb") + 1) / (F.col("c") + 1) - 1
    return counts.select(
        F.col("na").alias("n_sample_a"),
        F.col("nb").alias("n_sample_b"),
        F.col("c").alias("n_recaptured"),
        "true_total",
        F.floor(est).cast("bigint").alias("chapman_estimate"),
        F.round(est / F.col("true_total"), 4).alias("estimate_over_truth"),
    )
