"""Text analysis operators (SURVEY.md §2.11): language-ID, quality
scoring, token counting, document fingerprinting.

All built-in expressions (split/filter/regexp/md5) — the whole module
is JVM-side and oracle-checkable. Heuristics are honest general-text
heuristics; on the synthetic word-soup fixture they degrade gracefully
(vocabulary is shared across langs) but stay deterministic, which is
what the correctness gate checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from spark_lineage_spark.functions.text_funcs import (
    LANG_MARKERS,
    marker_count,
    tokens,
    word_shingles,
)
from spark_lineage_spark.plans.extract import lineage_checkpoint, lineage_checkpoint_lazy
from spark_lineage_spark.registry import query
from spark_lineage_spark.tables import load, register_views


def _duck_marker(markers):
    lst = ", ".join(f"'{m}'" for m in markers)
    return f"len(list_filter(string_split(text, ' '), t -> t IN ({lst})))"


LANGID_ORACLE = f"""
WITH scored AS (
  SELECT doc_id, lang AS true_lang,
         CASE WHEN regexp_matches(text, '[\\x{{4e00}}-\\x{{9fff}}]') THEN 1 ELSE 0 END AS zh_hit,
         {_duck_marker(LANG_MARKERS["en"])} AS en_s,
         {_duck_marker(LANG_MARKERS["de"])} AS de_s,
         {_duck_marker(LANG_MARKERS["es"])} AS es_s,
         {_duck_marker(LANG_MARKERS["fr"])} AS fr_s
  FROM documents
)
SELECT doc_id, true_lang,
       CASE
         WHEN zh_hit = 1 THEN 'zh'
         WHEN greatest(en_s, de_s, es_s, fr_s) = 0 THEN 'und'
         WHEN en_s >= greatest(de_s, es_s, fr_s) THEN 'en'
         WHEN de_s >= greatest(es_s, fr_s) THEN 'de'
         WHEN es_s >= fr_s THEN 'es'
         ELSE 'fr'
       END AS pred_lang,
       en_s, de_s, es_s, fr_s
FROM scored
"""


@query("llm_text_langid", "§2.11 language-ID (marker n-gram heuristic)", LANGID_ORACLE)
def llm_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CJK-codepoint check for zh, else argmax of per-language marker
    stopword counts with a fixed precedence (en>de>es>fr) so ties are
    deterministic; 'und' when no marker fires."""
    d = load(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    scored = d.select(
        "doc_id",
        F.col("lang").alias("true_lang"),
        F.when(F.col("text").rlike("[一-鿿]"), 1).otherwise(0).alias("zh_hit"),
        marker_count(toks, LANG_MARKERS["en"]).alias("en_s"),
        marker_count(toks, LANG_MARKERS["de"]).alias("de_s"),
        marker_count(toks, LANG_MARKERS["es"]).alias("es_s"),
        marker_count(toks, LANG_MARKERS["fr"]).alias("fr_s"),
    )
    best = F.greatest("en_s", "de_s", "es_s", "fr_s")
    return scored.select(
        "doc_id",
        "true_lang",
        F.when(F.col("zh_hit") == 1, "zh")
        .when(best == 0, "und")
        .when(F.col("en_s") >= F.greatest("de_s", "es_s", "fr_s"), "en")
        .when(F.col("de_s") >= F.greatest("es_s", "fr_s"), "de")
        .when(F.col("es_s") >= F.col("fr_s"), "es")
        .otherwise("fr")
        .alias("pred_lang"),
        "en_s",
        "de_s",
        "es_s",
        "fr_s",
    )


@query(
    "llm_text_quality",
    "§2.11 quality scoring (length/punct/stopword ratios)",
    """
    WITH m AS (
      SELECT doc_id, n_chars,
             len(string_split(text, ' ')) AS n_words,
             length(replace(text, ' ', '')) AS n_nonspace,
             len(regexp_extract_all(text, '[^a-z0-9 ]')) AS n_punct,
             len(list_filter(string_split(text, ' '),
                 t -> t IN ('the', 'a', 'of', 'and', 'to', 'in', 'is'))) AS n_stop
      FROM documents
    )
    SELECT doc_id, n_words,
           round(n_nonspace * 1.0 / n_words, 6) AS avg_word_len,
           round(n_punct * 1.0 / n_chars, 6) AS punct_ratio,
           round(n_stop * 1.0 / n_words, 6) AS stopword_ratio,
           CASE WHEN n_words >= 50 AND n_punct * 1.0 / n_chars < 0.05 THEN 'good'
                WHEN n_words >= 20 THEN 'fair' ELSE 'poor' END AS quality_bucket
    FROM m
    """,
)
def llm_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE sql() text (optimization r14, guide §7.3): identical
    # expressions (integer / yields DOUBLE in both APIs; the marker
    # OR-chain becomes the same lambda filter), built JVM-side in a
    # single py4j round-trip.
    from spark_lineage_spark.tables import table_path

    return spark.sql(f"""
        WITH m AS (
          SELECT doc_id, n_chars,
                 size(split(text, ' ')) AS n_words,
                 length(replace(text, ' ', '')) AS n_nonspace,
                 size(split(text, '[^a-z0-9 ]')) - 1 AS n_punct,
                 size(filter(split(text, ' '),
                      t -> t = 'the' OR t = 'a' OR t = 'of' OR t = 'and'
                           OR t = 'to' OR t = 'in' OR t = 'is')) AS n_stop
          FROM parquet.`{table_path(sf_dir, "documents")}`
        )
        SELECT doc_id, n_words,
               round(n_nonspace / n_words, 6) AS avg_word_len,
               round(n_punct / n_chars, 6) AS punct_ratio,
               round(n_stop / n_words, 6) AS stopword_ratio,
               CASE WHEN n_words >= 50 AND n_punct / n_chars < 0.05 THEN 'good'
                    WHEN n_words >= 20 THEN 'fair'
                    ELSE 'poor' END AS quality_bucket
        FROM m
    """)


@query(
    "llm_text_tokens",
    "§2.11 token counting (whitespace + BPE-ish regex)",
    """
    SELECT doc_id,
           len(string_split(text, ' ')) AS ws_tokens,
           len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS bpe_ish_tokens,
           round(n_chars * 1.0 / len(string_split(text, ' ')), 6) AS chars_per_token
    FROM documents
    """,
)
def llm_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace tokens + a BPE-ish regex segmentation (letter runs /
    digit runs / single punctuation) — the standard pre-tokenizer
    shape; regexp_count is JVM-side."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("ws_tokens"),
        F.regexp_count("text", F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]")).alias("bpe_ish_tokens"),
        F.round(F.col("n_chars") / F.size(F.split("text", " ")), 6).alias("chars_per_token"),
    )


@query(
    "llm_text_tfidf",
    "§2.11 TF-IDF top terms per document",
    """
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS t
      FROM documents WHERE doc_id < 50
    ),
    tf AS (SELECT doc_id, t, count(*) AS tf FROM tok WHERE length(t) > 0 GROUP BY 1, 2),
    df AS (SELECT t, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
    n AS (SELECT count(DISTINCT doc_id) AS n FROM tf)
    SELECT doc_id, t AS term,
           round(tf * ln(n * 1.0 / df), 6) AS tfidf
    FROM tf JOIN df USING (t) CROSS JOIN n
    QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY tf * ln(n * 1.0 / df) DESC, t) <= 3
    """,
)
def llm_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic tf·idf (raw tf × ln(N/df)) with top-3 terms per doc.
    Both engines compute ln on the same double ⇒ identical; ranking on
    the unrounded score with term tie-break matches QUALIFY. The df
    side is a tiny vocab aggregate — broadcast. Corpus size N stays
    IN-PLAN: a broadcast 1-row countDistinct aggregate cross-joined
    onto the scores — the whole operator is one lazy plan, no eager
    driver-side count job (VERDICT r1 item 5)."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    tok = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("t")).filter(
        F.length("t") > 0
    )
    tf = tok.groupBy("doc_id", "t").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("t").agg(F.countDistinct("doc_id").alias("df"))
    n_df = tf.agg(F.countDistinct("doc_id").cast("double").alias("n"))
    scored = (
        tf.join(F.broadcast(df_), "t")
        .crossJoin(F.broadcast(n_df))
        .withColumn("score", F.col("tf") * F.log(F.col("n") / F.col("df")))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "t")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", F.col("t").alias("term"), F.round("score", 6).alias("tfidf"))
    )


@query(
    "llm_pipeline_end_to_end",
    "§2.11 capstone: dedup → quality filter → token accounting",
    """
    WITH survivors AS (
      SELECT doc_id, text, lang, n_chars
      FROM documents
      QUALIFY row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) = 1
    ),
    quality AS (
      SELECT doc_id, lang, n_chars,
             len(string_split(text, ' ')) AS n_words
      FROM survivors
    ),
    kept AS (SELECT * FROM quality WHERE n_words >= 20)
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(n_words) AS BIGINT) AS total_tokens,
           round(avg(n_chars), 4) AS avg_chars,
           round(avg(n_words), 4) AS avg_tokens
    FROM kept GROUP BY lang
    """,
)
def llm_pipeline_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data pipeline in one plan: exact dedup
    (content-hash survivors) → quality gate (min token count) → token
    accounting per language. One declarative DataFrame chain: Catalyst
    plans the dedup window, quality filter, and final aggregation as
    one pipeline with a single shuffle on the content hash — the shape
    a 100 TB corpus prep job actually runs."""
    d = load(spark, sf_dir, "documents")
    w = Window.partitionBy(F.sha2(F.col("text").cast("binary"), 256)).orderBy("doc_id")
    survivors = d.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    quality = survivors.select(
        "doc_id", "lang", "n_chars", F.size(tokens(F.col("text"))).alias("n_words")
    )
    kept = quality.filter(F.col("n_words") >= 20)
    return kept.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_words").alias("total_tokens"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.round(F.avg("n_words"), 4).alias("avg_tokens"),
    )


FP_K = 5


@query(
    "llm_text_fingerprint",
    "§2.11 document fingerprint (min-k token hashes)",
    f"""
    WITH tok AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
    h AS (SELECT doc_id, md5(t) AS th FROM tok WHERE length(t) > 0),
    mink AS (SELECT doc_id, th FROM h
             QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY th) <= {FP_K})
    SELECT doc_id, md5(string_agg(th, '' ORDER BY th)) AS fingerprint
    FROM mink GROUP BY doc_id
    """,
)
def llm_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-k-hash set fingerprint: md5 per distinct token, keep the k
    smallest, hash their concatenation. Locality-sensitive for set
    overlap (k-mins sketch) and pure built-ins; md5 agrees across
    engines so the oracle is exact."""
    from spark_lineage_spark.operators.dedup import explode_partitions

    d = load(spark, sf_dir, "documents")
    # Optimization r14 (guide §2.4): the previous form ran
    # explode → DISTINCT (exchange) → row_number window (exchange) →
    # groupBy collect_list (exchange). min-k-of-distinct is a plain
    # aggregation: collect_set(md5(t)) dedups per doc (= the DISTINCT,
    # since md5 is injective on the fixture vocab), array_sort + slice
    # keeps the k smallest (= the QUALIFY rn <= k), and the partial
    # collect_set merges map-side. One exchange total — and it is the
    # explode-sizing repartition itself, whose core-width floor makes
    # single-file corpora tokenize in parallel.
    npart = explode_partitions(d)
    if npart > 1:
        d = d.repartition(npart, "doc_id")  # parallelize the token explode
    tok = (
        d.select("doc_id", F.explode(tokens(F.col("text"))).alias("t"))
        .filter(F.length("t") > 0)
        .select("doc_id", F.md5(F.col("t").cast("binary")).alias("th"))
    )
    mink = F.slice(F.array_sort(F.collect_set("th")), 1, FP_K)
    return tok.groupBy("doc_id").agg(
        F.md5(F.array_join(mink, "").cast("binary")).alias("fingerprint")
    )


@query(
    "llm_split_train_val_test",
    "§2.11 deterministic hash split (train/val/test assignment)",
    """
    WITH assigned AS (
      SELECT lang, n_chars,
             CASE WHEN substr(md5(text), 1, 1) BETWEEN '0' AND 'b' THEN 'train'
                  WHEN substr(md5(text), 1, 1) IN ('c', 'd') THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    )
    SELECT lang, split, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM assigned GROUP BY lang, split
    """,
)
def llm_split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-hash split — THE way to partition a
    training corpus: assignment depends only on the document bytes
    (md5, portable across engines/runs/cluster sizes), so re-runs and
    backfills land every doc in the same split with a 12/2/2
    train/val/test ratio over the first hex nibble. Pure map-side
    expression + one partial-agg'd groupBy; no shuffle of the corpus
    itself at any scale."""
    d = load(spark, sf_dir, "documents")
    h = F.substring(F.md5(F.col("text")), 1, 1)
    split = (
        F.when(h.between("0", "b"), "train").when(h.isin("c", "d"), "val").otherwise("test")
    )
    return (
        d.select("lang", "n_chars", split.alias("split"))
        .groupBy("lang", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
    )


TOP_NGRAMS_ORACLE = """
WITH words AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
w AS (SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS i FROM words),
sh AS (SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS shingle
       FROM w a JOIN w b ON a.doc_id = b.doc_id AND b.i = a.i + 1
                JOIN w c ON a.doc_id = c.doc_id AND c.i = a.i + 2)
SELECT shingle, count(*) AS df
FROM sh GROUP BY shingle
ORDER BY df DESC, shingle LIMIT 20
"""


@query("llm_text_top_ngrams", "§2.11 corpus heavy hitters (top 3-grams by doc freq)", TOP_NGRAMS_ORACLE)
def llm_text_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide heavy hitters: document frequency per 3-gram, top-20
    with a deterministic tie-break. Two-phase aggregation (map-side
    partial count → merge) + TakeOrderedAndProject, so a hot n-gram is
    combined locally before the shuffle — no skew problem at corpus
    scale. Reuses the dedup shingle substrate (uncapped: heavy hitters
    are exactly what the dedup df cap removes)."""
    from spark_lineage_spark.operators.dedup import _distinct_shingles

    sh = _distinct_shingles(load(spark, sf_dir, "documents"), df_cap=None)
    return (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .orderBy(F.desc("df"), "shingle")
        .limit(20)
    )


@query(
    "llm_doc_length_histogram",
    "§2.11 corpus length histogram (fixed-width buckets)",
    """
    SELECT least(CAST(floor(n_chars / 200) AS BIGINT), 10) AS bucket,
           count(*) AS n_docs,
           min(n_chars) AS min_chars, max(n_chars) AS max_chars
    FROM documents GROUP BY 1
    """,
)
def llm_doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus length distribution in 200-char buckets (top bucket
    open-ended): the quality-filter tuning histogram. Integer bucket
    arithmetic (identical in both engines), one partial-agg'd groupBy
    over ≤11 keys."""
    d = load(spark, sf_dir, "documents")
    bucket = F.least(F.floor(F.col("n_chars") / 200).cast("bigint"), F.lit(10).cast("bigint"))
    return (
        d.groupBy(bucket.alias("bucket"))
        .agg(
            F.count("*").alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )


@query(
    "llm_sample_per_group",
    "§2.11 deterministic per-stratum sample (hash-ranked)",
    """
    SELECT lang, doc_id, rn
    FROM (
      SELECT lang, doc_id,
             row_number() OVER (PARTITION BY lang ORDER BY md5(text), doc_id) AS rn
      FROM documents
    )
    WHERE rn <= 5
    """,
)
def llm_sample_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified eval-set sampling without a random(): rank docs per
    stratum by content hash (uniform, engine-portable, stable across
    runs and cluster sizes) and keep the top 5 — the reproducible
    alternative to sampleBy for carving eval sets out of a training
    corpus. One window shuffle on the stratum key."""
    d = load(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(F.md5("text"), "doc_id")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("lang", "doc_id", "rn")
    )


@query(
    "llm_text_normalize",
    "§2.11 text normalization (lowercase, strip punct, collapse ws)",
    """
    WITH cleaned AS (
      SELECT doc_id, n_chars,
             trim(regexp_replace(regexp_replace(lower(text),
                    '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS clean
      FROM documents
    )
    SELECT doc_id, n_chars AS n_chars_raw,
           length(clean) AS n_chars_clean,
           substr(clean, 1, 40) AS prefix
    FROM cleaned
    """,
)
def llm_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-corpus text canonicalization: lowercase, replace
    non-alphanumerics with spaces, collapse runs, trim. Pure built-in
    string expressions — whole-stage codegen, zero Python. The regex
    vocabulary is restricted to the Java/RE2 common subset (character
    classes + literals) so Spark and the DuckDB oracle agree byte-for-
    byte; Spark's regexp_replace is replace-all by default, matching
    DuckDB's 'g' flag."""
    d = load(spark, sf_dir, "documents")
    clean = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", " "), " +", " "
        )
    )
    return d.select(
        "doc_id",
        F.col("n_chars").alias("n_chars_raw"),
        F.length(clean).alias("n_chars_clean"),
        F.substring(clean, 1, 40).alias("prefix"),
    )


@query(
    "llm_pack_sequences",
    "§2.11 sequence packing (concat-and-chunk into context windows)",
    """
    WITH t AS (
      SELECT doc_id, lang, len(string_split(text, ' ')) AS toks
      FROM documents
    ), packed AS (
      SELECT lang, doc_id, toks,
             sum(toks) OVER (PARTITION BY lang ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) - toks AS off
      FROM t
    )
    SELECT lang, CAST(floor(off / 512) AS BIGINT) AS chunk_id,
           count(*) AS n_docs, CAST(sum(toks) AS BIGINT) AS total_tokens,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc
    FROM packed GROUP BY lang, chunk_id
    """,
)
def llm_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-batch sequence packing, concat-and-chunk style: within
    each shard (lang), documents are concatenated in a deterministic
    order and cut into fixed 512-token context windows; each doc is
    assigned the chunk where its first token lands. This is the packing
    used by real LLM data loaders (no bin-packing search — one window
    cumsum), and it scales as one shuffle on the shard key: the running
    offset is a prefix sum per shard, never global state. A skewed
    shard is re-shardable by (lang, doc_id range) without changing any
    chunk content."""
    d = load(spark, sf_dir, "documents")
    toks = F.size(F.split("text", " "))
    w = Window.partitionBy("lang").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    packed = d.select("lang", "doc_id", toks.alias("toks")).withColumn(
        "off", F.sum("toks").over(w) - F.col("toks")
    )
    return packed.groupBy(
        "lang", F.floor(F.col("off") / 512).cast("long").alias("chunk_id")
    ).agg(
        F.count("*").alias("n_docs"),
        F.sum("toks").cast("long").alias("total_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


@query(
    "llm_interleave_sources",
    "§2.11 weighted source mixing (deterministic interleave)",
    """
    WITH weighted AS (
      SELECT doc_id, source, md5(text) AS h,
             1 + (CAST(substr(source, 4) AS INTEGER) % 3) AS w
      FROM documents
    ), ranked AS (
      SELECT doc_id, source, h, w,
             row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rk
      FROM weighted
    ), taken AS (
      SELECT doc_id, source, h FROM ranked WHERE rk <= w * 8
    )
    SELECT doc_id, source,
           row_number() OVER (ORDER BY h, doc_id) AS mix_order
    FROM taken
    """,
)
def llm_interleave_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture construction: each source contributes docs in
    proportion to its mixing weight (here derived from the source id;
    in production a broadcast config table), selected by content-hash
    rank so the sample is stable across runs and cluster layouts, then
    interleaved into one deterministic global order by hash — the
    shuffled-but-reproducible read order a trainer wants.

    Scale: per-source ranking is one shuffle on source; the final
    global row_number orders only the SELECTED sample. If the sample
    itself is huge, replace row_number with a rank computed from
    (hash bucket, within-bucket rank) — same determinism, no single
    ordering partition; noted here because Spark funnels a global
    window into one task."""
    d = load(spark, sf_dir, "documents")
    weighted = d.select(
        "doc_id",
        "source",
        F.md5("text").alias("h"),
        (1 + F.substring("source", 4, 10).cast("int") % 3).alias("w"),
    )
    w_src = Window.partitionBy("source").orderBy("h", "doc_id")
    taken = (
        weighted.withColumn("rk", F.row_number().over(w_src))
        .filter(F.col("rk") <= F.col("w") * 8)
        .select("doc_id", "source", "h")
    )
    w_all = Window.orderBy("h", "doc_id")
    return taken.withColumn("mix_order", F.row_number().over(w_all)).select(
        "doc_id", "source", "mix_order"
    )


@query(
    "llm_text_repetition",
    "§2.11 intra-document repetition stats (Gopher-style filter)",
    """
    WITH words AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    w AS (SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS i FROM words),
    g AS (SELECT a.doc_id, a.w || ' ' || b.w AS gram
          FROM w a JOIN w b ON a.doc_id = b.doc_id AND b.i = a.i + 1),
    c AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY 1, 2)
    SELECT doc_id,
           CAST(sum(cnt) AS BIGINT) AS n_grams,
           count(*) AS n_distinct,
           round((sum(cnt) - count(*)) * 1.0 / sum(cnt), 6) AS dup_frac,
           round(max(cnt) * 1.0 / sum(cnt), 6) AS top_frac
    FROM c GROUP BY doc_id
    """,
)
def llm_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality filter (the Gopher/MassiveText rules):
    per document, the fraction of duplicate word-2-gram occurrences and
    the share of the single most frequent 2-gram. Highly repetitive
    machine-generated pages score high on both and get culled before
    training.

    Shape: one explode to (doc_id, gram), then two aggregations that
    share the doc_id grouping. At 100 TB the explode multiplies rows
    ~word-count-fold, so it inherits the byte-sized repartition the
    shingle pipeline uses (explode_partitions, floored at the core
    count so the single-file fixture does not run the whole
    tokenize+explode+double-agg pipeline as ONE task). Both groupBys
    hash on doc_id(+gram) and reuse the explicit partitioning — no
    skew since grams are near-unique per doc."""
    from spark_lineage_spark.operators.dedup import explode_partitions

    d = load(spark, sf_dir, "documents")
    npart = explode_partitions(d)
    if npart > 1:
        d = d.repartition(npart, "doc_id")
    g = d.select("doc_id", F.explode(word_shingles(F.col("text"), 2)).alias("gram"))
    c = g.groupBy("doc_id", "gram").agg(F.count("*").alias("cnt"))
    return c.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_grams"),
        F.count("*").alias("n_distinct"),
        F.round((F.sum("cnt") - F.count("*")) / F.sum("cnt"), 6).alias("dup_frac"),
        F.round(F.max("cnt") / F.sum("cnt"), 6).alias("top_frac"),
    )


PII_EMAIL = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
PII_PHONE = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
PII_IP = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"


@query(
    "llm_pii_redact",
    "§2.11 PII detection + redaction (regex scrub before training)",
    f"""
    WITH pii AS (
      SELECT doc_id,
             text || ' contact ' || source || '@example.com call 555-' ||
             lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' ||
             lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
             ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1' AS t
      FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(t, '{PII_EMAIL}')) AS n_emails,
           len(regexp_extract_all(t, '{PII_PHONE}')) AS n_phones,
           len(regexp_extract_all(t, '{PII_IP}')) AS n_ips,
           regexp_replace(regexp_replace(regexp_replace(t,
               '{PII_EMAIL}', '<EMAIL>', 'g'),
               '{PII_PHONE}', '<PHONE>', 'g'),
               '{PII_IP}', '<IP>', 'g') AS redacted
    FROM pii
    """,
)
def llm_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub: count and redact emails / NANP-style phone numbers /
    IPv4 addresses. The fixture corpus carries no PII, so the query
    plants a deterministic specimen of each per document (from doc_id
    and source) and then redacts — the assertion is that detection and
    replacement agree with an independent engine on identical input.

    All three passes are regexp_replace/regexp_count built-ins (one
    codegen stage, no Python, no shuffle — a map-only scan at any
    scale). Patterns stay inside the Java/RE2 common subset: character
    classes and bounded repetition only, no backreferences or
    lookaround. Redaction order is email -> phone -> ip; the patterns
    cannot overlap each other's replacements ('<EMAIL>' contains no
    digits or '@')."""
    d = load(spark, sf_dir, "documents")
    t = F.concat(
        F.col("text"), F.lit(" contact "), F.col("source"), F.lit("@example.com call 555-"),
        F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"), F.lit("-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" from 10."), (F.col("doc_id") % 256).cast("string"), F.lit(".0.1"),
    )
    p = d.select("doc_id", t.alias("t"))
    return p.select(
        "doc_id",
        F.regexp_count("t", F.lit(PII_EMAIL)).alias("n_emails"),
        F.regexp_count("t", F.lit(PII_PHONE)).alias("n_phones"),
        F.regexp_count("t", F.lit(PII_IP)).alias("n_ips"),
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace("t", PII_EMAIL, "<EMAIL>"),
                PII_PHONE, "<PHONE>"),
            PII_IP, "<IP>",
        ).alias("redacted"),
    )


@query(
    "llm_source_datacard",
    "§2.11 per-source data card (corpus composition summary)",
    """
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           count(DISTINCT lang) AS n_langs,
           round((count(*) - count(DISTINCT text)) * 1.0 / count(*), 6) AS exact_dup_rate,
           round(median(n_chars), 6) AS median_chars,
           round(avg(n_chars), 6) AS avg_chars
    FROM documents GROUP BY source
    """,
)
def llm_source_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data card per source: the composition summary published next to
    a training mixture — volume, token mass, language spread, exact-dup
    rate, length distribution. One hash aggregation on source; the two
    DISTINCTs expand to Spark's standard expand+two-phase plan. At
    100 TB count(DISTINCT text) would hash the text first (distinct on
    a 64-byte digest, not the page body) — here text is the digest-free
    fixture column and the oracle must see the same values."""
    d = load(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).alias("total_tokens"),
        F.countDistinct("lang").alias("n_langs"),
        F.round(
            (F.count("*") - F.countDistinct("text")) / F.count("*"), 6
        ).alias("exact_dup_rate"),
        F.round(F.median("n_chars"), 6).alias("median_chars"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
    )


CHUNK_SIZE = 120  # chars per training/RAG chunk
CHUNK_STRIDE = 90  # overlap = CHUNK_SIZE - CHUNK_STRIDE


@query(
    "llm_chunk_documents",
    "§2.11 sliding-window document chunking (overlapping char windows)",
    f"""
    SELECT doc_id,
           CAST((start - 1) / {CHUNK_STRIDE} AS BIGINT) AS chunk_id,
           substr(text, CAST(start AS INT), {CHUNK_SIZE}) AS chunk,
           len(substr(text, CAST(start AS INT), {CHUNK_SIZE})) AS chunk_chars
    FROM (SELECT doc_id, text,
                 unnest(generate_series(1, len(text), {CHUNK_STRIDE})) AS start
          FROM documents)
    """,
)
def llm_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-width chunks (the context-window / RAG prep
    step): windows of CHUNK_SIZE chars every CHUNK_STRIDE chars, the
    final window allowed to run short. Start offsets come from
    F.sequence over the string length — a pure map-side explode, no
    shuffle at any scale; chunk_id is derived from the offset so the
    output needs no window function. substring() clamps at the string
    end identically in both engines."""
    d = load(spark, sf_dir, "documents")
    c = d.select(
        "doc_id",
        "text",
        F.explode(
            F.sequence(F.lit(1), F.length("text"), F.lit(CHUNK_STRIDE))
        ).alias("start"),
    )
    chunk = F.substring(F.col("text"), F.col("start"), F.lit(CHUNK_SIZE))
    return c.select(
        "doc_id",
        ((F.col("start") - 1) / CHUNK_STRIDE).cast("bigint").alias("chunk_id"),
        chunk.alias("chunk"),
        F.length(chunk).alias("chunk_chars"),
    )


# fixed public logistic-regression weights for the quality scorer:
# intercept, log(n_tokens), mean token length, stopword ratio, distinct
# token ratio. Chosen so the fixture splits non-trivially (~both
# classes populated); the point is deterministic in-plan inference.
QC_W0, QC_W_LOGTOK, QC_W_AVGLEN, QC_W_STOP, QC_W_UNIQ = -2.0, 0.6, -0.35, 4.0, 2.5
_QC_EN = ", ".join(f"'{m}'" for m in LANG_MARKERS["en"])


@query(
    "llm_quality_classifier",
    "§2.11 model-based quality filter (fixed-weight logistic scorer)",
    f"""
    WITH f AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_toks,
             (len(text) - len(string_split(text, ' ')) + 1.0)
               / len(string_split(text, ' ')) AS avg_len,
             len(list_filter(string_split(text, ' '), t -> t IN ({_QC_EN})))
               * 1.0 / len(string_split(text, ' ')) AS stop_ratio,
             len(list_distinct(string_split(text, ' ')))
               * 1.0 / len(string_split(text, ' ')) AS uniq_ratio
      FROM documents
    )
    SELECT doc_id, n_toks,
           round(avg_len, 6) AS avg_len,
           round(stop_ratio, 6) AS stop_ratio,
           round(uniq_ratio, 6) AS uniq_ratio,
           round(1.0 / (1.0 + exp(-({QC_W0} + {QC_W_LOGTOK} * ln(n_toks)
                 + {QC_W_AVGLEN} * avg_len + {QC_W_STOP} * stop_ratio
                 + {QC_W_UNIQ} * uniq_ratio))), 6) AS quality,
           CASE WHEN 1.0 / (1.0 + exp(-({QC_W0} + {QC_W_LOGTOK} * ln(n_toks)
                 + {QC_W_AVGLEN} * avg_len + {QC_W_STOP} * stop_ratio
                 + {QC_W_UNIQ} * uniq_ratio))) >= 0.5
                THEN 1 ELSE 0 END AS keep
    FROM f
    """,
)
def llm_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering: a logistic regression with fixed
    published weights applied in-plan — the classifier-score culling
    step of a pretraining pipeline, expressed as pure column arithmetic
    (no UDF, no model server). Features: log token count, mean token
    length, stopword ratio, distinct-token ratio. Map-only at any
    scale; the sigmoid is one codegen expression. The keep flag uses
    the UNrounded score so the cut is the true decision boundary."""
    d = load(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    f = d.select(
        "doc_id",
        F.size(toks).alias("n_toks"),
        ((F.length("text") - F.size(toks) + 1.0) / F.size(toks)).alias("avg_len"),
        (marker_count(toks, LANG_MARKERS["en"]) / F.size(toks)).alias("stop_ratio"),
        (F.size(F.array_distinct(toks)) / F.size(toks)).alias("uniq_ratio"),
    )
    z = (
        F.lit(QC_W0)
        + QC_W_LOGTOK * F.log("n_toks")
        + QC_W_AVGLEN * F.col("avg_len")
        + QC_W_STOP * F.col("stop_ratio")
        + QC_W_UNIQ * F.col("uniq_ratio")
    )
    score = 1.0 / (1.0 + F.exp(-z))
    return f.select(
        "doc_id",
        "n_toks",
        F.round("avg_len", 6).alias("avg_len"),
        F.round("stop_ratio", 6).alias("stop_ratio"),
        F.round("uniq_ratio", 6).alias("uniq_ratio"),
        F.round(score, 6).alias("quality"),
        F.when(score >= 0.5, 1).otherwise(0).alias("keep"),
    )


MIX_ALPHA = 0.5  # temperature for mixture rebalancing (sqrt scaling)
MIX_BUDGET_FRAC = 0.5  # sample budget = half the corpus


@query(
    "llm_mixture_weights",
    "§2.11 temperature-based source mixture reweighting",
    f"""
    WITH s AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                      CAST(round(sqrt(count(*)) * 1000000000) AS BIGINT) AS s9
               FROM documents GROUP BY source),
    t AS (SELECT CAST(sum(s9) AS BIGINT) AS z9,
                 CAST(sum(n_docs) AS BIGINT) AS total FROM s)
    SELECT source, n_docs,
           round(CAST(s9 AS DOUBLE) / z9, 6) AS weight,
           round(least(CAST(1 AS DOUBLE), CAST(s9 AS DOUBLE) / z9 * total
                 * {MIX_BUDGET_FRAC} / n_docs), 6) AS sample_rate,
           CAST(floor(n_docs * least(CAST(1 AS DOUBLE),
                 CAST(s9 AS DOUBLE) / z9 * total
                 * {MIX_BUDGET_FRAC} / n_docs)) AS BIGINT) AS expected_docs
    FROM s CROSS JOIN t
    """,
)
def llm_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture rebalancing (the multilingual-sampling
    alpha trick): target share of source s ∝ n_s^alpha, which upweights
    small sources relative to their raw frequency; per-source sampling
    rate = target share × budget / current share, capped at 1 (no
    upsampling here — rates feed a downstream bernoulli sample).

    Determinism (hardened round 13 — the 10x oracle sweep caught
    expected_docs flipping at sf0.1): n^alpha at alpha=0.5 is sqrt(),
    which IEEE-754 requires to be EXACTLY rounded (pow(n, 0.5) is
    libm and drifts a ulp between engines, enough to flip the floor
    at a count boundary); each per-source sqrt then snaps to a
    1e-9-grain bigint so the normalizer is an exact integer sum
    (hash-agg order-free) and every downstream double derives from
    identical integers in both engines — the floor cannot straddle.

    Shape: one groupBy(source) — 20 partial-agg'd rows — crossJoined
    with a broadcast single-row total (same in-plan-N pattern as
    TF-IDF: no driver-side count, the whole thing stays one lazy
    plan)."""
    d = load(spark, sf_dir, "documents")
    s = d.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs")
    ).withColumn(
        "s9", F.round(F.sqrt("n_docs") * 1_000_000_000).cast("bigint")
    )
    t = s.agg(
        F.sum("s9").cast("bigint").alias("z9"),
        F.sum("n_docs").cast("bigint").alias("total"),
    )
    j = s.crossJoin(F.broadcast(t))
    weight = F.col("s9").cast("double") / F.col("z9")
    rate = F.least(
        F.lit(1.0),
        weight * F.col("total") * MIX_BUDGET_FRAC / F.col("n_docs"),
    )
    return j.select(
        "source",
        "n_docs",
        F.round(weight, 6).alias("weight"),
        F.round(rate, 6).alias("sample_rate"),
        F.floor(F.col("n_docs") * rate).cast("bigint").alias("expected_docs"),
    )


PMI_MIN_COUNT = 5  # bigrams below this count are noise (classic cutoff)


@query(
    "llm_bigram_pmi",
    "§2.11 bigram PMI collocations (corpus association mining)",
    f"""
    WITH words AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    w AS (SELECT unnest(ws) AS w FROM words),
    uni AS (SELECT w, count(*) AS u FROM w GROUP BY w),
    nu AS (SELECT sum(u) AS n_uni FROM uni),
    g AS (SELECT string_split(gram, ' ')[1] AS wa, string_split(gram, ' ')[2] AS wb
          FROM (SELECT a.w || ' ' || b.w AS gram
                FROM (SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS i
                      FROM words) a
                JOIN (SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS i
                      FROM words) b
                  ON a.doc_id = b.doc_id AND b.i = a.i + 1)),
    bi AS (SELECT wa, wb, count(*) AS c FROM g GROUP BY wa, wb),
    nb AS (SELECT sum(c) AS n_bi FROM bi)
    SELECT wa, wb, c AS pair_count,
           round(ln((c * 1.0 / n_bi) / ((ua.u * 1.0 / n_uni) * (ub.u * 1.0 / n_uni))), 6)
             AS pmi
    FROM bi
    JOIN uni ua ON bi.wa = ua.w
    JOIN uni ub ON bi.wb = ub.w
    CROSS JOIN nu CROSS JOIN nb
    WHERE c >= {PMI_MIN_COUNT}
    """,
)
def llm_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information over word bigrams — the collocation
    / multi-word-expression miner (and tokenizer-merge candidate
    scorer): pmi = ln(p(ab) / (p(a) p(b))), bigrams below a count
    cutoff dropped.

    Shape: ONE explode+groupBy pass per n-gram order; bigram pairs via
    _bigram_pairs (arrays_zip of shifted slices — O(1) array ops per
    doc, no per-position work). The vocabulary-sized unigram table is
    localCheckpoint'd because it feeds THREE plan branches (ua/ub
    joins + the 1-row total); the bigram counts feed two (pairs +
    total) and stay lazy — re-scanning the pruned parquet is cheaper
    than materializing pair counts. Totals derive from the count
    tables in-plan (the TF-IDF no-driver-count pattern). The
    bigram→unigram joins shuffle on the word — the unigram table is
    tiny next to the corpus, so AQE broadcasts it; no hint needed.
    Both engines evaluate the identical f64 expression tree, so
    round-6 values agree exactly."""
    d = load(spark, sf_dir, "documents")
    # explode-heavy stage: size partitions from input bytes so a
    # scan-sized partition doesn't explode past memory (same guard as
    # _distinct_shingles — the zip extraction changed the per-row cost,
    # not the row-count expansion)
    from spark_lineage_spark.operators.dedup import (
        est_scan_partitions,
        explode_partitions,
    )

    npart = explode_partitions(d)
    if npart > est_scan_partitions(d):
        d = d.repartition(npart, "doc_id")
    uni = (
        d.select(F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("u"))
        .transform(lineage_checkpoint)
    )
    nu = uni.agg(F.sum("u").alias("n_uni"))
    bi_counts = (
        d.select(_bigram_pairs(F.col("text")).alias("pz"))
        .select(F.col("pz")["0"].alias("wa"), F.col("pz")["1"].alias("wb"))
        .groupBy("wa", "wb")
        .agg(F.count("*").alias("c"))
    )
    bi = bi_counts.filter(F.col("c") >= PMI_MIN_COUNT)
    # total bigrams = sum of the UNFILTERED pair counts — same number
    # a third corpus explode would compute, derived in-plan instead
    nb_all = bi_counts.agg(F.sum("c").alias("n_bi"))
    ua, ub = uni.alias("ua"), uni.alias("ub")
    j = (
        bi.join(ua, F.col("wa") == F.col("ua.w"))
        .join(ub, F.col("wb") == F.col("ub.w"))
        .crossJoin(F.broadcast(nu))
        .crossJoin(F.broadcast(nb_all))
    )
    pmi = F.log(
        (F.col("c") / F.col("n_bi"))
        / ((F.col("ua.u") / F.col("n_uni")) * (F.col("ub.u") / F.col("n_uni")))
    )
    return j.select(
        "wa", "wb", F.col("c").alias("pair_count"), F.round(pmi, 6).alias("pmi")
    )


@query(
    "llm_text_zipf_fit",
    "§2.11 Zipf's-law fit of the token frequency curve (regr_* over log-log ranks)",
    """
    WITH tok AS (
        SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ),
    freq AS (
        SELECT token, count(*) AS cnt FROM tok WHERE token <> '' GROUP BY token
    ),
    ranked AS (
        SELECT cnt, row_number() OVER (ORDER BY cnt DESC, token) AS rnk
        FROM freq
    )
    SELECT count(*) AS n_ranks,
           round(regr_slope(ln(cnt), ln(rnk)), 6) AS zipf_slope,
           round(regr_intercept(ln(cnt), ln(rnk)), 6) AS zipf_intercept,
           round(regr_r2(ln(cnt), ln(rnk)), 6) AS fit_r2
    FROM ranked WHERE rnk <= 500
    """,
)
def llm_text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus health check: a natural-language corpus has token
    frequencies ~ C/rank^s (s near 1); a synthetic or degenerate corpus
    does not, so the fitted slope is a one-number drift detector for a
    training-data pipeline. Plan shape at 100 TB: explode+count is a
    two-phase aggregation (map-side combine absorbs hot tokens), the
    rank window runs over the distinct-token set only (vocabulary ≪
    corpus), and the OLS fit is the regr_* sum-of-products state — six
    doubles, no second pass over the data. Top-500 cap keeps the fit on
    the Zipfian head where rank ordering is stable — and it is taken
    with orderBy+limit (TakeOrderedAndProject, per-partition partial
    top-k) BEFORE the rank window, so the global-order window only ever
    sees 500 rows; ranking the full vocabulary would funnel every
    distinct token into one partition."""
    d = load(spark, sf_dir, "documents")
    freq = (
        d.select(F.explode(tokens(F.col("text"))).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
    )
    head = freq.orderBy(F.desc("cnt"), "token").limit(500)
    w = Window.orderBy(F.desc("cnt"), "token")
    ranked = head.withColumn("rnk", F.row_number().over(w))
    x, y = F.log(F.col("rnk")), F.log(F.col("cnt"))
    return ranked.agg(
        F.count("*").alias("n_ranks"),
        F.round(F.regr_slope(y, x), 6).alias("zipf_slope"),
        F.round(F.regr_intercept(y, x), 6).alias("zipf_intercept"),
        F.round(F.regr_r2(y, x), 6).alias("fit_r2"),
    )


@query(
    "llm_bpe_pair_counts",
    "§2.11 tokenizer induction: BPE first-iteration pair frequencies",
    """
    WITH words AS (
      SELECT unnest(string_split(text, ' ')) AS w FROM documents),
    pairs AS (
      SELECT substr(w, CAST(i AS INT), 2) AS pair
      FROM words, LATERAL (SELECT unnest(range(1, len(w))) AS i) t
      WHERE len(w) >= 2)
    SELECT pair, count(*) AS n
    FROM pairs GROUP BY pair
    ORDER BY n DESC, pair
    LIMIT 50
    """,
)
def llm_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The counting pass a BPE tokenizer trainer runs each merge
    iteration, here over raw characters (iteration zero): adjacent
    symbol-pair frequencies across the corpus. All JVM-side —
    split → explode words → sequence+transform generates the pair list
    without Python — and the count is a plain partial-agg'd groupBy,
    so at 100 TB this is one shuffle of (pair, partial count) pairs,
    exactly how distributed BPE trainers scale the count step. The
    top-k is orderBy+limit (TakeOrderedAndProject, no global sort).

    Full BPE training iterates merge → re-count; each iteration is
    this same shape, so the one-pass query stands in for the family.
    """
    d = load(spark, sf_dir, "documents")
    words = d.select(F.explode(F.split(F.col("text"), " ")).alias("w")).filter(
        F.length("w") >= 2
    )
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(50)
    )


def _bigram_pairs(col):
    """Exploded adjacent-token pair structs ('0'=prev, '1'=cur): one
    arrays_zip of two shifted slices — O(1) array ops per document,
    no per-position slicing, no string re-concatenation, no positional
    self-join. Docs with <2 tokens zip to an empty array and explode
    away; NULL text propagates to NULL and is dropped by explode —
    both matching the SQL oracles' positional-join semantics."""
    toks = tokens(col)
    return F.explode(
        F.arrays_zip(
            F.slice(toks, 1, F.size(toks) - 1), F.slice(toks, 2, F.size(toks) - 1)
        )
    )


_NGRAM_LM_ORACLE = """
WITH words AS (
  SELECT doc_id, source, w, i
  FROM (SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents),
       LATERAL (SELECT unnest(ws) AS w, generate_subscripts(ws, 1) AS i)
),
big AS (SELECT a.doc_id, a.source, a.w AS prev, b.w AS cur
        FROM words a JOIN words b ON a.doc_id = b.doc_id AND b.i = a.i + 1),
uni AS (SELECT w, count(*) AS cw FROM words GROUP BY w),
bc AS (SELECT prev, cur, count(*) AS cbw FROM big GROUP BY prev, cur),
v AS (SELECT count(*) AS vocab FROM uni),
scored AS (
  SELECT big.doc_id, big.source,
         ln((bc.cbw + 1.0) / (uni.cw + v.vocab)) AS lp
  FROM big
  JOIN bc ON big.prev = bc.prev AND big.cur = bc.cur
  JOIN uni ON big.prev = uni.w
  CROSS JOIN v
),
per_doc AS (SELECT doc_id, source, avg(lp) AS doc_lp
            FROM scored GROUP BY doc_id, source)
SELECT source, count(*) AS n_docs, round(avg(doc_lp), 6) AS avg_logprob
FROM per_doc GROUP BY source
"""


@query(
    "llm_ngram_lm_score",
    "§2.11 count-based bigram LM scoring (the perplexity-filter shape)",
    _NGRAM_LM_ORACLE,
)
def llm_ngram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-style quality scoring with a count LM standing in
    for the neural one (CCNet's filtering stage): train bigram +
    unigram counts over the corpus IN the same job, then score every
    document's mean add-1-smoothed log P(w|prev) and aggregate by
    source. Everything is two token-key shuffles (the count tables)
    plus the score join — the exact distributed shape of real LM-based
    filtering, where the model lookup replaces the count join. The
    vocab size rides the plan as a broadcast 1-row aggregate (same
    in-plan-scalar discipline as TF-IDF's corpus N).

    At 100 TB: token-keyed count tables are Zipf-skewed — AQE skew
    handling (enabled session-wide) splits the hot-token partitions;
    per-doc then per-source averaging keeps group sizes bounded.

    Bigram occurrences come from one explode of
    arrays_zip(slice(toks, 1, n-1), slice(toks, 2, n-1)) — TWO array
    slices per DOCUMENT (not per position), no string re-concat,
    identical rows to the oracle's positional self-join but with NO
    (doc_id, i) shuffle. Measured at sf0.1: 0.8s vs 1.4s for the
    self-join form and 4.0s for a per-position word_shingles form.
    The plan stays lazy: the count-table branches re-scan the pruned
    3-column parquet, which is cheaper than materializing the
    corpus-sized bigram table at any scale.
    """
    d = load(spark, sf_dir, "documents").select("doc_id", "source", "text")
    big = d.select("doc_id", "source", _bigram_pairs(F.col("text")).alias("pz")).select(
        "doc_id",
        "source",
        F.col("pz")["0"].alias("prev"),
        F.col("pz")["1"].alias("cur"),
    )
    uni = (
        d.select(F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("cw"))
    )
    bc = big.groupBy("prev", "cur").agg(F.count("*").alias("cbw"))
    v = uni.agg(F.count("*").alias("vocab"))
    scored = (
        big.join(bc, ["prev", "cur"])
        .join(uni, F.col("prev") == uni.w)
        .crossJoin(F.broadcast(v))
        .select(
            "doc_id",
            "source",
            F.log((F.col("cbw") + 1.0) / (F.col("cw") + F.col("vocab"))).alias("lp"),
        )
    )
    per_doc = scored.groupBy("doc_id", "source").agg(F.avg("lp").alias("doc_lp"))
    return per_doc.groupBy("source").agg(
        F.count("*").alias("n_docs"), F.round(F.avg("doc_lp"), 6).alias("avg_logprob")
    )


REPEATED_PASSAGES_ORACLE = """
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS ws, len(string_split(text, ' ')) AS n_tokens
  FROM documents
),
idx AS (
  SELECT doc_id, ws, unnest(generate_series(1, n_tokens - 4)) AS i
  FROM base WHERE n_tokens >= 5
),
grams AS (
  SELECT doc_id, i - 1 AS s, array_to_string(ws[i:i+4], ' ') AS gram FROM idx
),
hot AS (SELECT gram FROM grams GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
flagged AS (SELECT g.doc_id, g.s FROM grams g JOIN hot USING (gram)),
cov AS (
  SELECT doc_id,
         sum(CASE WHEN prev IS NULL THEN 5 ELSE least(5, s - prev) END) AS covered
  FROM (SELECT doc_id, s, lag(s) OVER (PARTITION BY doc_id ORDER BY s) AS prev
        FROM flagged)
  GROUP BY doc_id
)
SELECT b.doc_id, CAST(b.n_tokens AS BIGINT) AS n_tokens,
       CAST(coalesce(c.covered, 0) AS BIGINT) AS covered_tokens,
       round(coalesce(c.covered, 0) * 1.0 / b.n_tokens, 6) AS repeated_frac
FROM base b LEFT JOIN cov c USING (doc_id)
"""


@query(
    "llm_repeated_passages",
    "§2.11 cross-doc repeated-passage coverage (dup-span fraction filter)",
    REPEATED_PASSAGES_ORACLE,
)
def llm_repeated_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The repeated-span filter signal (the RefinedWeb / "dedup spans"
    shape): fraction of each document's tokens lying inside a word
    5-gram that also occurs in ANOTHER document. Any exactly-repeated
    passage of >= 5 tokens shares a 5-gram at every offset, so span
    coverage is exact for passages at or above the window size.

    Scale design — deliberately NO pair join anywhere: (1) gram table
    is one row per (doc, offset), linear in corpus tokens, built
    JVM-side by word_shingles (transform over indices, no explode
    twice); (2) "hot" grams = one hash aggregate with an early
    distinct-doc count; (3) flagged offsets = equi semi-join on the
    gram string — a boilerplate gram shared by a million docs
    contributes candidates linear in its occurrences, never quadratic;
    (4) span-union coverage is a per-doc window over offsets
    (contribution = min(W, gap)), one shuffle on doc_id. At 100 TB the
    gram aggregate is the big shuffle; salting is unnecessary because
    the combine is algebraic (partial counts merge).
    """
    W = 5
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    base = d.select(
        "doc_id", F.size(tokens(F.col("text"))).cast("bigint").alias("n_tokens")
    )
    grams = d.select(
        "doc_id",
        F.posexplode(word_shingles(F.col("text"), W)).alias("s", "gram"),
    )
    hot = (
        grams.groupBy("gram")
        .agg(F.count_distinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .select("gram")
    )
    flagged = grams.join(hot, "gram", "left_semi")
    w = Window.partitionBy("doc_id").orderBy("s")
    cov = (
        flagged.withColumn("prev", F.lag("s").over(w))
        .withColumn(
            "contrib",
            F.when(F.col("prev").isNull(), F.lit(W)).otherwise(
                F.least(F.lit(W), F.col("s") - F.col("prev"))
            ),
        )
        .groupBy("doc_id")
        .agg(F.sum("contrib").alias("covered"))
    )
    return (
        base.join(cov, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col("covered"), F.lit(0)).cast("bigint").alias("covered_tokens"),
            F.round(
                F.coalesce(F.col("covered"), F.lit(0)) / F.col("n_tokens"), 6
            ).alias("repeated_frac"),
        )
    )


VOCAB_SIZE = 1000

VOCAB_COVERAGE_ORACLE = f"""
WITH toks AS (
  SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
),
counts AS (SELECT w, count(*) AS c FROM toks GROUP BY w),
vocab AS (SELECT w FROM counts ORDER BY c DESC, w LIMIT {VOCAB_SIZE}),
marked AS (
  SELECT t.source, CASE WHEN v.w IS NULL THEN 1 ELSE 0 END AS oov
  FROM toks t LEFT JOIN vocab v ON t.w = v.w
)
SELECT source, count(*) AS n_tokens,
       CAST(sum(oov) AS BIGINT) AS n_oov,
       round(sum(oov) * 1.0 / count(*), 6) AS oov_rate
FROM marked GROUP BY source
"""


@query(
    "llm_vocab_coverage",
    "§2.11 tokenizer vocab coverage (OOV rate per source at a fixed vocab budget)",
    VOCAB_COVERAGE_ORACLE,
)
def llm_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenizer-budget diagnostic: build the top-K vocabulary by
    corpus frequency (deterministic tie-break: count desc, token asc)
    and report each source's out-of-vocabulary token rate — the number
    that tells you whether a K-entry vocab serves every data source or
    starves the tail ones.

    Shape: one token explode feeding (a) the count table → top-K vocab
    (vocabulary-sized, localCheckpoint'd — it feeds the join AND would
    otherwise re-run the corpus pass) and (b) the per-token OOV mark
    via a BROADCAST left join against the K-row vocab — the corpus
    never shuffles; the only wide exchange is the token count. At
    100 TB the count table is Zipf-skewed and AQE's skew handling
    splits the hot tokens (session-wide conf)."""
    d = load(spark, sf_dir, "documents").select("source", "text")
    toks = d.select("source", F.explode(tokens(F.col("text"))).alias("w"))
    vocab = (
        toks.groupBy("w")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), "w")
        .limit(VOCAB_SIZE)
        .select("w")
        .transform(lineage_checkpoint)
    )
    marked = toks.join(
        F.broadcast(vocab.withColumn("in_vocab", F.lit(1))), "w", "left"
    ).select("source", F.when(F.col("in_vocab").isNull(), 1).otherwise(0).alias("oov"))
    return marked.groupBy("source").agg(
        F.count("*").alias("n_tokens"),
        F.sum("oov").cast("bigint").alias("n_oov"),
        F.round(F.sum("oov") / F.count("*"), 6).alias("oov_rate"),
    )


_PPL_BUCKETS_ORACLE = """
WITH words AS (
  SELECT doc_id, w, i
  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       LATERAL (SELECT unnest(ws) AS w, generate_subscripts(ws, 1) AS i)
),
big AS (SELECT a.doc_id, a.w AS prev, b.w AS cur
        FROM words a JOIN words b ON a.doc_id = b.doc_id AND b.i = a.i + 1),
uni AS (SELECT w, count(*) AS cw FROM words GROUP BY w),
bc AS (SELECT prev, cur, count(*) AS cbw FROM big GROUP BY prev, cur),
v AS (SELECT count(*) AS vocab FROM uni),
per_doc AS (
  SELECT big.doc_id, round(avg(ln((bc.cbw + 1.0) / (uni.cw + v.vocab))), 6) AS doc_lp
  FROM big
  JOIN bc ON big.prev = bc.prev AND big.cur = bc.cur
  JOIN uni ON big.prev = uni.w
  CROSS JOIN v
  GROUP BY big.doc_id
),
cuts AS (
  SELECT quantile_cont(doc_lp, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS cs
  FROM per_doc
)
SELECT 1 + len(list_filter(cuts.cs, c -> p.doc_lp > c)) AS bucket,
       count(*) AS n_docs,
       round(min(p.doc_lp), 6) AS min_lp,
       round(max(p.doc_lp), 6) AS max_lp,
       round(avg(d.n_chars), 2) AS avg_chars
FROM per_doc p CROSS JOIN cuts JOIN documents d USING (doc_id)
GROUP BY 1
"""


@query(
    "llm_perplexity_buckets",
    "§2.11 perplexity-decile bucketing via broadcast cutpoints",
    _PPL_BUCKETS_ORACLE,
)
def llm_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail split generalized to deciles: score
    every document with the count-LM mean logprob (same model as
    llm_ngram_lm_score), derive the 9 decile cutpoints as ONE 1-row
    exact-percentile aggregate, broadcast them, and assign buckets with
    a map-side F.aggregate over the cutpoint array — NO global sort /
    ntile, which is the difference between a scalable bucketing and a
    single-partition window at 100 TB. Per-doc scores are rounded to
    1e-6 BEFORE the cutpoint aggregate so both engines bucket identical
    operands; the percentile interpolation then sees identical inputs
    and is the same lo+(hi-lo)*frac arithmetic in both engines.

    At 100 TB the exact percentile becomes approx_percentile with
    documented error (bucket boundaries, not correctness); everything
    else is unchanged — score map-side, cutpoints broadcast, buckets a
    hash agg on ten keys."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text", "n_chars")
    big = d.select("doc_id", _bigram_pairs(F.col("text")).alias("pz")).select(
        "doc_id", F.col("pz")["0"].alias("prev"), F.col("pz")["1"].alias("cur")
    )
    uni = (
        d.select(F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("cw"))
    )
    bc = big.groupBy("prev", "cur").agg(F.count("*").alias("cbw"))
    v = uni.agg(F.count("*").alias("vocab"))
    per_doc = (
        big.join(bc, ["prev", "cur"])
        .join(uni, F.col("prev") == uni.w)
        .crossJoin(F.broadcast(v))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.avg(F.log((F.col("cbw") + 1.0) / (F.col("cw") + F.col("vocab")))), 6
            ).alias("doc_lp")
        )
    )
    cuts = per_doc.agg(
        F.percentile("doc_lp", F.array(*[F.lit(q / 10.0) for q in range(1, 10)])).alias("cs")
    )
    bucket = F.aggregate(
        F.col("cs"),
        F.lit(1),
        lambda acc, c: acc + F.when(F.col("doc_lp") > c, 1).otherwise(0),
    )
    return (
        per_doc.crossJoin(F.broadcast(cuts))  # 1-row cutpoint scalar
        .join(d.select("doc_id", "n_chars"), "doc_id")
        .select(bucket.alias("bucket"), "doc_lp", "n_chars")
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.min("doc_lp"), 6).alias("min_lp"),
            F.round(F.max("doc_lp"), 6).alias("max_lp"),
            F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        )
    )


_COOCCUR_ORACLE = """
WITH dt AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
n AS (SELECT count(DISTINCT doc_id) AS nd FROM documents),
dfreq AS (SELECT w, count(*) AS dfw FROM dt GROUP BY w),
freq AS (SELECT w, dfw FROM dfreq CROSS JOIN n WHERE dfw >= ceil(0.25 * nd)),
fdt AS (SELECT dt.doc_id, dt.w FROM dt JOIN freq USING (w)),
pairs AS (
  SELECT a.w AS w1, b.w AS w2, count(*) AS n_pair
  FROM fdt a JOIN fdt b ON a.doc_id = b.doc_id AND a.w < b.w
  GROUP BY a.w, b.w
)
SELECT p.w1, p.w2, p.n_pair,
       round(p.n_pair * 1.0 / n.nd, 6) AS support,
       round(p.n_pair * 1.0 * n.nd / (fa.dfw * fb.dfw), 6) AS lift
FROM pairs p
JOIN freq fa ON p.w1 = fa.w
JOIN freq fb ON p.w2 = fb.w
CROSS JOIN n
WHERE p.n_pair >= ceil(0.25 * n.nd)
"""


@query(
    "llm_token_cooccurrence",
    "§2.11 frequent token co-occurrence (apriori-pruned pair mining)",
    _COOCCUR_ORACLE,
)
def llm_token_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-itemset mining at pair depth (the first apriori level):
    document-frequency of every token, prune to tokens with df >= 25%
    of the corpus (the apriori monotonicity bound — no pair can beat
    the support of its rarest member), THEN self-join per doc_id to
    form candidate pairs, count, and keep pairs over the same support.
    Support and lift round identically in both engines because every
    input is an integer count.

    The pruning order is the scale story: the pair explode happens
    AFTER the broadcast semi-join against the frequent-token list, so
    per-doc pair width is bounded by the frequent vocabulary (k^2/2 on
    k surviving tokens), not raw document length — the difference
    between O(docs x k^2) and O(docs x len^2) at 100 TB. The df table
    itself is a map-side-combined hash agg on token."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    dt = d.select("doc_id", F.explode(F.array_distinct(tokens(F.col("text")))).alias("w"))
    n = d.agg(F.countDistinct("doc_id").alias("nd"))
    dfreq = dt.groupBy("w").agg(F.count("*").alias("dfw"))
    freq = (
        dfreq.crossJoin(F.broadcast(n))  # 1-row corpus-size scalar
        .where(F.col("dfw") >= F.ceil(0.25 * F.col("nd")))
        .select("w", "dfw", "nd")
    )
    fdt = dt.join(F.broadcast(freq.select("w")), "w").select("doc_id", "w")
    a, b = fdt.alias("a"), fdt.alias("b")
    pairs = (
        a.join(b, (F.col("a.doc_id") == F.col("b.doc_id")) & (F.col("a.w") < F.col("b.w")))
        .groupBy(F.col("a.w").alias("w1"), F.col("b.w").alias("w2"))
        .agg(F.count("*").alias("n_pair"))
    )
    fa = freq.select(F.col("w").alias("w1"), F.col("dfw").alias("df1"), "nd")
    fb = freq.select(F.col("w").alias("w2"), F.col("dfw").alias("df2"))
    return (
        pairs.join(F.broadcast(fa), "w1")
        .join(F.broadcast(fb), "w2")
        .where(F.col("n_pair") >= F.ceil(0.25 * F.col("nd")))
        .select(
            "w1",
            "w2",
            "n_pair",
            F.round(F.col("n_pair") / F.col("nd"), 6).alias("support"),
            F.round(F.col("n_pair") * F.col("nd") / (F.col("df1") * F.col("df2")), 6).alias(
                "lift"
            ),
        )
    )


_TOKEN_ENTROPY_SQL = """
WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
),
counts AS (
  SELECT source, w, count(*) AS c FROM tok GROUP BY source, w
)
SELECT source,
       cast(sum(c) AS BIGINT) AS n_tokens,
       count(*) AS n_types,
       round(count(*) * 1.0 / sum(c), 6) AS ttr,
       round(ln(sum(c)) - cast(sum(cast(round(c * ln(c), 8) AS DECIMAL(28,8)))
                               AS DOUBLE) / sum(c), 4) AS entropy
FROM counts
GROUP BY source
"""


@query(
    "llm_token_entropy",
    "§2.11 per-source token Shannon entropy + type-token ratio",
    _TOKEN_ENTROPY_SQL,
    doc="Lexical diversity per source: entropy and TTR of the token distribution.",
)
def llm_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix diversity metric: Shannon entropy of each source's
    token distribution, via the factored form
    H = ln(N) - (sum c*ln c)/N so only per-TYPE terms are computed
    (|vocab| rows per source, not |tokens|). The corpus explodes once,
    aggregates to (source, token) counts map-side-combinably, then the
    per-source rollup runs on the small counts table.

    Determinism: c and N are exact bigints; each c*ln(c) double term
    is rounded to 8 decimals and decimal-cast so the per-source sum is
    exact regardless of partial-aggregation order (the q9 cent-flip
    discipline). Type-token ratio is a ratio of exact integers.
    """
    d = load(spark, sf_dir, "documents")
    counts = (
        d.select("source", F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    term = F.round(F.col("c") * F.log(F.col("c")), 8).cast("decimal(28,8)")
    return counts.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.round(F.count(F.lit(1)) / F.sum("c"), 6).alias("ttr"),
        F.round(
            F.log(F.sum("c")) - F.sum(term).cast("double") / F.sum("c"), 4
        ).alias("entropy"),
    )


_NGRAM_NOVELTY_SQL = """
WITH words AS (
  SELECT doc_id,
         CASE WHEN substr(md5(text), 1, 1) BETWEEN '0' AND 'b' THEN 'train'
              WHEN substr(md5(text), 1, 1) IN ('c', 'd') THEN 'val'
              ELSE 'test' END AS split,
         string_split(text, ' ') AS ws
  FROM documents
),
w AS (SELECT doc_id, split, unnest(ws) AS w, generate_subscripts(ws, 1) AS i
      FROM words),
sh AS (SELECT DISTINCT a.split, a.w || ' ' || b.w || ' ' || c.w AS g
       FROM w a JOIN w b ON a.doc_id = b.doc_id AND b.i = a.i + 1
                JOIN w c ON a.doc_id = c.doc_id AND c.i = a.i + 2),
tr AS (SELECT g FROM sh WHERE split = 'train'),
te AS (SELECT g FROM sh WHERE split = 'test')
SELECT (SELECT count(*) FROM tr) AS n_train_grams,
       (SELECT count(*) FROM te) AS n_test_grams,
       (SELECT count(*) FROM te WHERE g NOT IN (SELECT g FROM tr)) AS n_novel,
       round((SELECT count(*) FROM te WHERE g NOT IN (SELECT g FROM tr)) * 1.0
             / (SELECT count(*) FROM te), 6) AS novelty_rate
"""


@query(
    "llm_ngram_novelty",
    "§2.11 test-vs-train 3-gram novelty (generalization-gap metric)",
    _NGRAM_NOVELTY_SQL,
    doc="Fraction of distinct test-split 3-grams unseen in the train split.",
)
def llm_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generalization-gap probe: how many distinct 3-grams of the
    held-out (content-hash) test split never occur in the train split.
    High novelty = the eval set actually exercises unseen text; near
    zero = the split leaks (the complement of the decontamination
    check).

    Shape at scale: one corpus explode into (split, gram), distinct
    per split (shuffle on gram), then a LEFT ANTI join test-vs-train
    on the gram key — the same key the distinct just shuffled on, so
    the exchange is reused. The three counts ride one plan as
    broadcast 1-row aggregates; no driver-side counting.
    """
    d = load(spark, sf_dir, "documents")
    h = F.substring(F.md5(F.col("text")), 1, 1)
    split = (
        F.when(h.between("0", "b"), "train").when(h.isin("c", "d"), "val").otherwise("test")
    )
    grams = (
        d.select(split.alias("split"), F.explode(word_shingles(F.col("text"), 3)).alias("g"))
        .filter(F.col("split") != "val")
        .distinct()
    )
    tr = grams.filter(F.col("split") == "train").select("g")
    te = grams.filter(F.col("split") == "test").select("g")
    novel = te.join(tr, "g", "left_anti")
    n_tr = tr.agg(F.count(F.lit(1)).alias("n_train_grams"))
    n_te = te.agg(F.count(F.lit(1)).alias("n_test_grams"))
    n_nv = novel.agg(F.count(F.lit(1)).alias("n_novel"))
    return (
        n_tr.crossJoin(F.broadcast(n_te))
        .crossJoin(F.broadcast(n_nv))
        .select(
            "n_train_grams",
            "n_test_grams",
            "n_novel",
            F.round(F.col("n_novel") / F.col("n_test_grams"), 6).alias("novelty_rate"),
        )
    )


_ROUGE_SQL = """
WITH toks AS (
  SELECT doc_id, list_distinct(string_split(text, ' ')) AS ws
  FROM documents
),
pairs AS (
  SELECT a.doc_id AS ref_id, b.doc_id AS cand_id,
         len(a.ws) AS n_ref, len(b.ws) AS n_cand,
         len(list_intersect(a.ws, b.ws)) AS ov
  FROM toks a JOIN toks b ON b.doc_id = a.doc_id + 1
)
SELECT ref_id, cand_id, n_ref, n_cand, ov,
       round(ov * 1.0 / n_cand, 6) AS precision_1,
       round(ov * 1.0 / n_ref, 6) AS recall_1,
       CASE WHEN ov = 0 THEN 0.0
            ELSE round(2.0 * ov / (n_ref + n_cand), 6) END AS f1
FROM pairs
"""


@query(
    "llm_rouge_unigram",
    "§2.11 ROUGE-1 style unigram-overlap P/R/F1 between document pairs",
    _ROUGE_SQL,
    doc="Set-unigram precision/recall/F1 for adjacent doc pairs.",
)
def llm_rouge_unigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The eval-side text metric (summarization/NLG scoring shape):
    distinct-unigram overlap precision, recall, and F1 per
    (reference, candidate) pair — here adjacent doc ids stand in for
    the usual reference/system pairing. With distinct-token sets,
    F1 = 2*ov/(|ref|+|cand|) exactly (the harmonic mean collapses),
    so every metric is a single division of exact integers —
    deterministic at any partitioning.

    Scale shape: tokenize+distinct is map-side; ONE equi-join on the
    pairing key (doc_id+1); array_intersect runs inside codegen per
    pair. A real eval harness joins on an explicit pairing table —
    same plan, different key.
    """
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.array_distinct(tokens(F.col("text"))).alias("ws"))
    a, b = toks.alias("a"), toks.alias("b")
    ov = F.size(F.array_intersect(F.col("a.ws"), F.col("b.ws")))
    n_ref, n_cand = F.size(F.col("a.ws")), F.size(F.col("b.ws"))
    return a.join(b, F.col("b.doc_id") == F.col("a.doc_id") + 1).select(
        F.col("a.doc_id").alias("ref_id"),
        F.col("b.doc_id").alias("cand_id"),
        n_ref.alias("n_ref"),
        n_cand.alias("n_cand"),
        ov.alias("ov"),
        F.round(ov / n_cand, 6).alias("precision_1"),
        F.round(ov / n_ref, 6).alias("recall_1"),
        F.when(ov == 0, F.lit(0.0))
        .otherwise(F.round(2.0 * ov / (n_ref + n_cand), 6))
        .alias("f1"),
    )


_WINNOW_W = 4  # winnowing window: guarantee-detect matches >= w+k-1 tokens


_WINNOW_SQL = f"""
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
w AS (SELECT doc_id, unnest(ws) AS t, generate_subscripts(ws, 1) AS i FROM words),
sh AS (
  SELECT a.doc_id, a.i,
         md5(a.t || ' ' || b.t || ' ' || c.t) AS th
  FROM w a JOIN w b ON a.doc_id = b.doc_id AND b.i = a.i + 1
           JOIN w c ON a.doc_id = c.doc_id AND c.i = a.i + 2
),
win AS (
  SELECT doc_id, i,
         count(*) OVER (PARTITION BY doc_id) AS m,
         min(th) OVER (PARTITION BY doc_id ORDER BY i
                       ROWS BETWEEN CURRENT ROW AND {_WINNOW_W - 1} FOLLOWING)
           AS fp
  FROM sh
),
fps AS (
  SELECT DISTINCT doc_id, fp FROM win WHERE i <= m - {_WINNOW_W} + 1
),
df AS (SELECT fp, count(*) AS nd FROM fps GROUP BY fp)
SELECT fps.doc_id, count(*) AS n_fp,
       CAST(sum(CASE WHEN df.nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
       round(sum(CASE WHEN df.nd > 1 THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
         AS shared_frac
FROM fps JOIN df ON fps.fp = df.fp
GROUP BY fps.doc_id
"""


@query(
    "llm_winnowing_fingerprint",
    "§2.11 winnowing fingerprints (MOSS): window-min shingle hashes",
    _WINNOW_SQL,
    doc="Per-doc winnowed fingerprint count and cross-doc shared fraction.",
)
def llm_winnowing_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (Schleimer/Wilkerson/Aiken, the MOSS algorithm): hash
    every positional 3-gram, slide a window of _WINNOW_W=4 hashes, keep each
    window's MINIMUM — the selected fingerprints are guaranteed to
    catch any match of length >= w+k-1 tokens while sampling only
    ~2/(w+1) of the hashes. The shared_frac column is the payoff:
    the fraction of a doc's fingerprints seen in other docs — the
    plagiarism/near-dup signal.

    Both engines compute it identically as windows over exploded
    (doc_id, position, md5) rows — per-doc partitions, bounded by
    document length. The fingerprint document-frequency join shuffles
    on the fingerprint key the distinct already produced. md5 hex
    strings order lexicographically the same everywhere, so the
    window minima are portable.
    """
    d = load(spark, sf_dir, "documents")
    # Optimization r14 (guide §2.5 input skew): the corpus ships as ONE
    # parquet file/row group, so the shingle explode + md5 (the bulk of
    # the op) ran in a single scan task. Repartition by doc_id at the
    # explode-sizing floor BEFORE the explode — the per-doc windows
    # then reuse this exact partitioning (no extra exchange). At real
    # scale the scan is already parallel and this is skipped.
    from spark_lineage_spark.operators.dedup import (
        est_scan_partitions,
        explode_partitions,
    )

    npart = explode_partitions(d)
    if npart > est_scan_partitions(d):
        d = d.repartition(npart, "doc_id")
    sh = d.select(
        "doc_id", F.posexplode(word_shingles(F.col("text"), 3)).alias("i", "s")
    ).select("doc_id", "i", F.md5(F.col("s").cast("binary")).alias("th"))
    w_cnt = Window.partitionBy("doc_id")
    w_min = (
        Window.partitionBy("doc_id").orderBy("i").rowsBetween(0, _WINNOW_W - 1)
    )
    fps = (
        sh.withColumn("m", F.count(F.lit(1)).over(w_cnt))
        .withColumn("fp", F.min("th").over(w_min))
        .filter(F.col("i") <= F.col("m") - _WINNOW_W)
        .select("doc_id", "fp")
        .distinct()
    )
    df_t = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("nd"))
    shared = F.sum(F.when(F.col("nd") > 1, 1).otherwise(0))
    return (
        fps.join(df_t, "fp")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_fp"),
            shared.cast("bigint").alias("n_shared"),
            F.round(shared / F.count(F.lit(1)), 6).alias("shared_frac"),
        )
    )


_PREF_PAIRS_SQL = """
WITH scored AS (
  SELECT doc_id, source,
         len(list_distinct(string_split(text, ' '))) * 1000000
           + len(string_split(text, ' ')) AS score
  FROM documents
),
ranked AS (
  SELECT doc_id, source, score,
         row_number() OVER (PARTITION BY source ORDER BY score DESC, doc_id)
           AS r_top,
         row_number() OVER (PARTITION BY source ORDER BY score ASC, doc_id DESC)
           AS r_bot
  FROM scored
)
SELECT t.source, t.doc_id AS chosen_id, b.doc_id AS rejected_id,
       t.score AS chosen_score, b.score AS rejected_score,
       t.score - b.score AS margin
FROM ranked t JOIN ranked b
  ON t.source = b.source AND t.r_top = b.r_bot
WHERE t.r_top <= 3 AND t.doc_id <> b.doc_id AND t.score > b.score
"""


@query(
    "llm_preference_pairs",
    "§2.11 preference-pair construction (chosen/rejected by quality rank)",
    _PREF_PAIRS_SQL,
    doc="Per-source top-3 vs bottom-3 (chosen, rejected) training pairs.",
)
def llm_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alignment-data prep: build (chosen, rejected) preference pairs
    per source by pairing the k highest-quality documents with the k
    lowest, positionally (best vs worst, 2nd-best vs 2nd-worst, ...)
    — the standard construction for DPO/RM training sets when graded
    responses share a prompt/source bucket.

    The quality score is integer-exact (distinct-token count scaled +
    token count as tiebreaker), so ranks — and therefore pair
    membership — cannot drift across engines or partitionings; the
    mirrored bottom rank uses the exact inverse sort with doc_id
    DESC so r_top and r_bot are true reverses of each other. Degenerate
    pairs (same doc, or zero margin when a source has <2k docs or tied
    scores) are filtered. One shuffle on source for both window
    passes; the pairing join is rank-positional on the tiny ranked
    projection.
    """
    d = load(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    scored = d.select(
        "doc_id",
        "source",
        (F.size(F.array_distinct(toks)) * 1_000_000 + F.size(toks)).alias("score"),
    )
    w_top = Window.partitionBy("source").orderBy(F.desc("score"), "doc_id")
    w_bot = Window.partitionBy("source").orderBy(F.asc("score"), F.desc("doc_id"))
    ranked = scored.withColumn("r_top", F.row_number().over(w_top)).withColumn(
        "r_bot", F.row_number().over(w_bot)
    )
    t = ranked.alias("t")
    b = ranked.alias("b")
    return (
        t.join(
            b,
            (F.col("t.source") == F.col("b.source"))
            & (F.col("t.r_top") == F.col("b.r_bot")),
        )
        .filter(
            (F.col("t.r_top") <= 3)
            & (F.col("t.doc_id") != F.col("b.doc_id"))
            & (F.col("t.score") > F.col("b.score"))
        )
        .select(
            F.col("t.source").alias("source"),
            F.col("t.doc_id").alias("chosen_id"),
            F.col("b.doc_id").alias("rejected_id"),
            F.col("t.score").alias("chosen_score"),
            F.col("b.score").alias("rejected_score"),
            (F.col("t.score") - F.col("b.score")).alias("margin"),
        )
    )


_TOP_PCT_SQL = """
WITH scored AS (
  SELECT doc_id, source,
         len(list_distinct(string_split(text, ' '))) * 1000000
           + len(string_split(text, ' ')) AS score
  FROM documents
),
ranked AS (
  SELECT doc_id, source, score,
         row_number() OVER (PARTITION BY source ORDER BY score DESC, doc_id)
           AS rnk,
         count(*) OVER (PARTITION BY source) AS n_src
  FROM scored
)
SELECT source, count(*) AS n_kept, min(score) AS min_kept_score,
       max(n_src) AS n_source_docs
FROM ranked
WHERE rnk * 10 <= n_src
GROUP BY source
"""


@query(
    "llm_top_percent_per_source",
    "§2.11 keep the top 10% of documents per source by quality rank",
    _TOP_PCT_SQL,
    doc="Dynamic per-group top-N%: rank <= n/10, integer-exact cutoff.",
)
def llm_top_percent_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentage-based quality culling — 'keep the best 10% of each
    source' — where the cutoff COUNT differs per group: rank and
    group size come from one window pass and the keep test is the
    integer inequality rnk*10 <= n (no float percentage, no
    per-group ntile). The quality score is the integer-exact lexical
    score shared with llm_preference_pairs, so membership at the
    boundary cannot drift. One shuffle on source; the output is the
    per-source audit summary (kept count + score cutoff).
    """
    d = load(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    scored = d.select(
        "doc_id",
        "source",
        (F.size(F.array_distinct(toks)) * 1_000_000 + F.size(toks)).alias("score"),
    )
    w_rank = Window.partitionBy("source").orderBy(F.desc("score"), "doc_id")
    w_n = Window.partitionBy("source")
    ranked = scored.withColumn("rnk", F.row_number().over(w_rank)).withColumn(
        "n_src", F.count(F.lit(1)).over(w_n)
    )
    return (
        ranked.filter(F.col("rnk") * 10 <= F.col("n_src"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.min("score").alias("min_kept_score"),
            F.max("n_src").alias("n_source_docs"),
        )
    )


# ---------------------------------------------------------------------------
# URL / domain provenance (the per-domain pretraining-pipeline signal)
# ---------------------------------------------------------------------------

# Deterministic synthetic URLs: the fixture has no URL column, so each
# doc derives one from (source, doc_id) with doc_id%4 picking a messy
# shape (mixed-case host, www, default port, tracking params, trailing
# slash, fragment). The OPERATOR under test is the normalization — the
# construction is just reproducible input, spelled identically in the
# oracle.
_URL_RAW_SPARK = (
    "CASE doc_id % 4 "
    " WHEN 0 THEN concat('HTTPS://WWW.', source, '.Example.COM/docs/', doc_id,"
    "   '?utm_source=feed&ref=kept&utm_campaign=x#frag') "
    " WHEN 1 THEN concat('http://', source, '.example.com:80/docs/', doc_id, '/') "
    " WHEN 2 THEN concat('https://', source, '.Example.com:443/docs/', doc_id,"
    "   '?b=2&a=1') "
    " ELSE concat('https://cdn.', source, '.example.com/docs/', doc_id, '#top') "
    "END"
)
# identical construction in DuckDB (|| instead of concat-varargs)
_URL_RAW_DUCK = """
CASE doc_id % 4
  WHEN 0 THEN 'HTTPS://WWW.' || source || '.Example.COM/docs/' || doc_id
              || '?utm_source=feed&ref=kept&utm_campaign=x#frag'
  WHEN 1 THEN 'http://' || source || '.example.com:80/docs/' || doc_id || '/'
  WHEN 2 THEN 'https://' || source || '.Example.com:443/docs/' || doc_id
              || '?b=2&a=1'
  ELSE 'https://cdn.' || source || '.example.com/docs/' || doc_id || '#top'
END
"""

_URL_NORM_ORACLE = f"""
WITH raw AS (SELECT doc_id, {_URL_RAW_DUCK} AS url FROM documents),
parts AS (
  SELECT doc_id, url,
         lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
         regexp_replace(
           lower(regexp_replace(regexp_extract(url, '://([^/?#]+)', 1),
                                ':[0-9]+$', '')),
           '^www\\.', '') AS host,
         regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1) AS path_raw,
         regexp_extract(url, '\\?([^#]*)', 1) AS qs
  FROM raw
),
norm AS (
  SELECT doc_id, url, scheme, host,
         CASE WHEN path_raw IN ('', '/') THEN '/'
              ELSE regexp_replace(path_raw, '/$', '') END AS path,
         array_to_string(
           list_sort(list_filter(string_split(qs, '&'),
             x -> x <> '' AND NOT starts_with(x, 'utm_')
                  AND NOT starts_with(x, 'fbclid'))), '&') AS clean_qs,
         CASE WHEN regexp_extract(host, '([^.]+\\.[^.]+\\.[^.]+)$', 1) = ''
              THEN host
              ELSE regexp_extract(host, '([^.]+\\.[^.]+\\.[^.]+)$', 1)
         END AS domain
  FROM parts
)
SELECT doc_id, url,
       scheme || '://' || host || path
         || CASE WHEN clean_qs <> '' THEN '?' || clean_qs ELSE '' END
         AS canonical_url,
       domain
FROM norm
"""


def _url_parts(d: DataFrame) -> DataFrame:
    """(doc_id, url, scheme, host, path, clean_qs, domain) — shared by
    the normalize battery and the per-domain dedup rollup."""
    raw = d.select("doc_id", "text", F.expr(_URL_RAW_SPARK).alias("url"))
    host = F.regexp_replace(
        F.lower(
            F.regexp_replace(
                F.regexp_extract("url", "://([^/?#]+)", 1), ":[0-9]+$", ""
            )
        ),
        r"^www\.",
        "",
    )
    path_raw = F.regexp_extract("url", "^[A-Za-z]+://[^/?#]+([^?#]*)", 1)
    qs = F.regexp_extract("url", r"\?([^#]*)", 1)
    parts = raw.select(
        "doc_id",
        "text",
        "url",
        F.lower(F.regexp_extract("url", "^([A-Za-z]+)://", 1)).alias("scheme"),
        host.alias("host"),
        F.when(path_raw.isin("", "/"), "/")
        .otherwise(F.regexp_replace(path_raw, "/$", ""))
        .alias("path"),
        F.array_join(
            F.array_sort(
                F.filter(
                    F.split(qs, "&"),
                    lambda x: (x != "")
                    & ~x.startswith("utm_")
                    & ~x.startswith("fbclid"),
                )
            ),
            "&",
        ).alias("clean_qs"),
    )
    reg = F.regexp_extract("host", r"([^.]+\.[^.]+\.[^.]+)$", 1)
    return parts.withColumn(
        "domain", F.when(reg == "", F.col("host")).otherwise(reg)
    )


@query(
    "llm_url_domain_normalize",
    "§2.11 URL canonicalization + registered-domain extraction",
    _URL_NORM_ORACLE,
)
def llm_url_domain_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL normalization, the first step of every provenance-aware
    pretraining pipeline: lowercase scheme+host, strip www. and the
    (default) port, collapse the trailing slash, drop the fragment,
    and drop tracking params (utm_*, fbclid) while keeping the rest
    SORTED — so 'same page, different tracking link' collapses to one
    canonical key. Domain = last three host labels (the registrable
    unit for *.example.com-style hosts; falls back to the whole host).

    All built-in string/array expressions — JVM-side, whole-stage
    codegen, map-only (zero shuffles: .explain shows a single Project
    over the scan). At 100 TB this runs as a projection inside the
    ingest scan at IO speed."""
    return _url_parts(load(spark, sf_dir, "documents")).select(
        "doc_id",
        "url",
        F.concat(
            F.col("scheme"),
            F.lit("://"),
            F.col("host"),
            F.col("path"),
            F.when(
                F.col("clean_qs") != "", F.concat(F.lit("?"), F.col("clean_qs"))
            ).otherwise(F.lit("")),
        ).alias("canonical_url"),
        "domain",
    )


_PER_DOMAIN_ORACLE = f"""
WITH raw AS (SELECT doc_id, text, {_URL_RAW_DUCK} AS url FROM documents),
hosts AS (
  SELECT doc_id, text,
         regexp_replace(
           lower(regexp_replace(regexp_extract(url, '://([^/?#]+)', 1),
                                ':[0-9]+$', '')),
           '^www\\.', '') AS host
  FROM raw
),
docs AS (
  SELECT doc_id, sha256(text) AS sha,
         CASE WHEN regexp_extract(host, '([^.]+\\.[^.]+\\.[^.]+)$', 1) = ''
              THEN host
              ELSE regexp_extract(host, '([^.]+\\.[^.]+\\.[^.]+)$', 1)
         END AS domain
  FROM hosts
),
sha_domains AS (
  SELECT sha, count(DISTINCT domain) AS n_domains FROM docs GROUP BY sha
)
SELECT d.domain,
       count(*) AS n_docs,
       count(DISTINCT d.sha) AS n_unique,
       count(*) - count(DISTINCT d.sha) AS n_intra_dups,
       round((count(*) - count(DISTINCT d.sha)) * 1.0 / count(*), 4)
         AS dup_rate,
       CAST(sum(CASE WHEN s.n_domains > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_cross_domain_docs
FROM docs d JOIN sha_domains s ON d.sha = s.sha
GROUP BY d.domain
"""


@query(
    "llm_dedup_per_domain",
    "§2.11 per-domain dedup rollup (intra-domain dup rate + cross-domain leakage)",
    _PER_DOMAIN_ORACLE,
)
def llm_dedup_per_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-domain dedup battery: for every registered domain,
    how many docs, how many unique texts (intra-domain exact-dup
    rate — boilerplate-heavy domains jump out), and how many of its
    docs also appear verbatim under ANOTHER domain (mirror/syndication
    leakage — the signal that drives domain-level downweighting in
    pretraining mixes).

    Shape: content hash per doc (map-only), one shuffle on sha for the
    distinct-domain count (uniform key, no skew), then the doc table
    re-joins the per-sha counts on the same uniform sha key (equi-join,
    shuffle-sized by doc count — per-sha counts are doc-count-sized so
    they are NOT broadcast), then a groupBy on domain (bounded by the
    domain universe, partial-agg friendly). No pair join anywhere —
    exact dedup machinery reused at domain granularity, linear at
    100 TB."""
    parts = _url_parts(load(spark, sf_dir, "documents"))
    docs = parts.select(
        "doc_id",
        "domain",
        F.sha2(F.col("text").cast("binary"), 256).alias("sha"),
    )
    sha_domains = docs.groupBy("sha").agg(
        F.countDistinct("domain").alias("n_domains")
    )
    return (
        docs.join(sha_domains, "sha")
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("sha").alias("n_unique"),
            (F.count(F.lit(1)) - F.countDistinct("sha")).alias("n_intra_dups"),
            F.round(
                (F.count(F.lit(1)) - F.countDistinct("sha"))
                / F.count(F.lit(1)),
                4,
            ).alias("dup_rate"),
            F.sum(F.when(F.col("n_domains") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_cross_domain_docs"),
        )
    )


# Policy wordlist for the blocklist filter: terms chosen from the
# fixture vocabulary so flagged counts are nonzero at every SF. A real
# pipeline broadcasts a large list (or an Aho-Corasick automaton in a
# pandas UDF); membership below stays JVM-side.
BLOCKLIST_TERMS = ("slow", "big")
# flag rule: blocked/token ratio > 4%, tested as the exact integer
# cross-multiplication 25*hits > n_tokens — no per-doc float division
BLOCK_FLAG_NUM, BLOCK_FLAG_DEN = 25, 1


@query(
    "llm_blocklist_filter",
    "§2.11 blocklist/policy filter (wordlist hit rates per source, integer flag rule)",
    f"""
    WITH scored AS (
      SELECT source,
             len(list_filter(string_split(text, ' '),
                             t -> t IN {BLOCKLIST_TERMS!r})) AS hits,
             len(string_split(text, ' ')) AS n_tokens
      FROM documents WHERE text IS NOT NULL
    )
    SELECT source,
           count(*) AS n_docs,
           count(CASE WHEN {BLOCK_FLAG_NUM} * hits > {BLOCK_FLAG_DEN} * n_tokens
                 THEN 1 END) AS n_flagged,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(sum(hits) AS BIGINT) AS blocked_tokens,
           round(sum(hits) * 1.0 / sum(n_tokens), 6) AS corpus_block_rate
    FROM scored
    GROUP BY source
    """,
)
def llm_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The policy-filter stage every training corpus passes through
    (NSFW / toxicity wordlists before the model-based classifier
    llm_quality_classifier): per-token blocklist membership counted
    JVM-side with a filter-size HOF (no explode, no shuffle until the
    per-source rollup), a per-doc flag decided by the EXACT integer
    cross-multiplication 25*hits > n_tokens (rate > 4% with zero
    per-doc float divisions — engine-identical by construction), and
    one corpus rate from two exact integer sums. At 100 TB the scan is
    map-only and the rollup shuffles |sources| partial rows."""
    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = F.split("text", " ")
    hits = F.size(
        F.filter(toks, lambda t: t.isin(*BLOCKLIST_TERMS))
    )
    scored = d.select(
        "source",
        hits.alias("hits"),
        F.size(toks).alias("n_tokens"),
    )
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(
            F.when(
                F.lit(BLOCK_FLAG_NUM) * F.col("hits")
                > F.lit(BLOCK_FLAG_DEN) * F.col("n_tokens"),
                1,
            )
        ).alias("n_flagged"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.sum("hits").cast("bigint").alias("blocked_tokens"),
        F.round(F.sum("hits") / F.sum("n_tokens"), 6).alias("corpus_block_rate"),
    )


HASH_EMB_DIMS = 8


@query(
    "llm_doc_hash_embedding",
    "§2.11 vocab-free document embedding via feature hashing (signed buckets, L2-normalized)",
    f"""
    WITH toks AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT) AS h
      FROM (SELECT doc_id,
                   unnest(list_filter(string_split(text, ' '), t -> len(t) > 0)) AS t
            FROM documents WHERE text IS NOT NULL)
    ),
    sums AS (
      SELECT doc_id, h % {HASH_EMB_DIMS} AS dim,
             sum(CASE WHEN (h >> 3) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM toks GROUP BY 1, 2
    ),
    dense AS (
      SELECT d.doc_id, dims.dim, coalesce(s.v, 0) AS v
      FROM (SELECT DISTINCT doc_id FROM toks) d
      CROSS JOIN (SELECT unnest(generate_series(0, {HASH_EMB_DIMS - 1})) AS dim) dims
      LEFT JOIN sums s ON s.doc_id = d.doc_id AND s.dim = dims.dim
    ),
    norms AS (
      SELECT doc_id, sqrt(sum(v * v)) AS nrm FROM dense GROUP BY doc_id
    )
    SELECT dense.doc_id, dim, round(v / nrm, 6) AS weight
    FROM dense JOIN norms ON dense.doc_id = norms.doc_id
    WHERE nrm > 0
    """,
)
def llm_doc_hash_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocab-free document featurization (the hashing trick —
    FastText / HashingTF's core idea) built PURELY from higher-order
    functions: each token's portable md5-derived 60-bit hash picks a
    signed bucket (dim = h mod 8 from the low bits, sign from bit 3),
    one array fold accumulates the 8-dim signed counts per document,
    and the vector is L2-normalized — ALL map-side with no computed
    shuffle, the ideal 100 TB shape for a featurization pass (compare
    _ml_features, which pays HashingTF + a shuffle; the only local
    exchange is the conditional input spread below). Hashes are the same md5 trick
    as SimHash/KMV, so DuckDB replays the embedding bit-for-bit: v and
    the norm are exact integers / sqrt of exact integers, and the
    single rounded division is engine-identical. Output is exploded to
    (doc_id, dim, weight) rows so the oracle compares scalars, not
    arrays."""
    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    # map-side means the per-token md5 fold runs wherever the scan
    # does — on the single-file fixture that was ONE task (optimization
    # r14, guide §2.5): spread at the explode-sizing floor; at real
    # scale the scan is already parallel and this is skipped
    from spark_lineage_spark.operators.dedup import (
        est_scan_partitions,
        explode_partitions,
    )

    npart = explode_partitions(d)
    if npart > est_scan_partitions(d):
        d = d.repartition(npart, "doc_id")
    hashes = F.expr(
        "transform(filter(split(text, ' '), t -> length(t) > 0),"
        " t -> cast(conv(substring(md5(cast(t AS BINARY)), 1, 15), 16, 10)"
        " AS BIGINT))"
    )
    vec = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0).cast("long"), HASH_EMB_DIMS),
        lambda acc, h: F.transform(
            acc,
            lambda x, i: x
            + F.when(
                h % HASH_EMB_DIMS == i.cast("long"),
                F.when(h.bitwiseAND(F.lit(8)) != 0, F.lit(1)).otherwise(F.lit(-1)),
            ).otherwise(F.lit(0)),
        ),
    )
    folded = d.select("doc_id", vec.alias("vec")).withColumn(
        "nrm",
        F.sqrt(F.aggregate("vec", F.lit(0.0), lambda a, x: a + x * x)),
    )
    return (
        folded.filter(F.col("nrm") > 0)
        .select("doc_id", "nrm", F.posexplode("vec").alias("dim", "v"))
        .select("doc_id", "dim", F.round(F.col("v") / F.col("nrm"), 6).alias("weight"))
    )


@query(
    "llm_quality_threshold_sweep",
    "§2.11 quality-filter threshold sweep (token-retention tuning curve)",
    """
    WITH m AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_words,
             len(list_filter(string_split(text, ' '),
                 t -> t IN ('the', 'a', 'of', 'and', 'to', 'in', 'is'))) AS n_stop
      FROM documents
    ), scored AS (
      SELECT doc_id, n_words, n_stop * 1000 // n_words AS stop_permille FROM m
    ), th(threshold) AS (VALUES (0), (30), (60), (90), (120), (150)),
    per_t AS (
      SELECT th.threshold,
             count(CASE WHEN stop_permille >= th.threshold THEN 1 END) AS docs_kept,
             CAST(coalesce(sum(CASE WHEN stop_permille >= th.threshold
                                    THEN n_words END), 0) AS BIGINT) AS tokens_kept
      FROM scored CROSS JOIN th
      GROUP BY th.threshold
    )
    SELECT threshold, docs_kept, tokens_kept,
           round(CAST(docs_kept AS DOUBLE)
                 / first_value(docs_kept) OVER w, 6) AS doc_retention,
           round(CAST(tokens_kept AS DOUBLE)
                 / first_value(tokens_kept) OVER w, 6) AS token_retention
    FROM per_t
    WINDOW w AS (ORDER BY threshold ROWS BETWEEN UNBOUNDED PRECEDING
                 AND UNBOUNDED FOLLOWING)
    """,
)
def llm_quality_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tuning curve a data team plots before committing to a
    quality cutoff: for each candidate threshold on a stopword-density
    score, how many documents and how many TOKENS survive (token
    retention is what the training-budget cares about, and it always
    falls slower than doc retention because long docs skew natural).
    Mirrors llm_dedup_threshold_sweep's shape for the quality axis.

    Score is integer per-mille (n_stop*1000 div n_words — Spark `div`
    == DuckDB `//` on non-negatives), so threshold comparisons are
    exact; retention fractions are the only doubles and they divide
    identical exact integers. The 6-row threshold table is
    broadcast-cross-joined onto the scored docs: ONE scan of the
    corpus, one 6-key hash agg, no per-threshold rescan — at 100 TB
    the sweep costs the same as a single filter evaluation. Totals come
    from the threshold-0 row itself (the score is non-negative, so
    threshold 0 keeps everything) via a window over the 6-row agg
    result — not a second corpus scan."""
    d = load(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    scored = d.select(
        "doc_id",
        F.size(toks).alias("n_words"),
        marker_count(toks, ["the", "a", "of", "and", "to", "in", "is"]).alias("n_stop"),
    ).select(
        "doc_id",
        "n_words",
        F.expr("n_stop * 1000 div n_words").alias("stop_permille"),
    )
    th = spark.createDataFrame(
        [(t,) for t in (0, 30, 60, 90, 120, 150)], "threshold int"
    )
    kept = F.col("stop_permille") >= F.col("threshold")
    per_t = (
        scored.join(F.broadcast(th))
        .groupBy("threshold")
        .agg(
            F.count(F.when(kept, 1)).alias("docs_kept"),
            F.coalesce(F.sum(F.when(kept, F.col("n_words"))), F.lit(0)).alias(
                "tokens_kept"
            ),
        )
    )
    # threshold 0 keeps every doc (the score is non-negative), so the
    # totals ARE the first row — a window over the 6-row agg result,
    # not a second corpus scan
    w = Window.orderBy("threshold").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return per_t.select(
        "threshold",
        "docs_kept",
        "tokens_kept",
        F.round(
            F.col("docs_kept").cast("double") / F.first("docs_kept").over(w), 6
        ).alias("doc_retention"),
        F.round(
            F.col("tokens_kept").cast("double") / F.first("tokens_kept").over(w), 6
        ).alias("token_retention"),
    )


@query(
    "llm_contrastive_negatives",
    "§2.11 contrastive negative sampling (hash-bucket blocked, deterministic rank)",
    """
    WITH nb AS (
      SELECT greatest(8, CAST(ceil(count(*) / 64.0) AS BIGINT)) AS n_buckets
      FROM documents
    ), d AS (
      SELECT doc_id, lang, source,
             CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                  AS BIGINT) % nb.n_buckets AS bucket
      FROM documents CROSS JOIN nb
    ), cand AS (
      SELECT a.doc_id, b.doc_id AS neg_id, b.source AS neg_source,
             CAST(concat('0x', substr(md5(CAST(a.doc_id AS VARCHAR) || ':' ||
                                       CAST(b.doc_id AS VARCHAR)), 1, 15))
                  AS BIGINT) AS h
      FROM d a JOIN d b
        ON a.lang = b.lang AND a.bucket = b.bucket
       AND a.source <> b.source AND a.doc_id <> b.doc_id
    ), ranked AS (
      SELECT doc_id, neg_id, neg_source,
             row_number() OVER (PARTITION BY doc_id ORDER BY h, neg_id)
               AS neg_rank
      FROM cand
    )
    SELECT doc_id, neg_rank, neg_id, neg_source
    FROM ranked WHERE neg_rank <= 3
    """,
)
def llm_contrastive_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-batch negative mining for contrastive training: every anchor
    document gets k=3 negatives drawn from same-language documents of
    a DIFFERENT source (so the pair is topically comparable but not a
    near-duplicate), selected by a deterministic pseudo-random rank —
    the md5 of the (anchor, candidate) pair — so the "sample" is
    reproducible run-over-run and engine-over-engine, no RNG state.
    The scale control is the hash-bucket block: candidates must share
    the anchor's md5 bucket, and the bucket count GROWS WITH THE
    CORPUS (greatest(8, ceil(n/64)), a one-row count broadcast into
    the plan), pinning expected block size at ~64 docs — so the
    blocked self-join generates |block|^2 pairs per (lang, bucket)
    and total pair work stays LINEAR in corpus size at any SF (one
    shuffle on the (lang, bucket) key, then a bounded per-anchor
    window). Anchors in blocks with fewer than 3 eligible negatives
    yield fewer rows — explicit, not padded."""
    docs = load(spark, sf_dir, "documents")
    nb = docs.agg(
        F.greatest(
            F.lit(8), F.ceil(F.count(F.lit(1)) / 64.0).cast("bigint")
        ).alias("n_buckets")
    )
    d = docs.crossJoin(F.broadcast(nb)).select(
        "doc_id",
        "lang",
        "source",
        (
            F.expr(
                "cast(conv(substring(md5(cast(cast(doc_id AS STRING) AS BINARY)),"
                " 1, 15), 16, 10) AS BIGINT)"
            )
            % F.col("n_buckets")
        ).alias("bucket"),
    )
    a = d.alias("a")
    b = d.alias("b")
    cand = (
        a.join(b, ["lang", "bucket"])
        .filter(
            (F.col("a.source") != F.col("b.source"))
            & (F.col("a.doc_id") != F.col("b.doc_id"))
        )
        .select(
            F.col("a.doc_id").alias("doc_id"),
            F.col("b.doc_id").alias("neg_id"),
            F.col("b.source").alias("neg_source"),
            F.expr(
                "cast(conv(substring(md5(cast(concat(cast(a.doc_id AS STRING), ':',"
                " cast(b.doc_id AS STRING)) AS BINARY)), 1, 15), 16, 10) AS BIGINT)"
            ).alias("h"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy("h", "neg_id")
    return (
        cand.withColumn("neg_rank", F.row_number().over(w))
        .filter(F.col("neg_rank") <= 3)
        .select("doc_id", "neg_rank", "neg_id", "neg_source")
    )


@query(
    "llm_rejection_sampling",
    "§2.11 quality-weighted rejection sampling (deterministic hash-uniform accept)",
    """
    WITH d AS (
      SELECT doc_id, source,
             least(1.0, n_chars / 400.0) AS accept_prob,
             CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':accept'),
                                      1, 15)) AS BIGINT) AS h
      FROM documents
    ), a AS (
      SELECT source, accept_prob,
             CASE WHEN h < floor(accept_prob * 1152921504606846976.0)
                  THEN 1 ELSE 0 END AS accepted
      FROM d
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(accepted) AS BIGINT) AS n_accepted,
           round(sum(accepted) / CAST(count(*) AS DOUBLE), 4) AS accept_rate,
           round(avg(accept_prob), 4) AS expected_rate
    FROM a GROUP BY source
    """,
)
def llm_rejection_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted subsampling without an RNG: each document is
    accepted with probability proportional to a quality proxy (length
    capped at 1.0) by comparing a 60-bit md5 hash of its id against
    floor(prob * 2^60) — an INTEGER threshold compare, so the sample
    is identical run-over-run, engine-over-engine, and under any
    repartitioning, unlike rand()-based sampling whose output depends
    on partition seeds (the reason sample_seeded is rows-only). This
    is how a 100 TB pipeline downsamples low-quality sources in one
    map-only pass while keeping the decision auditable: the
    accept/reject bit is a pure function of (doc_id, prob), so a
    re-run or a backfill reproduces the exact corpus, and per-source
    realized rates vs expected rates (reported side by side) audit
    the hash uniformity. floor() — not cast — because engines
    disagree on double->int rounding."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.least(F.lit(1.0), F.col("n_chars") / 400.0).alias("accept_prob"),
        F.expr(
            "cast(conv(substring(md5(cast(concat(cast(doc_id AS STRING), ':accept')"
            " AS BINARY)), 1, 15), 16, 10) AS BIGINT)"
        ).alias("h"),
    )
    accepted = F.when(
        F.col("h")
        < F.floor(F.col("accept_prob") * 1152921504606846976.0).cast("bigint"),
        1,
    ).otherwise(0)
    return (
        d.select("source", "accept_prob", accepted.alias("accepted"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("accepted").alias("n_accepted"),
            F.round(
                F.sum("accepted") / F.count(F.lit(1)).cast("double"), 4
            ).alias("accept_rate"),
            F.round(F.avg("accept_prob"), 4).alias("expected_rate"),
        )
    )


@query(
    "llm_span_corruption",
    "§2.11 T5-style span-corruption masks (deterministic hash-placed spans, map-only)",
    """
    WITH words AS (
      SELECT doc_id, w, i
      FROM (SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0)
                     AS ws
            FROM documents),
           LATERAL (SELECT unnest(ws) AS w, generate_subscripts(ws, 1) AS i)
    ), marked AS (
      SELECT doc_id, w, i,
             CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
                                       CAST(i AS VARCHAR)), 1, 15))
                  AS BIGINT) % 20 = 0 AS starts,
             (CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
                                        CAST(i AS VARCHAR)), 1, 15))
                   AS BIGINT) % 20 = 0)
             OR (i >= 2 AND
                 CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
                                          CAST(i - 1 AS VARCHAR)), 1, 15))
                      AS BIGINT) % 20 = 0)
             OR (i >= 3 AND
                 CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
                                          CAST(i - 2 AS VARCHAR)), 1, 15))
                      AS BIGINT) % 20 = 0) AS masked
      FROM words
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN starts THEN 1 ELSE 0 END) AS BIGINT) AS n_spans,
           CAST(sum(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
           round(sum(CASE WHEN masked THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 4) AS mask_rate,
           coalesce(string_agg(CASE WHEN masked THEN w END, ' ' ORDER BY i), '')
             AS target_text
    FROM marked GROUP BY doc_id
    """,
)
def llm_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-corruption target construction (the T5/UL2 pretraining
    objective): mask contiguous 3-token spans whose START positions
    are chosen by a deterministic hash (md5(doc_id:pos) % 20 == 0,
    ~15% expected corruption with overlap), and emit the
    denoising TARGET — the masked tokens in order. The scale trick is
    that span membership needs NO join or window: a position is
    masked iff a span STARTED at pos, pos-1, or pos-2, so the mask
    bit is a 3-term hash predicate evaluated per token — map-only,
    embarrassed-parallel, and reshuffle-proof (the mask depends only
    on (doc_id, position), so re-runs and backfills corrupt
    IDENTICAL spans — an RNG-based masker cannot replay). One
    shuffle total: the per-doc regroup that assembles counts and the
    order-pinned target string."""
    toks = (
        load(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.posexplode(
                F.expr("filter(split(text, ' '), t -> length(t) > 0)")
            ).alias("p0", "w"),
        )
        .select("doc_id", (F.col("p0") + 1).alias("i"), "w")
    )
    h = (
        lambda pos: F.expr(
            "cast(conv(substring(md5(cast(concat(cast(doc_id AS STRING), ':',"
            f" cast({pos} AS STRING)) AS BINARY)), 1, 15), 16, 10) AS BIGINT) % 20 = 0"
        )
    )
    marked = toks.select(
        "doc_id",
        "w",
        "i",
        h("i").alias("starts"),
        (
            h("i")
            | ((F.col("i") >= 2) & h("i - 1"))
            | ((F.col("i") >= 3) & h("i - 2"))
        ).alias("masked"),
    )
    return marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.when(F.col("starts"), 1).otherwise(0)).alias("n_spans"),
        F.sum(F.when(F.col("masked"), 1).otherwise(0)).alias("n_masked"),
        F.round(
            F.sum(F.when(F.col("masked"), 1).otherwise(0))
            / F.count(F.lit(1)).cast("double"),
            4,
        ).alias("mask_rate"),
        F.concat_ws(
            " ",
            F.array_sort(
                F.collect_list(
                    F.when(F.col("masked"), F.struct("i", "w")).otherwise(F.lit(None))
                )
            ).getField("w"),
        ).alias("target_text"),
    )


# Bounded greedy BPE rounds (full training iterates until the vocab
# budget; 4 rounds exercise the whole merge/re-count machinery).
_BPE_ROUNDS = 4
_BPE_D = "chr(31)"  # unit-separator delimiter, absent from any corpus text


def _bpe_apply_oracle() -> str:
    parts = [
        f"""
WITH wc AS (
  SELECT w, count(*) AS freq FROM (
    SELECT unnest(string_split(text, ' ')) AS w
    FROM documents WHERE text IS NOT NULL
  ) WHERE w <> '' GROUP BY w
),
r0 AS (SELECT regexp_replace(w, '(.)', '\\1' || {_BPE_D}, 'g') AS repr, freq
       FROM wc)"""
    ]
    for k in range(1, _BPE_ROUNDS + 1):
        parts.append(
            f""",
p{k} AS (
  SELECT sym, nxt, sum(freq) AS n
  FROM (
    SELECT freq, syms[i] AS sym, syms[i + 1] AS nxt
    FROM (SELECT freq, string_split(repr, {_BPE_D}) AS syms FROM r{k - 1}),
         LATERAL (SELECT unnest(generate_series(1, len(syms) - 2)) AS i)
  ) GROUP BY sym, nxt
),
m{k} AS (SELECT sym, nxt, n FROM p{k} ORDER BY n DESC, sym, nxt LIMIT 1),
r{k} AS (
  SELECT replace(repr,
                 (SELECT sym || {_BPE_D} || nxt || {_BPE_D} FROM m{k}),
                 (SELECT sym || nxt || {_BPE_D} FROM m{k})) AS repr, freq
  FROM r{k - 1}
)"""
        )
    selects = []
    for k in range(1, _BPE_ROUNDS + 1):
        selects.append(
            f"""
SELECT {k} AS round,
       (SELECT sym || nxt FROM m{k}) AS merged,
       (SELECT CAST(n AS BIGINT) FROM m{k}) AS pair_n,
       round(CAST(sum(freq * (length(repr) - length(replace(repr, {_BPE_D}, ''))))
                  AS DOUBLE) / sum(freq), 6) AS avg_tokens
FROM r{k}"""
        )
    return "".join(parts) + " " + " UNION ALL ".join(selects)


@query(
    "llm_bpe_apply_merges",
    "§2.11 BPE merge application: greedy top-pair merges applied over the "
    "weighted vocabulary (tokenizer-training rounds)",
    _bpe_apply_oracle(),
)
def llm_bpe_apply_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The half of BPE training llm_bpe_pair_counts stops short of
    (VERDICT r7 item 6): actually APPLYING merges. Four greedy rounds
    of (count adjacent symbol pairs → pick the most frequent, ties
    broken (count DESC, left, right) → merge it corpus-wide →
    re-count), reporting per round the chosen merge, its weighted
    count, and the resulting average tokens-per-word.

    Scales the way real distributed BPE trainers do: iteration runs
    over the WEIGHTED VOCABULARY (word, freq) — vocabulary-sized, not
    corpus-sized — so 100 TB of text costs one corpus pass to build
    word counts and then K vocab-sized rounds. Each round's chosen
    merge is a driver scalar (orderBy+limit(1), a bounded
    TakeOrderedAndProject — K collects of 1 row total), applied as a
    broadcast literal via non-regex ``replace``. Words are
    represented with a chr(31) delimiter after every symbol, which
    makes left-to-right non-overlapping ``replace`` EXACTLY the BPE
    merge rule (runs like 'l l l' merge to '(ll) l') and keeps the
    whole pipeline byte-replayable in DuckDB — the oracle re-runs all
    four rounds with the same argmax and replace semantics."""
    d = load(spark, sf_dir, "documents")
    delim = "\x1f"
    wc = (
        d.filter(F.col("text").isNotNull())
        .select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    repr_df = wc.select(
        F.regexp_replace("w", "(.)", "$1" + delim).alias("repr"), "freq"
    ).transform(lineage_checkpoint)

    # Optimization r15 (guide §7.3/§5 — driver-blocking jobs ARE the
    # cost here; 13 jobs → 6): (a) no per-round checkpoint — every
    # round's plan is ≤ _BPE_ROUNDS cheap literal replaces over the ONE
    # checkpointed vocabulary (lineage stays K-bounded; the corpus pass
    # is still materialized exactly once); (b) the K per-round
    # avg-tokens aggregations run as ONE union-by-round aggregation at
    # the end. Numerators/denominators are integer sums (freq × token
    # count), so the deferred grouping is bit-identical to the
    # per-round scalars it replaces.
    meta = []
    snapshots = []
    for k in range(1, _BPE_ROUNDS + 1):
        syms = F.split("repr", delim)
        pairs = repr_df.select(
            "freq",
            F.explode(
                F.arrays_zip(
                    F.slice(syms, 1, F.size(syms) - 2).alias("l"),
                    F.slice(syms, 2, F.size(syms) - 2).alias("r"),
                )
            ).alias("pr"),
        ).select("freq", F.col("pr.l").alias("sym"), F.col("pr.r").alias("nxt"))
        top = (
            pairs.groupBy("sym", "nxt")
            .agg(F.sum("freq").alias("n"))
            .orderBy(F.desc("n"), "sym", "nxt")
            .limit(1)
            .collect()[0]  # bounded-collect-ok: the argmax merge row
        )
        pat, rep = top.sym + delim + top.nxt + delim, top.sym + top.nxt + delim
        repr_df = repr_df.select(
            F.replace(F.col("repr"), F.lit(pat), F.lit(rep)).alias("repr"), "freq"
        )
        snapshots.append(repr_df.withColumn("round", F.lit(k)))
        meta.append((k, top.sym + top.nxt, top.n))
    n_tokens = F.length("repr") - F.length(
        F.replace(F.col("repr"), F.lit(delim), F.lit(""))
    )
    states = snapshots[0]
    for s in snapshots[1:]:
        states = states.unionByName(s)
    avgs = {
        r["round"]: r["avg_tokens"]
        for r in states.groupBy("round")
        .agg(
            F.round(
                F.sum(F.col("freq") * n_tokens).cast("double") / F.sum("freq"), 6
            ).alias("avg_tokens")
        )
        .collect()  # bounded-collect-ok: _BPE_ROUNDS scalar rows
    }
    out_rows = [(k, merged, n, avgs[k]) for k, merged, n in meta]
    return spark.createDataFrame(
        out_rows, "round int, merged string, pair_n long, avg_tokens double"
    )


_BACKOFF_ORACLE = """
WITH words AS (
  SELECT doc_id, source, w, i
  FROM (SELECT doc_id, source, string_split(text, ' ') AS ws
        FROM documents WHERE text IS NOT NULL),
       LATERAL (SELECT unnest(ws) AS w, generate_subscripts(ws, 1) AS i)
  WHERE w <> ''
),
train AS (SELECT * FROM words WHERE doc_id % 10 <> 0),
held AS (SELECT * FROM words WHERE doc_id % 10 = 0),
uni AS (SELECT w, count(*) AS cw FROM train GROUP BY w),
tot AS (SELECT count(*) AS n, count(DISTINCT w) AS v FROM train),
big AS (SELECT prev, cur, count(*) AS cbw FROM (
          SELECT a.w AS prev, b.w AS cur
          FROM train a JOIN train b ON a.doc_id = b.doc_id AND b.i = a.i + 1
        ) GROUP BY prev, cur),
hb AS (SELECT a.doc_id, a.source, a.w AS prev, b.w AS cur
       FROM held a JOIN held b ON a.doc_id = b.doc_id AND b.i = a.i + 1),
scored AS (
  SELECT hb.doc_id, hb.source,
         CASE WHEN big.cbw IS NOT NULL
              THEN ln(CAST(big.cbw AS DOUBLE) / up.cw)
              ELSE ln(CAST(0.4 AS DOUBLE) * (coalesce(uc.cw, 0)
                        + CAST(1 AS DOUBLE)) / (tot.n + tot.v))
         END AS lp,
         CASE WHEN big.cbw IS NULL THEN 1 ELSE 0 END AS backed_off
  FROM hb
  LEFT JOIN big ON hb.prev = big.prev AND hb.cur = big.cur
  LEFT JOIN uni up ON hb.prev = up.w
  LEFT JOIN uni uc ON hb.cur = uc.w
  CROSS JOIN tot
),
per_doc AS (
  SELECT doc_id, source, avg(lp) AS doc_lp, sum(backed_off) AS n_bo,
         count(*) AS n_big
  FROM scored GROUP BY doc_id, source
)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(doc_lp), 6) AS avg_logscore,
       round(CAST(sum(n_bo) AS DOUBLE) / sum(n_big), 6) AS backoff_rate
FROM per_doc GROUP BY source
"""


@query(
    "llm_ngram_backoff_score",
    "§2.11 stupid-backoff bigram LM scoring of held-out docs (train/apply split)",
    _BACKOFF_ORACLE,
)
def llm_ngram_backoff_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid backoff (Brants et al. 2007) — the score function
    production LM-based quality filters actually use at corpus scale,
    where Kneser-Ney's normalization isn't worth the extra passes:
    S(w|prev) = count(prev,w)/count(prev) when the bigram was seen in
    TRAINING, else 0.4 · Laplace-smoothed unigram. Unlike
    llm_ngram_lm_score (which scores the training corpus itself, so
    nothing ever backs off), this builds counts on 90% of docs and
    scores the HELD-OUT 10% — unseen bigrams genuinely take the
    backoff path, and the per-source backoff_rate quantifies domain
    mismatch. Counts tables are corpus-wide aggregates (one shuffle
    each), the scoring pass is two broadcast-sized left joins against
    them, and every score is ln of a ratio of exact integers (the
    backoff branch's 0.4/1 literals cast to DOUBLE in the oracle so
    its arithmetic is the double path the Spark side runs — the
    llm_ngram_kneser_ney decimal-quantization finding, hardened here
    preemptively; backoff terms are ~0.1% of mass on this fixture, so
    values are unchanged at every probed SF)."""
    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    words = d.select(
        "doc_id",
        "source",
        F.posexplode(F.split("text", " ")).alias("i", "w"),
    ).filter(F.col("w") != "")
    train = words.filter(F.col("doc_id") % 10 != 0).transform(lineage_checkpoint)
    held = words.filter(F.col("doc_id") % 10 == 0)
    uni = train.groupBy("w").agg(F.count(F.lit(1)).alias("cw"))
    tot = train.agg(
        F.count(F.lit(1)).alias("n"), F.countDistinct("w").alias("v")
    )
    ta, tb = train.alias("a"), train.alias("b")
    big = (
        ta.join(
            tb,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("b.i") == F.col("a.i") + 1),
        )
        .select(F.col("a.w").alias("prev"), F.col("b.w").alias("cur"))
        .groupBy("prev", "cur")
        .agg(F.count(F.lit(1)).alias("cbw"))
    )
    ha, hbb = held.alias("a"), held.alias("b")
    hb = ha.join(
        hbb,
        (F.col("a.doc_id") == F.col("b.doc_id"))
        & (F.col("b.i") == F.col("a.i") + 1),
    ).select(
        F.col("a.doc_id").alias("doc_id"),
        F.col("a.source").alias("source"),
        F.col("a.w").alias("prev"),
        F.col("b.w").alias("cur"),
    )
    up = uni.select(F.col("w").alias("prev"), F.col("cw").alias("cw_prev"))
    uc = uni.select(F.col("w").alias("cur"), F.col("cw").alias("cw_cur"))
    scored = (
        hb.join(big, ["prev", "cur"], "left")
        .join(up, "prev", "left")
        .join(uc, "cur", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            "source",
            F.when(
                F.col("cbw").isNotNull(),
                F.log(F.col("cbw").cast("double") / F.col("cw_prev")),
            )
            .otherwise(
                F.log(
                    0.4
                    * (F.coalesce(F.col("cw_cur"), F.lit(0)) + 1.0)
                    / (F.col("n") + F.col("v"))
                )
            )
            .alias("lp"),
            F.when(F.col("cbw").isNull(), 1).otherwise(0).alias("backed_off"),
        )
    )
    per_doc = scored.groupBy("doc_id", "source").agg(
        F.avg("lp").alias("doc_lp"),
        F.sum("backed_off").alias("n_bo"),
        F.count(F.lit(1)).alias("n_big"),
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("doc_lp"), 6).alias("avg_logscore"),
        F.round(F.sum("n_bo").cast("double") / F.sum("n_big"), 6).alias(
            "backoff_rate"
        ),
    )


@query(
    "llm_chat_template_flatten",
    "§2.11 chat-template flattening (ordered turns → training string, budget-truncated)",
    """
    WITH t AS (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_turns,
           CAST(sum(length('<|' || CASE WHEN rn % 2 = 1 THEN 'user'
                                        ELSE 'assistant' END
                           || '|>' || event_type)) AS BIGINT) AS n_chars,
           md5(string_agg('<|' || CASE WHEN rn % 2 = 1 THEN 'user'
                                       ELSE 'assistant' END
                          || '|>' || event_type, '' ORDER BY rn)) AS convo_md5
    FROM t WHERE rn <= 8 GROUP BY user_id
    """,
)
def llm_chat_template_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT-data preparation: each user's ordered event sequence stands
    in for a conversation; turns get alternating roles, are rendered
    through a chat template ('<|role|>content'), TRUNCATED to an
    8-turn context budget, and flattened to the single training
    string. The Spark shape is the one that matters at scale: ONE
    shuffle (collect_list of (ts, event_id, type) structs per user),
    order pinned by array_sort on the struct's leading fields — never
    a per-turn window plus a second aggregation — then template
    rendering and flattening as JVM-side array HOFs. The flat string
    is reported as md5 + length (hash-stable; the driver compare
    never ships megabyte strings)."""
    ev = load(spark, sf_dir, "events")
    arr = F.slice(
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", F.col("event_type").alias("et")))
        ),
        1,
        8,
    )
    flat = F.concat_ws(
        "",
        F.transform(
            F.col("a"),
            lambda x, i: F.concat(
                F.lit("<|"),
                F.when(i % 2 == 0, F.lit("user")).otherwise(F.lit("assistant")),
                F.lit("|>"),
                x["et"],
            ),
        ),
    )
    g = ev.groupBy("user_id").agg(arr.alias("a"))
    return g.select(
        "user_id",
        F.size("a").alias("n_turns"),
        F.length(flat).cast("long").alias("n_chars"),
        F.md5(flat.cast("binary")).alias("convo_md5"),
    )


@query(
    "llm_length_bucket_batching",
    "§2.11 length-bucketed batching (padding-waste reduction vs arrival order)",
    """
    WITH toks AS (
      SELECT doc_id, source, len(string_split(text, ' ')) AS n_tok,
             md5(CAST(doc_id AS VARCHAR)) AS h
      FROM documents WHERE text IS NOT NULL
    ),
    sorted_b AS (
      SELECT source, n_tok,
             (row_number() OVER (PARTITION BY source
                                 ORDER BY n_tok DESC, doc_id) - 1) // 8 AS b
      FROM toks
    ),
    arrival_b AS (
      SELECT source, n_tok,
             (row_number() OVER (PARTITION BY source ORDER BY h, doc_id) - 1) // 8
               AS b
      FROM toks
    ),
    s AS (SELECT source, b, CAST(max(n_tok) * count(*) AS BIGINT) AS padded,
                 CAST(sum(n_tok) AS BIGINT) AS used
          FROM sorted_b GROUP BY source, b),
    a AS (SELECT source, b, CAST(max(n_tok) * count(*) AS BIGINT) AS padded
          FROM arrival_b GROUP BY source, b)
    SELECT s.source,
           CAST(count(*) AS BIGINT) AS n_batches,
           CAST(sum(s.used) AS BIGINT) AS tokens,
           CAST(sum(s.padded) AS BIGINT) AS padded_sorted,
           (SELECT CAST(sum(a.padded) AS BIGINT) FROM a
            WHERE a.source = s.source) AS padded_arrival,
           round(1.0 - CAST(sum(s.padded) AS DOUBLE)
                 / (SELECT sum(a.padded) FROM a WHERE a.source = s.source), 4)
             AS padding_saved
    FROM s GROUP BY s.source
    """,
)
def llm_length_bucket_batching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching — the padding-efficiency step before
    any fixed-shape training/inference run: sort documents by token
    count within each source, cut into 8-doc batches (sized so the
    fixture sources span several batches), and pad each
    batch to its own max length. Compared against ARRIVAL-order
    batching (md5-hash order — a deterministic stand-in for random
    arrival), reporting the padded-token totals and the saved
    fraction: sorted batches put like-sized docs together so the
    per-batch max is tight (savings > 0 whenever a source spans
    multiple batches — asserted in tests/test_round8_ops.py). Two windowed passes over one (doc, n_tok)
    projection — one shuffle on source each; batch stats are a plain
    re-aggregation. The per-source savings number IS the business
    case for the sorter at 100 TB."""
    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = d.select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).alias("n_tok"),
        F.md5(F.col("doc_id").cast("string").cast("binary")).alias("h"),
    ).transform(lineage_checkpoint)
    w_sorted = Window.partitionBy("source").orderBy(F.desc("n_tok"), "doc_id")
    w_arrival = Window.partitionBy("source").orderBy("h", "doc_id")
    sorted_b = toks.withColumn(
        "b", ((F.row_number().over(w_sorted) - 1) / 8).cast("long")
    )
    arrival_b = toks.withColumn(
        "b", ((F.row_number().over(w_arrival) - 1) / 8).cast("long")
    )
    s = sorted_b.groupBy("source", "b").agg(
        (F.max("n_tok") * F.count(F.lit(1))).cast("long").alias("padded"),
        F.sum("n_tok").cast("long").alias("used"),
    )
    a = (
        arrival_b.groupBy("source", "b")
        .agg((F.max("n_tok") * F.count(F.lit(1))).cast("long").alias("padded"))
        .groupBy("source")
        .agg(F.sum("padded").cast("long").alias("padded_arrival"))
    )
    per_source = s.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_batches"),
        F.sum("used").cast("long").alias("tokens"),
        F.sum("padded").cast("long").alias("padded_sorted"),
    )
    return per_source.join(a, "source").select(
        "source",
        "n_batches",
        "tokens",
        "padded_sorted",
        "padded_arrival",
        F.round(
            1.0 - F.col("padded_sorted").cast("double") / F.col("padded_arrival"), 4
        ).alias("padding_saved"),
    )


@query(
    "llm_langid_confusion_matrix",
    "§2.11 language-ID evaluation: confusion matrix + per-language recall",
    """
    WITH base AS (""" + LANGID_ORACLE + """)
    SELECT true_lang, pred_lang, count(*) AS n,
           round(CAST(count(*) AS DOUBLE) /
                 sum(count(*)) OVER (PARTITION BY true_lang), 6) AS share_of_true
    FROM base GROUP BY true_lang, pred_lang
    """,
)
def llm_langid_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The evaluation half of llm_text_langid — the confusion matrix
    every classifier-gated ingest pipeline reports before trusting a
    language filter: counts per (true, predicted) cell plus each
    cell's share of its true-language row (per-language recall on the
    diagonal, the specific confusion pairs off it). Composes the
    SAME scored projection as the langid query (one scan, one hash
    agg, one partition-local window for the shares — the window
    partitions by true_lang so no global sort); the oracle wraps the
    shared LANGID_ORACLE constant, so predictor and evaluator can
    never drift apart. The share division is count/count over exact
    integers — deterministic to the 6 rounded digits."""
    preds = llm_text_langid(spark, sf_dir).select("true_lang", "pred_lang")
    cells = preds.groupBy("true_lang", "pred_lang").agg(F.count("*").alias("n"))
    w = Window.partitionBy("true_lang")
    return cells.select(
        "true_lang",
        "pred_lang",
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(w), 6).alias(
            "share_of_true"
        ),
    )


@query(
    "llm_pack_ffd",
    "§2.11 first-fit-decreasing sequence packing (real bin packing, per-source)",
    # rows-only: FFD's sequential first-fit state (which bin each doc
    # landed in depends on every prior placement) is not expressible in
    # set-oriented SQL; invariants are pinned by
    # tests/test_round8_ops.py::test_ffd_packing_invariants (capacity
    # respected, token conservation, bin count bracketed by the
    # theoretical lower bound and the one-doc-per-bin upper bound).
)
def llm_pack_ffd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL bin packing for training batches — first-fit-decreasing
    into 512-token bins, the quality upgrade over llm_pack_sequences'
    concat-and-chunk (which splits documents across context windows;
    FFD never splits, it wastes the slack instead, and FFD's bin
    count is provably ≤ 11/9·OPT + 6/9). Sequential state makes this
    a grouped map: applyInPandas per source (each group sorted by
    tokens desc, doc_id asc — fully deterministic), linear first-fit
    within the group. At 100 TB the GROUP is the parallelism unit —
    real pipelines bucket by (source, length-band, shard) so each
    group is a few thousand docs; packing quality only needs
    within-group locality, never a global pack. Oversized docs (>512
    tokens) get singleton bins, flagged via oversize count. Output is
    per-bin: doc count, tokens used, utilization."""
    import pandas as pd

    CAP = 512

    docs = load(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        F.size(F.split("text", " ")).alias("tokens"),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["tokens", "doc_id"], ascending=[False, True])
        src = pdf["source"].iloc[0] if len(pdf) else None
        bins = []  # list of [used_tokens, n_docs]
        for t in pdf["tokens"]:
            t = int(t)
            for b in bins:
                if b[0] + t <= CAP:
                    b[0] += t
                    b[1] += 1
                    break
            else:
                bins.append([t, 1])
        return pd.DataFrame(
            {
                "source": [src] * len(bins),
                "bin_id": range(len(bins)),
                "n_docs": [b[1] for b in bins],
                "tokens_used": [b[0] for b in bins],
                "oversize": [1 if b[0] > CAP else 0 for b in bins],
            }
        )

    return docs.groupBy("source").applyInPandas(
        pack,
        "source string, bin_id long, n_docs long, tokens_used long, oversize int",
    )


# ---------------------------------------------------------------------------
# Round-9 additions (SURVEY §2.18): deterministic global shuffle,
# weighted sampling without replacement, data-driven boilerplate
# vocabulary.
# ---------------------------------------------------------------------------

_DET_SHUFFLE_ORACLE = """
WITH keyed AS (
  SELECT doc_id, md5(concat('shuf42:', CAST(doc_id AS STRING))) AS h
  FROM documents
),
pos AS (
  SELECT doc_id, CAST(row_number() OVER (ORDER BY h, doc_id) AS BIGINT) AS pos
  FROM keyed
)
SELECT doc_id, pos, CAST((pos - 1) % 8 AS BIGINT) AS shard
FROM pos
"""


@query(
    "llm_deterministic_shuffle",
    "§2.18 deterministic global shuffle (hash order via two-phase distributed rank)",
    _DET_SHUFFLE_ORACLE,
)
def llm_deterministic_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE reproducible training-data shuffle: global example order is
    a pure function of content identity (md5 of a salted doc_id), so
    re-runs, backfills, and different cluster sizes produce the same
    order — and the same example-to-shard routing ((pos-1) % 8) — the
    property data loaders need for resumable, replay-exact epochs.

    The oracle is a single global row_number over the hash; the Spark
    side computes identical positions WITHOUT a single-partition sort:
    the first hex byte of the hash is a 256-ary range bucket that is
    PREFIX-ALIGNED with the global hash order, so global position =
    (cumulative count of all lower buckets, broadcast from a 256-row
    window) + (row_number within the bucket) — the same two-phase
    distributed rank as hist_equi_depth/ts_concurrency_sweep.  One
    shuffle on the bucket key at any corpus size, never a global
    single-partition window."""
    d = load(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id",
        F.md5(F.concat(F.lit("shuf42:"), F.col("doc_id").cast("string"))).alias("h"),
    ).withColumn("bkt", F.substring("h", 1, 2))
    counts = keyed.groupBy("bkt").agg(F.count(F.lit(1)).alias("c"))
    offsets = counts.select(
        "bkt",
        (
            F.coalesce(
                F.sum("c").over(
                    Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            )
        ).alias("off"),
    )
    w = Window.partitionBy("bkt").orderBy("h", "doc_id")
    return (
        keyed.join(F.broadcast(offsets), "bkt")
        .withColumn("pos", (F.col("off") + F.row_number().over(w)).cast("bigint"))
        .select(
            "doc_id", "pos", ((F.col("pos") - 1) % 8).cast("bigint").alias("shard")
        )
    )


_WEIGHTED_SAMPLE_K = 50

_WEIGHTED_SAMPLE_ORACLE = f"""
WITH keyed AS (
  SELECT doc_id, CAST(n_chars AS DOUBLE) AS w,
         -ln((CAST(CAST(concat('0x', substr(md5(concat('ws42:',
                CAST(doc_id AS STRING))), 1, 15)) AS BIGINT) AS DOUBLE) + 1.0)
             / 1152921504606846976.0) / CAST(n_chars AS DOUBLE) AS k
  FROM documents WHERE n_chars > 0
),
ranked AS (
  SELECT doc_id, w, k, row_number() OVER (ORDER BY k, doc_id) AS rn FROM keyed
)
SELECT doc_id, CAST(w AS BIGINT) AS weight, round(k, 12) AS es_key
FROM ranked WHERE rn <= {_WEIGHTED_SAMPLE_K}
"""


@query(
    "llm_weighted_sample_es",
    "§2.18 weighted sampling without replacement (Efraimidis-Spirakis exponential race)",
    _WEIGHTED_SAMPLE_ORACLE,
)
def llm_weighted_sample_es(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-proportional sampling WITHOUT replacement — the
    distributed way to draw a quality- or length-weighted subset in
    one pass: each doc gets key = -ln(u)/w (u a deterministic
    md5-derived uniform, w = n_chars), and the global k smallest keys
    ARE an exact Efraimidis-Spirakis weighted sample (the exponential
    race: doc i wins with probability proportional to w_i).  No
    rejection loop, no driver-side alias table, merge = take-k-min —
    so executors keep local top-k heaps and only k rows per partition
    reach the final merge (Spark's sort-limit does exactly this).
    Deterministic: u is a pure hash of the salted doc_id (same
    portable hex-to-bigint idiom as stats_bootstrap_ci — Spark conv()
    / DuckDB 0x cast produce the same integer, so both engines race
    identical doubles).  llm_sample_per_group is the UNWEIGHTED
    stratified cousin; this one implements the weighted marginal."""
    d = load(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    keyed = d.select(
        "doc_id",
        F.col("n_chars").cast("double").alias("w"),
        (
            -F.log(
                (
                    F.expr(
                        "CAST(conv(substr(md5(concat('ws42:', CAST(doc_id AS STRING))), 1, 15), 16, 10) AS BIGINT)"
                    ).cast("double")
                    + F.lit(1.0)
                )
                / F.lit(1152921504606846976.0)
            )
            / F.col("n_chars").cast("double")
        ).alias("k"),
    )
    # orderBy().limit(k) plans as TakeOrderedAndProject — executor-local
    # top-k heaps, k rows per partition to the driver merge.  A global
    # row_number window would move EVERY row to one partition first
    # (WindowExec warns exactly this); the limit form is the scale-safe
    # spelling of the same deterministic selection.
    return (
        keyed.orderBy("k", "doc_id")
        .limit(_WEIGHTED_SAMPLE_K)
        .select(
            "doc_id",
            F.col("w").cast("bigint").alias("weight"),
            F.round("k", 12).alias("es_key"),
        )
    )


_BOILERPLATE_DF_THRESHOLD = 0.6

_BOILERPLATE_ORACLE = f"""
WITH docs AS (
  SELECT source, doc_id, string_split(text, ' ') AS toks FROM documents
),
src_docs AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM docs GROUP BY source),
df AS (
  SELECT source, w, CAST(count(*) AS BIGINT) AS df
  FROM (SELECT DISTINCT source, doc_id, unnest(toks) AS w FROM docs) t
  GROUP BY source, w
),
boiler AS (
  SELECT df.source, df.w
  FROM df JOIN src_docs USING (source)
  WHERE df.df * 1.0 / src_docs.n_docs > {_BOILERPLATE_DF_THRESHOLD}
),
per_doc AS (
  SELECT t.source, t.doc_id,
         count(*) AS n_toks,
         CAST(sum(CASE WHEN b.w IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_boiler
  FROM (SELECT source, doc_id, unnest(toks) AS w FROM docs) t
  LEFT JOIN boiler b ON b.source = t.source AND b.w = t.w
  GROUP BY t.source, t.doc_id
)
SELECT p.source,
       CAST((SELECT count(*) FROM boiler b2 WHERE b2.source = p.source) AS BIGINT)
         AS n_boiler_words,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(n_boiler * 1.0 / n_toks), 6) AS avg_boiler_ratio
FROM per_doc p GROUP BY p.source
"""


@query(
    "llm_boilerplate_vocab",
    "§2.18 data-driven boilerplate vocabulary (high-DF words) + per-doc ratio",
    _BOILERPLATE_ORACLE,
)
def llm_boilerplate_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-DRIVEN boilerplate detection: within each source, words
    whose document frequency exceeds 60% of the source's docs are
    template/boilerplate vocabulary (nav text, licence headers, SEO
    spam repeat across a crawl source; a fixed stopword list —
    llm_text_quality's approach — can't see them).  Per-doc
    boilerplate token ratio is the cleaning signal: docs that are
    mostly high-DF tokens carry little unique content.

    Shape at 100 TB: explode to (source, doc_id, word) DISTINCT for
    document frequency (one hash-agg; the distinct is per-doc so a
    word repeated in one doc counts once), the per-source boilerplate
    vocab is TINY (bounded by vocab size) and broadcast back onto the
    exploded tokens — the corpus-side explode is map-side and never
    shuffles twice.  Same structure as llm_vocab_coverage's broadcast
    vocab join."""
    d = load(spark, sf_dir, "documents")
    toks = d.select("source", "doc_id", F.explode(F.split("text", " ")).alias("w"))
    src_docs = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    df = (
        toks.distinct()
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    boiler = (
        df.join(F.broadcast(src_docs), "source")
        .filter(F.col("df") * 1.0 / F.col("n_docs") > _BOILERPLATE_DF_THRESHOLD)
        .select("source", "w")
    )
    boiler_counts = boiler.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_boiler_words")
    )
    per_doc = (
        toks.join(
            F.broadcast(boiler.withColumn("is_b", F.lit(1))), ["source", "w"], "left"
        )
        .groupBy("source", "doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            F.coalesce(F.sum("is_b"), F.lit(0)).cast("bigint").alias("n_boiler"),
        )
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.round(F.avg(F.col("n_boiler") * 1.0 / F.col("n_toks")), 6).alias(
                "avg_boiler_ratio"
            ),
        )
        .join(F.broadcast(boiler_counts), "source", "left")
        .select(
            "source",
            F.coalesce("n_boiler_words", F.lit(0)).cast("bigint").alias(
                "n_boiler_words"
            ),
            "n_docs",
            "avg_boiler_ratio",
        )
    )


_REWARD_NORM_ORACLE = """
WITH cand AS (
  SELECT doc_id // 5 AS group_id, doc_id,
         CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS reward
  FROM documents
),
stats AS (
  SELECT group_id, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(reward) AS BIGINT) AS sx,
         CAST(sum(reward * reward) AS BIGINT) AS sxx
  FROM cand GROUP BY group_id
),
z AS (
  SELECT c.group_id, c.doc_id, c.reward,
         round(COALESCE(
           (c.reward - CAST(s.sx AS DOUBLE) / s.n)
           / nullif(sqrt((s.sxx - CAST(s.sx AS DOUBLE) * s.sx / s.n)
                         / (s.n - 1)), 0), 0), 6) AS z_reward,
         CASE WHEN row_number() OVER (PARTITION BY c.group_id
                                      ORDER BY c.reward DESC, c.doc_id) = 1
              THEN 1 ELSE 0 END AS is_best
  FROM cand c JOIN stats s USING (group_id)
)
SELECT group_id, doc_id, reward, z_reward, CAST(is_best AS BIGINT) AS is_best
FROM z
"""


@query(
    "llm_reward_normalize",
    "§2.18 per-prompt reward normalization (group z-score + best-of-n pick)",
    _REWARD_NORM_ORACLE,
)
def llm_reward_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RLHF/DPO preprocessing step: candidate completions are
    grouped per prompt (here: 5-doc groups keyed doc_id div 5) and
    their rewards z-scored WITHIN the group — reward scales drift
    across prompts, so advantage-style normalization (x - mean)/sd is
    what makes rewards comparable before pairing or policy-gradient
    weighting; the best-of-n winner (max reward, doc_id tie-break) is
    marked for rejection-sampling pipelines.  The reward itself is an
    exact integer (distinct-token count — a diversity heuristic), and
    the z finish computes mean/sd from exact integer (n, Σx, Σx²)
    moments with the SAME expression both engines — never an engine
    stddev whose accumulation (Welford vs sum-of-squares) differs at
    the ulp.  Single-candidate groups z-score to 0 (sd undefined →
    coalesced).  Shape: one map pass for rewards, one group shuffle
    shared by the moment agg and the rank window."""
    d = load(spark, sf_dir, "documents")
    cand = d.select(
        (F.col("doc_id") / 5).cast("bigint").alias("group_id"),
        "doc_id",
        F.size(F.array_distinct(F.split("text", " "))).cast("bigint").alias("reward"),
    )
    stats = cand.groupBy("group_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("reward").cast("bigint").alias("sx"),
        F.sum(F.col("reward") * F.col("reward")).cast("bigint").alias("sxx"),
    )
    w = Window.partitionBy("group_id").orderBy(F.desc("reward"), "doc_id")
    z = (
        cand.join(stats, "group_id")
        .withColumn(
            "z_reward",
            F.round(
                F.coalesce(
                    (F.col("reward") - F.col("sx").cast("double") / F.col("n"))
                    / F.nullif(
                        F.sqrt(
                            (
                                F.col("sxx")
                                - F.col("sx").cast("double") * F.col("sx") / F.col("n")
                            )
                            / (F.col("n") - 1)
                        ),
                        F.lit(0.0),
                    ),
                    F.lit(0.0),
                ),
                6,
            ),
        )
        .withColumn(
            "is_best",
            F.when(F.row_number().over(w) == 1, 1).otherwise(0).cast("bigint"),
        )
    )
    return z.select("group_id", "doc_id", "reward", "z_reward", "is_best")


# Water-filling epoch allocation under a token budget — queued for the
# round-10 official run.  The finish is one shared SQL text over
# per-source exact token counts; only the tokenizer call differs
# (size(split(..)) vs len(string_split(..))).  Budget B = 3.5x the
# corpus, epoch cap E = 4, UNIFORM target shares (the T->infinity
# temperature limit — every source owed B/m tokens), so small sources
# overshoot the cap and the clawed-back budget water-fills the rest.
_EPOCH_FINISH_SQL = """
g AS (
  SELECT CAST(sum(n) AS BIGINT) AS total, CAST(count(*) AS BIGINT) AS m
  FROM tok
),
r AS (
  SELECT tok.source, tok.n,
         row_number() OVER (ORDER BY tok.n, tok.source) AS idx
  FROM tok
),
c AS (
  SELECT r.source, r.n, r.idx,
         COALESCE(sum(r.n) OVER (ORDER BY r.idx
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumn
  FROM r
),
d AS (
  SELECT c.source, c.n, c.idx, c.cumn, g.total, g.m,
         CASE WHEN (7 * g.total / CAST(2 AS DOUBLE) - 4.0 * c.cumn)
                   / (g.m - c.idx + 1) <= 4.0 * c.n
              THEN 1 ELSE 0 END AS fits
  FROM c CROSS JOIN g
),
j AS (SELECT min(CASE WHEN fits = 1 THEN idx END) AS jstar FROM d),
lam AS (
  SELECT (7 * d.total / CAST(2 AS DOUBLE) - 4.0 * d.cumn) / (d.m - d.idx + 1)
           AS lambda
  FROM d CROSS JOIN j WHERE d.idx = j.jstar
)
SELECT d.source, d.n AS n_tokens,
       round(CAST(1 AS DOUBLE) / d.m, 6) AS target_share,
       CASE WHEN d.idx < j.jstar THEN 1 ELSE 0 END AS clamped,
       round(CASE WHEN d.idx < j.jstar THEN 4.0 * d.n
                  ELSE lam.lambda END, 2) AS alloc_tokens,
       round(CASE WHEN d.idx < j.jstar THEN CAST(4 AS DOUBLE)
                  ELSE lam.lambda / d.n END, 4) AS epochs
FROM d CROSS JOIN j CROSS JOIN lam
"""


@query(
    "llm_epoch_allocation",
    "§2.19 water-filling epoch allocation under a token budget (uniform mixture + cap)",
    "WITH tok AS (SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n"
    " FROM documents GROUP BY source),"
    + _EPOCH_FINISH_SQL,
)
def llm_epoch_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pretraining data-mixing budget problem llm_mixture_weights
    stops short of: give every source an EQUAL token allocation (the
    T->infinity temperature limit, maximal small-source upweighting)
    under a total budget of 3.5x the corpus — but no source may
    repeat more than 4 epochs, and whatever the cap claws back from
    small sources is REDISTRIBUTED across the rest (water-filling),
    not silently dropped (the llm_mixture_weights cap loses budget;
    here sum(alloc) == B exactly, property-tested).

    Closed form, no iteration: the capacity E*n is monotone in n, so
    sources clamp in ascending-n order; sort by (n, source), take
    prefix cumulative sums, and the clamp boundary is the FIRST row
    where the remaining budget spread evenly over the remaining
    sources keeps that row under its cap — one row_number window,
    one running sum, one scalar min, all over the ~20-row per-source
    table.  The waterline lambda = (B - E*cum_n_clamped) / m_rest
    then prices every unclamped source.  Everything upstream of
    lambda is an exact bigint (uniform weights need no sqrt); the
    fixture's smallest sources genuinely clamp at every SF, so the
    redistribution path is exercised, not decorative.  Shape at any
    SF: one map-side partial agg over the corpus to per-source token
    counts; the allocation itself is O(sources)."""
    register_views(spark, sf_dir, ["documents"])
    return spark.sql(
        "WITH tok AS (SELECT source, CAST(sum(size(split(text, ' '))) AS BIGINT) AS n"
        " FROM documents GROUP BY source),"
        + _EPOCH_FINISH_SQL
    )


# Cohen's kappa between two deterministic judges — queued for the
# round-10 official run.  One shared SQL text: flags and the 2x2 are
# exact integers, kappa is one double expression.
_KAPPA_FINISH_SQL = """
m AS (
  SELECT CAST({pd_chars} AS BIGINT) AS med_chars,
         CAST({pd_ratio} AS BIGINT) AS med_ratio_ppm
  FROM f
),
flags AS (
  SELECT CASE WHEN f.n_chars > m.med_chars THEN 1 ELSE 0 END AS ja,
         CASE WHEN f.ratio_ppm > m.med_ratio_ppm THEN 1 ELSE 0 END AS jb
  FROM f CROSS JOIN m
),
ct AS (
  SELECT CAST(sum(ja * jb) AS BIGINT) AS a,
         CAST(sum(ja * (1 - jb)) AS BIGINT) AS b,
         CAST(sum((1 - ja) * jb) AS BIGINT) AS c,
         CAST(sum((1 - ja) * (1 - jb)) AS BIGINT) AS d,
         CAST(count(*) AS BIGINT) AS n
  FROM flags
)
SELECT a AS both_good, b AS only_a, c AS only_b, d AS both_bad,
       round(CAST(a + d AS DOUBLE) / n, 6) AS p_observed,
       round((CAST(a + b AS DOUBLE) * (a + c) + CAST(c + d AS DOUBLE) * (b + d))
             / (CAST(n AS DOUBLE) * n), 6) AS p_expected,
       round((CAST(a + d AS DOUBLE) / n
              - (CAST(a + b AS DOUBLE) * (a + c) + CAST(c + d AS DOUBLE) * (b + d))
                / (CAST(n AS DOUBLE) * n))
             / (1 - (CAST(a + b AS DOUBLE) * (a + c) + CAST(c + d AS DOUBLE) * (b + d))
                    / (CAST(n AS DOUBLE) * n)), 6) AS kappa
FROM ct
"""

_KAPPA_F_SQL = """
f AS (
  SELECT n_chars,
         CAST({distinct_tokens} * 1000000 / {n_tokens} AS BIGINT) AS ratio_ppm
  FROM documents
),
"""


@query(
    "llm_judge_agreement",
    "§2.19 Cohen's kappa: chance-corrected agreement between two quality judges",
    "WITH "
    + _KAPPA_F_SQL.format(
        distinct_tokens="len(list_distinct(string_split(text, ' ')))",
        n_tokens="len(string_split(text, ' '))",
    )
    + _KAPPA_FINISH_SQL.format(
        pd_chars="quantile_disc(n_chars, 0.5)",
        pd_ratio="quantile_disc(ratio_ppm, 0.5)",
    ),
)
def llm_judge_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa — the chance-corrected agreement metric every
    LLM-judge eval needs before trusting a single judge: two
    deterministic document judges (A: longer than the median
    character count; B: distinct-token ratio above its median — a
    length signal vs a vocabulary-diversity signal) label every doc
    good/bad, and kappa = (po - pe) / (1 - pe) corrects their raw
    agreement for the agreement two independent coin-flippers with
    the same marginals would get.  Median-split judges pin both
    marginals near 50%, the regime where chance correction bites
    hardest (po alone would look like ~0.5 "agreement" for random
    judges; kappa reports ~0).

    Everything upstream of kappa is an exact integer: character
    counts, a parts-per-million distinct-token ratio (integer
    division — no double ratio crosses an engine boundary), two
    discrete medians (the pinned percentile_disc convention), and
    the 2x2 counts; one shared double expression closes it.  Shape
    at any SF: two corpus scans (medians, then flags — the
    stats_levene_test two-pass shape), both map-side partial aggs;
    the 2x2 finish is O(1)."""
    register_views(spark, sf_dir, ["documents"])
    return spark.sql(
        "WITH "
        + _KAPPA_F_SQL.format(
            distinct_tokens="size(array_distinct(split(text, ' ')))",
            n_tokens="size(split(text, ' '))",
        )
        + _KAPPA_FINISH_SQL.format(
            pd_chars="percentile_disc(0.5) WITHIN GROUP (ORDER BY n_chars)",
            pd_ratio="percentile_disc(0.5) WITHIN GROUP (ORDER BY ratio_ppm)",
        )
    )


# Bradley-Terry model ratings (3 unrolled MM iterations) — queued for
# the round-10 official run.
_BT_GAMES_DUCK = """
docs AS MATERIALIZED (
  SELECT doc_id, source, len(string_split(text, ' ')) AS score
  FROM documents
),
nb AS (SELECT greatest(CAST(1 AS BIGINT),
                       CAST(floor(count(*) / 100.0) AS BIGINT)) AS nb
       FROM docs),
bdocs AS MATERIALIZED (
  SELECT d.doc_id, d.source, d.score, d.doc_id % nb.nb AS bkt
  FROM docs d CROSS JOIN nb
),
games AS MATERIALIZED (
  SELECT a.source AS sa, b.source AS sb,
         CAST(count(*) AS BIGINT) AS g,
         CAST(sum(CASE WHEN a.score > b.score
                       OR (a.score = b.score AND a.doc_id > b.doc_id)
                  THEN 1 ELSE 0 END) AS BIGINT) AS w
  FROM bdocs a JOIN bdocs b
    ON a.bkt = b.bkt AND a.doc_id < b.doc_id AND a.source <> b.source
  GROUP BY a.source, b.source
),
sym AS MATERIALIZED (
  SELECT sa, sb, g, w FROM games
  UNION ALL
  SELECT sb AS sa, sa AS sb, g, g - w AS w FROM games
),
agg AS MATERIALIZED (
  SELECT sa AS source, CAST(sum(g) AS BIGINT) AS games,
         CAST(sum(w) AS BIGINT) AS wins
  FROM sym GROUP BY sa
),
"""

_BT_ITER_DUCK = """
r{next}raw AS MATERIALIZED (
  SELECT a.source,
         a.wins / sum(s.g / (ra.r + rb.r)) AS r
  FROM agg a
  JOIN sym s ON s.sa = a.source
  JOIN r{cur} ra ON ra.source = s.sa
  JOIN r{cur} rb ON rb.source = s.sb
  GROUP BY a.source, a.wins
),
r{next} AS MATERIALIZED (
  SELECT source,
         r * (SELECT count(*) FROM r{next}raw) / (SELECT sum(r) FROM r{next}raw)
           AS r
  FROM r{next}raw
),
"""


@query(
    "llm_bradley_terry",
    "§2.19 Bradley-Terry ratings from pairwise comparisons (3 MM iterations)",
    "WITH "
    + _BT_GAMES_DUCK
    + "r0 AS MATERIALIZED (SELECT source, CAST(1 AS DOUBLE) AS r FROM agg),"
    + _BT_ITER_DUCK.format(cur=0, next=1)
    + _BT_ITER_DUCK.format(cur=1, next=2)
    + _BT_ITER_DUCK.format(cur=2, next=3)
    + """
sel AS (SELECT * FROM r3)
SELECT a.source, a.games, a.wins,
       round(CAST(a.wins AS DOUBLE) / a.games, 6) AS win_rate,
       round(sel.r, 6) AS bt_rating
FROM agg a JOIN sel ON sel.source = a.source
""",
)
def llm_bradley_terry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley-Terry ratings over pairwise document comparisons — the
    chatbot-arena ranking shape: sources are "models", every
    same-bucket cross-source doc pair is a "game" won by the longer
    document (deterministic doc_id tie-break; doc_ids are unique so
    no draws), and three unrolled minorization-maximization rounds
    r_a <- W_a / sum_b g_ab/(r_a + r_b) (mean-normalized each round,
    the graph_pagerank bounded-iteration discipline) turn the win
    matrix into strengths the raw win RATE cannot express — BT
    weighs each win by opponent strength, so beating a strong source
    moves a rating more than farming a weak one.

    Scale shape: comparisons are BUCKET-BOUNDED — documents hash into
    n/100-sized buckets, so pairs grow LINEARLY in the corpus (100
    per doc), never O(n^2); the win matrix partial-aggs to at most
    sources^2 rows (400) behind one equi-join on the bucket key, and
    every MM round is a 400-row join — O(1) after the scan at any
    SF.  The oracle unrolls the same three rounds as MATERIALIZED
    CTEs (the graph_kcore finding).  The per-round denominator sums
    ~19 doubles per source (rounded only at output, 6 dp) — the
    stats_kl summation discipline."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", "source", F.size(F.split("text", " ")).alias("score")
    )
    nb = d.agg(
        F.greatest(F.lit(1).cast("bigint"), F.floor(F.count("*") / 100.0).cast("bigint")).alias("nb")
    )
    bd = d.crossJoin(F.broadcast(nb)).select(
        "doc_id", "source", "score", (F.col("doc_id") % F.col("nb")).alias("bkt")
    ).transform(lineage_checkpoint_lazy)
    a = bd.select(F.col("bkt"), F.col("doc_id").alias("ida"), F.col("source").alias("sa"), F.col("score").alias("pa"))
    b = bd.select(F.col("bkt"), F.col("doc_id").alias("idb"), F.col("source").alias("sb"), F.col("score").alias("pb"))
    games = (
        a.join(b, "bkt")
        .filter((F.col("ida") < F.col("idb")) & (F.col("sa") != F.col("sb")))
        .groupBy("sa", "sb")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("g"),
            F.sum(
                F.when(
                    (F.col("pa") > F.col("pb"))
                    | ((F.col("pa") == F.col("pb")) & (F.col("ida") > F.col("idb"))),
                    1,
                ).otherwise(0)
            ).cast("bigint").alias("w"),
        )
    )
    sym = games.unionAll(
        games.select(
            F.col("sb").alias("sa"), F.col("sa").alias("sb"), "g", (F.col("g") - F.col("w")).alias("w")
        )
    ).transform(lineage_checkpoint_lazy)
    agg = sym.groupBy(F.col("sa").alias("source")).agg(
        F.sum("g").cast("bigint").alias("games"), F.sum("w").cast("bigint").alias("wins")
    ).transform(lineage_checkpoint_lazy)
    # Optimization r14 (guide §5/§7 driver overhead, the _power_core
    # precedent): the three MM rounds used to run RELATIONALLY — per
    # round two joins of the ≤400-row sym table against the rating
    # vector, a groupBy, a scalar agg and a broadcast (~1.7 s of
    # metadata-scale AQE stage scheduling at any SF, since sym is
    # sources²-bounded). The win matrix and the per-source win totals
    # now collapse once into ordered arrays on ONE row and every round
    # (denominator fold, MM update, mean normalization) is array
    # arithmetic over that row. Term values are identical; only the
    # in-stage float summation order moves (~19 doubles per
    # denominator), which the 6-dp output round absorbs —
    # oracle-verified at all three SFs.
    sym_row = sym.agg(
        F.array_sort(F.collect_list(F.struct("sa", "sb", "g"))).alias("sy")
    )
    src_row = agg.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("source", "wins"))),
            lambda s: s["source"],
        ).alias("src"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("source", "wins"))),
            lambda s: s["wins"],
        ).alias("wn"),
    )
    core = sym_row.crossJoin(F.broadcast(src_row)).select(
        "sy", "src", "wn", F.transform("src", lambda s: F.lit(1.0)).alias("r")
    )
    for _ in range(3):
        core = core.select(
            "sy", "src", "wn", "r", F.map_from_arrays("src", "r").alias("rm")
        ).select(
            "sy",
            "src",
            "wn",
            F.zip_with(
                "wn",
                F.transform(
                    "src",
                    lambda s: F.aggregate(
                        F.col("sy"),
                        F.lit(0.0),
                        lambda acc, e: acc
                        + F.when(
                            e["sa"] == s,
                            e["g"]
                            / (
                                F.element_at(F.col("rm"), s)
                                + F.element_at(F.col("rm"), e["sb"])
                            ),
                        ).otherwise(F.lit(0.0)),
                    ),
                ),
                lambda w, dn: w / dn,
            ).alias("raw"),
        ).select(
            "sy",
            "src",
            "wn",
            F.transform(
                "raw",
                lambda x: x
                * F.size("raw")
                / F.aggregate("raw", F.lit(0.0), lambda a, y: a + y),
            ).alias("r"),
        )
    rmap = core.select(F.map_from_arrays("src", "r").alias("rm"))
    return agg.crossJoin(F.broadcast(rmap)).select(
        "source",
        "games",
        "wins",
        F.round(F.col("wins").cast("double") / F.col("games"), 6).alias("win_rate"),
        F.round(F.element_at(F.col("rm"), F.col("source")), 6).alias("bt_rating"),
    )


_MCNEMAR_FINISH_SQL = """
m AS (
  SELECT CAST({pd_chars} AS BIGINT) AS med_chars,
         CAST({pd_ratio} AS BIGINT) AS med_ratio_ppm
  FROM f
),
flags AS (
  SELECT CASE WHEN f.n_chars > m.med_chars THEN 1 ELSE 0 END AS ja,
         CASE WHEN f.ratio_ppm > m.med_ratio_ppm THEN 1 ELSE 0 END AS jb
  FROM f CROSS JOIN m
),
ct AS (
  SELECT CAST(sum(ja * (1 - jb)) AS BIGINT) AS b,
         CAST(sum((1 - ja) * jb) AS BIGINT) AS c
  FROM flags
),
st AS (
  SELECT b, c,
         CASE WHEN b + c = 0 THEN 0.0
              ELSE (greatest(abs(b - c) - 1, 0) * CAST(greatest(abs(b - c) - 1, 0) AS DOUBLE))
                   / (b + c)
         END AS stat
  FROM ct
),
zt AS (SELECT b, c, stat, sqrt(stat) AS z FROM st)
SELECT b AS only_a_good, c AS only_b_good,
       round(stat, 6) AS mcnemar_cc,
       round(1 - {erf}, 6) AS p_value
FROM zt
"""


def _mcnemar_oracle() -> str:
    # the shared erf polynomial lives next to its first user
    # (stats_fdr_bh); importing inside the builder avoids any module
    # import-order sensitivity at registration time
    from spark_lineage_spark.operators.analytics import _FDR_ERF

    return (
        "WITH "
        + _KAPPA_F_SQL.format(
            distinct_tokens="len(list_distinct(string_split(text, ' ')))",
            n_tokens="len(string_split(text, ' '))",
        )
        + _MCNEMAR_FINISH_SQL.format(
            pd_chars="quantile_disc(n_chars, 0.5)",
            pd_ratio="quantile_disc(ratio_ppm, 0.5)",
            erf=_FDR_ERF,
        )
    )


@query(
    "llm_judge_mcnemar",
    "§2.20 McNemar's test: are two judges' marginal pass rates different?",
    _mcnemar_oracle(),
)
def llm_judge_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test on the SAME two judges as llm_judge_agreement —
    the companion question: kappa asks "do they agree?", McNemar asks
    "is one systematically more lenient?".  Only the DISAGREEMENT
    cells matter: b = A-good/B-bad, c = A-bad/B-good; the
    continuity-corrected statistic (|b-c|-1)²/(b+c) is asymptotically
    chi-square(1df), whose survival is erfc(sqrt(x)/sqrt(2)) — closed
    via the same inlined Abramowitz-Stegun erf polynomial as
    stats_fdr_bh, so both engines evaluate the IDENTICAL double
    expression (no engine erf exists).  greatest(|b-c|-1, 0) clamps
    the correction at b≈c (the textbook edge where naive |b-c|-1 goes
    negative and the square lies).  Everything upstream is exact
    integers (the kappa chassis: ppm ratios, discrete medians, 2x2
    counts).  Shape at any SF: two map-side corpus passes (medians,
    flags), O(1) finish.  Property test: math.erfc + exact-count
    reference in tests/test_round10_ops.py."""
    from spark_lineage_spark.operators.analytics import _FDR_ERF

    register_views(spark, sf_dir, ["documents"])
    return spark.sql(
        "WITH "
        + _KAPPA_F_SQL.format(
            distinct_tokens="size(array_distinct(split(text, ' ')))",
            n_tokens="size(split(text, ' '))",
        )
        + _MCNEMAR_FINISH_SQL.format(
            pd_chars="percentile_disc(0.5) WITHIN GROUP (ORDER BY n_chars)",
            pd_ratio="percentile_disc(0.5) WITHIN GROUP (ORDER BY ratio_ppm)",
            erf=_FDR_ERF,
        )
    )


_VOCAB_GROWTH_ORACLE = """
WITH words AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
w AS (SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS i FROM words),
shd AS (SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS shingle
        FROM w a
        JOIN w b ON a.doc_id = b.doc_id AND b.i = a.i + 1
        JOIN w c ON a.doc_id = c.doc_id AND c.i = a.i + 2),
firsts AS (SELECT shingle, CAST(min(doc_id) AS BIGINT) AS first_doc
           FROM shd GROUP BY shingle),
mx AS (SELECT CAST(max(doc_id) AS BIGINT) + 1 AS span FROM documents),
b AS (SELECT CAST(floor(first_doc * 10.0 / span) AS BIGINT) AS bucket,
             CAST(count(*) AS BIGINT) AS new_vocab
      FROM firsts CROSS JOIN mx GROUP BY 1)
SELECT bucket, new_vocab,
       CAST(sum(new_vocab) OVER (ORDER BY bucket) AS BIGINT) AS cumulative_vocab
FROM b
"""


@query(
    "llm_vocab_growth_curve",
    "§2.20 vocabulary growth curve (Heaps-law shape via first-occurrence buckets)",
    _VOCAB_GROWTH_ORACLE,
)
def llm_vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth curve — distinct 3-gram shingles seen after
    each decile of the corpus (in doc_id ingest order): the Heaps-law
    diagnostic that answers "is new data still contributing new
    content, or has the crawl saturated?" before anyone pays for the
    next ingest batch.  The naive cumulative-distinct (one distinct
    per prefix) is quadratic; instead each shingle contributes
    exactly once at its FIRST-occurrence doc (min doc_id per shingle
    — one hash agg over the shingle table), buckets count first
    occurrences, and a 10-row cumsum reconstructs the curve — the
    corpus is scanned once at any SF.  The decile edges come from a
    broadcast 1-row max(doc_id) scalar; bucket arithmetic is one
    floor on doubles far inside 2^53.  Property test: python-set
    prefix reference in tests/test_round10_ops.py."""
    d = load(spark, sf_dir, "documents")
    shd = (
        d.select("doc_id", F.explode(word_shingles(F.col("text"), 3)).alias("shingle"))
        .filter(F.length("shingle") > 0)
        .distinct()
    )
    firsts = shd.groupBy("shingle").agg(F.min("doc_id").cast("bigint").alias("first_doc"))
    mx = d.agg((F.max("doc_id").cast("bigint") + 1).alias("span"))
    b = (
        firsts.join(F.broadcast(mx))
        .select(
            F.floor(F.col("first_doc") * 10.0 / F.col("span")).cast("bigint").alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("new_vocab"))
    )
    w = Window.orderBy("bucket")
    return b.select(
        "bucket",
        "new_vocab",
        F.sum("new_vocab").over(w).cast("bigint").alias("cumulative_vocab"),
    )


@query(
    "llm_tokenizer_fertility",
    "§2.21 tokenizer fertility audit per language (subword/word, chars/token, punct rate)",
    r"""
    WITH per AS (
      SELECT lang,
             len(string_split(text, ' ')) AS w,
             len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS t,
             len(regexp_extract_all(text, '[^a-z0-9\s]')) AS p,
             n_chars
      FROM documents
    )
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(t) AS BIGINT) AS total_tokens,
           round(CAST(sum(t) AS DOUBLE) / sum(w), 6) AS fertility,
           round(CAST(sum(n_chars) AS DOUBLE) / sum(t), 6) AS chars_per_token,
           round(CAST(sum(p) AS DOUBLE) / sum(t), 6) AS punct_rate
    FROM per GROUP BY lang ORDER BY lang
    """,
)
def llm_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY audit — the standard multilingual-tokenizer
    health check (tokens per whitespace word, chars per token, share of
    single-char punctuation tokens) per language bucket, using the same
    BPE-ish pre-tokenizer segmentation as llm_text_tokens.  High
    fertility / low chars-per-token for a language means the tokenizer
    fragments it (more compute per unit text, worse effective context);
    the punct rate separates "morphology-fragmented" from
    "punctuation-heavy" corpora.  Everything upstream of the three
    final divisions is an exact integer (regexp_count / size / n_chars
    sums), so one rounded double division per column is bit-identical
    in both engines (the llm_text_tokens regex-parity precedent).
    Shape at any SF: one map-side pass over documents computing three
    per-row counters JVM-side (regexp_count, no explode, no UDF), then
    a hash aggregate onto |langs| rows — the corpus never shuffles and
    the aggregate is algebraic (partial sums merge), so 100 TB costs
    one scan."""
    d = load(spark, sf_dir, "documents")
    per = d.select(
        "lang",
        F.size(F.split("text", " ")).alias("w"),
        F.regexp_count("text", F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]")).alias("t"),
        F.regexp_count("text", F.lit(r"[^a-z0-9\s]")).alias("p"),
        "n_chars",
    )
    return (
        per.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("t").cast("bigint").alias("total_tokens"),
            F.round(F.sum("t").cast("double") / F.sum("w"), 6).alias("fertility"),
            F.round(F.sum("n_chars").cast("double") / F.sum("t"), 6).alias("chars_per_token"),
            F.round(F.sum("p").cast("double") / F.sum("t"), 6).alias("punct_rate"),
        )
        .orderBy("lang")
    )


# Flesch readability per source (round 11): exact integer word /
# syllable / sentence counts per doc (all JVM-side higher-order
# functions), summed per source, closed by rounded double formulas.
_READABILITY_ORACLE = """
WITH per AS (
  SELECT source,
         len(list_filter(string_split_regex(text, '[^a-z]+'), x -> x <> '')) AS w,
         COALESCE(list_aggregate(list_transform(
             list_filter(string_split_regex(text, '[^a-z]+'), x -> x <> ''),
             x -> greatest(1, len(regexp_extract_all(x, '[aeiouy]+')))), 'sum'), 0) AS sy,
         greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS s
  FROM documents
)
SELECT source, count(*) AS n_docs,
       CAST(sum(w) AS BIGINT) AS total_words,
       CAST(sum(sy) AS BIGINT) AS total_syllables,
       round(CAST(sum(w) AS DOUBLE)/sum(s), 6) AS words_per_sentence,
       round(CAST(sum(sy) AS DOUBLE)/sum(w), 6) AS syllables_per_word,
       round(206.835 - 1.015*CAST(sum(w) AS DOUBLE)/sum(s)
                     - 84.6*CAST(sum(sy) AS DOUBLE)/sum(w), 6) AS flesch_reading_ease,
       round(0.39*CAST(sum(w) AS DOUBLE)/sum(s)
             + 11.8*CAST(sum(sy) AS DOUBLE)/sum(w) - 15.59, 6) AS fk_grade
FROM per GROUP BY source ORDER BY source
"""


@query(
    "llm_text_readability",
    "§2.21 Flesch readability per source (reading ease + FK grade from exact counts)",
    _READABILITY_ORACLE,
)
def llm_text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease + Flesch-Kincaid grade per source — the
    classic corpus-mix readability audit (pretraining mixes monitor
    FK-grade drift per domain; instruction sets screen for grade-level
    targets).  Syllables use the standard vowel-group approximation
    (runs of [aeiouy], floor 1 per word — the textstat convention);
    sentences are terminal-punctuation runs with the textstat
    max(1, n) floor, so the unpunctuated fixture degrades honestly to
    one-sentence docs instead of dividing by zero.  Every per-doc
    counter is an exact integer computed by JVM higher-order functions
    (filter/aggregate over split arrays + regexp_extract_all — no
    explode, no UDF), per-source sums are exact, and the two formulas
    are single rounded double expressions with identical operation
    order in both engines.

    Shape at any SF: one map-side pass over documents computing three
    integer counters per row array-locally, then an algebraic hash
    aggregate onto |sources| rows — the corpus never shuffles and
    partial sums merge, so 100 TB costs exactly one scan."""
    d = load(spark, sf_dir, "documents")
    words = "filter(split(text, '[^a-z]+'), x -> x != '')"
    per = d.select(
        "source",
        F.expr(f"size({words})").cast("bigint").alias("w"),
        F.expr(
            f"aggregate({words}, 0L, (a, x) -> "
            "a + greatest(1L, cast(size(regexp_extract_all(x, '[aeiouy]+', 0)) as bigint)))"
        ).alias("sy"),
        F.greatest(
            F.lit(1).cast("bigint"),
            F.regexp_count("text", F.lit(r"[.!?]+")).cast("bigint"),
        ).alias("s"),
    )
    sw = F.sum("w").cast("double")
    ss = F.sum("s")
    ssy = F.sum("sy").cast("double")
    return (
        per.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("w").cast("bigint").alias("total_words"),
            F.sum("sy").cast("bigint").alias("total_syllables"),
            F.round(sw / ss, 6).alias("words_per_sentence"),
            F.round(ssy / F.sum("w"), 6).alias("syllables_per_word"),
            F.round(
                F.lit(206.835) - F.lit(1.015) * (sw / ss) - F.lit(84.6) * (ssy / F.sum("w")),
                6,
            ).alias("flesch_reading_ease"),
            F.round(
                F.lit(0.39) * (sw / ss) + F.lit(11.8) * (ssy / F.sum("w")) - F.lit(15.59),
                6,
            ).alias("fk_grade"),
        )
        .orderBy("source")
    )


# Pairwise Jensen-Shannon divergence between per-source unigram
# distributions (round 11).  Template SQL: only the tokenizer spelling
# differs between engines (explode(split()) vs unnest(string_split()));
# counts and totals are exact integers, and the per-pair JS sum runs
# over the shared vocabulary (~31 tokens on this fixture — the
# stats_kl_divergence small-cell-sum precedent).  Missing-token mass is
# closed algebraically: a token present only in P contributes
# 0.5 * p * ln 2, so JSD = js_shared + 0.5 ln2 * ((1-Σp) + (1-Σq))
# needs only an INNER token join plus per-source totals — no per-pair
# full outer join, no vocab grid.
_JSD_SQL = """
WITH tok AS (
  SELECT source, {tokens} AS token FROM documents
),
dist AS (
  SELECT source, token, CAST(count(*) AS BIGINT) AS c
  FROM tok GROUP BY source, token
),
tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM dist GROUP BY source),
p AS (
  SELECT d.source, d.token, CAST(d.c AS DOUBLE) / t.n AS p
  FROM dist d JOIN tot t ON d.source = t.source
),
shared AS (
  SELECT a.source AS sa, b.source AS sb,
         sum(0.5 * (a.p * ln(2 * a.p / (a.p + b.p))
                  + b.p * ln(2 * b.p / (a.p + b.p)))) AS js_shared,
         sum(a.p) AS pa_shared, sum(b.p) AS pb_shared,
         CAST(count(*) AS BIGINT) AS n_shared_tokens
  FROM p a JOIN p b ON a.token = b.token AND a.source < b.source
  GROUP BY a.source, b.source
),
pairs AS (
  SELECT a.source AS sa, b.source AS sb
  FROM tot a JOIN tot b ON a.source < b.source
)
SELECT pr.sa AS source_a, pr.sb AS source_b,
       COALESCE(s.n_shared_tokens, 0) AS n_shared_tokens,
       round(COALESCE(s.js_shared, 0)
             + 0.5 * ln(2) * ((1 - COALESCE(s.pa_shared, 0))
                              + (1 - COALESCE(s.pb_shared, 0))), 6) AS jsd_nats,
       round((COALESCE(s.js_shared, 0)
              + 0.5 * ln(2) * ((1 - COALESCE(s.pa_shared, 0))
                               + (1 - COALESCE(s.pb_shared, 0)))) / ln(2), 6)
         AS jsd_norm
FROM pairs pr LEFT JOIN shared s ON pr.sa = s.sa AND pr.sb = s.sb
ORDER BY source_a, source_b
"""


@query(
    "llm_source_js_divergence",
    "§2.21 pairwise Jensen-Shannon divergence between source unigram distributions",
    _JSD_SQL.format(tokens="unnest(string_split(text, ' '))"),
)
def llm_source_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between per-source unigram
    distributions — the DISTRIBUTIONAL mixing audit that complements
    llm_source_overlap_matrix's set-overlap view: overlap asks "do the
    sources share vocabulary", JSD asks "do they USE it at the same
    rates" (symmetric, bounded by ln 2, and the standard domain-mix
    distance in pretraining-mixture papers).  jsd_norm rescales to
    [0,1] by /ln 2.  Token counts and per-source totals are exact
    integers; the per-pair sum runs over the shared vocabulary
    (small-cell precedent), and mass present in only one source is
    closed ALGEBRAICALLY (0.5·p·ln2 per one-sided token, i.e.
    0.5·ln2·((1-Σp)+(1-Σq)) per pair) — so the plan needs only an
    inner token join plus totals: no per-pair full outer join, no
    vocab×sources grid, and pairs that share nothing still emit ln 2
    via the LEFT JOIN from the pair spine.

    Shape at any SF: the corpus tokenizes map-side and partial-aggs
    onto the |sources|x|vocab| dist table — the ONLY corpus-size work,
    executed ONCE: Catalyst does not materialize CTEs, so the pure-SQL
    form replayed the tokenize into four subtrees (one per dist
    consumer — caught by tests/test_plans.py); the dist table is
    therefore built in the DataFrame API and lineage-checkpointed (the
    copurchase_edges staging discipline) before the self-join, pair
    spine, and finish consume it.  Those downstream stages are
    metadata-scale (dist rows, not docs).  At 100 TB with a real open
    vocabulary the dist table grows with vocab, not corpus, and the
    join keys on token — the classic skew key is stopwords, which is
    exactly the per-source p table, already one row per source."""
    d = load(spark, sf_dir, "documents")
    dist = (
        d.select("source", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .transform(lineage_checkpoint_lazy)
    )
    tot = dist.groupBy("source").agg(F.sum("c").cast("bigint").alias("n"))
    p = dist.join(tot, "source").select(
        "source", "token", (F.col("c").cast("double") / F.col("n")).alias("p")
    )
    a, b = p.alias("a"), p.alias("b")
    ln = F.log
    shared = (
        a.join(
            b,
            (F.col("a.token") == F.col("b.token"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("sa"), F.col("b.source").alias("sb")
        )
        .agg(
            F.sum(
                0.5
                * (
                    F.col("a.p") * ln(2 * F.col("a.p") / (F.col("a.p") + F.col("b.p")))
                    + F.col("b.p") * ln(2 * F.col("b.p") / (F.col("a.p") + F.col("b.p")))
                )
            ).alias("js_shared"),
            F.sum("a.p").alias("pa_shared"),
            F.sum("b.p").alias("pb_shared"),
            F.count(F.lit(1)).cast("bigint").alias("n_shared_tokens"),
        )
    )
    ta, tb = tot.alias("ta"), tot.alias("tb")
    pairs = ta.join(tb, F.col("ta.source") < F.col("tb.source")).select(
        F.col("ta.source").alias("sa"), F.col("tb.source").alias("sb")
    )
    ln2 = float(__import__("math").log(2))
    jsd = F.coalesce(F.col("js_shared"), F.lit(0.0)) + 0.5 * ln2 * (
        (1 - F.coalesce(F.col("pa_shared"), F.lit(0.0)))
        + (1 - F.coalesce(F.col("pb_shared"), F.lit(0.0)))
    )
    return (
        pairs.join(shared, ["sa", "sb"], "left")
        .select(
            F.col("sa").alias("source_a"),
            F.col("sb").alias("source_b"),
            F.coalesce(F.col("n_shared_tokens"), F.lit(0).cast("bigint")).alias(
                "n_shared_tokens"
            ),
            F.round(jsd, 6).alias("jsd_nats"),
            F.round(jsd / ln2, 6).alias("jsd_norm"),
        )
        .orderBy("source_a", "source_b")
    )


# Token burstiness (round 11): variance-to-mean ratio of per-document
# token counts, zeros included — one shared SQL text.  The absent-doc
# zeros never materialize: with N docs and per-doc counts c_d for the
# docs that DO contain the token, mean = tot/N and E[c^2] = sumsq/N
# are exact because zero rows contribute nothing to either sum.
_BURSTINESS_SQL = """
WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
per AS (
  SELECT token, doc_id, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT doc_id, {tokens} AS token FROM documents)
  GROUP BY token, doc_id
),
agg AS (
  SELECT token,
         CAST(count(*) AS BIGINT) AS n_docs_with,
         CAST(sum(c) AS BIGINT) AS tot,
         CAST(sum(c * c) AS BIGINT) AS sumsq
  FROM per GROUP BY token
)
SELECT token, n_docs_with, tot,
       round(CAST(tot AS DOUBLE) / n.n_docs, 6) AS mean_per_doc,
       round((CAST(sumsq AS DOUBLE) / n.n_docs)
             - (CAST(tot AS DOUBLE) / n.n_docs)
               * (CAST(tot AS DOUBLE) / n.n_docs), 6) AS var_per_doc,
       round(((CAST(sumsq AS DOUBLE) / n.n_docs)
              - (CAST(tot AS DOUBLE) / n.n_docs)
                * (CAST(tot AS DOUBLE) / n.n_docs))
             / (CAST(tot AS DOUBLE) / n.n_docs), 6) AS burstiness_vmr
FROM agg CROSS JOIN n
ORDER BY burstiness_vmr DESC, token
"""


@query(
    "llm_token_burstiness",
    "§2.21 token burstiness: variance-to-mean ratio of per-doc counts (zeros included)",
    _BURSTINESS_SQL.format(tokens="unnest(string_split(text, ' '))"),
)
def llm_token_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token burstiness (Church & Gale): the variance-to-mean ratio of
    per-document occurrence counts, zeros included — VMR ~ 1 means the
    token scatters Poisson-like (function words), VMR >> 1 means it
    CLUMPS into few documents (topical/content words; in a training
    corpus also boilerplate and template artifacts, which is why dedup
    pipelines screen high-VMR tokens before shingling).  The zero rows
    for docs lacking a token never materialize: with N total docs,
    mean = tot/N and E[c^2] = sumsq/N are already exact over the
    sparse per-doc counts, so the whole statistic needs only exact
    integer sums plus closing rounded doubles — same in both engines
    from one shared SQL text (only the tokenizer spelling differs).

    Shape at any SF: the corpus tokenizes map-side and partial-aggs
    onto (token, doc_id) then token — two hash aggregates whose
    second input is vocab x docs-containing sparse rows, never the
    corpus; the N-row count broadcast-joins.  Output is |vocab| rows."""
    register_views(spark, sf_dir, ["documents"])
    return spark.sql(_BURSTINESS_SQL.format(tokens="explode(split(text, ' '))"))


# Judge length-bias audit (round 11): does the quality judge behind
# llm_preference_pairs just reward LENGTH?  Template SQL (tokenizer
# spelling per engine); the pair set is the exact positional pairing
# _PREF_PAIRS_SQL defines, the verbosity stats are exact integer
# counts/sums, and the judge-vs-length Pearson runs on exact decimal
# moments (the OLS precedent).  Each factor casts to DECIMAL(19,0)
# BEFORE multiplying: score = distinct*1e6 + tokens can reach ~3e9 on
# a 3,038-distinct-token doc, so a BIGINT score*score would wrap
# silently in Spark (non-ANSI) while DuckDB errors — (19,0)x(19,0)
# widens to an exact DECIMAL(38,0) in both engines.
_JUDGE_LEN_BIAS_SQL = """
WITH scored AS (
  SELECT doc_id, source, n_chars,
         CAST({dt} AS BIGINT) * 1000000 + {nt} AS score
  FROM documents
),
ranked AS (
  SELECT doc_id, source, score, n_chars,
         row_number() OVER (PARTITION BY source ORDER BY score DESC, doc_id)
           AS r_top,
         row_number() OVER (PARTITION BY source ORDER BY score ASC, doc_id DESC)
           AS r_bot
  FROM scored
),
pairs AS (
  SELECT t.n_chars AS cl, b.n_chars AS rl
  FROM ranked t JOIN ranked b
    ON t.source = b.source AND t.r_top = b.r_bot
  WHERE t.r_top <= 3 AND t.doc_id <> b.doc_id AND t.score > b.score
),
pair_stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum(CASE WHEN cl > rl THEN 1 ELSE 0 END) AS BIGINT)
           AS n_chosen_longer,
         CAST(sum(cl - rl) AS BIGINT) AS sum_delta
  FROM pairs
),
corr_m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(score AS DECIMAL(38,0))) AS DOUBLE) AS sx,
         CAST(sum(CAST(n_chars AS DECIMAL(38,0))) AS DOUBLE) AS sy,
         CAST(sum(CAST(score AS DECIMAL(19,0)) * CAST(n_chars AS DECIMAL(19,0)))
              AS DOUBLE) AS sxy,
         CAST(sum(CAST(score AS DECIMAL(19,0)) * CAST(score AS DECIMAL(19,0)))
              AS DOUBLE) AS sxx,
         CAST(sum(CAST(n_chars AS DECIMAL(19,0)) * CAST(n_chars AS DECIMAL(19,0)))
              AS DOUBLE) AS syy
  FROM scored
)
SELECT p.n_pairs, p.n_chosen_longer,
       round(CAST(p.n_chosen_longer AS DOUBLE) / p.n_pairs, 6)
         AS frac_chosen_longer,
       round(CAST(p.sum_delta AS DOUBLE) / p.n_pairs, 6) AS mean_char_delta,
       round((c.n * c.sxy - c.sx * c.sy)
             / sqrt((c.n * c.sxx - c.sx * c.sx)
                    * (c.n * c.syy - c.sy * c.sy)), 6) AS judge_length_corr
FROM pair_stats p CROSS JOIN corr_m c
"""


@query(
    "llm_judge_length_bias",
    "§2.21 judge length-bias audit over the preference-pair construction",
    _JUDGE_LEN_BIAS_SQL.format(
        dt="len(list_distinct(string_split(text, ' ')))",
        nt="len(string_split(text, ' '))",
    ),
)
def llm_judge_length_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bias audit of the preference judge — the RLHF-hygiene
    check that catches the classic failure where a reward model or
    LLM judge just rewards VERBOSITY: over the exact positional
    (chosen, rejected) pairs llm_preference_pairs emits, the fraction
    of pairs whose chosen doc is also the longer one and the mean
    character delta; plus the corpus-wide Pearson correlation between
    the judge score and raw character count (factors cast to
    DECIMAL(19,0) before multiplying so the moments stay exact past
    the ~3e9-score BIGINT-square wraparound point, one closed-form
    double — the OLS precedent).  A
    frac_chosen_longer near 1 with high judge_length_corr means the
    'quality' signal is length in disguise and the pair set would
    train a verbosity-maximizer.  (This fixture's judge mixes distinct
    -token and token counts, which correlate with length by
    construction — exactly the regime the audit exists to expose.)

    Shape at any SF: one tokenize pass over documents partial-aggs
    the Pearson moments map-side; the two per-source rank windows and
    the positional pair join run on the same one shuffle
    llm_preference_pairs already pays; the finish is O(1)."""
    register_views(spark, sf_dir, ["documents"])
    return spark.sql(
        _JUDGE_LEN_BIAS_SQL.format(
            dt="size(array_distinct(split(text, ' ')))",
            nt="size(split(text, ' '))",
        )
    )


# Conversation-turn audit (round 11): the SFT-data QA pass over the
# same per-user event "conversations" llm_chat_template_flatten
# renders — consecutive same-type turns, type diversity, and the
# largest inter-turn gap.  Sort key is (epoch-second, event_id):
# second-granularity timestamps are identical across engines (the
# events fixture is ns-precision parquet, which Spark truncates to
# micros and DuckDB keeps — raw ts could order ties differently), and
# event_id breaks same-second ties deterministically.
@query(
    "llm_chat_turn_audit",
    "§2.21 conversation-turn QA: repeats, type diversity, max gap per user sequence",
    """
    WITH e AS (
      SELECT user_id, event_id, event_type AS et,
             CAST(floor(epoch(ts)) AS BIGINT) AS sec
      FROM events
    ),
    conv AS (
      SELECT user_id,
             list(et ORDER BY sec, event_id)[1:8] AS ets,
             list(sec ORDER BY sec, event_id)[1:8] AS secs
      FROM e GROUP BY user_id
    )
    SELECT user_id,
           CAST(len(ets) AS BIGINT) AS n_turns,
           CAST(COALESCE(list_sum(list_transform(range(2, len(ets) + 1),
                i -> CASE WHEN ets[i] = ets[i-1] THEN 1 ELSE 0 END)), 0)
             AS BIGINT) AS n_repeats,
           CAST(len(list_distinct(ets)) AS BIGINT) AS n_distinct_types,
           CAST(COALESCE(list_max(list_transform(range(2, len(secs) + 1),
                i -> secs[i] - secs[i-1])), 0) AS BIGINT) AS max_gap_s,
           CAST(CASE WHEN COALESCE(list_max(list_transform(range(2, len(secs) + 1),
                i -> secs[i] - secs[i-1])), 0) > 86400
                THEN 1 ELSE 0 END AS BIGINT) AS sparse_flag
    FROM conv ORDER BY user_id
    """,
)
def llm_chat_turn_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation-turn QA — the screens an SFT pipeline runs on
    multi-turn data before templating (llm_chat_template_flatten's
    upstream gate): per user 'conversation' (the ordered first 8
    events), the count of CONSECUTIVE same-type turns (role/type
    repetition — the classic malformed-dialogue signal), the distinct
    type count (degenerate single-type sessions), the largest
    inter-turn gap in seconds, and a sparse flag (gap > 1 day =
    probably two sessions glued together; a sessionizer should have
    split them).  Everything is exact integer arithmetic over
    second-granularity epochs, and the sort key (epoch second,
    event_id) is engine-identical BY CONSTRUCTION — the raw
    ns-precision timestamps could order sub-microsecond ties
    differently after Spark's micros truncation, so they never enter
    the sort.

    Shape at any SF: ONE shuffle (collect_list of small structs per
    user — the chat_template_flatten discipline), then every audit
    counter is a JVM-side array HOF over the 8-element slice; the
    output is user-grain."""
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.col("event_type").alias("et"),
        F.unix_timestamp("ts").alias("sec"),
    )
    conv = ev.groupBy("user_id").agg(
        F.slice(
            F.array_sort(F.collect_list(F.struct("sec", "event_id", "et"))), 1, 8
        ).alias("a")
    )
    c = conv.select(
        "user_id",
        F.expr("transform(a, s -> s.et)").alias("ets"),
        F.expr("transform(a, s -> s.sec)").alias("secs"),
    )
    n_repeats = F.expr(
        "CASE WHEN size(ets) >= 2 THEN aggregate(sequence(2, size(ets)), 0L,"
        " (acc, i) -> acc + IF(element_at(ets, i) = element_at(ets, i - 1), 1L, 0L))"
        " ELSE 0L END"
    )
    max_gap = F.expr(
        "CASE WHEN size(secs) >= 2 THEN array_max(transform(sequence(2, size(secs)),"
        " i -> element_at(secs, i) - element_at(secs, i - 1))) ELSE 0L END"
    )
    return c.select(
        "user_id",
        F.size("ets").cast("bigint").alias("n_turns"),
        n_repeats.cast("bigint").alias("n_repeats"),
        F.size(F.array_distinct("ets")).cast("bigint").alias("n_distinct_types"),
        max_gap.cast("bigint").alias("max_gap_s"),
        F.when(max_gap > 86400, F.lit(1)).otherwise(F.lit(0)).cast("bigint").alias(
            "sparse_flag"
        ),
    ).orderBy("user_id")


# Filter funnel report (round 11, wave 3): per-source survivor counts
# through the SEQUENTIAL cleaning stages a corpus-prep job applies —
# the observability table every data team ships with a dataset drop.
# Template SQL (tokenizer/hash spellings per engine); every count is
# an exact integer and every stage predicate is integer arithmetic.
_FUNNEL_SQL = """
WITH t AS (
  SELECT doc_id, source, n_chars,
         {wc} AS w,
         {hits} AS hits,
         {h} AS h
  FROM documents
),
surv AS (
  SELECT t.*,
         CASE WHEN doc_id = min(doc_id) OVER (PARTITION BY h)
              THEN 1 ELSE 0 END AS keep_dedup
  FROM t
),
staged AS (
  SELECT source,
         1 AS s0,
         keep_dedup AS s1,
         CASE WHEN keep_dedup = 1 AND w >= 20 THEN 1 ELSE 0 END AS s2,
         CASE WHEN keep_dedup = 1 AND w >= 20
                   AND NOT (10 * hits > w) THEN 1 ELSE 0 END AS s3,
         CASE WHEN keep_dedup = 1 AND w >= 20 AND NOT (10 * hits > w)
                   AND n_chars BETWEEN 150 AND 1000 THEN 1 ELSE 0 END AS s4
  FROM surv
)
SELECT source,
       CAST(sum(s0) AS BIGINT) AS n_raw,
       CAST(sum(s1) AS BIGINT) AS n_after_dedup,
       CAST(sum(s2) AS BIGINT) AS n_after_quality,
       CAST(sum(s3) AS BIGINT) AS n_after_blocklist,
       CAST(sum(s4) AS BIGINT) AS n_after_length,
       round(CAST(sum(s4) AS DOUBLE) / sum(s0), 6) AS keep_rate
FROM staged GROUP BY source ORDER BY source
"""


@query(
    "llm_filter_funnel",
    "§2.21 corpus-prep filter funnel: per-source survivors through sequential cleaning stages",
    _FUNNEL_SQL.format(
        wc="len(string_split(text, ' '))",
        hits="len(list_filter(string_split(text, ' '), x -> x IN ('slow', 'big')))",
        h="md5(text)",
    ),
)
def llm_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-funnel observability — the per-source survivor table a
    dataset release ships alongside the data (FineWeb/C4-style drop
    reports): raw → exact dedup (first doc_id per md5 wins — the
    llm_dedup_exact rule; an honest no-op on this dupe-free fixture,
    the machinery still runs) → quality gate (≥20 words, the
    llm_pipeline_end_to_end threshold) → blocklist gate (blocked-token
    rate ≤ 10%, tested as the exact cross-multiplication 10·hits > w —
    no float division) → length band (150–1000 chars), applied
    SEQUENTIALLY so each count is 'survivors so far', plus the final
    keep rate.  Unlike llm_pipeline_end_to_end (which reports only the
    final aggregate), the funnel exposes WHERE documents die — the
    number a pipeline owner actually debugs with.  Every stage
    predicate and count is exact integer arithmetic; one rounded
    division closes.

    Shape at any SF: one scan computes tokens/hits/hash map-side; the
    only shuffle is the dedup hash window (partition by content hash —
    the llm_dedup_exact shape); the staged flags then partial-agg onto
    |sources| rows."""
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    t = d.select(
        "doc_id",
        "source",
        "n_chars",
        F.size(toks).alias("w"),
        F.size(F.filter(toks, lambda x: x.isin("slow", "big"))).alias("hits"),
        F.md5(F.col("text").cast("binary")).alias("h"),
    )
    wmin = Window.partitionBy("h")
    surv = t.withColumn(
        "keep_dedup",
        F.when(F.col("doc_id") == F.min("doc_id").over(wmin), 1).otherwise(0),
    )
    s2 = (F.col("keep_dedup") == 1) & (F.col("w") >= 20)
    s3 = s2 & ~(10 * F.col("hits") > F.col("w"))
    s4 = s3 & F.col("n_chars").between(150, 1000)
    staged = surv.select(
        "source",
        F.lit(1).alias("s0"),
        F.col("keep_dedup").alias("s1"),
        F.when(s2, 1).otherwise(0).alias("s2"),
        F.when(s3, 1).otherwise(0).alias("s3"),
        F.when(s4, 1).otherwise(0).alias("s4"),
    )
    return (
        staged.groupBy("source")
        .agg(
            F.sum("s0").cast("bigint").alias("n_raw"),
            F.sum("s1").cast("bigint").alias("n_after_dedup"),
            F.sum("s2").cast("bigint").alias("n_after_quality"),
            F.sum("s3").cast("bigint").alias("n_after_blocklist"),
            F.sum("s4").cast("bigint").alias("n_after_length"),
            F.round(F.sum("s4").cast("double") / F.sum("s0"), 6).alias("keep_rate"),
        )
        .orderBy("source")
    )


# Immediate-repetition loop detector (round 11, wave 3): the
# generated-text degeneration signal — "the the", "of the of the",
# ABCABC — counted EXACTLY at unigram/bigram/trigram level via
# shifted-index comparisons (no explode, no shuffle before the
# per-source rollup).  Template SQL: tokenizer + index-function
# spellings per engine; 1-based positions in both.
_REP_LOOPS_SQL = """
WITH t AS (SELECT doc_id, source, {split} AS a FROM documents),
r AS (
  SELECT doc_id, source,
         CASE WHEN {sz} >= 2 THEN
           {count_uni}
         ELSE 0 END AS uni,
         CASE WHEN {sz} >= 4 THEN
           {count_bi}
         ELSE 0 END AS bi,
         CASE WHEN {sz} >= 6 THEN
           {count_tri}
         ELSE 0 END AS tri
  FROM t
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN uni > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_uni_loop,
       CAST(sum(CASE WHEN bi > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_bi_loop,
       CAST(sum(CASE WHEN tri > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_tri_loop,
       CAST(sum(uni) AS BIGINT) AS total_uni_loops,
       CAST(sum(bi) AS BIGINT) AS total_bi_loops,
       CAST(sum(tri) AS BIGINT) AS total_tri_loops
FROM r GROUP BY source ORDER BY source
"""

_REP_DUCK = dict(
    split="string_split(text, ' ')",
    sz="len(a)",
    count_uni="len(list_filter(range(1, len(a)), i -> a[i] = a[i+1]))",
    count_bi=(
        "len(list_filter(range(1, len(a) - 2), i ->"
        " a[i] = a[i+2] AND a[i+1] = a[i+3]))"
    ),
    count_tri=(
        "len(list_filter(range(1, len(a) - 4), i ->"
        " a[i] = a[i+3] AND a[i+1] = a[i+4] AND a[i+2] = a[i+5]))"
    ),
)
_REP_SPARK = dict(
    split="split(text, ' ')",
    sz="size(a)",
    count_uni=(
        "size(filter(sequence(1, size(a) - 1), i ->"
        " element_at(a, i) = element_at(a, i + 1)))"
    ),
    count_bi=(
        "size(filter(sequence(1, size(a) - 3), i ->"
        " element_at(a, i) = element_at(a, i + 2)"
        " AND element_at(a, i + 1) = element_at(a, i + 3)))"
    ),
    count_tri=(
        "size(filter(sequence(1, size(a) - 5), i ->"
        " element_at(a, i) = element_at(a, i + 3)"
        " AND element_at(a, i + 1) = element_at(a, i + 4)"
        " AND element_at(a, i + 2) = element_at(a, i + 5)))"
    ),
)


@query(
    "llm_repetition_loops",
    "§2.21 immediate-repetition loop detector (uni/bi/tri-gram degeneration QA)",
    _REP_LOOPS_SQL.format(**_REP_DUCK),
)
def llm_repetition_loops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Immediate-repetition loop detection — the GENERATED-text
    degeneration signal llm_text_repetition's dup-ngram FRACTION can't
    isolate: a high dup fraction flags copy-paste boilerplate anywhere
    in the doc, while a LOOP ('the the', 'of the of the', ABCABC
    immediately adjacent) is the signature of greedy-decoding collapse
    and template stamping, and generated-data QA filters on it
    specifically.  Counts positions where the n-gram at i equals the
    n-gram at i+n for n = 1, 2, 3, each an exact integer computed by a
    shifted-index filter over the token array (1-based element_at /
    list indexing, identical semantics in both engines), with
    short-doc guards so sequence() never runs descending.  Per-source
    rollup: affected-doc counts and total loop counts per level.

    Shape at any SF: one map-side pass over documents (arrays never
    leave their row), then an algebraic hash-agg onto |sources| rows —
    the corpus never shuffles.  NOTE the DuckDB/Spark off-by-one in
    the filter bounds is deliberate: DuckDB's range(1, n) EXCLUDES n
    while Spark's sequence(1, n) INCLUDES it, so the Spark upper
    bounds sit one lower to cover the identical index set."""
    register_views(spark, sf_dir, ["documents"])
    return spark.sql(_REP_LOOPS_SQL.format(**_REP_SPARK))


# Conditional bigram entropy rate (round 11, final): H(w2|w1) =
# H(bigram) - H(unigram-as-context) per source — the sequence-
# predictability stat that unigram token entropy can't see.  One
# template SQL (tokenizer spelling only); counts are exact integers
# and the entropy sums run over the vocab/vocab^2 cells (the
# stats_kl_divergence small-cell precedent; this fixture's vocab is
# 31, so <= 961 cells).
_ENTROPY_RATE_SQL = """
WITH tok AS (
  SELECT source, doc_id, t, i
  FROM (SELECT source, doc_id, {tokens}
        FROM documents)
),
big AS (
  SELECT a.source, a.t AS w1, b.t AS w2
  FROM tok a JOIN tok b
    ON a.doc_id = b.doc_id AND b.i = a.i + 1 AND a.source = b.source
),
bc AS (
  SELECT source, w1, w2, CAST(count(*) AS BIGINT) AS c
  FROM big GROUP BY source, w1, w2
),
ctx AS (
  SELECT source, w1, CAST(sum(c) AS BIGINT) AS cw1 FROM bc GROUP BY source, w1
),
n AS (SELECT source, CAST(sum(c) AS BIGINT) AS nb FROM bc GROUP BY source),
hb AS (
  SELECT bc.source,
         -sum((CAST(bc.c AS DOUBLE) / n.nb)
              * ln(CAST(bc.c AS DOUBLE) / n.nb)) AS h_bigram
  FROM bc JOIN n ON bc.source = n.source GROUP BY bc.source
),
hc AS (
  SELECT ctx.source,
         -sum((CAST(ctx.cw1 AS DOUBLE) / n.nb)
              * ln(CAST(ctx.cw1 AS DOUBLE) / n.nb)) AS h_context
  FROM ctx JOIN n ON ctx.source = n.source GROUP BY ctx.source
)
SELECT hb.source, n.nb AS n_bigrams,
       round(hb.h_bigram, 6) AS h_bigram_nats,
       round(hc.h_context, 6) AS h_context_nats,
       round(hb.h_bigram - hc.h_context, 6) AS entropy_rate_nats
FROM hb JOIN hc ON hb.source = hc.source JOIN n ON hb.source = n.source
ORDER BY hb.source
"""


@query(
    "llm_ngram_entropy_rate",
    "§2.21 conditional bigram entropy rate H(w2|w1) per source",
    _ENTROPY_RATE_SQL.format(
        tokens="unnest(string_split(text, ' ')) AS t,"
        " generate_subscripts(string_split(text, ' '), 1) AS i"
    ),
)
def llm_ngram_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional bigram entropy rate H(w2|w1) = H(bigrams) -
    H(contexts) per source — the sequence-PREDICTABILITY measure
    llm_token_entropy's unigram view can't see: two sources with
    identical word frequencies but different word ORDER discipline
    (templated boilerplate vs free text) separate here and nowhere
    else in the unigram family, which is why LM-data work reports
    entropy rate alongside plain token entropy.  The chain-rule
    identity H(w2|w1) = H(w1,w2) - H(w1) lets both terms come from the
    SAME exact bigram count table (contexts are its row-marginal, so
    no separate unigram pass and no off-by-one on doc boundaries);
    the closing entropy sums run over at most vocab^2 cells (<= 961
    here — the KL small-cell precedent) and round-6 closes the gate.

    Shape at any SF: tokens explode with their position and bigrams
    form by a (doc_id, i+1) self-equi-join that at real scale is a
    co-partitioned zip (both sides hash on doc_id); counts partial-agg
    map-side onto |sources| x vocab^2 cells, and everything after is
    metadata-scale.  The positional join (not a window) keeps the
    corpus to ONE shuffle keyed by doc_id."""
    register_views(spark, sf_dir, ["documents"])
    return spark.sql(
        _ENTROPY_RATE_SQL.format(
            tokens="posexplode(split(text, ' ')) AS (i, t)"
        )
    )


# Interpolated Kneser-Ney bigram scoring (round 12): the
# continuation-count smoother llm_ngram_backoff_score's docstring
# defers to — same train/held split, same positional-join bigram
# machinery, but the unseen mass goes to words that complete MANY
# contexts (N1+(.w)) instead of merely frequent words, which is what
# separates "Francisco" (frequent, one context) from genuinely
# productive continuations.  Template SQL: only the words-CTE
# spelling differs per engine (posexplode vs unnest/subscripts);
# everything downstream is shared text over exact integer counts,
# with d = 0.75 and a +1-Laplace floor on the continuation
# distribution so an unseen continuation never hits ln(0) (the
# convention is part of the definition and documented).
_KNESER_NEY_SQL = """
WITH words AS ({words}),
train AS (SELECT * FROM words WHERE doc_id % 10 <> 0),
held AS (SELECT * FROM words WHERE doc_id % 10 = 0),
big AS (
  SELECT a.w AS prev, b.w AS cur, CAST(count(*) AS BIGINT) AS c
  FROM train a JOIN train b ON a.doc_id = b.doc_id AND b.i = a.i + 1
  GROUP BY 1, 2
),
ctx AS (
  SELECT prev, CAST(sum(c) AS BIGINT) AS c_prev,
         CAST(count(*) AS BIGINT) AS n1p_prev
  FROM big GROUP BY prev
),
cont AS (SELECT cur, CAST(count(*) AS BIGINT) AS n1p_cur FROM big GROUP BY cur),
t AS (
  SELECT CAST(count(*) AS BIGINT) AS nbt,
         CAST(count(DISTINCT cur) AS BIGINT) AS vc
  FROM big
),
hb AS (
  SELECT a.doc_id, a.source, a.w AS prev, b.w AS cur
  FROM held a JOIN held b ON a.doc_id = b.doc_id AND b.i = a.i + 1
),
scored AS (
  SELECT hb.doc_id, hb.source,
         CASE WHEN ctx.c_prev IS NOT NULL THEN
                ln(greatest(CAST(coalesce(big.c, 0) AS DOUBLE)
                              - CAST(0.75 AS DOUBLE), CAST(0 AS DOUBLE))
                     / ctx.c_prev
                   + CAST(0.75 AS DOUBLE) * ctx.n1p_prev / ctx.c_prev
                     * (coalesce(cont.n1p_cur, 0) + CAST(1 AS DOUBLE))
                     / (t.nbt + t.vc + 1))
              ELSE ln((coalesce(cont.n1p_cur, 0) + CAST(1 AS DOUBLE))
                      / (t.nbt + t.vc + 1))
         END AS lp,
         CASE WHEN big.c IS NULL THEN 1 ELSE 0 END AS unseen_bigram,
         CASE WHEN ctx.c_prev IS NULL THEN 1 ELSE 0 END AS unseen_context
  FROM hb
  LEFT JOIN big ON hb.prev = big.prev AND hb.cur = big.cur
  LEFT JOIN ctx ON hb.prev = ctx.prev
  LEFT JOIN cont ON hb.cur = cont.cur
  CROSS JOIN t
),
per_doc AS (
  SELECT doc_id, source, avg(lp) AS doc_lp,
         CAST(sum(unseen_bigram) AS BIGINT) AS nub,
         CAST(sum(unseen_context) AS BIGINT) AS nuc,
         CAST(count(*) AS BIGINT) AS nb
  FROM scored GROUP BY doc_id, source
)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(doc_lp), 6) AS avg_logprob_kn,
       round(CAST(sum(nub) AS DOUBLE) / sum(nb), 6) AS unseen_bigram_rate,
       round(CAST(sum(nuc) AS DOUBLE) / sum(nb), 6) AS unseen_context_rate
FROM per_doc GROUP BY source
"""

_KN_WORDS_DUCK = """
  SELECT doc_id, source, w, i
  FROM (SELECT doc_id, source, string_split(text, ' ') AS ws
        FROM documents WHERE text IS NOT NULL),
       LATERAL (SELECT unnest(ws) AS w, generate_subscripts(ws, 1) AS i)
  WHERE w <> ''
"""

_KN_WORDS_SPARK = """
  SELECT doc_id, source, pe.w AS w, pe.i AS i
  FROM documents
  LATERAL VIEW posexplode(split(text, ' ')) pe AS i, w
  WHERE text IS NOT NULL AND pe.w <> ''
"""


@query(
    "llm_ngram_kneser_ney",
    "§2.21 interpolated Kneser-Ney bigram LM scoring of held-out docs",
    _KNESER_NEY_SQL.format(words=_KN_WORDS_DUCK),
)
def llm_ngram_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram scoring — the smoother
    llm_ngram_backoff_score explicitly defers to, run on the same
    90/10 train/held split so the two scorers are directly
    comparable per source: P_KN(w|prev) = max(c(prev,w) - d, 0) /
    c(prev.) + d * N1+(prev.)/c(prev.) * P_cont(w), with d = 0.75 and
    P_cont(w) = (N1+(.w) + 1)/(bigram_types + |continuations| + 1)
    (+1-Laplace floor so unseen continuations score finitely — the
    convention is part of this definition).  Continuation counts are
    what make KN worth its extra pass: a word that completes many
    DISTINCT contexts gets the backoff mass, not a word that is
    merely frequent in one.  Every probability is a fixed-order
    DOUBLE from exact integer counts — the 0.75/1 literals cast
    explicitly, because a bare 0.75*bigint/bigint runs as DECIMAL
    arithmetic whose division DuckDB quantizes at a different scale
    than Spark (~1e-6 systematic drift on every doc; found by the
    round-12 multi-SF oracle sweeps and fixed by forcing the double
    path).  Per-doc and per-source averaging follows the
    backoff-score precedent; the unseen_bigram / unseen_context rates
    quantify where the discount mass actually went.

    Shape at any SF: bigram/context/continuation tables are corpus
    aggregates over doc_id-co-partitioned positional self-joins (the
    llm_ngram_entropy_rate shuffle shape); scoring is three left
    joins of the held slice against vocab-bounded tables plus one
    broadcast scalar.  The corpus tokenizes twice (train and held
    partitions of the same scan) and never shuffles wider than
    (doc_id) / (vocab-key) grains."""
    register_views(spark, sf_dir, ["documents"])
    return spark.sql(_KNESER_NEY_SQL.format(words=_KN_WORDS_SPARK))


# Heaps-law exponent fit (round 12): the scalar completion of
# llm_vocab_growth_curve — fit V = K * N^beta over the per-decile
# cumulative (tokens, distinct unigrams) points via OLS on the
# log-log pairs, all sums integerized (1e-8-grain log values, exact
# DECIMAL products) so the 10-point fit is order-free in both
# engines.  Template SQL (words-CTE spelling only).
_HEAPS_FIT_SQL = """
WITH words AS ({words}),
sh AS (
  SELECT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS w
  FROM words a
  JOIN words b ON a.doc_id = b.doc_id AND b.i = a.i + 1
  JOIN words c ON a.doc_id = c.doc_id AND c.i = a.i + 2
),
mx AS (SELECT CAST(max(doc_id) AS BIGINT) + 1 AS span FROM documents),
wb AS (
  SELECT CAST(floor(doc_id * 10.0 / span) AS BIGINT) AS bucket, w
  FROM sh CROSS JOIN mx
),
toks AS (SELECT bucket, CAST(count(*) AS BIGINT) AS toks FROM wb GROUP BY bucket),
firsts AS (SELECT w, CAST(min(bucket) AS BIGINT) AS fb FROM wb GROUP BY w),
nv AS (SELECT fb AS bucket, CAST(count(*) AS BIGINT) AS new_vocab
       FROM firsts GROUP BY fb),
cum AS (
  SELECT t.bucket,
         CAST(sum(t.toks) OVER (ORDER BY t.bucket) AS BIGINT) AS cum_tokens,
         CAST(sum(coalesce(nv.new_vocab, 0)) OVER (ORDER BY t.bucket)
              AS BIGINT) AS cum_vocab
  FROM toks t LEFT JOIN nv ON t.bucket = nv.bucket
),
pts AS (
  SELECT bucket, cum_tokens, cum_vocab,
         CAST(round(ln(cum_tokens) * 100000000) AS BIGINT) AS lx8,
         CAST(round(ln(cum_vocab) * 100000000) AS BIGINT) AS ly8
  FROM cum
),
fit AS (
  SELECT CAST(count(*) AS BIGINT) AS m,
         CAST(sum(lx8) AS DOUBLE) / 100000000 AS sx,
         CAST(sum(ly8) AS DOUBLE) / 100000000 AS sy,
         CAST(sum(CAST(lx8 AS DECIMAL(19,0)) * CAST(ly8 AS DECIMAL(19,0)))
              AS DOUBLE) / 100000000 / 100000000 AS sxy,
         CAST(sum(CAST(lx8 AS DECIMAL(19,0)) * CAST(lx8 AS DECIMAL(19,0)))
              AS DOUBLE) / 100000000 / 100000000 AS sxx,
         CAST(sum(CAST(ly8 AS DECIMAL(19,0)) * CAST(ly8 AS DECIMAL(19,0)))
              AS DOUBLE) / 100000000 / 100000000 AS syy
  FROM pts
)
SELECT p.bucket, p.cum_tokens AS cum_ngrams, p.cum_vocab,
       round(CAST(p.lx8 AS DOUBLE) / 100000000, 6) AS ln_ngrams,
       round(CAST(p.ly8 AS DOUBLE) / 100000000, 6) AS ln_vocab,
       round((f.m * f.sxy - f.sx * f.sy) / (f.m * f.sxx - f.sx * f.sx), 6)
         AS heaps_beta,
       round((f.sy - (f.m * f.sxy - f.sx * f.sy)
                     / (f.m * f.sxx - f.sx * f.sx) * f.sx) / f.m, 6)
         AS heaps_ln_k,
       CASE WHEN (f.m * f.sxx - f.sx * f.sx)
                 * (f.m * f.syy - f.sy * f.sy) > 0
            THEN round((f.m * f.sxy - f.sx * f.sy)
                       * (f.m * f.sxy - f.sx * f.sy)
                       / ((f.m * f.sxx - f.sx * f.sx)
                          * (f.m * f.syy - f.sy * f.sy)), 6)
            END AS r2
FROM pts p CROSS JOIN fit f ORDER BY p.bucket
"""

_HEAPS_WORDS_DUCK = """
  SELECT doc_id, w, i
  FROM (SELECT doc_id, string_split(text, ' ') AS ws
        FROM documents WHERE text IS NOT NULL),
       LATERAL (SELECT unnest(ws) AS w, generate_subscripts(ws, 1) AS i)
  WHERE w <> ''
"""

_HEAPS_WORDS_SPARK = """
  SELECT doc_id, pe.w AS w, pe.i AS i
  FROM documents
  LATERAL VIEW posexplode(split(text, ' ')) pe AS i, w
  WHERE text IS NOT NULL AND pe.w <> ''
"""


@query(
    "llm_heaps_law_fit",
    "§2.21 Heaps-law fit: vocabulary-growth exponent over decile prefixes",
    _HEAPS_FIT_SQL.format(words=_HEAPS_WORDS_DUCK),
)
def llm_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law fit — the scalar llm_vocab_growth_curve's shape only
    gestures at: V(N) = K * N^beta fitted by OLS over the ten
    (cumulative 3-gram instances, cumulative distinct 3-gram
    shingles) prefix points in doc_id ingest order — the SAME shingle
    vocabulary as the growth curve (the fixture's unigram vocabulary
    is 31 words and saturates in the first decile, which is exactly
    the degenerate case the r2 NULL-guard documents).  beta near 1
    means every new batch still mints vocabulary (unsaturated crawl /
    heavy noise); a sagging beta is the data-is-repeating signal
    that, alongside llm_ngram_novelty, gates the next ingest spend.
    Same first-occurrence trick as the growth curve (each shingle
    contributes once at its min bucket — no quadratic
    cumulative-distinct), log points snapped to 1e-8-grain integers
    and the fit's moments taken as exact DECIMAL products, so the
    10-point OLS is order-free and identical in both engines; R^2
    reports fit quality; ln K stays in log space (exp() is the one
    libm call the two engines could disagree on).

    Shape at any SF: one tokenize pass into doc_id-co-partitioned
    positional shingle joins (the llm_ngram_entropy_rate shuffle
    shape), two vocab-grain hash aggs (instance counts per bucket,
    min-bucket per shingle), then a 10-row window and finish."""
    register_views(spark, sf_dir, ["documents"])
    return spark.sql(_HEAPS_FIT_SQL.format(words=_HEAPS_WORDS_SPARK))


# Self-BLEU diversity (round 13): the pairwise-overlap diversity
# audit — high self-BLEU between documents from the same source means
# the source is minting near-copies (mode collapse in generated data,
# template boilerplate in crawled data).  Full self-BLEU is O(n^2)
# pairs; the scalable convention here is BOUNDED DETERMINISTIC
# PAIRING: each doc pairs with the next doc_id inside its (source,
# doc_id div 1000) block — n/1 pairs, not n^2/2, every window
# partition capped at 1000 rows at any SF, and the pairing is a pure
# function of the keys (the sample_hash_deterministic reasoning).
# The last doc of each block goes unpaired (<=0.1% loss, documented).
# Template SQL (tokenizer/bigram/unnest/intdiv spellings per engine).
# Determinism: clipped and total n-gram counts are exact integers,
# each pair's modified precision snaps to a 1e-9-grain bigint before
# the per-source mean, and sqrt is IEEE-exact on identically-derived
# doubles.
_SELFBLEU_SQL = """
WITH docs AS (
  SELECT {hint} doc_id, source, {tokens} AS toks
  FROM documents WHERE text IS NOT NULL
),
paired AS (
  SELECT doc_id AS cand, source,
         lead(doc_id) OVER (PARTITION BY source, doc_id {div} 1000
                            ORDER BY doc_id) AS ref
  FROM docs
),
pairs AS (SELECT cand, ref, source FROM paired WHERE ref IS NOT NULL),
grams AS (
  SELECT doc_id, g, CAST(count(*) AS BIGINT) AS cnt, 1 AS n
  FROM (SELECT doc_id, {unnest_uni} AS g FROM docs) u
  GROUP BY doc_id, g
  UNION ALL
  SELECT doc_id, g, CAST(count(*) AS BIGINT) AS cnt, 2 AS n
  FROM (SELECT doc_id, {unnest_bi} AS g
        FROM (SELECT doc_id, {bigrams} AS bg FROM docs) b) x
  GROUP BY doc_id, g
),
joined AS (
  SELECT p.cand, p.source, c.n,
         c.cnt AS ccnt, COALESCE(r.cnt, 0) AS rcnt
  FROM pairs p
  JOIN grams c ON c.doc_id = p.cand
  LEFT JOIN grams r ON r.doc_id = p.ref AND r.g = c.g AND r.n = c.n
),
per_pair AS (
  SELECT cand, source, n,
         CAST(sum(least(ccnt, rcnt)) AS BIGINT) AS clipped,
         CAST(sum(ccnt) AS BIGINT) AS total
  FROM joined GROUP BY cand, source, n
),
pp AS (
  SELECT cand, source, n,
         CAST(round(CAST(clipped AS DOUBLE) / total * 1000000000)
              AS BIGINT) AS p9
  FROM per_pair WHERE total > 0
),
src AS (
  SELECT source,
         CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         CAST(sum(CASE WHEN n = 1 THEN p9 ELSE 0 END) AS BIGINT) AS s1,
         CAST(sum(CASE WHEN n = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
         CAST(sum(CASE WHEN n = 2 THEN p9 ELSE 0 END) AS BIGINT) AS s2
  FROM pp GROUP BY source
)
SELECT source, c1 AS n_pairs,
       round(CAST(s1 AS DOUBLE) / c1 / 1000000000, 6) AS mean_p1,
       round(CAST(s2 AS DOUBLE) / NULLIF(c2, 0) / 1000000000, 6) AS mean_p2,
       round(sqrt((CAST(s1 AS DOUBLE) / c1 / 1000000000)
                  * (CAST(s2 AS DOUBLE) / NULLIF(c2, 0) / 1000000000)), 6)
         AS selfbleu2
FROM src ORDER BY source
"""

_SELFBLEU_SPARK = dict(
    hint="",
    tokens="filter(split(text, ' '), t -> length(t) > 0)",
    div="div",
    unnest_uni="explode(toks)",
    unnest_bi="explode(bg)",
    bigrams=(
        "CASE WHEN size(toks) >= 2 THEN transform(sequence(1, size(toks) - 1),"
        " i -> concat(toks[i - 1], ' ', toks[i]))"
        " ELSE array() END"
    ),
)
_SELFBLEU_DUCK = dict(
    hint="",
    tokens="list_filter(string_split(text, ' '), t -> length(t) > 0)",
    div="//",
    unnest_uni="unnest(toks)",
    unnest_bi="unnest(bg)",
    bigrams=(
        "list_transform(range(2, len(toks) + 1),"
        " i -> toks[i - 1] || ' ' || toks[i])"
    ),
)


@query(
    "llm_selfbleu_diversity",
    "§2.23 self-BLEU diversity audit per source (bounded deterministic pairing)",
    _SELFBLEU_SQL.format(**_SELFBLEU_DUCK),
)
def llm_selfbleu_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source self-BLEU (unigram + bigram modified precision,
    BLEU-2 as their geometric mean; brevity penalty deliberately
    omitted — neighbor docs are the same length scale and BP's exp()
    is the one libm call the engines could disagree on, documented
    convention) between each doc and the NEXT doc of its source —
    the diversity gate next to llm_ngram_novelty (which asks "is new
    data novel vs the CORPUS?"; self-BLEU asks "are docs novel vs
    EACH OTHER?").  Bounded pairing (one pair per doc, window
    partitions capped at 1000 rows by the doc_id-block key) replaces
    the O(n^2) textbook sampling, so the op is scan-linear at any SF;
    the cap and the unpaired-block-tail loss are the documented
    convention.  Modified precision = sum_g min(c_cand, c_ref) /
    total_cand per n; per-pair values snap to 1e-9 bigints before the
    per-source mean.  The property test replays pairs and precisions
    in pure python collections.Counter arithmetic.

    Shape at any SF: ONE tokenize pass builds the per-doc n-gram
    count table, which is CHECKPOINTED (the _shingle_index staging
    discipline) because the pair join consumes it twice (candidate
    and reference side) — the SQL form re-tokenized the corpus up to
    four times and was the single most expensive registry query
    (8.3 s at sf0.1, AUDIT round 13) before this rewrite; the gram
    join shuffles on doc_id(+gram), each doc's grams touched at most
    twice, per-pair and per-source hash aggs close it.  No all-pairs
    stage anywhere.  Arithmetic is identical to the shared oracle SQL
    (exact counts, 1e-9-snapped per-pair precisions)."""
    d = (
        load(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            "source",
            F.expr("filter(split(text, ' '), t -> length(t) > 0)").alias(
                "toks"
            ),
        )
    )
    uni = (
        d.select("doc_id", F.explode("toks").alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .withColumn("n", F.lit(1))
    )
    bi = (
        d.select(
            "doc_id",
            F.explode(
                F.expr(
                    "CASE WHEN size(toks) >= 2 THEN"
                    " transform(sequence(1, size(toks) - 1),"
                    " i -> concat(toks[i - 1], ' ', toks[i]))"
                    " ELSE array() END"
                )
            ).alias("g"),
        )
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .withColumn("n", F.lit(2))
    )
    grams = uni.unionByName(bi).transform(lineage_checkpoint_lazy)
    w = Window.partitionBy("source", F.expr("doc_id div 1000")).orderBy(
        "doc_id"
    )
    pairs = (
        d.select(
            F.col("doc_id").alias("cand"),
            "source",
            F.lead("doc_id").over(w).alias("ref"),
        )
        .filter(F.col("ref").isNotNull())
    )
    c = grams.select(
        F.col("doc_id").alias("cand"), "g", "n", F.col("cnt").alias("ccnt")
    )
    r = grams.select(
        F.col("doc_id").alias("ref"), "g", "n", F.col("cnt").alias("rcnt")
    )
    joined = (
        pairs.join(c, "cand")
        .join(r, ["ref", "g", "n"], "left")
        .select(
            "cand",
            "source",
            "n",
            "ccnt",
            F.coalesce("rcnt", F.lit(0)).alias("rcnt"),
        )
    )
    per_pair = joined.groupBy("cand", "source", "n").agg(
        F.sum(F.least("ccnt", "rcnt")).cast("bigint").alias("clipped"),
        F.sum("ccnt").cast("bigint").alias("total"),
    )
    pp = per_pair.filter(F.col("total") > 0).select(
        "cand",
        "source",
        "n",
        F.round(F.col("clipped").cast("double") / F.col("total") * 1e9)
        .cast("bigint")
        .alias("p9"),
    )
    src = pp.groupBy("source").agg(
        F.sum(F.when(F.col("n") == 1, 1).otherwise(0)).cast("bigint").alias("c1"),
        F.sum(F.when(F.col("n") == 1, F.col("p9")).otherwise(0))
        .cast("bigint")
        .alias("s1"),
        F.sum(F.when(F.col("n") == 2, 1).otherwise(0)).cast("bigint").alias("c2"),
        F.sum(F.when(F.col("n") == 2, F.col("p9")).otherwise(0))
        .cast("bigint")
        .alias("s2"),
    )
    mean1 = F.col("s1").cast("double") / F.col("c1") / 1e9
    mean2 = F.col("s2").cast("double") / F.nullif(F.col("c2"), F.lit(0)) / 1e9
    return src.select(
        "source",
        F.col("c1").alias("n_pairs"),
        F.round(mean1, 6).alias("mean_p1"),
        F.round(mean2, 6).alias("mean_p2"),
        F.round(F.sqrt(mean1 * mean2), 6).alias("selfbleu2"),
    ).orderBy("source")


# Watermark detection (round 13, wave 3): the Kirchenbauer-style
# green-list z-test — a model watermarks generations by boosting a
# pseudorandom "green" quarter of the vocabulary seeded on the
# previous token; the detector recomputes each bigram's green bit
# from the SAME keyed hash and z-tests the doc's green fraction
# against gamma.  A training-data pipeline runs exactly this audit to
# keep (its own or others') synthetic generations out of the crawl.
# The fixture is unwatermarked, so the null behavior is the claim
# under test: per-source mean z ~ 0 and zero detections at the
# paper's z > 4 threshold — the replay property test pins both.
# Template SQL (tokenizer/unnest/md5-uniform spellings per engine).
# Determinism: the green bit is the md5 idiom (identical bits in both
# engines), T and g are exact integers, each per-doc z is a closed
# double over exact integers snapped to 1e-6 before the source mean.
_WATERMARK_GAMMA = 0.25
_WATERMARK_SQL = """
WITH docs AS (
  SELECT {hint} doc_id, source, {tokens} AS toks
  FROM documents WHERE text IS NOT NULL
),
bigrams AS (
  SELECT doc_id, source, g
  FROM (SELECT doc_id, source, {unnest_bi} AS g
        FROM (SELECT doc_id, source, {bigram_arr} AS bg FROM docs) b) x
),
flags AS (
  SELECT doc_id, source,
         CASE WHEN {u} < 0.25 THEN 1 ELSE 0 END AS green
  FROM bigrams
),
per_doc AS (
  SELECT doc_id, source,
         CAST(count(*) AS BIGINT) AS t,
         CAST(sum(green) AS BIGINT) AS g
  FROM flags GROUP BY doc_id, source
),
z AS (
  SELECT doc_id, source, t, g,
         (g - 0.25 * t) / sqrt(t * CAST(0.1875 AS DOUBLE)) AS zval
  FROM per_doc WHERE t > 0
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(CAST(sum(CAST(round(zval * 1000000) AS BIGINT)) AS DOUBLE)
             / count(*) / 1000000, 6) AS mean_z,
       round(max(zval), 4) AS max_z,
       round(CAST(sum(g) AS DOUBLE) / sum(t), 6) AS green_fraction,
       CAST(sum(CASE WHEN zval > 4 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_detected
FROM z GROUP BY source ORDER BY source
"""

_WATERMARK_SPARK = dict(
    tokens="filter(split(text, ' '), t -> length(t) > 0)",
    unnest_bi="explode(bg)",
    bigram_arr=(
        "CASE WHEN size(toks) >= 2 THEN transform(sequence(1, size(toks) - 1),"
        " i -> concat(toks[i - 1], '_', toks[i]))"
        " ELSE array() END"
    ),
    u=(
        "CAST(conv(substring(md5(CAST(concat('wm_', g) AS BINARY)), 1, 15),"
        " 16, 10) AS DOUBLE) / 1152921504606846976"
    ),
)
_WATERMARK_DUCK = dict(
    hint="",
    tokens="list_filter(string_split(text, ' '), t -> length(t) > 0)",
    unnest_bi="unnest(bg)",
    bigram_arr=(
        "list_transform(range(2, len(toks) + 1),"
        " i -> toks[i - 1] || '_' || toks[i])"
    ),
    u=(
        "CAST(CAST(concat('0x', substr(md5(concat('wm_', g)), 1, 15))"
        " AS BIGINT) AS DOUBLE) / 1152921504606846976"
    ),
)


@query(
    "llm_watermark_detect",
    "§2.23 green-list watermark z-test per source (null pinned on clean data)",
    _WATERMARK_SQL.format(**_WATERMARK_DUCK),
)
def llm_watermark_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Green-list watermark detection over the corpus — for each doc,
    recompute the keyed green bit of every (prev, token) bigram
    (green iff hash-uniform('wm_' || prev || '_' || tok) < gamma =
    0.25, the stats_bootstrap_ci md5 idiom so both engines see
    identical bits), then z = (g - gamma T)/sqrt(T gamma(1-gamma))
    per doc and per-source aggregates: mean z (1e-6-snapped before
    the mean), max z, pooled green fraction, and detections at the
    z > 4 paper threshold.  On this unwatermarked fixture the test's
    NULL behavior is what's pinned: green_fraction ~ 0.25, mean z ~
    0, n_detected = 0 — the audit a pretraining pipeline runs to keep
    synthetic generations out of the crawl (complement to
    llm_decontaminate_benchmark, which screens known EVAL text rather
    than generator fingerprints).

    Shape at any SF: one tokenize pass explodes to bigram rows (the
    llm_bigram_pmi shuffle shape), doc-grain hash agg, |sources|-row
    finish.  Map-side md5 per bigram in codegen; no join at all."""
    from spark_lineage_spark.operators.dedup import explode_partitions

    register_views(spark, sf_dir, ["documents"])
    # Optimization r14 (guide §2.5 input skew): the corpus ships as ONE
    # parquet file/row group, so the md5-per-bigram map work (the whole
    # cost of this op) ran in a single scan task — 10.2 s at sf0.1 on
    # 32 cores. Repartition by doc_id before the explode (the dedup
    # explode-sizing rule, floored at core count); the per-doc agg then
    # reuses that partitioning. At real scale the scan is already
    # parallel and the hint just re-spreads one stage.
    npart = explode_partitions(load(spark, sf_dir, "documents"))
    return spark.sql(
        _WATERMARK_SQL.format(
            hint=f"/*+ REPARTITION({npart}, doc_id) */", **_WATERMARK_SPARK
        )
    )
