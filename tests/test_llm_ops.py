"""Property tests for the LLM-pipeline operators (SURVEY.md §2.11):
planted-duplicate recall for MinHash-LSH / SimHash, ANN recall vs the
exact kNN, multimodal stub determinism.
"""

import pandas as pd
import pytest

SF = "/root/testdata/sf0.001"


def test_minhash_equals_exact_jaccard(spark, tmp_path):
    """MinHash-LSH must find the same >=0.8 pairs as the exact operator
    (collision prob at s=0.8 is ~0.9997 per pair with 8x4 bands)."""
    from spark_lineage_spark.operators.dedup import (
        llm_dedup_minhash_lsh,
        llm_dedup_ngram_jaccard,
    )

    exact = {
        (r.da, r.db) for r in llm_dedup_ngram_jaccard(spark, SF).collect()
    }
    lsh = {(r.da, r.db) for r in llm_dedup_minhash_lsh(spark, SF).collect()}
    assert exact, "fixture should contain planted near-dups"
    assert lsh == exact


def test_persistent_index_equals_recomputed_incremental(spark):
    """The persisted-bucketed-index probe must produce byte-identical
    pairs to the recomputed-from-scratch incremental dedup (VERDICT r6
    item 5): same (da, db, jaccard) rows, since both end in the shared
    exact-Jaccard verification and banding catches every >=0.8 fixture
    pair (test_minhash_equals_exact_jaccard)."""
    from spark_lineage_spark.operators.dedup import (
        llm_dedup_incremental,
        llm_dedup_persistent_index,
    )

    recomputed = sorted(
        (r.da, r.db, r.jaccard) for r in llm_dedup_incremental(spark, SF).collect()
    )
    probed = sorted(
        (r.da, r.db, r.jaccard)
        for r in llm_dedup_persistent_index(spark, SF).collect()
    )
    assert recomputed, "fixture should contain pairs touching the new batch"
    assert probed == recomputed


def test_persistent_index_scan_is_bucketed(spark):
    """The probe join must read the persisted index through its bucket
    layout with NO exchange on the index side — only the (tiny) batch
    band rows shuffle into the bucket partitioning. Checkpointing hides
    the candidate subtree in the full query's plan, so the probe join
    is recomposed here exactly as llm_dedup_persistent_index builds it."""
    from pyspark.sql import functions as F

    from spark_lineage_spark.operators.dedup import (
        _band_signatures,
        _shingle_index,
        llm_dedup_persistent_index,
    )
    from spark_lineage_spark.staging import table_name

    llm_dedup_persistent_index(spark, SF)  # stages the bucketed table
    index = spark.table(table_name("mhidx", SF))
    new_bands = _band_signatures(
        _shingle_index(spark, SF).filter(F.col("doc_id") % 10 == 0)
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        probe = new_bands.join(index, ["band_idx", "band_hash"])
        plan = probe._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "Bucketed: true" in plan, plan[:4000]
    # both exchanges belong to the BATCH side (its signature groupBy +
    # its conform-to-bucket-layout shuffle); a non-bucketed index would
    # add a third, index-side exchange
    assert plan.count("Exchange hashpartitioning") == 2, plan[:4000]


def test_minhash_finds_planted_dups(spark, tmp_path):
    """Planted corpus: one doc duplicated with a single word changed
    must pair up; unrelated docs must not."""
    from spark_lineage_spark.operators import dedup as D

    # 50 distinct words -> 48 distinct 3-gram shingles; changing one
    # word alters 3 of them: jaccard = 45/51 ~ 0.88 >= 0.8
    base = " ".join(f"word{i}" for i in range(50))
    near = base.replace("word25", "changed", 1)
    other = " ".join(f"other{i}" for i in range(50))
    pdf = pd.DataFrame({"doc_id": [1, 2, 3], "text": [base, near, other]})
    path = str(tmp_path / "docs")
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(path + "/documents.parquet")
    pairs = {(r.da, r.db): r.jaccard for r in D.llm_dedup_minhash_lsh(spark, path).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] >= 0.8
    assert all(3 not in p for p in pairs)


def test_minhash_ml_agrees_with_exact(spark):
    """pyspark.ml MinHashLSH should recover the exact >=0.8 pairs
    (HashingTF bucketing makes its Jaccard approximate, so allow
    recall >= 0.8 rather than equality)."""
    from spark_lineage_spark.operators.dedup import (
        llm_dedup_minhash_ml,
        llm_dedup_ngram_jaccard,
    )

    exact = {(r.da, r.db) for r in llm_dedup_ngram_jaccard(spark, SF).collect()}
    ml = {(r.da, r.db) for r in llm_dedup_minhash_ml(spark, SF).collect()}
    assert exact
    recall = len(exact & ml) / len(exact)
    assert recall >= 0.8, f"ml MinHashLSH recall too low: {recall}"


def test_simhash_deterministic_and_sane(spark):
    from spark_lineage_spark.operators.dedup import llm_dedup_simhash

    a = sorted(map(tuple, llm_dedup_simhash(spark, SF).collect()))
    b = sorted(map(tuple, llm_dedup_simhash(spark, SF).collect()))
    assert a == b  # deterministic across runs
    for da, db, hamming in a:
        assert da < db and 0 <= hamming <= 6


def test_ann_lsh_recall_vs_exact(spark):
    """Multi-probe sign-LSH should recover most exact top-5 neighbors.
    Embeddings are near-random (max cos ~0.5) — the hardest case for
    LSH. Measured recall@5 is 0.94 at sf0.001 and 0.92 at sf0.01
    (deterministic: the hyperplane matrix is a seeded literal), so the
    floor is 0.9 — far above the ~2.5% a random bucket assignment
    would give (VERDICT r5 item 4)."""
    from spark_lineage_spark.operators.similarity import llm_ann_lsh, llm_knn_cosine_exact

    exact = llm_knn_cosine_exact(spark, SF).collect()
    ann = llm_ann_lsh(spark, SF).collect()
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    ann_set = {(r.query_id, r.neighbor_id) for r in ann}
    recall = len(exact_set & ann_set) / len(exact_set)
    assert recall >= 0.9, f"ANN recall too low: {recall}"


def test_dedup_clusters_match_transitive_closure(spark):
    """Connected components over the LSH pairs must equal the Python
    transitive closure of those pairs."""
    from spark_lineage_spark.operators.dedup import (
        llm_dedup_clusters,
        llm_dedup_minhash_lsh,
    )

    pairs = [(r.da, r.db) for r in llm_dedup_minhash_lsh(spark, SF).collect()]
    assert pairs
    # union-find closure in python
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent[find(a)] = find(b)
    expected = {}
    for node in parent:
        expected.setdefault(find(node), set()).add(node)
    expected_clusters = {tuple(sorted(v)) for v in expected.values()}

    got = llm_dedup_clusters(spark, SF).collect()
    got_clusters = {tuple(int(x) for x in r.members.split(",")) for r in got}
    assert got_clusters == expected_clusters
    for r in got:
        assert r.survivor == min(int(x) for x in r.members.split(","))


def test_ann_ivf_recall_vs_exact(spark):
    """IVF with dual assignment (each corpus vector indexed under its
    2 nearest lists, FAISS-replication / ScaNN-SOAR style) + nprobe=8
    of 16 lists, cosine used consistently for assignment AND probing.
    Near-random fixture vectors give KMeans no cluster structure (the
    IVF worst case), yet measured recall@5 vs exact kNN is 1.00 at
    sf0.001 and 0.88 at sf0.01, reproduced bit-for-bit across
    sessions (deterministic stride-picked training rows in a sorted
    single partition + seeded KMeans). Floor 0.80 (VERDICT r6
    item 2)."""
    from spark_lineage_spark.operators.similarity import llm_ann_ivf, llm_knn_cosine_exact

    exact = {(r.query_id, r.neighbor_id) for r in llm_knn_cosine_exact(spark, SF).collect()}
    ivf = {(r.query_id, r.neighbor_id) for r in llm_ann_ivf(spark, SF).collect()}
    recall = len(exact & ivf) / len(exact)
    assert recall >= 0.80, f"IVF recall too low: {recall}"


def test_int8_rerank_recall(spark):
    """int8 candidate pass (top-20 by quantized dot) + float rerank
    must recover the exact top-5 — symmetric 127/max|x| quantization
    keeps ranking error far below the top-20 cut on these vectors."""
    from spark_lineage_spark.operators.similarity import (
        llm_ann_int8_rerank,
        llm_knn_cosine_exact,
    )

    exact = {(r.query_id, r.neighbor_id) for r in llm_knn_cosine_exact(spark, SF).collect()}
    int8 = {(r.query_id, r.neighbor_id) for r in llm_ann_int8_rerank(spark, SF).collect()}
    recall = len(exact & int8) / len(exact)
    assert recall >= 0.95, f"int8 rerank recall too low: {recall}"


def test_multimodal_stub_marks_non_text(spark):
    from spark_lineage_spark.operators.multimodal import llm_multimodal_features

    rows = llm_multimodal_features(spark, SF).collect()
    statuses = {r.media_type: r.decode_status for r in rows}
    assert statuses["text/plain"] == "ok"
    assert statuses.get("image/png", "stub:image/png").startswith("stub:")
    # deterministic across runs
    again = llm_multimodal_features(spark, SF).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_explode_partitions_floors_at_core_width(spark):
    """A tiny single-file corpus still explodes across every core: the
    byte-derived count alone would be 1 at sf0.001."""
    from spark_lineage_spark.operators.dedup import explode_partitions
    from spark_lineage_spark.tables import load

    par = spark.sparkContext.defaultParallelism
    docs = load(spark, SF, "documents")
    assert par <= explode_partitions(docs) <= 4 * par
    assert par <= explode_partitions(docs, factor=8) <= 4 * par


def test_shingle_df_cap_bounds_candidates(spark):
    """Planted hot shingle: one 3-gram shared by all 8 docs would alone
    generate 8*7/2 = 28 candidate meetings in the inverted-index
    self-join; the df cap removes it so candidate count stays bounded
    (VERDICT r1 item 3)."""
    from pyspark.sql import functions as F

    from spark_lineage_spark.operators import dedup as D

    docs = [
        f"alpha beta gamma unique{i}a unique{i}b unique{i}c unique{i}d"
        for i in range(8)
    ]
    sdf = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(range(8)), "text": docs})
    )
    uncapped = D._distinct_shingles(sdf, df_cap=None)
    capped = D._distinct_shingles(sdf, df_cap=4)
    assert uncapped.filter(F.col("shingle") == "alpha beta gamma").count() == 8
    assert capped.filter(F.col("shingle") == "alpha beta gamma").count() == 0
    # only the hot shingle is cut; per-doc unique shingles survive
    assert capped.count() == uncapped.count() - 8

    def meetings(sh):
        a, b = sh.alias("a"), sh.alias("b")
        return a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        ).count()

    assert meetings(uncapped) == 28
    assert meetings(capped) == 0


def test_cluster_chain_longer_than_ten_converges(spark, tmp_path):
    """13-doc near-dup chain (diameter 12): adjacent docs differ by one
    spaced word (jaccard ~0.85 >= 0.8), skip-pairs differ by two
    (~0.73 < 0.8) — so the duplicate graph is a path and min-label
    propagation needs 12 rounds. The old 10-round cap returned wrong
    labels here; the fixpoint loop must yield ONE cluster of 13
    (ADVICE r1 item 1)."""
    from spark_lineage_spark.operators.dedup import llm_dedup_clusters

    base = [f"w{j}" for j in range(40)]
    docs = []
    for i in range(13):
        words = list(base)
        for j in range(i):
            words[3 * j] = f"x{3 * j}"
        docs.append(" ".join(words))
    pdf = pd.DataFrame({"doc_id": list(range(13)), "text": docs})
    path = str(tmp_path / "chain")
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(
        path + "/documents.parquet"
    )
    got = llm_dedup_clusters(spark, path).collect()
    assert len(got) == 1
    (row,) = got
    assert row.cluster_size == 13
    assert row.survivor == 0
    assert row.members == ",".join(str(i) for i in range(13))


def test_edit_distance_blocking_covers_length_gate(spark, tmp_path):
    """The {b, b+1} bucket emission must find every pair within the
    10-char length gate even when the pair straddles a 16-char bucket
    boundary — plant one straddling near-dup pair and one far pair."""
    import pandas as pd

    from spark_lineage_spark.operators.dedup import llm_dedup_edit_distance

    base = "a" * 15  # len 15 -> bucket 0
    near = "a" * 15 + "bbbbbbbbb"  # len 24 -> bucket 1, lev=9, diff=9
    far = "z" * 300
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": [base, near, far],
            "lang": ["en", "en", "en"],
            "n_chars": [len(base), len(near), len(far)],
        }
    )
    out = str(tmp_path / "docs.parquet")
    spark.createDataFrame(pdf).coalesce(1).write.parquet(out)
    sf_dir = str(tmp_path)
    import os

    os.rename(out, str(tmp_path / "documents.parquet"))
    pairs = {
        (r.doc_id_a, r.doc_id_b, r.lev)
        for r in llm_dedup_edit_distance(spark, sf_dir).collect()
    }
    assert pairs == {(1, 2, 9)}


def test_pack_sequences_conserves_docs_and_tokens(spark):
    """Packing invariants: every doc lands in exactly one chunk, token
    mass is conserved, and chunk ids are dense from 0 per shard."""
    from spark_lineage_spark.operators.text import llm_pack_sequences
    from spark_lineage_spark.tables import load
    from pyspark.sql import functions as F

    out = llm_pack_sequences(spark, SF)
    d = load(spark, SF, "documents")
    total_docs = d.count()
    toks_total = d.select(
        F.sum(F.size(F.split("text", " "))).alias("t")
    ).collect()[0].t
    agg = out.agg(
        F.sum("n_docs").alias("docs"), F.sum("total_tokens").alias("toks")
    ).collect()[0]
    assert agg.docs == total_docs
    assert agg.toks == toks_total
    per_shard = (
        out.groupBy("lang")
        .agg(F.min("chunk_id").alias("lo"), F.max("chunk_id").alias("hi"),
             F.count("*").alias("n"))
        .collect()
    )
    for r in per_shard:
        assert r.lo == 0 and r.hi == r.n - 1  # dense chunk ids


def test_interleave_sources_weight_proportions(spark):
    """Each source must contribute exactly min(count, 8*weight) docs
    and mix_order must be a 1..N permutation."""
    from spark_lineage_spark.operators.text import llm_interleave_sources
    from pyspark.sql import functions as F

    out = llm_interleave_sources(spark, SF).cache()
    try:
        n = out.count()
        orders = [r.mix_order for r in out.select("mix_order").collect()]
        assert sorted(orders) == list(range(1, n + 1))
        for r in out.groupBy("source").count().collect():
            src_w = 1 + int(r.source[3:]) % 3
            assert r["count"] <= 8 * src_w
    finally:
        out.unpersist()


def test_chunk_documents_reassemble(spark):
    """Chunks must tile each document: stride-aligned starts, first
    chunk at offset 0, and stitching chunk prefixes (first STRIDE chars
    of each chunk, full final chunk) reproduces the original text."""
    from spark_lineage_spark.operators.text import (
        CHUNK_STRIDE,
        llm_chunk_documents,
    )
    from spark_lineage_spark.tables import load

    docs = {r.doc_id: r.text for r in load(spark, SF, "documents").collect()}
    rows = llm_chunk_documents(spark, SF).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, {})[r.chunk_id] = r.chunk
    assert set(by_doc) == set(docs)
    for doc_id, chunks in by_doc.items():
        ids = sorted(chunks)
        assert ids == list(range(len(ids)))  # contiguous chunk ids
        rebuilt = "".join(chunks[i][:CHUNK_STRIDE] for i in ids[:-1]) + chunks[ids[-1]]
        assert rebuilt == docs[doc_id]


def test_quality_classifier_threshold_consistency(spark):
    """keep must equal (quality >= 0.5) modulo the 6-digit rounding of
    the reported score, and both classes should be populated."""
    rows = __import__(
        "spark_lineage_spark.operators.text", fromlist=["llm_quality_classifier"]
    ).llm_quality_classifier(spark, SF).collect()
    keeps = {r.keep for r in rows}
    assert keeps == {0, 1}
    for r in rows:
        if r.quality > 0.5000005:
            assert r.keep == 1
        if r.quality < 0.4999995:
            assert r.keep == 0


def test_mixture_weights_sum_and_cap(spark):
    """Weights form a distribution; rates are capped at 1; the sqrt
    temperature upweights small sources (rate decreasing in n_docs)."""
    from spark_lineage_spark.operators.text import llm_mixture_weights

    rows = llm_mixture_weights(spark, SF).collect()
    assert abs(sum(r.weight for r in rows) - 1.0) < 1e-3
    assert all(0 < r.sample_rate <= 1.0 for r in rows)
    by_n = sorted(rows, key=lambda r: r.n_docs)
    rates = [r.sample_rate for r in by_n]
    assert all(a >= b - 1e-9 for a, b in zip(rates, rates[1:]))


def test_cluster_assign_is_argmin(spark):
    """Every vector's assigned centroid must beat (or tie, with label
    tie-break) the centroid of its own true label."""
    from spark_lineage_spark.operators.similarity import llm_cluster_assign
    from spark_lineage_spark.tables import load
    import numpy as np

    cents = {}
    for r in load(spark, SF, "embeddings").collect():
        cents.setdefault(r.label, []).append(np.array(r.embedding, dtype=np.float64))
    cents = {k: np.round(np.mean(v, axis=0), 6) for k, v in cents.items()}
    rows = llm_cluster_assign(spark, SF).limit(50).collect()
    embs = {r.vec_id: np.array(r.embedding, dtype=np.float64)
            for r in load(spark, SF, "embeddings").collect()}
    for r in rows:
        e = embs[r.vec_id]
        best = min(
            ((round(float(np.sum((e - c) ** 2)), 6), lbl) for lbl, c in cents.items())
        )
        assert (r.dist2, r.assigned_label) == best


def test_containment_planted(spark, tmp_path):
    """A doc pasted verbatim inside a longer doc must be flagged; a
    doc sharing words but not contiguous text must not."""
    import pandas as pd

    inner = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    outer = "intro words here " + inner + " trailing content words"
    shuffled = "gamma alpha delta beta zeta epsilon theta eta kappa iota"
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": [inner, outer, shuffled],
            "lang": ["en"] * 3,
            "source": ["s"] * 3,
            "n_chars": [len(inner), len(outer), len(shuffled)],
        }
    )
    path = str(tmp_path / "planted")
    spark.createDataFrame(pdf).repartition(1).write.parquet(path + "/documents.parquet")
    from spark_lineage_spark.operators.dedup import llm_dedup_containment

    got = {(r.contained, r.container) for r in llm_dedup_containment(spark, path).collect()}
    assert got == {(1, 2)}


def test_simhash_matches_naive_reference(spark, tmp_path):
    """End-to-end check of the shuffle-free signature path (round 5
    rewrite): on a crafted corpus, the operator's pair set must equal a
    naive per-doc Python SimHash — band blocking is pigeonhole-complete
    for hamming <= 7, so no true pair at <= 6 may be missed."""
    from pyspark.sql import functions as F

    from spark_lineage_spark.operators.dedup import llm_dedup_simhash

    base = [f"tok{i}" for i in range(24)]
    texts = {
        0: " ".join(base),
        1: " ".join(base),  # exact dup of 0
        2: " ".join(base[:-1] + ["changed"]),  # near dup of 0
        3: " ".join(f"other{i}" for i in range(24)),  # unrelated
    }
    (
        spark.createDataFrame(
            [(k, v, "en") for k, v in texts.items()], "doc_id long, text string, lang string"
        )
        .write.mode("overwrite")
        .parquet(str(tmp_path / "documents.parquet"))
    )

    # ground-truth signatures with the SAME portable md5-derived hash
    # the operator uses — computable in pure Python, no engine needed
    import hashlib

    toks = sorted({t for v in texts.values() for t in v.split()})
    h = {t: int(hashlib.md5(t.encode()).hexdigest()[:15], 16) for t in toks}

    def naive_sig(text):
        sums = [0] * 64
        for t in text.split():
            for b in range(64):
                sums[b] += 1 if (h[t] >> b) & 1 else -1
        return sum((1 << b) for b in range(64) if sums[b] >= 0)

    sigs = {k: naive_sig(v) for k, v in texts.items()}
    expected = {
        (a, b, bin(sigs[a] ^ sigs[b]).count("1"))
        for a in texts
        for b in texts
        if a < b and bin(sigs[a] ^ sigs[b]).count("1") <= 6
    }
    got = {(r.da, r.db, r.hamming) for r in llm_dedup_simhash(spark, str(tmp_path)).collect()}
    assert got == expected, (got, expected)
    assert (0, 1, 0) in got  # the exact dup pair survives


def test_repeated_passages_planted_span(spark, tmp_path):
    """Planted 7-token passage shared by two docs: coverage must be
    exactly the span length on both sides (5 for the first window plus
    1 per extra offset), and an unrelated doc must report zero."""
    from spark_lineage_spark.operators.text import llm_repeated_passages

    run = "a b c d e f g"  # 7 shared tokens
    texts = {
        0: run + " h0 i0 j0",                   # span at offset 0, 10 tokens
        1: "x1 x2 x3 x4 x5 " + run + " y1 y2",  # span at offset 5, 14 tokens
        2: " ".join(f"z{i}" for i in range(12)),  # unrelated
    }
    spark.createDataFrame(
        [(k, v, "en", "s", len(v)) for k, v in texts.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    rows = {r.doc_id: r for r in llm_repeated_passages(spark, str(tmp_path)).collect()}
    assert rows[0].covered_tokens == 7 and rows[0].n_tokens == 10
    assert rows[1].covered_tokens == 7 and rows[1].n_tokens == 14
    assert rows[2].covered_tokens == 0 and rows[2].repeated_frac == 0.0
    assert abs(rows[0].repeated_frac - 0.7) < 1e-9


def test_semantic_dedup_matches_transitive_closure(spark):
    """Semantic components must equal the Python transitive closure of
    the cosine pair set (same invariant as the lexical cluster op)."""
    from spark_lineage_spark.operators.dedup import (
        llm_dedup_embedding_cosine,
        llm_semantic_dedup,
    )

    pairs = [(r.va, r.vb) for r in llm_dedup_embedding_cosine(spark, SF).collect()]
    assert pairs
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent[find(a)] = find(b)
    expected = {}
    for node in parent:
        expected.setdefault(find(node), set()).add(node)
    expected_clusters = {tuple(sorted(v)) for v in expected.values()}

    got = llm_semantic_dedup(spark, SF).collect()
    got_clusters = {tuple(int(x) for x in r.members.split(",")) for r in got}
    assert got_clusters == expected_clusters
    for r in got:
        ms = [int(x) for x in r.members.split(",")]
        assert r.survivor == min(ms) and r.cluster_label == min(ms)


def test_simhash_skips_null_text(spark, tmp_path):
    """A NULL text row must be skipped (as the old explode path did),
    not crash the Arrow fold with len(None)."""
    from spark_lineage_spark.operators.dedup import llm_dedup_simhash

    base = " ".join(f"tok{i}" for i in range(24))
    spark.createDataFrame(
        [(0, base, "en"), (1, base, "en"), (2, None, "en")],
        "doc_id long, text string, lang string",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = {(r.da, r.db) for r in llm_dedup_simhash(spark, str(tmp_path)).collect()}
    assert got == {(0, 1)}, got


def _write_docs(spark, tmp_path, rows):
    pdf = pd.DataFrame(rows)
    path = str(tmp_path / "docs")
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(
        path + "/documents.parquet"
    )
    return path


def test_url_canonicalization_planted(spark, tmp_path):
    """Each doc_id%4 URL shape must normalize to the documented
    canonical form: lowercased host, www./default-port stripped,
    fragment dropped, tracking params removed, surviving params
    sorted, trailing slash collapsed; domain = last three labels."""
    from spark_lineage_spark.operators.text import llm_url_domain_normalize

    path = _write_docs(
        spark,
        tmp_path,
        {
            "doc_id": [0, 1, 2, 3],
            "text": ["t0", "t1", "t2", "t3"],
            "lang": ["en"] * 4,
            "source": ["a", "a", "a", "b"],
            "n_chars": [2] * 4,
        },
    )
    got = {r.doc_id: r for r in llm_url_domain_normalize(spark, path).collect()}
    assert got[0].canonical_url == "https://a.example.com/docs/0?ref=kept"
    assert got[1].canonical_url == "http://a.example.com/docs/1"
    assert got[2].canonical_url == "https://a.example.com/docs/2?a=1&b=2"
    assert got[3].canonical_url == "https://cdn.b.example.com/docs/3"
    assert got[0].domain == "a.example.com"
    assert got[3].domain == "b.example.com"  # cdn. subdomain folded in


def test_per_domain_dedup_counts_planted(spark, tmp_path):
    """Planted corpus: an intra-domain exact dup and a text mirrored
    across two domains must surface in dup_rate / cross-domain counts
    (the sf fixtures contain no exact dups, so the rollup's dup
    branches are only exercised here)."""
    from spark_lineage_spark.operators.text import llm_dedup_per_domain

    path = _write_docs(
        spark,
        tmp_path,
        {
            "doc_id": [0, 1, 2, 3, 4, 5],
            "text": ["t0", "t0", "shared", "shared", "t4", "t5"],
            "lang": ["en"] * 6,
            "source": ["a", "a", "a", "b", "b", "b"],
            "n_chars": [2, 2, 6, 6, 2, 2],
        },
    )
    got = {r.domain: r for r in llm_dedup_per_domain(spark, path).collect()}
    a, b = got["a.example.com"], got["b.example.com"]
    assert (a.n_docs, a.n_unique, a.n_intra_dups) == (3, 2, 1)
    assert a.dup_rate == pytest.approx(0.3333, abs=1e-4)
    assert a.n_cross_domain_docs == 1  # doc 2's text mirrored under b
    assert (b.n_docs, b.n_unique, b.n_intra_dups) == (3, 3, 0)
    assert b.n_cross_domain_docs == 1  # doc 3 mirrors domain a's text


def test_band_sweep_s_curve_shape(spark):
    """The sweep must reproduce the analytic S-curve facts: s50 falls
    as bands grow (same 32-perm budget), expected recall at the 0.8
    target is monotone in bands, and the 8x4 production config keeps
    recall >= 0.99 at s >= 0.8."""
    from spark_lineage_spark.operators.dedup import llm_minhash_band_sweep

    rows = {r.bands: r for r in llm_minhash_band_sweep(spark, SF).collect()}
    assert set(rows) == {4, 8, 16, 32}
    s50s = [rows[b].s50 for b in (4, 8, 16, 32)]
    assert s50s == sorted(s50s, reverse=True)
    recalls = [rows[b].recall_at_08 for b in (4, 8, 16, 32)]
    assert recalls == sorted(recalls)
    assert rows[8].recall_at_08 >= 0.99  # the llm_dedup_minhash_lsh config
    for r in rows.values():
        assert r.exp_candidates <= r.n_pairs


def test_ann_ivf_int8_recall_vs_exact(spark):
    """The combined IVF-cells × int8-scoring × float-rerank path must
    keep the recall of its weakest parent: cell pruning is identical
    to llm_ann_ivf (same shared quantizer) and the int8 top-20 cut
    loses nothing on these vectors (test_int8_rerank_recall), so the
    composition floors at the IVF contract of 0.80."""
    from spark_lineage_spark.operators.similarity import (
        llm_ann_ivf_int8,
        llm_knn_cosine_exact,
    )

    exact = {(r.query_id, r.neighbor_id) for r in llm_knn_cosine_exact(spark, SF).collect()}
    got = {(r.query_id, r.neighbor_id) for r in llm_ann_ivf_int8(spark, SF).collect()}
    recall = len(exact & got) / len(exact)
    assert recall >= 0.80, f"IVF+int8 recall too low: {recall}"
