"""Round-11 coverage: the two newly gated lineage surfaces (catalog
tables, streaming micro-batches), the packed-pair-key collision guard,
and the transitive-closure temp-view scoping fix — the invariants the
oracle value-hash can't express (guard raises loudly; no session-global
view leaks)."""

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _load_all():
    from spark_lineage_spark.registry import load_all

    return load_all()


# ---------------------------------------------------------------------------
# lineage_table_roundtrip: table-vs-path kind distinction
# ---------------------------------------------------------------------------


def test_table_roundtrip_kinds(spark):
    rows = [
        tuple(r)
        for r in _load_all()["lineage_table_roundtrip"].builder(spark, SF).collect()
    ]
    assert rows == [
        ("in", "path", "nation"),
        ("in", "table", "sls_lintbl"),
        ("out", "table", "sls_lintbl"),
    ], rows


# ---------------------------------------------------------------------------
# lineage_streaming_batches: listener + epoch-tagged facade reports
# ---------------------------------------------------------------------------


def test_streaming_batches_reports(spark):
    rows = [
        tuple(r)
        for r in _load_all()["lineage_streaming_batches"].builder(spark, SF).collect()
    ]
    assert rows == [
        ("foreachBatch[0]:write.parquet", "unknown", "LogicalRDD", "epoch=0"),
        ("foreachBatch[1]:write.parquet", "unknown", "LogicalRDD", "epoch=1"),
        ("microbatch:0", "streaming", "FileStreamSource", "ForeachBatchSink"),
        ("microbatch:1", "streaming", "FileStreamSource", "ForeachBatchSink"),
    ], rows


# ---------------------------------------------------------------------------
# graph_link_prediction packed-pair-key guard (ADVICE r10)
# ---------------------------------------------------------------------------


def test_pair_key_guard_raises_on_overflow(spark):
    """The exact guarded-pack expression from graph_link_prediction must
    raise (not silently collide) when a part id reaches 2^32."""
    guard = F.assert_true(
        F.col("pb") < F.lit(1 << 32), F.lit("partkey >= 2^32 would collide")
    )
    packed = F.when(
        guard.isNull(), F.shiftleft(F.col("pa").cast("long"), 32) + F.col("pb")
    ).alias("k")

    ok = spark.createDataFrame([(3, 7)], "pa long, pb long").select(packed)
    assert [r.k for r in ok.collect()] == [(3 << 32) + 7]

    bad = spark.createDataFrame([(3, 1 << 32)], "pa long, pb long").select(packed)
    with pytest.raises(Exception, match="collide"):
        bad.collect()


def test_pair_key_guard_in_plan(spark):
    """The guard must survive optimization inside the registered query's
    plan (a prunable guard is no guard)."""
    plan = (
        _load_all()["graph_link_prediction"]
        .builder(spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # Catalyst lowers assert_true to a conditional raise_error; either
    # spelling proves the guard wasn't pruned off the packed key
    assert "raise_error" in plan or "assert_true" in plan, plan[:3000]
    assert "would collide the packed pair key" in plan, plan[:3000]


# ---------------------------------------------------------------------------
# IVF oracle upgrade: pinned centroids must match a live-trained model
# ---------------------------------------------------------------------------


def test_ivf_pinned_centroids_match_live_model(spark):
    """llm_ann_ivf/_int8's hash oracles pin the sf0.01 coarse-quantizer
    centroids as VALUES literals; this asserts a live-trained model
    still produces bit-identical centroids, so pyspark/KMeans behavior
    drift is caught here before the driver sees a hash mismatch.
    Regenerate with tools/gen_ivf_centroids.py if it ever fires."""
    from spark_lineage_spark.operators import similarity as S
    from spark_lineage_spark.operators._ivf_centroids_sf001 import (
        IVF_CENTROIDS_SF001,
        IVF_CENTROIDS_SF001_DIGEST,
    )
    from tools.gen_ivf_centroids import centroid_digest

    assert centroid_digest(IVF_CENTROIDS_SF001) == IVF_CENTROIDS_SF001_DIGEST

    sf = "/root/testdata/sf0.01"
    model = S._ivf_model(spark, sf)
    live = [[float(x) for x in c] for c in model.clusterCenters()]
    assert centroid_digest(live) == IVF_CENTROIDS_SF001_DIGEST


def test_new_lineage_queries_repeat_in_one_session(spark):
    """Driver resilience: both round-11 lineage queries must produce
    identical results when invoked twice in the same SparkSession
    (fresh pid-scoped staging dirs, listener add/remove balanced,
    table drop/recreate idempotent)."""
    specs = _load_all()
    for name in ("lineage_table_roundtrip", "lineage_streaming_batches"):
        first = [tuple(r) for r in specs[name].builder(spark, SF).collect()]
        second = [tuple(r) for r in specs[name].builder(spark, SF).collect()]
        assert first == second and first, (name, first, second)


# ---------------------------------------------------------------------------
# round-11 registrations: reference-implementation property tests
# ---------------------------------------------------------------------------


def test_tokenizer_fertility_matches_pandas(spark):
    import re as _re

    import pandas as pd

    got = _load_all()["llm_tokenizer_fertility"].builder(spark, SF).toPandas()
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    pat = _re.compile(r"[a-z]+|[0-9]+|[^a-z0-9\s]")
    punct = _re.compile(r"[^a-z0-9\s]")
    rows = []
    for lang, g in docs.groupby("lang"):
        w = sum(len(t.split(" ")) for t in g["text"])
        t = sum(len(pat.findall(x)) for x in g["text"])
        p = sum(len(punct.findall(x)) for x in g["text"])
        rows.append((lang, len(g), t, round(t / w, 6), round(g["n_chars"].sum() / t, 6), round(p / t, 6)))
    ref = pd.DataFrame(rows, columns=list(got.columns)).sort_values("lang").reset_index(drop=True)
    pd.testing.assert_frame_equal(
        got.reset_index(drop=True), ref, check_dtype=False, atol=1e-9
    )


def test_mann_kendall_matches_bruteforce(spark):
    import math

    import pandas as pd

    got = _load_all()["ts_mann_kendall"].builder(spark, SF).toPandas().iloc[0]
    orders = pd.read_parquet(f"{SF}/orders.parquet")
    daily = (
        (orders["o_totalprice"] * 100).round().astype("int64")
        .groupby(orders["o_orderdate"]).sum().sort_index()
    )
    vals = daily.to_numpy()
    n = len(vals)
    s = sum(
        (1 if vals[j] > vals[i] else -1 if vals[j] < vals[i] else 0)
        for i in range(n) for j in range(i + 1, n)
    )
    tie_term = sum(
        t * (t - 1) * (2 * t + 5) for t in pd.Series(vals).value_counts() if t > 1
    )
    var18 = n * (n - 1) * (2 * n + 5) - tie_term
    var_s = var18 / 18.0
    z = (s - 1) / math.sqrt(var_s) if s > 0 else (s + 1) / math.sqrt(var_s) if s < 0 else 0.0
    assert int(got["n_days"]) == n
    assert int(got["s_stat"]) == s
    assert abs(float(got["var_s"]) - round(var_s, 6)) < 1e-6
    assert abs(float(got["z"]) - round(z, 6)) < 1e-6


def test_embedding_top_pc_matches_numpy_replay(spark):
    """llm_embedding_top_pc must equal numpy's replay of the identical
    rounded 3-round power iteration (independent implementation of the
    same algorithm), and the iterate must be unit-norm."""
    import numpy as np
    import pandas as pd

    got = _load_all()["llm_embedding_top_pc"].builder(spark, SF).toPandas()
    emb = pd.read_parquet(f"{SF}/embeddings.parquet")["embedding"]
    X = np.array(emb.to_list(), dtype="float64")
    n, d = X.shape
    mu = np.round(X.mean(axis=0), 6)
    Xc = X - mu
    C = np.round(Xc.T @ Xc / n, 8)
    v = np.zeros(d)
    v[0] = 1.0
    for _ in range(3):
        w = np.round(C @ v, 8)
        v = np.round(w / np.sqrt((w * w).sum()), 8)
    lam = round(float(np.sqrt((np.round(C @ v, 8) ** 2).sum())), 6)
    trace = float(np.diag(C).sum())
    s = 1 if v[np.lexsort((np.arange(d), -np.abs(v)))[0]] >= 0 else -1
    loadings = np.round(v * s, 6)

    assert abs(np.linalg.norm(v) - 1.0) < 1e-6
    assert list(got["dim"]) == list(range(d))
    np.testing.assert_allclose(got["loading"].to_numpy(), loadings, atol=2e-6)
    assert abs(float(got["eigval"].iloc[0]) - lam) < 2e-6
    assert abs(float(got["explained_share"].iloc[0]) - round(lam / trace, 6)) < 2e-6


def test_ivf_oracle_literals_are_double_in_duckdb():
    """The pinned centroid literals are rendered %.17e so DuckDB types
    them DOUBLE (a bare decimal literal would be DECIMAL and round);
    guard the rendering and the exact round-trip of one known value."""
    import duckdb

    from spark_lineage_spark.operators._ivf_centroids_sf001 import (
        IVF_CENTROIDS_SF001,
    )
    from spark_lineage_spark.operators.similarity import _ivf_centroid_values

    x = IVF_CENTROIDS_SF001[0][0]
    lit = f"{x:.17e}"
    con = duckdb.connect()
    t, back = con.execute(f"SELECT typeof({lit}), {lit}").fetchone()
    assert t == "DOUBLE", t
    assert back == x, (back, x)
    # the rendered VALUES block carries every centroid
    vals = _ivf_centroid_values()
    assert vals.count("(") >= len(IVF_CENTROIDS_SF001)


def test_ivf_plan_broadcasts_probes_not_corpus(spark):
    """llm_ann_ivf's 100 TB shape: the probe side is broadcast, the
    corpus is never on a CartesianProduct, and the centroid ranking is
    plan-literal (no model-side job at plan time)."""
    plan = (
        _load_all()["llm_ann_ivf"]
        .builder(spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastExchange" in plan or "BroadcastHashJoin" in plan, plan[:2000]
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# lineage_transitive_closure temp-view scoping (ADVICE r10)
# ---------------------------------------------------------------------------


def test_transitive_closure_drops_scoped_view(spark):
    """The recursion's temp view is pid+counter-scoped and dropped
    before the builder returns; the returned DataFrame stays
    collectible (analysis inlined the view)."""
    df = _load_all()["lineage_transitive_closure"].builder(spark, SF)
    leftovers = [
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith("sls_lineage_edges_tc")
    ]
    assert leftovers == [], leftovers
    rows = [tuple(r) for r in df.collect()]
    assert ("nation", "hop2_out", 2) in rows, rows


def test_readability_matches_pandas(spark):
    import re as _re

    import pandas as pd

    got = _load_all()["llm_text_readability"].builder(spark, SF).toPandas()
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    word_pat = _re.compile(r"[^a-z]+")
    syl_pat = _re.compile(r"[aeiouy]+")
    sent_pat = _re.compile(r"[.!?]+")
    rows = []
    for src, g in docs.groupby("source"):
        w = sy = s = 0
        for t in g["text"]:
            ws = [x for x in word_pat.split(t) if x]
            w += len(ws)
            sy += sum(max(1, len(syl_pat.findall(x))) for x in ws)
            s += max(1, len(sent_pat.findall(t)))
        rows.append(
            (
                src,
                len(g),
                w,
                sy,
                round(w / s, 6),
                round(sy / w, 6),
                round(206.835 - 1.015 * w / s - 84.6 * sy / w, 6),
                round(0.39 * w / s + 11.8 * sy / w - 15.59, 6),
            )
        )
    ref = (
        pd.DataFrame(rows, columns=list(got.columns))
        .sort_values("source")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got.reset_index(drop=True), ref, check_dtype=False, atol=1e-9
    )


def test_mutual_info_matches_numpy(spark):
    import math

    import pandas as pd

    got = _load_all()["stats_mutual_info"].builder(spark, SF).toPandas().iloc[0]
    orders = pd.read_parquet(f"{SF}/orders.parquet")
    ct = orders.groupby(["o_orderstatus", "o_orderpriority"]).size()
    n = ct.sum()
    px = ct.groupby(level=0).sum() / n
    py = ct.groupby(level=1).sum() / n
    mi = sum(
        (c / n) * math.log((c / n) / (px[x] * py[y]))
        for (x, y), c in ct.items()
    )
    hx = -sum(p * math.log(p) for p in px)
    hy = -sum(p * math.log(p) for p in py)
    assert got["n_rows"] == n
    assert got["n_cells"] == len(ct)
    assert abs(got["mi_nats"] - mi) < 1e-5
    assert abs(got["h_x_nats"] - hx) < 1e-5
    assert abs(got["h_y_nats"] - hy) < 1e-5
    assert abs(got["nmi_sqrt"] - mi / math.sqrt(hx * hy)) < 1e-5
    # MI is bounded by min(H(X), H(Y)); NMI in [0, 1]
    assert 0 <= got["mi_nats"] <= min(hx, hy) + 1e-9
    assert 0 <= got["nmi_sqrt"] <= 1


def test_granger_matches_numpy_ols(spark):
    import numpy as np
    import pandas as pd

    got = _load_all()["ts_granger_causality"].builder(spark, SF).toPandas().iloc[0]
    orders = pd.read_parquet(f"{SF}/orders.parquet")
    cents = (orders["o_totalprice"] * 100).round().astype("int64")
    daily = (
        pd.DataFrame({"d": orders["o_orderdate"], "y": cents, "x": 1})
        .groupby("d")
        .agg(y=("y", "sum"), x=("x", "count"))
        .sort_index()
    )
    y = daily["y"].to_numpy(dtype=float)[1:]
    z1 = daily["y"].to_numpy(dtype=float)[:-1]
    z2 = daily["x"].to_numpy(dtype=float)[:-1]
    n = len(y)

    def rss(X):
        b, res, *_ = np.linalg.lstsq(X, y, rcond=None)
        return float(((y - X @ b) ** 2).sum()), b

    ones = np.ones_like(y)
    rss_r, _ = rss(np.column_stack([ones, z1]))
    rss_u, bu = rss(np.column_stack([ones, z1, z2]))
    f = (rss_r - rss_u) / (rss_u / (n - 3))
    assert got["n_obs"] == n
    assert abs(got["f_stat"] - f) < 1e-3
    assert abs(got["beta_y_lag"] - bu[1]) < 1e-5
    assert abs(got["beta_x_lag"] - bu[2]) < max(1e-5 * abs(bu[2]), 1e-5)
    assert abs(got["rss_restricted_usd2"] - rss_r / 1e4) < 1e-4 * rss_r / 1e4
    assert got["rejects_at_05"] == (1 if f > 3.841459 else 0)


def test_jsd_matches_numpy(spark):
    import math

    import pandas as pd

    got = _load_all()["llm_source_js_divergence"].builder(spark, SF).toPandas()
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    dists = {}
    for src, g in docs.groupby("source"):
        cnt = {}
        for t in g["text"]:
            for w in t.split(" "):
                cnt[w] = cnt.get(w, 0) + 1
        n = sum(cnt.values())
        dists[src] = {w: c / n for w, c in cnt.items()}
    srcs = sorted(dists)
    rows = []
    for i, a in enumerate(srcs):
        for b in srcs[i + 1:]:
            pa, pb = dists[a], dists[b]
            jsd = 0.0
            for w in set(pa) | set(pb):
                p, q, m = pa.get(w, 0.0), pb.get(w, 0.0), (pa.get(w, 0.0) + pb.get(w, 0.0)) / 2
                if p:
                    jsd += 0.5 * p * math.log(p / m)
                if q:
                    jsd += 0.5 * q * math.log(q / m)
            rows.append((a, b, len(set(pa) & set(pb)), jsd, jsd / math.log(2)))
    ref = pd.DataFrame(
        rows, columns=list(got.columns)
    ).sort_values(["source_a", "source_b"]).reset_index(drop=True)
    g2 = got.sort_values(["source_a", "source_b"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(g2, ref, check_dtype=False, atol=1e-5)
    # JSD bounds: [0, ln 2]; jsd_norm in [0, 1]
    assert (got["jsd_nats"] >= 0).all() and (got["jsd_nats"] <= math.log(2) + 1e-9).all()
    assert (got["jsd_norm"] >= 0).all() and (got["jsd_norm"] <= 1).all()


def test_krippendorff_matches_hand_replay(spark):
    import pandas as pd

    got = _load_all()["stats_krippendorff_alpha"].builder(spark, SF).toPandas().iloc[0]
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    va = docs["n_chars"]
    vb = docs["text"].map(lambda t: len(t.split(" ")))
    vc = docs["text"].map(lambda t: len(set(t.split(" "))))

    def terciles(v):
        s = sorted(v)
        # percentile_disc: smallest value with cume_dist >= q
        import math
        def pd_(q):
            return s[max(0, math.ceil(q * len(s)) - 1)]
        t1, t2 = pd_(1 / 3), pd_(2 / 3)
        return v.map(lambda x: 0 if x <= t1 else (1 if x <= t2 else 2))

    la, lb, lc = terciles(va), terciles(vb), terciles(vc)
    n = len(docs)
    t_o2 = 0
    m = [0, 0, 0]
    for a, b, c in zip(la, lb, lc):
        cnt = [0, 0, 0]
        cnt[a] += 1
        cnt[b] += 1
        cnt[c] += 1
        t_o2 += 9 - sum(x * x for x in cnt)
        for i in range(3):
            m[i] += cnt[i]
    N = 3 * n
    alpha = 1 - (t_o2 * (N - 1)) / (2 * (N * N - sum(x * x for x in m)))
    assert got["n_units"] == n and got["n_values"] == N
    assert [got["n_label0"], got["n_label1"], got["n_label2"]] == m
    assert abs(got["krippendorff_alpha"] - alpha) < 1e-6
    # alpha must sit strictly between chance (0) and perfect (1) for
    # three correlated-but-distinct judges
    assert 0.05 < got["krippendorff_alpha"] < 0.99


def test_abtt_matches_numpy_replay(spark):
    import numpy as np
    import pandas as pd

    got = _load_all()["llm_embedding_abtt"].builder(spark, SF).toPandas()
    emb = np.stack(
        pd.read_parquet(f"{SF}/embeddings.parquet")
        .sort_values("vec_id")["embedding"]
        .to_numpy()
    ).astype(np.float64)
    vec_ids = sorted(pd.read_parquet(f"{SF}/embeddings.parquet")["vec_id"])
    # replay the identical unrolled algorithm with identical rounding
    mu = np.round(emb.mean(axis=0), 6)
    c = emb - mu
    cov = np.round(c.T @ c / len(emb), 8)
    v = np.zeros(64)
    v[0] = 1.0
    for _ in range(3):
        w = np.round(cov @ v, 8)
        v = np.round(w / np.sqrt((w * w).sum()), 8)
    top = np.argmax(np.abs(v))
    v = np.round(v * (1 if v[top] >= 0 else -1), 8)
    t = np.round(c @ v, 8)
    c2 = np.round((c * c).sum(axis=1), 8)
    order = sorted(range(len(t)), key=lambda i: (-abs(t[i]), vec_ids[i]))[:10]
    ref = pd.DataFrame(
        {
            "vec_id": [vec_ids[i] for i in order],
            "coeff": [round(t[i], 6) for i in order],
            "centered_norm": [round(float(np.sqrt(c2[i])), 6) for i in order],
            "resid_norm": [
                round(float(np.sqrt(max(0.0, c2[i] - t[i] * t[i]))), 6)
                for i in order
            ],
            "pc_share": [round(t[i] * t[i] / c2[i], 6) for i in order],
        }
    )
    g = got.sort_values("vec_id").reset_index(drop=True)
    r = ref.sort_values("vec_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(g, r, check_dtype=False, atol=2e-6)
    # residual energy must be <= centered energy and shares in [0, 1]
    assert (got["resid_norm"] <= got["centered_norm"] + 1e-9).all()
    assert (got["pc_share"] >= 0).all() and (got["pc_share"] <= 1).all()


def test_scene_cut_matches_numpy(spark):
    import numpy as np
    import pandas as pd

    got = _load_all()["llm_multimodal_scene_cut"].builder(spark, SF).toPandas()
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    rows = []
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        b = text.encode("utf-8")
        n = len(b) // 64
        if not n:
            continue
        sums = (
            np.frombuffer(b, dtype=np.uint8, count=n * 64)
            .reshape(n, 64)
            .sum(axis=1, dtype=np.int64)
        )
        jumps = np.abs(np.diff(sums))
        cuts = np.nonzero(jumps > 250)[0]
        rows.append(
            (
                doc_id,
                n,
                len(cuts),
                int(jumps.max()) if len(jumps) else 0,
                int(cuts[0]) + 1 if len(cuts) else -1,
            )
        )
    ref = (
        pd.DataFrame(rows, columns=list(got.columns))
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got.reset_index(drop=True), ref, check_dtype=False)
    # fixture must exercise both regimes: some docs cut, some single-shot
    assert (got["n_cuts"] > 0).any() and (got["n_cuts"] == 0).any()


def test_burstiness_matches_pandas(spark):
    import pandas as pd

    got = _load_all()["llm_token_burstiness"].builder(spark, SF).toPandas()
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    n = len(docs)
    counts = {}
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        seen = {}
        for w in text.split(" "):
            seen[w] = seen.get(w, 0) + 1
        for w, c in seen.items():
            counts.setdefault(w, []).append(c)
    rows = []
    for w, cs in counts.items():
        tot, sumsq = sum(cs), sum(c * c for c in cs)
        mean = tot / n
        var = sumsq / n - mean * mean
        rows.append((w, len(cs), tot, round(mean, 6), round(var, 6), round(var / mean, 6)))
    ref = pd.DataFrame(rows, columns=list(got.columns))
    g = got.sort_values("token").reset_index(drop=True)
    r = ref.sort_values("token").reset_index(drop=True)
    pd.testing.assert_frame_equal(g, r, check_dtype=False, atol=1e-6)
    # every content-word VMR must exceed the Poisson floor would be too
    # strong; but VMR > 0 always, and the fixture's clumpy soup should
    # put at least one token clearly above 1
    assert (got["burstiness_vmr"] > 0).all()
    assert got["burstiness_vmr"].max() > 1.1


def test_pacf_matches_durbin_levinson_replay(spark):
    import pandas as pd

    got = _load_all()["ts_pacf"].builder(spark, SF).toPandas()
    acf_q = _load_all()["ts_autocorrelation"].builder(spark, SF).toPandas()
    # agreement by construction with ts_autocorrelation's acf values
    merged = got.merge(acf_q[["lag", "acf"]], on="lag", suffixes=("", "_ref"))
    assert (merged["acf"] == merged["acf_ref"]).all()
    r1, r2, r3 = [float(got.loc[got["lag"] == k, "acf"].iloc[0]) for k in (1, 2, 3)]
    p1 = r1
    p2 = (r2 - r1 * r1) / (1 - r1 * r1)
    a21 = r1 - p2 * r1
    p3 = (r3 - (a21 * r2 + p2 * r1)) / (1 - (a21 * r1 + p2 * r2))
    ref = pd.Series([round(p1, 6), round(p2, 6), round(p3, 6)])
    assert (got.sort_values("lag")["pacf"].reset_index(drop=True) - ref).abs().max() < 1e-9
    # pacf(1) == acf(1) identically, and all values are valid correlations
    assert got.loc[got["lag"] == 1, "pacf"].iloc[0] == round(r1, 6)
    assert got["pacf"].abs().max() <= 1


def test_seasonal_strength_matches_decompose(spark):
    import pandas as pd

    got = _load_all()["ts_seasonal_strength"].builder(spark, SF).toPandas().iloc[0]
    dec = _load_all()["ts_seasonal_decompose"].builder(spark, SF).toPandas()
    full = dec[dec["trend"].notna()]
    # strengths recomputed from the decomposition's own components
    # (round-2 outputs, so compare loosely)
    r = full["residual"].astype(float)
    tr = full["observed"].astype(float) - full["seasonal"].astype(float)
    sr = full["observed"].astype(float) - full["trend"].astype(float)

    def pvar(x):
        return float((x**2).mean() - x.mean() ** 2)

    # F_T reads off the DESEASONALIZED series (T+R = observed-seasonal),
    # F_S off the DETRENDED series (S+R = observed-trend) — Hyndman FPP.
    f_t = max(0.0, 1 - pvar(r) / pvar(tr))
    f_s = max(0.0, 1 - pvar(r) / pvar(sr))
    assert got["n_full_days"] == len(full)
    assert abs(got["trend_strength"] - f_t) < 1e-3
    assert abs(got["seasonal_strength"] - f_s) < 1e-3
    assert 0 <= got["trend_strength"] <= 1 and 0 <= got["seasonal_strength"] <= 1


def test_personalized_pagerank_locality(spark):
    import pandas as pd

    got = _load_all()["graph_personalized_pagerank"].builder(spark, SF).toPandas()
    # the seed (max-degree hub) must dominate: it receives the full
    # 0.15 restart mass every round, every other node only walk mass
    assert len(got) == 20
    assert got["ppr"].iloc[0] > got["ppr"].iloc[1] * 5
    # mass conservation bound: total PPR <= 1 (floor division only loses)
    assert got["ppr"].sum() <= 1.0 + 1e-9
    assert (got["ppr"] > 0).all()
    # seed equals the max-degree node of the co-purchase graph
    from spark_lineage_spark.operators.analytics import copurchase_edges
    import pyspark.sql.functions as F

    und = copurchase_edges(spark, SF)
    pairs = und.unionAll(und.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = pairs.groupBy("u").count().orderBy(F.desc("count"), "u").limit(1)
    seed = deg.collect()[0]["u"]
    assert got["node"].iloc[0] == seed


def test_hard_negative_mining_contract(spark):
    import numpy as np
    import pandas as pd

    got = _load_all()["llm_hard_negative_mining"].builder(spark, SF).toPandas()
    emb = pd.read_parquet(f"{SF}/embeddings.parquet")
    labels = dict(zip(emb["vec_id"], emb["label"]))
    vecs = {
        v: np.asarray(e, dtype=np.float64)
        for v, e in zip(emb["vec_id"], emb["embedding"])
    }
    # 10 queries x 5 negatives, every negative truly cross-label
    assert len(got) == 50
    assert (got.groupby("query_id").size() == 5).all()
    assert (got["neg_label"] != got["query_label"]).all()
    assert (got["query_label"] == got["query_id"].map(labels)).all()
    # spot-check query 0: the mined negatives are the true top-5
    # cross-label cosine neighbors
    q = vecs[0]

    def cos(a, b):
        return round(
            float(a @ b / (np.sqrt(a @ a) * np.sqrt(b @ b))), 6
        )

    cand = [
        (cos(q, vecs[v]), v)
        for v in vecs
        if v != 0 and labels[v] != labels[0]
    ]
    top5 = [v for _, v in sorted(cand, key=lambda t: (-t[0], t[1]))[:5]]
    assert list(got[got["query_id"] == 0].sort_values("rnk")["neg_id"]) == top5
    # margin arithmetic holds row-wise
    assert (
        (got["margin"] - (got["best_pos_sim"] - got["cos_sim"])).abs() < 2e-6
    ).all()


def test_bollinger_matches_pandas(spark):
    import pandas as pd

    got = _load_all()["ts_bollinger_bands"].builder(spark, SF).toPandas()
    orders = pd.read_parquet(f"{SF}/orders.parquet")
    cents = (orders["o_totalprice"] * 100).round().astype("int64")
    daily = (
        pd.DataFrame({"d": orders["o_orderdate"], "y": cents})
        .groupby("d")["y"]
        .sum()
        .sort_index()
    )
    s7 = daily.rolling(7).sum()
    ss7 = (daily**2).rolling(7).sum()
    mean_c = s7 / 7
    var_c = (7 * ss7 - s7 * s7) / 49
    std_c = var_c.clip(lower=0) ** 0.5
    full = s7.notna()
    ref = pd.DataFrame(
        {
            "day": daily.index[full].strftime("%Y-%m-%d %H:%M:%S"),
            "close_usd": (daily[full] / 100).round(2).values,
            "ma7_usd": (mean_c[full] / 100).round(6).values,
            "lower_usd": ((mean_c - 2 * std_c)[full] / 100).round(6).values,
            "upper_usd": ((mean_c + 2 * std_c)[full] / 100).round(6).values,
            "breach": [
                1 if y > m + 2 * s else (-1 if y < m - 2 * s else 0)
                for y, m, s in zip(daily[full], mean_c[full], std_c[full])
            ],
        }
    ).reset_index(drop=True)
    pd.testing.assert_frame_equal(
        got.reset_index(drop=True), ref, check_dtype=False, atol=1e-4
    )
    # bands must bracket the mean and flag a plausible breach share
    assert (got["lower_usd"] <= got["ma7_usd"]).all()
    assert (got["ma7_usd"] <= got["upper_usd"]).all()
    assert 0 < (got["breach"] != 0).mean() < 0.2


def test_pandas_api_ewm_matches_pandas(spark):
    import pandas as pd

    got = _load_all()["pandas_api_ewm"].builder(spark, SF).toPandas()
    ev = pd.read_parquet(f"{SF}/events.parquet")
    ev = ev[ev["value"].notna()]
    micro = (ev["value"] * 1_000_000).round().astype("int64")
    daily = (
        pd.DataFrame({"d": ev["ts"].dt.date, "v": micro})
        .groupby("d")["v"]
        .sum()
        .sort_index()
    )
    ref = (daily.ewm(alpha=0.3).mean() / 1_000_000).round(4)
    assert list(got["day"]) == [str(d) for d in daily.index]
    assert (got["ewm_value"].values - ref.values).max() < 1e-6


def test_judge_length_bias_consistent_with_pairs(spark):
    import pandas as pd

    got = _load_all()["llm_judge_length_bias"].builder(spark, SF).toPandas().iloc[0]
    pairs = _load_all()["llm_preference_pairs"].builder(spark, SF).toPandas()
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    chars = dict(zip(docs["doc_id"], docs["n_chars"]))
    # the audit's pair universe is exactly llm_preference_pairs' output
    assert got["n_pairs"] == len(pairs)
    longer = sum(
        1 for c, r in zip(pairs["chosen_id"], pairs["rejected_id"])
        if chars[c] > chars[r]
    )
    assert got["n_chosen_longer"] == longer
    delta = sum(
        chars[c] - chars[r]
        for c, r in zip(pairs["chosen_id"], pairs["rejected_id"])
    )
    assert abs(got["mean_char_delta"] - delta / len(pairs)) < 1e-6
    # this fixture's judge IS length-biased by construction — the audit
    # must fire, not flatline
    assert got["frac_chosen_longer"] > 0.9
    assert got["judge_length_corr"] > 0.5


def test_calendar_profile_residual_algebra(spark):
    import pandas as pd

    got = _load_all()["ts_calendar_profile"].builder(spark, SF).toPandas()
    orders = pd.read_parquet(f"{SF}/orders.parquet")
    d = pd.DataFrame(
        {
            "dow": (
                orders["o_orderdate"].dt.normalize() - pd.Timestamp("1970-01-01")
            ).dt.days % 7,
            "mon": orders["o_orderdate"].dt.month,
        }
    )
    grid = d.groupby(["dow", "mon"]).size()
    n = grid.sum()
    rt = grid.groupby(level=0).sum()
    ct = grid.groupby(level=1).sum()
    assert got["n_orders"].sum() == n
    for _, row in got.head(20).iterrows():
        o = grid[(row["dow"], row["mon"])]
        e = rt[row["dow"]] * ct[row["mon"]] / n
        assert row["n_orders"] == o
        assert abs(row["expected"] - e) < 1e-4
        assert abs(row["pearson_residual"] - (o - e) / e**0.5) < 1e-4
    # marginal consistency: residuals weighted by sqrt(e) sum to ~0
    # within each weekday row (the contingency-table identity)
    for dow, g in got.groupby("dow"):
        s = (g["pearson_residual"] * g["expected"] ** 0.5).sum()
        assert abs(s) < 1e-2, (dow, s)


def test_cluster_silhouette_matches_numpy(spark):
    import numpy as np
    import pandas as pd

    got = _load_all()["llm_cluster_silhouette"].builder(spark, SF).toPandas()
    emb = pd.read_parquet(f"{SF}/embeddings.parquet")
    X = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
    y = emb["label"].to_numpy()
    cents = {
        lab: np.round(X[y == lab].mean(axis=0), 6) for lab in np.unique(y)
    }
    rows = {}
    for xi, lab in zip(X, y):
        d2 = {
            c: round(float(((xi - cv) ** 2).sum()), 6) for c, cv in cents.items()
        }
        a = round(float(np.sqrt(d2[lab])), 6)
        b = round(float(np.sqrt(min(v for c, v in d2.items() if c != lab))), 6)
        sq = round((b - a) / max(a, b) * 1e6)
        rows.setdefault(lab, []).append(sq)
    ref = pd.DataFrame(
        sorted(
            (
                lab,
                len(v),
                round(sum(v) / len(v) / 1e6, 6),
                round(sum(1 for x in v if x < 0) / len(v), 6),
            )
            for lab, v in rows.items()
        ),
        columns=list(got.columns),
    )
    g = got.reset_index(drop=True)
    # numpy's pairwise summation can differ from the engines' shared
    # left-to-right fold by 1 ulp, flipping a micro-quantized s by one
    # 1e-6 unit — compare with that quantum as tolerance (the
    # Spark<->DuckDB hash gate is the exact check; this is the
    # independent-algorithm check)
    assert (g["label"] == ref["label"]).all()
    assert (g["n_vectors"] == ref["n_vectors"]).all()
    assert (g["mean_silhouette"] - ref["mean_silhouette"]).abs().max() <= 2e-6
    assert (g["frac_negative"] - ref["frac_negative"]).abs().max() <= 0.03
    # near-random fixture embeddings: silhouettes hug 0 (flat spectrum),
    # never approach the well-separated regime
    assert got["mean_silhouette"].abs().max() < 0.2


def test_multimodal_alignment_matches_numpy(spark):
    import hashlib

    import numpy as np
    import pandas as pd

    got = _load_all()["llm_multimodal_alignment"].builder(spark, SF).toPandas()
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    rows = []
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        t = np.zeros(8, dtype=np.int64)
        for w in text.split(" "):
            if not w:
                continue
            h = int(hashlib.md5(w.encode()).hexdigest()[:15], 16)
            t[h % 8] += 1 if (h >> 3) & 1 else -1
        b = text.encode("utf-8")
        n = len(b) // 8
        if not n:
            continue
        s = np.frombuffer(b, dtype=np.uint8, count=8 * n).astype(np.int64)
        s = s.reshape(8, n).sum(axis=1)
        c = 8 * s - s.sum()
        tt, cc, tc = int(t @ t), int(c @ c), int(t @ c)
        if tt > 0 and cc > 0:
            rows.append((doc_id, round(tc / (tt**0.5 * cc**0.5), 6)))
    rows.sort(key=lambda r: (r[1], r[0]))
    expect = rows[:10]
    assert list(got["doc_id"]) == [r[0] for r in expect]
    assert (got["align_cos"].values - [r[1] for r in expect]).max() < 1e-9
    # media_type mapping matches the features op's doc_id % 10 rule
    for _, r in got.iterrows():
        want = (
            "image/png" if r["doc_id"] % 10 == 0
            else "audio/wav" if r["doc_id"] % 10 == 1
            else "text/plain"
        )
        assert r["media_type"] == want


def test_chat_turn_audit_matches_pandas(spark):
    import pandas as pd

    got = _load_all()["llm_chat_turn_audit"].builder(spark, SF).toPandas()
    ev = pd.read_parquet(f"{SF}/events.parquet")
    ev = ev.assign(
        sec=ev["ts"].astype("datetime64[ns]").astype("int64") // 10**9
    )
    rows = []
    for uid, g in ev.groupby("user_id"):
        g = g.sort_values(["sec", "event_id"]).head(8)
        ets = list(g["event_type"])
        secs = list(g["sec"])
        reps = sum(1 for a, b in zip(ets, ets[1:]) if a == b)
        gap = max((b - a for a, b in zip(secs, secs[1:])), default=0)
        rows.append((uid, len(ets), reps, len(set(ets)), gap, int(gap > 86400)))
    ref = pd.DataFrame(rows, columns=list(got.columns)).sort_values(
        "user_id"
    ).reset_index(drop=True)
    pd.testing.assert_frame_equal(got.reset_index(drop=True), ref, check_dtype=False)
    # the fixture spans 30 days over ~15 users: both flag regimes occur
    assert got["sparse_flag"].nunique() == 2


def test_seasonal_mann_kendall_matches_bruteforce(spark):
    import math

    import pandas as pd

    got = (
        _load_all()["ts_seasonal_mann_kendall"].builder(spark, SF).toPandas().iloc[0]
    )
    orders = pd.read_parquet(f"{SF}/orders.parquet")
    cents = (orders["o_totalprice"] * 100).round().astype("int64")
    daily = (
        pd.DataFrame({"d": orders["o_orderdate"].dt.normalize(), "v": cents})
        .groupby("d")["v"]
        .sum()
        .sort_index()
    )
    dow = (daily.index - pd.Timestamp("1970-01-01")).days % 7
    s_tot, var18, n_seasons = 0, 0, 0
    for g in range(7):
        vals = daily[dow == g].to_numpy()
        n = len(vals)
        if not n:
            continue
        n_seasons += 1
        s_tot += sum(
            (1 if vals[j] > vals[i] else -1 if vals[j] < vals[i] else 0)
            for i in range(n)
            for j in range(i + 1, n)
        )
        ties = sum(
            t * (t - 1) * (2 * t + 5)
            for t in pd.Series(vals).value_counts()
            if t > 1
        )
        var18 += n * (n - 1) * (2 * n + 5) - ties
    var_s = var18 / 18
    z = (
        (s_tot - 1) / math.sqrt(var_s)
        if s_tot > 0
        else (s_tot + 1) / math.sqrt(var_s)
        if s_tot < 0
        else 0.0
    )
    assert got["n_days"] == len(daily)
    assert got["n_seasons"] == n_seasons == 7
    assert got["s_tot"] == s_tot
    assert abs(got["var_s"] - round(var_s, 6)) < 1e-6
    assert abs(got["z"] - round(z, 6)) < 1e-6
    # sanity vs the parent test: removing the weekly cycle can move the
    # statistic, but both must stay valid z-scores here
    assert abs(got["z"]) < 6


def test_rolling_correlation_matches_pandas(spark):
    import pandas as pd

    got = _load_all()["ts_rolling_correlation"].builder(spark, SF).toPandas()
    orders = pd.read_parquet(f"{SF}/orders.parquet")
    dollars = (orders["o_totalprice"] + 0.5).astype("int64")
    daily = (
        pd.DataFrame({"d": orders["o_orderdate"], "x": 1, "y": dollars})
        .groupby("d")
        .agg(x=("x", "count"), y=("y", "sum"))
        .sort_index()
    )
    ref = daily["x"].rolling(30).corr(daily["y"])
    full = daily["x"].rolling(30).count() == 30
    ref = ref[full].round(6)
    assert list(got["day"]) == [
        d.strftime("%Y-%m-%d %H:%M:%S") for d in daily.index[full]
    ]
    assert (got["corr_30d"].values - ref.values).max() < 1e-5
    # the fixture's count and revenue co-move: correlations stay
    # positive everywhere (locally dipping, never inverting)
    assert got["corr_30d"].min() > 0
    assert got["corr_30d"].max() <= 1


def test_stl_anomaly_matches_decompose_residuals(spark):
    import math

    import pandas as pd

    got = _load_all()["ts_stl_anomaly"].builder(spark, SF).toPandas()
    dec = _load_all()["ts_seasonal_decompose"].builder(spark, SF).toPandas()
    full = dec[dec["trend"].notna()].sort_values("day").reset_index(drop=True)
    # same day universe and identical residuals as the decompose
    assert list(got["day"]) == list(full["day"])
    assert (got["residual"].values == full["residual"].values).all()
    # robust-z replay: percentile_disc median (smallest value with
    # cume_dist >= .5), MAD, 1.4826 factor
    r = sorted(full["residual"])
    med = r[max(0, math.ceil(0.5 * len(r)) - 1)]
    ad = sorted(abs(x - med) for x in r)
    mad = ad[max(0, math.ceil(0.5 * len(ad)) - 1)]
    for _, row in got.iterrows():
        z = abs(row["residual"] - med) / (1.4826 * mad)
        assert abs(row["robust_z"] - round(z, 4)) < 1e-9, row["day"]
        assert row["is_anomaly"] == (1 if abs(row["residual"] - med) > 3 * 1.4826 * mad else 0)
    # flags are a strict subset of high scores
    assert ((got["is_anomaly"] == 1) <= (got["robust_z"] > 3)).all()


def test_filter_funnel_monotone_and_matches_pandas(spark):
    import hashlib

    import pandas as pd

    got = _load_all()["llm_filter_funnel"].builder(spark, SF).toPandas()
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    first_by_hash = {}
    for doc_id, text in sorted(zip(docs["doc_id"], docs["text"])):
        h = hashlib.md5(text.encode()).hexdigest()
        first_by_hash.setdefault(h, doc_id)
    rows = {}
    for _, r in docs.iterrows():
        toks = r["text"].split(" ")
        w = len(toks)
        hits = sum(1 for t in toks if t in ("slow", "big"))
        h = hashlib.md5(r["text"].encode()).hexdigest()
        s1 = first_by_hash[h] == r["doc_id"]
        s2 = s1 and w >= 20
        s3 = s2 and not (10 * hits > w)
        s4 = s3 and 150 <= r["n_chars"] <= 1000
        acc = rows.setdefault(r["source"], [0, 0, 0, 0, 0])
        acc[0] += 1
        for i, flag in enumerate((s1, s2, s3, s4), start=1):
            acc[i] += int(flag)
    ref = pd.DataFrame(
        sorted(
            (src, *v, round(v[4] / v[0], 6)) for src, v in rows.items()
        ),
        columns=list(got.columns),
    )
    pd.testing.assert_frame_equal(got.reset_index(drop=True), ref, check_dtype=False)
    # funnel invariant: each stage is a subset of the previous
    for a, b in [
        ("n_raw", "n_after_dedup"),
        ("n_after_dedup", "n_after_quality"),
        ("n_after_quality", "n_after_blocklist"),
        ("n_after_blocklist", "n_after_length"),
    ]:
        assert (got[a] >= got[b]).all(), (a, b)
    # every stage except dedup (no exact dupes in the fixture) must
    # actually drop something somewhere
    assert (got["n_raw"] == got["n_after_dedup"]).all()
    assert got["n_after_quality"].sum() < got["n_after_dedup"].sum()
    assert got["n_after_blocklist"].sum() < got["n_after_quality"].sum()
    assert got["n_after_length"].sum() < got["n_after_blocklist"].sum()


def test_repetition_loops_matches_pandas(spark):
    import pandas as pd

    got = _load_all()["llm_repetition_loops"].builder(spark, SF).toPandas()
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    rows = {}
    for _, r in docs.iterrows():
        a = r["text"].split(" ")
        uni = sum(1 for i in range(len(a) - 1) if a[i] == a[i + 1])
        bi = sum(
            1
            for i in range(len(a) - 3)
            if a[i] == a[i + 2] and a[i + 1] == a[i + 3]
        )
        tri = sum(
            1
            for i in range(len(a) - 5)
            if a[i] == a[i + 3] and a[i + 1] == a[i + 4] and a[i + 2] == a[i + 5]
        )
        acc = rows.setdefault(r["source"], [0] * 7)
        acc[0] += 1
        acc[1] += int(uni > 0)
        acc[2] += int(bi > 0)
        acc[3] += int(tri > 0)
        acc[4] += uni
        acc[5] += bi
        acc[6] += tri
    ref = pd.DataFrame(
        sorted((src, *v) for src, v in rows.items()), columns=list(got.columns)
    )
    pd.testing.assert_frame_equal(got.reset_index(drop=True), ref, check_dtype=False)
    # containment sanity: a doc with a bigram loop need not have a
    # trigram loop, but totals decay with n on word-soup text
    assert got["total_uni_loops"].sum() >= got["total_bi_loops"].sum()
    assert got["total_bi_loops"].sum() >= got["total_tri_loops"].sum()
    assert got["total_uni_loops"].sum() > 0


def test_holm_bonferroni_matches_replay(spark):
    import pandas as pd

    got = _load_all()["stats_holm_bonferroni"].builder(spark, SF).toPandas()
    bh = _load_all()["stats_fdr_bh"].builder(spark, SF).toPandas()
    # same family: identical raw p-values per nation as the BH query
    m = got.merge(bh, on="nationkey", suffixes=("", "_bh"))
    assert (m["p_value"] == m["p_value_bh"]).all()
    # Holm replay from the raw p-values
    s = got.sort_values(["p_value", "nationkey"]).reset_index(drop=True)
    mm = len(s)
    run = 0.0
    for i, p in enumerate(s["p_value"], start=1):
        run = max(run, p * (mm - i + 1))
        want = round(min(run, 1.0), 6)
        # p_holm was rounded from the unrounded adjusted value while the
        # replay starts from round-6 p's — compare with that slack
        assert abs(s.loc[i - 1, "p_holm"] - want) < 1e-4, s.loc[i - 1]
    # dominance: Holm (FWER) is never more liberal than BH (FDR)
    assert (m["p_holm"] >= m["p_bh"] - 1e-9).all()
    assert m["rejected"].sum() <= m["rejected_bh"].sum()


def test_entropy_rate_matches_math_replay(spark):
    import math

    import pandas as pd

    got = _load_all()["llm_ngram_entropy_rate"].builder(spark, SF).toPandas()
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    rows = []
    for src, g in docs.groupby("source"):
        bc = {}
        for t in g["text"]:
            toks = t.split(" ")
            for a, b in zip(toks, toks[1:]):
                bc[(a, b)] = bc.get((a, b), 0) + 1
        n = sum(bc.values())
        hb = -sum((c / n) * math.log(c / n) for c in bc.values())
        ctx = {}
        for (a, _), c in bc.items():
            ctx[a] = ctx.get(a, 0) + c
        hc = -sum((c / n) * math.log(c / n) for c in ctx.values())
        rows.append((src, n, round(hb, 6), round(hc, 6), round(hb - hc, 6)))
    ref = pd.DataFrame(rows, columns=list(got.columns)).sort_values(
        "source"
    ).reset_index(drop=True)
    pd.testing.assert_frame_equal(
        got.reset_index(drop=True), ref, check_dtype=False, atol=1e-5
    )
    # information-theory bounds: 0 <= H(w2|w1) <= H(w2) <= ln(vocab)
    vocab = len({w for t in docs["text"] for w in t.split(" ")})
    assert (got["entropy_rate_nats"] >= 0).all()
    assert (got["entropy_rate_nats"] <= math.log(vocab) + 1e-9).all()
    # conditioning must help on ordered text: rate strictly below the
    # context entropy's unigram-style ceiling
    assert (got["entropy_rate_nats"] < got["h_context_nats"]).all()
