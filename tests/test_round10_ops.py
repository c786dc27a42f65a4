"""Independent referees for the round-10 operators (R345+).

Each test recomputes the statistic from the raw parquet with
pandas/numpy using the ORIGINAL textbook formulation (not the SQL
decomposition), then compares against the registered query."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest

from tests.conftest import SF_DIR
from zoom_spark.io import load_table


def _daily(spark):
    o = load_table(spark, SF_DIR, "orders").select(
        "o_orderdate", "o_totalprice"
    ).toPandas()
    o["cents"] = (o["o_totalprice"] * 100 + 0.5).apply(math.floor).astype("int64")
    d = (
        o.groupby(o["o_orderdate"].dt.normalize())["cents"]
        .sum()
        .sort_index()
    )
    return d


def test_pettitt_matches_bruteforce(spark):
    from zoom_spark.queries.round10_ops import pettitt_daily_revenue

    d = _daily(spark)
    x = d.to_numpy()
    t_ = len(x)
    # brute-force U_t = sum_{i<=t<j} sgn(x_i - x_j)
    sgn = np.sign(x[:, None] - x[None, :])
    u = np.array(
        [sgn[: t + 1, t + 1 :].sum() for t in range(t_ - 1)], dtype=np.int64
    )
    k = int(np.abs(u).max())
    t_star = int(np.abs(u).argmax())  # first (smallest day) argmax
    p = 2 * math.exp(-6 * k * k / (t_**3 + t_**2))
    [r] = pettitt_daily_revenue(spark, SF_DIR).collect()
    assert r["n_days"] == t_
    assert r["k_stat"] == k
    assert pd.Timestamp(r["change_day"]) == d.index[t_star]
    assert abs(r["p_approx"] - p) < 1e-6


def test_deming_matches_numpy(spark):
    from zoom_spark.queries.round10_ops import deming_daily_regression

    o = load_table(spark, SF_DIR, "orders").select(
        "o_orderdate", "o_totalprice"
    ).toPandas()
    o["cents"] = (o["o_totalprice"] * 100 + 0.5).apply(math.floor).astype("int64")
    g = o.groupby(o["o_orderdate"].dt.normalize()).agg(
        x=("cents", "size"), ycents=("cents", "sum")
    )
    g["y"] = (g["ycents"] // 100).astype("int64")
    x = g["x"].to_numpy(dtype=np.float64)
    y = g["y"].to_numpy(dtype=np.float64)
    sxx = ((x - x.mean()) ** 2).sum()
    syy = ((y - y.mean()) ** 2).sum()
    sxy = ((x - x.mean()) * (y - y.mean())).sum()
    slope = (syy - sxx + math.sqrt((syy - sxx) ** 2 + 4 * sxy**2)) / (2 * sxy)
    intercept = y.mean() - slope * x.mean()
    [r] = deming_daily_regression(spark, SF_DIR).collect()
    assert r["n_days"] == len(g)
    assert abs(r["slope"] - slope) < 1e-4 * max(1, abs(slope))
    assert abs(r["intercept"] - intercept) < 1e-2 * max(1, abs(intercept))
    # Deming with delta=1 must lie between OLS(y|x) and 1/OLS(x|y)
    b_yx = sxy / sxx
    b_inv = syy / sxy
    lo, hi = sorted((b_yx, b_inv))
    assert lo - 1e-9 <= r["slope"] <= hi + 1e-9


SF01 = "/root/testdata/sf0.01"  # block tests need enough rows for full weeks


def _daily_at(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderdate", "o_totalprice"
    ).toPandas()
    o["cents"] = (o["o_totalprice"] * 100 + 0.5).apply(math.floor).astype("int64")
    return (
        o.groupby(o["o_orderdate"].dt.normalize())["cents"].sum().sort_index()
    )


def test_pages_trend_matches_pandas(spark):
    """sf0.01: sf0.001 has ~2.5 orders/day, so no calendar week is
    complete and the block set is empty there."""
    from zoom_spark.queries.round10_ops import pages_trend_weekday

    d = _daily_at(spark, SF01).reset_index()
    d.columns = ["day", "cents"]
    anchor = pd.Timestamp("1990-01-01")
    d["blk"] = ((d["day"] - anchor).dt.days // 7).astype(int)
    d["dow"] = ((d["day"] - anchor).dt.days % 7).astype(int)
    full = d.groupby("blk").size()
    d = d[d["blk"].isin(full[full == 7].index)]
    d["rnk"] = d.groupby("blk")["cents"].rank(method="average")
    rj = d.groupby("dow")["rnk"].sum()
    m = d["blk"].nunique()
    l_stat = sum((j + 1) * rj[j] for j in rj.index)
    n = 7
    z = (12 * l_stat - 3 * m * n * (n + 1) ** 2) / (
        n * (n + 1) * math.sqrt(m * n * (n - 1))
    )
    [r] = pages_trend_weekday(spark, SF01).collect()
    assert r["n_blocks"] == m
    assert abs(r["l_stat"] - l_stat) < 0.51
    assert abs(r["z"] - z) < 1e-4


def _ratings(spark, sf_dir):
    import pandas as pd

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    ).toPandas()
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_quantity"
    ).toPandas()
    li["cents"] = (li["l_extendedprice"] * 100 + 0.5).apply(math.floor)
    g = li.groupby("l_orderkey").agg(
        gross=("cents", "sum"), qty=("l_quantity", "sum")
    )
    m = o.merge(g, left_on="o_orderkey", right_index=True)

    def cat(v, lo, hi):
        return 0 if v < lo else (1 if v < hi else 2)

    return pd.DataFrame(
        {
            "c1": [cat(v, 77000, 150000) for v in m["o_totalprice"]],
            "c2": [cat(v, 7500000, 14500000) for v in m["gross"]],
            "c3": [cat(v, 60, 120) for v in m["qty"]],
        }
    )


def test_fleiss_kappa_matches_textbook(spark):
    """Textbook Fleiss: per-item P_i from the n_ij matrix (NOT the
    equal-pair shortcut the query uses)."""
    from zoom_spark.queries.round10_ops import fleiss_kappa_orders

    rat = _ratings(spark, SF_DIR)
    n, m, k = len(rat), 3, 3
    nij = np.zeros((n, k))
    for j in range(k):
        nij[:, j] = (
            (rat["c1"] == j).astype(int)
            + (rat["c2"] == j)
            + (rat["c3"] == j)
        )
    p_i = ((nij**2).sum(axis=1) - m) / (m * (m - 1))
    p_bar = p_i.mean()
    p_j = nij.sum(axis=0) / (n * m)
    p_e = (p_j**2).sum()
    kappa = (p_bar - p_e) / (1 - p_e)
    [r] = fleiss_kappa_orders(spark, SF_DIR).collect()
    assert r["n_items"] == n
    assert abs(r["p_bar"] - p_bar) < 1e-6
    assert abs(r["p_e"] - p_e) < 1e-6
    assert abs(r["kappa"] - kappa) < 1e-5
    assert 0 < r["kappa"] < 1  # correlated-but-not-identical raters


def test_krippendorff_alpha_matches_textbook(spark):
    """Nominal-metric alpha via the coincidence-matrix formulation."""
    from zoom_spark.queries.round10_ops import krippendorff_alpha_orders

    rat = _ratings(spark, SF_DIR)
    n, m, k = len(rat), 3, 3
    nij = np.zeros((n, k))
    for j in range(k):
        nij[:, j] = (
            (rat["c1"] == j).astype(int)
            + (rat["c2"] == j)
            + (rat["c3"] == j)
        )
    big_n = n * m
    # observed disagreement: fraction of within-item rater pairs that
    # disagree; expected: pooled margins without replacement
    agree_pairs = (nij * (nij - 1)).sum() / 2
    total_pairs = n * m * (m - 1) / 2
    d_o = 1 - agree_pairs / total_pairs
    nj = nij.sum(axis=0)
    d_e = 1 - (nj * (nj - 1)).sum() / (big_n * (big_n - 1))
    alpha = 1 - d_o / d_e
    [r] = krippendorff_alpha_orders(spark, SF_DIR).collect()
    assert r["n_items"] == n
    assert abs(r["d_o"] - d_o) < 1e-6
    assert abs(r["d_e"] - d_e) < 1e-6
    assert abs(r["alpha"] - alpha) < 1e-5
    # alpha and Fleiss' kappa converge for large N (sanity ordering)
    assert abs(r["alpha"]) <= 1


def test_quade_matches_scipy_formulation(spark):
    """Quade F from the original formulation over a pandas pivot."""
    from zoom_spark.queries.round10_ops import quade_weekday_revenue

    d = _daily_at(spark, SF01).reset_index()
    d.columns = ["day", "cents"]
    anchor = pd.Timestamp("1990-01-01")
    d["blk"] = ((d["day"] - anchor).dt.days // 7).astype(int)
    d["dow"] = ((d["day"] - anchor).dt.days % 7).astype(int)
    full = d.groupby("blk").size()
    d = d[d["blk"].isin(full[full == 7].index)]
    piv = d.pivot(index="blk", columns="dow", values="cents")
    m, k = piv.shape
    r = piv.rank(axis=1, method="average")
    rge = (piv.max(axis=1) - piv.min(axis=1)).rank(method="average")
    s = r.sub((k + 1) / 2).mul(rge, axis=0)
    a_stat = (s**2).to_numpy().sum()
    sj = s.sum(axis=0)
    b_stat = (sj**2).sum() / m
    f = (m - 1) * b_stat / (a_stat - b_stat)
    [row] = quade_weekday_revenue(spark, SF01).collect()
    assert row["n_blocks"] == m
    assert abs(row["a_stat"] - a_stat) < 0.51
    assert abs(row["b_stat"] - b_stat) < 0.51
    assert abs(row["quade_f"] - f) < 1e-3


def test_breusch_pagan_matches_numpy(spark):
    """Koenker BP from the rounded-fit residuals (same fit rounding
    as the query, textbook aux-R^2 path)."""
    from zoom_spark.queries.round10_ops import breusch_pagan_daily

    o = load_table(spark, SF_DIR, "orders").select(
        "o_orderdate", "o_totalprice"
    ).toPandas()
    rev = o.groupby(o["o_orderdate"].dt.normalize())["o_totalprice"].sum().round(2).sort_index()
    t = np.arange(1, len(rev) + 1, dtype=np.float64)
    y = rev.to_numpy(dtype=np.float64)
    n = len(y)
    b = round((n * (t * y).sum() - t.sum() * y.sum())
              / (n * (t * t).sum() - t.sum() ** 2), 6)
    a = round((y.sum() - b * t.sum()) / n, 4)
    g2 = (y - (a + b * t)) ** 2
    rho = (n * (t * g2).sum() - t.sum() * g2.sum()) / math.sqrt(
        (n * (t * t).sum() - t.sum() ** 2)
        * (n * (g2 * g2).sum() - g2.sum() ** 2)
    )
    [r] = breusch_pagan_daily(spark, SF_DIR).collect()
    assert r["n_days"] == n
    assert abs(r["r2_aux"] - rho * rho) < 1e-5
    assert abs(r["lm_stat"] - n * rho * rho) < 1e-2


def test_chow_matches_numpy(spark):
    from zoom_spark.queries.round10_ops import chow_break_daily

    d = _daily(spark)
    y = (d // 100).to_numpy(dtype=np.float64)
    t = np.arange(1, len(y) + 1, dtype=np.float64)
    n = len(y)
    h = n // 2

    def rss(tt, yy):
        A = np.vstack([np.ones_like(tt), tt]).T
        coef, res, *_ = np.linalg.lstsq(A, yy, rcond=None)
        e = yy - A @ coef
        return (e**2).sum()

    rp = rss(t, y)
    r1 = rss(t[:h], y[:h])
    r2 = rss(t[h:], y[h:])
    f = ((rp - r1 - r2) / 2) / ((r1 + r2) / (n - 4))
    [r] = chow_break_daily(spark, SF_DIR).collect()
    assert r["n_days"] == n
    assert r["n_pre"] == h
    assert abs(r["chow_f"] - f) < 1e-3 * max(1, abs(f))


def test_dist_distances_match_python(spark):
    from collections import Counter

    from zoom_spark.queries.round10_ops import dist_distance_sources

    docs = load_table(spark, SF_DIR, "documents").select(
        "source", "text"
    ).toPandas()
    cnt = {s: Counter() for s in ("src0", "src1")}
    for s, txt in zip(docs["source"], docs["text"]):
        if s in cnt:
            cnt[s].update(w for w in txt.split(" ") if w)
    n0, n1 = sum(cnt["src0"].values()), sum(cnt["src1"].values())
    vocab = set(cnt["src0"]) | set(cnt["src1"])
    bc = sum(
        math.sqrt((cnt["src0"][w] / n0) * (cnt["src1"][w] / n1))
        for w in vocab
    )
    tv = sum(
        abs(cnt["src0"][w] / n0 - cnt["src1"][w] / n1) for w in vocab
    ) / 2
    [r] = dist_distance_sources(spark, SF_DIR).collect()
    assert r["n_tokens"] == len(vocab)
    assert abs(r["bhattacharyya"] - bc) < 1e-5
    assert abs(r["hellinger"] - math.sqrt(1 - min(bc, 1.0))) < 1e-5
    assert abs(r["total_variation"] - tv) < 1e-5
    # metric sanity: H^2 <= TVD <= sqrt(2) H (standard inequalities)
    h2 = 1 - min(bc, 1.0)
    assert h2 - 1e-9 <= r["total_variation"] <= math.sqrt(2 * h2) + 1e-9


def test_kendalls_w_matches_pandas(spark):
    from zoom_spark.queries.round10_ops import kendalls_w_weekday

    d = _daily_at(spark, SF01).reset_index()
    d.columns = ["day", "cents"]
    anchor = pd.Timestamp("1990-01-01")
    d["blk"] = ((d["day"] - anchor).dt.days // 7).astype(int)
    d["dow"] = ((d["day"] - anchor).dt.days % 7).astype(int)
    # weekly totals per (blk, dow) may span multiple dates? one date per
    # (blk, dow) by construction; keep the sum to match the query
    g = d.groupby(["blk", "dow"])["cents"].sum().reset_index()
    full = g.groupby("blk").size()
    g = g[g["blk"].isin(full[full == 7].index)]
    piv = g.pivot(index="blk", columns="dow", values="cents")
    m, n = piv.shape
    r = piv.rank(axis=1, method="average")
    rj = r.sum(axis=0)
    srj2 = (rj**2).sum()
    tsum = 0
    for _, row in piv.iterrows():
        for _, c in row.value_counts().items():
            tsum += c**3 - c
    w = (12 * srj2 - 3 * m * m * n * (n + 1) ** 2) / (
        m * m * n * (n * n - 1) - m * tsum
    )
    [row] = kendalls_w_weekday(spark, SF01).collect()
    assert row["n_blocks"] == m
    assert abs(row["kendalls_w"] - w) < 1e-5
    assert 0 <= row["kendalls_w"] <= 1


def test_morans_i_matches_networkx_style(spark):
    from zoom_spark.queries.round10_ops import morans_i_copurchase

    li = load_table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_partkey"
    ).toPandas().drop_duplicates()
    part = load_table(spark, SF_DIR, "part").select(
        "p_partkey", "p_retailprice"
    ).toPandas()
    edges = set()
    for _, grp in li.groupby("l_orderkey"):
        ps = sorted(set(grp["l_partkey"]))
        for i in range(len(ps)):
            for j in range(i + 1, len(ps)):
                edges.add((ps[i], ps[j]))
    xmap = {
        k: math.floor(v * 100 + 0.5)
        for k, v in zip(part["p_partkey"], part["p_retailprice"])
    }
    nodes = sorted({u for u, v in edges} | {v for u, v in edges})
    x = np.array([xmap[nd] for nd in nodes], dtype=np.float64)
    idx = {nd: i for i, nd in enumerate(nodes)}
    xb = x.mean()
    num = sum(2 * (x[idx[u]] - xb) * (x[idx[v]] - xb) for u, v in edges)
    den = ((x - xb) ** 2).sum()
    i_stat = (len(nodes) / (2 * len(edges))) * num / den
    [r] = morans_i_copurchase(spark, SF_DIR).collect()
    assert r["n_nodes"] == len(nodes)
    assert r["n_edges"] == len(edges)
    assert abs(r["morans_i"] - i_stat) < 1e-5


def test_ccf_matches_numpy(spark):
    from zoom_spark.queries.round10_ops import CCF_MAX_LAG, ccf_orders_revenue

    o = load_table(spark, SF_DIR, "orders").select(
        "o_orderdate", "o_totalprice"
    ).toPandas()
    o["cents"] = (o["o_totalprice"] * 100 + 0.5).apply(math.floor).astype("int64")
    g = o.groupby(o["o_orderdate"].dt.normalize()).agg(
        x=("cents", "size"), yc=("cents", "sum")
    ).sort_index()
    x = g["x"].to_numpy(dtype=np.float64)
    y = (g["yc"] // 100).to_numpy(dtype=np.float64)
    got = {r["lag"]: r for r in ccf_orders_revenue(spark, SF_DIR).collect()}
    assert set(got) == set(range(-CCF_MAX_LAG, CCF_MAX_LAG + 1))
    for lag in got:
        if lag >= 0:
            xa, yb = x[: len(x) - lag], y[lag:]
        else:
            xa, yb = x[-lag:], y[: len(y) + lag]
        want = np.corrcoef(xa, yb)[0, 1]
        assert got[lag]["n_overlap"] == len(xa)
        assert abs(got[lag]["ccf"] - want) < 1e-5, lag


def test_dunn_index_matches_python_over_fit(spark):
    """Recompute intra/inter from the SAME fitted centroids with
    plain python over the collected quantized vectors."""
    from zoom_spark.queries.round10_ops import dunn_index_int_cells
    from zoom_spark.queries.similarity_queries import (
        KMEANS_ITERS,
        KMEANS_K,
        KMEANS_QSCALE,
    )
    from zoom_spark.similarity.kmeans import int_lloyd_fit, int_quantize

    emb = load_table(spark, SF_DIR, "embeddings")
    base = int_quantize(emb, "embedding", "vec_id", KMEANS_QSCALE)
    cents = int_lloyd_fit(base, k=KMEANS_K, iters=KMEANS_ITERS)
    vecs = [list(map(int, r["vec"])) for r in base.collect()]

    def d2(a, b):
        return sum((u - v) * (u - v) for u, v in zip(a, b))

    intra = max(min(d2(v, c) for _, c in cents) for v in vecs)
    inter = min(
        d2(c1, c2)
        for i, (_, c1) in enumerate(cents)
        for (_, c2) in cents[i + 1 :]
    )
    [r] = dunn_index_int_cells(spark, SF_DIR).collect()
    assert r["n_cells"] == len(cents)
    assert r["min_inter2"] == inter
    assert r["max_intra2"] == intra
    assert abs(r["dunn"] - math.sqrt(inter / intra)) < 1e-6


def test_dixon_q_matches_python(spark):
    from zoom_spark.queries.round10_ops import dixon_q_nations

    c = load_table(spark, SF_DIR, "customer").select(
        "c_nationkey", "c_acctbal"
    ).toPandas()
    c["cents"] = (c["c_acctbal"] * 100 + 0.5).apply(math.floor).astype("int64")
    g = c.groupby("c_nationkey").agg(s=("cents", "sum"), n=("cents", "size"))
    g["mu"] = g["s"] / g["n"]
    srt = g.sort_values(["mu"]).reset_index()
    # deterministic tiebreak by nation matches the query's (mu, nation)
    srt = g.reset_index().sort_values(["mu", "c_nationkey"])
    mus = srt["mu"].to_numpy()
    rng = mus[-1] - mus[0]
    [r] = dixon_q_nations(spark, SF_DIR).collect()
    assert r["n_groups"] == len(mus)
    assert r["low_nation"] == srt.iloc[0]["c_nationkey"]
    assert r["high_nation"] == srt.iloc[-1]["c_nationkey"]
    assert abs(r["q_min"] - (mus[1] - mus[0]) / rng) < 1e-6
    assert abs(r["q_max"] - (mus[-1] - mus[-2]) / rng) < 1e-6


def test_siegel_tukey_matches_python(spark):
    from zoom_spark.queries.round10_ops import siegel_tukey_weekend

    ev = load_table(spark, SF_DIR, "events").select(
        "event_id", "ts", "value"
    ).toPandas()
    anchor = pd.Timestamp("2024-01-01")
    grp = (
        ((ev["ts"].dt.normalize() - anchor).dt.days % 7).isin([5, 6])
    ).astype(int)
    rows = sorted(zip(ev["value"], ev["event_id"], grp))
    n = len(rows)

    # independent formulation: walk the alternation explicitly
    st_rank = [0] * n
    lo, hi, nxt, take_low, first = 0, n - 1, 1, True, True
    # assignment order: 1 from bottom, then pairs alternating top/bottom
    order = []
    b, t = 0, n - 1
    order.append(("b", b)); b += 1
    side = "t"
    while b <= t:
        if side == "t":
            order.append(("t", t)); t -= 1
            if b <= t:
                order.append(("t", t)); t -= 1
            side = "b"
        else:
            order.append(("b", b)); b += 1
            if b <= t:
                order.append(("b", b)); b += 1
            side = "t"
    for rank0, (_, pos) in enumerate(order, start=1):
        st_rank[pos] = rank0
    w = sum(st_rank[i] for i in range(n) if rows[i][2] == 1)
    m = sum(1 for r_ in rows if r_[2] == 1)
    k = n - m
    z = (w - m * (n + 1) / 2) / math.sqrt(m * k * (n + 1) / 12)
    [r] = siegel_tukey_weekend(spark, SF_DIR).collect()
    assert r["n_weekend"] == m and r["n_weekday"] == k
    assert r["w_stat"] == w
    assert abs(r["z"] - z) < 1e-5


def test_hosmer_lemeshow_matches_python(spark):
    from zoom_spark.queries.round10_ops import HL_BINS, hosmer_lemeshow_purchase

    ev = load_table(spark, SF_DIR, "events").select(
        "event_id", "ts", "event_type"
    ).toPandas()
    anchor = pd.Timestamp("2024-01-01")
    ev["dow"] = ((ev["ts"].dt.normalize() - anchor).dt.days % 7).astype(int)
    ev["hr"] = ev["ts"].dt.hour
    ev["y"] = (ev["event_type"] == "purchase").astype(int)
    cell = ev.groupby(["dow", "hr"])["y"].agg(["size", "sum"])
    ev = ev.merge(
        (cell["sum"] / cell["size"]).rename("phat").reset_index(),
        on=["dow", "hr"],
    )
    ev = ev.sort_values(["phat", "event_id"]).reset_index(drop=True)
    n = len(ev)
    ev["bin"] = (ev.index * HL_BINS) // n
    rows = {r["bin"]: r for r in hosmer_lemeshow_purchase(spark, SF_DIR).collect()}
    assert len(rows) == HL_BINS
    hl = 0.0
    for b, grp in ev.groupby("bin"):
        o, e, ng = grp["y"].sum(), grp["phat"].sum(), len(grp)
        assert rows[b]["n_g"] == ng
        assert rows[b]["o_g"] == o
        assert abs(rows[b]["e_g"] - e) < 1e-3
        if 0 < e < ng:
            contrib = (o - e) ** 2 / (e * (1 - e / ng))
            assert abs(rows[b]["hl_contrib"] - contrib) < 1e-4
            hl += contrib
        else:
            assert rows[b]["hl_contrib"] is None
    # chi2(HL_BINS-2) scale sanity: statistic is finite and positive
    assert 0 <= hl < 1e6


def test_katz_matches_python_walk_counts(spark):
    from collections import defaultdict

    from zoom_spark.queries.round10_ops import (
        KATZ_ALPHA,
        KATZ_DEPTH,
        KATZ_TOPK,
        katz_centrality_parts,
    )

    li = load_table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_partkey"
    ).toPandas().drop_duplicates()
    adj = defaultdict(set)
    for _, grp in li.groupby("l_orderkey"):
        ps = sorted(set(grp["l_partkey"]))
        for i in range(len(ps)):
            for j in range(i + 1, len(ps)):
                adj[ps[i]].add(ps[j])
                adj[ps[j]].add(ps[i])
    p = {v: 1 for v in adj}
    katz = {v: 0.0 for v in adj}
    for k in range(1, KATZ_DEPTH + 1):
        nxt = {v: sum(p.get(u, 0) for u in adj[v]) for v in adj}
        p = nxt
        for v in adj:
            katz[v] += (KATZ_ALPHA**k) * p[v]
    want = sorted(katz.items(), key=lambda kv: (-round(kv[1], 6), kv[0]))[
        :KATZ_TOPK
    ]
    got = katz_centrality_parts(spark, SF_DIR).collect()
    assert [r["part"] for r in got] == [v for v, _ in want]
    for r, (v, s) in zip(got, want):
        assert abs(r["katz"] - s) < 1e-5, v


def test_gearys_c_matches_python(spark):
    from zoom_spark.queries.round10_ops import gearys_c_copurchase

    li = load_table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_partkey"
    ).toPandas().drop_duplicates()
    part = load_table(spark, SF_DIR, "part").select(
        "p_partkey", "p_retailprice"
    ).toPandas()
    edges = set()
    for _, grp in li.groupby("l_orderkey"):
        ps = sorted(set(grp["l_partkey"]))
        for i in range(len(ps)):
            for j in range(i + 1, len(ps)):
                edges.add((ps[i], ps[j]))
    xmap = {
        k: math.floor(v * 100 + 0.5)
        for k, v in zip(part["p_partkey"], part["p_retailprice"])
    }
    nodes = sorted({u for u, v in edges} | {v for u, v in edges})
    x = np.array([xmap[nd] for nd in nodes], dtype=np.float64)
    xb = x.mean()
    num = sum(2 * (xmap[u] - xmap[v]) ** 2 for u, v in edges)
    den = ((x - xb) ** 2).sum()
    c = ((len(nodes) - 1) / (2 * 2 * len(edges))) * num / den
    [r] = gearys_c_copurchase(spark, SF_DIR).collect()
    assert r["n_nodes"] == len(nodes) and r["n_edges"] == len(edges)
    assert abs(r["gearys_c"] - c) < 1e-5


def test_weighted_kappa_matches_python(spark):
    from zoom_spark.queries.round10_ops import weighted_kappa_orders

    rat = _ratings(spark, SF_DIR)
    n = len(rat)
    conf = np.zeros((3, 3))
    for a, b in zip(rat["c1"], rat["c2"]):
        conf[a][b] += 1
    ri, cj = conf.sum(axis=1), conf.sum(axis=0)

    def kw(power):
        do = sum(
            abs(i - j) ** power * conf[i][j] for i in range(3) for j in range(3)
        ) / n
        de = sum(
            abs(i - j) ** power * ri[i] * cj[j] / n / n
            for i in range(3)
            for j in range(3)
        )
        return 1 - do / de

    [r] = weighted_kappa_orders(spark, SF_DIR).collect()
    assert r["n_items"] == n
    assert abs(r["kappa_linear"] - kw(1)) < 1e-5
    assert abs(r["kappa_quadratic"] - kw(2)) < 1e-5
    assert -1 <= r["kappa_linear"] <= 1 and -1 <= r["kappa_quadratic"] <= 1


def test_lmoments_match_python(spark):
    from zoom_spark.queries.round10_ops import lmoments_daily_revenue

    d = _daily(spark)
    y = np.sort((d // 100000).to_numpy(dtype=np.int64))
    n = len(y)
    i = np.arange(1, n + 1, dtype=np.float64)
    b0 = y.mean()
    b1 = ((i - 1) * y).sum() / n / (n - 1)
    b2 = ((i - 1) * (i - 2) * y).sum() / n / (n - 1) / (n - 2)
    b3 = ((i - 1) * (i - 2) * (i - 3) * y).sum() / n / (n - 1) / (n - 2) / (n - 3)
    l1, l2 = b0, 2 * b1 - b0
    t3 = (6 * b2 - 6 * b1 + b0) / l2
    t4 = (20 * b3 - 30 * b2 + 12 * b1 - b0) / l2
    [r] = lmoments_daily_revenue(spark, SF_DIR).collect()
    assert r["n_days"] == n
    assert abs(r["l1"] - l1) < 1e-4
    assert abs(r["l2"] - l2) < 1e-4
    assert abs(r["l_skew"] - t3) < 1e-5
    assert abs(r["l_kurtosis"] - t4) < 1e-5
    # Hosking bounds: |tau3| < 1 and 0.25*(5*tau3^2 - 1) <= tau4 < 1
    assert abs(r["l_skew"]) < 1
    assert 0.25 * (5 * r["l_skew"] ** 2 - 1) - 1e-9 <= r["l_kurtosis"] < 1


def test_nation_rank_stability_matches_pandas(spark):
    from zoom_spark.queries.round10_ops import nation_rank_stability

    o = load_table(spark, SF_DIR, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    ).toPandas()
    c = load_table(spark, SF_DIR, "customer").select(
        "c_custkey", "c_nationkey"
    ).toPandas()
    m = o.merge(c, left_on="o_custkey", right_on="c_custkey")
    m["cents"] = (m["o_totalprice"] * 100 + 0.5).apply(math.floor)
    days = m["o_orderdate"].dt.normalize()
    lo, hi = days.min(), days.max()
    m["half"] = ((days - lo).dt.days > (hi - lo).days // 2).astype(int)
    tot = m.groupby(["c_nationkey", "half"])["cents"].sum().reset_index()
    ranks = {}
    for h in (0, 1):
        sub = tot[tot["half"] == h].sort_values(
            ["cents", "c_nationkey"], ascending=[False, True]
        )
        ranks[h] = {nk: i + 1 for i, nk in enumerate(sub["c_nationkey"])}
    common = sorted(set(ranks[0]) & set(ranks[1]))
    d2 = [(ranks[0][k] - ranks[1][k]) for k in common]
    n = len(common)
    rho = 1 - 6 * sum(x * x for x in d2) / (n * (n * n - 1))
    [r] = nation_rank_stability(spark, SF_DIR).collect()
    assert r["n_nations"] == n
    assert r["footrule"] == sum(abs(x) for x in d2)
    assert r["max_shift"] == max(abs(x) for x in d2)
    assert abs(r["spearman_rho"] - rho) < 1e-6
