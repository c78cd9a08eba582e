"""Round-5 batch-3 operators: Lorenz curve, forecast backtest, bitemporal.
Pandas/numpy pins beside the driver-gate oracle parity."""

from __future__ import annotations

import numpy as np
import pandas as pd

from serene_spark.registry import load_all

SF = "/root/testdata/sf0.001"


def test_lorenz_matches_pandas(spark):
    out = load_all()["lorenz_customers"].spark(spark, SF).toPandas()
    o = pd.read_parquet(f"{SF}/orders.parquet")
    per = (
        o.assign(v=o.o_totalprice.round(2))
        .groupby("o_custkey")["v"].sum().round(2)
        .rename("rev").reset_index()
        .sort_values(["rev", "o_custkey"]).reset_index(drop=True)
    )
    n = len(per)
    per["decile"] = np.ceil(10.0 * (per.index + 1) / n).astype(int)
    grp = per.groupby("decile")["rev"].agg(["sum", "size"])
    tot = grp["sum"].sum()
    cum = grp["sum"].cumsum()
    assert len(out) == len(grp)
    for _, r in out.iterrows():
        d = int(r["decile"])
        assert r["n_customers"] == grp.loc[d, "size"]
        assert abs(r["revenue_share"] - grp.loc[d, "sum"] / tot) < 1e-6
        assert abs(r["cum_revenue_share"] - cum.loc[d] / tot) < 1e-6
    # Lorenz curve properties: monotone, ends at 1, never above the diagonal
    assert (out["cum_revenue_share"].diff().dropna() >= -1e-12).all()
    assert abs(out["cum_revenue_share"].iloc[-1] - 1.0) < 1e-6
    assert (out["equality_gap"] >= -1e-9).all()


def test_forecast_backtest_matches_pandas(spark):
    out = load_all()["forecast_backtest_baselines"].spark(spark, SF).toPandas()
    o = pd.read_parquet(f"{SF}/orders.parquet")
    dt = pd.to_datetime(o.o_orderdate)
    mi = dt.dt.year * 12 + dt.dt.month
    s = o.assign(m=mi, v=o.o_totalprice.round(2)).groupby("m")["v"].sum()
    s = s.reindex(range(s.index.min(), s.index.max() + 1), fill_value=0.0)
    m0 = s.index.min()
    rows = {}
    for h in (1, 2, 3):
        for model in ("naive", "snaive", "drift"):
            apes, aes, n = [], [], 0
            for origin in s.index:
                if origin < m0 + 12 or origin + h > s.index.max():
                    continue
                a = s[origin + h]
                if model == "naive":
                    f = s[origin]
                elif model == "snaive":
                    f = s[origin + h - 12]
                else:
                    f = s[origin] + h * (s[origin] - s[m0]) / (origin - m0)
                n += 1
                aes.append(round(abs(f - a), 6))
                if a > 0:
                    apes.append(round(abs(f - a) / a, 12))
            rows[(model, h)] = (n, sum(apes) / len(apes), sum(aes) / n)
    for _, r in out.iterrows():
        n, mape, mae = rows[(r["model"], r["horizon"])]
        assert r["n_origins"] == n
        assert abs(r["mape"] - mape) < 1e-5
        assert abs(r["mae"] - mae) < 1e-3


def test_bitemporal_then_never_exceeds_final(spark):
    out = load_all()["bitemporal_as_of"].spark(spark, SF).toPandas()
    assert len(out) == 8
    piv = out.pivot(index="audit_point", columns="knowledge", values="n_live")
    # 'then' sees a subset of ops (txn-lagged) -> live count can differ, but
    # the op sets are nested, so the reconstruction uses <= the information
    for k in piv.index:
        then_rows = out[(out.audit_point == k) & (out.knowledge == "then")]
        final_rows = out[(out.audit_point == k) & (out.knowledge == "final")]
        assert len(then_rows) == 1 and len(final_rows) == 1


def test_bitemporal_matches_pandas(spark):
    out = load_all()["bitemporal_as_of"].spark(spark, SF).toPandas()
    ev = pd.read_parquet(f"{SF}/events.parquet")
    us = ev.ts.astype("int64") // 1000 if ev.ts.dtype.kind == "i" else (
        ev.ts.astype("datetime64[ns]").astype("int64") // 1000
    )
    df = pd.DataFrame({
        "user": ev.user_id, "eid": ev.event_id, "valid": us,
        "txn": us + (ev.event_id % 7 + 1) * 3_600_000_000,
        "op": np.where(ev.event_type == "signup", "I",
                       np.where(ev.event_type == "error", "D", "U")),
        "value": ev.value.round(2),
    })
    v0, v1 = df.valid.min(), df.valid.max()
    for k in range(1, 5):
        v_at = v0 + k * ((v1 - v0) // 5)
        for know in ("then", "final"):
            vis = df[(df.valid <= v_at)
                     & ((df.txn <= v_at) if know == "then" else True)]
            latest = vis.sort_values(["valid", "eid"]).groupby("user").tail(1)
            live = latest[latest.op != "D"]
            r = out[(out.audit_point == k) & (out.knowledge == know)].iloc[0]
            assert r["n_live"] == len(live)
            assert abs(r["live_value"] - round(live.value.sum(), 2)) < 1e-6


def test_degree_hist_matches_pandas(spark):
    import math

    out = load_all()["graph_degree_hist"].spark(spark, SF).toPandas()
    li = pd.read_parquet(f"{SF}/lineitem.parquet")
    o = pd.read_parquet(f"{SF}/orders.parquet")
    cs = (
        li.merge(o, left_on="l_orderkey", right_on="o_orderkey")
        [["o_custkey", "l_suppkey"]].drop_duplicates()
    )
    deg = cs.groupby("l_suppkey").size().sort_values(ascending=False)
    hist = deg.value_counts()
    assert len(out) == len(hist)
    for _, r in out.iterrows():
        assert r["n_nodes"] == hist[r["degree"]]
    n = len(deg)
    k = max(5, n // 10)
    # deterministic rank: by (degree desc, node asc)
    ranked = sorted(zip(-deg.values, deg.index))
    d = [-x for x, _ in ranked]
    lnsum = sum(round(math.log(d[i] / d[k]), 12) for i in range(k))
    alpha = k / lnsum if lnsum else None
    got = out["hill_alpha"].iloc[0]
    assert out["hill_k"].iloc[0] == k
    if alpha is None:
        assert pd.isna(got)
    else:
        assert abs(got - alpha) < 1e-5


def test_langid_confusion_matches_pandas(spark):
    out = load_all()["langid_confusion"].spark(spark, SF).toPandas()
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    # independent recomputation of the engine's own prediction convention
    pred_out = load_all()["lang_id"].spark(spark, SF).toPandas()
    merged = docs.merge(pred_out[["doc_id", "pred_lang"]], on="doc_id", how="left")
    merged["pred_lang"] = merged.pred_lang.fillna("unknown")
    cells = merged.groupby(["lang", "pred_lang"]).size()
    acc = (merged.lang == merged.pred_lang).mean()
    assert out["n_docs"].sum() == len(docs)
    for _, r in out.iterrows():
        assert r["n_docs"] == cells[(r["true_lang"], r["pred_lang"])]
    assert abs(out["overall_accuracy"].iloc[0] - acc) < 1e-6


def test_ndcg_matches_python(spark):
    import math

    out = load_all()["retrieval_ndcg_audit"].spark(spark, SF).toPandas().iloc[0]
    bm = load_all()["bm25_search"].spark(spark, SF).toPandas()
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    q = ("spark", "shuffle", "broadcast")
    import re as _re

    rel = {}
    for _, d in docs.iterrows():
        toks = _re.split(r"[^a-z0-9]+", _re.sub(r"\s+", " ", d.text.lower()).strip())
        r = min(3, sum(1 for t in toks if t in q))
        if r:
            rel[d.doc_id] = r
    k = 10
    ranked = bm.sort_values("rank").doc_id.tolist()[:k]
    dcg = sum(round((2 ** rel.get(d, 0) - 1) / math.log2(i + 2), 9)
              for i, d in enumerate(ranked))
    ideal = sorted(rel.values(), reverse=True)[:k]
    idcg = sum(round((2 ** r - 1) / math.log2(i + 2), 9) for i, r in enumerate(ideal))
    assert abs(out["dcg"] - dcg) < 1e-4
    assert abs(out["idcg"] - idcg) < 1e-4
    assert abs(out["ndcg"] - dcg / idcg) < 1e-4
    assert 0 < out["ndcg"] <= 1.0


def test_neyman_matches_numpy_and_beats_proportional(spark):
    out = load_all()["neyman_allocation"].spark(spark, SF).toPandas()
    o = pd.read_parquet(f"{SF}/orders.parquet")
    o["v"] = o.o_totalprice.round(2)
    grp = o.groupby("o_orderpriority")["v"].agg(["size", "std"])
    ns = (grp["size"] * grp["std"]).round(6).sum()
    for _, r in out.iterrows():
        e = grp.loc[r["stratum"]]
        assert r["n_pop"] == e["size"]
        assert abs(r["sigma"] - e["std"]) < 1e-4
        assert abs(r["n_neyman"] - 10000 * e["size"] * e["std"] / ns) < 2e-2
    assert abs(out["n_neyman"].sum() - 10000) < 1e-2
    assert abs(out["n_proportional"].sum() - 10000) < 1e-2
    assert out["var_neyman"].iloc[0] <= out["var_proportional"].iloc[0] + 1e-12


def test_psm_matches_numpy_irls(spark):
    out = load_all()["psm_stratified_att"].spark(spark, SF).toPandas()
    ev = pd.read_parquet(f"{SF}/events.parquet")
    u = ev.groupby("user_id").agg(
        n_err=("event_type", lambda s: (s == "error").sum()),
        n_tot=("event_type", "size"),
        n_click=("event_type", lambda s: (s == "click").sum()),
        n_view=("event_type", lambda s: (s == "view").sum()),
    )
    pv = ev[(ev.event_type == "purchase") & ev.value.notna()]
    u["outcome"] = pv.groupby("user_id")["value"].sum().round(2).reindex(u.index).fillna(0.0)
    gne, gnt = u.n_err.sum(), u.n_tot.sum()
    u["y"] = (u.n_err * gnt > gne * u.n_tot).astype(float)
    X = np.column_stack([
        np.ones(len(u)),
        np.round(np.log1p(u.n_click.to_numpy(float)), 9),
        np.round(np.log1p(u.n_view.to_numpy(float)), 9),
    ])
    y = u.y.to_numpy()
    beta = np.zeros(3)
    for _ in range(50):  # full-precision IRLS to convergence
        p = 1 / (1 + np.exp(-X @ beta))
        W = p * (1 - p)
        H = X.T @ (X * W[:, None])
        g = X.T @ (y - p)
        step = np.linalg.solve(H, g)
        beta = beta + step
        if np.abs(step).max() < 1e-12:
            break
    p = np.round(1 / (1 + np.exp(-X @ beta)), 9)
    df = pd.DataFrame({"p": p, "user": u.index, "t": y.astype(int),
                       "o": u.outcome.to_numpy()})
    df = df.sort_values(["p", "user"]).reset_index(drop=True)
    df["stratum"] = np.ceil(5.0 * (df.index + 1) / len(df)).astype(int)
    att_terms, w = [], 0
    for s_id, g_ in df.groupby("stratum"):
        t, c = g_[g_.t == 1], g_[g_.t == 0]
        row = out[out.stratum == s_id].iloc[0]
        assert (row["n_treated"], row["n_control"]) == (len(t), len(c))
        if len(t) and len(c):
            d = t.o.mean() - c.o.mean()
            assert abs(row["att_stratum"] - d) < 1e-3
            att_terms.append(len(t) * d)
            w += len(t)
    att = sum(att_terms) / w
    assert abs(out["att_pooled"].iloc[0] - att) < 1e-3
    naive = df[df.t == 1].o.mean() - df[df.t == 0].o.mean()
    assert abs(out["naive_diff"].iloc[0] - naive) < 1e-6


def test_msprt_matches_numpy(spark):
    import hashlib

    out = load_all()["ab_sequential_msprt"].spark(spark, SF).toPandas()
    ev = pd.read_parquet(f"{SF}/events.parquet")
    ev = ev[ev.value.notna()].copy()
    sec = (pd.to_datetime(ev.ts) - pd.Timestamp(0)) // pd.Timedelta(seconds=1)
    ev["day"] = sec // 86400
    ev["arm"] = [int(hashlib.md5(str(u).encode()).hexdigest()[:8], 16) % 2
                 for u in ev.user_id]
    ev["v"] = ev.value.round(2)
    tau2 = 25.0
    days = sorted(ev.day.unique())
    lam_max, checked = 0.0, 0
    for d in days:
        cur = ev[ev.day <= d]
        a, b = cur[cur.arm == 0].v, cur[cur.arm == 1].v
        if len(a) < 2 or len(b) < 2:
            continue
        delta = a.mean() - b.mean()
        v = a.var(ddof=1) / len(a) + b.var(ddof=1) / len(b)
        lam = np.sqrt(v / (v + tau2)) * np.exp(delta**2 * tau2 / (2 * v * (v + tau2)))
        lam_max = max(lam_max, round(lam, 9))
        row = out[out.epoch_day == d]
        if len(row):
            r = row.iloc[0]
            assert (r["n_a"], r["n_b"]) == (len(a), len(b))
            assert abs(r["mean_diff"] - delta) < 1e-4
            assert abs(r["lambda_t"] - lam) < 1e-4
            assert abs(r["p_always_valid"] - min(1.0, 1.0 / lam_max)) < 1e-4
            checked += 1
    assert checked >= 5
    # always-valid property: p is non-increasing
    assert (out["p_always_valid"].diff().dropna() <= 1e-9).all()


def test_median_ci_matches_numpy(spark):
    out = load_all()["median_ci_orderstat"].spark(spark, SF).toPandas().iloc[0]
    o = pd.read_parquet(f"{SF}/orders.parquet")
    v = np.sort(o.o_totalprice.round(2).to_numpy())
    n = len(v)
    z = 1.959964
    lo = max(1, int(np.floor(n / 2 - z * np.sqrt(n) / 2)))
    hi = min(n, int(np.ceil(n / 2 + z * np.sqrt(n) / 2)) + 1)
    med = v[int(np.ceil(n / 2)) - 1]
    assert out["n"] == n
    assert abs(out["median"] - med) < 1e-6
    assert abs(out["ci_lo"] - v[lo - 1]) < 1e-6
    assert abs(out["ci_hi"] - v[hi - 1]) < 1e-6
    assert out["ci_lo"] <= out["median"] <= out["ci_hi"]


def test_conformal_coverage_and_numpy(spark):
    out = load_all()["conformal_interval_revenue"].spark(spark, SF).toPandas().iloc[0]
    li = pd.read_parquet(f"{SF}/lineitem.parquet")
    li["x1"] = li.l_quantity.round(2)
    li["x2"] = li.l_discount.round(2)
    li["y"] = (li.l_extendedprice.round(2) * (1 - li.l_discount.round(2))).round(2)
    tr = li[li.l_orderkey % 3 == 0]
    X = np.column_stack([np.ones(len(tr)), tr.x1, tr.x2])
    beta = np.linalg.lstsq(X, tr.y.to_numpy(), rcond=None)[0]
    assert abs(out["beta0"] - beta[0]) < 1e-3
    assert abs(out["beta1"] - beta[1]) < 1e-3
    assert abs(out["beta2"] - beta[2]) < 1e-1  # discount coef is large-scale
    b = np.array([out["beta0"], out["beta1"], out["beta2"]])
    cal = li[li.l_orderkey % 3 == 1]
    r = np.round(np.abs(cal.y - (b[0] + b[1] * cal.x1 + b[2] * cal.x2)), 6)
    k = min(len(r), int(np.ceil((len(r) + 1) * 0.9)))
    q = np.sort(r.to_numpy())[k - 1]
    # the operator computes residuals with its 9-dp internal betas; this
    # reference uses the 6-dp OUTPUT betas, so allow a quantization ulp
    assert abs(out["q_hat"] - q) < 5e-5
    te = li[li.l_orderkey % 3 == 2]
    rt = np.round(np.abs(te.y - (b[0] + b[1] * te.x1 + b[2] * te.x2)), 6)
    cov = (rt <= q).mean()
    assert abs(out["test_coverage"] - cov) < 5e-3
    # the conformal guarantee: coverage ~ 0.9 on unseen data
    assert 0.85 <= out["test_coverage"] <= 0.97


def test_nelson_aalen_matches_python_and_bounds_km(spark):
    na = load_all()["nelson_aalen_hazard"].spark(spark, SF).toPandas()
    km = load_all()["km_order_gap"].spark(spark, SF).toPandas()
    # H is nondecreasing; exp(-H) >= KM survival pointwise (standard bound)
    assert (na["cum_hazard"].diff().dropna() >= -1e-12).all()
    merged = na.merge(km, on="gap_days", suffixes=("_na", "_km"))
    assert len(merged) == len(na) == len(km)
    assert (merged["survival_fh"] - merged["survival"] >= -1e-6).all()
    # python reference on the duration relation
    o = pd.read_parquet(f"{SF}/orders.parquet")
    o["day"] = (pd.to_datetime(o.o_orderdate) - pd.Timestamp(0)).dt.days
    o = o.sort_values(["o_custkey", "day", "o_orderkey"])
    o["nxt"] = o.groupby("o_custkey")["day"].shift(-1)
    mx = o.day.max()
    dur = np.where(o.nxt.isna(), mx - o.day, o.nxt - o.day).astype(int)
    ev = (~o.nxt.isna()).astype(int).to_numpy()
    df = pd.DataFrame({"dur": dur, "ev": ev})
    hist = df.groupby("dur").agg(d=("ev", "sum"), n=("ev", "size")).sort_index()
    n_risk = hist.n[::-1].cumsum()[::-1]
    h = (np.round(hist.d / n_risk, 12)).cumsum()
    for _, r in na.head(50).iterrows():
        assert abs(r["cum_hazard"] - h.loc[r["gap_days"]]) < 1e-6


def test_class_tfidf_matches_python(spark):
    import math
    import re as _re
    from collections import Counter

    out = load_all()["class_tfidf_sources"].spark(spark, SF).toPandas()
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    cls: dict[str, Counter] = {}
    for _, d in docs.iterrows():
        toks = [t for t in _re.split(r"[^a-z0-9]+",
                                     _re.sub(r"\s+", " ", d.text.lower()).strip()) if t]
        cls.setdefault(d.source, Counter()).update(toks)
    corpus: Counter = Counter()
    for c in cls.values():
        corpus.update(c)
    a = sum(corpus.values()) / len(cls)
    for src, g in out.groupby("source"):
        scored = sorted(
            ((-round(tf * math.log(1 + a / corpus[t]), 6), t, tf)
             for t, tf in cls[src].items())
        )
        for row, (neg, t, tf) in zip(g.itertuples(), scored):
            assert (row.term, row.tf_class) == (t, tf)
            assert abs(row.ctfidf - (-neg)) < 1e-5


def test_wasserstein_matches_scipy_formula(spark):
    out = load_all()["wasserstein_value_dist"].spark(spark, SF).toPandas().iloc[0]
    ev = pd.read_parquet(f"{SF}/events.parquet")
    ev = ev[ev.value.notna()]
    a = np.sort(ev.loc[ev.event_type == "click", "value"].round(2).to_numpy())
    b = np.sort(ev.loc[ev.event_type == "purchase", "value"].round(2).to_numpy())
    # independent reference: CDF-gap integral over the merged support
    vs = np.unique(np.concatenate([a, b]))
    fa = np.searchsorted(a, vs, side="right") / len(a)
    fb = np.searchsorted(b, vs, side="right") / len(b)
    w1 = float(np.sum(np.abs(fa[:-1] - fb[:-1]) * np.diff(vs)))
    assert out["n_click"] == len(a) and out["n_purchase"] == len(b)
    assert abs(out["wasserstein_1"] - w1) < 1e-4


def test_spearman_matches_scipy_style(spark):
    out = load_all()["spearman_qty_price"].spark(spark, SF).toPandas().iloc[0]
    li = pd.read_parquet(f"{SF}/lineitem.parquet")
    x = li.l_quantity.round(2)
    y = li.l_extendedprice.round(2)
    rho = x.rank(method="average").corr(y.rank(method="average"))
    assert out["n"] == len(li)
    assert abs(out["spearman_rho"] - rho) < 1e-6


def test_psm_balance_matches_pandas(spark):
    out = load_all()["psm_balance_smd"].spark(spark, SF).toPandas()
    assert set(out.covariate) == {"log1p_clicks", "log1p_views"}
    # structural: SMDs finite, counts match the ATT op's totals
    att = load_all()["psm_stratified_att"].spark(spark, SF).toPandas()
    assert out["n_treated"].iloc[0] == att["n_treated"].sum()
    assert out["n_control"].iloc[0] == att["n_control"].sum()
    assert out["smd_raw"].notna().all() and out["smd_adjusted"].notna().all()


def test_fellegi_sunter_weights_separate_classes(spark):
    out = load_all()["er_fellegi_sunter"].spark(spark, SF).toPandas()
    # pattern table properties: counts partition the candidate set; weights
    # (where defined) must order match-heavy patterns above nonmatch-heavy
    assert out["n_match"].sum() > 0 and out["n_nonmatch"].sum() > 0
    w = out[out.fs_weight.notna()].copy()
    if len(w) >= 2:
        w["pm"] = w.n_match / (w.n_match + w.n_nonmatch)
        top = w.sort_values("fs_weight", ascending=False).iloc[0]
        bot = w.sort_values("fs_weight", ascending=True).iloc[0]
        assert top["pm"] >= bot["pm"]
    # all-agree pattern (if present) must be match-dominated
    full = out[(out.g_name == 1) & (out.g_bal == 1) & (out.g_seg == 1)]
    if len(full):
        r = full.iloc[0]
        assert r["p_match_empirical"] > 0.9


def test_fellegi_sunter_mu_matches_pandas(spark):
    import math

    out = load_all()["er_fellegi_sunter"].spark(spark, SF).toPandas()
    from serene_spark.operators.pair_features import _jaro

    cust = pd.read_parquet(f"{SF}/customer.parquet")
    digits = cust.c_name.str.extract(r"([0-9]+)$")[0].str.lstrip("0").replace("", "0")
    d = pd.DataFrame({
        "id": cust.c_custkey, "name": "cust " + digits,
        "bal": cust.c_acctbal.round(0), "seg": cust.c_mktsegment.str.lower(),
        "nation": cust.c_nationkey, "block": digits.astype(int) % 100,
    })
    c = pd.DataFrame({
        "id": cust.c_custkey, "name": cust.c_name.str.lower(),
        "bal": cust.c_acctbal, "seg": cust.c_mktsegment.str.lower(),
        "nation": cust.c_nationkey, "block": digits.astype(int) % 100,
    })
    pairs = d.merge(c, on=["nation", "block"], suffixes=("_d", "_c"))
    g = pd.DataFrame({
        "g_name": [int(_jaro(a, b) >= 0.85) for a, b in zip(pairs.name_d, pairs.name_c)],
        "g_bal": (abs(pairs.bal_d - pairs.bal_c) <= 1.0).astype(int),
        "g_seg": (pairs.seg_d == pairs.seg_c).astype(int),
        "m": (pairs.id_d == pairs.id_c).astype(int),
    })
    cells = g.groupby(["g_name", "g_bal", "g_seg"]).agg(
        n_match=("m", "sum"), n_non=("m", lambda s: (1 - s).sum())
    )
    assert len(out) == len(cells)
    for _, r in out.iterrows():
        e = cells.loc[(r.g_name, r.g_bal, r.g_seg)]
        assert (r["n_match"], r["n_nonmatch"]) == (e["n_match"], e["n_non"])
    # spot-check one composite weight
    n_m, n_u = g.m.sum(), (1 - g.m).sum()
    r = out[(out.g_name == 1) & (out.g_bal == 1) & (out.g_seg == 1)]
    if len(r) and pd.notna(r.iloc[0]["fs_weight"]):
        wexp = 0.0
        for k in ("g_name", "g_bal", "g_seg"):
            a_m = (g[k] * g.m).sum()
            a_u = (g[k] * (1 - g.m)).sum()
            wexp += math.log2((a_m / n_m) / (a_u / n_u))
        assert abs(r.iloc[0]["fs_weight"] - wexp) < 1e-4


def test_bh_matches_scipy_style(spark):
    from math import erfc, sqrt

    out = load_all()["multiple_testing_bh"].spark(spark, SF).toPandas()
    ev = pd.read_parquet(f"{SF}/events.parquet")
    ev = ev[ev.value.notna()].copy()
    ev["v"] = ev.value.round(2)
    types = sorted(ev.event_type.unique())
    raws = {}
    for t in types:
        a = ev.loc[ev.event_type == t, "v"]
        b = ev.loc[ev.event_type != t, "v"]
        se = np.sqrt(a.var(ddof=1) / len(a) + b.var(ddof=1) / len(b))
        z = abs(a.mean() - b.mean()) / se
        raws[t] = min(1.0, erfc(z / sqrt(2)))  # 2*SF(z)
    m = len(types)
    ordered = sorted(raws.items(), key=lambda kv: (kv[1], kv[0]))
    bh, run = {}, 1.0
    for i in range(m - 1, -1, -1):
        t, p = ordered[i]
        run = min(run, round(min(1.0, p * m / (i + 1)), 9))
        bh[t] = run
    for _, r in out.iterrows():
        # A&S polynomial is accurate to ~1.5e-7 in erf -> ~3e-7 in p
        assert abs(r["p_raw"] - raws[r["event_type"]]) < 1e-5
        assert abs(r["p_bh"] - bh[r["event_type"]]) < 1e-5
        assert r["rejected"] == int(bh[r["event_type"]] <= 0.05)


def test_gumbel_matches_numpy(spark):
    out = load_all()["evt_gumbel_return"].spark(spark, SF).toPandas().iloc[0]
    o = pd.read_parquet(f"{SF}/orders.parquet")
    dt = pd.to_datetime(o.o_orderdate)
    mi = dt.dt.year * 12 + dt.dt.month
    mx = o.assign(m=mi, v=o.o_totalprice.round(2)).groupby("m")["v"].max()
    sigma = mx.std(ddof=1) * np.sqrt(6) / np.pi
    mu = mx.mean() - 0.5772156649015329 * sigma
    assert out["n_blocks"] == len(mx)
    assert abs(out["gumbel_mu"] - mu) < 0.01
    assert abs(out["gumbel_sigma"] - sigma) < 0.01
    for t, col in ((12, "return_level_12mo"), (120, "return_level_120mo")):
        rl = mu - sigma * np.log(-np.log(1 - 1 / t))
        assert abs(out[col] - rl) < 0.02
    assert out["return_level_120mo"] > out["return_level_12mo"] > out["gumbel_mu"]


def _pm_two_months():
    li = pd.read_parquet(f"{SF}/lineitem.parquet")
    dt = pd.to_datetime(li.l_shipdate)
    li = li.assign(m=dt.dt.year * 12 + dt.dt.month,
                   v=li.l_extendedprice.round(2), q=li.l_quantity.round(2))
    m1 = li.m.max()
    a = li[li.m == m1 - 1].groupby("l_partkey").agg(v0=("v", "sum"), q0=("q", "sum"))
    b = li[li.m == m1].groupby("l_partkey").agg(v1=("v", "sum"), q1=("q", "sum"))
    return a.join(b, how="outer")


def test_revenue_bridge_identity_and_pandas(spark):
    out = load_all()["revenue_bridge_mom"].spark(spark, SF).toPandas().iloc[0]
    j = _pm_two_months()
    common = j.dropna()
    p0, p1 = common.v0 / common.q0, common.v1 / common.q1
    price = np.round((p1 - p0) * common.q0, 6).sum()
    volume = np.round(p0 * (common.q1 - common.q0), 6).sum()
    cross = np.round((p1 - p0) * (common.q1 - common.q0), 6).sum()
    new = j[j.v0.isna()].v1.sum()
    lost = j[j.v1.isna()].v0.sum()
    assert abs(out["price_effect"] - price) < 0.02
    assert abs(out["volume_effect"] - volume) < 0.02
    assert abs(out["cross_effect"] - cross) < 0.02
    assert abs(out["new_part_revenue"] - new) < 0.02
    assert abs(out["lost_part_revenue"] - lost) < 0.02
    assert abs(out["identity_residual"]) < 0.05
    assert abs(out["delta_revenue"]
               - (out["revenue_curr"] - out["revenue_prev"])) < 0.02


def test_fisher_between_laspeyres_paasche(spark):
    out = load_all()["price_index_fisher"].spark(spark, SF).toPandas().iloc[0]
    j = _pm_two_months().dropna()
    p0, p1 = j.v0 / j.q0, j.v1 / j.q1
    lasp = np.round(p1 * j.q0, 6).sum() / np.round(p0 * j.q0, 6).sum()
    paas = np.round(p1 * j.q1, 6).sum() / np.round(p0 * j.q1, 6).sum()
    assert out["n_common_parts"] == len(j)
    assert abs(out["laspeyres"] - lasp) < 1e-5
    assert abs(out["paasche"] - paas) < 1e-5
    assert abs(out["fisher"] - np.sqrt(lasp * paas)) < 1e-5
    lo, hi = sorted([out["laspeyres"], out["paasche"]])
    assert lo - 1e-9 <= out["fisher"] <= hi + 1e-9


def test_fairness_matches_quality_gate(spark):
    out = load_all()["fairness_quality_by_lang"].spark(spark, SF).toPandas()
    tq = load_all()["text_quality"].spark(spark, SF).toPandas()
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    m = docs.merge(tq[["doc_id", "quality_pass"]], on="doc_id")
    per = m.groupby("lang").agg(n=("quality_pass", "size"),
                                p=("quality_pass", lambda s: (s == 1.0).sum()))
    best = (per.p / per.n).max()
    assert len(out) == len(per)
    assert out["n_docs"].sum() == len(docs)
    for _, r in out.iterrows():
        e = per.loc[r["lang"]]
        assert (r["n_docs"], r["n_pass"]) == (e["n"], e["p"])
        ratio = (e["p"] / e["n"]) / best
        assert abs(r["impact_ratio"] - ratio) < 1e-6
        assert r["adverse_impact"] == int(ratio < 0.8)
    assert (out["impact_ratio"] <= 1 + 1e-9).all()


def test_slo_burn_matches_pandas(spark):
    out = load_all()["slo_burn_rate"].spark(spark, SF).toPandas()
    ev = pd.read_parquet(f"{SF}/events.parquet")
    sec = (pd.to_datetime(ev.ts) - pd.Timestamp(0)) // pd.Timedelta(seconds=1)
    ev = ev.assign(h=sec // 3600, e=(ev.event_type == "error").astype(int))
    hourly = ev.groupby("h").agg(n=("e", "size"), errs=("e", "sum"))
    hourly = hourly.reindex(range(hourly.index.min(), hourly.index.max() + 1),
                            fill_value=0)
    budget = round(1 - 0.93, 6)
    n_s = hourly.n.rolling(1, min_periods=1).sum()
    e_s = hourly.errs.rolling(1, min_periods=1).sum()
    n_l = hourly.n.rolling(6, min_periods=1).sum()
    e_l = hourly.errs.rolling(6, min_periods=1).sum()
    burn_s = np.where(n_s > 0, e_s / n_s / budget, 0.0)
    burn_l = np.where(n_l > 0, e_l / n_l / budget, 0.0)
    assert len(out) == len(hourly)
    got = out.set_index("epoch_hour")
    for i, h in enumerate(hourly.index):
        r = got.loc[h]
        assert r["n_events"] == hourly.n.iloc[i]
        assert abs(r["burn_rate_1h"] - burn_s[i]) < 1e-6
        assert abs(r["burn_rate_6h"] - burn_l[i]) < 1e-6
        assert r["page_alert"] == int(burn_s[i] > 2.0 and burn_l[i] > 1.5)


def test_littles_law_identity(spark):
    out = load_all()["littles_law_orders"].spark(spark, SF).toPandas().iloc[0]
    # by construction L = lambda*W exactly for the complete window
    assert abs(out["identity_gap"]) < 1e-6
    assert abs(out["l_avg_wip"] - out["lambda_per_day"] * out["w_mean_days"]) < 1e-4
    # pandas reference for W
    o = pd.read_parquet(f"{SF}/orders.parquet")
    li = pd.read_parquet(f"{SF}/lineitem.parquet")
    od = (pd.to_datetime(o.o_orderdate) - pd.Timestamp(0)).dt.days
    sd = (pd.to_datetime(li.l_shipdate) - pd.Timestamp(0)).dt.days
    iv = pd.DataFrame({"k": o.o_orderkey, "s": od}).merge(
        pd.DataFrame({"k": li.l_orderkey, "e": sd}).groupby("k").max(), on="k")
    w = (iv.e - iv.s + 1).mean()
    assert out["n_orders"] == len(iv)
    assert abs(out["w_mean_days"] - w) < 1e-4


def test_growth_accounting_conserves(spark):
    out = load_all()["growth_accounting_weekly"].spark(spark, SF).toPandas()
    assert len(out) >= 3
    assert (out["conservation_residual"].abs() < 1e-9).all()
    # pandas ledger reference
    ev = pd.read_parquet(f"{SF}/events.parquet")
    ev = ev[(ev.event_type == "purchase") & ev.value.notna()].copy()
    sec = (pd.to_datetime(ev.ts) - pd.Timestamp(0)) // pd.Timedelta(seconds=1)
    ev["w"] = sec // (86400 * 7)
    ev["v"] = ev.value.round(2)
    um = ev.groupby(["user_id", "w"])["v"].sum()
    weeks = sorted(um.index.get_level_values("w").unique())
    for wk in weeks:
        cur = um.xs(wk, level="w")
        r = out[out.week_idx == wk].iloc[0]
        assert abs(r["mrr"] - cur.sum()) < 1e-6
        prev = um.xs(wk - 1, level="w") if wk - 1 in weeks else pd.Series(dtype=float)
        # new = users whose first week is wk
        first = um.reset_index().groupby("user_id")["w"].min()
        new = cur[cur.index.isin(first[first == wk].index)].sum()
        assert abs(r["new_rev"] - new) < 1e-6
        churn = prev[~prev.index.isin(cur.index)].sum() if len(prev) else 0.0
        assert abs(r["churned_rev"] - churn) < 1e-6


def test_fe_within_matches_numpy(spark):
    out = load_all()["fe_within_discount"].spark(spark, SF).toPandas().iloc[0]
    li = pd.read_parquet(f"{SF}/lineitem.parquet")
    li["x"] = li.l_discount.round(2)
    li["y"] = (li.l_extendedprice.round(2) * (1 - li.l_discount.round(2))).round(2)
    xd = li.x - li.groupby("l_partkey").x.transform("mean")
    yd = li.y - li.groupby("l_partkey").y.transform("mean")
    beta_w = (xd * yd).sum() / (xd * xd).sum()
    beta_p = np.polyfit(li.x, li.y, 1)[0]
    r2_w = (xd * yd).sum() ** 2 / ((xd * xd).sum() * (yd * yd).sum())
    assert out["n_rows"] == len(li)
    assert out["n_entities"] == li.l_partkey.nunique()
    assert abs(out["beta_within"] - beta_w) < max(1e-3, abs(beta_w) * 1e-4)
    assert abs(out["beta_pooled"] - beta_p) < max(1e-3, abs(beta_p) * 1e-4)
    assert abs(out["r2_within"] - r2_w) < 1e-5
    assert abs(out["heterogeneity_bias"] - (beta_w - beta_p)) < 2e-3


def test_fertility_matches_python(spark):
    import re as _re

    out = load_all()["tokenizer_fertility_by_lang"].spark(spark, SF).toPandas()
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    sub_re = _re.compile(r"[A-Za-z]{1,4}|[0-9]{1,3}|[^A-Za-z0-9 \t\n\r]")
    word_re = _re.compile(r"[A-Za-z0-9]+")
    agg = {}
    for _, d in docs.iterrows():
        c, w, sw = len(d.text), len(word_re.findall(d.text)), len(sub_re.findall(d.text))
        a = agg.setdefault(d.lang, [0, 0, 0, 0])
        a[0] += 1; a[1] += c; a[2] += w; a[3] += sw
    cheapest = min(a[3] / a[1] for a in agg.values())
    for _, r in out.iterrows():
        n, c, w, sw = agg[r["lang"]]
        assert (r["n_docs"], r["n_words"], r["n_subwords"]) == (n, w, sw)
        assert abs(r["fertility"] - sw / w) < 1e-6
        assert abs(r["cost_ratio_vs_cheapest"] - (sw / c) / cheapest) < 1e-6
    assert (out["cost_ratio_vs_cheapest"] >= 1 - 1e-9).all()


def test_jaro_winkler_matches_duckdb_semantics(spark):
    import duckdb

    out = load_all()["er_jaro_winkler"].spark(spark, SF).toPandas()
    assert len(out) > 0
    assert (out["winkler_boost"] >= -1e-9).all()
    assert (out["jaro_winkler"] <= 1 + 1e-9).all()
    # the python scalar must agree with DuckDB's builtin on adversarial
    # shapes (boost threshold, h/w of prefixes, transpositions)
    from serene_spark.operators.entity_resolution import _jaro_and_jw

    con = duckdb.connect()
    for a, b in [("martha", "marhta"), ("dwayne", "duane"),
                 ("cust 123", "customer#000000123"), ("abc", "abc"),
                 ("dixon", "dicksonx"), ("a", "b"),
                 ("cust 1", "customer#000000001")]:
        got = _jaro_and_jw(a, b)[1]
        want = con.execute(
            "SELECT jaro_winkler_similarity(?, ?)", [a, b]
        ).fetchone()[0]
        assert abs(got - want) < 1e-12, (a, b, got, want)


def test_sorted_neighborhood_recall_and_reduction(spark):
    out = load_all()["er_sorted_neighborhood"].spark(spark, SF).toPandas().iloc[0]
    # window blocking must massively reduce the candidate space while
    # keeping usable recall on the name-sorted fixture
    assert out["candidate_fraction_of_all_pairs"] < 0.2
    assert out["n_candidates"] >= out["true_matches_found"] > 0
    # matched pairs are rank-adjacent under the digit sort key, so the
    # 3-probe bucket join must find EVERY one (the old OR-join missed
    # bucket-boundary pairs and read ~0.7 here)
    assert out["recall"] == 1.0


def test_newsvendor_matches_numpy(spark):
    out = load_all()["newsvendor_stock_level"].spark(spark, SF).toPandas().iloc[0]
    o = pd.read_parquet(f"{SF}/orders.parquet")
    days = (pd.to_datetime(o.o_orderdate) - pd.Timestamp(0)).dt.days
    demand = days.value_counts().sort_index()
    n = len(demand)
    frac = 3.0 / 4.0
    vals = np.sort(demand.to_numpy())
    stock = vals[int(np.ceil(frac * n)) - 1]
    under = np.maximum(vals - stock, 0).sum() / n
    over = np.maximum(stock - vals, 0).sum() / n
    assert out["n_days"] == n
    assert out["stock_level"] == stock
    assert abs(out["exp_underage_units"] - under) < 1e-6
    assert abs(out["exp_overage_units"] - over) < 1e-6
    assert abs(out["exp_daily_cost"] - (3 * under + over)) < 1e-5


def test_retention_wilson_matches_python(spark):
    import math

    out = load_all()["retention_wilson"].spark(spark, SF).toPandas()
    ev = pd.read_parquet(f"{SF}/events.parquet")
    ev = ev[ev.event_type == "purchase"]
    sec = (pd.to_datetime(ev.ts) - pd.Timestamp(0)) // pd.Timedelta(seconds=1)
    uw = pd.DataFrame({"u": ev.user_id, "w": sec // (86400 * 7)}).drop_duplicates()
    cohort = uw.groupby("u")["w"].min()
    wmax = uw.w.max()
    z = 1.959964
    for _, r in out.iterrows():
        c = r["cohort_week"]
        assert c < wmax
        users = cohort[cohort == c].index
        retained = sum(((uw.u == u) & (uw.w == c + 1)).any() for u in users)
        n = len(users)
        assert (r["n_cohort"], r["retained"]) == (n, retained)
        p = retained / n
        center = p + z * z / (2 * n)
        half = z * math.sqrt((p * (1 - p) + z * z / (4 * n)) / n)
        denom = 1 + z * z / n
        assert abs(r["wilson_lo"] - (center - half) / denom) < 1e-6
        assert abs(r["wilson_hi"] - (center + half) / denom) < 1e-6
        assert r["wilson_lo"] <= r["retention_rate"] <= r["wilson_hi"]


def test_qte_matches_numpy(spark):
    import hashlib

    out = load_all()["qte_deciles"].spark(spark, SF).toPandas()
    ev = pd.read_parquet(f"{SF}/events.parquet")
    ev = ev[ev.value.notna()].copy()
    ev["arm"] = [int(hashlib.md5(str(u).encode()).hexdigest()[:8], 16) % 2
                 for u in ev.user_id]
    ev["v"] = ev.value.round(2)
    a = np.sort(ev.loc[ev.arm == 0, "v"].to_numpy())
    b = np.sort(ev.loc[ev.arm == 1, "v"].to_numpy())
    assert len(out) == 9
    for _, r in out.iterrows():
        q = r["quantile_q"]
        qa = a[int(np.ceil(q * len(a))) - 1]
        qb = b[int(np.ceil(q * len(b))) - 1]
        assert abs(r["q_arm0"] - qa) < 1e-6
        assert abs(r["q_arm1"] - qb) < 1e-6
        assert abs(r["qte"] - (qb - qa)) < 1e-6


def test_logit_calibration_consistency(spark):
    out = load_all()["logit_calibration_bins"].spark(spark, SF).toPandas()
    # bins partition the session relation; rates within [0,1]; the global
    # Brier score is the n-weighted mean of bin contributions
    assert out["n"].sum() > 0
    assert ((out["observed_rate"] >= 0) & (out["observed_rate"] <= 1)).all()
    assert ((out["mean_predicted"] >= 0) & (out["mean_predicted"] <= 1)).all()
    brier = (out["brier_contribution"] * out["n"]).sum() / out["n"].sum()
    assert 0 <= brier <= 0.25 + 1e-9  # a fitted model beats the coin


def test_cuped_matches_numpy(spark):
    import hashlib

    out = load_all()["ab_cuped_adjusted"].spark(spark, SF).toPandas().iloc[0]
    ev = pd.read_parquet(f"{SF}/events.parquet")
    us = (pd.to_datetime(ev.ts) - pd.Timestamp(0)) // pd.Timedelta(microseconds=1)
    t0, t1 = us.min(), us.max()
    pv = ev[(ev.event_type == "purchase") & ev.value.notna()].copy()
    pv_us = (pd.to_datetime(pv.ts) - pd.Timestamp(0)) // pd.Timedelta(microseconds=1)
    pv["pre"] = np.where(pv_us - t0 < (t1 - t0) // 2, pv.value.round(2), 0.0)
    pv["post"] = np.where(pv_us - t0 >= (t1 - t0) // 2, pv.value.round(2), 0.0)
    allu = ev.user_id.unique()
    per = pv.groupby("user_id").agg(x=("pre", "sum"), y=("post", "sum"))
    per = per.reindex(allu, fill_value=0.0)
    per["arm"] = [int(hashlib.md5(str(u).encode()).hexdigest()[:8], 16) % 2
                  for u in per.index]
    th = np.cov(per.x, per.y, ddof=1)[0, 1] / per.x.var(ddof=1)
    per["a"] = per.y - th * (per.x - per.x.mean())
    g = per.groupby("arm")
    diff_raw = g.y.mean()[1] - g.y.mean()[0]
    diff_cuped = g.a.mean()[1] - g.a.mean()[0]
    assert out["n_arm0"] + out["n_arm1"] == len(per)
    assert abs(out["theta"] - th) < 1e-3
    assert abs(out["diff_raw"] - diff_raw) < 1e-3
    assert abs(out["diff_cuped"] - diff_cuped) < 1e-2
    vr = 1 - (g.a.var(ddof=1) / g.size()).sum() / (g.y.var(ddof=1) / g.size()).sum()
    assert abs(out["variance_reduction"] - vr) < 1e-2


def test_icc_matches_numpy(spark):
    out = load_all()["icc_design_effect"].spark(spark, SF).toPandas().iloc[0]
    o = pd.read_parquet(f"{SF}/orders.parquet")
    c = pd.read_parquet(f"{SF}/customer.parquet")
    df = o.merge(c, left_on="o_custkey", right_on="c_custkey")
    df["v"] = df.o_totalprice.round(2)
    k = df.c_nationkey.nunique()
    n = len(df)
    grand = df.v.mean()
    grp = df.groupby("c_nationkey")["v"]
    ssb = sum(len(g) * (g.mean() - grand) ** 2 for _, g in grp)
    ssw = sum(((g - g.mean()) ** 2).sum() for _, g in grp)
    msb, msw = ssb / (k - 1), ssw / (n - k)
    m_bar = n / k
    icc = (msb - msw) / (msb + (m_bar - 1) * msw)
    assert (out["n_clusters"], out["n_orders"]) == (k, n)
    assert abs(out["icc"] - icc) < 1e-5
    assert abs(out["design_effect"] - (1 + (m_bar - 1) * icc)) < 1e-4


def test_weighted_median_matches_numpy(spark):
    out = load_all()["weighted_median_price"].spark(spark, SF).toPandas().iloc[0]
    li = pd.read_parquet(f"{SF}/lineitem.parquet")
    p = np.round(li.l_extendedprice.round(2) / li.l_quantity.round(2), 2)
    w = li.l_quantity.round(2)
    order = np.argsort(p.to_numpy(), kind="mergesort")
    ps, ws = p.to_numpy()[order], w.to_numpy()[order]
    cw = np.cumsum(ws)
    wmed = ps[np.searchsorted(cw * 2, cw[-1], side="left")]
    n = len(ps)
    rmed = np.sort(ps)[int(np.ceil(n / 2)) - 1]
    assert out["n_rows"] == n
    assert abs(out["weighted_median_price"] - wmed) < 1e-6
    assert abs(out["row_median_price"] - rmed) < 1e-6


def test_event_study_aa_calibration(spark):
    out = load_all()["event_study_promo"].spark(spark, SF).toPandas()
    # base year coefficient is exactly zero by normalization
    base = out[out.rel_year == -1]
    assert len(base) == 1 and abs(base.iloc[0]["event_study_coef"]) < 1e-9
    # A/A corpus: every coefficient sits in a modest noise band relative to
    # the overall revenue scale (~10% of mean revenue per row)
    li = pd.read_parquet(f"{SF}/lineitem.parquet")
    scale = (li.l_extendedprice * (1 - li.l_discount)).mean()
    assert (out["event_study_coef"].abs() < 0.15 * scale).all()
    # pandas pin of one coefficient
    pt = pd.read_parquet(f"{SF}/part.parquet")
    df = li.merge(pt, left_on="l_partkey", right_on="p_partkey")
    df["rev"] = np.round(df.l_extendedprice.round(2) * (1 - df.l_discount.round(2)), 4)
    df["treated"] = (df.p_type == "PROMO").astype(int)
    df["yr"] = pd.to_datetime(df.l_shipdate).dt.year
    gaps = {}
    for yr, g in df.groupby("yr"):
        t, c = g[g.treated == 1], g[g.treated == 0]
        if len(t) and len(c):
            gaps[yr] = t.rev.mean() - c.rev.mean()
    base_gap = gaps[max(y for y in gaps if y < 1999)]
    for _, r in out.iterrows():
        if r["year"] in gaps:
            assert abs(r["event_study_coef"] - (gaps[r["year"]] - base_gap)) < 1e-3


def test_gof_exponential_matches_scipy_style(spark):
    out = load_all()["gof_exponential_gaps"].spark(spark, SF).toPandas().iloc[0]
    ev = pd.read_parquet(f"{SF}/events.parquet")
    pur = ev[ev.event_type == "purchase"].copy()
    us = (pd.to_datetime(pur.ts) - pd.Timestamp(0)) // pd.Timedelta(microseconds=1)
    pur["t"] = us
    gaps = []
    for _, g in pur.sort_values("t").groupby("user_id"):
        d = np.diff(g.t.to_numpy()) / 86400e6
        gaps.extend(d.tolist())
    gaps = np.sort(np.array(gaps))
    n = len(gaps)
    lam = 1 / np.round(gaps * 1.0, 20).mean()
    F = 1 - np.exp(-lam * gaps)
    emp_hi = np.arange(1, n + 1) / n
    emp_lo = np.arange(0, n) / n
    d = max(np.abs(emp_hi - F).max(), np.abs(emp_lo - F).max())
    assert out["n_gaps"] == n
    assert abs(out["lambda_per_day"] - lam) < 1e-4
    assert abs(out["ks_d"] - d) < 1e-4
    assert out["reject_exponential"] == int(d > 1.06 / np.sqrt(n))


def test_gof_poisson_matches_python(spark):
    import math

    out = load_all()["gof_poisson_hourly"].spark(spark, SF).toPandas().iloc[0]
    ev = pd.read_parquet(f"{SF}/events.parquet")
    pur = ev[ev.event_type == "purchase"]
    sec = (pd.to_datetime(pur.ts) - pd.Timestamp(0)) // pd.Timedelta(seconds=1)
    hours = (sec // 3600).to_numpy()
    h0, h1 = hours.min(), hours.max()
    counts = pd.Series(hours).value_counts().reindex(
        range(h0, h1 + 1), fill_value=0
    ).to_numpy()
    n = len(counts)
    lam = counts.mean()
    kmax = counts.max()
    lnk = np.cumsum([0.0] + [round(math.log(k), 9) for k in range(1, kmax + 1)])
    e = n * np.exp(-lam + np.arange(kmax + 1) * math.log(lam) - lnk)
    k_cut_cands = [k for k in range(1, kmax + 1) if e[k] < 5.0]
    k_cut = min(k_cut_cands) if k_cut_cands else kmax + 1
    obs = pd.Series(counts).value_counts()
    bins = {}
    for k in range(kmax + 1):
        b = min(k, k_cut)
        o = int(obs.get(k, 0))
        eb, ob = bins.get(b, (0.0, 0))
        bins[b] = (eb + round(e[k], 9), ob + o)
    x2 = sum(round((ob - eb) ** 2 / eb, 9) for eb, ob in bins.values())
    assert out["n_hours"] == n
    assert abs(out["lambda_hat"] - lam) < 1e-5
    assert out["n_bins"] == len(bins)
    assert abs(out["chi2"] - x2) < 1e-3


def test_periodogram_matches_numpy(spark):
    out = load_all()["periodogram_candidate_periods"].spark(spark, SF).toPandas()
    o = pd.read_parquet(f"{SF}/orders.parquet")
    days = (pd.to_datetime(o.o_orderdate) - pd.Timestamp(0)).dt.days
    daily = o.assign(d=days, v=o.o_totalprice.round(2)).groupby("d")["v"].sum()
    x = daily.to_numpy() - daily.mean()
    t = daily.index.to_numpy() - daily.index.min()
    n = len(x)
    assert len(out) == 4
    for _, r in out.iterrows():
        T = r["period_days"]
        c = np.sum(np.round(x * np.cos(2 * np.pi * t / T), 9))
        s = np.sum(np.round(x * np.sin(2 * np.pi * t / T), 9))
        pw = (c * c + s * s) / n
        assert r["n_days"] == n
        assert abs(r["power"] - pw) < max(1.0, abs(pw) * 1e-6)
    assert abs(out["power_share"].sum() - 1.0) < 1e-5


def test_hurst_matches_numpy(spark):
    out = load_all()["hurst_daily_revenue"].spark(spark, SF).toPandas()
    o = pd.read_parquet(f"{SF}/orders.parquet")
    days = (pd.to_datetime(o.o_orderdate) - pd.Timestamp(0)).dt.days
    daily = o.assign(d=days, v=o.o_totalprice.round(2)).groupby("d")["v"].sum()
    daily = daily.reindex(range(daily.index.min(), daily.index.max() + 1),
                          fill_value=0.0)
    x = daily.to_numpy(dtype=float)
    sizes = (16, 32, 64, 128)
    mean_rs = {}
    for T in sizes:
        rss = []
        for b in range(len(x) // T):
            blk = x[b * T:(b + 1) * T]
            sd = blk.std()  # population
            if sd <= 0:
                continue
            cd = np.cumsum(np.round(blk - blk.mean(), 9))
            rss.append(round((cd.max() - cd.min()) / sd, 9))
        mean_rs[T] = sum(rss) / len(rss)
    lx = np.log(np.array(sizes, dtype=float))
    ly = np.log(np.array([mean_rs[T] for T in sizes]))
    h = np.polyfit(lx, ly, 1)[0]
    assert len(out) == 4
    for _, r in out.iterrows():
        assert abs(r["mean_rescaled_range"] - mean_rs[r["block_size"]]) < 1e-3
    assert abs(out["hurst_exponent"].iloc[0] - h) < 1e-3
    assert 0 < out["hurst_exponent"].iloc[0] < 1


def test_runs_test_matches_python(spark):
    out = load_all()["runs_test_daily"].spark(spark, SF).toPandas().iloc[0]
    o = pd.read_parquet(f"{SF}/orders.parquet")
    days = (pd.to_datetime(o.o_orderdate) - pd.Timestamp(0)).dt.days
    daily = o.assign(d=days, v=o.o_totalprice.round(2)).groupby("d")["v"].sum()
    vals = np.sort(daily.to_numpy())
    med = vals[np.searchsorted(np.arange(1, len(vals) + 1) * 2, len(vals),
                               side="left")]
    s = daily[daily != med] > med
    s = s.sort_index().to_numpy()
    r = 1 + int(np.sum(s[1:] != s[:-1]))
    n1, n0, n = int(s.sum()), int((~s).sum()), len(s)
    e = 2 * n1 * n0 / n + 1
    v = (e - 1) * (e - 2) / (n - 1)
    z = (r - e + (0.5 if r < e else -0.5)) / np.sqrt(v)
    assert (out["n_days"], out["n_above"], out["n_below"], out["n_runs"]) == (n, n1, n0, r)
    assert abs(out["z_stat"] - z) < 1e-5


def test_sample_entropy_matches_numpy(spark):
    out = load_all()["sample_entropy_daily"].spark(spark, SF).toPandas().iloc[0]
    o = pd.read_parquet(f"{SF}/orders.parquet")
    days = (pd.to_datetime(o.o_orderdate) - pd.Timestamp(0)).dt.days
    daily = o.assign(d=days, v=o.o_totalprice.round(2)).groupby("d")["v"].sum()
    daily = daily.reindex(range(daily.index.min(), daily.index.max() + 1),
                          fill_value=0.0)
    x = daily.to_numpy(dtype=float)
    n = len(x)
    r = 0.2 * x.std()
    b = a = 0
    # Richman-Moorman: both A and B range over the N-m templates that
    # have an m+1 continuation (i, j <= n-3 for m=2)
    for i in range(n - 2):
        for j in range(i + 1, n - 2):
            if max(abs(x[i] - x[j]), abs(x[i + 1] - x[j + 1])) <= r:
                b += 1
                if abs(x[i + 2] - x[j + 2]) <= r:
                    a += 1
    assert out["n_days"] == n
    assert abs(out["tolerance_r"] - r) < 1e-4
    assert (out["m_matches"], out["m1_matches"]) == (b, a)
    if a and b:
        assert abs(out["sample_entropy"] - (-np.log(a / b))) < 1e-5
