"""Interval-overlap join (operators/interval_join.py): pandas pin +
the lossless-candidate plan property."""

from __future__ import annotations

import pandas as pd

from serene_spark.registry import load_all

SF = "/root/testdata/sf0.001"


def test_interval_overlap_matches_pandas(spark):
    out = load_all()["interval_overlap_promo"].spark(spark, SF).toPandas()
    o = pd.read_parquet(f"{SF}/orders.parquet")
    li = pd.read_parquet(f"{SF}/lineitem.parquet")
    od = (pd.to_datetime(o.o_orderdate) - pd.Timestamp(0)).dt.days
    sd = (pd.to_datetime(li.l_shipdate) - pd.Timestamp(0)).dt.days
    iv = (
        pd.DataFrame({"k": o.o_orderkey, "s": od, "p": o.o_totalprice.round(2)})
        .merge(
            pd.DataFrame({"k": li.l_orderkey, "e": sd}).groupby("k").max(),
            on="k",
        )
    )
    d0 = iv.s.min()
    rows = {}
    for w in range(12):
        ws, we = d0 + w * 30, d0 + w * 30 + 14
        hit = iv[(iv.s <= we) & (ws <= iv.e)]
        if len(hit):
            rows[w] = (ws, we, len(hit), round(hit.p.sum(), 2))
    assert len(out) == len(rows)
    for _, r in out.iterrows():
        ws, we, n, rev = rows[r["window_id"]]
        assert (r["win_start_day"], r["win_end_day"], r["n_orders"]) == (ws, we, n)
        assert abs(r["revenue"] - rev) < 1e-6


def test_interval_candidates_are_equi_joined(spark):
    """The chunked candidate pass must plan as a hash/sort-merge equi-join
    on chunk id — a theta/cartesian join here is exactly what the operator
    exists to avoid."""
    df = load_all()["interval_overlap_promo"].spark(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
