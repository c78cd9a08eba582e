

def test_containment_invariants_on_corpus(spark, sf_dir):
    from serene_spark.operators.dedup import CONTAIN_THRESHOLD
    from serene_spark.registry import load_all

    rows = load_all()["dedup_containment_pairs"].spark(spark, sf_dir).collect()
    for r in rows:
        c1, c2, j = r["containment_1_in_2"], r["containment_2_in_1"], r["jaccard"]
        assert 0.0 <= j <= min(c1, c2) <= 1.0
        assert max(c1, c2) >= CONTAIN_THRESHOLD


def test_containment_detects_injected_subset(spark):
    """A document quoted whole inside a 4x larger one: Jaccard is small
    (~|A|/|B|) but containment(A in B) ~ 1 — the case the operator exists
    to catch and symmetric-Jaccard dedup misses."""
    from serene_spark.operators.dedup import containment_sql
    from serene_spark.functions.sqlgen import SPARK as SP

    # moderate size skew: the Jaccard-tuned bands still surface the pair
    # (J ~ 0.44) while containment is saturated — under EXTREME skew the
    # bands miss it, the documented caveat (bottom-k sketch is that tier)
    small = " ".join(f"alpha{i} beta{i} gamma{i} delta{i}" for i in range(30))
    filler = " ".join(f"filler{i} word{i}" for i in range(80))
    docs = [
        (1, small),
        (2, small + " " + filler),
        (3, "completely different content about spark shuffles and joins"),
    ]
    spark.createDataFrame(docs, "doc_id long, text string").createOrReplaceTempView(
        "documents"
    )
    try:
        rows = {(r["doc_id_1"], r["doc_id_2"]): r
                for r in spark.sql(containment_sql(SP)).collect()}
    finally:
        spark.catalog.dropTempView("documents")
    assert (1, 2) in rows
    r = rows[(1, 2)]
    assert r["containment_1_in_2"] > 0.95   # A is (almost) fully inside B
    assert r["jaccard"] < 0.5               # but resemblance is low
    assert all(3 not in k for k in rows)    # unrelated doc stays out


def test_bottomk_catches_the_skew_pair_lsh_misses(spark):
    """The exact regime split the containment docstrings claim: under 4x
    size skew (J ~ 0.1) the Jaccard-tuned bands surface NOTHING, while the
    bottom-k probe tier finds the subset pair with containment ~1."""
    from serene_spark.functions.sqlgen import SPARK as SP
    from serene_spark.operators.dedup import containment_bottomk_sql, containment_sql

    small = "the quick brown fox jumps over the lazy dog near the river bank today"
    filler = " ".join(f"filler{i} word{i} extra{i}" for i in range(40))
    docs = [
        (1, small),
        (2, small + " " + filler),  # ~4x larger superset
        (3, "completely different content about spark shuffles and joins"),
    ]
    spark.createDataFrame(docs, "doc_id long, text string").createOrReplaceTempView(
        "documents"
    )
    try:
        lsh_pairs = {(r["doc_id_1"], r["doc_id_2"])
                     for r in spark.sql(containment_sql(SP)).collect()}
        bk = {(r["doc_id_1"], r["doc_id_2"]): r
              for r in spark.sql(containment_bottomk_sql(SP)).collect()}
    finally:
        spark.catalog.dropTempView("documents")
    assert (1, 2) not in lsh_pairs          # the LSH tier's documented hole
    assert (1, 2) in bk                     # the bottom-k tier closes it
    r = bk[(1, 2)]
    assert r["containment_exact"] > 0.95
    assert r["containment_est"] >= 0.8      # the gate that surfaced it
    assert r["jaccard"] < 0.5
    assert all(3 not in k for k in bk)


def test_bottomk_invariants_on_corpus(spark, sf_dir):
    from serene_spark.registry import load_all

    for r in load_all()["dedup_containment_bottomk"].spark(spark, sf_dir).collect():
        assert 0.0 <= r["jaccard"] <= r["containment_exact"] <= 1.0
        assert r["containment_exact"] >= 0.8
        assert 0.0 <= r["containment_est"] <= 1.0


def test_minhash_estimate_error_audit(spark, sf_dir):
    """The estimator audit's own sanity: mean |error| consistent with the
    k=16 binomial SE scale, and a solid majority of (selection-biased)
    candidates inside the 2-SE bound."""
    from serene_spark.registry import load_all

    [r] = load_all()["minhash_estimate_error"].spark(spark, sf_dir).collect()
    assert r["n_pairs"] > 100
    # binomial SE at k=16 peaks at 0.125; the mean |error| must sit at
    # that scale, not an order off (which would mean a broken estimator)
    assert 0.01 < r["mean_abs_error"] < 0.2
    assert r["max_abs_error"] < 0.6
    assert r["frac_within_2se"] > 0.7  # biased-conditional, below ~95%


def test_canonical_select_invariants(spark, sf_dir):
    """Keep-best selection: exactly one keeper per cluster, keeper rule =
    (quality_pass DESC, n_chars DESC, doc_id ASC), full corpus coverage,
    cross-checked against a pandas recomputation from the cluster labels."""
    from serene_spark.registry import load_all

    out = load_all()["dedup_canonical_select"].spark(spark, sf_dir).toPandas()
    docs = load_all()["text_quality"].spark(spark, sf_dir).toPandas()

    # every document verdicted exactly once — against the FULL corpus
    # (a zero-token doc has no text_quality row but must still appear)
    from serene_spark.catalog import load_table as _lt

    n_corpus = _lt(spark, sf_dir, "documents").count()
    assert len(out) == n_corpus
    assert out["doc_id"].is_unique

    # exactly one keeper per cluster, and it is the cluster's own member
    per = out.groupby("cluster")
    assert (per["is_keeper"].sum() == 1).all()
    for cl, g in per:
        keeper = g.loc[g["is_keeper"] == 1, "doc_id"].iloc[0]
        assert (g["keeper_doc_id"] == keeper).all()
        assert keeper in set(g["doc_id"])

    # the emitted quality_pass agrees with the registered text_quality op
    merged = out.merge(
        docs[["doc_id", "quality_pass"]], on="doc_id", suffixes=("", "_q")
    )
    assert (merged["quality_pass"] == merged["quality_pass_q"]).all()

    # independent pandas recomputation of the keeper rule
    from serene_spark.catalog import load_table

    dn = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars").toPandas()
    m2 = merged.merge(dn, on="doc_id")
    for _, g in m2.groupby("cluster"):
        g = g.sort_values(
            ["quality_pass", "n_chars", "doc_id"], ascending=[False, False, True]
        )
        assert g["keeper_doc_id"].iloc[0] == g["doc_id"].iloc[0]

    # singleton docs (no verified near-dup) keep themselves
    singles = out[out["n_in_cluster"] == 1]
    assert (singles["is_keeper"] == 1).all()
    assert (singles["keeper_doc_id"] == singles["doc_id"]).all()

    # drops happen only inside multi-member clusters, and the multi-member
    # clusters agree with the registered cluster assignment
    clusters = load_all()["dedup_clusters"].spark(spark, sf_dir).toPandas()
    multi = out[out["n_in_cluster"] > 1]
    assert set(multi["doc_id"]) <= set(clusters["doc_id"])
    lab = dict(zip(clusters["doc_id"], clusters["cluster"]))
    for _, r in multi.iterrows():
        assert lab[r["doc_id"]] == r["cluster"]


def test_exact_baselines_refuse_data_scale_input(spark):
    """The intentionally-quadratic baselines (dedup_ngram_jaccard,
    source_similarity) refuse corpora above EXACT_BASELINE_MAX_DOCS and
    point at their bucketed scale siblings — the same contract as the
    train-collect guard in ml/pipeline.py."""
    import pytest as _pytest

    from serene_spark.operators.dedup import guard_exact_baseline

    docs = spark.range(0, 101).selectExpr("id AS doc_id", "'x' AS text", "'s' AS source")
    with _pytest.raises(ValueError, match="dedup_lsh_verified"):
        guard_exact_baseline(docs, "dedup_ngram_jaccard", "dedup_lsh_verified", max_docs=100)
    # under the cap: no raise
    guard_exact_baseline(docs, "dedup_ngram_jaccard", "dedup_lsh_verified", max_docs=101)


def test_guarded_runners_still_pass_at_test_scale(spark, sf_dir):
    """The registered guarded runners are unchanged below the cap."""
    from serene_spark.registry import load_all

    qs = load_all()
    assert qs["dedup_ngram_jaccard"].spark(spark, sf_dir).count() > 0
    assert qs["source_similarity"].spark(spark, sf_dir).count() > 0


def test_hot_bucket_cap_bounds_candidates_and_keeps_connectivity(spark):
    """Constructed boilerplate-heavy corpus: 30 identical template docs
    (>10% of the corpus — every band bucket holds all 30, hot under a cap
    of 8) plus a genuine near-dup pair and distinct filler.  The cap must
    (a) bound hot-bucket candidates at G-1 star pairs instead of G(G-1)/2,
    (b) leave connected-component CLUSTERS identical to the uncapped run,
    (c) leave pairs outside the hot bucket untouched."""
    from serene_spark.functions.sqlgen import SPARK as SP
    from serene_spark.operators.dedup import minhash_lsh_sql

    template = " ".join(f"boiler{i} plate{i} navbar{i} footer{i}"
                        for i in range(40))
    near = " ".join(f"alpha{i} beta{i} gamma{i}" for i in range(40))
    docs = [(i, template) for i in range(1, 31)]
    docs.append((100, near))
    docs.append((101, near + " tail variation here"))
    docs += [(200 + i,
              f"unique document number {i} about " +
              " ".join(f"topic{i}w{j}" for j in range(30)))
             for i in range(10)]
    spark.createDataFrame(docs, "doc_id long, text string") \
        .createOrReplaceTempView("documents")

    def cc(pairs):
        parent = {}

        def find(x):
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {x: find(x) for x in parent}

    try:
        capped = [(r.doc_id_1, r.doc_id_2) for r in
                  spark.sql(minhash_lsh_sql(SP, cap=8)).collect()]
        uncapped = [(r.doc_id_1, r.doc_id_2) for r in
                    spark.sql(minhash_lsh_sql(SP, cap=10 ** 9)).collect()]
    finally:
        spark.catalog.dropTempView("documents")

    hot_ids = set(range(1, 31))
    hot_capped = [p for p in capped if p[0] in hot_ids and p[1] in hot_ids]
    hot_uncapped = [p for p in uncapped if p[0] in hot_ids and p[1] in hot_ids]
    # (a) star + chain pairs: 57 (29 hub spokes + 28 extra successor
    # links; (1,2) is in both sets) vs the full 435 quadratic set. The
    # 30 members are byte-identical, so the chain sort keys (mh0..mh3)
    # tie and the chain degenerates to doc_id order: (d, d+1).
    assert len(hot_uncapped) == 30 * 29 // 2
    star = {(1, d) for d in range(2, 31)}
    chain = {(d, d + 1) for d in range(1, 30)}
    assert sorted(hot_capped) == sorted(star | chain)
    # (b) identical clustering
    assert cc(capped) == cc(uncapped)
    # (c) pairs outside the hot bucket unchanged (the near-dup pair among
    # them — recall on true non-boilerplate pairs is untouched)
    outside = lambda ps: sorted(p for p in ps
                                if not (p[0] in hot_ids and p[1] in hot_ids))
    assert outside(capped) == outside(uncapped)
    assert (100, 101) in capped


def test_lsh_geometry_planner_model(spark, sf_dir):
    """The planner's expected-background-candidate model must be internally
    consistent: rows ordered by rows_per_band, inflection = (1/b)^(1/r),
    expectation = n(n-1)/2 * b * j_bg^r, and monotone DECREASING in r
    (each extra band row multiplies the background rate by j_bg < 1)."""
    from serene_spark.registry import load_all

    rows = load_all()["lsh_geometry_planner"].spark(spark, sf_dir).collect()
    assert [r.rows_per_band for r in rows] == [1, 2, 3, 4, 6, 8, 12, 16, 24, 48]
    assert all(r.bands * r.rows_per_band == 48 for r in rows)
    for r in rows:
        assert abs(r.inflection_j - (1.0 / r.bands) ** (1.0 / r.rows_per_band)) < 1e-6
        exp = (r.n_docs * (r.n_docs - 1) / 2
               * r.bands * r.j_bg_sample ** r.rows_per_band)
        assert abs(r.expected_bg_candidates - exp) / max(exp, 1e-9) < 1e-3 or \
            abs(r.expected_bg_candidates - exp) < 1e-2
        assert 0.0 < r.j_bg_sample < 0.35
    ecs = [r.expected_bg_candidates for r in rows]
    assert ecs == sorted(ecs, reverse=True)


# -- mixed-hot-bucket chain-recall fixture ------------------------------------
#
# The constructed corpus in which star-only hot-bucket pairing PROVABLY
# detaches a true near-dup cluster, and the chain pairing saves it:
#
#   T       — 56-word template (~440 shingles), shared by every doc
#   B docs  — ids 101..105: T + " q{i}" -> pairwise J ~ 0.996 (near-dups)
#   X docs  — ids 1..48: T + 49 unique words -> J(X, B) ~ 0.56, below the
#             strict 0.6 verify threshold (far from every hub); each X is
#             salt-crafted so its fresh shingles never beat T's minima on
#             its assigned band's three permutations — it joins B's bucket
#             there. Three X per band x 16 bands.
#
# With cap=5, EVERY bucket holding >= 2 B docs is (5B + >= 3X) = hot, and
# its hub (min doc_id) is an X — far, so all star pairs fail verify.
# Star-only therefore yields ZERO B-B pairs (replayed offline against the
# same md5 pipeline); the chain sorts the five B docs contiguously (they
# tie on mh5/mh17/mh29/mh41 and X coords are <= theirs, so X can never
# split the block) and keeps the cluster connected as exactly the 4-edge
# doc-id path. Salts found by /tmp-style offline search; deterministic
# forever (md5).

_MIX_TSALT = 1002
_MIX_XSALTS = {
    0: [5, 6, 8], 1: [0, 6, 45], 2: [0, 1, 3], 3: [1, 2, 5],
    4: [0, 1, 2], 5: [2, 15, 17], 6: [3, 11, 12], 7: [0, 2, 8],
    8: [4, 7, 12], 9: [0, 1, 2], 10: [7, 9, 14], 11: [2, 3, 9],
    12: [8, 10, 15], 13: [2, 6, 8], 14: [0, 1, 6], 15: [2, 3, 6],
}
_MIX_B_IDS = list(range(101, 106))


def _mix_words(rng, n, prefix):
    import string

    return " ".join(
        prefix + "".join(rng.choice(string.ascii_lowercase) for _ in range(6))
        for _ in range(n)
    )


def _mixed_fixture_docs():
    import random

    t = _mix_words(random.Random(f"T{_MIX_TSALT}"), 56, "t")
    docs = []
    xid = 1
    for band in range(16):
        for xsalt in _MIX_XSALTS[band]:
            rng = random.Random(f"X{band}-{xsalt}")
            docs.append((xid, t + " " + _mix_words(rng, 49, "")))
            xid += 1
    for i in _MIX_B_IDS:
        docs.append((i, t + f" q{i}"))
    return docs


def test_mixed_hot_bucket_chain_recall(spark):
    """End-to-end pin of the chain's reason to exist: a near-dup cluster
    whose every bucket is hot with a far hub survives the verified
    pipeline as exactly its chain path — where star-only pairing loses it
    entirely (dedup.py's hot-bucket cap contract, r6 verdict hole #1)."""
    from serene_spark.functions.sqlgen import SPARK as SP
    from serene_spark.operators.dedup import lsh_verified_sql, minhash_lsh_sql

    docs = _mixed_fixture_docs()
    spark.createDataFrame(docs, "doc_id long, text string") \
        .createOrReplaceTempView("documents")
    try:
        cands = [(r.doc_id_1, r.doc_id_2) for r in
                 spark.sql(minhash_lsh_sql(SP, cap=5)).collect()]
        verified = sorted(
            (r.doc_id_1, r.doc_id_2) for r in
            spark.sql(lsh_verified_sql(SP, cap=5, threshold=0.6)).collect())
    finally:
        spark.catalog.dropTempView("documents")

    bset = set(_MIX_B_IDS)
    path = [(101, 102), (102, 103), (103, 104), (104, 105)]

    # precondition: B is only reachable through far hot-bucket hubs — star
    # spokes from X hubs to every B member exist at the candidate level
    star_to_b = {(a, b) for a, b in cands if a not in bset and b in bset}
    assert {b for _, b in star_to_b} == bset
    # the ONLY B-B candidates are the chain's successor links: no bucket
    # anywhere gave the cluster a quadratic self-join (that would mean an
    # uncapped pure-B bucket and the fixture would not pin the chain)
    assert sorted((a, b) for a, b in cands
                  if a in bset and b in bset) == path
    # the verified output is EXACTLY the chain path: the cluster stays
    # connected, every far pair (hub spokes, X-X) is filtered
    assert verified == path


def test_mixed_hot_bucket_fixture_duckdb_parity(duck):
    """The same fixture through the DuckDB dialect of the same SQL —
    dialect-shared candidate generation cannot desync on the one corpus
    where the cap policy's hard case is exercised."""
    import pandas as pd

    from serene_spark.functions.sqlgen import DUCKDB
    from serene_spark.operators.dedup import lsh_verified_sql

    fixture = pd.DataFrame(_mixed_fixture_docs(), columns=["doc_id", "text"])
    con = duck.cursor()
    con.register("documents", fixture)
    rows = con.execute(lsh_verified_sql(DUCKDB, cap=5, threshold=0.6)).fetchall()
    assert sorted((r[0], r[1]) for r in rows) == [
        (101, 102), (102, 103), (103, 104), (104, 105)]


def test_plan_band_size_short_circuits_small_corpora(spark, sf_dir, monkeypatch):
    """Below PLANNER_MIN_DOCS the default runners must NOT pay the
    planner probe: plan_band_size answers with the default geometry after
    one COUNT, never compiling the planner query (r7 advice: the probe
    was ~3 s of a 6.6 s bench run at 5k docs)."""
    import serene_spark.operators.dedup as D

    def boom(*a, **k):
        raise AssertionError("planner probe ran on a small corpus")

    monkeypatch.setattr(D, "lsh_geometry_planner_sql", boom)
    D._PLANNED_BAND_SIZE.clear()
    try:
        assert D.plan_band_size(spark, sf_dir) == D.BAND_SIZE
        # and the choice is cached — a second call does no Spark work at all
        assert D.plan_band_size(spark, sf_dir) == D.BAND_SIZE
    finally:
        D._PLANNED_BAND_SIZE.clear()
