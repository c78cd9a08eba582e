"""Document deduplication operators (scale extension; BASELINE.json north star).

The reference has no dedup surface; these are the training-data-pipeline
operators mandated for the rebuild, designed Spark-first:

- exact dedup        — hash-groupBy, one shuffle;
- n-gram Jaccard     — shingle -> self-join on shingle -> count ratio (the
                       exact quadratic baseline; LSH below is the scale path);
- MinHash + LSH      — shingle -> 48 min-hashes -> 16x3 band buckets -> bucket join,
                       so candidate generation never goes quadratic;
- SimHash            — per-token hash bit-voting -> 64-bit signature held as
                       4 x 16-bit words -> pigeonhole equi-join per word ->
                       hamming-distance pairs.

Portability: all hashing is built on ``md5`` strings (identical on both
engines); a min over md5 strings is a uniform-permutation proxy, which makes
the MinHash signature itself oracle-checkable — no engine-specific hash().

Scale notes (100 TB): every stage is a narrow projection or a keyed
aggregation/join; the shingle self-join of the exact variant is the only
quadratic-risk op (kept for small corpora / verification, and gated by
``guard_exact_baseline``; LSH is the production path). Band buckets with
huge collision groups (boilerplate templates — the adversarial input md5
uniformity can't smooth) are CAPPED: buckets over ``LSH_BUCKET_CAP`` switch
to star pairing against the bucket hub, bounding per-bucket work at
Theta(G) while preserving cluster connectivity; ``dedup_lsh_hot_buckets``
reports every capped bucket.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession

from serene_spark.catalog import register_views, sql_runner
from serene_spark.functions.sqlgen import (
    DUCKDB,
    SPARK,
    arr_collect,
    arr_intersect_size,
    bxor,
    explode_seq,
    hex_to_int,
    mat,
    rr,
    split_re,
)
from serene_spark.registry import register
from serene_spark.materialize import materialize

SHINGLE_K = 8          # char-shingle width
N_MINHASH = 16         # minhash permutations

# Candidate-stage target Jaccard: the banded-LSH S-curve inflection aims
# here. BAND_SIZE (rows per band) flows from lsh_band_geometry below, NOT a
# hardcoded row count — raising the target at a bigger corpus automatically
# widens bands (fewer, more selective candidates). 0.35 keeps the synthetic
# corpus surfacing the same candidates as the historical 8x2 geometry while
# sitting above the 0.2 exact-verify floor of the production pipeline.
LSH_TARGET_JACCARD = 0.35


def lsh_band_geometry(threshold: float, n_minhash: int = N_MINHASH) -> tuple[int, int]:
    """Scale-aware (bands, rows_per_band) for a target Jaccard threshold.

    The S-curve inflection of banded LSH sits at ``(1/b)^(1/r)``; pick the
    divisor geometry of ``n_minhash`` whose inflection is closest to the
    requested threshold. Higher thresholds -> wider bands (more rows per
    band) -> fewer, more selective candidates — the knob that keeps bucket
    sizes sane when the corpus grows 100x.

    >>> lsh_band_geometry(0.35)   # permissive: many narrow bands
    (8, 2)
    >>> lsh_band_geometry(0.9)    # strict: few wide bands
    (2, 8)
    """
    best, best_err = (n_minhash, 1), float("inf")
    r = 1
    while r <= n_minhash:
        if n_minhash % r == 0:
            b = n_minhash // r
            err = abs((1.0 / b) ** (1.0 / r) - threshold)
            if err < best_err:
                best, best_err = (b, r), err
        r += 1
    return best


# Permutation count for the LSH PIPELINE (the standalone signature query
# stays at N_MINHASH=16 — its output schema is an oracle contract).  48
# permutations buy rows-per-band r=3 at the same 0.35 target: a background
# pair's band-collision probability falls from J_bg^2 to J_bg^3, which on a
# self-similar corpus (measured J_bg ~ 0.04 on the synthetic 31-word-vocab
# documents) cuts spurious candidates ~15x (measured 191k -> ~13k at sf0.1)
# while the S-curve inflection stays at (1/16)^(1/3) = 0.397.  Candidate
# volume is THE n^2 term of the whole pipeline — selectivity here is worth
# 3x the signature compute.
N_LSH = 48

# (bands, rows per band) derived from the target threshold (16 bands x 3
# rows for the 0.35 target at 48 permutations) — the registered queries
# inherit this, so retuning the target rewrites every band list
# consistently on both engines.
LSH_BANDS, BAND_SIZE = lsh_band_geometry(LSH_TARGET_JACCARD, N_LSH)


_WS_PAT = "[ \t\n\r]+"


def norm_expr(dialect: str, col: str = "text") -> str:
    """lowercase, collapse whitespace, trim."""
    collapsed = rr(dialect, f"lower({col})", _WS_PAT, " ")
    return f"trim({collapsed})"


def shingles_rel(dialect: str) -> str:
    """Distinct char-K-shingles per document."""
    n = norm_expr(dialect)
    return f"""
norm AS (
  SELECT doc_id, {n} AS norm FROM documents
),
pos AS (
  SELECT doc_id, norm, {explode_seq(dialect, 1, f'greatest(1, length(norm) - {SHINGLE_K} + 1)')} AS i
  FROM norm
),
shingles AS (
  SELECT DISTINCT doc_id, substr(norm, i, {SHINGLE_K}) AS sh FROM pos
)"""


def dedup_exact_sql(dialect: str) -> str:
    return f"""
WITH hashed AS (
  SELECT doc_id, md5({norm_expr(dialect)}) AS text_hash FROM documents
)
SELECT text_hash,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(doc_id) AS BIGINT) AS keeper_doc_id
FROM hashed GROUP BY text_hash
"""


def ngram_jaccard_sql(dialect: str, threshold: float = 0.2) -> str:
    return f"""
WITH {shingles_rel(dialect)},
counts AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM shingles GROUP BY doc_id
),
common AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(COUNT(*) AS BIGINT) AS c
  FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT common.d1 AS doc_id_1, common.d2 AS doc_id_2,
       round(CAST(c AS DOUBLE) / (n1.n_sh + n2.n_sh - c), 6) AS jaccard
FROM common
JOIN counts n1 ON common.d1 = n1.doc_id
JOIN counts n2 ON common.d2 = n2.doc_id
WHERE CAST(c AS DOUBLE) / (n1.n_sh + n2.n_sh - c) >= {threshold}
"""


# Prime > 2^32 for the double-hashing permutation family h_i = (h1 + i*h2) % P
# (Broder-style minhash with two base hashes; no per-permutation md5).
MH_PRIME = 4294967311


def minhash_rel(dialect: str, n: int = N_MINHASH) -> str:
    """``n`` min-hashes per doc as ONE wide aggregation.

    One md5 per shingle, split into two 32-bit ints (h1, h2); permutation i
    is (h1 + i*h2) % P — so the whole signature is a single
    ``groupBy(doc_id)`` with ``n`` MIN aggregates. No n-x row blowup, no
    per-permutation hashing; partial aggregation (map-side combine) applies
    to every MIN, so the shuffle carries ``n`` longs per doc, not per
    shingle.
    """
    h1 = hex_to_int(dialect, "substr(md5(sh), 1, 8)")
    h2 = hex_to_int(dialect, "substr(md5(sh), 9, 8)")
    mins = ",\n         ".join(
        f"MIN((h1 + {i} * h2) % {MH_PRIME}) AS mh{i}" for i in range(n)
    )
    return f"""
{shingles_rel(dialect)},
hashes AS (
  SELECT doc_id, {h1} AS h1, {h2} AS h2 FROM shingles
),
mh AS (
  SELECT doc_id,
         {mins}
  FROM hashes GROUP BY doc_id
)"""


def minhash_signatures_sql(dialect: str) -> str:
    cols = ", ".join(f"CAST(mh{i} AS BIGINT) AS mh{i}" for i in range(N_MINHASH))
    return f"WITH {minhash_rel(dialect)} SELECT doc_id, {cols} FROM mh"


# Hot-bucket cap: a (band, sig) bucket holding G docs normally yields
# Theta(G^2) candidate pairs in the bucket self-join. On a real crawl,
# boilerplate templates create buckets with millions of members — the one
# adversarial input md5 uniformity can't smooth. Buckets over the cap
# switch to STAR + CHAIN pairing, both Theta(G) per hot bucket:
#   star  — every member pairs with the bucket's min-doc_id hub, so at
#           the CANDIDATE level every member stays reachable;
#   chain — members are sorted by four stride-12 minhash coordinates
#           (mh5/mh17/mh29/mh41 — chosen OUTSIDE the bucket's own band
#           at every geometry up to band_size 12, see bands_cand_tail;
#           similar docs agree on most signature values, so each
#           near-dup sub-cluster sorts CONTIGUOUS) and each member pairs
#           with its sort successor. This closes the star-only recall
#           hole in the VERIFIED pipelines: a mixed hot bucket whose
#           members are near each other but far from the hub used to
#           lose its sub-clusters (hub edges fail the exact-Jaccard
#           verify); the chain edges inside a sorted sub-cluster verify
#           and keep it connected
#           (tests/test_dedup.py::test_mixed_hot_bucket_chain_recall
#           pins this on a constructed mixed-hot-bucket fixture).
# Residual limit: a sub-cluster member whose four sort-coordinate
# minhashes all deviate from its peers can still sort away from them —
# probability ~(1-J)^4 per member at within-cluster Jaccard J, i.e. rare
# for the template near-dups that create hot buckets.
# dedup_lsh_hot_buckets reports every capped bucket so the trade is
# observable, never silent.
LSH_BUCKET_CAP = 1000

# Per-doc background-candidate budget the AUTO-tuned default geometry
# tolerates: the planner's analytic model (validated against measured
# sf1/sf3 candidate counts, BASELINE.md) predicts expected background
# candidates per geometry; the default runners take the NARROWEST bands
# (highest recall) whose prediction stays under budget × n_docs — which
# by construction keeps default-path candidate volume O(n) at any corpus
# size, closing the former fixed-geometry ~n²·J_bg³ blowup on
# self-similar corpora.
CANDIDATE_BUDGET_PER_DOC = 16.0

# Corpus size below which plan_band_size skips the planner probe and
# returns the default geometry. Rationale (why skipping is SAFE, not just
# fast): the probe costs a narrow full-corpus doc_id scan plus a fixed
# ~seconds of query overhead; below this many docs, the worst the default
# geometry can over-generate is n(n-1)/2 * bands * J_bg^3 candidates —
# even at a pathological J_bg = 0.1 that is ~4e7 pairs at the threshold,
# comparable to the probe's own cost — and the hot-bucket cap
# independently bounds the blowup at ~bands*cap/2 pairs per doc. Planning
# cannot pay for itself below the line; above it the n^2 term dominates
# and the probe is budget-dust. (The probe was measured at ~3 s of a
# 6.6 s dedup_minhash_lsh run on the 5k-doc sf0.1 bench corpus — pure
# overhead at that scale.)
PLANNER_MIN_DOCS = 50_000

_LOG = logging.getLogger("serene_spark.dedup")


def bands_rel(dialect: str, mh_rel: str = "mh", band_size: int = BAND_SIZE) -> str:
    """The per-band signature relation: one row per (doc, band)."""
    n_bands = N_LSH // band_size
    return " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, md5("
        + " || '|' || ".join(
            f"CAST(mh{b * band_size + j} AS STRING)" for j in range(band_size)
        )
        + f") AS sig FROM {mh_rel}"
        for b in range(n_bands)
    )


def bands_rel_exploded(mh_rel: str, band_size: int = BAND_SIZE) -> str:
    """Spark-only physical form of ``bands_rel``: ONE scan of the
    signature relation + posexplode over the per-band md5 array, instead
    of an n_bands-branch UNION that re-reads ``mh_rel`` once per band.

    Identical values (same md5 inputs, posexplode's 0-based position IS
    the band id), different physical plan: at 16 bands the UNION form
    deserializes the materialized signature relation 16 times and
    compiles 16 codegen branches — measured ~0.6 s of plan+scan overhead
    at sf0.1 and a 16x relation re-read at sf10. The dialect-shared
    ``bands_rel`` stays the semantic definition (the DuckDB oracles
    compile it); parity pins the two forms against each other."""
    n_bands = N_LSH // band_size
    sigs = ", ".join(
        "md5("
        + " || '|' || ".join(
            f"CAST(mh{b * band_size + j} AS STRING)" for j in range(band_size)
        )
        + ")"
        for b in range(n_bands)
    )
    return (f"SELECT doc_id, posexplode(array({sigs})) AS (band, sig) "
            f"FROM {mh_rel}")


def bands_cand_body(
    dialect: str,
    mh_rel: str = "mh",
    band_size: int = BAND_SIZE,
    cap: int = LSH_BUCKET_CAP,
    bands_src: str | None = None,
) -> str:
    """bands → bucket sizes → capped candidate pairs (shared by every LSH
    tail so candidate generation can never desync between them).

    The cap lives on the PROBE side of the join: hot buckets (size > cap)
    contribute only their hub row to ``bleft``, so the join enumerates
    Theta(G) rows for a hot bucket instead of Theta(G^2) — the filter is
    applied before the join, not after it.

    ``bands_src``: the Spark runners pre-materialize the bands relation
    (a one-branch-per-band UNION that the tail references three times —
    Spark inlines CTEs, so without materialization the statement compiles
    3x that many union branches; measured ~5s of pure plan compile/codegen
    at sf0.1) and pass its view name here."""
    if bands_src is None:
        return (f"\nbands AS ({bands_rel(dialect, mh_rel, band_size)}),"
                + bands_cand_tail(dialect, "bands", cap, sig_rel=mh_rel))
    return "\n" + bands_cand_tail(dialect, bands_src, cap,
                                  sig_rel=mh_rel).lstrip("\n")


def bands_cand_tail(dialect: str, bands_src: str = "bands",
                    cap: int = LSH_BUCKET_CAP, sig_rel: str = "mh") -> str:
    """bucket sizes → capped probe side → candidate pairs, over an
    existing bands relation (see bands_cand_body).

    Hot buckets (g > cap) emit star pairs (hub × members, via ``bleft``)
    PLUS chain pairs: members sorted by (mh5, mh17, mh29, mh41, doc_id) —
    similar docs agree on most minhash coordinates, so each near-dup
    sub-cluster sorts contiguous — and each member pairs with its sort
    successor.  Both are Theta(G) per hot bucket; the chain keeps
    sub-clusters connected in the verified pipelines even when their
    members are far from the hub (the star-only recall hole; pinned
    end-to-end by tests/test_dedup.py::test_mixed_hot_bucket_chain_recall
    on a constructed mixed-hot-bucket fixture).

    The sort coordinates are stride-12 (5, 17, 29, 41) rather than
    mh0..mh3 so that within any single band's bucket — where that band's
    own coordinates are constant by construction — the keys stay
    informative: at band_size 3/4/6/8/12 each key falls in a DIFFERENT
    band, so every bucket keeps all four effective coordinates; at 16/24
    two keys can share the bucket's band (3/2 effective), and only the
    degenerate one-band 48 geometry falls back to doc_id order.
    ``sig_rel`` supplies the minhash sort keys (any relation with doc_id
    + mh5..mh41; the window runs over hot-bucket members only, so its
    sort is bucket-local, never corpus-wide).

    The Spark dialect emits chain pairs with ``LEAD`` over the same sort
    window instead of the rn/rn+1 self-join: each member's successor in
    the bucket-local total order IS its rn+1 partner, so the pairs are
    identical by construction while the physical plan drops the hotm
    double-inline (Catalyst inlines a twice-referenced CTE twice — two
    window chains), the SortMergeJoin and its two (band, sig, rn)
    exchanges (guide §2.4; plans/r13/dedup_minhash_lsh_{{before,after}}.txt).
    The DuckDB text below stays byte-identical — it is the oracle."""
    if dialect != DUCKDB:
        return f"""
bsz AS (
  SELECT band, sig, COUNT(*) AS g, MIN(doc_id) AS hub
  FROM {bands_src} GROUP BY band, sig
),
bleft AS (
  SELECT a.doc_id, a.band, a.sig
  FROM {bands_src} a JOIN bsz z ON a.band = z.band AND a.sig = z.sig
  WHERE z.g <= {cap} OR a.doc_id = z.hub
),
hotc AS (
  SELECT LEAST(doc_id, nxt) AS d1, GREATEST(doc_id, nxt) AS d2
  FROM (
    SELECT a.doc_id,
           LEAD(a.doc_id) OVER (
             PARTITION BY a.band, a.sig
             ORDER BY m.mh5, m.mh17, m.mh29, m.mh41, a.doc_id) AS nxt
    FROM {bands_src} a
    JOIN bsz z ON a.band = z.band AND a.sig = z.sig AND z.g > {cap}
    JOIN {sig_rel} m ON m.doc_id = a.doc_id
  ) h WHERE nxt IS NOT NULL
),
cand AS (
  SELECT DISTINCT d1, d2 FROM (
    SELECT a.doc_id AS d1, b.doc_id AS d2
    FROM bleft a JOIN {bands_src} b
      ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    UNION ALL
    SELECT d1, d2 FROM hotc
  ) u
)"""
    return f"""
bsz AS (
  SELECT band, sig, COUNT(*) AS g, MIN(doc_id) AS hub
  FROM {bands_src} GROUP BY band, sig
),
bleft AS (
  SELECT a.doc_id, a.band, a.sig
  FROM {bands_src} a JOIN bsz z ON a.band = z.band AND a.sig = z.sig
  WHERE z.g <= {cap} OR a.doc_id = z.hub
),
hotm AS (
  SELECT a.doc_id, a.band, a.sig,
         ROW_NUMBER() OVER (
           PARTITION BY a.band, a.sig
           ORDER BY m.mh5, m.mh17, m.mh29, m.mh41, a.doc_id) AS rn
  FROM {bands_src} a
  JOIN bsz z ON a.band = z.band AND a.sig = z.sig AND z.g > {cap}
  JOIN {sig_rel} m ON m.doc_id = a.doc_id
),
cand AS (
  SELECT DISTINCT d1, d2 FROM (
    SELECT a.doc_id AS d1, b.doc_id AS d2
    FROM bleft a JOIN {bands_src} b
      ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    UNION ALL
    SELECT LEAST(h1.doc_id, h2.doc_id) AS d1,
           GREATEST(h1.doc_id, h2.doc_id) AS d2
    FROM hotm h1 JOIN hotm h2
      ON h1.band = h2.band AND h1.sig = h2.sig AND h2.rn = h1.rn + 1
  ) u
)"""


def lsh_body(
    dialect: str,
    mh_rel: str = "mh",
    band_size: int = BAND_SIZE,
    cap: int = LSH_BUCKET_CAP,
    bands_src: str | None = None,
) -> str:
    """The banded-LSH tail (bands → candidates → estimated Jaccard) over an
    existing minhash relation ``mh_rel`` — shared by the one-statement oracle
    and the materialized Spark runner. ``band_size`` (rows per band) is the
    selectivity knob — derive it from a target threshold with
    ``lsh_band_geometry`` instead of hardcoding when corpus size changes."""
    n_match = " + ".join(
        f"CASE WHEN m1.mh{i} = m2.mh{i} THEN 1 ELSE 0 END" for i in range(N_LSH)
    )
    return f"""{bands_cand_body(dialect, mh_rel, band_size, cap, bands_src)}
SELECT cand.d1 AS doc_id_1, cand.d2 AS doc_id_2,
       round(CAST(({n_match}) AS DOUBLE) / {N_LSH}, 6) AS est_jaccard
FROM cand
JOIN {mh_rel} m1 ON m1.doc_id = cand.d1
JOIN {mh_rel} m2 ON m2.doc_id = cand.d2
"""


def minhash_lsh_sql(dialect: str, band_size: int = BAND_SIZE,
                    cap: int = LSH_BUCKET_CAP) -> str:
    return f"WITH {minhash_rel(dialect, N_LSH)},\n{lsh_body(dialect, 'mh', band_size, cap)}"


def _materialized_mh(spark: SparkSession, sf_dir: str):
    """Compute the minhash signatures ONCE and truncate lineage — the LSH
    tail references the relation ~10 times (8 bands + 2 est-Jaccard joins)
    and Spark inlines CTEs, so without materialization the whole
    shingle→minhash pipeline re-runs per reference (plan audit pins this).
    localCheckpoint at test scale; on a cluster checkpoint to reliable
    storage or write an intermediate table."""
    from serene_spark.catalog import register_views

    register_views(spark, sf_dir, ("documents",), spread=True)
    mh = spark.sql(f"WITH {minhash_rel(SPARK, N_LSH)} SELECT * FROM mh").transform(materialize)
    mh.createOrReplaceTempView("__serene_mh")
    return "__serene_mh"


def dedup_minhash_lsh_spark(spark: SparkSession, sf_dir: str,
                            band_size: int | None = None) -> DataFrame:
    """Default LSH runner — planner-tuned: when ``band_size`` is not
    pinned by the caller, ``plan_band_size`` measures the corpus
    background Jaccard and picks the narrowest geometry (>= the
    LSH_TARGET_JACCARD-target default) whose expected background
    candidate volume fits CANDIDATE_BUDGET_PER_DOC × n_docs — so the
    registered default stays ~linear in candidates on self-similar
    corpora instead of the fixed geometry's ~n²·J_bg³ blowup."""
    if band_size is None:
        band_size = plan_band_size(spark, sf_dir)
    mh_rel = _materialized_mh(spark, sf_dir)
    bands = spark.sql(bands_rel_exploded(mh_rel, band_size)).transform(materialize)
    bands.createOrReplaceTempView("__serene_mh_bands")
    return spark.sql(
        f"WITH {lsh_body(SPARK, mh_rel, band_size, bands_src='__serene_mh_bands')}"
    )


def docsketch_rel(dialect: str, n: int = N_LSH) -> str:
    """ONE per-doc sketch relation carrying everything verification needs:
    the shingle-set ARRAY (exact verify input), its cardinality, and the
    ``n``-permutation minhash signature — all from a single groupBy over
    the exploded shingles.

    This replaces materializing the exploded shingle relation (doc-length
    rows) AND a separate signature relation: the sketch is one row per doc
    (~2 KB), so the Spark runners checkpoint 5k rows instead of 1.35M at
    sf0.1, and every downstream join (bands, est, exact intersect) reads
    the same relation with column pruning doing the slimming."""
    h1 = hex_to_int(dialect, "substr(md5(sh), 1, 8)")
    h2 = hex_to_int(dialect, "substr(md5(sh), 9, 8)")
    # the array carries the 60-bit md5 prefix, not the shingle string:
    # set sizes and intersections are identical (both engines hash the
    # same md5; distinct shingles stay distinct up to a 2^-60-scale
    # collision BOTH engines would share), and BIGINT intersection beats
    # UTF8 string hashing ~3x in the per-pair verify
    h64 = hex_to_int(dialect, "substr(md5(sh), 1, 15)")
    mins = ",\n         ".join(
        f"MIN((h1 + {i} * h2) % {MH_PRIME}) AS mh{i}" for i in range(n)
    )
    return f"""{shingles_rel(dialect)},
sketch_hashes AS (
  SELECT doc_id, {h64} AS sh64, {h1} AS h1, {h2} AS h2 FROM shingles
),
docsk AS (
  SELECT doc_id,
         {arr_collect(dialect, "sh64")} AS shs,
         CAST(COUNT(*) AS BIGINT) AS n_sh,
         {mins}
  FROM sketch_hashes GROUP BY doc_id
)"""


def candidate_common_body(
    dialect: str,
    docsk_rel: str = "docsk",
    band_size: int = BAND_SIZE,
    cap: int = LSH_BUCKET_CAP,
    mh_rel: str | None = None,
    bands_src: str | None = None,
) -> str:
    """Shared LSH candidate machinery over a doc-sketch relation: bands →
    capped candidate pairs → exact common-shingle counts via array
    intersection.  Both verification tails (resemblance/Jaccard and
    containment) splice this, so the candidate generation cannot desync
    between them.

    Why array intersection and not a shingle-level join: the per-pair
    shape ``cand ⋈ shingles ⋈ shingles`` materializes |cand| × shingles-
    per-doc intermediate rows (measured 51M rows / 25s at sf0.1's 191k
    candidates) — verify cost scales with candidates × doc LENGTH.  The
    set-intersection shape joins cand to the per-doc sketch relation
    twice (|cand| output rows, AQE broadcasts the sketch when it fits)
    and computes |S(A) ∩ S(B)| engine-side per pair — same exact counts,
    no data-scale intermediate, no shuffle of exploded shingles.  At
    100 TB the sketch relation is one row per doc (~2 KB) —
    shuffle-joinable on doc_id when too big to broadcast."""
    return f"""{bands_cand_body(dialect, mh_rel or docsk_rel, band_size, cap, bands_src)},
counts AS (
  SELECT doc_id, shs, n_sh FROM {docsk_rel}
),
common AS (
  SELECT c.d1, c.d2,
         CAST({arr_intersect_size(dialect, "a1.shs", "a2.shs")} AS BIGINT)
           AS n_common
  FROM cand c
  JOIN counts a1 ON a1.doc_id = c.d1
  JOIN counts a2 ON a2.doc_id = c.d2
)"""


def verified_body(
    dialect: str,
    docsk_rel: str = "docsk",
    band_size: int = BAND_SIZE,
    threshold: float = 0.2,
    mh_rel: str | None = None,
    bands_src: str | None = None,
    cap: int = LSH_BUCKET_CAP,
) -> str:
    """The verify tail (bands → candidates → exact shingle-Jaccard) over
    an existing doc-sketch relation (see ``docsketch_rel``).  ``mh_rel``
    optionally points the band generation at a THIN signature-only
    relation: checkpointed-RDD scans cannot column-prune, so on the Spark
    side the 16-band UNION would otherwise deserialize the shingle arrays
    16 times over (measured 5s of the tail at sf0.1)."""
    return f"""{candidate_common_body(dialect, docsk_rel, band_size, cap,
                                      mh_rel=mh_rel, bands_src=bands_src)}
SELECT m.d1 AS doc_id_1, m.d2 AS doc_id_2,
       round(CAST(m.n_common AS DOUBLE) / (n1.n_sh + n2.n_sh - m.n_common), 6) AS jaccard
FROM common m
JOIN counts n1 ON m.d1 = n1.doc_id
JOIN counts n2 ON m.d2 = n2.doc_id
WHERE CAST(m.n_common AS DOUBLE) / (n1.n_sh + n2.n_sh - m.n_common) >= {threshold}
"""


def lsh_verified_sql(dialect: str, band_size: int = BAND_SIZE, threshold: float = 0.2,
                     cap: int = LSH_BUCKET_CAP) -> str:
    """The COMPLETE production dedup pipeline: banded-LSH candidate pairs
    followed by EXACT shingle-Jaccard verification of only those candidates.

    This is the shape that replaces the quadratic ``dedup_ngram_jaccard``
    baseline at scale: the all-pairs exact join never happens — the verify
    join is bounded by the candidate count (LSH recall controls what can be
    missed; ``lsh_band_geometry`` picks (bands, rows) for a target
    threshold). Candidates sharing no shingle fall out of the intersection
    join, which is correct: their true Jaccard is 0.
    """
    return f"WITH {docsketch_rel(dialect)},{verified_body(dialect, 'docsk', band_size, threshold, cap=cap)}"


def _materialized_docsk(spark: SparkSession, sf_dir: str,
                        view: str,
                        band_size: int = BAND_SIZE) -> tuple[str, str, str]:
    """Compute the per-doc sketch ONCE and truncate lineage — the LSH
    tails reference it many times (bands + candidate joins + verify) and
    Spark inlines CTEs, so without materialization the whole
    shingle→sketch pipeline re-runs per reference (plan audit pins this).
    One row per doc: localCheckpoint cost is sketch-sized, never
    doc-length-sized. On a cluster, checkpoint to reliable storage or
    write an intermediate table instead.

    Returns (full_view, thin_view, bands_view): full carries the shingle
    arrays for the exact verify joins; thin is a signature-only
    RE-checkpoint of the full one (derived, so the shingle pipeline still
    runs once) because checkpointed-RDD scans deserialize whole rows and
    the band UNION must not read rows that carry 2 KB arrays; bands is
    the materialized per-(doc, band) signature relation the candidate
    tail references three times."""
    from pyspark.sql import functions as F

    from serene_spark.catalog import register_views

    register_views(spark, sf_dir, ("documents",), spread=True)
    sk = spark.sql(
        f"WITH {docsketch_rel(SPARK)} SELECT * FROM docsk"
    ).transform(materialize)
    sk.createOrReplaceTempView(view)
    thin = sk.select(
        "doc_id", *[F.col(f"mh{i}") for i in range(N_LSH)]
    ).transform(materialize)
    thin_view = f"{view}_thin"
    thin.createOrReplaceTempView(thin_view)
    # bands materialized too: the per-band UNION is referenced three
    # times by the candidate tail, and compiling 3x its branches is pure
    # plan overhead (measured ~5s at sf0.1)
    bands = spark.sql(
        bands_rel_exploded(thin_view, band_size)
    ).transform(materialize)
    bands_view = f"{view}_bands"
    bands.createOrReplaceTempView(bands_view)
    return view, thin_view, bands_view


def dedup_lsh_verified_spark(spark: SparkSession, sf_dir: str,
                             band_size: int | None = None) -> DataFrame:
    """Materialized runner: the doc sketch computed once, tails over it.
    Band geometry is planner-tuned unless pinned (see
    dedup_minhash_lsh_spark); the exact-Jaccard verify threshold is
    unchanged by tuning — wider bands only trade away recall between the
    verify floor and the raised S-curve inflection."""
    if band_size is None:
        band_size = plan_band_size(spark, sf_dir)
    rel, thin, bands = _materialized_docsk(spark, sf_dir, "__serene_vdocsk",
                                           band_size=band_size)
    return spark.sql(
        f"WITH {verified_body(SPARK, rel, band_size, mh_rel=thin, bands_src=bands)}")


# The scale knob, DEMONSTRATED as a first-class query rather than a
# docstring claim: at a 0.7 candidate target the geometry widens to
# 8 bands x 6 rows, so a background pair (J_bg ~ 0.04 on this corpus)
# collides per band at J_bg^6 ~ 4e-9 — candidate volume stays ~linear in
# n at ANY corpus size, trading away recall below ~0.5 Jaccard (the
# S-curve inflection moves to (1/8)^(1/6) = 0.707). This is the variant a
# 100 TB boilerplate-heavy crawl runs first.
STRICT_TARGET_JACCARD = 0.7
STRICT_VERIFY_THRESHOLD = 0.5
_, STRICT_BAND_SIZE = lsh_band_geometry(STRICT_TARGET_JACCARD, N_LSH)


def dedup_lsh_verified_strict_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    rel, thin, bands = _materialized_docsk(
        spark, sf_dir, "__serene_vsdocsk", band_size=STRICT_BAND_SIZE
    )
    return spark.sql(f"WITH {verified_body(SPARK, rel, STRICT_BAND_SIZE, STRICT_VERIFY_THRESHOLD, mh_rel=thin, bands_src=bands)}")


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster assignment: connected components over the verified
    LSH pairs by iterative min-label propagation (alternating large-star /
    small-star in spirit — each round joins the current labels across edges
    and keeps the minimum; converges in O(log n) rounds on near-dup clusters,
    which are shallow). Iterative → rows-only check (the driver's weaker
    gate); a pytest cross-checks against networkx components.

    Scale shape: each round is one shuffle keyed on doc_id; the edge set is
    the (small) verified-pair output, never the corpus; convergence is
    detected with a count of changed labels (an aggregate, not a collect of
    data rows).
    """
    from pyspark.sql import functions as F

    pairs = dedup_lsh_verified_spark(spark, sf_dir).select("doc_id_1", "doc_id_2")
    # undirected edges both ways; localCheckpoint truncates lineage so each
    # round's plan is flat (no re-derivation of the LSH pipeline per round —
    # at cluster scale, checkpoint to reliable storage instead). Partition on
    # dst: the per-round join keys edges by dst (edges.dst == labels.doc_id),
    # so the static edge relation is exchanged ZERO times across all rounds
    # instead of once per round (guide §2.4 — share one exchange).
    edges = (
        pairs.union(pairs.select("doc_id_2", "doc_id_1"))
        .toDF("src", "dst")
        .repartition("dst")
        .transform(materialize)
    )
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("cluster", F.col("doc_id"))
        .transform(materialize)
    )
    for _ in range(32):  # bound >> O(log n) for any plausible cluster depth
        # each node adopts the min label among itself and its neighbors
        neighbor_min = (
            edges.join(labels, edges.dst == labels.doc_id)
            .groupBy("src")
            .agg(F.min("cluster").alias("nmin"))
        )
        new_cluster = F.least(F.col("cluster"), F.coalesce(F.col("nmin"), F.col("cluster")))
        updated = (
            labels.join(neighbor_min, labels.doc_id == neighbor_min.src, "left")
            .select(
                "doc_id",
                new_cluster.alias("new_cluster"),
                (F.col("cluster") != new_cluster).cast("int").alias("changed"),
            )
            .transform(materialize)
        )
        n_changed = updated.agg(F.sum("changed")).collect()[0][0] or 0
        labels = updated.select("doc_id", F.col("new_cluster").alias("cluster"))
        if n_changed == 0:
            break
    return labels.orderBy("doc_id")


SIMHASH_BITS = 64      # 4 x 16-bit words; 16-bit chunks keep the pigeonhole
SIMHASH_WORDS = 4      # equi-join selective (2^16 key values per chunk)
SIMHASH_MAX_HAMMING = 3  # <= words - 1 so at least one word matches exactly


def simhash_rel(dialect: str) -> str:
    """64-bit SimHash as 4 x 16-bit words: bit (d, j) of the signature votes
    +1/-1 by bit j of md5(token)'s d-th hex digit (the first 16 hex digits
    supply 64 independent bits); a signature bit is set if its vote sum is
    positive.

    One md5 per token, one 16-column digit projection, then ONE wide
    ``groupBy(doc_id)`` with 64 vote-sum aggregates — no per-bit row explode,
    map-side combine on every SUM, shuffle = 64 longs per doc. The 16-bit
    word width (not one 64-bit value) keeps every chunk directly usable as
    an equi-join key and avoids signed-overflow at bit 63.
    """
    toks = split_re(dialect, norm_expr(dialect), "[^a-z0-9]+")
    from serene_spark.functions.sqlgen import explode as _explode

    digit_cols = ",\n         ".join(
        f"instr('0123456789abcdef', substr(h, {d}, 1)) - 1 AS g{d}"
        for d in range(1, 17)
    )
    vote_cols = []
    for d in range(1, 17):
        for j in range(4):
            sel = idiv_expr(dialect, f"g{d}", str(1 << j))
            vote_cols.append(
                f"SUM(CASE WHEN ({sel}) % 2 = 1 THEN 1 ELSE -1 END) AS v{d}_{j}"
            )
    votes = ",\n         ".join(vote_cols)
    word_cols = []
    for w in range(SIMHASH_WORDS):
        terms = []
        for k in range(4):  # 4 hex digits per word
            d = 4 * w + k + 1
            for j in range(4):
                bit = k * 4 + j
                terms.append(f"(CASE WHEN v{d}_{j} > 0 THEN {1 << bit} ELSE 0 END)")
        word_cols.append(f"CAST({' + '.join(terms)} AS BIGINT) AS w{w}")
    words = ",\n         ".join(word_cols)
    return f"""
tokens AS (
  SELECT DISTINCT doc_id, tok FROM (
    SELECT doc_id, {_explode(dialect, toks)} AS tok FROM documents
  ) t WHERE tok <> ''
),
hashed AS (
  SELECT doc_id, md5(tok) AS h FROM tokens
),
digits AS (
  SELECT doc_id,
         {digit_cols}
  FROM hashed
),
votes AS (
  SELECT doc_id,
         {votes}
  FROM digits GROUP BY doc_id
),
sim AS (
  SELECT doc_id,
         {words}
  FROM votes
)"""


def idiv_expr(dialect: str, a: str, b: str) -> str:
    from serene_spark.functions.sqlgen import idiv

    return idiv(dialect, a, b)


def simhash_signatures_sql(dialect: str) -> str:
    cols = ", ".join(f"w{w}" for w in range(SIMHASH_WORDS))
    return f"WITH {simhash_rel(dialect)} SELECT doc_id, {cols} FROM sim"


def simhash_pairs_sql(dialect: str, max_hamming: int = SIMHASH_MAX_HAMMING) -> str:
    """Near-dup pairs at hamming distance <= 3 over the 64-bit signature.

    Candidate generation is pigeonhole-chunked, never quadratic: with the
    signature split into 4 exact 16-bit words and hamming <= 3 < 4, two
    near-dup signatures must agree EXACTLY on at least one word, so an
    equi-join on (word_idx, word_value) finds every true pair while the join
    key space is 4 x 2^16 — selective at any corpus size (a 16-bit chunk
    collides ~N/65536 docs vs the previous 16-bit-total signature whose
    6/5-bit chunks collided ~N/64). The exact hamming filter then removes
    false candidates. Same output as a naive all-pairs self-join.
    """
    return f"WITH {simhash_rel(dialect)},\n{simhash_pairs_body(dialect, 'sim', max_hamming)}"


def simhash_pairs_body(
    dialect: str, sim_rel: str = "sim", max_hamming: int = SIMHASH_MAX_HAMMING
) -> str:
    """Pigeonhole tail over an existing signature relation ``sim_rel``."""
    hamming = " + ".join(
        f"bit_count({bxor(dialect, f'cand.sa{w}', f'cand.sb{w}')})"
        for w in range(SIMHASH_WORDS)
    )
    sig_cols_a = ", ".join(f"a.w{w} AS sa{w}" for w in range(SIMHASH_WORDS))
    sig_cols_b = ", ".join(f"b.w{w} AS sb{w}" for w in range(SIMHASH_WORDS))
    chunks = " UNION ALL ".join(
        f"SELECT doc_id, {', '.join(f'w{x}' for x in range(SIMHASH_WORDS))}, "
        f"{w} AS ci, w{w} AS cv FROM {sim_rel}"
        for w in range(SIMHASH_WORDS)
    )
    return f"""
chunks AS ({chunks}),
cand AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
         {sig_cols_a}, {sig_cols_b}
  FROM chunks a JOIN chunks b ON a.ci = b.ci AND a.cv = b.cv AND a.doc_id < b.doc_id
)
SELECT cand.d1 AS doc_id_1, cand.d2 AS doc_id_2,
       CAST({hamming} AS BIGINT) AS hamming
FROM cand
WHERE {hamming} <= {max_hamming}
"""


# Staged runner: the pigeonhole tail references the signature relation 8
# times (4 chunk projections x 2 join sides) — same Spark CTE-inlining
# hazard as the LSH tail.
dedup_simhash_pairs_spark = sql_runner(
    lambda d: f"WITH {simhash_pairs_body(d, '__serene_sim')}", ("documents",), spread=True,
    stages=lambda d: [("__serene_sim", f"WITH {simhash_rel(d)} SELECT * FROM sim")])


# Exact-quadratic baselines refuse data-scale corpora (same refuse-and-
# point-at-the-scale-sibling contract as train_semantic_classifier's
# TRAIN_COLLECT_MAX guard in ml/pipeline.py): the probe is one parquet
# metadata-cheap COUNT, so the guard itself never scans text.
EXACT_BASELINE_MAX_DOCS = 50_000


def guard_exact_baseline(spark: SparkSession, table: str, op: str,
                         scale_sibling: str,
                         max_docs: int = EXACT_BASELINE_MAX_DOCS) -> None:
    """Refuse a corpus too large for an intentionally-quadratic baseline.

    The exact all-pairs operators exist as verification oracles for their
    bucketed scale siblings; on a production corpus their self-join is
    Theta(n^2) candidate pairs and no amount of cluster would save it.
    A cheap COUNT probe gates them — row-count metadata when the table is
    a plain parquet-backed view, a narrow count scan otherwise; never a
    text scan — mirroring the train-collect guard at ml/pipeline.py.
    """
    n = spark.table(table).count()
    if n > max_docs:
        raise ValueError(
            f"{op} is the exact quadratic baseline (all-pairs self-join) and "
            f"got {n} {table} rows > {max_docs}. On a data-scale corpus use "
            f"the bucketed scale sibling `{scale_sibling}` instead; the exact "
            f"baseline exists to verify it on samples."
        )


def _guarded_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("documents",), spread=True)
    guard_exact_baseline(spark, "documents", "dedup_ngram_jaccard",
                         "dedup_lsh_verified")
    return spark.sql(ngram_jaccard_sql(SPARK))


register("dedup_exact", oracle=dedup_exact_sql(DUCKDB),
         doc="exact dedup: normalized-text hash groups with keeper doc id")(sql_runner(dedup_exact_sql, ("documents",), spread=True))
register("dedup_ngram_jaccard", oracle=ngram_jaccard_sql(DUCKDB),
         doc=f"char-{SHINGLE_K}-gram Jaccard near-dup pairs (exact quadratic "
             f"baseline; refuses corpora > {EXACT_BASELINE_MAX_DOCS} docs — "
             f"use dedup_lsh_verified at scale)")(_guarded_ngram_jaccard)
register("minhash_signatures", oracle=minhash_signatures_sql(DUCKDB),
         doc=f"{N_MINHASH}-permutation MinHash signatures (md5-min portable hashing)")(sql_runner(minhash_signatures_sql, ("documents",), spread=True))
register("dedup_minhash_lsh", oracle=minhash_lsh_sql(DUCKDB),
         doc=f"MinHash LSH banded candidate pairs + estimated Jaccard (scale path; "
             f"signatures materialized once; band geometry PLANNER-TUNED per corpus "
             f"— {LSH_BANDS}x{BAND_SIZE} at the {LSH_TARGET_JACCARD} target unless "
             f"the measured background Jaccard would push candidates past "
             f"{CANDIDATE_BUDGET_PER_DOC:g}/doc, then bands widen automatically "
             f"with a WARNING naming the chosen geometry; corpora under "
             f"{PLANNER_MIN_DOCS} docs skip the probe and keep the default, so "
             f"the fixed-geometry oracle is exact on every parity corpus by "
             f"construction; "
             f"hot buckets > {LSH_BUCKET_CAP} emit Theta(G) star+chain pairs — "
             f"sub-clusters stay chain-connected, but a member whose leading "
             f"minhashes all deviate from its peers can still detach)")(dedup_minhash_lsh_spark)
register("dedup_lsh_verified", oracle=lsh_verified_sql(DUCKDB),
         doc=f"complete dedup pipeline: LSH candidates -> exact shingle-Jaccard "
             f"verification of candidates only (never all-pairs); planner-tuned "
             f"band geometry and the hot-bucket star+chain policy as in "
             f"dedup_minhash_lsh (chain edges keep hot-bucket sub-clusters "
             f"connected through the verify filter)")(dedup_lsh_verified_spark)
register("dedup_lsh_verified_strict",
         oracle=lsh_verified_sql(DUCKDB, band_size=STRICT_BAND_SIZE,
                                 threshold=STRICT_VERIFY_THRESHOLD),
         doc=f"strict-threshold dedup (target J {STRICT_TARGET_JACCARD}, "
             f"{N_LSH // STRICT_BAND_SIZE}x{STRICT_BAND_SIZE} bands, verify "
             f">= {STRICT_VERIFY_THRESHOLD}): background band collisions at "
             f"J_bg^{STRICT_BAND_SIZE} keep candidates ~linear at any corpus "
             f"size — the first-pass variant for boilerplate-heavy crawls")(
    dedup_lsh_verified_strict_spark)


def hot_bucket_report_sql(dialect: str, cap: int = LSH_BUCKET_CAP,
                          band_size: int = BAND_SIZE) -> str:
    """Per-band LSH bucket-size audit: how close each band's buckets sit to
    the hot-bucket cap, and how many docs fell under the star-pairing
    overflow policy.  On a boilerplate-heavy crawl this is the first thing
    to read after a dedup run — hot_docs > 0 means pair-level output inside
    those buckets was star-sparsified (connectivity preserved).

    ``band_size`` MUST match the geometry the dedup run actually used:
    the default runners are planner-tuned (see ``plan_band_size``), so an
    audit of a tuned run must pass the same planned band_size or it will
    describe a band layout the run never built."""
    return f"""
WITH {minhash_rel(dialect, N_LSH)},
bands AS ({bands_rel(dialect, band_size=band_size)}),
bsz AS (SELECT band, sig, COUNT(*) AS g FROM bands GROUP BY band, sig)
SELECT CAST(band AS INT) AS band,
       CAST(COUNT(*) AS BIGINT) AS n_buckets,
       CAST(MAX(g) AS BIGINT) AS max_bucket,
       CAST(SUM(CASE WHEN g > {cap} THEN 1 ELSE 0 END) AS BIGINT) AS n_hot,
       CAST(SUM(CASE WHEN g > {cap} THEN g ELSE 0 END) AS BIGINT) AS hot_docs
FROM bsz GROUP BY band ORDER BY band
"""


PLANNER_SAMPLE = 100  # docs in the deterministic md5-ordered sample


def lsh_geometry_planner_sql(dialect: str) -> str:
    """The geometry DECISION, computed from the corpus itself: measure the
    background Jaccard on a deterministic sample and report, for every
    divisor geometry of the {N_LSH}-permutation signature, the S-curve
    inflection and the EXPECTED background candidate volume at the full
    corpus size — the table an operator reads before picking the
    band_size knob (sf1/sf3/sf10 measurements in BASELINE.md validated
    the model: expected ~ n(n-1)/2 * bands * J_bg^rows).

    Determinism/portability: the sample is the {PLANNER_SAMPLE} lowest
    md5(doc_id) docs (portable hash, no engine RNG); J_bg is the mean
    48-permutation estimate over sample pairs BELOW the target threshold
    (true near-dups excluded so they don't inflate the background), summed
    as 6-dp DECIMAL so the mean is aggregation-order independent.
    Degenerate corpora (< 2 sample docs, or every sample pair at/above the
    target — i.e. all near-dups): j_bg COALESCEs to 0.0 and
    ``n_pairs_sample`` reports how many background pairs informed it, so
    the planner degrades explicitly instead of emitting NULL columns.

    Scale: signatures are computed for the SAMPLE only; the full corpus
    is touched once for COUNT (metadata-only on plain parquet views) and
    once for the md5 ordering — a narrow single-column scan with a TopK
    sort, NOT metadata-free: budget one pass over the doc_id column when
    sizing a planner run. The pair matrix is sample-bounded (~5k rows).
    """
    n = norm_expr(dialect)
    h1 = hex_to_int(dialect, "substr(md5(sh), 1, 8)")
    h2 = hex_to_int(dialect, "substr(md5(sh), 9, 8)")
    mins = ",\n         ".join(
        f"MIN((h1 + {i} * h2) % {MH_PRIME}) AS mh{i}" for i in range(N_LSH)
    )
    n_match = " + ".join(
        f"CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END" for i in range(N_LSH)
    )
    geoms = " UNION ALL ".join(
        f"SELECT {r} AS rows_per_band, {N_LSH // r} AS bands"
        for r in (1, 2, 3, 4, 6, 8, 12, 16, 24, 48)
    )
    return f"""
WITH sample AS (
  SELECT doc_id, {n} AS snorm
  FROM documents
  ORDER BY md5(CAST(doc_id AS STRING)), doc_id
  LIMIT {PLANNER_SAMPLE}
),
corpus AS (SELECT COUNT(*) AS n_docs FROM documents),
pos AS (
  SELECT doc_id, snorm,
         {explode_seq(dialect, 1, f'greatest(1, length(snorm) - {SHINGLE_K} + 1)')} AS i
  FROM sample
),
shingles AS (
  SELECT DISTINCT doc_id, substr(snorm, i, {SHINGLE_K}) AS sh FROM pos
),
hashes AS (
  SELECT doc_id, {h1} AS h1, {h2} AS h2 FROM shingles
),
mh AS (
  SELECT doc_id,
         {mins}
  FROM hashes GROUP BY doc_id
),
est AS (
  SELECT CAST(ROUND(CAST(({n_match}) AS DOUBLE) / {N_LSH}, 6)
              AS DECIMAL(9,6)) AS e
  FROM mh a JOIN mh b ON a.doc_id < b.doc_id
),
bg AS {mat(dialect)}(
  -- background = pairs below the candidate target (near-dups excluded);
  -- COALESCE: an empty background set (degenerate corpus) reads as
  -- j_bg = 0.0, with n_pairs = 0 carrying the why
  SELECT COALESCE(
           CAST(SUM(CAST(e AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*),
           0.0) AS j_bg,
         CAST(COUNT(*) AS BIGINT) AS n_pairs
  FROM est WHERE e < {LSH_TARGET_JACCARD}
),
geoms AS ({geoms})
SELECT CAST(g.bands AS INT) AS bands,
       CAST(g.rows_per_band AS INT) AS rows_per_band,
       ROUND(power(1.0 / g.bands, 1.0 / g.rows_per_band), 6) AS inflection_j,
       ROUND(bg.j_bg, 6) AS j_bg_sample,
       CAST(bg.n_pairs AS BIGINT) AS n_pairs_sample,
       CAST(c.n_docs AS BIGINT) AS n_docs,
       ROUND(CAST(c.n_docs AS DOUBLE) * (c.n_docs - 1) / 2
             * g.bands * power(bg.j_bg, g.rows_per_band), 3)
         AS expected_bg_candidates
FROM geoms g JOIN bg ON 1 = 1 JOIN corpus c ON 1 = 1
ORDER BY g.rows_per_band
"""


register(
    "lsh_geometry_planner",
    oracle=lsh_geometry_planner_sql(DUCKDB),
    doc=f"LSH geometry planner: measure background Jaccard on a "
    f"deterministic {PLANNER_SAMPLE}-doc sample and report, per divisor "
    f"geometry of the {N_LSH}-perm signature, the S-curve inflection and "
    f"expected background candidate volume at the FULL corpus size — the "
    f"table that picks the band_size knob before a dedup run (and that "
    f"the default dedup_minhash_lsh/dedup_lsh_verified runners consult "
    f"automatically via plan_band_size)",
)(sql_runner(lsh_geometry_planner_sql, ("documents",), spread=True))


_PLANNED_BAND_SIZE: dict[tuple[str, float], int] = {}


def plan_band_size(spark: SparkSession, sf_dir: str,
                   budget_per_doc: float = CANDIDATE_BUDGET_PER_DOC) -> int:
    """Pick rows-per-band for the default LSH runners from the planner.

    Corpora under ``PLANNER_MIN_DOCS`` short-circuit to the default
    geometry after one metadata-cheap COUNT (see the constant's rationale
    — at small n the probe costs more than any blowup it could prevent).
    Above the line, runs ``lsh_geometry_planner`` (sample-bounded work:
    PLANNER_SAMPLE doc signatures + one narrow doc_id TopK scan) and
    returns the smallest rows_per_band >= the LSH_TARGET_JACCARD-target
    default whose expected background candidates fit
    ``budget_per_doc * n_docs``; falls back to the widest geometry when
    even that overflows. The choice is cached per (sf_dir, budget) for
    the session — a corpus mutated in place under the same path needs a
    new session (or a cache clear) to re-plan.

    Oracle-parity contract: the registered DuckDB oracles are pinned at
    the default geometry. Every parity corpus (sf <= 0.1, <= 5k docs)
    sits below PLANNER_MIN_DOCS, so the runner uses the default there BY
    CONSTRUCTION and parity cannot silently diverge. When the planner
    does pick a non-default geometry it logs a WARNING naming the chosen
    band_size — a tuned run is observable, never silent — and parity
    checking at that scale must pin band_size explicitly (the SQL
    generators all take it as a parameter).
    """
    key = (sf_dir, budget_per_doc)
    got = _PLANNED_BAND_SIZE.get(key)
    if got is not None:
        return got
    register_views(spark, sf_dir, ("documents",), spread=True)
    n_docs = spark.table("documents").count()
    if n_docs < PLANNER_MIN_DOCS:
        choice = BAND_SIZE
    else:
        rows = sorted(spark.sql(lsh_geometry_planner_sql(SPARK)).collect(),
                      key=lambda r: r["rows_per_band"])
        choice = None
        for r in rows:
            if r["rows_per_band"] < BAND_SIZE:
                continue
            if r["expected_bg_candidates"] <= budget_per_doc * r["n_docs"]:
                choice = int(r["rows_per_band"])
                break
        if choice is None:
            choice = int(rows[-1]["rows_per_band"])
    if choice != BAND_SIZE:
        _LOG.warning(
            "LSH geometry planner picked band_size=%d (default %d) for %s "
            "(n_docs=%d): fixed-geometry oracles do not apply to this run",
            choice, BAND_SIZE, sf_dir, n_docs)
    _PLANNED_BAND_SIZE[key] = choice
    return choice


register("dedup_lsh_hot_buckets", oracle=hot_bucket_report_sql(DUCKDB),
         doc=f"per-band LSH bucket-size audit vs the hot-bucket cap "
             f"({LSH_BUCKET_CAP}): bucket counts, max size, capped buckets "
             f"and docs under the star-pairing overflow policy")(
    sql_runner(hot_bucket_report_sql, ("documents",), spread=True))
def _clusters_oracle() -> str:
    """DuckDB oracle for the iterative Spark loop: connected components as a
    WITH RECURSIVE transitive closure (cluster id = min reachable doc_id).
    Tractable because near-dup components are tiny; the Spark side iterates
    instead because Spark SQL has no recursive CTE and the closure relation
    would explode on large components."""
    return f"""
WITH RECURSIVE pairs AS ({lsh_verified_sql(DUCKDB)}),
edges AS (
  SELECT doc_id_1 AS src, doc_id_2 AS dst FROM pairs
  UNION ALL
  SELECT doc_id_2, doc_id_1 FROM pairs
),
nodes AS (SELECT DISTINCT src AS doc_id FROM edges),
reach(a, b) AS (
  SELECT doc_id, doc_id FROM nodes
  UNION
  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
)
SELECT a AS doc_id, CAST(MIN(b) AS BIGINT) AS cluster
FROM reach GROUP BY a
"""


register("dedup_clusters", oracle=_clusters_oracle(),
         doc="duplicate clusters: connected components over verified LSH pairs — "
             "iterative min-label propagation on Spark, recursive-CTE closure "
             "as the DuckDB oracle")(dedup_clusters)


def canonical_select_body(dialect: str, clusters_rel: str) -> str:
    """Keep-best canonical selection over near-dup clusters — the decision
    layer the cluster assignment exists FOR: every document gets a keep/drop
    verdict, with near-dup groups keeping exactly one representative.

    Keeper rule (deterministic, integer-keyed — no float ordering): prefer
    documents that pass the quality gate, then the LONGEST text, then the
    smallest doc_id.  "Keep the longest passing member" is the standard
    near-dup curation policy (the longest version of a boilerplate-wrapped
    article is usually the complete one).  Documents in no verified pair are
    their own keeper (cluster of one) via the LEFT JOIN fallback.

    Scale shape: the window partitions by CLUSTER id — near-dup components
    are tiny, so no partition ever sees more than a handful of rows; the
    quality join is doc-keyed.  One data-scale shuffle total.
    """
    from serene_spark.operators.text_analysis import text_quality_sql

    return f"""
q AS ({text_quality_sql(dialect)}),
membership AS (
  SELECT d.doc_id,
         COALESCE(c.cluster, d.doc_id) AS cluster,
         d.n_chars
  FROM documents d LEFT JOIN {clusters_rel} c ON d.doc_id = c.doc_id
),
ranked AS (
  -- LEFT JOIN + COALESCE: a zero-token document (all punctuation/CJK)
  -- has no text_quality row; it must still receive a verdict (as a
  -- failing-quality member), not silently vanish from the output
  SELECT m.doc_id, m.cluster, m.n_chars,
         CAST(COALESCE(q.quality_pass, 0.0) AS INT) AS quality_pass,
         ROW_NUMBER() OVER (PARTITION BY m.cluster
                            ORDER BY COALESCE(q.quality_pass, 0.0) DESC,
                                     m.n_chars DESC,
                                     m.doc_id ASC) AS rn,
         COUNT(*) OVER (PARTITION BY m.cluster) AS n_in_cluster
  FROM membership m LEFT JOIN q ON q.doc_id = m.doc_id
)
SELECT doc_id,
       CAST(cluster AS BIGINT) AS cluster,
       CAST(n_in_cluster AS BIGINT) AS n_in_cluster,
       quality_pass,
       CAST(CASE WHEN rn = 1 THEN 1 ELSE 0 END AS INT) AS is_keeper,
       CAST(MIN(CASE WHEN rn = 1 THEN doc_id END)
              OVER (PARTITION BY cluster) AS BIGINT) AS keeper_doc_id
FROM ranked
ORDER BY doc_id
"""


def _canonical_oracle() -> str:
    return (
        f"WITH RECURSIVE pairs AS ({lsh_verified_sql(DUCKDB)}),\n"
        "edges AS (\n"
        "  SELECT doc_id_1 AS src, doc_id_2 AS dst FROM pairs\n"
        "  UNION ALL\n"
        "  SELECT doc_id_2, doc_id_1 FROM pairs\n"
        "),\n"
        "nodes AS (SELECT DISTINCT src AS doc_id FROM edges),\n"
        "reach(a, b) AS (\n"
        "  SELECT doc_id, doc_id FROM nodes\n"
        "  UNION\n"
        "  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src\n"
        "),\n"
        "clusters AS (\n"
        "  SELECT a AS doc_id, CAST(MIN(b) AS BIGINT) AS cluster\n"
        "  FROM reach GROUP BY a\n"
        "),\n"
        + canonical_select_body(DUCKDB, "clusters")
    )


def dedup_canonical_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark runner: iterative CC labels (dedup_clusters), materialized once,
    then the shared selection body over a per-call uuid view."""
    import uuid

    labels = dedup_clusters(spark, sf_dir).transform(materialize)
    view = f"__serene_canon_{uuid.uuid4().hex}"
    labels.createOrReplaceTempView(view)
    register_views(spark, sf_dir, ("documents",), spread=True)
    return spark.sql(f"WITH {canonical_select_body(SPARK, view)}")


register("dedup_canonical_select", oracle=_canonical_oracle(),
         doc="keep-best canonical selection over near-dup clusters: every "
             "document verdicted, one keeper per cluster by (quality_pass, "
             "longest text, doc_id) — integer-keyed deterministic ordering")(
    dedup_canonical_select)
register("simhash_signatures", oracle=simhash_signatures_sql(DUCKDB),
         doc="64-bit SimHash signatures (4 x 16-bit words) via md5-hex bit "
             "voting")(sql_runner(simhash_signatures_sql, ("documents",), spread=True))
register("dedup_simhash_pairs", oracle=simhash_pairs_sql(DUCKDB),
         doc="SimHash near-dup pairs: pigeonhole-chunked 64-bit signatures, "
             "hamming <= 3 (signatures materialized once)")(dedup_simhash_pairs_spark)


# --- Prefix-filtered EXACT similarity join (AllPairs/PPJoin) ----------------

PF_THRESHOLD = 0.5  # high-similarity tier; oracle = naive join at the SAME t


def prefix_filter_tail_sql(shingles_rel_name: str, dialect: str) -> str:
    """Exact Jaccard >= t pairs WITHOUT the quadratic shingle self-join —
    prefix filtering (Bayardo et al., "Scaling Up All Pairs Similarity
    Search", WWW 2007; Xiao et al., PPJoin, WWW 2008).

    Guarantee (pigeonhole): order every document's shingles by one GLOBAL
    total order (frequency-ascending — rarest first — then shingle); with
    prefix length l(X) = |X| - ceil(t*|X|) + 1, any pair with J >= t shares
    at least one shingle inside BOTH prefixes, because |A^B| >= ceil(t*|A|)
    and the first |A| - |A^B| + 1 elements of each side must intersect.
    Candidates therefore come from an equi-join on PREFIX shingles only,
    plus the size filter t*|A| <= |B| <= |A|/t; exact Jaccard verification
    then touches only candidate pairs.  The ORACLE for this query is the
    NAIVE all-pairs statement — the parity gate proves the filter lossless.

    Scale: the only large shuffles key on (shingle) for the prefix join and
    (doc pair) for verification; rarest-first ordering makes prefix
    postings short (frequency skew works FOR the filter).  On THIS synthetic
    corpus pruning caps at ~2x (documents share large template chunks, so
    even rare shingles are corpus-wide — measured: candidates ~48% of all
    pairs at t=0.5, vs ~0.02% true pairs); on natural corpora with Zipfian
    vocabularies the prefix postings shrink and pruning is orders of
    magnitude (the WWW'07/'08 results).  The losslessness guarantee is
    corpus-independent and is what parity checks.
    """
    t = PF_THRESHOLD
    return f"""
freq AS (
  SELECT sh, COUNT(*) AS df FROM {shingles_rel_name} GROUP BY sh
),
ranked AS (
  SELECT s.doc_id, s.sh,
         ROW_NUMBER() OVER (PARTITION BY s.doc_id ORDER BY f.df, s.sh) AS rk,
         COUNT(*) OVER (PARTITION BY s.doc_id) AS n_sh
  FROM {shingles_rel_name} s JOIN freq f ON s.sh = f.sh
),
prefixes AS (
  SELECT doc_id, sh, n_sh FROM ranked
  WHERE rk <= n_sh - CEIL({t} * n_sh) + 1
),
cand AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM prefixes a
  JOIN prefixes b
    ON a.sh = b.sh AND a.doc_id < b.doc_id
   AND b.n_sh >= {t} * a.n_sh AND a.n_sh >= {t} * b.n_sh
),
common AS (
  SELECT c.d1, c.d2, CAST(COUNT(*) AS BIGINT) AS c
  FROM cand c
  JOIN {shingles_rel_name} sa ON sa.doc_id = c.d1
  JOIN {shingles_rel_name} sb ON sb.doc_id = c.d2 AND sb.sh = sa.sh
  GROUP BY c.d1, c.d2
),
counts AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM {shingles_rel_name} GROUP BY doc_id
)
SELECT common.d1 AS doc_id_1, common.d2 AS doc_id_2,
       round(CAST(c AS DOUBLE) / (n1.n_sh + n2.n_sh - c), 6) AS jaccard
FROM common
JOIN counts n1 ON common.d1 = n1.doc_id
JOIN counts n2 ON common.d2 = n2.doc_id
WHERE CAST(c AS DOUBLE) / (n1.n_sh + n2.n_sh - c) >= {t}
"""


register("dedup_prefix_filter", oracle=ngram_jaccard_sql(DUCKDB, threshold=PF_THRESHOLD),
         doc=f"EXACT Jaccard>={PF_THRESHOLD} pairs via AllPairs/PPJoin prefix "
         "filtering — oracle is the naive quadratic join, so parity proves "
         "the filter lossless")(sql_runner(
    lambda d: "WITH " + prefix_filter_tail_sql("__pf_shingles", d), ("documents",), spread=True,
    # one shingling pass, consumed by freq/ranked/verify/counts (4 refs)
    stages=lambda d: [("__pf_shingles", f"WITH {shingles_rel(d)} SELECT * FROM shingles")]))


# --- containment (asymmetric) verification -----------------------------------

CONTAIN_THRESHOLD = 0.8


def containment_tail(dialect: str, docsk_rel: str = "docsk",
                     mh_rel: str | None = None,
                     bands_src: str | None = None) -> str:
    """Asymmetric CONTAINMENT verification over the shared candidate CTEs
    (Broder, "On the resemblance and containment of documents", SEQUENCES
    1997): c(A,B) = |S(A) ∩ S(B)| / |S(A)|.  Resemblance (Jaccard) misses
    subset relationships — a document quoted whole inside a much larger one
    has Jaccard ≈ |A|/|B| (tiny) but containment ≈ 1.  Emits candidate
    pairs where EITHER direction's containment ≥ CONTAIN_THRESHOLD, with
    the Jaccard beside it so the subset-not-duplicate cases (high max
    containment, low Jaccard) are visible.

    Recall caveat (documented, not hidden): candidates still come from the
    Jaccard-tuned MinHash bands, and minhash collision probability IS the
    resemblance — under extreme size skew (|A| ≪ |B|) a contained pair's
    Jaccard can fall below what the band geometry surfaces.  The dedicated
    scale structure for that regime is a bottom-k sketch of the SMALL side
    probed against the large side's shingle index; this operator reports
    exact containment for every pair the shared candidate generator
    surfaces, which is the right first tier on a near-dup-shaped corpus.
    """
    return f"""{candidate_common_body(dialect, docsk_rel, mh_rel=mh_rel,
                                      bands_src=bands_src)}
SELECT m.d1 AS doc_id_1, m.d2 AS doc_id_2,
       round(CAST(m.n_common AS DOUBLE) / n1.n_sh, 6) AS containment_1_in_2,
       round(CAST(m.n_common AS DOUBLE) / n2.n_sh, 6) AS containment_2_in_1,
       round(CAST(m.n_common AS DOUBLE) / (n1.n_sh + n2.n_sh - m.n_common), 6) AS jaccard
FROM common m
JOIN counts n1 ON m.d1 = n1.doc_id
JOIN counts n2 ON m.d2 = n2.doc_id
WHERE CAST(m.n_common AS DOUBLE) / n1.n_sh >= {CONTAIN_THRESHOLD}
   OR CAST(m.n_common AS DOUBLE) / n2.n_sh >= {CONTAIN_THRESHOLD}
"""


def containment_sql(dialect: str) -> str:
    return f"WITH {docsketch_rel(dialect)},{containment_tail(dialect)}"


def dedup_containment_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized runner: same doc-sketch materialization as the Jaccard
    verify (Spark would otherwise recompute the sketch per CTE ref)."""
    rel, thin, bands = _materialized_docsk(spark, sf_dir, "__serene_cdocsk")
    # the SAME tail the oracle uses, over the materialized relations
    return spark.sql(
        f"WITH {containment_tail(SPARK, rel, mh_rel=thin, bands_src=bands)}")


register(
    "dedup_containment_pairs",
    oracle=containment_sql(DUCKDB),
    doc=f"asymmetric shingle CONTAINMENT >= {CONTAIN_THRESHOLD} over the "
    "banded LSH candidates (Broder 1997) — catches subset/quotation "
    "relationships symmetric Jaccard misses; size-skew recall caveat "
    "documented",
)(dedup_containment_spark)


# --- bottom-k containment probe (the extreme-size-skew tier) ------------------

BK_K = 32            # bottom-k sketch size per document
BK_DF_CAP = 100      # probes more common than this carry cost, little signal
BK_MIN_HITS = 0.8    # candidate gate: fraction of probes found in the target


def containment_bottomk_sql(dialect: str) -> str:
    """The size-skew containment tier the banded-LSH verify cannot reach:
    a document quoted whole inside one 10x larger has Jaccard ~ |A|/|B|,
    below any resemblance-tuned band geometry — ``dedup_containment_pairs``
    documents exactly this recall hole.  Here each document carries a
    BOTTOM-K sketch (its ``BK_K`` shingles with the smallest md5 — an
    unbiased hash-ordered sample of S(A)), and the sketch PROBES the
    corpus shingle relation directly: a probe hit in doc B is evidence
    sh ∈ S(B), so hits/k estimates containment(A in B) regardless of how
    large B is.  Pairs clearing ``BK_MIN_HITS`` are then verified with the
    EXACT containment over the full shingle sets (verify-candidates-only,
    the LSH-verify discipline).

    Scale shape: the sketch is CONSTANT state per doc (k rows); the probe
    is an equi-join on the shingle — the inverted-index lookup, partitioned
    by shingle at 100 TB; per-pair state is bounded by k.  Probes with
    corpus document-frequency > ``BK_DF_CAP`` are dropped for cost —
    boilerplate shingles hit everything and prove nothing (the CCNet
    argument); the bias is RECALL-ONLY since survivors are exactly
    verified.  Output: estimated + exact containment per surfaced pair.
    """
    return (
        f"WITH {shingles_rel(dialect)},"
        + containment_bottomk_tail(dialect, "shingles")
    )


def containment_bottomk_tail(dialect: str, sh_rel: str) -> str:
    """The probe/verify tail over a NAMED shingle relation — spliced by the
    one-statement oracle and the materialized Spark runner (which
    checkpoints shingles once; this tail references the relation six
    times, and Spark's CTE inlining would recompute the whole shingling
    pass per reference)."""
    return f"""
df AS (
  SELECT sh, COUNT(*) AS n_docs FROM {sh_rel} GROUP BY sh
),
bk AS (
  SELECT doc_id, sh FROM (
    SELECT doc_id, sh,
           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY md5(sh), sh) AS rn
    FROM {sh_rel}
  ) r WHERE rn <= {BK_K}
),
probes AS (
  SELECT b.doc_id, b.sh FROM bk b JOIN df ON b.sh = df.sh
  WHERE df.n_docs <= {BK_DF_CAP}
),
k_actual AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS k FROM probes GROUP BY doc_id
),
hits AS (
  SELECT p.doc_id AS d1, s.doc_id AS d2, CAST(COUNT(*) AS BIGINT) AS n_hit
  FROM probes p JOIN {sh_rel} s ON p.sh = s.sh AND p.doc_id <> s.doc_id
  GROUP BY p.doc_id, s.doc_id
),
cand AS (
  SELECT h.d1, h.d2, h.n_hit, ka.k
  FROM hits h JOIN k_actual ka ON h.d1 = ka.doc_id
  WHERE h.n_hit >= {BK_MIN_HITS} * ka.k AND ka.k > 0
),
counts AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM {sh_rel} GROUP BY doc_id
),
exact AS (
  SELECT c.d1, c.d2, c.n_hit, c.k, CAST(COUNT(*) AS BIGINT) AS n_common
  FROM cand c
  JOIN {sh_rel} s1 ON s1.doc_id = c.d1
  JOIN {sh_rel} s2 ON s2.doc_id = c.d2 AND s2.sh = s1.sh
  GROUP BY c.d1, c.d2, c.n_hit, c.k
)
SELECT e.d1 AS doc_id_1, e.d2 AS doc_id_2,
       round(CAST(e.n_hit AS DOUBLE) / e.k, 6) AS containment_est,
       round(CAST(e.n_common AS DOUBLE) / n1.n_sh, 6) AS containment_exact,
       round(CAST(e.n_common AS DOUBLE)
             / (n1.n_sh + n2.n_sh - e.n_common), 6) AS jaccard
FROM exact e
JOIN counts n1 ON e.d1 = n1.doc_id
JOIN counts n2 ON e.d2 = n2.doc_id
WHERE CAST(e.n_common AS DOUBLE) / n1.n_sh >= {CONTAIN_THRESHOLD}
"""


register(
    "dedup_containment_bottomk",
    oracle=containment_bottomk_sql(DUCKDB),
    doc=f"bottom-{BK_K} sketch probe for EXTREME-size-skew containment — "
    "the tier the Jaccard-tuned LSH bands cannot reach; estimate gates, "
    "exact containment verifies (recall-only df cap documented)",
)(sql_runner(
    lambda d: "WITH " + containment_bottomk_tail(d, "__serene_bkshingles"),
    ("documents",), spread=True,
    # shingles checkpointed ONCE: the tail references the relation six
    # times, and inlined CTEs would shingle the corpus six times over
    stages=lambda d: [
        ("__serene_bkshingles", f"WITH {shingles_rel(d)} SELECT * FROM shingles"),
    ]))


# --- MinHash estimator-error audit -------------------------------------------


def minhash_error_sql(dialect: str) -> str:
    """The MinHash estimator's promise, MEASURED (the cms/bloom
    "guarantees measured, not assumed" discipline applied to the dedup
    pipeline's own sketch): for every banded candidate pair, the
    matching-minima estimate (k={N_LSH} permutations) against the
    EXACT shingle Jaccard, summarized as mean/max absolute error and the
    fraction of pairs within two binomial standard errors
    (2*sqrt(J(1-J)/k) + 1/k) of the truth — the bound the estimator
    theory promises per UNCONDITIONAL pair.  Banded candidates are
    conditioned on band collisions (i.e. on the estimate being high), so
    the measured fraction sits BELOW the unconditional ~95% — that
    selection bias is part of what the audit shows, not an error.  A
    DRIFTING fraction across corpus versions is what says the signature
    size is too small BEFORE dedup quality silently degrades.

    Scale: both relations are the already-bounded candidate set; the audit
    adds one pair-keyed join on top of the dedup run it piggybacks on.
    """
    return f"""
WITH {docsketch_rel(dialect)},
est AS (WITH {lsh_body(dialect, "docsk")}),
exact_pairs AS (WITH {verified_body(dialect, "docsk", threshold=0.0)})
SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
       ROUND(AVG(ABS(e.est_jaccard - x.jaccard)), 6) AS mean_abs_error,
       ROUND(MAX(ABS(e.est_jaccard - x.jaccard)), 6) AS max_abs_error,
       ROUND(CAST(SUM(CASE WHEN ABS(e.est_jaccard - x.jaccard)
                        <= 2 * SQRT(x.jaccard * (1 - x.jaccard) / {N_LSH})
                             + 1.0 / {N_LSH}
                      THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
         AS frac_within_2se
FROM est e
JOIN exact_pairs x ON e.doc_id_1 = x.doc_id_1 AND e.doc_id_2 = x.doc_id_2
"""


def _minhash_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized runner: shingles + signatures once (the audit reads
    both the estimate and the exact-verify tails)."""
    rel, thin, bands = _materialized_docsk(spark, sf_dir, "__serene_edocsk")
    return spark.sql(f"""
WITH est AS (WITH {lsh_body(SPARK, thin, bands_src=bands)}),
exact_pairs AS (WITH {verified_body(SPARK, rel, threshold=0.0, mh_rel=thin,
                                    bands_src=bands)})
SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
       ROUND(AVG(ABS(e.est_jaccard - x.jaccard)), 6) AS mean_abs_error,
       ROUND(MAX(ABS(e.est_jaccard - x.jaccard)), 6) AS max_abs_error,
       ROUND(CAST(SUM(CASE WHEN ABS(e.est_jaccard - x.jaccard)
                        <= 2 * SQRT(x.jaccard * (1 - x.jaccard) / {N_LSH})
                             + 1.0 / {N_LSH}
                      THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
         AS frac_within_2se
FROM est e
JOIN exact_pairs x ON e.doc_id_1 = x.doc_id_1 AND e.doc_id_2 = x.doc_id_2
""")


register(
    "minhash_estimate_error",
    oracle=minhash_error_sql(DUCKDB),
    doc=f"MinHash estimator audit: matching-minima estimate vs exact "
    "Jaccard over the banded candidates — mean/max abs error + fraction "
    "within the 2-SE binomial bound the theory promises",
)(_minhash_error)
