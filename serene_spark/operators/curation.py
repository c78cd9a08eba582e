"""Corpus-curation operators — the training-data pipeline steps downstream of
quality scoring and dedup: benchmark decontamination, stratified sampling,
mixture planning, incremental (snapshot-delta) dedup, deterministic sharding,
PII scanning, and semantic (embedding-cluster) dedup.

These extend the reference's column-profiling engine with the operations a
100 TB LLM-data pipeline needs (round brief; same first-class status as
SURVEY §2). Every operator is one dialect-shared SQL statement (Spark +
DuckDB oracle) built from the sqlgen shims — no Python in the hot path.

Scale shapes:

* decontaminate — benchmark n-gram set is a tiny relation (the held-out
  eval suite), so the overlap join broadcasts it against the corpus grams;
  the only corpus-sized shuffle is the per-doc count-distinct.
* stratified_sample / shard_assign — map-only md5 threshold / modulus; zero
  shuffles beyond the final summary agg.
* snapshot_delta_dedup — fingerprint anti-join keyed on the hash: the 100 TB
  path processes ONLY the new crawl against the old snapshot's fingerprint
  index instead of re-deduping the union (re-crawl economics).
* semdedup — within-cluster candidate pairs only (the SemDeDup design:
  Abbas et al., "SemDeDup: Data-efficient learning at web-scale through
  semantic deduplication", arXiv:2303.09540 — cluster with k-means, then
  drop near-duplicates inside each cluster); candidate generation is an
  equi-join on cluster id, never all-pairs.
"""

from __future__ import annotations

from serene_spark.catalog import sql_runner
from serene_spark.functions.sqlgen import (
    DUCKDB,
    arr_filter_nonempty,
    arr_join,
    arr_len,
    arr_slice,
    cosine_expr,
    explode_seq,
    hex_to_int,
    re_extract_all_count,
    rr,
    rx,
    split_re,
)
from serene_spark.operators.text_analysis import NORM
from serene_spark.registry import register

GRAM_K = 8  # word n-gram width for decontamination (the common 8-13 range)
BENCH_MOD = 17  # doc_id % 17 == 0 -> held-out "benchmark" subset

# per-language sampling rates for the stratified sample (pipeline config;
# deterministic md5 thresholding so any engine draws the same sample)
SAMPLE_RATES = {"en": 0.5, "de": 1.0, "fr": 0.25, "es": 0.75}

MIX_TARGET_FRAC = 0.4  # corpus_mix_plan: sample 40% of the corpus overall
N_SHARDS = 16

SEMDEDUP_K = 16        # coarse clusters (see semdedup_k for the scale rule)
SEMDEDUP_THRESHOLD = 0.4  # within-cluster near-dup cosine (config; low here
                          # because the synthetic corpus has no true dups —
                          # production text embeddings use ~0.95+)


def _u01(dialect: str, key: str) -> str:
    """Deterministic uniform [0,1) from a key: first 8 md5 hex digits /
    2^32.  Identical bit-for-bit in every engine (exact binary fractions),
    unlike engine-native rand()."""
    h = hex_to_int(dialect, f"substr(md5(CAST({key} AS STRING)), 1, 8)")
    # divide in DOUBLE explicitly: a bare 4294967296.0 literal parses as
    # DECIMAL in Spark SQL (and DOUBLE in DuckDB), which both changes the
    # output column type and silently drops the exact-binary-fraction
    # property this helper promises
    return f"({h} / CAST(4294967296 AS DOUBLE))"


def grams_rel(dialect: str) -> str:
    """Word ``GRAM_K``-gram relation (doc_id, gram) over normalized text.

    Single explode of gram start positions over the token array — map-only;
    DISTINCT is deferred to the consumers that need set semantics.
    """
    toks = arr_filter_nonempty(
        dialect, split_re(dialect, NORM(dialect), "[^a-z0-9]+")
    )
    n = arr_len(dialect, "toks")
    gram = arr_join(dialect, arr_slice(dialect, "toks", "i", str(GRAM_K)), " ")
    return f"""
doc_toks AS (
  SELECT doc_id, {toks} AS toks FROM documents
),
grams AS (
  SELECT doc_id, {gram} AS gram
  FROM (
    SELECT doc_id, toks, {explode_seq(dialect, 1, f"{n} - {GRAM_K} + 1")} AS i
    FROM doc_toks WHERE {n} >= {GRAM_K}
  ) g
)"""


def decontaminate_sql(dialect: str) -> str:
    """Benchmark decontamination: flag training documents sharing any word
    ``GRAM_K``-gram with the held-out benchmark subset (doc_id % BENCH_MOD
    = 0) — the standard eval-contamination scan (n-gram collision against
    the test suite) run before training-set finalization.

    Scale: the benchmark gram set is tiny (the eval suites) -> broadcast
    semi-join against the corpus grams; per-doc counts are one keyed agg.
    """
    return f"""
WITH {grams_rel(dialect)},
bench_grams AS (
  SELECT DISTINCT gram FROM grams WHERE doc_id % {BENCH_MOD} = 0
),
train_grams AS (
  SELECT DISTINCT doc_id, gram FROM grams WHERE doc_id % {BENCH_MOD} <> 0
),
overlap AS (
  SELECT t.doc_id, COUNT(*) AS n_overlap
  FROM train_grams t JOIN bench_grams b ON t.gram = b.gram
  GROUP BY t.doc_id
),
totals AS (
  SELECT doc_id, COUNT(*) AS n_grams FROM train_grams GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(t.n_grams AS BIGINT) AS n_grams,
       CAST(COALESCE(o.n_overlap, 0) AS BIGINT) AS n_overlap,
       CASE WHEN COALESCE(o.n_overlap, 0) > 0 THEN 1 ELSE 0 END AS contaminated
FROM totals t LEFT JOIN overlap o ON t.doc_id = o.doc_id
"""


def stratified_sample_sql(dialect: str) -> str:
    """Per-language stratified sample via deterministic md5 thresholding —
    training-mixture construction where each language keeps its configured
    rate.  Map-only: every row decides its own fate from its key; no
    shuffle, no global state, reproducible on any engine/cluster layout.
    """
    u = _u01(dialect, "doc_id")
    rate = "CASE " + " ".join(
        f"WHEN lang = '{lang}' THEN {r}" for lang, r in SAMPLE_RATES.items()
    ) + " ELSE 0.0 END"
    return f"""
SELECT doc_id, lang, source, round({u}, 6) AS u
FROM documents
WHERE {u} < {rate}
"""


def corpus_mix_plan_sql(dialect: str) -> str:
    """Mixture planning: given equal per-language target weights over a
    ``MIX_TARGET_FRAC`` overall budget, compute each language's planned take
    (capped at availability) and the achieved proportion — the arithmetic a
    data-mixing stage runs before drawing the actual sample.  Aggregates a
    per-language count relation (#languages rows); corpus touched once.
    The target floors no lower than 1 so a small or language-diverse corpus
    still plans a non-empty mixture (and fill_ratio never divides by zero).
    """
    return f"""
WITH by_lang AS (
  SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang
),
budget AS (
  SELECT GREATEST(CAST(1 AS BIGINT),
                  CAST(FLOOR(SUM(n_docs) * {MIX_TARGET_FRAC} / COUNT(*)) AS BIGINT))
         AS per_lang_target
  FROM by_lang
)
SELECT l.lang,
       CAST(l.n_docs AS BIGINT) AS n_docs,
       CAST(LEAST(l.n_docs, b.per_lang_target) AS BIGINT) AS take_n,
       round(CAST(LEAST(l.n_docs, b.per_lang_target) AS DOUBLE)
             / b.per_lang_target, 4) AS fill_ratio
FROM by_lang l CROSS JOIN budget b
"""


MIX_ALPHA = 0.7  # temperature exponent (multilingual-LM convention)


def temperature_mix_sql(dialect: str) -> str:
    """Temperature-based language mixing (Conneau & Lample, NeurIPS 2019;
    the multilingual-LM sampling rule): sampling share p_l proportional to
    n_l^alpha with alpha={MIX_ALPHA} — flattening the natural distribution
    so low-resource languages are upsampled relative to their counts without
    equalizing outright (alpha=1 is natural sampling, alpha=0 uniform).

    Emits, per language: natural share, temperature share, the per-document
    sampling weight ratio (temperature/natural — >1 means upsampled), and
    the planned take under a {MIX_TARGET_FRAC} overall budget capped at
    availability (oversampling beyond availability means repetition, which
    is reported as repeat_factor rather than silently clipped).

    Scale: one corpus scan to the #languages-row relation; all mixture
    arithmetic on that tiny frame. POWER over doubles rounds to 6 dp at the
    output boundary (engine libm agreement measured by the parity gate).
    """
    return f"""
WITH by_lang AS (
  SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang
),
tot AS (
  SELECT SUM(n_docs) AS n_total,
         SUM(POWER(n_docs, {MIX_ALPHA})) AS pow_total
  FROM by_lang
)
SELECT l.lang,
       CAST(l.n_docs AS BIGINT) AS n_docs,
       ROUND(CAST(l.n_docs AS DOUBLE) / t.n_total, 6) AS natural_share,
       ROUND(POWER(l.n_docs, {MIX_ALPHA}) / t.pow_total, 6) AS temp_share,
       ROUND((POWER(l.n_docs, {MIX_ALPHA}) / t.pow_total)
             / (CAST(l.n_docs AS DOUBLE) / t.n_total), 6) AS upsample_ratio,
       CAST(LEAST(l.n_docs,
                  CAST(ROUND(POWER(l.n_docs, {MIX_ALPHA}) / t.pow_total
                             * t.n_total * {MIX_TARGET_FRAC}, 0) AS BIGINT))
            AS BIGINT) AS take_n,
       ROUND(GREATEST(1.0,
             (POWER(l.n_docs, {MIX_ALPHA}) / t.pow_total * t.n_total
              * {MIX_TARGET_FRAC}) / l.n_docs), 6) AS repeat_factor
FROM by_lang l CROSS JOIN tot t
"""


def snapshot_delta_sql(dialect: str) -> str:
    """Incremental (snapshot-delta) exact dedup: treat sources src0-src9 as
    the previous snapshot and src10+ as the new crawl; keep only new
    documents whose normalized-text fingerprint does not already exist in
    the old snapshot, deduping within the new batch by lowest doc_id.

    The 100 TB shape: the old snapshot contributes only its fingerprint
    index (hash join key), never its text; NOT EXISTS plans as a left-anti
    hash join in both engines.

    Sources that do not match ``src<N>`` classify as new-crawl (src_num
    NULL): an unrecognized source must still flow through dedup rather than
    silently vanish — and the regex guard keeps DuckDB's strict CAST from
    erroring where Spark's would yield NULL.
    """
    fp = f"md5({NORM(dialect)})"
    src_num = (
        "CASE WHEN " + rx(dialect, "source", "^src[0-9]+$")
        + " THEN CAST(substr(source, 4) AS INT) END"
    )
    return f"""
WITH fingerprints AS (
  SELECT doc_id, source, {fp} AS fp,
         {src_num} AS src_num
  FROM documents
),
old_fp AS (
  SELECT DISTINCT fp FROM fingerprints WHERE src_num < 10
),
new_docs AS (
  SELECT doc_id, source, fp FROM fingerprints
  WHERE src_num >= 10 OR src_num IS NULL
),
fresh AS (
  SELECT n.doc_id, n.source, n.fp
  FROM new_docs n
  WHERE NOT EXISTS (SELECT 1 FROM old_fp o WHERE o.fp = n.fp)
)
SELECT doc_id, source, fp FROM (
  SELECT doc_id, source, fp,
         ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rk
  FROM fresh
) d WHERE rk = 1
"""


def shard_assign_sql(dialect: str) -> str:
    """Deterministic hash sharding of the training corpus into ``N_SHARDS``
    output shards (global shuffle for training): shard = md5(doc_id) mod
    N_SHARDS.  Emits the per-shard manifest (doc/char counts) a writer would
    use; the assignment itself is map-only and engine-independent —
    re-running on any cluster reproduces byte-identical shards.
    """
    h = hex_to_int(dialect, "substr(md5(CAST(doc_id AS STRING)), 1, 8)")
    return f"""
WITH assigned AS (
  SELECT doc_id, n_chars, CAST({h} % {N_SHARDS} AS INT) AS shard
  FROM documents
)
SELECT shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc
FROM assigned GROUP BY shard
"""


_PHONE_PAT = "[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}"
_EMAIL_PAT = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+[.][a-zA-Z]{2,}"


def pii_scan_sql(dialect: str) -> str:
    """PII scan + redaction — the pre-release scrub a training pipeline runs
    on any source that can carry personal data.  The reduced test corpus has
    no PII-bearing columns, so the scanned text is a DETERMINISTIC contact
    blob constructed per customer row (key-derived phone; email on every
    third row) — the detection + redaction mechanics are the operator; the
    blob is the fixture.  Pure per-row regex, map-only, RE2-safe patterns
    shared by both engines.
    """
    blob = (
        "concat(c_name, ' ph: ', "
        "lpad(CAST(c_custkey % 100 AS STRING), 2, '0'), '-', "
        "lpad(CAST(c_custkey % 1000 AS STRING), 3, '0'), '-', "
        "lpad(CAST((c_custkey * 7) % 1000 AS STRING), 3, '0'), '-', "
        "lpad(CAST((c_custkey * 31) % 10000 AS STRING), 4, '0'), "
        "CASE WHEN c_custkey % 3 = 0 "
        "THEN concat(' mail: c', CAST(c_custkey AS STRING), '@example.com') "
        "ELSE '' END)"
    )
    phones = re_extract_all_count(dialect, "blob", _PHONE_PAT)
    emails = re_extract_all_count(dialect, "blob", _EMAIL_PAT)
    # redact: digits -> '#', then mask the email local part
    red = rr(dialect, rr(dialect, "blob", _PHONE_PAT, "##-###-###-####"),
             _EMAIL_PAT, "<email>")
    return f"""
WITH blobs AS (
  SELECT c_custkey AS custkey, {blob} AS blob FROM customer
)
SELECT custkey,
       CAST({phones} AS BIGINT) AS phone_hits,
       CAST({emails} AS BIGINT) AS email_hits,
       {red} AS redacted
FROM blobs
"""


def semdedup_k(n_vectors: int, target_cluster_size: int = 4096) -> int:
    """Scale rule for the cluster count: k ~ n / target keeps the
    within-cluster pair join bounded (expected cluster = target, pairs =
    n·target/2) as the corpus grows; SEMDEDUP_K = 16 matches the test
    corpus (500 vectors / 32). ``semdedup_geom_rel`` is this formula's
    in-query SQL twin — the registered query derives k from the corpus at
    runtime, so a 100x corpus gets more clusters with no code change."""
    return max(16, n_vectors // target_cluster_size)


def semdedup_geom_rel(dialect: str, target_cluster_size: int = 4096) -> str:
    """Single-row relation computing the cluster count from the CORPUS SIZE
    (SQL twin of ``semdedup_k``, same pattern as similarity.ann_geom_rel)."""
    return (
        f"sem_geom AS (SELECT GREATEST({SEMDEDUP_K}, "
        f"CAST(COUNT(*) / {target_cluster_size} AS BIGINT)) AS k "
        "FROM embeddings)"
    )


def semdedup_sql(dialect: str,
                 threshold: float = SEMDEDUP_THRESHOLD) -> str:
    """Semantic dedup (SemDeDup, arXiv:2303.09540): cluster embeddings with
    coarse centroids, then inside each cluster drop every vector that
    has a lower-id near-duplicate (cosine >= threshold).  Emits the drop
    list with the kept representative and the max offending similarity.

    The cluster count is derived IN-QUERY from the corpus size
    (``semdedup_geom_rel`` — k grows with n so the within-cluster pair join
    stays bounded at any scale; evaluates to SEMDEDUP_K=16 on the test
    corpus, keeping the oracle stable). Candidates are an equi-join on
    cluster id — the all-pairs scan SemDeDup exists to avoid never happens;
    assignment is a broadcast nested-loop over k tiny centroids (no corpus
    shuffle).
    """
    cos_assign = cosine_expr(dialect, "v.embedding", "cen.centroid")
    cos_pair = cosine_expr(dialect, "a.embedding", "b.embedding")
    return f"""
WITH {semdedup_geom_rel(dialect)},
cand AS (
  SELECT vec_id AS centroid_id, embedding AS centroid,
         ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS STRING)), vec_id) AS rn
  FROM embeddings
),
centroids AS (
  SELECT centroid_id, centroid FROM cand WHERE rn <= (SELECT k FROM sem_geom)
),
assigned AS (
  SELECT vec_id, embedding, centroid_id FROM (
    SELECT v.vec_id, v.embedding, cen.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
                              ORDER BY round({cos_assign}, 6) DESC,
                                       cen.centroid_id ASC) AS rk
    FROM embeddings v CROSS JOIN centroids cen
  ) a WHERE rk = 1
),
pairs AS (
  SELECT a.centroid_id, a.vec_id AS keep_id, b.vec_id AS drop_id,
         round({cos_pair}, 6) AS cosine
  FROM assigned a
  JOIN assigned b ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
  WHERE round({cos_pair}, 6) >= {threshold}
)
SELECT drop_id AS dropped_id,
       CAST(MIN(keep_id) AS BIGINT) AS kept_id,
       CAST(MIN(centroid_id) AS BIGINT) AS cluster_id,
       MAX(cosine) AS max_cosine
FROM pairs GROUP BY drop_id
"""


# spread=True only where there is per-row text compute to parallelize from a
# single-file local input (decontaminate's gram explode, snapshot-delta's
# full-text md5); for map-only/key-hash queries the round-robin repartition
# is a pure-overhead shuffle (and Spark pushes the filter below it).
register("decontaminate", oracle=decontaminate_sql(DUCKDB),
         doc=f"benchmark decontamination: word {GRAM_K}-gram overlap vs the "
         "held-out subset, per-doc contamination flag")(sql_runner(decontaminate_sql, ("documents",), spread=True))
register("stratified_sample", oracle=stratified_sample_sql(DUCKDB),
         doc="per-language stratified sample via deterministic md5 threshold "
         "(map-only, engine-independent draw)")(sql_runner(stratified_sample_sql, ("documents",)))
register("corpus_mix_plan", oracle=corpus_mix_plan_sql(DUCKDB),
         doc="mixture planning: per-language take under an equal-weight "
         "budget with availability caps")(sql_runner(corpus_mix_plan_sql, ("documents",)))
register("temperature_mix_plan", oracle=temperature_mix_sql(DUCKDB),
         doc="temperature-based language mixing (p ~ n^0.7, Conneau & "
         "Lample): shares, upsample ratios, budgeted takes, repeat "
         "factors")(sql_runner(temperature_mix_sql, ("documents",)))
register("snapshot_delta_dedup", oracle=snapshot_delta_sql(DUCKDB),
         doc="incremental dedup: new-crawl docs anti-joined against the old "
         "snapshot's fingerprint index")(sql_runner(snapshot_delta_sql, ("documents",), spread=True))
register("shard_assign", oracle=shard_assign_sql(DUCKDB),
         doc=f"deterministic {N_SHARDS}-way hash sharding manifest "
         "(global training shuffle)")(sql_runner(shard_assign_sql, ("documents",)))
register("pii_scan_customer", oracle=pii_scan_sql(DUCKDB),
         doc="PII scan + digit redaction over customer contact columns "
         "(map-only regex)")(sql_runner(pii_scan_sql, ("customer",)))
register("semdedup", oracle=semdedup_sql(DUCKDB),
         doc="semantic dedup (SemDeDup): within-cluster near-dup drop list "
         "over embeddings")(sql_runner(semdedup_sql, ("embeddings",), spread=True))


# --- curriculum ordering ------------------------------------------------------


def curriculum_plan_sql(dialect: str) -> str:
    """Curriculum ordering plan: assign every document a curriculum STAGE by
    quality quantile (stage 0 = most natural text first, the canonical
    easy-to-hard schedule) plus a deterministic within-stage shuffle key —
    the step between corpus selection and sequence packing.

    Scale shape: ENTIRELY WINDOW-FREE over the corpus. The quartile
    boundaries come from the count-histogram quantile (cumulative window
    over the TINY distinct-score relation, the engine's standard exact-
    quantile pattern); stage assignment is then a map-side comparison, and
    the within-stage order is a deterministic md5 shuffle key the CONSUMER
    sorts by (emitting a key instead of ranking defers the only global sort
    to the writer that needs it, exactly like shard_assign). Documents tied
    on a boundary score share a stage — deterministic, and the stages stay
    within one tie-group of 25% each; an exact-quarter split would need a
    global rank, the wrong plan at scale.
    """
    from serene_spark.operators.text_analysis import text_quality_sql

    return f"""
WITH tq AS ({text_quality_sql(dialect)}),
scored AS (
  SELECT doc_id, stopword_ratio AS score FROM tq
),
hist AS (
  SELECT score, COUNT(*) AS c FROM scored GROUP BY score
),
cum AS (
  SELECT score,
         SUM(c) OVER (ORDER BY score) AS cc,
         SUM(c) OVER () AS n
  FROM hist
),
bounds AS (
  SELECT MIN(CASE WHEN cc >= ceil(0.25 * n) THEN score END) AS q1,
         MIN(CASE WHEN cc >= ceil(0.50 * n) THEN score END) AS q2,
         MIN(CASE WHEN cc >= ceil(0.75 * n) THEN score END) AS q3
  FROM cum
)
SELECT s.doc_id, s.score,
       CAST(CASE WHEN s.score > (SELECT q3 FROM bounds) THEN 0
                 WHEN s.score > (SELECT q2 FROM bounds) THEN 1
                 WHEN s.score > (SELECT q1 FROM bounds) THEN 2
                 ELSE 3 END AS INT) AS stage,
       substr(md5(CAST(s.doc_id AS STRING)), 1, 16) AS shuffle_key
FROM scored s
"""


register(
    "curriculum_plan",
    oracle=curriculum_plan_sql(DUCKDB),
    doc="curriculum stages by quality quantile (stage 0 = most natural "
    "first) + deterministic within-stage shuffle key; window-free over "
    "the corpus — boundaries from the count-histogram quantile",
)(sql_runner(curriculum_plan_sql, ("documents",)))


EXEMPLARS_PER_SOURCE = 3


def exemplars_sql(dialect: str) -> str:
    """Deterministic k-exemplar sample per source — the "show me a few
    examples from each slice" op every pipeline debugging session starts
    with.  Rank by md5(doc_id) WITHIN each source (keyed window, never a
    global sort; the hash order makes the sample uniform and identical on
    any engine/cluster layout, unlike LIMIT which samples whatever
    partition arrives first), keep the first k, emit a preview.
    """
    h = f"md5(CAST(doc_id AS STRING))"
    return f"""
SELECT source, doc_id, n_chars, substr(text, 1, 80) AS preview
FROM (
  SELECT source, doc_id, n_chars, text,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY {h}, doc_id) AS rn
  FROM documents
) r WHERE rn <= {EXEMPLARS_PER_SOURCE}
"""


register(
    "per_source_exemplars",
    oracle=exemplars_sql(DUCKDB),
    doc=f"deterministic {EXEMPLARS_PER_SOURCE}-exemplar sample per source "
    "(md5-ordered keyed rank — uniform, engine-independent, never a "
    "partition-order LIMIT)",
)(sql_runner(exemplars_sql, ("documents",)))


# --- Source-level quality profile: the host/domain filtering stage ----------

SRC_PASS_RATE_MIN = 0.5   # keep a source only if >= half its docs pass quality
SRC_DUP_RATE_MAX = 0.3    # ...and no more than 30% are exact duplicates


def source_quality_sql(dialect: str) -> str:
    """Per-source curation profile — the RefinedWeb/CCNet "filter at the
    host level" stage: individual-document gates miss systematically bad
    SOURCES (template farms, mirror hosts), which show up as low pass
    rates and high duplicate rates in aggregate.  One profile row per
    source: doc count, quality-gate pass rate, exact-duplicate rate
    (corpus-wide md5 groups — a mirror host's copies count against IT,
    not the canonical source, because only non-keeper docs are dups),
    language spread + majority language, mean length, and the keep/drop
    decision at the documented thresholds.

    Scale shape (100 TB): three doc-keyed aggs (quality, lang, hash
    keeper) joined doc-keyed, then ONE reduce to source cardinality;
    the majority language comes from the (source, lang) count relation
    (source x lang cardinality, never data-scale).  All rates are exact
    integer-count divisions.
    """
    from serene_spark.operators.dedup import dedup_exact_sql, norm_expr
    from serene_spark.operators.text_analysis import lang_id_sql, text_quality_sql

    return f"""
WITH q AS ({text_quality_sql(dialect)}),
l AS ({lang_id_sql(dialect)}),
k AS ({dedup_exact_sql(dialect)}),
hashed AS (
  SELECT doc_id, md5({norm_expr(dialect)}) AS text_hash FROM documents
),{source_quality_tail_body(dialect)}
"""


def source_quality_base_views(dialect: str) -> list[tuple[str, str]]:
    """The three composed sub-queries + the hash relation as FULL
    statements (each internally tokenizes/scans documents) — the Spark
    runner materializes each ONCE; inlined, the profile re-derived the
    documents scan 12 times."""
    from serene_spark.operators.dedup import dedup_exact_sql, norm_expr
    from serene_spark.operators.text_analysis import lang_id_sql, text_quality_sql

    return [
        ("q", text_quality_sql(dialect)),
        ("l", lang_id_sql(dialect)),
        ("k", dedup_exact_sql(dialect)),
        ("hashed", f"SELECT doc_id, md5({norm_expr(dialect)}) AS text_hash FROM documents"),
    ]


def source_quality_tail_sql(dialect: str) -> str:
    return f"""
WITH {source_quality_tail_body(dialect)}
"""


def source_quality_tail_body(dialect: str) -> str:
    return f"""
flags AS (
  -- LEFT JOINs on the token-derived relations: a zero-token document
  -- has no quality/lang row but must still count in the source's
  -- denominator (as failing quality, language 'unknown') — dropping it
  -- would let a host full of unusable docs look BETTER in the profile
  SELECT d.source, d.doc_id, d.n_chars,
         CAST(COALESCE(q.quality_pass, 0.0) AS INT) AS passes,
         COALESCE(l.pred_lang, 'unknown') AS pred_lang,
         CASE WHEN hx.doc_id = k.keeper_doc_id THEN 0 ELSE 1 END AS is_dup
  FROM documents d
  LEFT JOIN q ON q.doc_id = d.doc_id
  LEFT JOIN l ON l.doc_id = d.doc_id
  JOIN hashed hx ON hx.doc_id = d.doc_id
  JOIN k ON k.text_hash = hx.text_hash
),
lang_counts AS (
  SELECT source, pred_lang, COUNT(*) AS n
  FROM flags GROUP BY source, pred_lang
),
major AS (
  SELECT source, pred_lang AS top_lang, n AS top_lang_n
  FROM (
    SELECT source, pred_lang, n,
           ROW_NUMBER() OVER (PARTITION BY source
                              ORDER BY n DESC, pred_lang ASC) AS rn
    FROM lang_counts
  ) r WHERE rn = 1
),
prof AS (
  SELECT source,
         COUNT(*) AS n_docs,
         SUM(passes) AS n_pass,
         SUM(is_dup) AS n_dup,
         SUM(n_chars) AS sum_chars,
         COUNT(DISTINCT pred_lang) AS n_langs
  FROM flags GROUP BY source
)
SELECT p.source,
       CAST(p.n_docs AS BIGINT) AS n_docs,
       ROUND(CAST(p.n_pass AS DOUBLE) / p.n_docs, 6) AS pass_rate,
       ROUND(CAST(p.n_dup AS DOUBLE) / p.n_docs, 6) AS dup_rate,
       ROUND(CAST(p.sum_chars AS DOUBLE) / p.n_docs, 6) AS mean_chars,
       CAST(p.n_langs AS BIGINT) AS n_langs,
       m.top_lang,
       ROUND(CAST(m.top_lang_n AS DOUBLE) / p.n_docs, 6) AS top_lang_share,
       CAST(CASE WHEN CAST(p.n_pass AS DOUBLE) / p.n_docs >= {SRC_PASS_RATE_MIN}
                  AND CAST(p.n_dup AS DOUBLE) / p.n_docs <= {SRC_DUP_RATE_MAX}
            THEN 1 ELSE 0 END AS INT) AS keep_source
FROM prof p JOIN major m ON m.source = p.source
ORDER BY p.source
"""


register(
    "source_quality_profile",
    oracle=source_quality_sql(DUCKDB),
    doc="per-source curation profile (host-level filtering stage): quality "
    "pass rate, exact-dup rate (non-keeper docs), language spread + "
    "majority, mean length, keep/drop decision at documented thresholds",
)(sql_runner(source_quality_tail_sql, ("documents",), spread=True,
             stages=source_quality_base_views))
