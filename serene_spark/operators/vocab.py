"""Vocabulary induction and embedding-space audit operators.

* ``bpe_top_merges`` — the statistic one BPE training round computes
  (Sennrich et al., "Neural Machine Translation of Rare Words with Subword
  Units", ACL 2016): frequencies of ADJACENT token pairs within documents,
  ranked; the top pair is the round's merge.  Each fixed round is plain
  SQL (adjacent index pairs from one position explode — map-only), so the
  per-round statistic is oracle-exact;
  a full trainer loops this exact query, re-tokenizing with the merged
  vocabulary between rounds (iterative — the driver shape, like Lloyd
  refinement in IVF).
* ``embedding_dim_stats`` — per-dimension mean / std / min / max / zero
  fraction over the embedding corpus: the feature-scaling audit run before
  normalization or ANN indexing (dead or degenerate dimensions break
  cosine geometry).  Variance derives from decimal-exact Σx and Σx², so
  partial-aggregation order cannot move it.

Scale shapes: both are one scan + one keyed agg; the pair relation keys on
(token pair) — high cardinality; the dim relation keys on dimension index
(64 keys) but the map-side combine reduces each partition to 64 rows before
the shuffle, so parallelism caps only at the reduce (standard).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from serene_spark.catalog import register_views, sql_runner
from serene_spark.functions.sqlgen import (
    DUCKDB,
    SPARK,
    arr_len,
    element_at,
    explode_seq,
    mat,
    split_re,
)
from serene_spark.operators.text_analysis import NORM
from serene_spark.registry import register
from serene_spark.materialize import materialize

TOP_MERGES = 20
EMB_DIM = 64


def bpe_top_merges_sql(dialect: str) -> str:
    """Adjacent-pair frequencies over in-document token order, top-{TOP_MERGES}."""
    toks = split_re(dialect, NORM(dialect), "[^a-z0-9]+")
    n = arr_len(dialect, "toks")
    t_i = element_at(dialect, "toks", "i")
    t_next = element_at(dialect, "toks", "i + 1")
    return f"""
WITH doc_toks AS (
  SELECT doc_id, toks FROM (SELECT doc_id, {toks} AS toks FROM documents) d
),
pairs AS (
  SELECT {t_i} AS left_tok, {t_next} AS right_tok
  FROM (
    SELECT doc_id, toks, {explode_seq(dialect, 1, f"{n} - 1")} AS i
    FROM doc_toks WHERE {n} >= 2
  ) p
  WHERE {t_i} <> '' AND {t_next} <> ''
),
counts AS (
  SELECT left_tok, right_tok, COUNT(*) AS pair_count
  FROM pairs GROUP BY left_tok, right_tok
)
SELECT left_tok, right_tok, CAST(pair_count AS BIGINT) AS pair_count
FROM counts
ORDER BY pair_count DESC, left_tok, right_tok
LIMIT {TOP_MERGES}
"""


# --- full BPE trainer (iterative; the loop the per-round query documents) ---

BPE_MERGES = 30
EOW = "</w>"  # end-of-word marker (Sennrich et al., ACL 2016, Algorithm 1)


def _merge_fold(left: str, right: str):
    """Left-to-right non-overlapping merge of adjacent (left, right) symbol
    pairs in the ``syms`` array, as one ``aggregate()`` fold — pure
    Catalyst expressions, no Python in the loop.

    Accumulator = (out array, pending: did the previous element equal
    ``left`` without being emitted yet). Step cases, in order:
      pending & x = right -> emit left||right, clear pending
      pending & x = left  -> emit the stranded left, STAY pending (so
                             "a a b" under (a,b) gives [a, ab])
      pending             -> emit the stranded left then x
      x = left            -> hold (pending)
      otherwise           -> emit x
    Finish: a still-pending left is emitted. This reproduces the classic
    Sennrich merge exactly, including the left==right case ("aaa" under
    (a,a) -> [aa, a]); literals bind as Columns so corpus tokens
    containing quotes cannot break the expression."""
    from pyspark.sql import functions as F

    l_, r_, lr = F.lit(left), F.lit(right), F.lit(left + right)

    def step(acc, x):
        out, pending = acc["out"], acc["pending"]
        return (
            F.when(pending & (x == r_),
                   F.struct(F.concat(out, F.array(lr)).alias("out"),
                            F.lit(False).alias("pending")))
            .when(pending & (x == l_),
                  F.struct(F.concat(out, F.array(l_)).alias("out"),
                           F.lit(True).alias("pending")))
            .when(pending,
                  F.struct(F.concat(out, F.array(l_, x)).alias("out"),
                           F.lit(False).alias("pending")))
            .when(x == l_,
                  F.struct(out.alias("out"), F.lit(True).alias("pending")))
            .otherwise(F.struct(F.concat(out, F.array(x)).alias("out"),
                                F.lit(False).alias("pending")))
        )

    return F.aggregate(
        F.col("syms"),
        F.struct(F.expr("cast(array() as array<string>)").alias("out"),
                 F.lit(False).alias("pending")),
        step,
        lambda acc: F.when(acc["pending"],
                           F.concat(acc["out"], F.array(l_)))
                     .otherwise(acc["out"]),
    )


def bpe_train(spark: SparkSession, sf_dir: str, n_merges: int = BPE_MERGES):
    """The FULL Sennrich BPE trainer, distributed:

    1. ONE corpus scan reduces to the word-frequency relation (the classic
       trainer's dict) — everything after runs on vocabulary-sized data;
    2. each round: adjacent symbol-pair counts weighted by word frequency
       (posexplode + keyed agg, map-side combined), deterministic argmax
       (count DESC, pair ASC) — ONE tiny row to the driver per round;
    3. the winning pair merges left-to-right non-overlapping in every
       word's symbol array via ``aggregate()`` — a single left-fold over
       the array with a (emitted, pending-left?) accumulator, entirely
       JVM-side Catalyst expressions: no Python crosses the boundary in
       the hot loop at all — and the vocab re-materializes every few
       rounds to bound loop lineage.

    Returns (merges, vocab_df): merges = [(left, right, weighted_count)],
    vocab_df = (word, freq, syms) after all merges. Pinned merge-for-merge
    against a pure-python reference in tests/test_vocab.py.
    """
    from pyspark.sql import functions as F

    from serene_spark.operators.text_analysis import tokens_rel

    register_views(spark, sf_dir, ("documents",), spread=True)
    word_freq = spark.sql(
        f"WITH {tokens_rel(SPARK)} "
        "SELECT tok AS word, COUNT(*) AS freq FROM tokens GROUP BY tok"
    )
    vocab = word_freq.select(
        "word",
        "freq",
        F.concat(
            F.split(F.col("word"), ""), F.array(F.lit(EOW))
        ).alias("syms"),
    ).transform(materialize)

    merges: list[tuple[str, str, int]] = []
    for rnd in range(n_merges):
        vocab.createOrReplaceTempView("__bpe_vocab")
        best = spark.sql(
            """
SELECT l, r, SUM(freq) AS cnt FROM (
  SELECT freq, syms[i] AS l, syms[i + 1] AS r
  FROM (
    SELECT freq, syms, explode(sequence(0, size(syms) - 2)) AS i
    FROM __bpe_vocab WHERE size(syms) >= 2
  ) p
) q GROUP BY l, r ORDER BY cnt DESC, l, r LIMIT 1
"""
        ).collect()
        if not best or best[0]["cnt"] is None:
            break
        left, right, cnt = best[0]["l"], best[0]["r"], int(best[0]["cnt"])
        merges.append((left, right, cnt))

        vocab = vocab.select(
            "word", "freq", _merge_fold(left, right).alias("syms"))
        if rnd % 5 == 4 or rnd == n_merges - 1:  # bound loop lineage
            vocab = vocab.transform(materialize)
    spark.catalog.dropTempView("__bpe_vocab")
    return merges, vocab


@register(
    "bpe_trained_merges",
    oracle=None,  # iterative trainer — rows-only; merge sequence pinned
    # against a pure-python Sennrich reference in tests/test_vocab.py
    doc=f"FULL BPE trainer (Sennrich ACL 2016): {BPE_MERGES} merge rounds "
    "over the word-frequency relation — per-round weighted pair argmax + "
    "JVM-side aggregate() fold for the symbol merge (no Python in the loop); "
    "the loop bpe_top_merges documents",
)
def bpe_trained_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    merges, _vocab = bpe_train(spark, sf_dir)
    return spark.createDataFrame(
        [(i + 1, l, r, c) for i, (l, r, c) in enumerate(merges)],
        "round int, left string, right string, weighted_count bigint",
    )



def emb_dims_rel(dialect: str, with_label: bool = False) -> str:
    """The SHARED micro-unit-quantized (dim, value[, label]) relation every
    embedding audit reads: values quantize to integer micro-units via FLOOR
    of the exact float->double value — float->DECIMAL casts round
    differently across engines at the last digit (measured), while double
    multiply + FLOOR is IEEE-identical everywhere.  One definition so the
    quantization convention cannot desync across audits."""
    v = element_at(dialect, "embedding", "i")
    label = "label, " if with_label else ""
    return f"""dims AS (
  SELECT i, {label}CAST(FLOOR(CAST({v} AS DOUBLE) * 1000000) AS BIGINT) AS x
  FROM (
    SELECT {label}embedding, {explode_seq(dialect, 1, EMB_DIM)} AS i FROM embeddings
  ) e
)"""


def embedding_dim_stats_sql(dialect: str) -> str:
    """Values quantize to integer MICRO-UNITS via FLOOR of the exact
    float->double value: float->DECIMAL casts round differently across
    engines at the last digit (measured), while double multiply + FLOOR is
    IEEE-identical everywhere.  All moments then run in exact integers."""
    return f"""
WITH {emb_dims_rel(dialect)}
SELECT CAST(i AS BIGINT) AS dim,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(CAST(SUM(x) AS DOUBLE) / COUNT(*) / 1e6, 6) AS mean,
       ROUND(sqrt((CAST(SUM(CAST(x AS DECIMAL(19,0)) * x) AS DOUBLE)
                   - CAST(SUM(x) AS DOUBLE) * CAST(SUM(x) AS DOUBLE) / COUNT(*))
                  / (COUNT(*) - 1)) / 1e6, 6) AS std,
       ROUND(CAST(MIN(x) AS DOUBLE) / 1e6, 6) AS min_x,
       ROUND(CAST(MAX(x) AS DOUBLE) / 1e6, 6) AS max_x,
       ROUND(CAST(SUM(CASE WHEN x = 0 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
         AS zero_frac
FROM dims
GROUP BY i
"""


register(
    "bpe_top_merges",
    oracle=bpe_top_merges_sql(DUCKDB),
    doc=f"BPE training-round statistic: top-{TOP_MERGES} adjacent token-pair "
    "frequencies (the round's merge candidates), distributed TakeOrdered",
)(sql_runner(bpe_top_merges_sql, ("documents",), spread=True))


# --- PMI collocations (Church & Hanks, CL 1990) ------------------------------

PMI_MIN_COUNT = 5
PMI_TOP = 20


def token_pair_block(dialect: str) -> str:
    """Shared CTE block: document token stream -> exact unigram counts +
    adjacent-pair counts + totals — one scan feeds everything; spliced by
    pmi_collocations and ppmi_spectral_embedding so the count definitions
    cannot desync."""
    toks = split_re(dialect, NORM(dialect), "[^a-z0-9]+")
    n = arr_len(dialect, "toks")
    t_i = element_at(dialect, "toks", "i")
    t_next = element_at(dialect, "toks", "i + 1")
    return f"""doc_toks AS (
  SELECT doc_id, toks FROM (SELECT doc_id, {toks} AS toks FROM documents) d
),
uni AS (
  SELECT tok, COUNT(*) AS c FROM (
    SELECT {t_i} AS tok
    FROM (SELECT toks, {explode_seq(dialect, 1, n)} AS i FROM doc_toks) u
  ) t WHERE tok <> '' GROUP BY tok
),
uni_tot AS {mat(dialect)}(SELECT SUM(c) AS n_toks FROM uni),
pairs AS (
  SELECT {t_i} AS left_tok, {t_next} AS right_tok
  FROM (
    SELECT doc_id, toks, {explode_seq(dialect, 1, f"{n} - 1")} AS i
    FROM doc_toks WHERE {n} >= 2
  ) p
  WHERE {t_i} <> '' AND {t_next} <> ''
),
pair_counts AS (
  SELECT left_tok, right_tok, COUNT(*) AS c_xy
  FROM pairs GROUP BY left_tok, right_tok
),
pair_tot AS {mat(dialect)}(SELECT SUM(c_xy) AS n_pairs FROM pair_counts)"""


def pmi_collocations_sql(dialect: str) -> str:
    """Pointwise mutual information of adjacent token pairs:
    PMI(x,y) = ln( (c(x,y)/N_pairs) / ((c(x)/N_toks)·(c(y)/N_toks)) ).
    Counts are exact integers from the SAME token stream bpe_top_merges
    reads; ln happens once per surviving pair (count >= {PMI_MIN_COUNT},
    which kills the low-count PMI explosion).  One scan feeds both the
    unigram and the bigram relation; the final ranking is over the tiny
    filtered pair relation."""
    return f"""
WITH {token_pair_block(dialect)},
scored AS (
  SELECT p.left_tok, p.right_tok, p.c_xy, ux.c AS c_x, uy.c AS c_y,
         ROUND(ln((CAST(p.c_xy AS DOUBLE) / pt.n_pairs)
                  / ((CAST(ux.c AS DOUBLE) / ut.n_toks)
                     * (CAST(uy.c AS DOUBLE) / ut.n_toks))), 6) AS pmi
  FROM pair_counts p
  JOIN uni ux ON p.left_tok = ux.tok
  JOIN uni uy ON p.right_tok = uy.tok
  JOIN pair_tot pt ON 1 = 1
  JOIN uni_tot ut ON 1 = 1
  WHERE p.c_xy >= {PMI_MIN_COUNT}
)
SELECT left_tok, right_tok,
       CAST(c_xy AS BIGINT) AS pair_count,
       CAST(c_x AS BIGINT) AS left_count,
       CAST(c_y AS BIGINT) AS right_count,
       pmi
FROM scored
ORDER BY pmi DESC, left_tok, right_tok
LIMIT {PMI_TOP}
"""


register(
    "pmi_collocations",
    oracle=pmi_collocations_sql(DUCKDB),
    doc=f"PMI collocations (Church & Hanks 1990): top-{PMI_TOP} adjacent "
    f"token pairs by pointwise mutual information, count >= {PMI_MIN_COUNT} "
    "guard against the low-count explosion; exact integer counts, ln at "
    "the edge",
)(sql_runner(pmi_collocations_sql, ("documents",), spread=True))

register(
    "embedding_dim_stats",
    oracle=embedding_dim_stats_sql(DUCKDB),
    doc="per-dimension embedding audit: mean/std/min/max/zero-fraction "
    "with decimal-exact moment sums",
)(sql_runner(embedding_dim_stats_sql, ("embeddings",), spread=True))


# --- int8 scalar quantization audit (the memory tier below PQ) --------------


def embedding_sq8_audit_sql(dialect: str) -> str:
    """Per-dimension INT8 scalar-quantization audit — the cheapest
    embedding compression tier (4x over float32, below PQ's ~16x): each
    dimension maps affinely onto codes 0..255 between its corpus min/max.
    Before committing an index to SQ8, measure what it costs: this audit
    reports per-dimension reconstruction error against the EXACT bound
    step/2 = (max-min)/510 that round-to-nearest quantization guarantees.

    Integer-exact throughout: values quantize to micro-units (the
    embedding_dim_stats convention — float->DECIMAL casts diverge across
    engines, double-multiply + FLOOR is IEEE-identical); the code is
    round-half-up in pure BIGINT arithmetic
    (code = (2*255*(x-min) + range) // (2*range)), and the reconstruction
    error lives in the exact numerator space
    err_255 = 255*(x-min) - code*range, so MSE/max-error aggregate as
    integers (DECIMAL-cast sums) and only the final normalizations divide
    in double.  Degenerate dimensions (max = min) emit code 0 / error 0.

    Scale shape: one scan explodes to (dim, value) -> per-dim min/max
    (64-key agg, map-side combined) -> broadcast-joined back -> per-dim
    error agg.  Two passes over the corpus, both map-side combining to
    64 rows per partition.
    """
    return f"""
WITH {emb_dims_rel(dialect)},
edges AS (
  SELECT i, MIN(x) AS lo, MAX(x) AS hi, MAX(x) - MIN(x) AS rng
  FROM dims GROUP BY i
),
coded AS (
  SELECT d.i, d.x, e.lo, e.hi, e.rng,
         CASE WHEN e.rng = 0 THEN 0
              ELSE CAST(FLOOR((2 * 255 * CAST(d.x - e.lo AS DOUBLE)
                               + e.rng) / (2 * e.rng)) AS BIGINT)
              END AS code
  FROM dims d JOIN edges e ON d.i = e.i
),
errs AS (
  SELECT i, lo, hi, rng, code,
         255 * (x - lo) - code * rng AS err_255
  FROM coded
)
SELECT CAST(i AS BIGINT) AS dim,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(CAST(MIN(lo) AS DOUBLE) / 1e6, 6) AS min_x,
       ROUND(CAST(MAX(hi) AS DOUBLE) / 1e6, 6) AS max_x,
       CAST(MIN(code) AS BIGINT) AS min_code,
       CAST(MAX(code) AS BIGINT) AS max_code,
       ROUND(sqrt(CAST(SUM(CAST(err_255 AS DECIMAL(38,0)) * err_255) AS DOUBLE)
                  / COUNT(*)) / (255.0 * 1e6), 6) AS rms_err,
       ROUND(CAST(MAX(ABS(err_255)) AS DOUBLE) / (255.0 * 1e6), 6) AS max_abs_err,
       ROUND(CAST(MAX(rng) AS DOUBLE) / (510.0 * 1e6), 6) AS err_bound,
       CAST(CASE WHEN MAX(ABS(err_255)) * 510 <= MAX(rng) * 255 + 255
            THEN 1 ELSE 0 END AS INT) AS within_bound
FROM errs
GROUP BY i
ORDER BY i
"""


register(
    "embedding_sq8_audit",
    oracle=embedding_sq8_audit_sql(DUCKDB),
    doc="per-dimension INT8 scalar-quantization audit: round-half-up codes "
    "and reconstruction error in exact integer numerator space, measured "
    "against the step/2 bound round-to-nearest guarantees",
)(sql_runner(embedding_sq8_audit_sql, ("embeddings",), spread=True))


# --- term burstiness (Church & Gale 1995) ------------------------------------

BURST_TOP = 20
BURST_MIN_DOCS = 10


def term_burstiness_sql(dialect: str) -> str:
    """Term burstiness: the variance-to-mean ratio (index of dispersion) of
    a term's PER-DOCUMENT counts (Church & Gale, "Poisson mixtures", 1995).
    A Poisson-scattered function word has VMR ~= 1; a topical term is BURSTY
    (VMR >> 1: absent from most docs, dense in a few) — the signal keyword
    extractors and stopword inducers split on.  Zero-count docs ENTER the
    moments (a term's absence is data): with n_docs total documents and the
    term present in df of them, Sigma x and Sigma x^2 over all docs equal
    the sums over present docs, so no join against absent docs is needed —
    only the corpus doc count.  Exact integer sums; the one division at the
    edge.  Top-{BURST_TOP} burstiest terms with df >= {BURST_MIN_DOCS}."""
    from serene_spark.operators.text_analysis import tokens_rel

    return f"""
WITH {tokens_rel(dialect)},
n_docs AS {mat(dialect)}(SELECT COUNT(*) AS nd FROM documents),
per_doc AS (
  SELECT tok, doc_id, COUNT(*) AS c FROM tokens GROUP BY tok, doc_id
),
moments AS (
  SELECT tok, COUNT(*) AS df, SUM(c) AS s,
         SUM(CAST(c AS DECIMAL(19,0)) * c) AS q
  FROM per_doc GROUP BY tok
),
scored AS (
  SELECT m.tok, m.df, m.s,
         -- mean and variance over ALL nd docs (zeros included)
         CAST(m.s AS DOUBLE) / d.nd AS mean_c,
         (CAST(m.q AS DOUBLE)
          - CAST(m.s AS DOUBLE) * CAST(m.s AS DOUBLE) / d.nd) / (d.nd - 1)
           AS var_c
  FROM moments m JOIN n_docs d ON 1 = 1
  WHERE m.df >= {BURST_MIN_DOCS}
)
SELECT tok AS term,
       CAST(df AS BIGINT) AS doc_freq,
       CAST(s AS BIGINT) AS total_count,
       ROUND(mean_c, 6) AS mean_per_doc,
       ROUND(var_c / mean_c, 6) AS burstiness_vmr
FROM scored
ORDER BY ROUND(var_c / mean_c, 6) DESC, term
LIMIT {BURST_TOP}
"""


register(
    "term_burstiness",
    oracle=term_burstiness_sql(DUCKDB),
    doc=f"Church-Gale term burstiness: variance-to-mean ratio of per-doc "
    f"counts with zero-count docs entering the moments analytically (no "
    f"absent-doc join); top-{BURST_TOP} burstiest terms",
)(sql_runner(term_burstiness_sql, ("documents",), spread=True))


# --- PPMI spectral embedding (oracle-exact iterative linear algebra) ---------

SPEC_VOCAB = 40       # top-V tokens enter the PPMI matrix (<= V^2 cells)
SPEC_MIN_COUNT = 50   # vocab floor (word2vec min_count): rare tokens
                      # explode PPMI (ln(N/c) at c->1) and hijack the
                      # eigenvector — measured on the corpus, where a
                      # count-29 near-dup artifact token dominated
SPEC_ITERS = 3    # unrolled power iterations (the pagerank convention)


def ppmi_spectral_sql(dialect: str) -> str:
    """One-dimensional spectral token embedding: the dominant eigenvector
    of the PPMI co-occurrence matrix, by power iteration — "embedding
    training" the parity gate checks EXACTLY.  Levy & Goldberg ("Neural
    word embedding as implicit matrix factorization", NeurIPS 2014) showed
    SGNS/word2vec factorizes the shifted PPMI matrix; the top spectral
    component of that matrix IS the first embedding dimension, and it is
    computable in pure SQL.

    Numeric convention (the ``pagerank_suppliers`` discipline, so
    aggregation order can never move a value): PPMI cells are
    ROUND(ln(..), 9) DECIMAL(18,9); each mat-vec contribution rounds to
    9 dp BEFORE the sum; each iterate normalizes by its MAX component
    (exact decimal comparison; the iterates stay nonnegative because the
    matrix and start vector are — Perron-Frobenius) with the one division
    done in DOUBLE over exactly-representable decimals.  {SPEC_ITERS}
    unrolled iterations; the convergence-looped production sibling is the
    ``pagerank_converged`` driver pattern.

    Scale shape: the data-scale work is the SAME one-scan token/pair
    block as ``pmi_collocations`` (spliced, cannot desync); everything
    after ``vocab`` is arithmetic on a <= {SPEC_VOCAB}^2-cell relation.
    A d-dimensional production embedding is block Lanczos / randomized
    SVD over the same PPMI relation — this operator is the exactly-
    checkable d=1 case.
    """
    return (
        f"\nWITH {token_pair_block(dialect)},\n"
        + ppmi_matrix_ctes(dialect)
        + ",\n"
        + ppmi_iter_tail(dialect, "m", "vocab")
    )


def ppmi_matrix_ctes(dialect: str, uni_rel: str = "uni",
                     pc_rel: str = "pair_counts") -> str:
    """vocab + PPMI matrix CTEs over existing unigram/pair-count relations
    (CTE names by default; the Spark runner passes materialized views —
    Catalyst inlines CTEs, so the un-materialized form re-derives the
    token explode once per reference: sym + deg x2 + tot ~ 5 scans,
    measured 6.9 s vs 2.2 s at sf0.1)."""
    return f"""vocab AS (
  SELECT tok, c FROM (
    SELECT tok, c, ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS rk
    FROM {uni_rel} WHERE c >= {SPEC_MIN_COUNT}
  ) r WHERE rk <= {SPEC_VOCAB}
),
sym AS (
  SELECT a, b, SUM(c_xy) AS c FROM (
    SELECT left_tok AS a, right_tok AS b, c_xy FROM {pc_rel}
    UNION ALL
    SELECT right_tok, left_tok, c_xy FROM {pc_rel}
  ) s
  JOIN vocab va ON s.a = va.tok
  JOIN vocab vb ON s.b = vb.tok
  GROUP BY a, b
),
deg AS (SELECT a, SUM(c) AS ca FROM sym GROUP BY a),
tot AS {mat(dialect)}(SELECT SUM(c) AS n FROM sym),
m AS (
  SELECT s.a, s.b,
         CAST(ROUND(ln((CAST(s.c AS DOUBLE) * (SELECT n FROM tot))
                       / (CAST(da.ca AS DOUBLE) * db.ca)), 9)
              AS DECIMAL(18,9)) AS w
  FROM sym s
  JOIN deg da ON s.a = da.a
  JOIN deg db ON s.b = db.a
  WHERE (CAST(s.c AS DOUBLE) * (SELECT n FROM tot))
        / (CAST(da.ca AS DOUBLE) * db.ca) > 1.0
)"""


def ppmi_iter_tail(dialect: str, m_rel: str, vocab_rel: str) -> str:
    """The unrolled power iteration + readout over an existing PPMI matrix
    relation — the Spark runner materializes ``m``/``vocab`` first
    (Catalyst inlines CTEs: un-materialized, each of the {SPEC_ITERS}
    nested iterates re-derives the matrix and with it the whole document
    scan — measured 23 s at sf0.1, matrix-materialized ~3 s)."""
    its = []
    prev = "v0"
    for i in range(1, SPEC_ITERS + 1):
        its.append(f"""it{i}r AS (
  SELECT vb.tok,
         COALESCE(CAST(SUM(CAST(ROUND(CAST(mm.w AS DOUBLE)
                                      * CAST(p.v AS DOUBLE), 9)
                               AS DECIMAL(18,9))) AS DECIMAL(18,9)),
                  CAST(0.0 AS DECIMAL(18,9))) AS r
  FROM {vocab_rel} vb
  LEFT JOIN {m_rel} mm ON mm.a = vb.tok
  LEFT JOIN {prev} p ON mm.b = p.tok
  GROUP BY vb.tok
),
n{i} AS {mat(dialect)}(SELECT MAX(r) AS mx FROM it{i}r),
it{i} AS (
  SELECT tok, CAST(ROUND(CAST(r AS DOUBLE)
                         / (SELECT CAST(mx AS DOUBLE) FROM n{i}), 9)
              AS DECIMAL(18,9)) AS v
  FROM it{i}r
)""")
        prev = f"it{i}"
    iter_ctes = ",\n".join(its)
    return f"""v0 AS (SELECT tok, CAST(1.0 AS DECIMAL(18,9)) AS v FROM {vocab_rel}),
{iter_ctes}
SELECT u.tok,
       CAST(u.c AS BIGINT) AS freq,
       f.v AS spectral,
       CAST(ROW_NUMBER() OVER (ORDER BY f.v DESC, u.tok) AS INT) AS pos
FROM it{SPEC_ITERS} f JOIN {vocab_rel} u ON f.tok = u.tok
ORDER BY pos
"""


def _ppmi_stages(dialect: str) -> list[tuple[str, str]]:
    """Spark staging, three materialization tiers: (1) the two data-scale
    token-stream products (unigram + pair counts — the only scans),
    (2) the <= {SPEC_VOCAB}^2 PPMI matrix derived from those views,
    (3) the iteration tail over the tiny matrix (the final statement)."""
    block = token_pair_block(dialect)
    mx = ppmi_matrix_ctes(dialect, "__ppmi_uni", "__ppmi_pc")
    return [
        ("__ppmi_uni", f"WITH {block} SELECT tok, c FROM uni"),
        ("__ppmi_pc", f"WITH {block} SELECT left_tok, right_tok, c_xy FROM pair_counts"),
        ("__ppmi_m", f"WITH {mx} SELECT a, b, w FROM m"),
        ("__ppmi_vocab", f"WITH {mx} SELECT tok, c FROM vocab"),
    ]


register(
    "ppmi_spectral_embedding",
    oracle=ppmi_spectral_sql(DUCKDB),
    doc=f"dominant PPMI eigenvector by {SPEC_ITERS} unrolled power "
    f"iterations over the top-{SPEC_VOCAB} vocab (Levy-Goldberg implicit "
    "matrix factorization, d=1) — embedding training the parity gate "
    "checks exactly; decimal-rounded mat-vec, max-normalized iterates; "
    "Spark runner materializes token-stream products + PPMI matrix so the "
    "iteration tail never re-derives the document scan",
)(sql_runner(
    lambda d: "WITH " + ppmi_iter_tail(d, "__ppmi_m", "__ppmi_vocab"), ("documents",),
    stages=_ppmi_stages))
