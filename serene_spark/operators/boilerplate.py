"""Boilerplate removal and segment-level dedup over the documents table.

The web-corpus curation steps between document-level dedup and quality
filtering: CCNet-style repeated-line removal (Wenzek et al., "CCNet:
Extracting High Quality Monolingual Datasets from Web Crawl Data",
arXiv:1911.00359 — drop lines whose hash repeats across the corpus) and the
paragraph-level first-occurrence dedup of Lee et al., "Deduplicating Training
Data Makes Language Models Better" (arXiv:2107.06499 — exact substring/
paragraph dedup keeps only the first occurrence corpus-wide).

The synthetic corpus has no line structure, so the unit of dedup is a
deterministic segmenter: non-overlapping word ``SEG_W``-gram windows over the
normalized token stream (same role as a line/paragraph splitter on real
text — swap ``segments_rel`` for a newline split and everything downstream
holds).

Scale shapes (100 TB):

* Both operators ship segment FINGERPRINTS (md5) through the shuffle, never
  segment text — the corpus-sized exchanges are (fp -> count) and
  (fp -> first-occurrence rank), both narrow keyed aggs with map-side
  partial aggregation and high-cardinality keys (no skew: segments are
  near-unique by construction).
* boilerplate_strip's document-frequency relation is segment-distinct and
  therefore much smaller than the corpus; the join back to segments is an
  equi-join on fp that AQE plans as broadcast once the df relation fits.
* Text reconstruction (the ordered re-join of kept segments) groups by
  doc_id — one partial-agg-friendly shuffle keyed by the natural document
  key.
"""

from __future__ import annotations

from serene_spark.catalog import sql_runner
from serene_spark.functions.sqlgen import (
    DUCKDB,
    agg_ordered,
    arr_filter_nonempty,
    arr_join,
    arr_len,
    arr_slice,
    explode_seq,
    split_re,
)
from serene_spark.operators.text_analysis import NORM
from serene_spark.registry import register

SEG_W = 8       # words per segment (the "line" stand-in)
BOILER_DF = 2   # segment document-frequency >= this -> boilerplate


def segments_rel(dialect: str) -> str:
    """Relation (doc_id, seg_idx, seg, fp): non-overlapping word ``SEG_W``-gram
    segments of the normalized token stream, 1-based segment index, md5
    fingerprint.  The tail segment may be shorter than ``SEG_W``.

    Map-only: one split + one sequence explode per document; the ``n >= 1``
    guard keeps Spark's ``sequence(1, 0)`` (which yields a DESCENDING [1,0],
    not an empty array) away from empty documents — zero-token docs are
    re-attached by the consumers' LEFT JOIN from ``documents`` so the
    per-document manifests stay total (absent must never masquerade as
    never-scanned).
    """
    toks = arr_filter_nonempty(
        dialect, split_re(dialect, NORM(dialect), "[^a-z0-9]+")
    )
    n = arr_len(dialect, "toks")
    n_segs = f"CAST(ceil({n} / {SEG_W}.0) AS INT)"
    seg = arr_join(
        dialect, arr_slice(dialect, "toks", f"(i - 1) * {SEG_W} + 1", str(SEG_W)), " "
    )
    return f"""
doc_toks AS (
  SELECT doc_id, {toks} AS toks FROM documents
),
segments AS (
  SELECT doc_id, seg_idx, seg, md5(seg) AS fp
  FROM (
    SELECT doc_id, i AS seg_idx, {seg} AS seg
    FROM (
      SELECT doc_id, toks, {explode_seq(dialect, 1, n_segs)} AS i
      FROM doc_toks WHERE {n} >= 1
    ) g
  ) s
)"""


def boilerplate_strip_sql(dialect: str) -> str:
    """CCNet-style boilerplate removal: a segment whose fingerprint occurs in
    ``BOILER_DF``-or-more distinct documents is boilerplate (nav bars, cookie
    banners, repeated headers on real crawls); emit per-document kept/dropped
    counts and the reconstructed text of the surviving segments in original
    order.
    """
    kept_text = agg_ordered(dialect, "seg", "seg_idx", " ")
    return f"""
WITH {segments_rel(dialect)},
seg_df AS (
  SELECT fp, COUNT(DISTINCT doc_id) AS df FROM segments GROUP BY fp
),
flagged AS (
  SELECT s.doc_id, s.seg_idx, s.seg,
         CASE WHEN d.df >= {BOILER_DF} THEN 1 ELSE 0 END AS is_boiler
  FROM segments s JOIN seg_df d ON s.fp = d.fp
),
stats AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_segments,
         CAST(SUM(is_boiler) AS BIGINT) AS n_boiler
  FROM flagged GROUP BY doc_id
),
kept AS (
  SELECT doc_id, {kept_text} AS kept_text
  FROM flagged WHERE is_boiler = 0 GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(st.n_segments, 0) AS BIGINT) AS n_segments,
       CAST(COALESCE(st.n_boiler, 0) AS BIGINT) AS n_boiler,
       CASE WHEN COALESCE(st.n_segments, 0) = 0 THEN 0.0
            ELSE round(CAST(st.n_boiler AS DOUBLE) / st.n_segments, 6)
       END AS boiler_ratio,
       COALESCE(k.kept_text, '') AS kept_text
FROM documents d
LEFT JOIN stats st ON d.doc_id = st.doc_id
LEFT JOIN kept k ON d.doc_id = k.doc_id
"""


def segment_dedup_sql(dialect: str) -> str:
    """Paragraph-level first-occurrence dedup (arXiv:2107.06499): corpus-wide,
    every repeat of a segment fingerprint after its first occurrence (ordered
    by doc_id, then position) is a duplicate; emit per-document duplicate
    counts and ratio — the keep/drop manifest a rewrite pass would consume.
    """
    return f"""
WITH {segments_rel(dialect)},
ranked AS (
  SELECT doc_id, seg_idx,
         ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id, seg_idx) AS rk
  FROM segments
)
SELECT d.doc_id,
       CAST(COALESCE(r.n_segments, 0) AS BIGINT) AS n_segments,
       CAST(COALESCE(r.n_dup_segments, 0) AS BIGINT) AS n_dup_segments,
       CASE WHEN COALESCE(r.n_segments, 0) = 0 THEN 0.0
            ELSE round(CAST(r.n_dup_segments AS DOUBLE) / r.n_segments, 6)
       END AS dup_ratio
FROM documents d LEFT JOIN (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_segments,
         CAST(SUM(CASE WHEN rk > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_segments
  FROM ranked GROUP BY doc_id
) r ON d.doc_id = r.doc_id
"""


register("boilerplate_strip", oracle=boilerplate_strip_sql(DUCKDB),
         doc=f"CCNet-style boilerplate removal: drop word {SEG_W}-gram segments "
         f"repeating in >= {BOILER_DF} docs, reconstruct kept text")(
    sql_runner(boilerplate_strip_sql, ("documents",), spread=True))
register("segment_dedup", oracle=segment_dedup_sql(DUCKDB),
         doc="corpus-wide first-occurrence segment dedup manifest "
         "(exact paragraph dedup, arXiv:2107.06499)")(
    sql_runner(segment_dedup_sql, ("documents",), spread=True))
