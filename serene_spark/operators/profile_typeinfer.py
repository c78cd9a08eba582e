"""Inferred-data-type group feature (SURVEY §2.4).

Reference cascade: Float -> Boolean -> Integer (4-digit 1500..now+500 => Date)
-> Long -> Time -> DateTime -> Date -> String, decided per value then majority
vote per column (matcher/.../nlptools/parser/DataTypeParser.scala:23-55,
sampling in matcher/.../matcher/features/DataPreprocessor.scala:172-210).

Divergences, by design:
- the reference votes over a 100-value sample (seed 18371623); we vote over
  ALL values so the DuckDB oracle verifies exactly — same complexity class,
  one aggregation either way;
- jchronic natural-language date parsing (DataTypeParser.scala:75-128) is
  re-expressed as the NL_DATE_* / WEEKDAY regex family below: month-name
  dates ("Jan 3, 1998", "3rd of May 2001", "May 2001", "03-Mar-98"), bare
  weekday/month names, and month-name datetimes — the formats jchronic's
  grammar accepts that a type-inference corpus actually contains. Running
  jchronic itself would need a per-row JVM/Python call (the slow path); a
  regex cascade stays inside whole-stage codegen in both dialects;
- "now + 500" is frozen at 2526 so results do not drift with wall-clock.
"""

from __future__ import annotations

from serene_spark.catalog import COLUMNS
from serene_spark.functions.melt import melt_sql, run_over_melt
from serene_spark.functions.sqlgen import DUCKDB, SPARK, rx
from serene_spark.registry import register

# Reference regexes (DataTypeParser.scala:14-18), rewritten backslash-free:
# float REQUIRES a decimal point (no exponent form); ints are any digit run
# with the Integer/Long split decided by int32/int64 RANGE (via TRY_CAST),
# not digit count — "0430440622" parses to 430,440,622 and is Integer.
FLOAT_PAT = "^[+-]?[0-9]*[.][0-9]+$"
INT_PAT = "^[+-]?[0-9]+$"
# time branch 1: H:MM(:SS(.f)?)? with optional am/pm; branch 2: bare digits
# with MANDATORY am/pm ("100pm") — timeOnlyRegex (DataTypeParser.scala:17)
TIME_PAT = "^[0-9]{1,2}:[0-9]{1,2}(:[0-9]{1,2}([.][0-9]+)?)? ?(am|AM|pm|PM)?$"
TIME_AMPM_PAT = "^[0-9]{1,2}(:?[0-9]{1,2}(:[0-9]{1,2}([.][0-9]+)?)?)? ?(am|AM|pm|PM)$"
DATETIME_PAT = "^[0-9]{4}-[0-9]{2}-[0-9]{2}[ T][0-9]{2}:[0-9]{2}(:[0-9]{2})?([.][0-9]+)?$"
DATE_PAT = "(^[0-9]{4}-[0-9]{2}-[0-9]{2}$)|(^[0-9]{1,2}[/-][0-9]{1,2}[/-][0-9]{2,4}$)"
# date-with-time combos (hasTimeRegex1/2 + jchronic date): numeric date
# before or after a time-of-day
_NUM_DATE = "([0-9]{4}-[0-9]{2}-[0-9]{2}|[0-9]{1,2}[/-][0-9]{1,2}[/-][0-9]{2,4})"
_TIME_CORE = "[0-9]{1,2}:[0-9]{2}(:[0-9]{2}([.][0-9]+)?)?( ?(am|pm))?"
NUM_DT_1 = f"^{_NUM_DATE} {_TIME_CORE}$"
NUM_DT_2 = f"^{_TIME_CORE} {_NUM_DATE}$"

# Natural-language date family (jchronic re-expression, DataTypeParser.scala:75-128).
# All patterns run on lower(trim(value)); no backslash escapes (dialect rule).
_MONTH = (
    "(jan(uary)?|feb(ruary)?|mar(ch)?|apr(il)?|may|jun(e)?|jul(y)?"
    "|aug(ust)?|sep(t(ember)?)?|oct(ober)?|nov(ember)?|dec(ember)?)"
)
_DAY = "[0-9]{1,2}(st|nd|rd|th)?"
_SEP = "[ .,-]+"
_TIME_TAIL = "[0-9]{1,2}:[0-9]{2}(:[0-9]{2})?( ?(am|pm))?"
# "jan 3, 1998" / "march 15" / "may 2001"
NL_DATE_MDY = f"^{_MONTH}{_SEP}{_DAY}({_SEP}[0-9]{{2,4}})?$"
NL_DATE_MY = f"^{_MONTH}{_SEP}[0-9]{{4}}$"
# "3rd of may 2001" / "15 march 1998" / "03-mar-98"
NL_DATE_DMY = f"^{_DAY}{_SEP}(of )?{_MONTH}({_SEP}[0-9]{{2,4}})?$"
# bare weekday / month name ("tuesday", "august") — jchronic resolves both
WEEKDAY_PAT = "^((mon|tue(s)?|wed(nes)?|thu(r(s)?)?|fri|sat(ur)?|sun)(day)?)$"
NL_MONTH_ONLY = f"^{_MONTH}$"
# month-name datetime: "jan 3, 1998 10:30 pm"
NL_DATETIME1 = f"^{_MONTH}{_SEP}{_DAY}({_SEP}[0-9]{{2,4}})?{_SEP}{_TIME_TAIL}$"
NL_DATETIME2 = f"^{_DAY}{_SEP}(of )?{_MONTH}({_SEP}[0-9]{{2,4}})?{_SEP}{_TIME_TAIL}$"


def _nl_date(dialect: str, lv: str) -> str:
    pats = (NL_DATE_MDY, NL_DATE_MY, NL_DATE_DMY, WEEKDAY_PAT, NL_MONTH_ONLY)
    return "(" + " OR ".join(rx(dialect, lv, p) for p in pats) + ")"


def _nl_datetime(dialect: str, lv: str) -> str:
    pats = (NL_DATETIME1, NL_DATETIME2, NUM_DT_1, NUM_DT_2)
    return "(" + " OR ".join(rx(dialect, lv, p) for p in pats) + ")"


def classify_expr(dialect: str, value: str = "trim(value)") -> str:
    """The reference's per-value cascade (DataTypeParser.scala:23-55) as one
    CASE expression. Gold behaviors mirrored exactly (DataTypeParserSpec):
    booleans are the SINGLE characters 0/1/T/F/Y/N (either case) only; the
    Integer/Long split follows int32/int64 parse range via TRY_CAST (toInt /
    toLong fallbacks, digit runs past int64 → String); a 4-char digit run
    parsing into 1500..2526 is a year Date ("now + 500" frozen at 2526)."""
    lv = f"lower({value})"
    big = f"TRY_CAST({value} AS BIGINT)"
    return f"""CASE
      WHEN {rx(dialect, value, FLOAT_PAT)} THEN 'Float'
      WHEN {value} IN ('0', '1', 'T', 'F', 't', 'f', 'Y', 'N', 'y', 'n') THEN 'Boolean'
      WHEN {rx(dialect, value, INT_PAT)} THEN CASE
        WHEN length({value}) = 4 AND {big} BETWEEN 1500 AND 2526 THEN 'Date'
        WHEN {big} BETWEEN -2147483648 AND 2147483647 THEN 'Integer'
        WHEN {big} IS NOT NULL THEN 'Long'
        ELSE 'String'
      END
      WHEN {rx(dialect, value, TIME_PAT)} THEN 'Time'
      WHEN {rx(dialect, value, TIME_AMPM_PAT)} THEN 'Time'
      WHEN {rx(dialect, value, DATETIME_PAT)} THEN 'DateTime'
      WHEN {_nl_datetime(dialect, lv)} THEN 'DateTime'
      WHEN {rx(dialect, value, DATE_PAT)} THEN 'Date'
      WHEN {_nl_date(dialect, lv)} THEN 'Date'
      ELSE 'String'
    END"""


def _typed_votes(long_rel: str, dialect: str) -> str:
    """Body of the ``typed`` CTE (per-row type of each non-empty value) and
    the ``votes`` CTE after it: (column, type) -> count."""
    return f"""  SELECT column_name, {classify_expr(dialect)} AS inferred
  FROM {long_rel} AS lr
  WHERE length(trim(value)) > 0
),
votes AS (
  SELECT column_name, inferred, CAST(COUNT(*) AS BIGINT) AS votes
  FROM typed GROUP BY column_name, inferred
),
"""


def typeinfer_sql(long_rel: str, dialect: str) -> str:
    """Majority-vote inferred type per column, with vote counts."""
    return f"""
WITH typed AS (
  -- classify per row, then one narrow (column, type) aggregation: the
  -- 8-value type domain makes map-side combine collapse everything before
  -- the shuffle. (A (column, value) histogram first was measured SLOWER on
  -- mostly-distinct columns — the extra wide shuffle outweighs running the
  -- regex cascade once per distinct value.)
{_typed_votes(long_rel, dialect)}tot AS (
  SELECT column_name, CAST(SUM(votes) AS BIGINT) AS n FROM votes GROUP BY column_name
),
ranked AS (
  SELECT column_name, inferred, votes,
         ROW_NUMBER() OVER (PARTITION BY column_name ORDER BY votes DESC, inferred ASC) AS rn
  FROM votes
)
SELECT r.column_name, r.inferred AS inferred_type, r.votes AS type_votes,
       round(CAST(r.votes AS DOUBLE) / t.n, 6) AS type_prop
FROM ranked r JOIN tot t ON r.column_name = t.column_name
WHERE r.rn = 1
"""


# The cascade's output domain is CLOSED (DataTypeParser.scala returns exactly
# these 8 type names), which makes the majority vote expressible as a plain
# MAX over (votes, tie-break) structs — no rank window needed.
_TYPE_DOMAIN = ("Boolean", "Date", "DateTime", "Float", "Integer", "Long", "String", "Time")


def typeinfer_onepass_sql(long_rel: str, dialect: str) -> str:
    """Spark-only physical form of :func:`typeinfer_sql`: the tot/ranked
    CTEs (an extra aggregation, a ROW_NUMBER window and a join — 3 more
    exchanges, plans/r12/typeinfer_lineitem_before.txt) collapse into ONE
    ``MAX(STRUCT(votes, tiebreak, inferred))`` aggregation, valid because
    the cascade's type domain is closed: ``tiebreak`` maps each of the 8
    names to its REVERSED alphabetical rank, so lexicographic struct MAX
    reproduces exactly ``ORDER BY votes DESC, inferred ASC``. Guide §2.4
    (remove shuffles outright). Value-identical to the dialect-shared
    ``typeinfer_sql`` (the DuckDB oracle); parity pins the two forms."""
    tiebreak = "CASE " + " ".join(
        f"WHEN inferred = '{t}' THEN {len(_TYPE_DOMAIN) - 1 - i}"
        for i, t in enumerate(_TYPE_DOMAIN)
    ) + " END"
    return f"""
WITH typed AS (
{_typed_votes(long_rel, dialect)}top AS (
  SELECT column_name,
         MAX(STRUCT(votes, {tiebreak} AS nr, inferred)) AS w,
         CAST(SUM(votes) AS BIGINT) AS n
  FROM votes GROUP BY column_name
)
SELECT column_name, w.inferred AS inferred_type, w.votes AS type_votes,
       round(CAST(w.votes AS DOUBLE) / n, 6) AS type_prop
FROM top
"""


for _t in ("customer", "orders", "events", "lineitem"):
    register(
        f"typeinfer_{_t}",
        oracle=typeinfer_sql(melt_sql(_t, COLUMNS[_t]), DUCKDB),
        doc=f"SURVEY §2.4 inferred-data-type majority vote over `{_t}`",
    )(
        lambda spark, sf_dir, t=_t: run_over_melt(
            spark, sf_dir, t, lambda v: typeinfer_onepass_sql(v, SPARK)
        )
    )
