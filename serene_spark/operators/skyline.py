"""Skyline (Pareto-dominance) query: the parts no other part beats on BOTH
criteria (cheaper retail price AND bigger size) — the multi-criteria
shortlist operator (Börzsönyi et al., "The Skyline Operator", ICDE 2001;
Spark integration per "Integration of Skyline Queries into Spark SQL",
EDBT 2023).

Dominance: part A dominates part B iff A.price <= B.price AND
A.size >= B.size with at least one strict.  The skyline is the
non-dominated set.

Scale shape (100 TB): the naive NOT-EXISTS dominance check is an all-pairs
self-join — fine for the DuckDB oracle, fatal at scale.  The Spark plan is
the sample-prune-verify architecture the distributed-skyline literature
converges on:

1. **Pruner** — a deterministic md5 sample's own skyline (sample² work on a
   tiny relation).  Any point dominated by a pruner point cannot be in the
   global skyline (dominance is transitive), so...
2. **Prune** — one broadcast join drops the bulk of the data map-side; a
   uniform-ish corpus keeps O(sqrt) survivors.
3. **Verify** — the exact NOT-EXISTS check runs only among survivors
   (survivors² << N²).

The pruner/survivor relations are materialized (localCheckpoint) because
each is consumed twice and Catalyst inlines shared CTEs.  Output is
identical to the naive semantics — parity proves it.
"""

from __future__ import annotations

from serene_spark.catalog import sql_runner
from serene_spark.functions.sqlgen import DUCKDB, hex_to_int
from serene_spark.registry import register

# dominance criteria over part: minimize price, maximize size
SAMPLE_MOD = 16  # ~1/16 deterministic sample feeds the pruner


def _dominates(a: str, b: str) -> str:
    """a dominates b (<= on price, >= on size, one strict)."""
    return (
        f"{a}.p_retailprice <= {b}.p_retailprice AND {a}.p_size >= {b}.p_size "
        f"AND ({a}.p_retailprice < {b}.p_retailprice OR {a}.p_size > {b}.p_size)"
    )


def skyline_naive_sql(dialect: str) -> str:
    """Reference semantics: NOT EXISTS a dominating row (the oracle)."""
    return f"""
SELECT p_partkey, ROUND(p_retailprice, 6) AS p_retailprice,
       CAST(p_size AS BIGINT) AS p_size
FROM part b
WHERE NOT EXISTS (
  SELECT 1 FROM part a WHERE {_dominates('a', 'b')}
)
"""


def _sample_pred(dialect: str) -> str:
    h = hex_to_int(dialect, "substr(md5(CAST(p_partkey AS STRING)), 1, 8)")
    return f"{h} % {SAMPLE_MOD} = 0"


def _skyline_stages(dialect: str) -> list[tuple[str, str]]:
    """Sample-prune-verify skyline (see module docstring), steps 1-2."""
    # 1. pruner: the sample's own skyline (tiny² work)
    pruner = f"""
        SELECT p_partkey, p_retailprice, p_size
        FROM (SELECT * FROM part WHERE {_sample_pred(dialect)}) b
        WHERE NOT EXISTS (
          SELECT 1 FROM (SELECT * FROM part WHERE {_sample_pred(dialect)}) a
          WHERE {_dominates('a', 'b')}
        )
    """
    # 2. prune the bulk with one broadcast anti-join (map-side)
    survivors = f"""
        SELECT p_partkey, p_retailprice, p_size FROM part b
        WHERE NOT EXISTS (
          SELECT 1 FROM __sky_pruner a WHERE {_dominates('a', 'b')}
        )
    """
    return [("__sky_pruner", pruner), ("__sky_survivors", survivors)]


def _skyline_verify_sql(_dialect: str) -> str:
    """Step 3: exact verify among survivors only."""
    return f"""
        SELECT p_partkey, ROUND(p_retailprice, 6) AS p_retailprice,
               CAST(p_size AS BIGINT) AS p_size
        FROM __sky_survivors b
        WHERE NOT EXISTS (
          SELECT 1 FROM __sky_survivors a WHERE {_dominates('a', 'b')}
        )
    """


register(
    "skyline_parts",
    oracle=skyline_naive_sql(DUCKDB),
    doc="skyline (Pareto frontier) of parts on (min price, max size): "
    "sample-prune-verify distributed plan, naive NOT-EXISTS oracle",
)(sql_runner(_skyline_verify_sql, ("part",), stages=_skyline_stages))
