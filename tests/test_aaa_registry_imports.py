"""Process guard: the registry must import — full stop.

Round 7 shipped a module-level NameError in one operator file; because
``registry.load_all()`` imports every operator module, the single bad
line zeroed the whole engine (0/341 queries loadable, pytest could not
collect, bench DNF). This test is named ``test_aaa_*`` so it collects
and runs first: it costs ~2 s and turns that failure mode into an
instant, obvious red. Run it before ANY end-of-round commit.

No SparkSession needed — load_all() only imports modules and builds the
query table; it never touches a cluster.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# The registered surface, pinned exactly: growing or shrinking it is a
# deliberate edit of these numbers, never a silent drift.
N_QUERIES = 361
N_ORACLE = 326

# The driver's correctness sample is the first 50 registry entries, in
# the registration order of a fresh process; it must never change.
DRIVER_SAMPLE = (
    "profile_scalar_customer", "profile_scalar_part", "profile_scalar_orders",
    "profile_scalar_supplier", "profile_scalar_nation", "melt_customer",
    "chardist_customer", "char_entropy_customer", "chardist_documents",
    "char_entropy_documents", "typeinfer_customer", "typeinfer_orders",
    "typeinfer_events", "typeinfer_lineitem", "textlen_stats_customer",
    "textlen_stats_part", "textlen_stats_documents", "numeric_stats_customer",
    "numeric_stats_lineitem", "q1_pricing_summary", "q3_shipping_priority",
    "q5_local_supplier", "topk_customers_per_nation", "rollup_orders",
    "cube_orders", "prev_order_gap", "q4_order_priority", "q6_forecast_revenue",
    "q18_large_orders", "q10_returned_items", "q14_promo_revenue",
    "q7_volume_shipping", "q8_market_share", "q13_customer_distribution",
    "q15_top_supplier", "q17_small_quantity", "q19_discounted_revenue",
    "q21_waiting_suppliers", "q22_global_sales", "q2_min_cost_supplier",
    "q9_product_profit", "q11_important_stock", "q12_priority_shipping",
    "q16_parts_supplier_count", "q20_excess_stock", "pivot_orders_status_by_year",
    "supplier_hierarchy_rollup", "grouping_sets_orders", "calendar_dim_orders",
    "order_backlog_daily",
)


def test_registry_imports_and_is_populated():
    from serene_spark.registry import load_all

    queries = load_all()
    assert len(queries) == N_QUERIES
    assert sum(q.oracle is not None for q in queries.values()) == N_ORACLE
    # Every entry must expose a callable Spark runner; oracle SQL is
    # optional (non-SQL-expressible ops) but must be a string when set.
    for name, q in queries.items():
        assert callable(q.spark), name
        if q.oracle is not None:
            assert isinstance(q.oracle, str) and q.oracle.strip(), name


def test_driver_sample_order():
    """Registration order is import order, and test collection imports
    operator modules early, so read the order from a fresh interpreter —
    the view the driver gets."""
    out = subprocess.run(
        [sys.executable, "-c",
         "import json; from serene_spark.registry import load_all; "
         "print(json.dumps(list(load_all())))"],
        cwd=REPO, capture_output=True, text=True, check=True,
    ).stdout
    assert tuple(json.loads(out))[:50] == DRIVER_SAMPLE


def test_spark_entry_surface():
    import __spark_entry__ as e
    import bench

    qs = e.queries()
    oracles = e.oracle_sql()
    assert len(qs) == N_QUERIES
    # every oracle key must correspond to a registered query
    assert set(oracles) <= set(qs)
    # bench.py registers profile_scalar_lineitem itself; every other
    # headliner must resolve in the registry
    headliners = [q for q in bench.BENCH_QUERIES if q != "profile_scalar_lineitem"]
    assert len(headliners) == 12
    assert set(headliners) <= set(qs)
