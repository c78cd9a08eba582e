"""``tools/plan_identity.py`` normalization: two sessions that plan the same
query must record the same text, whatever ran in them before. The plan
lines below are the two orders Spark printed for ``chisq_type_dow`` and
``bpe_trained_merges`` in two full runs of one tree. No Spark needed."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))

from plan_identity import _canonical_gids, _renumber_lambdas  # noqa: E402

CHISQ = (
    """Aggregate [((count(r.event_type#N) FILTER (WHERE (gid#N = 1)) - 1) * (count(c.dow#N) FILTER (WHERE (gid#N = 2)) - 1)) AS dof#N]
+- Aggregate [r.event_type#N, c.dow#N, gid#N], [r.event_type#N, c.dow#N, gid#N]
   +- Expand [[event_type#N, null, 1], [null, dow#N, 2]], [r.event_type#N, c.dow#N, gid#N]""",
    """Aggregate [((count(r.event_type#N) FILTER (WHERE (gid#N = 2)) - 1) * (count(c.dow#N) FILTER (WHERE (gid#N = 1)) - 1)) AS dof#N]
+- Aggregate [c.dow#N, r.event_type#N, gid#N], [c.dow#N, r.event_type#N, gid#N]
   +- Expand [[dow#N, null, 1], [null, event_type#N, 2]], [c.dow#N, r.event_type#N, gid#N]""",
)


def test_distinct_aggregate_gids_are_canonical():
    a, b = (_canonical_gids(p) for p in CHISQ)
    assert a == b
    assert "Expand [[null, event_type#N, 0], [dow#N, null, 1]], " \
           "[c.dow#N, r.event_type#N, gid#N]" in a


def test_lambda_variables_are_renumbered_by_first_use():
    a = "aggregate(s#N, lambdafunction((lambda x_2#N + lambda y_3#N), lambda x_2#N, lambda y_3#N))"
    b = "aggregate(s#N, lambdafunction((lambda x_1#N + lambda y_2#N), lambda x_1#N, lambda y_2#N))"
    assert _renumber_lambdas(a) == _renumber_lambdas(b)
    assert "lambda x_1#N + lambda y_2#N" in _renumber_lambdas(a)
