"""conftest._SLOW_TESTS fails safe on a renamed test (it just runs in the
fast tier again), so a stale entry goes unnoticed: pin that every entry
names a test that is collected."""

from __future__ import annotations

import os

import pytest

TESTS_DIR = os.path.dirname(os.path.abspath(__file__))


def _conftest(config):
    here = os.path.join(TESTS_DIR, "conftest.py")
    for plugin in config.pluginmanager.get_plugins():
        if os.path.abspath(getattr(plugin, "__file__", None) or "") == here:
            return plugin
    raise AssertionError("tests/conftest.py is not loaded")


def test_slow_tests_name_collected_tests(request):
    config = request.config
    roots = [
        os.path.join(str(config.invocation_params.dir), arg.split("::", 1)[0])
        for arg in config.args
    ]
    if not any(
        os.path.abspath(r) == TESTS_DIR or TESTS_DIR.startswith(os.path.abspath(r) + os.sep)
        for r in roots
    ):
        pytest.skip("only a run that collects all of tests/ sees every entry")
    conf = _conftest(config)
    stale = sorted(conf._SLOW_TESTS - conf.COLLECTED)
    assert not stale, f"_SLOW_TESTS entries naming no collected test: {stale}"
