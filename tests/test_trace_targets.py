"""The traced benchmark wraps ``ulh_etl_spark`` functions by name
(``perfbench.trace.TARGETS``) and ``Tracer.install`` raises on a
missing one. Pin every target here so a deletion fails the test suite
rather than the benchmark."""

import importlib

from perfbench.trace import TARGETS


def test_trace_targets_exist():
    missing = [
        f"{module}.{attr}"
        for module, attr in sorted(TARGETS)
        if not callable(getattr(importlib.import_module(module), attr, None))
    ]
    assert missing == []
