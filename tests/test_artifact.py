"""engine.zip (the spark-submit --py-files payload) must match the source
tree byte-for-byte — the round-3 ADVICE caught it shipping a pre-fix
operator file. Rebuild with tools/package_engine.py after source changes."""

from __future__ import annotations

import os
import sys

from tests.conftest import REPO

sys.path.insert(0, os.path.join(REPO, "tools"))

from package_engine import check  # noqa: E402


def test_engine_zip_in_sync_with_tree():
    assert check() == []


def test_registry_fits_driver_sweep_cap():
    """The driver's correctness sweep records at most 50 rows (round 4:
    51 registered -> scc silently got none). Every registered query MUST
    get a row, so the registry is hard-capped at 50 — consolidate
    near-duplicate gates (successors_layouts pattern) before adding."""
    sys.path.insert(0, REPO)
    import __spark_entry__ as e

    qs = e.queries()
    sqls = e.oracle_sql()
    assert len(qs) <= 50, f"{len(qs)} queries registered; driver caps at 50"
    assert set(sqls) <= set(qs), set(sqls) - set(qs)
