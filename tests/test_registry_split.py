"""The registry contract, read from ``QUERIES`` itself: the pinned name
set, which module owns each row, oracle coverage, and that every family
module registers exactly its own rows when imported on its own."""

from __future__ import annotations

import hashlib
import subprocess
import sys
from collections import Counter
from pathlib import Path

import pytest

from iiot_data_engineering_lab_assignment_spark import registry
from iiot_data_engineering_lab_assignment_spark.registry_core import register

PKG = "iiot_data_engineering_lab_assignment_spark"
ROOT = Path(__file__).resolve().parents[1]

MODULE_COUNTS = {
    "registry": 172,
    "registry_tpch": 38,
    "registry_timeseries": 19,
    "registry_breadth": 16,
    "registry_similarity": 14,
    "registry_curation_text": 13,
    "registry_sketches": 7,
    "registry_graph": 5,
    "registry_clustering": 4,
}


def test_registry_name_set_is_pinned():
    """The 288 names are the public surface ``__spark_entry__.py``
    exposes; any add/drop/rename moves the digest."""
    names = sorted(registry.QUERIES)
    assert len(names) == 288
    digest = hashlib.sha256("\n".join(names).encode()).hexdigest()
    assert digest.startswith("d022d04d78aab3c1"), digest


def test_no_family_overlap_and_counts():
    """Each row is owned by the module that defines its query function.
    Overlap cannot happen silently: ``register`` refuses a second copy."""
    owners = Counter(
        spec.fn.__module__.rsplit(".", 1)[1] for spec in registry.QUERIES.values()
    )
    assert dict(owners) == MODULE_COUNTS


def test_family_modules_registered_with_oracles():
    """Every registered query is oracle-backed."""
    missing = [n for n, spec in registry.QUERIES.items() if spec.oracle is None]
    assert not missing


def test_register_refuses_duplicate_name():
    name = "test_registry_split_duplicate_probe"
    register(name)(lambda spark, sf_dir: None)
    try:
        with pytest.raises(ValueError, match=name):
            register(name)(lambda spark, sf_dir: None)
    finally:
        registry.QUERIES.pop(name)


def test_direct_family_import_is_safe():
    """Importing a family module FIRST, in a fresh interpreter, must not
    crash (a family module that imported ``registry`` would re-enter it
    half-initialized) and registers exactly that module's rows."""
    for module in MODULE_COUNTS.keys() - {"registry"}:
        code = (
            f"import {PKG}.{module};"
            f"from {PKG}.registry_core import QUERIES;"
            "from collections import Counter;"
            "print(dict(Counter(s.fn.__module__ for s in QUERIES.values())))"
        )
        out = subprocess.run(
            [sys.executable, "-c", code], capture_output=True, text=True, cwd=ROOT
        )
        assert out.returncode == 0, (module, out.stderr[-800:])
        assert out.stdout.strip() == str({f"{PKG}.{module}": MODULE_COUNTS[module]})
