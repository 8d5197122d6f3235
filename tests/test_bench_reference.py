"""bench._reference_deltas: the headline reference is keyed by (sf, cpus)."""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


@pytest.fixture()
def reference(tmp_path, monkeypatch):
    path = tmp_path / "reference.json"
    path.write_text(json.dumps({
        "sf": 0.1, "cpus": 4, "captured": "test",
        "queries": {"kg_bgp": 1.0, "dedup_exact": 2.0},
    }))
    monkeypatch.setattr(bench, "REFERENCE", str(path))


def test_cpus_mismatch_flags_nothing(reference):
    deltas, regressions, meta = bench._reference_deltas(
        {"kg_bgp": 9.0, "dedup_exact": 9.0}, 0.1, 32
    )
    assert (deltas, regressions) == ({}, [])
    assert meta == {"reference_cpus_mismatch": 4}


def test_matching_key_clean_run(reference):
    deltas, regressions, meta = bench._reference_deltas(
        {"kg_bgp": 1.1, "dedup_exact": 1.9}, 0.1, 4
    )
    assert deltas == {"kg_bgp": 1.1, "dedup_exact": 0.95}
    assert regressions == []
    assert "reference_cpus_mismatch" not in meta
    assert "reference_sf_mismatch" not in meta


def test_matching_key_flags_slowed_query(reference):
    deltas, regressions, _ = bench._reference_deltas(
        {"kg_bgp": 1.0, "dedup_exact": 2.0 * (bench.TOLERANCE + 0.1)}, 0.1, 4
    )
    assert regressions == ["dedup_exact"]
    assert deltas["kg_bgp"] == 1.0
