"""Generator determinism and the verified input cache."""

from __future__ import annotations

import os

import pytest

from perfbench import gen

TINY = {
    "catalog_refresh": {"per_provider": 60, "target_factor": 5, "pages": 40,
                        "page_bytes": 2000, "matched_share": 0.5},
    "loader_ticks": {"table_rows": 300, "tick_rows": 20, "ticks": 3},
}


@pytest.fixture(autouse=True)
def tiny_sizes(monkeypatch):
    monkeypatch.setattr(gen, "SIZES", TINY)


@pytest.mark.parametrize("workload", sorted(TINY))
def test_same_seed_same_inputs_other_seed_other_inputs(tmp_path, workload):
    a = gen.load_or_generate(str(tmp_path / "a"), workload, 7)
    b = gen.load_or_generate(str(tmp_path / "b"), workload, 7)
    c = gen.load_or_generate(str(tmp_path / "c"), workload, 8)
    assert gen.inputs_digest(a) == gen.inputs_digest(b)
    assert gen.inputs_digest(a) != gen.inputs_digest(c)


def test_cache_is_reused_and_regenerated_when_a_file_changes(tmp_path):
    first = gen.load_or_generate(str(tmp_path), "loader_ticks", 3)
    digest = gen.inputs_digest(first)
    tick = first.path("ticks", "tick-00000.tsv")
    mtime = os.path.getmtime(tick)
    gen.load_or_generate(str(tmp_path), "loader_ticks", 3)
    assert os.path.getmtime(tick) == mtime  # served from the cache
    with open(tick, "a") as f:
        f.write("tampered\n")
    again = gen.load_or_generate(str(tmp_path), "loader_ticks", 3)
    assert gen.inputs_digest(again) == digest


def test_refresh_expectations_add_up(tmp_path):
    e = gen.load_or_generate(str(tmp_path), "catalog_refresh", 1).expected
    for pe in e["providers"].values():
        assert pe["clean"] + pe["rejected"] <= pe["parsed"] <= pe["records"]
    clean = sum(pe["clean"] for pe in e["providers"].values())
    assert e["inserted"] + e["updated"] == clean
    assert e["merged_rows"] == e["target_rows"] + e["inserted"] + e["cc_rows"]
    scraped = {s for s, n in e["rows_per_site"].items() if n}
    assert scraped <= set(gen.CC_SITES)
