"""A failing operation, by exception or by output check, is counted."""

from __future__ import annotations

import argparse
import json

from perfbench import report
from perfbench.run import HashRecord, run_op
from perfbench.spans import Tracer


class _Catalog:
    def clearCache(self):
        pass


class _Spark:
    catalog = _Catalog()


class FakeWorkload:
    expected: dict = {}
    warmups = 1

    def __init__(self, failing_ops=(), raising_ops=(), digest="h"):
        self.spark = _Spark()
        self.tracer = Tracer(None)
        self.traced = False
        self.failing, self.raising, self.digest = failing_ops, raising_ops, digest

    def input_rows(self):
        return 100

    def before_op(self, i):
        pass

    def op(self, i):
        if i in self.raising:
            raise RuntimeError("boom")

    def check(self, i):
        return (["rows: got 1, expected 2"] if i in self.failing else []), self.digest

    def hash_key(self, i):
        return "op"

    def cleanup(self, i):
        pass


def _result(wl, ops):
    args = argparse.Namespace(workload="catalog_refresh", seed=1, trace=0)
    return report.build(args, wl, ops, wl.tracer, n_cores=4, setup_s=1.0,
                        setup_wall_s=1.0, jvm_start_s=0.5, worker_spawn_s=0.5,
                        session_stages={})["result"]


def test_failed_check_and_exception_lower_ok_rate(tmp_path):
    record = HashRecord(str(tmp_path / "hashes.json"), "w:1:s")
    wl = FakeWorkload(failing_ops={1}, raising_ops={2})
    ops = [run_op(wl, i, kind, record)
           for i, kind in enumerate(["warm", "plain", "plain", "plain"])]
    assert [o["failed"] for o in ops] == [False, True, True, False]
    result = _result(wl, ops)
    assert result["correct"] is False
    assert (result["attempted"], result["failed"]) == (4, 2)
    assert result["metrics"]["ok_rate"]["value"] == 0.5


def test_all_passing_run_is_correct(tmp_path):
    record = HashRecord(str(tmp_path / "hashes.json"), "w:1:s")
    wl = FakeWorkload()
    ops = [run_op(wl, i, k, record) for i, k in enumerate(["warm", "plain"])]
    result = _result(wl, ops)
    assert result["correct"] is True
    assert result["metrics"]["ok_rate"]["value"] == 1.0
    assert set(result["metrics"]) == set(report.END_TO_END_UNITS)


def test_output_hash_differing_from_the_recorded_one_fails(tmp_path):
    path = str(tmp_path / "hashes.json")
    first = HashRecord(path, "w:1:s")
    assert not run_op(FakeWorkload(digest="a"), 0, "warm", first)["failed"]
    first.save()
    second = HashRecord(path, "w:1:s")
    op = run_op(FakeWorkload(digest="b"), 0, "warm", second)
    assert op["failed"]
    assert "differs from recorded" in op["failures"][0]
    assert json.load(open(path)) == {"w:1:s:op": "a"}
