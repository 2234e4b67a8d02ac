"""Catalog benchmark: one seeded workload, one closed-loop caller.

    python3 perfbench/run.py --workload catalog_refresh --seed 1 \
        --seconds 20 --trace 0

Prints diagnostics, then as its last stdout line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer ones (see
README.md). Exits non-zero without a result when the program or its
inputs cannot be set up.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(REPO, ".perfbench_work")


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["catalog_refresh", "loader_ticks"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


class HashRecord:
    """Output hashes recorded per (workload, seed, size), kept across
    runs in the work directory; a recorded hash that differs from this
    run's output fails the operation."""

    def __init__(self, path: str, prefix: str) -> None:
        self.path, self.prefix = path, prefix
        try:
            with open(path) as f:
                self.data = json.load(f)
        except (OSError, ValueError):
            self.data = {}

    def check(self, key: str, digest: str) -> str | None:
        full = f"{self.prefix}:{key}"
        want = self.data.setdefault(full, digest)
        if want != digest:
            return f"output hash {digest} differs from recorded {want} ({full})"
        return None

    def save(self) -> None:
        tmp = self.path + f".tmp{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(self.data, f, indent=0, sort_keys=True)
        os.replace(tmp, self.path)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(REPO, "cccatalog_spark")):
        log(f"no cccatalog_spark package under {REPO}; nothing to benchmark")
        return 2
    sys.path.insert(0, REPO)
    from perfbench import harness

    age_at_main, cpu_at_main = harness.process_age_s(), harness.tree_cpu_s()
    from perfbench import checks, gen, report
    from perfbench.spans import StageReader, Tracer
    from perfbench.workloads import WORKLOADS

    remove_stale_run_dirs()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    harness.pin_environment(REPO, run_dir)
    inputs = gen.load_or_generate(os.path.join(WORK, "cache"), args.workload, args.seed)
    digest = gen.inputs_digest(inputs)
    log(f"inputs {inputs.root} sha256={digest[:16]}")

    n_cores = harness.cores()
    t_setup, cpu_setup = time.perf_counter(), harness.tree_cpu_s()
    spark, jvm_start_s, worker_spawn_s = harness.start_session(n_cores)
    setup_wall_s = age_at_main + time.perf_counter() - t_setup
    setup_s = cpu_at_main + harness.tree_cpu_s() - cpu_setup
    sc = spark.sparkContext
    stage_reader = StageReader(sc)
    session_stages = stage_reader.since(-1)
    tracer = Tracer(stage_reader if args.trace else None,
                    last_stage=max(session_stages, default=-1))
    con = checks.connect()
    record = HashRecord(os.path.join(WORK, "hashes.json"),
                        f"{args.workload}:{args.seed}:{gen.size_key(args.workload)}")
    wl = WORKLOADS[args.workload](spark, inputs, run_dir, tracer, con)

    # warm-up operations, excluded from every metric (the last one traced
    # in a traced run); then a closed loop over the --seconds window
    warm = ["warm"] * (wl.warmups - 1) + ["warm-traced" if args.trace else "warm"]
    ops = [run_op(wl, i, kind, record) for i, kind in enumerate(warm)]
    unit = ["plain", "traced"] if args.trace else ["plain"]
    i = len(ops)
    deadline = time.perf_counter() + args.seconds
    last, units = 0.0, 0
    while True:
        t = time.perf_counter()
        # the first unit always runs; a later one only if it fits in
        # the window, so the number of samples does not hinge on
        # whether one more operation just managed to start
        if units and t + last > deadline:
            break
        for kind in unit:
            ops.append(run_op(wl, i, kind, record))
            i += 1
        last, units = time.perf_counter() - t, units + 1
        if len(ops) >= 3 and all(o["failed"] for o in ops[-3:]):
            log("three operations failed in a row; stopping")
            break
    record.save()
    if args.trace:
        os.makedirs(os.path.join(WORK, "spans"), exist_ok=True)
        tracer.dump(os.path.join(
            WORK, "spans", f"{args.workload}-seed{args.seed}.json"))

    result = report.build(
        args, wl, ops, tracer, n_cores=n_cores, setup_s=setup_s,
        setup_wall_s=setup_wall_s,
        jvm_start_s=jvm_start_s, worker_spawn_s=worker_spawn_s,
        session_stages=session_stages)
    con.close()
    harness.stop_session(spark)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result["info"]))
    print(json.dumps(result["result"]))
    return 0


def remove_stale_run_dirs() -> None:
    """Scratch left by runs that were killed before their cleanup."""
    if not os.path.isdir(WORK):
        return
    for name in os.listdir(WORK):
        pid = name.removeprefix("run-")
        if name.startswith("run-") and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(WORK, name), ignore_errors=True)


def run_op(wl, i: int, kind: str, record: HashRecord) -> dict:
    """One operation: untimed preparation, the timed call, then the
    output checks. Exceptions and failed checks both fail it."""
    from perfbench.harness import tree_cpu_s

    wl.traced = kind in ("traced", "warm-traced")
    wl.tracer.op = i
    op = {"i": i, "kind": kind, "failed": False, "seconds": 0.0,
          "cpu_s": 0.0, "failures": []}
    t0 = None
    try:
        wl.before_op(i)
        t0, cpu0 = time.perf_counter(), tree_cpu_s()
        if wl.traced:
            with wl.tracer.span("op"):
                wl.op(i)
        else:
            wl.op(i)
        op["seconds"] = time.perf_counter() - t0
        op["cpu_s"] = tree_cpu_s() - cpu0
        t0 = None
        fails, digest = wl.check(i)
        key = wl.hash_key(i)
        if digest is not None and key is not None:
            bad = record.check(key, digest)
            if bad:
                fails.append(bad)
        op["failures"] = fails
    except Exception:  # an operation that raises is a failed operation
        op["failures"] = [traceback.format_exc()]
        if t0 is not None:
            op["seconds"] = time.perf_counter() - t0
    finally:
        wl.spark.catalog.clearCache()
        wl.cleanup(i)
    op["failed"] = bool(op["failures"])
    if op["failed"]:
        log(f"op {i} ({kind}) FAILED: {op['failures']}")
    else:
        log(f"op {i} ({kind}) {op['seconds']:.3f}s, {op['cpu_s']:.2f} CPU s")
    return op


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
