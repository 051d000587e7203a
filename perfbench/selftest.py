#!/usr/bin/env python3
"""Toy-size self-test of the benchmark.

    python3 perfbench/selftest.py

1. Runs every workload through the command line at toy size, untraced and
   traced, and checks the last output line: correct, nothing failed, and
   exactly the expected metrics, each with its unit (the ones listed in
   BENCHMARK.json for the workloads listed there).
2. In one Spark session, runs one toy pass of each workload, perturbs its
   result and checks that the perturbed result is counted as failed.

Exits non-zero on the first failed check. Takes a few minutes.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


class SelfTestError(Exception):
    pass


def expect(cond: bool, msg: str) -> None:
    if not cond:
        raise SelfTestError(msg)


def declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def expected_metrics(workload: str, trace: int, bench: dict, query_names) -> dict:
    key = "per_layer" if trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in bench[key]}
    if workload == "driver_queries" and trace:
        # the hand-run workload adds a pair of layers per query
        for q in query_names:
            units[f"query.{q}_s"] = "s"
            units[f"query.{q}_jobs"] = "count"
    return units


def check_cli(workload: str, trace: int, bench: dict, query_names) -> None:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "5", "--seconds", "1", "--trace", str(trace), "--toy"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    expect(proc.returncode == 0, f"{workload} trace={trace}: exit {proc.returncode}\n"
           + proc.stderr[-3000:])
    last = json.loads(proc.stdout.strip().splitlines()[-1])
    expect(sorted(last) == ["attempted", "correct", "failed", "metrics"],
           f"{workload}: result keys {sorted(last)}")
    expect(last["correct"] is True and last["failed"] == 0 and last["attempted"] >= 1,
           f"{workload} trace={trace}: {last['failed']} of {last['attempted']} failed")
    want = expected_metrics(workload, trace, bench, query_names)
    got = {k: v["unit"] for k, v in last["metrics"].items()}
    expect(got == want, f"{workload} trace={trace}: metrics differ:\n got {got}\nwant {want}")
    for name, m in last["metrics"].items():
        expect(isinstance(m["value"], (int, float)), f"{workload}: {name} is not a number")
    print(f"ok  cli {workload} trace={trace}: {len(got)} metrics, "
          f"{last['attempted']} operations", flush=True)


def check_perturbed() -> None:
    """A perturbed result must count as a failed operation."""
    sys.path.insert(0, ROOT)
    from perfbench import harness, workloads

    tmp = tempfile.mkdtemp(prefix=".perfbench-", dir=ROOT)
    try:
        harness.configure_environment(ROOT, tmp)
        spark = harness.start_session(2)
        try:
            _perturb_all(spark, tmp, workloads, harness)
        finally:
            harness.stop_session(spark)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _perturb_all(spark, tmp, workloads, harness) -> None:
    from pyspark.sql import Row

    from exactextractr_spark.operators.zonal import exact_extract

    def perturbed_rows(w, change):
        rows = exact_extract(w.case.raster, w.case.feats, w.stats, **w.strategy).collect()
        d = rows[0].asDict()
        change(d)
        return [Row(**d)] + rows[1:]

    def count_failed(problems) -> float:
        tally = harness.Tally()
        tally.add([workloads.Op("perturbed", 0.0, problems=problems)])
        tally.add([workloads.Op("clean", 0.0)])
        return tally.failed / tally.attempted

    # (what, change to the first result row, the check that must catch it)
    cases = {
        "tiles_algebraic": [
            ("count", lambda d: d.update(count=d["count"] * (1 + 1e-6)), "shoelace"),
            ("mean", lambda d: d.update(mean=d["max"] + 1.0), "min <= mean"),
            # one ulp off the first pass: only the bitwise check sees it
            ("sum", lambda d: d.update(sum=math.nextafter(d["sum"], math.inf)), "bitwise"),
        ],
        "features_categorical": [
            ("mode", lambda d: d.update(mode=99.0), "mode"),
            ("variety", lambda d: d.update(variety=0), "variety"),
            ("count", lambda d: d.update(count=math.nextafter(d["count"], math.inf)),
             "bitwise"),
        ],
    }
    for name, changes in cases.items():
        w = workloads.make(name, 5, toy=True)
        w.prepare(spark, os.path.join(tmp, name))
        clean = workloads.run_pass(w, spark)
        expect(not clean[0].problems, f"{name}: clean pass failed: {clean[0].problems}")
        for what, change, caught_by in changes:
            problems = w.check(perturbed_rows(w, change))
            expect(any(caught_by in p for p in problems),
                   f"{name}: perturbed {what} not caught by the {caught_by!r} check: {problems}")
            expect(count_failed(problems) == 0.5, f"{name}: perturbed {what} not counted")
            print(f"ok  perturbed {name} {what}: {problems}", flush=True)

    w = workloads.make("driver_queries", 5, toy=True)
    w.prepare(spark, os.path.join(tmp, "driver"))
    op = w.run_op(spark, "cosine_topk")
    expect(not op.problems, f"cosine_topk: clean run failed: {op.problems}")
    want = w.expected["cosine_topk"]
    got = want.copy()
    got.loc[0, "item_id"] = int(got.loc[0, "item_id"]) + 1000
    problems = workloads.frames_equal(got, want)
    expect(bool(problems), "driver_queries: perturbed cosine_topk passed the oracle check")
    expect(count_failed(problems) == 0.5, "driver_queries: perturbed result not counted")
    print(f"ok  perturbed driver_queries cosine_topk: {problems[0]}", flush=True)


def main() -> int:
    bench = declared()
    sys.path.insert(0, ROOT)
    from perfbench.workloads import DRIVER_QUERIES, WORKLOADS

    names = [w["name"] for w in bench["workloads"]]
    expect(set(names) <= set(WORKLOADS), f"BENCHMARK.json names unknown workloads {names}")
    try:
        check_perturbed()
        for workload in WORKLOADS:
            for trace in (0, 1):
                check_cli(workload, trace, bench, DRIVER_QUERIES)
    except SelfTestError as e:
        print(f"FAIL {e}", flush=True)
        return 1
    print("self-test passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
