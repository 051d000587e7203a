"""Per-layer metrics for the traced run (``--trace 1``).

Layer times come from prefixes of the zonal pipeline, each run into Spark's
``noop`` sink: a layer's self time is its prefix's time minus the time of
the prefix before it. The timings are taken here, around the engine's public
calls; the engine itself is not instrumented.

    tiles.scan        raw_tiles_with_meta(tiles)                  -> noop
    arrow.handoff     ... -> mapInArrow(drop the batch)           -> noop
    png.decode        ... -> mapInArrow(decode_tile, drop)        -> noop
    zonal.build_candidates  the build_candidates call (+ the cover join
                      -> noop, when it returns one)
    zonal.kernel      coverage_facts(cand, emit=...)              -> noop
    zonal.aggregate   exact_extract(...)                          -> noop
    zonal.collect     exact_extract(...).collect()

Each traced operation runs in its own Spark job group; its job count and
the shuffle bytes its stages wrote come from the Spark UI's REST endpoint on
localhost.
"""

from __future__ import annotations

import json
import statistics
import time
import urllib.request

import numpy as np


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def drop_payload(batches):
    """Identity handoff: each Arrow batch of tiles crosses into Python and
    is dropped; only its row count goes back."""
    import pyarrow as pa

    for b in batches:
        yield pa.RecordBatch.from_pydict({"n": pa.array([b.num_rows], pa.int64())})


def decode_and_drop(batches):
    """The handoff plus the PNG decode of every tile, pixels dropped."""
    import pyarrow as pa

    from exactextractr_spark.core.png import decode_tile

    for b in batches:
        for data, w, h in zip(b.column("bytes").to_pylist(),
                              b.column("ncols").to_pylist(),
                              b.column("nrows").to_pylist()):
            decode_tile(data, w, h)
        yield pa.RecordBatch.from_pydict({"n": pa.array([b.num_rows], pa.int64())})


def sweep(case, collect_s=None) -> dict:
    """Time every prefix once; returns prefix seconds and the kernel's
    output row count."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from exactextractr_spark.operators.zonal import (
        build_candidates, coverage_facts, exact_extract,
    )
    from exactextractr_spark.plans.stats import StatsPlan

    raw = case.raster.raw_meta
    p = {
        "scan": _timed(lambda: noop(raw)),
        "handoff": _timed(lambda: noop(raw.mapInArrow(drop_payload, "n long"))),
        "decode": _timed(lambda: noop(raw.mapInArrow(decode_and_drop, "n long"))),
    }
    t0 = time.perf_counter()
    cand, feats_bc = build_candidates(case.raster, case.feats, **case.strategy)
    p["build"] = time.perf_counter() - t0
    # the cover-join strategy returns the join unexecuted: run it too
    p["join"] = _timed(lambda: noop(cand)) if feats_bc is None else 0.0
    emit = "freq" if StatsPlan(case.stats).freq else "moments"
    obs = Observation("kernel")
    facts = coverage_facts(
        cand, values_meta=case.raster.meta, emit=emit, feats_bc=feats_bc
    ).observe(obs, F.count(F.lit(1)).alias("rows"))
    p["kernel"] = _timed(lambda: noop(facts))
    kernel_rows = obs.get["rows"]
    p["aggregate"] = _timed(
        lambda: noop(exact_extract(case.raster, case.feats, case.stats, **case.strategy))
    )
    if collect_s is None:
        collect_s = _timed(
            lambda: exact_extract(case.raster, case.feats, case.stats, **case.strategy).collect()
        )
    p["collect"] = collect_s
    return {"prefix_s": p, "kernel_rows": kernel_rows}


def self_times(p: dict) -> dict:
    join = p["join"] - p["scan"] if p["join"] else 0.0
    return {
        "tiles.scan_s": p["scan"],
        "arrow.handoff_s": p["handoff"] - p["scan"],
        "png.decode_s": p["decode"] - p["handoff"],
        "zonal.build_candidates_s": p["build"] + join,
        "zonal.kernel_s": p["kernel"] - p["decode"] - join,
        "zonal.aggregate_s": p["aggregate"] - p["kernel"] - p["build"],
        "zonal.collect_s": p["collect"] - p["aggregate"],
    }


# ---------------------------------------------------------------------------
# traced pass: job groups, job counts, shuffle bytes
# ---------------------------------------------------------------------------

class SparkUI:
    """The few REST calls the trace needs, against the driver's own UI."""

    def __init__(self, sc):
        if not sc.uiWebUrl:
            raise RuntimeError("the Spark UI is disabled; the traced run needs its REST API")
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def group_stats(self, groups: set[str], timeout: float = 10.0) -> dict:
        """{group: (jobs, shuffle write bytes)} once every job of the groups
        has finished in the status store (listener events arrive late)."""
        deadline = time.monotonic() + timeout
        while True:
            jobs = [j for j in self._get("/jobs") if j.get("jobGroup") in groups]
            if all(j["status"] in ("SUCCEEDED", "FAILED") for j in jobs) or (
                time.monotonic() > deadline
            ):
                break
            time.sleep(0.05)
        stage_bytes = {}
        for st in self._get("/stages"):
            stage_bytes[st["stageId"]] = max(
                stage_bytes.get(st["stageId"], 0), st.get("shuffleWriteBytes", 0)
            )
        out = {g: [0, 0] for g in groups}
        seen = {g: set() for g in groups}
        for j in jobs:
            g = j["jobGroup"]
            out[g][0] += 1
            for sid in j["stageIds"]:
                if sid not in seen[g]:
                    seen[g].add(sid)
                    out[g][1] += stage_bytes.get(sid, 0)
        return {g: tuple(v) for g, v in out.items()}


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.ui = SparkUI(self.sc)
        self.n = 0

    def traced_pass(self, spark, workload) -> list:
        """One pass with a job group per operation."""
        self.n += 1
        groups = []
        for name in workload.op_names():
            group = f"perfbench-{self.n}-{name}"
            self.sc.setJobGroup(group, f"perfbench traced {name}")
            groups.append((group, workload.run_op(spark, name)))
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        stats = self.ui.group_stats({g for g, _ in groups})
        for group, op in groups:
            op.jobs, op.shuffle_bytes = stats[group]
        return [op for _, op in groups]


# ---------------------------------------------------------------------------
# single-thread kernel timings, in this process
# ---------------------------------------------------------------------------

def decode_rate(case, seed: int, budget_s: float = 0.5) -> float:
    """Encoded MB per second of ``core.png.decode_tile`` on a seeded sample
    of the workload's tiles, one thread."""
    from exactextractr_spark.core.png import decode_tile

    m = case.raster.meta
    frac = min(1.0, 48 / (m.n_tile_rows * m.n_tile_cols))
    rows = (case.raster.raw_meta.sample(False, frac, seed)
            .select("bytes", "ncols", "nrows").collect()[:32])
    sample = [(bytes(b), w, h) for b, w, h in rows]
    nbytes, spent = 0, 0.0
    while spent < budget_s:
        for data, w, h in sample:
            t0 = time.perf_counter()
            decode_tile(data, w, h)
            spent += time.perf_counter() - t0
            nbytes += len(data)
    return nbytes / 1e6 / spent


def coverage_rate(case, seed: int, budget_s: float = 1.0) -> dict:
    """``core.coverage.coverage_fraction`` on a seeded sample of the
    workload's real (feature, tile) pairs, one thread, as the kernel calls
    it: on the tile grid cropped to the feature's bbox."""
    from exactextractr_spark.core import geom as G
    from exactextractr_spark.core.coverage import coverage_fraction

    order = np.random.default_rng([seed, 6]).permutation(len(case.pairs))
    geoms = {}
    n, cells, spent = 0, 0, 0.0
    while spent < budget_s:
        for k in order:
            i, grid = case.pairs[k]
            if i not in geoms:
                geoms[i] = G.from_wkt(case.wkts[i])
            t0 = time.perf_counter()
            coverage_fraction(grid, geoms[i])
            spent += time.perf_counter() - t0
            n += 1
            cells += grid.size
            if spent >= budget_s:
                break
    return {
        "coverage.us_per_pair": (spent / n * 1e6, "us"),
        "coverage.ns_per_cell": (spent / cells * 1e9, "ns"),
        "coverage.cells": (sum(g.size for _, g in case.pairs), "count"),
    }


# ---------------------------------------------------------------------------
# summary
# ---------------------------------------------------------------------------

def summarize(workload, passes, rounds) -> dict:
    """Per-layer metrics (name -> (value, unit)) from the traced rounds; for
    the driver queries also each query's time and job count."""
    from exactextractr_spark.operators.zonal import candidate_pairs_flat

    case = workload.case
    med = statistics.median
    selfs = [self_times(r["sweep"]["prefix_s"]) for r in rounds]
    layer = {k: med(s[k] for s in selfs) for k in selfs[0]}
    pairs = candidate_pairs_flat(case.raster, case.feats).count()
    kernel_rows = rounds[0]["sweep"]["kernel_rows"]

    def rate(mb, s):
        # a self time at or below zero is under the noise floor: no rate
        return mb / s if s > 0 else 0.0

    payload_mb = case.payload_bytes / 1e6
    traced = [sum(op.seconds for op in r["ops"]) for r in rounds]
    untraced = [sum(op.seconds for op in ops) for ops in passes]
    m = {
        "tiles.scan_s": (layer["tiles.scan_s"], "s"),
        "tiles.scan_mb": ((case.scan_bytes or case.payload_bytes) / 1e6, "MB"),
        "arrow.handoff_s": (layer["arrow.handoff_s"], "s"),
        "arrow.handoff_mb_per_s": (rate(payload_mb, layer["arrow.handoff_s"]), "MB/s"),
        "png.decode_s": (layer["png.decode_s"], "s"),
        "png.decode_mb_per_s": (decode_rate(case, workload.seed), "MB/s"),
        "zonal.build_candidates_s": (layer["zonal.build_candidates_s"], "s"),
        "zonal.candidate_pairs": (pairs, "count"),
        "zonal.kernel_rows": (kernel_rows, "count"),
        "zonal.candidate_hit_ratio": (kernel_rows / pairs if pairs else 0.0, "ratio"),
        "zonal.kernel_s": (layer["zonal.kernel_s"], "s"),
        "zonal.aggregate_s": (layer["zonal.aggregate_s"], "s"),
        "zonal.collect_s": (layer["zonal.collect_s"], "s"),
        "spark.jobs": (med(sum(op.jobs for op in r["ops"]) for r in rounds), "count"),
        "spark.shuffle_write_mb": (
            med(sum(op.shuffle_bytes for op in r["ops"]) for r in rounds) / 1e6, "MB"
        ),
        "trace.overhead_s": (med(traced) - med(untraced), "s"),
    }
    m.update(coverage_rate(case, workload.seed))
    if workload.unit == "queries":
        for name in workload.op_names():
            times = [op.seconds for ops in passes for op in ops if op.name == name]
            jobs = [op.jobs for r in rounds for op in r["ops"] if op.name == name]
            m[f"query.{name}_s"] = (med(times), "s")
            m[f"query.{name}_jobs"] = (med(jobs), "count")
    return m
