"""The benchmark's workloads: what one pass runs and how its output is checked.

A workload is prepared once per input directory, then run pass after pass.
A pass is a list of operations, each timed from its call to the end of its
``.collect()``; correctness checks run after the timing stops. An operation
that raises or fails a check counts as failed.
"""

from __future__ import annotations

import hashlib
import time
from dataclasses import dataclass, field

import numpy as np

from exactextractr_spark.core.grid import Box
from exactextractr_spark.operators.zonal import exact_extract
from exactextractr_spark.sources.features import features_from_wkt
from exactextractr_spark.sources.tiles import Raster, RasterMeta

from . import inputs

#: relative tolerance of the exact-coverage identity count == area
AREA_RTOL = 1e-9


@dataclass
class Op:
    name: str
    seconds: float
    jobs: int = 0
    shuffle_bytes: int = 0
    problems: list[str] = field(default_factory=list)


@dataclass
class ZonalCase:
    """One zonal call, as the layer tracer replays it prefix by prefix."""

    raster: Raster
    feats: object  # DataFrame
    stats: list[str]
    strategy: dict
    wkts: list[str]
    #: encoded payload of every tile, in bytes
    payload_bytes: int
    #: parquet bytes on disk, or 0 for an in-memory tile table
    scan_bytes: int
    #: (feature index, cropped tile grid) of every candidate pair
    pairs: list


def digest(rows) -> str:
    h = hashlib.sha256()
    for r in rows:
        h.update(repr(tuple(r)).encode())
    return h.hexdigest()


def candidate_pairs(meta: RasterMeta, wkts: list[str]):
    """(feature index, tile grid) for every feature bbox × tile overlap —
    the pairs the engine's candidate stage produces, enumerated on the
    driver for the single-thread kernel timing and the cell count."""
    from exactextractr_spark.core import geom as G

    out = []
    step_x, step_y = meta.dx * meta.tile_w, meta.dy * meta.tile_h
    for i, wkt in enumerate(wkts):
        xmin, ymin, xmax, ymax = G.from_wkt(wkt).bounds()
        r0 = max(0, int((meta.ymax - ymax) // step_y))
        r1 = min(meta.n_tile_rows - 1, int((meta.ymax - ymin) // step_y))
        c0 = max(0, int((xmin - meta.xmin) // step_x))
        c1 = min(meta.n_tile_cols - 1, int((xmax - meta.xmin) // step_x))
        for tr in range(r0, r1 + 1):
            for tc in range(c0, c1 + 1):
                g = meta.tile_grid(tr, tc)
                if xmin < g.xmax and xmax > g.xmin and ymin < g.ymax and ymax > g.ymin:
                    out.append((i, g.crop(Box(xmin, ymin, xmax, ymax))))
    return out


class TileWorkload:
    """A zonal workload over a generated PNG tile table: one operation per
    pass, ``exact_extract(...).collect()``."""

    unit = "tiles"
    #: a pass is exactly the zonal case the layer tracer takes apart
    case_is_pass = True

    def __init__(self, name, kind, raster_n, n_polygons, r_min, r_max,
                 n_vertices, mega, stats, strategy, seed, warmup_passes):
        self.name = name
        self.warmup_passes = warmup_passes
        self.kind = kind
        self.raster_n = raster_n
        self.n_polygons = n_polygons
        self.shape = (r_min, r_max, n_vertices, mega)
        self.stats = stats
        self.strategy = strategy
        self.seed = seed
        self._first_digest = None

    def prepare(self, spark, root: str) -> dict:
        ti = inputs.tile_inputs(
            spark, root, self.seed, self.kind, self.raster_n, 256,
            self.n_polygons, *self.shape,
        )
        self.inputs = ti
        raster = Raster.from_tiles(spark.read.parquet(ti.tiles_path), ti.meta)
        feats = features_from_wkt(spark, ti.wkts)
        payload = int(
            spark.read.parquet(ti.tiles_path)
            .selectExpr("sum(length(bytes)) AS b").first()["b"]
        )
        self.case = ZonalCase(raster, feats, self.stats, self.strategy, ti.wkts,
                              payload, ti.parquet_bytes, candidate_pairs(ti.meta, ti.wkts))
        self._first_digest = None
        return {
            "tiles": ti.n_tiles,
            "payload_mb": payload / 1e6,
            "parquet_mb": ti.parquet_bytes / 1e6,
            "features": len(ti.wkts),
            "candidate_pairs": len(self.case.pairs),
        }

    @property
    def items_per_pass(self) -> int:
        return self.inputs.n_tiles

    def op_names(self) -> list[str]:
        return ["exact_extract"]

    def run_op(self, spark, name: str) -> Op:
        t0 = time.perf_counter()
        try:
            rows = exact_extract(
                self.case.raster, self.case.feats, self.stats, **self.strategy
            ).collect()
        except Exception as e:  # a failed operation is counted, not fatal
            return Op(name, time.perf_counter() - t0,
                      problems=[f"raised {type(e).__name__}: {e}"])
        op = Op(name, time.perf_counter() - t0)
        op.problems = self.check(rows)
        return op

    def check(self, rows) -> list[str]:
        problems = []
        ids = [r["feature_id"] for r in rows]
        if ids != list(range(1, len(self.inputs.wkts) + 1)):
            problems.append(f"feature ids: got {len(ids)} rows, not 1..{len(self.inputs.wkts)}")
            return problems
        bad_area = [
            r["feature_id"] for r, area in zip(rows, self.inputs.areas)
            if not abs(r["count"] - area) <= AREA_RTOL * area
        ]
        if bad_area:
            problems.append(f"count != shoelace area for features {bad_area[:5]}")
        problems += self._check_stats(rows)
        d = digest(rows)
        if self._first_digest is None:
            self._first_digest = d
        elif d != self._first_digest:
            problems.append("result differs bitwise from the first pass")
        return problems

    def _check_stats(self, rows) -> list[str]:
        if "min" in self.stats:
            bad = [r["feature_id"] for r in rows
                   if not r["min"] <= r["mean"] <= r["max"]]
            return [f"min <= mean <= max fails for features {bad[:5]}"] if bad else []
        problems = []
        bad = [r["feature_id"] for r in rows
               if r["mode"] not in range(inputs.N_CLASSES)]
        if bad:
            problems.append(f"mode is not a class for features {bad[:5]}")
        bad = [r["feature_id"] for r in rows
               if not 1 <= r["variety"] <= inputs.N_CLASSES]
        if bad:
            problems.append(f"variety is not 1..{inputs.N_CLASSES} for features {bad[:5]}")
        return problems


# ---------------------------------------------------------------------------
# driver queries
# ---------------------------------------------------------------------------

#: one query per operator module the tile workloads never reach, plus the
#: small-plan zonal baseline; a pass of all 41 takes longer than a run may
DRIVER_QUERIES = [
    "zonal_mean_sum_count",   # operators.zonal, small plan
    "image_phash_dedup",      # operators.dedup, phash + hamming banding
    "simhash_dedup",          # operators.dedup, simhash + banding decision
    "embedding_dedup",        # operators.dedup, cosine
    "cosine_topk",            # operators.similarity
    "knn_ring",               # operators.knn
    "text_quality",           # operators.textstats
    "resample_sum",           # operators.resample
    "rasterize_argmax",       # operators.rasterize
    "zonal_stack",            # operators.stack
]


def frames_equal(got, want) -> list[str]:
    """Order-insensitive equality of two pandas frames: exact for
    non-float columns, 1e-12 relative for floats, NaN == NaN."""
    if len(got) != len(want):
        return [f"rowcount {len(got)} vs {len(want)}"]
    if sorted(got.columns) != sorted(want.columns):
        return [f"columns {sorted(got.columns)} vs {sorted(want.columns)}"]

    def norm(df):
        df = df[sorted(df.columns)].copy()
        for c in df.columns:
            if df[c].dtype == object:
                df[c] = df[c].astype(str)
        return df.sort_values(by=list(df.columns), ignore_index=True)

    a, b = norm(got), norm(want)
    problems = []
    for c in a.columns:
        if a[c].dtype.kind == "f" or b[c].dtype.kind == "f":
            x, y = a[c].astype(float).to_numpy(), b[c].astype(float).to_numpy()
            same = (np.isnan(x) & np.isnan(y)) | (
                np.abs(x - y) <= 1e-12 * np.maximum(1.0, np.maximum(np.abs(x), np.abs(y)))
            )
            if not same.all():
                problems.append(f"col {c}: {int((~same).sum())} mismatches")
        else:
            differ = int((a[c].astype(str) != b[c].astype(str)).sum())
            if differ:
                problems.append(f"col {c}: {differ} mismatches")
    return problems


class DriverQueries:
    """The driver contract's queries on generated tables; each query is one
    operation, checked against its DuckDB oracle."""

    unit = "queries"
    case_is_pass = False

    #: one cold pass; a second does not fit a run
    warmup_passes = 1

    def __init__(self, name, n_customers, n_docs, n_vectors, seed):
        self.name = name
        self.sizes = (n_customers, n_docs, n_vectors)
        self.seed = seed
        self.names = list(DRIVER_QUERIES)

    def prepare(self, spark, root: str) -> dict:
        import duckdb

        import __spark_entry__ as entry

        self.entry = entry
        self.tables = inputs.driver_tables(root, self.seed, *self.sizes)
        all_queries, oracles = entry.queries(), entry.oracle_sql()
        self.fns = {n: all_queries[n] for n in self.names}
        con = duckdb.connect()
        try:
            for t in ("customer", "nation", "documents", "embeddings"):
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{self.tables}/{t}.parquet')")
            self.expected = {n: con.sql(oracles[n]).df() for n in self.names}
        finally:
            con.close()
        self.order = list(self.names)
        np.random.default_rng([self.seed, 3]).shuffle(self.order)
        self.case = self._zonal_case(spark)
        return {
            "queries": len(self.names),
            "customers": self.sizes[0],
            "documents": self.sizes[1],
            "embeddings": self.sizes[2],
            "tiles": self.case.raster.meta.n_tile_rows * self.case.raster.meta.n_tile_cols,
            "features": len(self.case.wkts),
            "candidate_pairs": len(self.case.pairs),
        }

    def _zonal_case(self, spark) -> ZonalCase:
        """The small raster and rectangles every zonal driver query runs on
        (48x48 cells, v = cell index % 97, 16x16 tiles), rebuilt through the
        public constructors so the layer tracer can take it apart."""
        from exactextractr_spark.sources.tiles import tile_rows_from_array

        e = self.entry
        n, tile = e.GRID_N, e.TILE
        arr = (np.arange(n * n) % 97).astype(np.float64).reshape(n, n)
        meta = RasterMeta("v", xmin=0, ymax=n, dx=1, dy=1, width=n, height=n,
                          tile_w=tile, tile_h=tile)
        wkts = []
        for k in range(1, e.N_FEATS + 1):
            x0, y0 = (k * 7) % 37 + 0.25, (k * 11) % 37 + 0.25
            x1, y1 = x0 + k % 5 + 1.5, y0 + k % 7 + 1.5
            wkts.append(f"POLYGON (({x0} {y0}, {x1} {y0}, {x1} {y1}, {x0} {y1}, {x0} {y0}))")
        payload = sum(len(r[1]) for r in tile_rows_from_array(arr, meta))
        return ZonalCase(Raster.from_array(spark, arr, meta),
                         features_from_wkt(spark, wkts, ids=range(1, e.N_FEATS + 1)),
                         ["mean", "sum", "count"], {}, wkts, payload, 0,
                         candidate_pairs(meta, wkts))

    @property
    def items_per_pass(self) -> int:
        return len(self.names)

    def op_names(self) -> list[str]:
        return self.order

    def run_op(self, spark, name: str) -> Op:
        import pandas as pd

        spark.catalog.clearCache()
        t0 = time.perf_counter()
        try:
            df = self.fns[name](spark, self.tables)
            rows = df.collect()
        except Exception as e:
            return Op(name, time.perf_counter() - t0,
                      problems=[f"raised {type(e).__name__}: {e}"])
        op = Op(name, time.perf_counter() - t0)
        got = pd.DataFrame.from_records([tuple(r) for r in rows], columns=df.columns)
        op.problems = frames_equal(got, self.expected[name])
        return op


def run_pass(workload, spark) -> list[Op]:
    """One pass: every operation of the workload, in its order."""
    return [workload.run_op(spark, n) for n in workload.op_names()]


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

#: full sizes, and the toy sizes the self-test runs
SIZES = {
    "tiles_algebraic": dict(full=dict(raster_n=4096), toy=dict(raster_n=512)),
    "features_categorical": dict(
        full=dict(raster_n=2048, n_polygons=2500), toy=dict(raster_n=512, n_polygons=60)
    ),
    "driver_queries": dict(
        full=dict(n_customers=1500, n_docs=500, n_vectors=500),
        toy=dict(n_customers=700, n_docs=40, n_vectors=40),
    ),
}

WORKLOADS = list(SIZES)


def make(name: str, seed: int, toy: bool = False):
    size = SIZES[name]["toy" if toy else "full"]
    if name == "tiles_algebraic":
        n = size["raster_n"]
        return TileWorkload(
            name, "continuous", n, 128 if not toy else 8,
            r_min=20 * n / 4096, r_max=140 * n / 4096, n_vertices=64, mega=True,
            stats=["count", "sum", "mean", "min", "max", "stdev"],
            strategy={}, seed=seed, warmup_passes=5 if not toy else 2,
        )
    if name == "features_categorical":
        return TileWorkload(
            name, "categorical", size["raster_n"], size["n_polygons"],
            r_min=4.0, r_max=16.0, n_vertices=16, mega=False,
            # no median (window quantile) or frac (pivot): with them the JVM
            # compiles new plan code for ~15 passes and CPU per pass falls
            # ~40% meanwhile, longer than one run may warm up
            stats=["count", "mode", "variety"],
            # the raster-sequential cover join, as for a feature table above
            # the broadcast limit
            strategy=dict(broadcast_features=False, salt_buckets=4), seed=seed,
            warmup_passes=12 if not toy else 2,
        )
    if name == "driver_queries":
        return DriverQueries(name, seed=seed, **size)
    raise ValueError(f"unknown workload {name!r}; choose from {WORKLOADS}")

