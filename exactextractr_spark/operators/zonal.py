"""``exact_extract`` — zonal statistics over (feature × tile) candidate pairs.

Spark-first re-expression of the reference pipeline
(``/root/reference/R/exact_extract.R:270-773`` + ``src/exact_extract.cpp:
266-507``): the reference's per-feature loop and ``subdivide`` chunking
disappear into shuffle parallelism; its StatsRegistry merge is Spark's
partial/final aggregation.

Plan shape (the reference's *raster-sequential* strategy,
``raster_sequential_processor.cpp:38-121``, with the STRtree replaced by a
tile-key equi-join Catalyst can broadcast or shuffle-hash):

    features ──explode tile cover (pure Catalyst sequence arithmetic)──┐
    tiles ──decode (mapInPandas)───────────────────────────────────────┤
                                                                        ▼
          equi-join on (tile_row, tile_col)  +  exact bbox refine
                                                                        ▼
          coverage kernel (mapInPandas): one vectorized coverage pass per
          Arrow batch (``coverage_fraction_many``) → sparse facts
                                                                        ▼
     groupBy(feature_id).agg(all algebraic stats)   [+ groupBy(fid, v)
     for frequency stats; quantiles interpolate JVM-side from one window
     pass over the frequency table — no per-feature Python group]
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..core import geom as G
from ..core import coverage
from ..core.coverage import budget_chunks, coverage_fraction_many
from ..core.grid import Box, Grid
from ..plans.stats import ZERO_FILL, StatsPlan, quantile_name
from ..sources.tiles import Raster, tile_pixels

EARTH_RADIUS = 6378137.0  # authalic, ref raster_area.h:63
_PI180 = math.pi / 180.0

FACTS_SCHEMA = T.StructType(
    [
        T.StructField("feature_id", T.LongType(), False),
        T.StructField("v", T.DoubleType(), True),
        T.StructField("w", T.DoubleType(), True),
        T.StructField("cov", T.DoubleType(), False),
        T.StructField("cell", T.LongType(), True),
        T.StructField("cx", T.DoubleType(), True),
        T.StructField("cy", T.DoubleType(), True),
        T.StructField("area", T.DoubleType(), True),
    ]
)

#: frac/weighted_frac produce one result column per GLOBAL distinct value;
#: beyond this the raster is not categorical and the request fails loudly
#: (matches Spark's own spark.sql.pivotMaxValues default)
MAX_FRAC_VALUES = 10_000

#: per-(feature, tile) partial value-frequency rows — kernel-side combine of
#: the groupBy(fid, v) shuffle (shuffle bytes scale with distinct values per
#: tile, not with covered cells)
FREQ_SCHEMA = T.StructType(
    [
        T.StructField("feature_id", T.LongType(), False),
        T.StructField("v", T.DoubleType(), False),
        T.StructField("sum_c", T.DoubleType(), False),
        T.StructField("sum_cw", T.DoubleType(), True),
    ]
)

#: per-(feature, tile) algebraic moments — the reference's StatsRegistry
#: accumulator (raster_stats.h:31-140) emitted as ONE row per candidate
#: pair, so the shuffle is independent of cell count entirely
MOMENTS_SCHEMA = T.StructType(
    [
        T.StructField("feature_id", T.LongType(), False),
        T.StructField("_p_sum_c", T.DoubleType(), True),
        T.StructField("_p_sum_xc", T.DoubleType(), True),
        T.StructField("_p_sum_xxc", T.DoubleType(), True),
        T.StructField("_p_sum_cw", T.DoubleType(), True),
        T.StructField("_p_sum_xcw", T.DoubleType(), True),
        T.StructField("_p_sum_xxcw", T.DoubleType(), True),
        T.StructField("_p_min", T.DoubleType(), True),
        T.StructField("_p_max", T.DoubleType(), True),
    ]
)


def cell_areas(ymax, dx, dy, rows: np.ndarray, spherical: bool) -> np.ndarray:
    """Cell area per row index of a grid with top edge ``ymax`` and cell
    size ``dx`` × ``dy`` (scalars, or one value per row index) — cartesian
    constant or per-latitude-band spherical (ref raster_area.h:21-69,
    authalic radius 6378137)."""
    if not spherical:
        return np.full(len(rows), dx * dy)
    y_top = ymax - rows * dy
    y_bot = y_top - dy
    return (
        EARTH_RADIUS
        * EARTH_RADIUS
        * _PI180
        * np.abs(np.sin(y_bot * _PI180) - np.sin(y_top * _PI180))
        * dx
    )


# ---------------------------------------------------------------------------
# candidate join
# ---------------------------------------------------------------------------

def _tile_span(m, xmin: Column, ymin: Column, xmax: Column, ymax: Column,
               eps: float = 0.0) -> "tuple[Column, Column]":
    """(row sequence, col sequence) of the tiles of grid ``m`` that a box
    spans, clamped to the grid. ``eps`` > 0 pulls both edges inward by that
    fraction of a tile, so a box edge lying exactly on a tile boundary does
    not claim the neighbouring tile."""
    step_x = m.dx * m.tile_w
    step_y = m.dy * m.tile_h

    def index(offset: Column, step: float, n: int, nudge: float) -> Column:
        q = offset / F.lit(step)
        if nudge:
            q = q + F.lit(nudge)
        return F.greatest(F.lit(0), F.least(F.lit(n - 1), F.floor(q))).cast("int")

    rows = F.sequence(
        index(F.lit(m.ymax) - ymax, step_y, m.n_tile_rows, eps),
        index(F.lit(m.ymax) - ymin, step_y, m.n_tile_rows, -eps),
    )
    cols = F.sequence(
        index(xmin - F.lit(m.xmin), step_x, m.n_tile_cols, eps),
        index(xmax - F.lit(m.xmin), step_x, m.n_tile_cols, -eps),
    )
    return rows, cols


def feature_tile_cover(values: Raster, feats: DataFrame) -> DataFrame:
    """Explode each feature's bbox into covering tile keys (pure Catalyst
    sequence arithmetic — the 'H3 cover' of the north rule at tile
    granularity). Returns (tile_row, tile_col, feature_id, geom, f-bbox)."""
    m = values.meta
    f = feats.filter(
        (F.col("fxmin") <= F.lit(m.xmax))
        & (F.col("fxmax") >= F.lit(m.xmin))
        & (F.col("fymin") <= F.lit(m.ymax))
        & (F.col("fymax") >= F.lit(m.ymin))
    )
    rows, cols = _tile_span(
        m, F.col("fxmin"), F.col("fymin"), F.col("fxmax"), F.col("fymax")
    )
    return f.withColumn("tile_row", F.explode(rows)).withColumn(
        "tile_col", F.explode(cols)
    )


def candidate_pairs(
    values: Raster,
    feats: DataFrame,
    broadcast_features: bool = True,
    salt_buckets: int = 1,
) -> DataFrame:
    """Grouped candidate join: each tile row carries the LIST of features
    overlapping it, so a tile's (heavy) pixel payload crosses the JVM→Python
    boundary exactly once no matter how many features touch it — the fanout
    of a continent-sized polygon duplicates only its (small) WKB into the
    per-tile lists, never the rasters. At 10^12-tile scale the per-tile
    work list is also the unit of checkpointing and skew is bounded by
    features-per-tile, not cells-per-feature.

    ``salt_buckets > 1`` splits each hot tile's feature list into that many
    salt buckets (north-rule skew handling): the per-tile ``collect_list``
    and the downstream kernel row both stay bounded; the tile payload is
    replicated once per non-empty bucket — the standard payload-duplication
    vs task-size salting trade."""
    cover = feature_tile_cover(values, feats).select(
        "tile_row",
        "tile_col",
        F.struct("feature_id", "geom", "fxmin", "fymin", "fxmax", "fymax").alias(
            "_feat"
        ),
    )
    group_keys = ["tile_row", "tile_col"]
    if salt_buckets > 1:
        cover = cover.withColumn(
            "_salt",
            F.pmod(F.xxhash64(F.col("_feat.feature_id")), F.lit(salt_buckets)).cast(
                "int"
            ),
        )
        group_keys = group_keys + ["_salt"]
    per_tile = cover.groupBy(*group_keys).agg(
        F.collect_list("_feat").alias("feats")
    )
    if salt_buckets > 1:
        per_tile = per_tile.drop("_salt")
    if broadcast_features:
        per_tile = F.broadcast(per_tile)
    return values.kernel_tiles.join(per_tile, on=["tile_row", "tile_col"], how="inner")


class FeatureBroadcast:
    """Driver-collected feature set for the feature-sequential strategy
    (ref feature_sequential_processor.cpp:24-91): when the polygon table is
    small enough to broadcast (the reference's only mode), the candidate
    'join' degenerates to a vectorized bbox test inside the kernel and the
    whole zonal plan is ONE stage: scan tiles → kernel → agg. No shuffle,
    no per-tile list build, no AQE job chain — at 10^12-tile scale the tile
    scan is the only data motion."""

    __slots__ = ("ids", "fxmin", "fymin", "fxmax", "fymax", "wkbs", "_geoms")

    def __getstate__(self):
        return (self.ids, self.fxmin, self.fymin, self.fxmax, self.fymax, self.wkbs)

    def __setstate__(self, st):
        self.ids, self.fxmin, self.fymin, self.fxmax, self.fymax, self.wkbs = st
        self._geoms = None

    def __init__(self, rows):
        self._geoms = None
        n = len(rows)
        self.ids = np.empty(n, dtype=np.int64)
        self.fxmin = np.empty(n, dtype=np.float64)
        self.fymin = np.empty(n, dtype=np.float64)
        self.fxmax = np.empty(n, dtype=np.float64)
        self.fymax = np.empty(n, dtype=np.float64)
        self.wkbs = []
        for i, r in enumerate(rows):
            self.ids[i] = r["feature_id"]
            self.fxmin[i] = r["fxmin"]
            self.fymin[i] = r["fymin"]
            self.fxmax[i] = r["fxmax"]
            self.fymax[i] = r["fymax"]
            self.wkbs.append(bytes(r["geom"]))

    def overlapping(self, xmin, ymin, xmax, ymax, closed: bool) -> np.ndarray:
        """Indices of features whose bbox meets the given tile box (see
        ``_bbox_meets``)."""
        return np.nonzero(
            _bbox_meets(
                self.fxmin, self.fymin, self.fxmax, self.fymax,
                xmin, ymin, xmax, ymax, closed,
            )
        )[0]

    def geom(self, i: int):
        """Parsed geometry, cached per worker (the broadcast value is
        deserialized once per executor, so the cache amortizes across all
        tasks and batches)."""
        g = self._geoms
        if g is None:
            g = self._geoms = [None] * len(self.wkbs)
        if g[i] is None:
            g[i] = G.from_wkb(self.wkbs[i])
        return g[i]


def _bbox_meets(fxmin, fymin, fxmax, fymax, xmin, ymin, xmax, ymax, closed: bool):
    """Feature bbox vs tile box, on scalars or arrays: open intervals, or
    closed ones for LINEAR features, whose degenerate bboxes can lie exactly
    on a tile edge (the line kernel's edge ownership de-duplicates boundary
    segments)."""
    if closed:
        return (fxmin <= xmax) & (fxmax >= xmin) & (fymin <= ymax) & (fymax >= ymin)
    return (fxmin < xmax) & (fxmax > xmin) & (fymin < ymax) & (fymax > ymin)


def candidate_loop(feats_bc, closed: bool = False):
    """The candidate loop every per-tile kernel shares (the reference runs
    one loop behind both processors, raster_sequential_processor.cpp:38-121
    and feature_sequential_processor.cpp:24-91). Build it inside the
    kernel; the returned ``candidates(row)`` yields ``(feature_id, geom,
    (fxmin, fymin, fxmax, fymax))`` for every feature whose bbox meets the
    row's tile, from the broadcast ``feats_bc`` (vectorized bbox test) or
    the row's cover-join ``feats`` list (refined exactly: cover cells are
    floor-rounded). ``closed`` picks the bbox intervals (``_bbox_meets``)."""
    fb = feats_bc.value if feats_bc is not None else None
    geom_cache: dict[bytes, object] = {}

    def candidates(row):
        if fb is not None:
            for j in fb.overlapping(row.xmin, row.ymin, row.xmax, row.ymax, closed):
                bbox = (fb.fxmin[j], fb.fymin[j], fb.fxmax[j], fb.fymax[j])
                yield int(fb.ids[j]), fb.geom(j), bbox
            return
        for ft in row.feats:
            bbox = (ft["fxmin"], ft["fymin"], ft["fxmax"], ft["fymax"])
            if not _bbox_meets(*bbox, row.xmin, row.ymin, row.xmax, row.ymax, closed):
                continue
            wkb = bytes(ft["geom"])
            geom = geom_cache.get(wkb)
            if geom is None:
                geom = G.from_wkb(wkb)
                if len(geom_cache) > 4096:
                    geom_cache.clear()
                geom_cache[wkb] = geom
            yield ft["feature_id"], geom, bbox

    return candidates


#: features above this count fall back to the cover-join strategy
BROADCAST_FEATURE_LIMIT = 200_000

#: only fuse the broadcast-size guard with the collect when the optimizer
#: estimates the whole feature table comfortably collectable; larger or
#: unestimable tables count first so no geometry bytes reach the driver
#: before the fallback decision
_FUSED_COLLECT_MAX_BYTES = 256 << 20

#: the estimate must fit this many times under _FUSED_COLLECT_MAX_BYTES: it
#: sizes the scan (compressed geometry for a parquet source), and the rows a
#: collect materializes can be several times larger
_FUSED_COLLECT_MARGIN = 4


def _reconcile_crs(feats: DataFrame, raster_crs: str, cset: "set[str]") -> DataFrame:
    """Features in the raster CRS, given the set of their rows' CRS ("" for
    a row with no CRS). The reference auto-transforms the polygons with a
    warning (R/exact_extract.R:360-377); we do the same for the closed-form
    pairs of core/crs.py, and every other mismatch fails loudly instead of
    producing silently wrong answers on misaligned coordinates."""
    fcrs = sorted(cset - {""})
    bad = [c for c in fcrs if c != raster_crs]
    if not bad:
        return feats
    from ..core.crs import can_transform
    from ..sources.features import transform_features

    if "" in cset:
        # mixed null-CRS and defined-CRS rows: transform_features
        # reprojects EVERY row, which would silently move the null-CRS
        # geometries (assumed already in the raster CRS)
        raise ValueError(
            "feature table mixes rows with no CRS and rows in "
            f"{bad[0]!r}; cannot auto-transform without silently "
            "reprojecting the CRS-less rows — stamp or transform "
            "them explicitly first"
        )
    if len(fcrs) == 1 and can_transform(bad[0], raster_crs):
        import warnings

        warnings.warn(
            f"transforming features from {bad[0]!r} to the raster "
            f"CRS {raster_crs!r} (ref R/exact_extract.R:360-377)"
        )
        return transform_features(feats, bad[0], raster_crs)
    raise ValueError(
        f"feature CRS {bad[0]!r} does not match the raster CRS "
        f"{raster_crs!r} and no closed-form transform "
        "exists; transform the features to the raster CRS first "
        "(the reference transforms automatically via PROJ, "
        "R/exact_extract.R:360-377)"
    )


def feature_side(
    features: DataFrame, meta, broadcast: bool = True
) -> "tuple[DataFrame, FeatureBroadcast | None]":
    """The feature step every zonal entry point runs before touching tiles:
    ``(features in the raster CRS of meta, FeatureBroadcast | None)``.

    The CRS audit sees every row's ``crs`` (any single mismatched row
    invalidates the run) in ONE metadata job, agg(count, collect_set(crs)),
    whose count doubles as the broadcast-size guard. With ``broadcast`` the
    driver-side feature set of the broadcast strategy is collected, or None
    returned when the table holds more than ``BROADCAST_FEATURE_LIMIT`` rows
    (the caller falls back to the cover join, or refuses). Without a count
    from the audit, a table whose optimizer size estimate is comfortably
    collectable takes ONE bounded job (limit+1 rows, count derived from the
    result); a large or unestimable table counts FIRST so no geometry bytes
    land on the driver before the refusal decision (a 10M-feature table of
    megabyte WKBs must not stage limit+1 geometries to discover the
    fallback)."""
    limit = BROADCAST_FEATURE_LIMIT
    n_feats: int | None = None
    if "crs" in features.columns and meta.crs:
        meta_row = features.agg(
            F.count(F.lit(1)).alias("n"),
            # coalesce to "" so a null-crs row is visible in the set — rows
            # with no CRS are conventionally assumed to already be in the
            # raster CRS and must NOT be silently reprojected
            F.collect_set(F.coalesce(F.col("crs"), F.lit(""))).alias("cset"),
        ).first()
        n_feats = meta_row["n"]
        features = _reconcile_crs(features, meta.crs, set(meta_row["cset"]))
    if not broadcast:
        return features, None
    q = features.select("feature_id", "geom", "fxmin", "fymin", "fxmax", "fymax")
    if n_feats is None:
        est = None
        try:
            est = int(
                str(
                    features._jdf.queryExecution().optimizedPlan().stats()
                    .sizeInBytes()
                )
            )
        except Exception:
            pass
        if est is not None and est * _FUSED_COLLECT_MARGIN <= _FUSED_COLLECT_MAX_BYTES:
            rows = q.limit(limit + 1).collect()
            return features, FeatureBroadcast(rows) if len(rows) <= limit else None
        # column-pruned bounded count: no geometry bytes move
        n_feats = features.limit(limit + 1).count()
    if n_feats > limit:
        return features, None
    return features, FeatureBroadcast(q.collect())


def prune_tiles(tiles: DataFrame, meta, fb: FeatureBroadcast):
    """The tile step of the broadcast strategy: ``(tiles, sc.broadcast(fb))``
    with ``tiles`` (any frame with tile_row/tile_col on the grid of
    ``meta``) cut to the tiles some feature bbox spans — the reference's
    crop, exact_extract.cpp:359-361. The filter is skipped when features
    blanket the raster: scanning everything beats building a huge IN-set."""
    m = meta
    step_x = m.dx * m.tile_w
    step_y = m.dy * m.tile_h
    keys: set[tuple[int, int]] = set()
    blanket = False
    cap = max(64, (m.n_tile_rows * m.n_tile_cols) // 2)
    for i in range(len(fb.ids)):
        tr0 = max(0, min(m.n_tile_rows - 1, int((m.ymax - fb.fymax[i]) // step_y)))
        tr1 = max(0, min(m.n_tile_rows - 1, int((m.ymax - fb.fymin[i]) // step_y)))
        tc0 = max(0, min(m.n_tile_cols - 1, int((fb.fxmin[i] - m.xmin) // step_x)))
        tc1 = max(0, min(m.n_tile_cols - 1, int((fb.fxmax[i] - m.xmin) // step_x)))
        # bail out on the SPAN before enumerating: one raster-blanketing
        # polygon on a 10^12-tile grid must not build the cross product
        if len(keys) + (tr1 - tr0 + 1) * (tc1 - tc0 + 1) > cap:
            blanket = True
            break
        for tr in range(tr0, tr1 + 1):
            for tc in range(tc0, tc1 + 1):
                keys.add((tr, tc))
    spark = tiles.sparkSession
    if not blanket and len(keys) < m.n_tile_rows * m.n_tile_cols:
        # pandas/Arrow path => a true LocalTableScan: a python-list
        # createDataFrame becomes a 32-slice python RDD whose first
        # materialization costs one python-worker round-trip PER SLICE
        # (measured ~4s of pure overhead per fresh query plan)
        ks = sorted(keys)
        keys_df = spark.createDataFrame(
            pd.DataFrame(
                {
                    "tile_row": pd.Series([k[0] for k in ks], dtype="int32"),
                    "tile_col": pd.Series([k[1] for k in ks], dtype="int32"),
                }
            )
        )
        tiles = tiles.join(
            F.broadcast(keys_df), on=["tile_row", "tile_col"], how="inner"
        )
    return tiles, spark.sparkContext.broadcast(fb)


def build_candidates(
    values: Raster,
    feats: DataFrame,
    broadcast_features: bool = True,
    salt_buckets: int = 1,
):
    """Choose the candidate strategy (the reference's --strategy flag,
    exactextract.cpp:95-101):

    - feature-sequential / broadcast (small feature table): returns
      ``(tiles_df, sc.broadcast(FeatureBroadcast))`` — single-stage plan.
    - raster-sequential / cover join (huge feature table): returns
      ``(joined_df_with_feats_lists, None)``.
    """
    feats, fb = feature_side(feats, values.meta, broadcast_features)
    if fb is None:
        return (
            candidate_pairs(
                values, feats, broadcast_features=broadcast_features,
                salt_buckets=salt_buckets,
            ),
            None,
        )
    return prune_tiles(values.kernel_tiles, values.meta, fb)


def cover_candidates(values: Raster, features: DataFrame) -> DataFrame:
    """Feature step + cover join for a kernel that reads every feature of
    a tile's cover list unrefined (the dense coverage raster)."""
    feats, _ = feature_side(features, values.meta, broadcast=False)
    return candidate_pairs(values, feats)


def candidate_pairs_flat(values: Raster, feats: DataFrame) -> DataFrame:
    """Metadata-only (feature × tile) candidate pairs with the exact bbox
    refine — no pixel payloads; for diagnostics / pair accounting."""
    m = values.meta
    cover = feature_tile_cover(values, feats)
    tile_xmin = F.lit(m.xmin) + F.col("tile_col") * F.lit(m.dx * m.tile_w)
    tile_ymax = F.lit(m.ymax) - F.col("tile_row") * F.lit(m.dy * m.tile_h)
    tile_xmax = F.least(F.lit(m.xmax), tile_xmin + F.lit(m.dx * m.tile_w))
    tile_ymin = F.greatest(F.lit(m.ymin), tile_ymax - F.lit(m.dy * m.tile_h))
    return cover.filter(
        (F.col("fxmin") < tile_xmax)
        & (F.col("fxmax") > tile_xmin)
        & (F.col("fymin") < tile_ymax)
        & (F.col("fymax") > tile_ymin)
    )


def weight_disagg(values_grid: Grid, weights_grid: Grid) -> "tuple[int, int]":
    """Factor by which the value raster disaggregates onto a weight grid:
    (1, 1) unless the weights are finer, when coverage runs on the finest
    common grid (ref RasterView, raster.h:248-312). A weight grid without
    integer-multiple resolutions and aligned origins is refused (ref
    grid.h:219-282, checked at exact_extract.cpp:316-317) — sampling it
    would silently read the wrong cells."""
    vg, wg = values_grid, weights_grid
    if not vg.compatible_with(wg):
        raise ValueError(
            "weights grid is not compatible with the value grid "
            "(resolutions must be integer multiples, origins aligned)"
        )
    if wg.dx < vg.dx or wg.dy < vg.dy:
        return (int(round(vg.dx / wg.dx)), int(round(vg.dy / wg.dy)))
    return (1, 1)


# Broadcast the weight tile table only while its full pixel payload is
# plausibly executor-memory safe. Above this the hint is dropped and the
# slim-key equi-join on (w_tr, w_tc) shuffles instead (AQE picks the
# strategy) — an unconditional broadcast of a 100-TB-scale weight raster's
# payloads is a driver/executor OOM, not a slowdown.
WEIGHT_BROADCAST_MAX_BYTES = 64 << 20


def _weight_payload_bytes(wm) -> int:
    """Upper-bound estimate of the weight raster's in-memory pixel payload
    (8 bytes/cell float64), computable from metadata alone — no job."""
    return int(wm.width) * int(wm.height) * 8


def _attach_weights(cand: DataFrame, values: Raster, weights: Raster) -> DataFrame:
    """Join the weight tiles overlapping each candidate value tile
    (collect_list of structs; exactly 1 element when schemes align).
    Grouping happens on a slim key projection so the heavy tile payload
    never enters the shuffle; the weight side is broadcast only below a
    size gate (see WEIGHT_BROADCAST_MAX_BYTES).

    Aligned fast path: when the weight raster shares the value raster's
    grid AND tiling exactly, value tile (r, c) overlaps weight tile
    (r, c) and nothing else — one equi-join on the tile index, no
    explode/collect_list shuffle at all (the common case: weights
    produced alongside values on one grid)."""
    wm = weights.meta
    vm = values.meta
    aligned = (
        wm.xmin == vm.xmin and wm.ymax == vm.ymax
        and wm.dx == vm.dx and wm.dy == vm.dy
        and wm.tile_w == vm.tile_w and wm.tile_h == vm.tile_h
        and wm.width == vm.width and wm.height == vm.height
    )
    if aligned:
        w1 = weights.tiles.select(
            "tile_row", "tile_col",
            F.array(
                F.struct(
                    F.col("xmin").alias("xmin"),
                    F.col("ymax").alias("ymax"),
                    F.col("dx").alias("dx"),
                    F.col("dy").alias("dy"),
                    F.col("nrows").alias("nrows"),
                    F.col("ncols").alias("ncols"),
                    F.col("px").alias("px"),
                )
            ).alias("wtiles"),
        )
        if _weight_payload_bytes(wm) <= WEIGHT_BROADCAST_MAX_BYTES:
            w1 = F.broadcast(w1)
        return cand.join(w1, on=["tile_row", "tile_col"], how="left")
    w = weights.tiles.select(
        F.col("tile_row").alias("w_tr"),
        F.col("tile_col").alias("w_tc"),
        F.struct(
            F.col("xmin").alias("xmin"),
            F.col("ymax").alias("ymax"),
            F.col("dx").alias("dx"),
            F.col("dy").alias("dy"),
            F.col("nrows").alias("nrows"),
            F.col("ncols").alias("ncols"),
            F.col("px").alias("px"),
        ).alias("wtile"),
    )
    slim = cand.select("tile_row", "tile_col", "xmin", "ymin", "xmax", "ymax").dropDuplicates(
        ["tile_row", "tile_col"]
    )
    rows, cols = _tile_span(
        wm, F.col("xmin"), F.col("ymin"), F.col("xmax"), F.col("ymax"), eps=1e-9
    )
    expanded = slim.withColumn("w_tr", F.explode(rows)).withColumn(
        "w_tc", F.explode(cols)
    )
    if _weight_payload_bytes(wm) <= WEIGHT_BROADCAST_MAX_BYTES:
        w = F.broadcast(w)
    joined = expanded.join(w, on=["w_tr", "w_tc"], how="left")
    wlists = joined.groupBy("tile_row", "tile_col").agg(
        F.collect_list("wtile").alias("wtiles")
    )
    return cand.join(wlists, on=["tile_row", "tile_col"], how="left")


def static_weight_lists(values_meta, weights: Raster) -> DataFrame:
    """(tile_row, tile_col, wtiles) keyed by VALUE-raster tile index, built
    entirely from the static weight raster — for stream-static joins where
    the value tiles arrive as a stream and no stateful grouping may run on
    the streaming side (``_attach_weights`` groups on the candidate side,
    which Structured Streaming forbids before the final aggregate). Each
    weight tile enumerates the value tiles it overlaps (pure arithmetic on
    the value grid), then one STATIC groupBy collects the per-value-tile
    weight lists; the streaming join is a stateless broadcast equi-join."""
    wt = weights.tiles.select(
        "xmin", "ymin", "xmax", "ymax",
        F.struct(
            F.col("xmin").alias("xmin"),
            F.col("ymax").alias("ymax"),
            F.col("dx").alias("dx"),
            F.col("dy").alias("dy"),
            F.col("nrows").alias("nrows"),
            F.col("ncols").alias("ncols"),
            F.col("px").alias("px"),
        ).alias("wtile"),
    )
    rows, cols = _tile_span(
        values_meta, F.col("xmin"), F.col("ymin"), F.col("xmax"), F.col("ymax"),
        eps=1e-9,
    )
    expanded = wt.withColumn("tile_row", F.explode(rows)).withColumn(
        "tile_col", F.explode(cols)
    )
    return expanded.groupBy("tile_row", "tile_col").agg(
        F.collect_list("wtile").alias("wtiles")
    )


# ---------------------------------------------------------------------------
# the coverage kernel as a mapInPandas stage
# ---------------------------------------------------------------------------

def coverage_facts(
    cand: DataFrame,
    *,
    values_meta,
    area_weights: bool = False,
    spherical: bool = False,
    coverage_area: bool = False,
    keep_nodata: bool = False,
    default_value: float | None = None,
    default_weight: float | None = None,
    emit: str = "pixels",
    feats_bc=None,
    disagg: "tuple[int, int]" = (1, 1),
    by_layer: bool = False,
) -> DataFrame:
    """Run the exact coverage kernel per (feature, tile) row.

    ``feats_bc`` (a ``sc.broadcast(FeatureBroadcast)``) switches the kernel
    to the feature-sequential strategy: ``cand`` is then the bare tile
    DataFrame and candidates are found by a vectorized bbox test.

    ``emit`` selects the kernel-side reduction (the reference's per-chunk
    StatsRegistry accumulation, stats_registry.h:25-84, done before the
    shuffle instead of after it):

    - ``"pixels"``: sparse facts (feature_id, v, w, cov, cell, cx, cy,
      area) — the coverage-fraction raster in long form, for the pixel/UDF
      path.
    - ``"freq"``: per-(feature, tile, value) partial sums (v, Σc, Σcw) —
      combine for the groupBy(fid, v) frequency-stat shuffle.
    - ``"moments"``: ONE row per (feature, tile) of algebraic moments —
      shuffle volume independent of cell count; the 100-TB path for all
      algebraic stats.

    Tiles of a value-less raster (``tile_pixels`` returns None) read as 0.

    Each Arrow batch first gathers its candidate pairs, then computes their
    coverage in chunks of at most ``core.coverage.CELL_BUDGET`` cells (read
    when the plan is built), one ``coverage_fraction_many`` call and one
    vectorized pass over the covered cells per chunk. Rows are those of a
    per-pair loop, bit for bit and in the same order.
    """
    raster_xmin = values_meta.xmin
    raster_ymax = values_meta.ymax
    raster_width = values_meta.width
    need_area = coverage_area or area_weights or emit == "pixels"
    budget = coverage.CELL_BUDGET
    fx, fy = disagg
    has_w = "wtiles" in cand.columns

    def _chunk_facts(tiles, pairs) -> "list | None":
        """Output columns of one chunk. ``tiles``: (row, px, tile_grid) of
        the batch; ``pairs``: (tile index, feature_id, sub, samp, geom), in
        tile order. Every cell-level step is elementwise over the
        chunk; the moments sums stay one reduction per pair."""
        samps = [p[3] for p in pairs]
        rrs, ccs, covvs = [], [], []
        for cov in coverage_fraction_many(samps, [p[4] for p in pairs]):
            hit = cov > 0
            rr, cc = np.nonzero(hit)
            rrs.append(rr)
            ccs.append(cc)
            covvs.append(cov[hit])
        counts = np.array([len(rr) for rr in rrs], dtype=np.int64)
        if not counts.any():
            return None
        rr, cc, covv = np.concatenate(rrs), np.concatenate(ccs), np.concatenate(covvs)
        # a pair's cells are one contiguous range: per-pair scalars expand
        # with np.repeat
        tix = np.array([p[0] for p in pairs], dtype=np.int64)
        off = np.array([tiles[p[0]][2].row_col_offset(p[2]) for p in pairs],
                       dtype=np.int64).reshape(-1, 2)
        tr = (rr // fy if fy > 1 else rr) + np.repeat(off[:, 0], counts)
        tc = (cc // fx if fx > 1 else cc) + np.repeat(off[:, 1], counts)

        def tile_ranges():
            # cells of one tile are one contiguous range (pairs grouped by tile)
            t, first = np.unique(tix, return_index=True)
            bnd = np.r_[0, np.cumsum(counts)][np.r_[first, len(tix)]].tolist()
            return zip([tiles[i] for i in t.tolist()], bnd[:-1], bnd[1:])

        v = np.zeros(len(rr))
        for (_, px, _), a, b in tile_ranges():
            if px is not None and a < b:
                v[a:b] = px[tr[a:b], tc[a:b]]
        if default_value is not None:
            v = np.where(np.isnan(v), default_value, v)
        if not keep_nodata:
            ok = ~np.isnan(v)
            if not ok.all():
                counts = np.bincount(np.repeat(np.arange(len(pairs)), counts)[ok],
                                     minlength=len(pairs))
                rr, cc, tr, tc, v, covv = (a[ok] for a in (rr, cc, tr, tc, v, covv))
            if len(v) == 0:
                return None
        n = len(v)

        def per_cell(attr):
            values = np.array([getattr(s, attr) for s in samps], dtype=np.float64)
            return np.repeat(values, counts)

        if has_w or emit == "pixels":
            # cell centers in world coords, at sampling resolution
            cx = per_cell("xmin") + (cc + 0.5) * per_cell("dx")
            cy = per_cell("ymax") - (rr + 0.5) * per_cell("dy")
        area = (
            cell_areas(per_cell("ymax"), per_cell("dx"), per_cell("dy"), rr, spherical)
            if need_area else None
        )
        if coverage_area:
            covv = covv * area
        if area_weights:
            w = area
        elif has_w:
            w = np.full(n, np.nan)
            for (row, _, _), a, b in tile_ranges():
                for wt in (row.wtiles if row.wtiles is not None else []):
                    wpx = np.asarray(wt["px"], dtype=np.float64).reshape(
                        int(wt["nrows"]), int(wt["ncols"])
                    )
                    wr = np.floor((wt["ymax"] - cy[a:b]) / wt["dy"]).astype(np.int64)
                    wc = np.floor((cx[a:b] - wt["xmin"]) / wt["dx"]).astype(np.int64)
                    sel = (
                        (wr >= 0)
                        & (wr < int(wt["nrows"]))
                        & (wc >= 0)
                        & (wc < int(wt["ncols"]))
                    )
                    if sel.any():
                        w[a:b][sel] = wpx[wr[sel], wc[sel]]
            if default_weight is not None:
                w = np.where(np.isnan(w), default_weight, w)
        else:
            w = np.full(n, np.nan)
        fid = np.array([p[1] for p in pairs], dtype=np.int64)
        layer = (
            np.array([tiles[p[0]][0].layer for p in pairs], dtype=object)
            if by_layer else None
        )
        if emit == "moments":
            # ONE row per pair with cells: per-pair sums of the chunk's
            # elementwise products
            cw = covv * w
            vc = v * covv
            vcw = v * cw
            terms = (covv, vc, v * vc, cw, vcw, v * vcw)
            bnd = np.r_[0, np.cumsum(counts)].tolist()
            hit = np.flatnonzero(counts)
            out = np.empty((len(hit), 8))
            for k, p in enumerate(hit.tolist()):
                a, b = bnd[p], bnd[p + 1]
                out[k, :6] = [t[a:b].sum() for t in terms]
                out[k, 6] = v[a:b].min()
                out[k, 7] = v[a:b].max()
            cols = [fid[hit]] + ([layer[hit]] if by_layer else [])
            return cols + list(out.T)
        if emit == "freq":
            # one (pair, value) key per cell; a key's sums add its cells in
            # the order a per-pair bincount would
            pi = np.repeat(np.arange(len(pairs)), counts)
            uv, vinv = np.unique(v, return_inverse=True)
            ukey, kinv = np.unique(pi * len(uv) + vinv, return_inverse=True)
            gp = ukey // len(uv)
            cols = [fid[gp]] + ([layer[gp]] if by_layer else [])
            return cols + [
                uv[ukey % len(uv)],
                np.bincount(kinv, weights=covv),
                np.bincount(kinv, weights=covv * w),
            ]
        # 1-based row-major cell index of the VALUE raster, even when
        # disaggregated (ref raster_utils.cpp:53-118)
        tg = np.array(
            [(int(round((raster_ymax - g.ymax) / g.dy)),
              int(round((g.xmin - raster_xmin) / g.dx)))
             for g in (tiles[p[0]][2] for p in pairs)],
            dtype=np.int64,
        ).reshape(-1, 2)
        grow = np.repeat(tg[:, 0], counts) + tr
        gcol = np.repeat(tg[:, 1], counts) + tc
        cell = (grow * raster_width + gcol + 1).astype(np.int64)
        return [np.repeat(fid, counts), v, w, covv, cell, cx, cy, area]

    def _kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        candidates = candidate_loop(feats_bc)
        for pdf in batches:
            tiles, pairs = [], []
            for row in pdf.itertuples(index=False):
                # decode this tile's pixels ONCE for all its features
                tile_grid = Grid(row.xmin, row.ymin, row.xmax, row.ymax, row.dx, row.dy)
                tiles.append((row, tile_pixels(row), tile_grid))
                for feature_id, geom, bbox in candidates(row):
                    sub = tile_grid.crop(Box(*bbox))
                    if sub.size == 0:
                        continue
                    if fx > 1 or fy > 1:
                        # disaggregate: coverage on the finer common grid;
                        # the value raster is sampled by integer division —
                        # the reference's lazy RasterView (raster.h:248-312)
                        # without materializing the upsampled block
                        samp = Grid(
                            sub.xmin, sub.ymin, sub.xmax, sub.ymax,
                            sub.dx / fx, sub.dy / fy,
                        )
                    else:
                        samp = sub
                    pairs.append((len(tiles) - 1, feature_id, sub, samp, geom))
            chunks = [
                _chunk_facts(tiles, pairs[a:b])
                for a, b in budget_chunks([p[3].size for p in pairs], budget)
            ]
            chunks = [c for c in chunks if c is not None]
            if chunks:
                # ONE frame per Arrow batch
                yield pd.DataFrame(
                    {
                        name: np.concatenate([c[i] for c in chunks])
                        for i, name in enumerate(_out_cols)
                    }
                )

    if emit == "moments":
        schema = MOMENTS_SCHEMA
        if by_layer:
            schema = T.StructType(
                [schema.fields[0], T.StructField("layer", T.StringType())]
                + list(schema.fields[1:])
            )
    elif emit == "freq":
        schema = FREQ_SCHEMA
        if by_layer:
            schema = T.StructType(
                [schema.fields[0], T.StructField("layer", T.StringType())]
                + list(schema.fields[1:])
            )
    else:
        schema = FACTS_SCHEMA
    _out_cols = [f.name for f in schema.fields]
    return cand.mapInPandas(_kernel, schema)


# ---------------------------------------------------------------------------
# public API
# ---------------------------------------------------------------------------

def exact_extract(
    values: Raster,
    features: DataFrame,
    stats: "list[str] | str",
    *,
    weights: "Raster | str | None" = None,
    quantiles: "list[float] | None" = None,
    coverage_area: bool = False,
    spherical: bool = False,
    default_value: float | None = None,
    default_weight: float | None = None,
    broadcast_features: bool = True,
    salt_buckets: int = 1,
    append_cols: "DataFrame | None" = None,
    sort: bool = True,
) -> DataFrame:
    """Named-stats path of the reference API (R/exact_extract.R:270-773).

    ``features`` must have (feature_id, geom, fxmin..fymax) — see
    ``sources.features.prepare_features``. ``weights`` may be a second
    Raster or the string ``'area'`` (cell-area weighting,
    R/exact_extract_helpers.R:154-160). ``sort=False`` skips the final
    global orderBy — at scale that is one avoidable full sort; pass False
    whenever downstream consumers don't need feature_id order.

    Cardinality note: frequency stats (``mode``/``minority``/``variety``/
    ``median``/``quantile``/``frac``/``weighted_frac``) shuffle one row
    per DISTINCT (feature, value) pair, and ``frac`` additionally collects
    the GLOBAL distinct value set on the driver to zero-fill (the
    reference's own two-pass semantics, src/exact_extract.cpp:420-434) —
    intended for categorical rasters. A continuous-valued raster makes
    these scale with covered cells; algebraic stats are unaffected.
    """
    if isinstance(stats, str):
        stats = [stats]
    plan = StatsPlan(stats, quantiles or [])
    plan.check_weights(weights)
    area_weights = weights == "area"
    wraster = weights if isinstance(weights, Raster) else None
    disagg = (1, 1)
    if wraster is not None:
        disagg = weight_disagg(values.meta.grid, wraster.meta.grid)
    # count/sum are meaningless on disaggregated values
    # (exact_extract.cpp:329-332)
    banned = {"count", "sum"} & set(stats)
    if disagg != (1, 1) and banned:
        raise ValueError(
            f"stats {sorted(banned)} cannot be computed when the "
            "value raster is disaggregated to a finer weight grid"
        )

    cand, feats_bc = build_candidates(
        values, features, broadcast_features, salt_buckets=salt_buckets
    )
    if wraster is not None:
        cand = _attach_weights(cand, values, wraster)

    kernel_kwargs = dict(
        feats_bc=feats_bc,
        disagg=disagg,
        values_meta=values.meta,
        area_weights=area_weights,
        spherical=spherical,
        coverage_area=coverage_area,
        default_value=default_value,
        default_weight=default_weight,
    )

    if plan.freq:
        # one kernel pass; everything (algebraic included) derives exactly
        # from the merged value-frequency table
        partials = coverage_facts(cand, emit="freq", **kernel_kwargs)
        freq_df = merge_freq(partials).localCheckpoint(eager=True)
        result = stats_from_freq(plan, freq_df)
    else:
        # moments path: kernel emits ONE row per (feature, tile); the final
        # shuffle is independent of cell count (StatsRegistry merge)
        moments = coverage_facts(cand, emit="moments", **kernel_kwargs)
        result = stats_from_moments(plan, moments)
    result = backfill(result, features, feats_bc)
    if append_cols is not None:
        result = result.join(append_cols, on="feature_id", how="left")
    return result.orderBy("feature_id") if sort else result


def exact_extract_pixels(
    values: Raster,
    features: DataFrame,
    *,
    weights: "Raster | None" = None,
    include_xy: bool = False,
    include_cell: bool = False,
    include_area: bool = False,
    coverage_area: bool = False,
    spherical: bool = False,
    default_value: float | None = None,
    default_weight: float | None = None,
    broadcast_features: bool = True,
    include_cols: "DataFrame | None" = None,
) -> DataFrame:
    """The R-function path's pixel table (ref src/exact_extract.cpp:46-237):
    one row per (feature, covered cell) with value / coverage_fraction /
    optional weight / x / y / cell / area columns.

    ``include_cols`` (ref R/exact_extract.R include_cols): a DataFrame with
    a ``feature_id`` column whose remaining columns are copied onto every
    pixel row of that feature (broadcast left join — attribute tables are
    small next to pixel tables)."""
    cand, feats_bc = build_candidates(values, features, broadcast_features)
    disagg = (1, 1)
    if weights is not None:
        disagg = weight_disagg(values.meta.grid, weights.meta.grid)
        cand = _attach_weights(cand, values, weights)
    facts = coverage_facts(
        cand,
        feats_bc=feats_bc,
        disagg=disagg,
        values_meta=values.meta,
        coverage_area=coverage_area,
        spherical=spherical,
        default_value=default_value,
        default_weight=default_weight,
    )
    cols = [F.col("feature_id"), F.col("v").alias("value")]
    if weights is not None:
        cols.append(F.col("w").alias("weight"))
    cols.append(F.col("cov").alias("coverage_fraction"))
    if include_xy:
        cols += [F.col("cx").alias("x"), F.col("cy").alias("y")]
    if include_cell:
        cols.append(F.col("cell"))
    if include_area:
        cols.append(F.col("area"))
    out = facts.select(*cols)
    if include_cols is not None:
        out = out.join(F.broadcast(include_cols), on="feature_id", how="left")
    return out


def exact_extract_apply(
    values: Raster,
    features: DataFrame,
    fn,
    schema,
    *,
    weights: "Raster | None" = None,
    **pixel_kwargs,
) -> DataFrame:
    """UD(A)F surface — the reference's R-function path
    (R/exact_extract.R:144-166, 585-721): ``fn(pdf) -> pdf`` receives one
    pandas frame per feature (columns value/coverage_fraction[/weight/...])
    and may return any number of rows. One-to-one Spark analog:
    groupBy(feature_id).applyInPandas."""
    pixels = exact_extract_pixels(values, features, weights=weights, **pixel_kwargs)
    return pixels.groupBy("feature_id").applyInPandas(fn, schema)


# ---------------------------------------------------------------------------
# final aggregate: merged partials -> stat columns -> one row per feature
# ---------------------------------------------------------------------------

#: the additive moment columns of MOMENTS_SCHEMA
_MOMENT_SUMS = [f.name for f in MOMENTS_SCHEMA.fields if f.name.startswith("_p_sum")]


def merge_freq(partials: DataFrame, *keys: str) -> DataFrame:
    """Merge per-(feature, tile) value frequencies (FREQ_SCHEMA) into one
    (feature_id, *keys, v, sum_c, sum_cw) row per distinct value."""
    return partials.groupBy("feature_id", *keys, "v").agg(
        F.sum("sum_c").alias("sum_c"), F.sum("sum_cw").alias("sum_cw")
    )


def merge_moments(moments: DataFrame) -> DataFrame:
    """Merge partial moments per feature, keeping MOMENTS_SCHEMA — the
    StatsRegistry merge (stats_registry.h:27-40) is closed over its own
    schema, so merged partials (checkpoint buckets, streaming state) merge
    again in ``stats_from_moments``."""
    return moments.groupBy("feature_id").agg(
        *[F.sum(c).alias(c) for c in _MOMENT_SUMS],
        F.min("_p_min").alias("_p_min"),
        F.max("_p_max").alias("_p_max"),
    )


def stats_from_moments(
    plan: StatsPlan, moments_df: DataFrame, keys: "tuple[str, ...]" = ("feature_id",)
) -> DataFrame:
    """Algebraic stat columns per ``keys`` from partial moments."""
    fin = plan.finalize_columns()
    return moments_df.groupBy(*keys).agg(*plan.algebraic_aggs_from_moments()).select(
        *keys, *[fin[s].alias(s) for s in plan.algebraic]
    )


def stats_from_freq(plan: StatsPlan, freq_df: DataFrame) -> DataFrame:
    """Every requested stat from a merged value-frequency table — the
    algebraic ones exactly too, because the frequency map partitions the
    facts by value. Each freq stat piece (mode, quantile, frac, ...) reads
    ``freq_df`` again, so when ``plan.freq`` is set the caller passes it
    ``localCheckpoint``-ed (eager: the kernel runs once, and unlike a cache
    entry the blocks are released when the result is GC'd)."""
    result = None
    if plan.algebraic:
        fin = plan.finalize_columns()
        result = freq_df.groupBy("feature_id").agg(
            *plan.algebraic_aggs_from_freq()
        ).select("feature_id", *[fin[s].alias(s) for s in plan.algebraic])
    if plan.freq:
        fr = _freq_stats(plan, freq_df)
        result = fr if result is None else result.join(fr, on="feature_id", how="full")
    return result


def backfill(
    result: DataFrame,
    features: DataFrame,
    feats_bc,
    stat_of: "dict[str, str] | None" = None,
) -> DataFrame:
    """One row per feature: features with no covered cells get 0 for the
    ``ZERO_FILL`` stats and NULL for the rest (ref test_exact_extract.R:
    433-485). ``stat_of`` maps renamed result columns (a stack's
    ``{stat}.{layer}``) back to their stat.

    In broadcast mode the ids are already on the driver: a LocalRelation
    (pandas/Arrow => LocalTableScan, see prune_tiles) avoids
    re-scanning the feature source, and the per-feature result is as small
    as the broadcast feature set, so the hint makes the join a
    BroadcastHashJoin. Cover-join mode left-joins the feature ids."""
    if feats_bc is not None:
        base = result.sparkSession.createDataFrame(
            pd.DataFrame({"feature_id": pd.Series(feats_bc.value.ids, dtype="int64")})
        )
        out = base.join(F.broadcast(result), on="feature_id", how="left")
    else:
        out = features.select("feature_id").join(result, on="feature_id", how="left")
    stat_of = stat_of or {}
    cols = []
    for f in out.schema.fields:
        c = F.col(f"`{f.name}`")
        fill = ZERO_FILL.get(stat_of.get(f.name, f.name))
        if fill is not None:
            # Spark's na.fill semantics (NaN counts as missing), spelled
            # out because na.fill cannot address dotted column names
            if isinstance(f.dataType, (T.DoubleType, T.FloatType)):
                c = F.nanvl(c, F.lit(None))
            c = F.coalesce(c, F.lit(fill).cast(f.dataType)).alias(f.name)
        cols.append(c)
    return out.select(*cols)


def _freq_stats(plan: StatsPlan, freq_df: DataFrame) -> DataFrame:
    """Frequency-map stats over groupBy(fid, v): mode/minority/variety/
    median/quantile/frac/weighted_frac (ref raster_stats.h:176-230, 281-304,
    393-411).

    NaN/NULL contract of median and quantile: they skip NaN and NULL
    values, so a feature whose frequency rows are all NaN has no quantile
    row. Joined with any other stat its median and quantile are NULL (not
    NaN); asked alone, the feature has no row and ``backfill`` adds it
    with NULL."""
    pieces: list[DataFrame] = []
    fid = F.col("feature_id")

    wanted = set(plan.freq)
    # mode/majority, minority, and variety fuse into ONE hash aggregate —
    # max_by/min_by over struct(sum_c, v) realize the reference's tie rules
    # (mode: highest count, tie -> highest value, raster_stats.h:176-186;
    # minority: lowest count, tie -> lowest value, raster_stats.h:393-403)
    # in a single exchange instead of two sort windows + a join chain.
    point_aggs: list = []
    if wanted & {"mode", "majority"}:
        mode_expr = F.max_by(
            "v", F.struct(F.col("sum_c").alias("c"), F.col("v").alias("vv"))
        )
        for s in [x for x in plan.freq if x in ("mode", "majority")]:
            point_aggs.append(mode_expr.alias(s))
    if "minority" in wanted:
        point_aggs.append(
            F.min_by(
                "v", F.struct(F.col("sum_c").alias("c"), F.col("v").alias("vv"))
            ).alias("minority")
        )
    if "variety" in wanted:
        point_aggs.append(F.count("v").cast("int").alias("variety"))
    if point_aggs:
        pieces.append(freq_df.groupBy("feature_id").agg(*point_aggs))
    qs: list[float] = []
    if "median" in wanted:
        qs.append(0.5)
    if "quantile" in wanted:
        qs.extend(plan.quantiles)
    if qs:
        qnames = (["median"] if "median" in wanted else []) + (
            [quantile_name(q) for q in plan.quantiles] if "quantile" in wanted else []
        )
        qvals = qs
        # Distributed exact weighted quantile (weighted_quantiles.cpp:20-70
        # semantics, same as core/quantiles.weighted_quantile): the
        # s-coordinate of every (feature, v) row comes from ONE window pass
        # (row_number + exclusive/total running sums, all sharing a single
        # exchange+sort by feature_id/v), and each requested q interpolates
        # between the bracketing rows via max_by/min_by in the SAME
        # feature_id aggregate — no per-feature Python group, so a
        # continuous-valued mega-polygon no longer funnels its whole
        # frequency table through one Python task. Bit-exactness: the
        # running window sums accumulate in ascending-v order (the same
        # left-to-right fold as np.cumsum), and the interpolation expression
        # mirrors the numpy operation order term for term.
        from pyspark.sql.window import Window

        wo = Window.partitionBy("feature_id").orderBy("v")
        w_prev = wo.rowsBetween(Window.unboundedPreceding, -1)
        w_all = wo.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        valid = freq_df.where(
            F.col("v").isNotNull() & ~F.isnan(F.col("v"))
        )
        kk = (F.row_number().over(wo) - F.lit(1)).cast("double")
        nn = F.count(F.lit(1)).over(w_all).cast("double")
        csum_prev = F.sum("sum_c").over(w_prev)
        tot = F.sum("sum_c").over(w_all)
        s_col = F.when(kk == 0.0, F.lit(0.0)).otherwise(
            kk * F.col("sum_c") + (nn - F.lit(1.0)) * csum_prev
        )
        staged = valid.select(
            "feature_id",
            "v",
            s_col.alias("_s"),
            (tot * (nn - F.lit(1.0))).alias("_sn"),
        )
        q_aggs: list = []
        for nm, q in zip(qnames, qvals):
            tgt = F.lit(float(q)) * F.col("_sn")
            left = F.max_by(
                F.struct(F.col("_s").alias("s"), F.col("v").alias("v")),
                F.when(F.col("_s") <= tgt, F.col("_s")),
            )
            right = F.min_by(
                F.struct(F.col("_s").alias("s"), F.col("v").alias("v")),
                F.when(F.col("_s") > tgt, F.col("_s")),
            )
            target_v = F.max(tgt)
            vmax = F.max("v")
            interp = left["v"] + (
                (target_v - left["s"]) * (right["v"] - left["v"])
            ) / (right["s"] - left["s"])
            q_aggs.append(
                F.when(right.isNull(), vmax).otherwise(interp).alias(nm)
            )
        pieces.append(staged.groupBy("feature_id").agg(*q_aggs))
    for s, num in (("frac", "sum_c"), ("weighted_frac", "sum_cw")):
        if s in wanted:
            # global distinct value set across ALL features
            # (ref exact_extract.cpp:420-434, 533-540) — two-pass like the
            # reference; the distinct set is tiny (categorical rasters).
            # limit-bounded like every other driver-side metadata job: a
            # continuous raster fails LOUDLY here instead of OOMing the
            # driver or exploding the pivot
            rows = (
                freq_df.select("v").where(F.col("v").isNotNull())
                .distinct().limit(MAX_FRAC_VALUES + 1).collect()
            )
            if len(rows) > MAX_FRAC_VALUES:
                raise ValueError(
                    f"'{s}' requires a categorical raster: more than "
                    f"{MAX_FRAC_VALUES} distinct values found (one result "
                    "column per value, ref exact_extract.cpp:420-434); use "
                    "quantile/median stats for continuous rasters"
                )
            vals = sorted(r[0] for r in rows if r[0] is not None)
            tot = freq_df.groupBy("feature_id").agg(F.sum(num).alias("_tot"))
            piv = (
                freq_df.groupBy("feature_id")
                .pivot("v", vals)
                .agg(F.first(num))
                .join(tot, on="feature_id")
            )
            sel = [fid]
            for vv in vals:
                cname = f"{vv:g}".replace("-", "m").replace(".", "_")
                sel.append(
                    (F.coalesce(F.col(f"`{vv}`"), F.lit(0.0)) / F.col("_tot")).alias(
                        f"{s}_{cname}"
                    )
                )
            pieces.append(piv.select(*sel))

    out = pieces[0]
    for p in pieces[1:]:
        out = out.join(p, on="feature_id", how="full")
    return out
