"""Batch-shape invariance of the per-tile kernels (ROADMAP aim 3).

The coverage kernels compute every candidate pair of an Arrow batch in one
vectorized pass, chunked by ``core.coverage.CELL_BUDGET`` cells, so which
rows share a batch, and how a batch splits into chunks, now reaches the
kernel. Neither may change a single bit of any result.
"""

import numpy as np

from exactextractr_spark.core import coverage
from exactextractr_spark.operators.coverage_op import coverage_fraction_raster
from exactextractr_spark.operators.zonal import exact_extract, exact_extract_pixels
from exactextractr_spark.sources.features import features_from_wkt
from exactextractr_spark.sources.tiles import Raster, RasterMeta

BATCH = "spark.sql.execution.arrow.maxRecordsPerBatch"

WKTS = [
    "POLYGON ((10.3 39.7, 14.2 39.1, 13.3 35.2, 10.1 36.4, 10.3 39.7))",
    "MULTIPOLYGON (((11 38, 17 38, 17 34, 11 34, 11 38), "
    "(12 37, 12.6 35.1, 15.3 35.3, 12 37)), ((15.5 39.9, 17.9 39.9, 17.9 38.5, 15.5 39.9)))",
    "POLYGON ((10 40, 18 40, 18 34, 10 34, 10 40))",
    "POLYGON ((13.01 37.01, 13.02 37.01, 13.02 37.03, 13.01 37.01))",
    "POLYGON ((12.2 39.4, 12.9 39.4, 12.9 38.6, 12.2 38.6, 12.2 39.4))",
    "POLYGON ((14.6 36.9, 17.4 34.3, 16.1 36.8, 14.6 36.9))",
    "POLYGON ((10.6 35.9, 11.9 35.9, 11.2 34.4, 10.6 35.9))",
    "POLYGON ((30 30, 31 30, 31 31, 30 30))",
]


def inputs(spark):
    rng = np.random.default_rng(11)
    arr = rng.integers(0, 6, (12, 16)).astype(float)
    arr[3, 4] = -9999.0  # nodata sentinel
    arr[7, 9] = np.nan
    meta = RasterMeta("v", xmin=10, ymax=40, dx=0.5, dy=0.5, width=16, height=12,
                      tile_w=5, tile_h=4, nodata=-9999.0)
    return Raster.from_array(spark, arr, meta), features_from_wkt(spark, WKTS)


def results(r, feats) -> dict:
    out = {}
    for broadcast, salt in ((True, 1), (False, 4)):
        kw = dict(broadcast_features=broadcast, salt_buckets=salt)
        out["freq", broadcast] = exact_extract(
            r, feats, ["mode", "variety", "median"], **kw
        ).collect()
        out["algebraic", broadcast] = exact_extract(
            r, feats, ["count", "sum", "mean", "min", "max", "stdev"], **kw
        ).collect()
    out["pixels"] = exact_extract_pixels(
        r, feats, include_xy=True, include_cell=True, include_area=True
    ).collect()
    for crop in (True, False):
        out["dense", crop] = coverage_fraction_raster(r, feats, crop=crop).collect()
    # repr of a float is exact, so equal reprs are equal bits (NaN included)
    return {k: sorted(map(repr, rows)) for k, rows in out.items()}


def test_results_do_not_depend_on_batch_shape(spark, monkeypatch):
    r, feats = inputs(spark)
    old = spark.conf.get(BATCH)
    try:
        spark.conf.set(BATCH, "10000")
        want = results(r, feats)
        assert all(want.values())
        # (rows per Arrow batch, cells per coverage chunk): a budget of 48
        # cells groups a few pairs per chunk, a budget of 1 gives every pair
        # its own chunk — several chunks in every batch either way
        for batch, budget in ((1, None), (16, None), (10000, 48), (10000, 1)):
            spark.conf.set(BATCH, str(batch))
            if budget is not None:
                monkeypatch.setattr(coverage, "CELL_BUDGET", budget)
            got = results(r, feats)
            for key in want:
                assert got[key] == want[key], (batch, budget, key)
    finally:
        spark.conf.set(BATCH, old)
