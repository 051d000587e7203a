"""``rasterize_polygons`` — burn polygon indexes into a grid by max coverage.

Reference: ``R/rasterize.R:36-83`` + ``src/rasterize.cpp:23-52``. Each cell
gets the feature whose coverage fraction of that cell is largest; ties go to
the lowest feature id (the reference iterates features in order and replaces
only on strictly-greater coverage). Cells whose TOTAL polygon coverage is
below ``min_coverage`` are dropped; ``min_coverage == 1`` is applied with
the reference's 1e-6 epsilon (R/rasterize.R:40-43).

Spark plan: coverage facts for all features -> ONE ``groupBy(cell)`` hash
aggregate: ``max_by(feature_id, struct(cov, -feature_id))`` realizes the
argmax with the lowest-id tie rule (largest ``-feature_id`` == smallest id),
and ``sum(cov)`` in the same aggregate realizes the ``min_coverage`` filter.
Partial aggregation is map-side, the single exchange hashes on ``cell``,
and no sort is required — unlike a ``row_number`` window, which forces a
sort-based exchange per window spec.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tiles import DECODED_SCHEMA, Raster, RasterMeta
from .zonal import build_candidates, coverage_facts


def blank_raster(spark: SparkSession, meta: RasterMeta) -> Raster:
    """A value-less raster over ``meta``'s grid (cells all 0) — the target
    grid for rasterize / coverage-only queries, built distributedly from
    spark.range (no driver-side materialization of tiles)."""
    ntr, ntc = meta.n_tile_rows, meta.n_tile_cols

    def _mk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for tid in pdf["id"]:
                tr, tc = int(tid) // ntc, int(tid) % ntc
                g = meta.tile_grid(tr, tc)
                rows.append(
                    {
                        "layer": meta.layer,
                        "tile_row": tr,
                        "tile_col": tc,
                        "xmin": g.xmin,
                        "ymin": g.ymin,
                        "xmax": g.xmax,
                        "ymax": g.ymax,
                        "dx": meta.dx,
                        "dy": meta.dy,
                        "nrows": g.nrows,
                        "ncols": g.ncols,
                        # value-less target: the kernel reads an empty block
                        # as coverage-only (tile_pixels returns None), so no
                        # pixel payload is materialized or shipped (a 256²
                        # float64 zero block per tile is ~0.5 MB of pure
                        # Arrow waste otherwise)
                        "px": np.zeros(0),
                    }
                )
            yield pd.DataFrame(rows)

    df = spark.range(ntr * ntc).mapInPandas(_mk, DECODED_SCHEMA)
    return Raster(df, meta, decoded=True)


def rasterize_polygons(
    spark: SparkSession,
    features: DataFrame,
    meta: RasterMeta,
    min_coverage: float = 0.0,
) -> DataFrame:
    """Returns (cell, feature_id) — 1-based row-major cell index of
    ``meta``'s grid mapped to the winning polygon."""
    if min_coverage == 1.0:
        min_coverage -= 1e-6
    target = blank_raster(spark, meta)
    cand, feats_bc = build_candidates(target, features)
    facts = coverage_facts(
        cand, feats_bc=feats_bc, values_meta=meta, keep_nodata=True
    ).select("feature_id", "cell", "cov")
    # Argmax + total-coverage gate in ONE hash aggregate (no sort windows).
    # Struct comparison is lexicographic: highest cov wins; on a cov tie the
    # larger -feature_id (i.e. the LOWEST feature_id) wins — the reference's
    # replace-only-on-strictly-greater iteration order (src/rasterize.cpp:23-52).
    best = (
        facts.groupBy("cell")
        .agg(
            F.max_by(
                "feature_id",
                F.struct(
                    F.col("cov").alias("c"),
                    (-F.col("feature_id")).alias("nid"),
                ),
            ).alias("feature_id"),
            F.sum("cov").alias("_tot"),
        )
        .filter(F.col("_tot") >= F.lit(min_coverage))
    )
    return best.select("cell", "feature_id")
