"""Vector feature source: polygons as WKT/WKB columns + computed bounds.

The reference receives features one at a time as EWKB
(``R/exact_extract.R:527``); here features are a DataFrame
``(feature_id, geom:binary, fxmin, fymin, fxmax, fymax)`` whose bbox columns
drive the candidate join (Catalyst range predicates + partition pruning).
"""

from __future__ import annotations

from typing import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..core import geom as G

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("feature_id", T.LongType(), False),
        T.StructField("geom", T.BinaryType(), False),
        T.StructField("fxmin", T.DoubleType(), True),
        T.StructField("fymin", T.DoubleType(), True),
        T.StructField("fxmax", T.DoubleType(), True),
        T.StructField("fymax", T.DoubleType(), True),
    ]
)


def _feature_frame(ids, geoms: "list[G.Geometry]") -> pd.DataFrame:
    """The ``FEATURE_SCHEMA`` frame of parsed geometries: id, WKB and the
    four bbox columns."""
    bounds = np.array([g.bounds() for g in geoms], dtype=np.float64).reshape(-1, 4)
    return pd.DataFrame(
        {
            "feature_id": pd.Series(ids).astype("int64").to_numpy(),
            "geom": [G.to_wkb(g) for g in geoms],
            "fxmin": bounds[:, 0],
            "fymin": bounds[:, 1],
            "fxmax": bounds[:, 2],
            "fymax": bounds[:, 3],
        }
    )


def features_from_wkt(
    spark: SparkSession,
    wkts: Sequence[str],
    ids: Sequence[int] | None = None,
    crs: str | None = None,
) -> DataFrame:
    """Small driver-side helper (tests / API parity with sf input).
    ``crs`` (optional) stamps a crs column; zonal operators then verify it
    against the raster CRS and fail loudly on mismatch."""
    geoms = [G.from_wkt(w) for w in wkts]
    fids = list(ids) if ids is not None else range(1, len(geoms) + 1)
    # pandas/Arrow conversion => a LocalTableScan: no python-RDD slices, so
    # downstream collects never round-trip python workers (a list-based
    # createDataFrame costs one worker round-trip PER SLICE per fresh plan)
    out = spark.createDataFrame(_feature_frame(fids, geoms), FEATURE_SCHEMA)
    if crs is not None:
        out = out.withColumn("crs", F.lit(crs))
    return out


def prepare_features(
    df: DataFrame, id_col: str = "feature_id", geom_col: str = "geom",
    crs: str | None = None,
) -> DataFrame:
    """Normalize an arbitrary feature DataFrame: parse WKB (binary column)
    or WKT (string column) and attach bbox columns, Arrow-batched.
    ``crs`` (optional) declares the features' CRS for the loud-mismatch
    check in the zonal operators."""
    is_wkt = dict(df.dtypes)[geom_col] in ("string",)

    def _prep(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            geoms = [
                G.from_wkt(raw) if is_wkt else G.from_wkb(bytes(raw))
                for raw in pdf[geom_col]
            ]
            yield _feature_frame(pdf[id_col], geoms)

    out = df.select(id_col, geom_col).mapInPandas(_prep, FEATURE_SCHEMA)
    if crs is not None:
        out = out.withColumn("crs", F.lit(crs))
    return out


def transform_features(df: DataFrame, src_crs: str, dst_crs: str) -> DataFrame:
    """Reproject every feature geometry (closed-form CRS pairs only — see
    core/crs.py) and recompute bboxes; the crs column, if present, is
    restamped with the destination CRS."""
    from ..core.crs import transform_geometry, transform_xy

    # fail fast on unsupported pairs (raises with guidance)
    transform_xy(np.zeros(1), np.zeros(1), src_crs, dst_crs)

    def _tx(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            geoms = [
                transform_geometry(G.from_wkb(bytes(raw)), src_crs, dst_crs)
                for raw in pdf["geom"]
            ]
            yield _feature_frame(pdf["feature_id"], geoms)

    out = df.select("feature_id", "geom").mapInPandas(_tx, FEATURE_SCHEMA)
    if "crs" in df.columns:
        out = out.withColumn("crs", F.lit(dst_crs))
    return out


def read_geoparquet(
    spark: SparkSession,
    path: str,
    *,
    id_col: str | None = None,
    keep_cols: "list[str] | None" = None,
):
    """Read a GeoParquet file/directory into the normalized feature shape.

    GeoParquet (OGC spec) is plain parquet whose footer carries a ``geo``
    key-value metadata blob naming the primary geometry column (WKB
    encoding) and its CRS as PROJJSON — so the data path is the ordinary
    distributed parquet scan; only the few-KB footer is parsed on the
    driver (pyarrow). The CRS maps to ``EPSG:<code>`` via the PROJJSON
    ``id`` field (GeoParquet's default is OGC:CRS84 == lon/lat WGS84,
    normalized to EPSG:4326).

    ``id_col`` defaults to ``feature_id`` when present; otherwise it must
    be given (a distributed source has no implicit stable row numbers).
    With ``keep_cols`` the return is ``(features, attrs)``.
    """
    import glob
    import json
    import os

    import pyarrow.parquet as pq

    # footer of one data file (all parts share the schema metadata)
    if os.path.isdir(path):
        parts = sorted(glob.glob(os.path.join(path, "*.parquet")))
        if not parts:
            raise ValueError(f"{path}: no parquet files")
        meta_src = parts[0]
    else:
        meta_src = path
    kv = pq.read_schema(meta_src).metadata or {}
    geo = kv.get(b"geo")
    if geo is None:
        raise ValueError(
            f"{meta_src}: no 'geo' footer metadata — not a GeoParquet file "
            "(use prepare_features for plain parquet + WKB)"
        )
    gmeta = json.loads(geo)
    geom_col = gmeta.get("primary_column") or "geometry"
    colmeta = (gmeta.get("columns") or {}).get(geom_col, {})
    enc = colmeta.get("encoding", "WKB")
    if str(enc).upper() != "WKB":
        raise ValueError(f"GeoParquet encoding {enc!r} not supported (WKB only)")
    crs = None
    cj = colmeta.get("crs")
    if cj is None:
        crs = "EPSG:4326"  # spec default: OGC:CRS84
    elif isinstance(cj, dict):
        cid = cj.get("id") or {}
        auth, code = cid.get("authority"), cid.get("code")
        if auth in ("EPSG", "OGC") and code is not None:
            crs = (
                "EPSG:4326"
                if (auth == "OGC" and str(code) == "CRS84")
                else f"EPSG:{code}"
            )
    df = spark.read.parquet(path)
    if id_col is None:
        if "feature_id" in df.columns:
            id_col = "feature_id"
        else:
            raise ValueError(
                "pass id_col= (no feature_id column; a distributed source "
                "has no implicit stable row numbering)"
            )
    feats = prepare_features(df, id_col, geom_col, crs=crs)
    if keep_cols:
        missing = [c for c in keep_cols if c not in df.columns]
        if missing:
            raise ValueError(f"columns {missing} not in {path}")
        attrs = df.select(
            F.col(id_col).cast("long").alias("feature_id"), *keep_cols
        )
        return feats, attrs
    return feats
