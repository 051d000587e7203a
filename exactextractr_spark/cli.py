"""spark-submit entry point — the CLI ``exactextract`` analog.

Reference: ``/root/reference/src/exactextract/src/exactextract.cpp:42-172``.

    spark-submit --py-files exactextractr_spark.zip -m exactextractr_spark.cli \\
        --polys features.parquet --id feature_id --geom geom \\
        --tiles tiles.parquet --layer v [--weight-layer w] \\
        --stat "mean(v)" --stat "pop_sum=weighted_sum(v,w)" \\
        -o out.parquet [--checkpoint-dir /ckpt]

The tile table must be the image+caption shape (TESTDATA/FIXTURES F0.1);
grid metadata is read from the first tile's caption.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def _raster_meta_from_caption(caption: str, tile_w: int, tile_h: int):
    from .sources.tiles import RasterMeta

    c = json.loads(caption)
    return RasterMeta(
        layer=c["layer"],
        xmin=c.get("raster_xmin", c["xmin"]),
        ymax=c.get("raster_ymax", c["ymax"]),
        dx=c["dx"],
        dy=c["dy"],
        width=c.get("raster_width"),
        height=c.get("raster_height"),
        tile_w=c.get("tile_w", tile_w),
        tile_h=c.get("tile_h", tile_h),
        crs=c.get("crs", ""),
        nodata=c.get("nodata"),
    )


def _is_geoparquet(path: str) -> bool:
    """True when the parquet footer carries GeoParquet 'geo' metadata
    (driver-side peek at one file's few-KB footer)."""
    import glob
    import os

    try:
        import pyarrow.parquet as pq

        src = path
        if os.path.isdir(path):
            parts = sorted(glob.glob(os.path.join(path, "*.parquet")))
            if not parts:
                return False
            src = parts[0]
        kv = pq.read_schema(src).metadata or {}
        return b"geo" in kv
    except Exception:
        return False


def main(argv=None):
    p = argparse.ArgumentParser("exactextractr-spark")
    p.add_argument("--polys", required=True,
                   help="parquet with features, a .gpkg feature table, or a .shp (+.dbf/.prj) shapefile")
    p.add_argument("--id", default="feature_id")
    p.add_argument("--geom", default="geom")
    p.add_argument("--table", default=None,
                   help="feature table name inside a .gpkg (default: the "
                   "only one)")
    p.add_argument("--tiles", required=True,
                   help="parquet image+caption tile table, or a .tif GeoTIFF")
    p.add_argument("--weight-tiles", default=None,
                   help="separate raster file for weights (.tif); for "
                   "parquet multi-layer tables use --weight-layer")
    p.add_argument("--layer", default=None, help="value layer name")
    p.add_argument("--weight-layer", default=None)
    p.add_argument("--stat", action="append", required=True,
                   help="stat descriptor, e.g. 'mean(v)' or 'ws=weighted_sum(v,w)'")
    p.add_argument("-o", "--output", required=True)
    p.add_argument(
        "--strategy",
        choices=["feature-sequential", "raster-sequential"],
        default="feature-sequential",
        help="feature-sequential broadcasts the feature table (reference "
        "default); raster-sequential uses the tile-cover join "
        "(exactextract.cpp:95-101)",
    )
    p.add_argument(
        "--linear",
        action="store_true",
        help="features are LineStrings: stats weight by per-cell traversal "
        "length (the reference CLI's linear mode; weighted stats invalid)",
    )
    p.add_argument("--format",
                   choices=["parquet", "csv", "geojson", "netcdf", "gpkg", "shp"],
                   default="parquet",
                   help="geojson writes ONE FeatureCollection with the input "
                   "geometries + stat properties (the reference CLI's OGR "
                   "output, gdal_writer.h:25-54); result tables are "
                   "per-feature and small, so this is a driver-side write")
    p.add_argument("--checkpoint-dir", default=None)
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)
    if args.weight_tiles and args.weight_layer:
        # the weight-layer branch would silently overwrite the GeoTIFF
        # weights read from --weight-tiles; refuse the ambiguity instead
        raise SystemExit(
            "--weight-tiles and --weight-layer are mutually exclusive; "
            "pass exactly one weight source"
        )
    if args.checkpoint_dir and (args.weight_tiles or args.weight_layer):
        raise SystemExit("--checkpoint-dir cannot be combined with weights "
                         "(the checkpointed path is unweighted)")
    if args.linear and args.checkpoint_dir:
        raise SystemExit("--linear cannot be combined with --checkpoint-dir "
                         "(the checkpointed path is areal-only)")

    from .checkpoint import ZonalCheckpointer
    from .operators.zonal import exact_extract
    from .plans.descriptors import parse_stat_descriptor
    from .session import get_spark
    from .sources.features import prepare_features
    from .sources.tiles import Raster

    spark = get_spark("exactextractr-spark-cli", master=args.master)
    t0 = time.time()

    descs = [parse_stat_descriptor(s) for s in args.stat]
    stats = [d.stat for d in descs]

    from pyspark.sql import functions as F

    is_tif = args.tiles.lower().endswith((".tif", ".tiff"))
    if is_tif:
        from .sources.geotiff import read_geotiff

        values = read_geotiff(spark, args.tiles, layer=args.layer)
        weights = None
        if args.weight_layer:
            raise SystemExit(
                "--weight-layer applies to multi-layer parquet tables; for "
                "GeoTIFF weights pass --weight-tiles"
            )
    if args.weight_tiles:
        if not args.weight_tiles.lower().endswith((".tif", ".tiff")):
            raise SystemExit("--weight-tiles must be a GeoTIFF (.tif)")
        from .sources.geotiff import read_geotiff

        weights = read_geotiff(spark, args.weight_tiles)
    if not is_tif:
        tiles = spark.read.parquet(args.tiles)
    if not is_tif and args.weight_layer and not args.layer:
        # without --layer, "whatever tile is first" could silently bind the
        # value raster to the weight layer's grid/nodata
        raise SystemExit("--layer is required when --weight-layer is given")
    if not is_tif:
        vtiles = tiles
        if args.layer:
            vtiles = tiles.filter(
                F.get_json_object("caption", "$.layer") == args.layer
            )
        vfirst = vtiles.limit(1).collect()
        if not vfirst:
            raise ValueError(f"no tiles found for layer {args.layer!r}")
        vmeta = _raster_meta_from_caption(vfirst[0]["caption"], vfirst[0]["w"], vfirst[0]["h"])
        values = Raster.from_tiles(tiles, vmeta)
        if not args.weight_tiles:
            weights = None
    if not is_tif and args.weight_layer:
        # the weight layer may sit on its own grid (e.g. finer resolution,
        # triggering value disaggregation) — read ITS caption, not the
        # value layer's
        wfirst = tiles.filter(
            F.get_json_object("caption", "$.layer") == args.weight_layer
        ).limit(1).collect()
        if not wfirst:
            raise ValueError(f"no tiles found for weight layer {args.weight_layer!r}")
        wmeta = _raster_meta_from_caption(
            wfirst[0]["caption"], wfirst[0]["w"], wfirst[0]["h"]
        )
        weights = Raster.from_tiles(tiles, wmeta)

    if args.polys.lower().endswith(".gpkg"):
        from .sources.geopackage import read_gpkg

        feats = read_gpkg(spark, args.polys, table=args.table)
    elif args.polys.lower().endswith(".shp"):
        from .sources.shapefile import read_shapefile

        feats = read_shapefile(spark, args.polys)
    else:
        if _is_geoparquet(args.polys):
            from .sources.features import read_geoparquet

            feats = read_geoparquet(
                spark, args.polys,
                id_col=None if args.id == "feature_id" else args.id,
            )
        else:
            feats = prepare_features(
                spark.read.parquet(args.polys), args.id, args.geom
            )

    if args.checkpoint_dir:
        ck = ZonalCheckpointer(args.checkpoint_dir)
        out = ck.run(values, feats, stats)
    elif args.linear:
        from .operators.coverage_op import exact_extract_lines

        if weights is not None:
            raise SystemExit("--linear does not take --weight-layer "
                             "(length IS the weight)")
        out = exact_extract_lines(
            values, feats, stats,
            broadcast_features=args.strategy == "feature-sequential",
        )
    else:
        out = exact_extract(
            values, feats, stats, weights=weights,
            broadcast_features=args.strategy == "feature-sequential",
        )
    # rename stat columns to descriptor result names
    for d in descs:
        if d.stat in out.columns and d.name != d.stat:
            out = out.withColumnRenamed(d.stat, d.name)
    if args.format == "csv":
        out.write.mode("overwrite").option("header", "true").csv(args.output)
    elif args.format == "geojson":
        from .core.geom import from_wkb, to_geojson

        geoms = {
            r["feature_id"]: bytes(r["geom"])
            for r in feats.select("feature_id", "geom").collect()
        }
        features_json = []
        for r in out.collect():
            props = {k: v for k, v in r.asDict().items() if k != "feature_id"}
            features_json.append(
                {
                    "type": "Feature",
                    "id": r["feature_id"],
                    "geometry": to_geojson(from_wkb(geoms[r["feature_id"]])),
                    "properties": props,
                }
            )
        with open(args.output, "w") as f:
            json.dump(
                {"type": "FeatureCollection", "features": features_json}, f
            )
    elif args.format == "netcdf":
        from .sources.netcdf import write_netcdf_table

        pdf_out = out.toPandas()
        write_netcdf_table(args.output, pdf_out)
    elif args.format == "shp":
        from .sources.shapefile import write_shapefile

        geo_rows = feats.select(
            "feature_id", "geom",
            *(["crs"] if "crs" in feats.columns else []),
        ).collect()
        geoms = {r["feature_id"]: bytes(r["geom"]) for r in geo_rows}
        crs0 = (
            geo_rows[0]["crs"]
            if geo_rows and "crs" in feats.columns
            else None
        )
        pdf_out = out.toPandas()
        write_shapefile(args.output, pdf_out, geoms, crs=crs0)
    elif args.format == "gpkg":
        from .sources.geopackage import write_gpkg

        geo_cols = ["feature_id", "geom", "fxmin", "fymin", "fxmax", "fymax"]
        has_crs = "crs" in feats.columns
        geo_rows = feats.select(
            *geo_cols, *(["crs"] if has_crs else [])
        ).collect()
        geoms = {r["feature_id"]: bytes(r["geom"]) for r in geo_rows}
        envs = {
            r["feature_id"]: (r["fxmin"], r["fymin"], r["fxmax"], r["fymax"])
            for r in geo_rows
        }
        crs0 = geo_rows[0]["crs"] if (has_crs and geo_rows) else None
        srs = (
            int(str(crs0).split(":", 1)[1])
            if crs0 and str(crs0).upper().startswith("EPSG:")
            else 0
        )
        pdf_out = out.toPandas()
        write_gpkg(
            args.output, pdf_out, geoms,
            table="zonal_stats", srs_id=srs, envelopes=envs,
        )
    else:
        out.write.mode("overwrite").parquet(args.output)
    if args.format == "geojson":
        n = len(features_json)
    elif args.format in ("netcdf", "gpkg", "shp"):
        n = len(pdf_out)
    else:
        n = spark.read.format(args.format).option("header", "true").load(args.output).count()
    print(
        json.dumps(
            {"rows": n, "wall_sec": round(time.time() - t0, 2),
             "stats": [d.name for d in descs]}
        )
    )


if __name__ == "__main__":
    sys.exit(main())
