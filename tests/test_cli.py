"""CLI entry point + stat-descriptor DSL (reference exactextract.cpp/utils.cpp)."""

import json

import numpy as np
import pytest

from exactextractr_spark.plans.descriptors import parse_stat_descriptor


def test_descriptor_parsing():
    d = parse_stat_descriptor("mean(temp)")
    assert (d.name, d.stat, d.values, d.weights) == ("temp_mean", "mean", "temp", None)
    d = parse_stat_descriptor("pop_sum=weighted_sum(temp,pop)")
    assert (d.name, d.stat, d.values, d.weights) == (
        "pop_sum", "weighted_sum", "temp", "pop",
    )
    d = parse_stat_descriptor("weighted_mean(x,w)")
    assert d.name == "x_weighted_mean_w"
    with pytest.raises(ValueError):
        parse_stat_descriptor("nope")
    with pytest.raises(ValueError):
        parse_stat_descriptor("bogus_stat(x)")


def test_cli_end_to_end(spark, tmp_path):
    from exactextractr_spark.cli import main
    from exactextractr_spark.sources.features import features_from_wkt
    from exactextractr_spark.sources.tiles import RasterMeta, tile_table_from_array

    arr = np.arange(1, 10, dtype=np.float64).reshape(3, 3)
    meta = RasterMeta("v", xmin=0, ymax=3, dx=1, dy=1, width=3, height=3,
                      tile_w=3, tile_h=3)
    tiles_path = str(tmp_path / "tiles")
    tile_table_from_array(spark, arr, meta).write.parquet(tiles_path)
    feats_path = str(tmp_path / "feats")
    features_from_wkt(
        spark, ["POLYGON ((0.5 0.5, 2.5 0.5, 2.5 2.5, 0.5 2.5, 0.5 0.5))"]
    ).select("feature_id", "geom").write.parquet(feats_path)
    out_path = str(tmp_path / "out")
    main(
        [
            "--polys", feats_path,
            "--tiles", tiles_path,
            "--stat", "m=mean(v)",
            "--stat", "count(v)",
            "-o", out_path,
        ]
    )
    row = spark.read.parquet(out_path).collect()[0]
    assert row["m"] == pytest.approx(5.0)
    assert row["v_count"] == pytest.approx(4.0)


def test_cli_weight_sources_mutually_exclusive(tmp_path):
    """--weight-tiles + --weight-layer together must refuse loudly (the
    weight-layer branch would otherwise silently discard the GeoTIFF)."""
    from exactextractr_spark.cli import main

    with pytest.raises(SystemExit, match="mutually exclusive"):
        main(
            [
                "--polys", "p", "--tiles", "t",
                "--stat", "weighted_mean(v,w)",
                "--weight-tiles", "w.tif",
                "--weight-layer", "w",
                "-o", str(tmp_path / "o"),
            ]
        )


def test_cli_checkpoint_refuses_weights(tmp_path):
    """--checkpoint-dir has no weighted path: a weight source with it must
    refuse before any input is read, not be dropped."""
    from exactextractr_spark.cli import main

    with pytest.raises(SystemExit, match="--checkpoint-dir"):
        main(
            [
                "--polys", "p", "--tiles", "t",
                "--stat", "weighted_mean(v,w)",
                "--weight-layer", "w",
                "--checkpoint-dir", str(tmp_path / "ck"),
                "-o", str(tmp_path / "o"),
            ]
        )


def test_cli_linear_mode(spark, tmp_path):
    """--linear routes to exact_extract_lines (length-weighted stats)."""
    from exactextractr_spark.cli import main
    from exactextractr_spark.sources.features import features_from_wkt
    from exactextractr_spark.sources.tiles import RasterMeta, tile_table_from_array

    arr = np.arange(9, dtype=np.float64).reshape(3, 3)
    meta = RasterMeta("v", xmin=0, ymax=3, dx=1, dy=1, width=3, height=3,
                      tile_w=3, tile_h=3)
    tiles_path = str(tmp_path / "tiles")
    tile_table_from_array(spark, arr, meta).write.parquet(tiles_path)
    feats_path = str(tmp_path / "feats")
    features_from_wkt(spark, ["LINESTRING (0 1.5, 3 1.5)"]).select(
        "feature_id", "geom"
    ).write.parquet(feats_path)
    out_path = str(tmp_path / "out")
    main(
        [
            "--polys", feats_path,
            "--tiles", tiles_path,
            "--linear",
            "--stat", "m=mean(v)",
            "--stat", "count(v)",
            "-o", out_path,
        ]
    )
    row = spark.read.parquet(out_path).collect()[0]
    assert row["m"] == pytest.approx(4.0)       # (3+4+5)/3 length-weighted
    assert row["v_count"] == pytest.approx(3.0)  # total traversal length


def test_cli_geotiff_gpkg_inputs(spark, tmp_path):
    """CLI accepts a .tif raster and a .gpkg feature table directly
    (the reference CLI's GDAL ingestion, exactextract.cpp:42-101)."""
    import os

    sao = "/root/reference/inst/sao_miguel"
    if not os.path.isdir(sao):
        pytest.skip("reference data not present")
    from exactextractr_spark.cli import main

    out_path = str(tmp_path / "out")
    main(
        [
            "--polys", f"{sao}/concelhos.gpkg",
            "--tiles", f"{sao}/gpw_v411_2020_count_2020.tif",
            "--stat", "pop=sum(gpw_v411_2020_count_2020)",
            "-o", out_path,
        ]
    )
    rows = {r["feature_id"]: r["pop"]
            for r in spark.read.parquet(out_path).collect()}
    assert len(rows) == 6
    # Ponta Delgada (fid 3) dominates the island's population
    assert rows[3] == max(rows.values())
    assert rows[3] == pytest.approx(66866.708, rel=1e-6)


def test_cli_geojson_sink(spark, tmp_path):
    """--format geojson writes a FeatureCollection with input geometries
    and stat properties (reference CLI OGR output parity)."""
    import json as _json

    from exactextractr_spark.cli import main
    from exactextractr_spark.sources.features import features_from_wkt
    from exactextractr_spark.sources.tiles import RasterMeta, tile_table_from_array

    arr = np.arange(1.0, 37.0).reshape(6, 6)
    meta = RasterMeta("v", xmin=0, ymax=6, dx=1, dy=1, width=6, height=6,
                      tile_w=3, tile_h=3)
    tiles_path = str(tmp_path / "tiles")
    tile_table_from_array(spark, arr, meta).write.parquet(tiles_path)
    feats_path = str(tmp_path / "feats")
    features_from_wkt(
        spark, ["POLYGON ((0.5 0.5, 2.5 0.5, 2.5 2.5, 0.5 2.5, 0.5 0.5))"]
    ).select("feature_id", "geom").write.parquet(feats_path)
    out_path = str(tmp_path / "out.geojson")
    main(["--polys", feats_path, "--tiles", tiles_path,
          "--stat", "m=mean(v)", "--format", "geojson", "-o", out_path])
    fc = _json.load(open(out_path))
    assert fc["type"] == "FeatureCollection" and len(fc["features"]) == 1
    ft = fc["features"][0]
    assert ft["geometry"]["type"] == "Polygon"
    assert ft["geometry"]["coordinates"][0][0] == [0.5, 0.5]
    assert ft["properties"]["m"] == pytest.approx(26.0)
