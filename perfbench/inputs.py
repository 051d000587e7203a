"""Seeded input generators for the benchmark workloads.

Everything a workload reads is made here from its ``--seed``: the same seed
gives byte-identical parquet files and polygon sets. Generation goes through
the engine's public tile/feature constructors, so the inputs are exactly the
table shapes a user would hand the engine.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from exactextractr_spark.core.png import encode_tile, phash64
from exactextractr_spark.sources.tiles import TILE_SCHEMA, RasterMeta

N_CLASSES = 16
#: side of the constant-class patches of the categorical raster, in cells
CLASS_PATCH = 8


@dataclass(frozen=True)
class TileInputs:
    """A generated raster on disk plus the polygons laid over it."""

    meta: RasterMeta
    tiles_path: str
    n_tiles: int
    parquet_bytes: int
    wkts: list[str]
    #: shoelace area of each polygon, in cell units (dx = dy = 1)
    areas: list[float]


def _tile_block(kind: str, seed: int, tile_id: int, h: int, w: int) -> np.ndarray:
    rng = np.random.default_rng([seed, tile_id])
    if kind == "continuous":
        # full-entropy float64: every byte of the PNG payload is random
        return rng.uniform(0.0, 1000.0, (h, w))
    ph, pw = -(-h // CLASS_PATCH), -(-w // CLASS_PATCH)
    patches = rng.integers(0, N_CLASSES, (ph, pw)).astype(np.float64)
    return np.kron(patches, np.ones((CLASS_PATCH, CLASS_PATCH)))[:h, :w]


def write_tiles(spark, path: str, meta: RasterMeta, kind: str, seed: int) -> int:
    """Generate every tile of ``meta`` on the executors and write the image
    table to ``path`` as parquet. Returns the number of tiles."""
    ntc = meta.n_tile_cols
    n_tiles = meta.n_tile_rows * ntc

    def _gen(batches):
        for pdf in batches:
            rows = []
            for tid in pdf["id"]:
                tr, tc = divmod(int(tid), ntc)
                g = meta.tile_grid(tr, tc)
                block = _tile_block(kind, seed, int(tid), g.nrows, g.ncols)
                rows.append(
                    {
                        "image_id": f"{meta.layer}/{tr}/{tc}",
                        "bytes": encode_tile(block),
                        "w": g.ncols,
                        "h": g.nrows,
                        "fmt": "png",
                        "caption": meta.caption(tr, tc),
                        "phash": phash64(block),
                    }
                )
            yield pd.DataFrame(rows)

    # a fixed file count keeps the scan identical at every core count
    n_files = max(1, min(16, n_tiles // 8))
    (
        spark.range(n_tiles)
        .repartition(n_files)
        .mapInPandas(_gen, TILE_SCHEMA)
        .write.mode("overwrite")
        .parquet(path)
    )
    return n_tiles


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


def _ring_wkt(xs: np.ndarray, ys: np.ndarray) -> str:
    pts = ", ".join(f"{x:.3f} {y:.3f}" for x, y in zip(xs, ys))
    return f"POLYGON (({pts}))"


def _shoelace(xs: np.ndarray, ys: np.ndarray) -> float:
    return 0.5 * abs(float(np.dot(xs[:-1], ys[1:]) - np.dot(xs[1:], ys[:-1])))


def _jittered_circle(cx, cy, r, n_vertices, phase):
    theta = np.linspace(0.0, 2.0 * math.pi, n_vertices + 1)
    rr = r * (1.0 + 0.15 * np.sin(5.0 * theta + phase))
    xs = np.round(cx + rr * np.cos(theta), 3)
    ys = np.round(cy + rr * np.sin(theta), 3)
    xs[-1], ys[-1] = xs[0], ys[0]
    return xs, ys


def polygons(
    seed: int, raster_n: int, count: int, r_min: float, r_max: float,
    n_vertices: int, mega: bool,
) -> tuple[list[str], list[float]]:
    """``count`` jittered circles strictly inside the raster; with ``mega``
    the last one is a wavy disc covering about a quarter of it (the skew
    case: one feature touching a quarter of all tiles)."""
    rng = np.random.default_rng([seed, 7])
    wkts, areas = [], []
    n_small = count - 1 if mega else count
    margin = 1.2 * r_max + 1.0
    for i in range(n_small):
        cx, cy = rng.uniform(margin, raster_n - margin, 2)
        r = rng.uniform(r_min, r_max)
        # coordinates are rounded to 1e-3 before the area is taken, so the
        # shoelace area is that of the exact polygon the engine receives
        xs, ys = _jittered_circle(cx, cy, r, n_vertices, float(i))
        wkts.append(_ring_wkt(xs, ys))
        areas.append(_shoelace(xs, ys))
    if mega:
        half = raster_n / 2.0
        theta = np.linspace(0.0, 2.0 * math.pi, 513)
        rr = half * 0.56 * (1.0 + 0.08 * np.sin(9.0 * theta + rng.uniform(0, 6.28)))
        xs = np.round(half + rr * np.cos(theta), 3)
        ys = np.round(half + rr * np.sin(theta), 3)
        xs[-1], ys[-1] = xs[0], ys[0]
        wkts.append(_ring_wkt(xs, ys))
        areas.append(_shoelace(xs, ys))
    return wkts, areas


def tile_inputs(
    spark, root: str, seed: int, kind: str, raster_n: int, tile: int,
    n_polygons: int, r_min: float, r_max: float, n_vertices: int, mega: bool,
) -> TileInputs:
    meta = RasterMeta(
        kind, xmin=0.0, ymax=float(raster_n), dx=1.0, dy=1.0,
        width=raster_n, height=raster_n, tile_w=tile, tile_h=tile,
    )
    path = os.path.join(root, "tiles")
    n_tiles = write_tiles(spark, path, meta, kind, seed)
    wkts, areas = polygons(seed, raster_n, n_polygons, r_min, r_max, n_vertices, mega)
    return TileInputs(meta, path, n_tiles, dir_bytes(path), wkts, areas)


# ---------------------------------------------------------------------------
# driver-query tables
# ---------------------------------------------------------------------------

_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_LANGS = ["en", "zh", "es", "de", "fr"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EMBED_DIM = 64
#: embedding_dedup's threshold; no generated pair lands near it, so a
#: last-bit difference in a cosine cannot flip a dedup decision
_DEDUP_COS = 0.46
_COS_GAP = 0.03


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.06:
            # near copy of an earlier document: one word replaced
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = [_WORDS[j] for j in rng.integers(0, len(_WORDS), rng.integers(8, 90))]
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([_LANGS[j] for j in rng.integers(0, 5, n)], pa.string()),
            "source": pa.array([f"src{j}" for j in rng.integers(0, 20, n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    centers = rng.normal(size=(10, EMBED_DIM))
    labels = rng.integers(0, 10, n)
    vecs = np.empty((n, EMBED_DIM), dtype=np.float32)

    def draw(i):
        v = 0.35 * centers[labels[i]] + rng.normal(size=EMBED_DIM)
        if i > 0 and rng.random() < 0.05:
            v = vecs[int(rng.integers(0, i))] + 0.1 * rng.normal(size=EMBED_DIM)
        return (v / np.linalg.norm(v)).astype(np.float32)

    for i in range(n):
        for _ in range(1000):
            vecs[i] = draw(i)
            cos = vecs[:i].astype(np.float64) @ vecs[i].astype(np.float64)
            if not np.any(np.abs(cos - _DEDUP_COS) < _COS_GAP):
                break
        else:
            raise RuntimeError("could not draw an embedding clear of the dedup threshold")
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32), pa.int32()),
        }
    )


def driver_tables(root: str, seed: int, n_customers: int, n_docs: int, n_vectors: int) -> str:
    """Write the tables the driver queries read (``customer``, ``nation``,
    ``documents``, ``embeddings``) as ``<root>/<name>.parquet`` and return
    ``root``; the schemas are the driver contract's."""
    rng = np.random.default_rng([seed, 11])
    keys = np.arange(n_customers)
    tables = {
        "customer": pa.table(
            {
                "c_custkey": pa.array(keys, pa.int64()),
                "c_name": pa.array([f"Customer#{k:09d}" for k in keys], pa.string()),
                "c_nationkey": pa.array(rng.integers(0, 25, n_customers).astype(np.int32)),
                "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_customers), 2)),
                "c_mktsegment": pa.array(
                    [_SEGMENTS[j] for j in rng.integers(0, 5, n_customers)], pa.string()
                ),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                "n_name": pa.array([f"NATION_{k}" for k in range(25)], pa.string()),
                "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
            }
        ),
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(rng, n_vectors),
    }
    os.makedirs(root, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(root, f"{name}.parquet"))
    return root
