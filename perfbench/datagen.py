"""Seeded inputs for the benchmark.

The catalog queries and the lake read fixed tables: copies of the sf0.01
test tables (``TESTDATA.md``, seed 42) under ``data/sf0.01``, the tier
the catalog's DuckDB oracle is checked on. ``--seed`` picks what varies
around them: the query order, and the lake's updated keys and upsert
rows (drawn from those tables in ``workloads.LakeTable``). The scene
pipeline's GeoTIFF band pairs, pixels and nodata masks, are made here
from the seed. The same seed gives the same inputs, and the program
under test only sees the files and DataFrames made from them.
"""

from __future__ import annotations

import os
import shutil

import numpy as np

TABLES_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
TABLES = sorted(f.removesuffix(".parquet") for f in os.listdir(TABLES_DIR)
                if f.endswith(".parquet"))


def copy_tables(out_dir: str) -> None:
    """The tables, copied into a fresh directory so that each set-up
    starts on a path no cache of the process has seen."""
    os.makedirs(out_dir)
    for t in TABLES:
        shutil.copyfile(os.path.join(TABLES_DIR, f"{t}.parquet"),
                        os.path.join(out_dir, f"{t}.parquet"))


# --- scenes -----------------------------------------------------------

# Landsat C2L2 surface-reflectance scaling and the NDVI epsilon, as the
# reference pipeline applies them; the check below recomputes NDVI from
# these, independently of the program.
SR_SCALE = 0.0000275
SR_OFFSET = -0.2
NDVI_EPS = 1e-6
NODATA = -9999.0


def make_scene(rng, size: int) -> tuple[np.ndarray, np.ndarray]:
    """One red/nir band pair with seeded nodata: a NODATA block (pixels
    absent), zero-DN stripes (present but invalid) in each band."""
    red = rng.integers(500, 20_000, (size, size)).astype(np.float32)
    nir = rng.integers(2_000, 60_000, (size, size)).astype(np.float32)
    h = int(rng.integers(size // 16, size // 4))
    y, x = (int(v) for v in rng.integers(0, size - h, 2))
    red[y : y + h, x : x + h] = NODATA
    nir[y : y + h, x : x + h] = NODATA
    red[int(rng.integers(0, 7)) :: 7, int(rng.integers(0, 5)) :: 5] = 0.0
    nir[int(rng.integers(0, 11)) :: 11, int(rng.integers(0, 9)) :: 9] = 0.0
    return red, nir


def scene_reference(red: np.ndarray, nir: np.ndarray, tile: int, factor: int) -> dict:
    """Per-scene stats recomputed in numpy: present and valid pixel
    counts, mean NDVI (float32 values summed in float64, as stored), and
    the number of factor×factor overview cells holding any valid pixel."""
    r = np.where(red == NODATA, np.nan, red.astype(np.float64))
    n = np.where(nir == NODATA, np.nan, nir.astype(np.float64))
    present = ~np.isnan(r) & ~np.isnan(n)
    valid = present & (r != 0) & (n != 0)
    rs, ns = r * SR_SCALE + SR_OFFSET, n * SR_SCALE + SR_OFFSET
    with np.errstate(invalid="ignore", divide="ignore"):
        ndvi = np.clip((ns - rs) / (ns + rs + NDVI_EPS), -1.0, 1.0).astype(np.float32)
    n_valid = int(valid.sum())
    h, w = valid.shape
    cells = valid.reshape(h // factor, factor, w // factor, factor).any(axis=(1, 3))
    tiles = -(-h // tile) * -(-w // tile)
    return {
        "n_pixels": int(present.sum()),
        "n_valid": n_valid,
        "mean_ndvi": float(ndvi[valid].astype(np.float64).sum()) / max(n_valid, 1),
        "overview_cells": int(cells.sum()),
        "tiles": tiles,
    }
