"""Seeded input generators. The same seed always gives byte-identical inputs;
the program under test only ever sees what these functions produce.

- ``write_raster_items``: a STAC-like stack of single-band DEFLATE GeoTIFFs
  (tiled 256, ~10% nodata, offset footprints, dates over three months),
  written with the engine's own ``sources.minitiff`` writer and addressed
  through ``file://``.
- ``graph_edges``: a clustered undirected graph as unique ``a < b`` pairs.
- ``names``: entity records with 0-2 typos each, blocked on their first two
  characters (typos never touch the block key).
"""

from __future__ import annotations

import datetime as dt
import os
import string

import numpy as np

EPSG = 32633
ORIGIN = (500000.0, 4000000.0)
NODATA = 0
DATE0 = dt.datetime(2024, 1, 1)


def raster_layout(seed: int, n_items: int, size: int, res: float) -> list[dict]:
    """Per-item footprint and date, without pixels: offsets are whole pixels
    so every item lands exactly on the stack grid."""
    rng = np.random.default_rng([seed, 1])
    out = []
    for i in range(n_items):
        dx, dy = (int(v) for v in rng.integers(0, size // 4, 2))
        west = ORIGIN[0] + dx * res
        south = ORIGIN[1] + dy * res
        day = i * (90 // n_items) + int(rng.integers(0, 90 // n_items))
        out.append(
            {
                "id": f"item-{i:02d}",
                "when": DATE0 + dt.timedelta(days=day),
                "bounds": (west, south, west + size * res, south + size * res),
            }
        )
    return out


def band_array(seed: int, item: int, band_no: int, size: int) -> np.ndarray:
    """One band of one item: a smooth field plus noise (so DEFLATE sees
    image-like data), ``NODATA`` on ~10% of pixels."""
    rng = np.random.default_rng([seed, 2, item, band_no])
    yy, xx = np.mgrid[0:size, 0:size].astype("float64")
    fx, fy = rng.uniform(20.0, 90.0, 2)
    field = 4000.0 + 1500.0 * (np.sin(xx / fx) + np.cos(yy / fy)) + 800.0 * band_no
    arr = (field + rng.integers(0, 400, (size, size))).astype("uint16")
    arr[rng.random((size, size)) < 0.10] = NODATA
    return arr


def write_raster_items(
    seed: int,
    outdir: str,
    n_items: int,
    size: int,
    bands: tuple[str, ...],
    res: float,
) -> tuple[list[dict], list[dict], dict]:
    """Write ``n_items × len(bands)`` GeoTIFFs under ``outdir``; return the
    layout (see :func:`raster_layout`), the STAC-like item dicts and
    ``{(item_idx, band): array}`` for the oracles."""
    from stackstac_spark.sources import minitiff

    os.makedirs(outdir, exist_ok=True)
    layout = raster_layout(seed, n_items, size, res)
    items, arrays = [], {}
    for i, lay in enumerate(layout):
        west, south, east, north = lay["bounds"]
        transform = [res, 0.0, west, 0.0, -res, north]
        assets = {}
        for b, band in enumerate(bands):
            arr = band_array(seed, i, b, size)
            path = os.path.join(outdir, f"{lay['id']}_{band}.tif")
            minitiff.write_geotiff(
                path, arr, EPSG, tuple(transform), nodata=NODATA, tile=(256, 256)
            )
            arrays[(i, band)] = arr
            assets[band] = {
                "href": "file://" + os.path.abspath(path),
                "type": "image/tiff; application=geotiff",
                "proj:bbox": list(lay["bounds"]),
                "proj:shape": [size, size],
                "proj:transform": transform,
            }
        items.append(
            {
                "type": "Feature",
                "id": lay["id"],
                "bbox": [15.0, 36.1, 15.1, 36.2],
                "properties": {
                    "datetime": lay["when"].strftime("%Y-%m-%dT%H:%M:%SZ"),
                    "proj:epsg": EPSG,
                },
                "assets": assets,
            }
        )
    return layout, items, arrays


def graph_edges(seed: int, n_edges: int, cluster: int = 12) -> tuple[np.ndarray, np.ndarray]:
    """``n_edges`` unique undirected edges (``a < b``, int64) of a clustered
    graph: nodes sit in clusters of ``cluster``; 95% of edges stay inside a
    cluster, the rest link random nodes. Row order is a seeded shuffle."""
    rng = np.random.default_rng([seed, 3])
    n_nodes = max(cluster * 4, n_edges * 2 // 5)
    keys = np.empty(0, dtype=np.int64)
    while keys.size < n_edges:
        m = 2 * n_edges
        a = rng.integers(0, n_nodes, m)
        b = (a // cluster) * cluster + (a % cluster + rng.integers(1, cluster, m)) % cluster
        b = np.where(rng.random(m) < 0.05, rng.integers(0, n_nodes, m), b)
        b = np.minimum(b, n_nodes - 1)
        lo, hi = np.minimum(a, b), np.maximum(a, b)
        keep = lo != hi
        keys = np.unique(np.concatenate([keys, lo[keep] * n_nodes + hi[keep]]))
    keys = rng.permutation(keys)[:n_edges]
    return keys // n_nodes, keys % n_nodes


_TYPO_OPS = ("sub", "ins", "del", "swap")


def _typo(rng: np.random.Generator, name: str) -> str:
    op = _TYPO_OPS[int(rng.integers(0, len(_TYPO_OPS)))]
    pos = 2 + int(rng.integers(0, len(name) - 2))  # never inside the block key
    ch = string.ascii_lowercase[int(rng.integers(0, 26))]
    if op == "sub":
        return name[:pos] + ch + name[pos + 1 :]
    if op == "ins":
        return name[:pos] + ch + name[pos:]
    if op == "del" and len(name) > 4:
        return name[:pos] + name[pos + 1 :]
    if pos + 1 < len(name):
        return name[:pos] + name[pos + 1] + name[pos] + name[pos + 2 :]
    return name + ch


def names(seed: int, n: int) -> list[tuple[int, str, str]]:
    """``n`` records ``(id, name, block)``: base names of 6-11 letters, each
    copied 1-4 times with 0-2 typos after the 2-letter block key."""
    rng = np.random.default_rng([seed, 4])
    letters = np.array(list(string.ascii_lowercase))
    recs: list[str] = []
    while len(recs) < n:
        base = "".join(letters[rng.integers(0, 26, int(rng.integers(6, 12)))])
        for _ in range(int(rng.integers(1, 5))):
            name = base
            for _ in range(int(rng.integers(0, 3))):
                name = _typo(rng, name)
            recs.append(name)
    ids = rng.permutation(n)
    return [(int(i), nm, nm[:2]) for i, nm in zip(ids, recs[:n])]
