"""The two workloads. Each has

- ``generate()``: make the seeded inputs and their oracles (pure Python, no
  Spark; repeated during set-up so its time can be taken as a median),
- ``load(spark)``: hand the inputs to Spark,
- ``warmup(spark)``: run every operation kind once, untimed, on a small
  input that takes the same engine routes,
- ``round(spark, runner, tracer)``: one fixed amount of work through the
  public API; returns the round's user-visible timings. With tracing on it
  also drains each pipeline prefix and returns the per-layer metrics,
- ``info(rounds)``: the figures that exist for this workload only.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import sys
import time
import urllib.request
from concurrent.futures import ThreadPoolExecutor

import numpy as np

import gen
import oracles as O
from tracing import group_counts


def _now() -> float:
    return time.perf_counter()


def _collect_first(df):
    rows = df.collect()
    return tuple(rows[0]) if rows else None


def _dir_mb(path: str) -> float:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    ) / 1e6


def warm_concurrently(chains: list[list[tuple]]) -> None:
    """Untimed warm-up: run each chain of ``(kind, build, drain, check)``
    specs in its own thread, in order within a chain, so the first-run costs
    (JIT, code generation, Python worker start) of every operation kind are
    paid side by side. Outputs are not checked here; the timed rounds do."""

    def run_chain(chain):
        for _kind, build, drain, _check in chain:
            obj = build()
            drain(obj) if drain is not None else obj.collect()

    with ThreadPoolExecutor(max_workers=len(chains), thread_name_prefix="warmup") as pool:
        futures = [pool.submit(run_chain, c) for c in chains]
    for chain, fut in zip(chains, futures):
        if fut.exception() is not None:
            print(f"perfbench: warm-up of {chain[0][0]} raised {fut.exception()!r}", file=sys.stderr)


def _fp_agg(df, value: str, item, band):
    """``(count, Σ value, Σ value·weight)`` of a keyed result, as a one-row
    aggregate (the operation's drain)."""
    from pyspark.sql import functions as F

    w = O.weight(item, band, F.col("row"), F.col("col"))
    return df.agg(F.count(value), F.sum(value), F.sum(F.col(value) * w))


# --- rasters -------------------------------------------------------------------


PNG_SIG = b"\x89PNG\r\n\x1a\n"


class RasterPipeline:
    """The paper's raster path in one session: a fresh ``stack()`` over
    two-band GeoTIFFs, the batch composites (each re-scans the files, most
    explode to pixel rows), a write/read round trip, then ``show()`` of the
    red band and a closed-loop client panning distinct z15 tiles."""

    name = "raster_pipeline"
    N_ITEMS = 6
    SIZE = 384
    WARM_SIZE = 64
    BANDS = ("red", "nir")
    RES = 20.0
    CHUNK = 256
    ZOOM = 15
    N_TILES = 8
    N_WARM_TILES = 2
    N_TRACE_TILES = 3

    def __init__(self, seed: int, workdir: str):
        self.seed, self.workdir = seed, workdir
        self.mpix = self.N_ITEMS * len(self.BANDS) * self.SIZE**2 / 1e6
        self.digest = hashlib.sha256()
        self.rounds = 0

    def _write(self, seed: int, size: int, sub: str):
        return gen.write_raster_items(
            seed, os.path.join(self.workdir, sub), self.N_ITEMS, size, self.BANDS, self.RES
        )

    def generate(self) -> None:
        layout, self.items, arrays = self._write(self.seed, self.SIZE, "inputs")
        dense = O.dense_stack(layout, arrays, self.BANDS, self.RES, gen.NODATA)
        whens = sorted(lay["when"] for lay in layout)
        self.oracle = O.raster_oracles(dense, [O.months_since(whens[0], w) for w in whens])
        self.pan = pan_tiles(layout, self.ZOOM)[: self.N_TILES]

    def load(self, spark) -> None:
        pass

    def _stack(self, spark, items):
        from stackstac_spark import stack

        return stack(spark, items, chunksize=self.CHUNK)

    def warmup(self, spark) -> None:
        from tracing import OpRunner, Tracer

        layout, items, _ = self._write(self.seed + 1, self.WARM_SIZE, "warmup")
        st = self._stack(spark, items)
        specs = self._specs(spark, st, items, None, os.path.join(self.workdir, "tiles-warm"))
        # write_tiles and read_tiles share a path, so they run in order
        warm_concurrently([[sp] for sp in specs[:-2]] + [specs[-2:]])
        tiles = pan_tiles(layout, self.ZOOM, inside=False)[: self.N_WARM_TILES]
        self._serve(spark, OpRunner(spark, Tracer(False)), st, tiles, check=False)

    def round(self, spark, run, tracer) -> dict:
        self.rounds += 1
        t0 = _now()
        st = run.run(
            "stack",
            lambda: self._stack(spark, self.items),
            drain=lambda s: s,
            check=lambda s: tuple(s.spec.shape) == self.oracle["shape"],
        )
        if st is None:
            return {"first_result_s": _now() - t0, "batch_s": _now() - t0, "wall_s": _now() - t0}
        layers = self._prefixes(spark, run, st) if tracer.enabled else {}
        path = os.path.join(self.workdir, f"tiles-r{self.rounds}")
        first_result_s = None
        for spec in self._specs(spark, st, self.items, self.oracle, path):
            run.run(*spec)
            if first_result_s is None:
                first_result_s = _now() - t0
        batch_s = _now() - t0
        if tracer.enabled:
            layers.update(self._self_times(run, path))
        shutil.rmtree(path, ignore_errors=True)
        served = self._serve(spark, run, st, self.pan, check=True)
        layers.update(served.pop("layers"))
        return {
            **served,
            "first_result_s": first_result_s,
            "batch_s": batch_s,
            "layers": layers,
            "wall_s": _now() - t0,
        }

    def info(self, rounds: list[dict]) -> dict:
        """Figures of this workload only, for the info line."""
        lat = [v for r in rounds for v in r.get("tile_latency_s", [])]
        out = {
            "mpix_per_s": {
                "value": self.mpix / statistics.median(r["batch_s"] for r in rounds),
                "unit": "Mpx/s",
                "input_mpx": self.mpix,
            },
            "first_tile_s": {"value": statistics.median(r.get("first_tile_s", 0.0) for r in rounds), "unit": "s"},
            "png_sha256": self.digest.hexdigest(),
        }
        for q in (50, 90):
            value = float(np.percentile(lat, q)) if lat else None
            out[f"tile_p{q}_s"] = {"value": value, "unit": "s", "n": len(lat)}
        return out

    def _specs(self, spark, st, items, oracle, path: str) -> list[tuple]:
        """The batch operations as ``(kind, build, drain, check)``, each
        drained by a small aggregate; the pixel mosaic comes first."""
        from pyspark.sql import functions as F

        from stackstac_spark.operators.composite import (
            band_pivot,
            normalized_difference,
            reduce_dims,
            resample_time,
        )
        from stackstac_spark.operators.export import read_tiles, write_tiles
        from stackstac_spark.operators.mosaic import mosaic_tiles

        def want(key, rel=0.0):
            return None if oracle is None else (lambda r: O.fp_equal(r, oracle[key], rel))

        zero, band, item = F.lit(0), F.col("band_idx"), F.col("item_idx")
        h, w = st.spec.shape
        d0 = min(it["properties"]["datetime"] for it in items)
        period = (F.year("period_start") - int(d0[:4])) * 12 + F.month("period_start") - int(d0[5:7])
        ndvi = lambda: normalized_difference(  # noqa: E731
            band_pivot(st.pixels(), list(self.BANDS)), "nir", "red", "ndvi"
        )
        return [
            ("mosaic_pixels", lambda: _fp_agg(st.mosaic(), "value", zero, band), _collect_first, want("mosaic")),
            (
                "mosaic_tiles",
                lambda: mosaic_tiles(st.tiles),
                lambda df: _tile_fingerprint(df.collect(), len(self.BANDS), h, w),
                want("mosaic"),
            ),
            (
                "median",
                lambda: _fp_agg(reduce_dims(st.pixels(), ("time",), "median"), "median", zero, band),
                _collect_first,
                want("median"),
            ),
            ("ndvi", lambda: _fp_agg(ndvi(), "ndvi", item, zero), _collect_first, want("ndvi", rel=1e-9)),
            (
                "resample",
                lambda: _fp_agg(resample_time(st.pixels_with_time(), "1 month", "median"), "median", period, band),
                _collect_first,
                want("resample"),
            ),
            (
                "write_tiles",
                lambda: st,
                lambda s: write_tiles(s, path),
                lambda _: os.path.isdir(os.path.join(path, "tiles")),
            ),
            (
                "read_tiles",
                lambda: _fp_agg(read_tiles(spark, path).pixels(), "value", item, band),
                _collect_first,
                want("pixels"),
            ),
        ]

    def _serve(self, spark, run, st, tiles, check: bool) -> dict:
        """``show()`` the red band and request ``tiles`` in order, one at a
        time; with ``check``, verify every tile and that none was an LRU
        hit."""
        from stackstac_spark.functions.png import empty_tile
        from stackstac_spark.streaming.show import server_stats, show

        red = st.sel_bands("red")
        layers = self._tile_layers(spark, run, red, tiles) if run.tracer.enabled else {}
        empty = empty_tile((256, 256), True)
        t0 = _now()
        served = run.run("register", lambda: show(red), drain=lambda r: r)
        if served is None:
            return {"first_tile_s": _now() - t0, "tile_latency_s": [], "layers": layers}
        url, server = served
        token = url.split("/")[3]
        lat, first_tile_s = [], None
        try:
            for z, x, y in tiles:
                t1 = _now()
                body = run.run(
                    "tile",
                    lambda: url.format(z=z, x=x, y=y),
                    drain=_http_get,
                    check=(lambda b: png_ok(b, empty)) if check else None,
                )
                lat.append(_now() - t1)
                if first_tile_s is None:
                    first_tile_s = _now() - t0
                if check and body is not None:
                    self.digest.update(body)
        finally:
            server.stop()
            server.httpd.server_close()
        cached = next((s["cached_tiles"] for s in server_stats() if s["token"] == token), None)
        if check and cached != len(tiles):  # every request must have missed the tile LRU
            run.failed += 1
            run.failures.append(f"tile LRU: {cached} cached tiles after {len(tiles)} distinct requests")
        if run.tracer.enabled:
            counts = group_counts(spark, f"tile-{token}")
            n = max(len(tiles), 1)
            layers.update(
                {
                    "register.s": run.last("register")["wall_s"],
                    "tile.s": statistics.median(lat[1:] or lat),
                    "tile.jobs": counts["jobs"] / n,
                    "tile.stages": counts["stages"] / n,
                    "tile.tasks": counts["tasks"] / n,
                }
            )
        spark.catalog.clearCache()
        return {
            "first_tile_s": first_tile_s,
            "tile_latency_s": lat[1:],
            "layers": layers,
            "groups": [f"tile-{token}"],
        }

    def _prefixes(self, spark, run, st) -> dict:
        """Traced only: drain the pipeline prefixes (grid join, tiles, pixel
        rows) so each layer's self time is its prefix minus the previous."""
        from pyspark.sql import functions as F

        from stackstac_spark.grid import join_assets_to_tiles, tile_grid
        from stackstac_spark.prepare_local import prepare_local

        def grid():
            p = prepare_local(spark, self.items)
            return join_assets_to_tiles(p.asset_table, tile_grid(spark, p.spec, chunksize=self.CHUNK))

        rows = run.run("grid", grid, drain=lambda df: df.count())
        scan = run.run(
            "scan",
            lambda: st.tiles.agg(F.count("*"), F.sum(F.length("data"))),
            drain=_collect_first,
        )
        px = run.run("explode", lambda: st.pixels().agg(F.count("*")), drain=_collect_first)
        stack_rec = run.last("stack")
        return {
            "prepare.s": stack_rec["wall_s"],
            "prepare.jobs": group_counts(spark, stack_rec["group"])["jobs"],
            "grid.rows": rows or 0,
            "scan.s": run.last("scan")["wall_s"],
            "scan.tiles": scan[0] if scan else 0,
            "scan.mb": (scan[1] or 0) / 1e6 if scan else 0.0,
            "scan.read_warnings": st.read_warnings(),
            "explode.s": run.last("explode")["wall_s"] - run.last("scan")["wall_s"],
            "explode.rows": px[0] if px else 0,
        }

    def _self_times(self, run, path: str) -> dict:
        scan = run.last("scan")["wall_s"]
        explode = run.last("explode")["wall_s"]
        wall = {
            k: run.last(k)["wall_s"]
            for k in ("mosaic_pixels", "mosaic_tiles", "median", "ndvi", "resample", "write_tiles", "read_tiles")
        }
        return {
            "mosaic_pixels.s": wall["mosaic_pixels"] - explode,
            "mosaic_tiles.s": wall["mosaic_tiles"] - scan,
            "median.s": wall["median"] - explode,
            "ndvi.s": wall["ndvi"] - explode,
            "resample.s": wall["resample"] - explode,
            "write_tiles.s": wall["write_tiles"] - scan,
            "write_tiles.mb": _dir_mb(path),
            "read_tiles.s": wall["read_tiles"] - (explode - scan),
        }

    def _tile_layers(self, spark, run, red, tiles) -> dict:
        """Traced only: the display range, the pyramid, and the warp →
        mosaic → PNG path of a few tiles, each drained on its own."""
        from stackstac_spark.functions.png import arr_to_png
        from stackstac_spark.operators.composite import display_range
        from stackstac_spark.operators.mosaic import mosaic_tiles
        from stackstac_spark.operators.pyramid import build_pyramid
        from stackstac_spark.operators.warp import xyztile_of_tiles

        rng = run.run("display_range", lambda: red.pixels(), drain=display_range)
        run.run(
            "pyramid",
            lambda: build_pyramid(red.tiles, red.spec),
            drain=lambda p: [lv[1].count() for lv in p.levels],
        )
        warp, mos, png, kb = [], [], [], []
        for z, x, y in tiles[: self.N_TRACE_TILES]:
            warped = run.run(
                "warp",
                lambda: xyztile_of_tiles(red.tiles, red.spec, z, x, y, dtype=red.dtype),
                drain=lambda df: (df, df.count())[0],
            )
            warp.append(run.last("warp")["wall_s"])
            rows = run.run("tile_mosaic", lambda: mosaic_tiles(warped), drain=lambda df: df.collect())
            mos.append(run.last("tile_mosaic")["wall_s"])
            arr = np.full((1, 256, 256), np.nan)
            for r in rows or ():
                arr[0] = np.frombuffer(r.data, dtype="float64").reshape(r.tile_h, r.tile_w)
            t = _now()
            body = arr_to_png(arr, rng or (0.0, 1.0), "viridis", True)
            png.append(_now() - t)
            kb.append(len(body) / 1e3)
        return {
            "display_range.s": run.last("display_range")["wall_s"] - run.last("scan")["wall_s"],
            "pyramid.s": run.last("pyramid")["wall_s"],
            "warp.s": statistics.median(warp),
            "mosaic_tiles.tile_s": statistics.median(mos),
            "png.s": statistics.median(png),
            "png.kb": statistics.median(kb),
        }


def _tile_fingerprint(rows, n_bands: int, h: int, w: int):
    """Reassemble ``mosaic_tiles`` rows into planes and fingerprint them as
    the pixel mosaic is fingerprinted."""
    planes = np.full((n_bands, h, w), np.nan)
    for r in rows:
        a = np.frombuffer(r.data, dtype="float64").reshape(r.tile_h, r.tile_w)
        planes[r.band_idx, r.row_off : r.row_off + r.tile_h, r.col_off : r.col_off + r.tile_w] = a
    b, y, x = np.ogrid[0:n_bands, 0:h, 0:w]
    return O.fingerprint(planes, O.weight(0, b, y, x))


def png_ok(body: bytes, empty: bytes, size: int = 256) -> bool:
    """A served tile: PNG signature, a ``size``×``size`` IHDR, and not the
    empty tile (every benchmark tile lies where all items have data)."""
    return (
        isinstance(body, bytes)
        and body[:8] == PNG_SIG
        and body[12:16] == b"IHDR"
        and int.from_bytes(body[16:20], "big") == size
        and int.from_bytes(body[20:24], "big") == size
        and body != empty
    )


def pan_tiles(layout, zoom: int, inside: bool = True) -> list[tuple[int, int, int]]:
    """Distinct ``zoom`` tiles in serpentine pan order: those wholly inside
    the footprint every item covers, or with ``inside=False`` every tile
    touching the union of the footprints."""
    from stackstac_spark.functions.proj import reproject_bounds
    from stackstac_spark.operators.warp import xyz_tile_bounds
    from stackstac_spark.streaming.show import visible_tiles

    west, south, east, north = zip(*(lay["bounds"] for lay in layout))
    if not inside:
        union = (min(west), min(south), max(east), max(north))
        return visible_tiles(reproject_bounds(union, gen.EPSG, 4326), zoom)
    inner = (max(west), max(south), min(east), min(north))
    b3857 = reproject_bounds(inner, gen.EPSG, 3857)
    found = [
        t
        for t in visible_tiles(reproject_bounds(inner, gen.EPSG, 4326), zoom)
        if _within(xyz_tile_bounds(*t), b3857)
    ]
    order = []
    for k, y in enumerate(sorted({t[2] for t in found})):
        row = sorted((t for t in found if t[2] == y), key=lambda t: t[1])
        order.extend(row if k % 2 == 0 else row[::-1])
    return order


def _within(inner, outer) -> bool:
    return inner[0] >= outer[0] and inner[1] >= outer[1] and inner[2] <= outer[2] and inner[3] <= outer[3]


def _http_get(url: str) -> bytes:
    with urllib.request.urlopen(url, timeout=120) as resp:
        if resp.status != 200:
            raise RuntimeError(f"HTTP {resp.status} for {url}")
        return resp.read()


# --- graphs --------------------------------------------------------------------

# The engine routes graphs of at most 200k edges to driver / mapInArrow
# kernel code; this workload sits above that, on the distributed self-join
# and star-round routes.
ROUTE_THRESHOLD = 200_000


class GraphShuffle:
    """Link prediction, triangles and components over one seeded clustered
    graph above the routing threshold, plus the two fuzzy name joins."""

    name = "graph_shuffle"
    N_EDGES = 210_000
    N_NAMES = 6_000
    WARM_EDGES = 2_000
    WARM_NAMES = 1_000
    MAX_DISTANCE = 2
    JW_THRESHOLD = 0.9
    TOP_K = 100

    def __init__(self, seed: int, workdir: str):
        self.seed, self.workdir = seed, workdir

    def generate(self) -> None:
        a, b = gen.graph_edges(self.seed, self.N_EDGES)
        self.edges_np = (a, b)
        self.records = gen.names(self.seed, self.N_NAMES)
        self.oracle = {
            **O.link_prediction_oracle(a, b, self.TOP_K),
            "triangle_count": O.triangle_oracle(a, b),
            "cc_star": O.components_oracle(a, b),
            **O.linkage_oracle(self.records, self.MAX_DISTANCE, self.JW_THRESHOLD),
        }

    def load(self, spark) -> None:
        import pandas as pd

        a, b = self.edges_np
        self.edges_df = spark.createDataFrame(pd.DataFrame({"id_a": a, "id_b": b})).localCheckpoint()
        self.names_df = spark.createDataFrame(
            pd.DataFrame(self.records, columns=["id", "name", "block"])
        ).localCheckpoint()

    def warmup(self, spark) -> None:
        """A small graph with string ids, which the engine never sends down
        its integer-only kernel route, and ``driver_threshold=0`` for the
        components: the distributed routes the timed graph takes."""
        import pandas as pd
        from pyspark.sql import functions as F

        a, b = gen.graph_edges(self.seed + 1, self.WARM_EDGES)
        edges = spark.createDataFrame(pd.DataFrame({"id_a": a, "id_b": b})).select(
            *(F.col(c).cast("string").alias(c) for c in ("id_a", "id_b"))
        )
        names = spark.createDataFrame(
            pd.DataFrame(gen.names(self.seed + 1, self.WARM_NAMES), columns=["id", "name", "block"])
        )
        warm_concurrently([[sp] for sp in self._specs(edges, names, None, driver_threshold=0)])

    def info(self, rounds: list[dict]) -> dict:
        return {}

    def round(self, spark, runner, tracer) -> dict:
        t0 = _now()
        first_result_s = None
        for spec in self._specs(self.edges_df, self.names_df, self.oracle):
            runner.run(*spec)
            if first_result_s is None:
                first_result_s = _now() - t0
        layers = self._layers(spark, runner) if tracer.enabled else {}
        return {"first_result_s": first_result_s, "layers": layers, "wall_s": _now() - t0}

    def _specs(self, edges, names, oracle, driver_threshold: int = ROUTE_THRESHOLD) -> list[tuple]:
        """The operations as ``(kind, build, drain, check)``; link prediction
        is drained as its top-k list, the rest by a fingerprint aggregate."""
        from pyspark.sql import functions as F

        from stackstac_spark.operators import graph as G
        from stackstac_spark.operators import linkage as L

        def fp(key, rel=0.0):
            return None if oracle is None else (lambda r: O.fp_equal(r, oracle[key], rel))

        def top(key):
            return None if oracle is None else (lambda r: O.check_top_k([tuple(x) for x in r], oracle[key]))

        node_w = lambda c: O.node_weight(F.col(c))  # noqa: E731
        pair_fp = [F.count("*"), F.sum("id_a"), F.sum(F.col("id_b") * node_w("id_a"))]
        return [
            (
                "adamic_adar",
                lambda: G.adamic_adar(edges).orderBy(F.desc("aa"), "id_a", "id_b").limit(self.TOP_K),
                None,
                top("aa"),
            ),
            (
                "neighbor_jaccard",
                lambda: G.neighbor_jaccard(edges)
                .orderBy(F.desc("jaccard"), "id_a", "id_b")
                .select("id_a", "id_b", "jaccard")
                .limit(self.TOP_K),
                None,
                top("jaccard"),
            ),
            (
                "triangle_count",
                lambda: G.triangle_count(edges).agg(
                    F.count("*"), F.sum("n_tri"), F.sum(F.col("n_tri") * node_w("node"))
                ),
                _collect_first,
                fp("triangle_count"),
            ),
            (
                "cc_star",
                lambda: G.connected_components_star(edges, driver_threshold=driver_threshold).agg(
                    F.count("*"), F.sum("component"), F.sum(F.col("component") * node_w("node"))
                ),
                _collect_first,
                fp("cc_star"),
            ),
            (
                "edit_distance",
                lambda: L.edit_distance_pairs(names, "name", ["block"], "id", max_distance=self.MAX_DISTANCE).agg(
                    *pair_fp, F.sum("distance")
                ),
                _collect_first,
                fp("edit_distance"),
            ),
            (
                "jaro_winkler",
                lambda: L.jaro_winkler_pairs(names, "name", ["block"], "id", threshold=self.JW_THRESHOLD).agg(
                    *pair_fp, F.sum("jw")
                ),
                _collect_first,
                fp("jaro_winkler", rel=1e-9),
            ),
        ]

    def _layers(self, spark, run) -> dict:
        out = {}
        for kind in ("adamic_adar", "neighbor_jaccard", "triangle_count", "cc_star", "edit_distance", "jaro_winkler"):
            rec = next((r for r in reversed(run.ops) if r["kind"] == kind), None)
            if rec is None:
                continue
            counts = group_counts(spark, rec["group"])
            out[f"{kind}.s"] = rec["wall_s"]
            out[f"{kind}.jobs"] = counts["jobs"]
            if kind in ("edit_distance", "jaro_winkler"):
                out[f"{kind}.pairs"] = self.oracle[kind][0] if rec["ok"] else 0
            else:
                out[f"{kind}.stages"] = counts["stages"]
        return out


def make(name: str, seed: int, workdir: str):
    if name == "raster_pipeline":
        return RasterPipeline(seed, workdir)
    if name == "graph_shuffle":
        return GraphShuffle(seed, workdir)
    raise ValueError(f"unknown workload {name!r}")


WORKLOADS = ("raster_pipeline", "graph_shuffle")
