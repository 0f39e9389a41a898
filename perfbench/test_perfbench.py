"""Tests for the benchmark's own code: generators, oracles, failure
counting and the metric names.

    python3 -m pytest perfbench -q -p no:cacheprovider

The Spark tests start one small local session; do not run them while a
benchmark run is measuring.
"""

from __future__ import annotations

import inspect
import json
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import gen  # noqa: E402
import oracles as O  # noqa: E402
import run as R  # noqa: E402
import workloads as W  # noqa: E402
from tracing import OpRunner, Tracer  # noqa: E402

# --- generators ----------------------------------------------------------------


def _tree_bytes(path):
    return {f: open(os.path.join(path, f), "rb").read() for f in sorted(os.listdir(path))}


def test_raster_inputs_repeat_byte_for_byte(tmp_path):
    _, a, _ = gen.write_raster_items(7, str(tmp_path / "a"), 3, 64, ("red", "nir"), 20.0)
    _, b, _ = gen.write_raster_items(7, str(tmp_path / "b"), 3, 64, ("red", "nir"), 20.0)
    _, c, _ = gen.write_raster_items(8, str(tmp_path / "c"), 3, 64, ("red", "nir"), 20.0)
    ta, tb, tc = (_tree_bytes(tmp_path / d) for d in "abc")
    assert ta == tb and len(ta) == 6
    assert ta != tc
    strip = lambda items: [{**i, "assets": sorted(i["assets"])} for i in items]  # noqa: E731
    assert strip(a) == strip(b) != strip(c)


def test_graph_and_names_repeat_for_a_seed():
    e1, e2, e3 = gen.graph_edges(5, 3_000), gen.graph_edges(5, 3_000), gen.graph_edges(6, 3_000)
    assert all(np.array_equal(x, y) for x, y in zip(e1, e2))
    assert not np.array_equal(e1[0], e3[0])
    assert gen.names(5, 500) == gen.names(5, 500) != gen.names(6, 500)


def test_graph_edges_are_unique_and_ordered():
    a, b = gen.graph_edges(3, 5_000)
    assert len(a) == 5_000 and (a < b).all()
    assert len(set(zip(a.tolist(), b.tolist()))) == 5_000


def test_typos_keep_the_block_key():
    for i, name, block in gen.names(9, 2_000):
        assert name[:2] == block and len(name) >= 4, (i, name)


# --- routing threshold -----------------------------------------------------------


def test_graph_workload_sits_above_the_routing_threshold():
    from stackstac_spark.operators import graph as G

    default = inspect.signature(G.connected_components_star).parameters["driver_threshold"].default
    assert W.ROUTE_THRESHOLD == default == G._WEDGE_COLLECT_THRESHOLD
    a, _ = gen.graph_edges(1, W.GraphShuffle.N_EDGES)
    assert len(a) > W.ROUTE_THRESHOLD


# --- metric names ----------------------------------------------------------------


def test_metric_names_and_units_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        doc = json.load(f)
    assert {m["name"]: m["unit"] for m in doc["end_to_end"]} == R.END_TO_END
    assert {m["name"]: m["unit"] for m in doc["per_layer"]} == R.PER_LAYER
    assert [w["name"] for w in doc["workloads"]] == list(W.WORKLOADS)
    assert doc["paths"] == [os.path.basename(HERE)]


def test_tracer_self_time_excludes_children():
    t = Tracer(True)
    with t.span("outer", op="x"):
        with t.span("inner"):
            sum(range(10_000))
    outer, inner = t.spans
    assert inner["parent"] == 0 and inner["op"] == "x"
    total = outer["end"] - outer["start"]
    assert abs(t.self_time(0) - (total - (inner["end"] - inner["start"]))) < 1e-9


class _NoSpark:
    sparkContext = None


def test_raising_and_wrong_results_count_as_failed():
    run = OpRunner(_NoSpark(), Tracer(False))
    assert run.run("ok", lambda: 1, drain=lambda x: x, check=lambda r: r == 1) == 1
    assert run.run("wrong", lambda: 1, drain=lambda x: x + 1, check=lambda r: r == 1) is None
    assert run.run("raises", lambda: 1 / 0, drain=lambda x: x) is None
    assert (run.attempted, run.failed) == (3, 2)
    assert [r["ok"] for r in run.ops] == [True, False, False]


def test_png_check():
    from stackstac_spark.functions.png import arr_to_png, empty_tile

    empty = empty_tile((256, 256), True)
    tile = arr_to_png(np.random.default_rng(0).random((1, 256, 256)), (0.0, 1.0), "viridis", True)
    assert W.png_ok(tile, empty)
    assert not W.png_ok(empty, empty)
    assert not W.png_ok(arr_to_png(np.zeros((1, 128, 128)), (0.0, 1.0)), empty)
    assert not W.png_ok(b"GIF89a" + tile[6:], empty)


# --- oracles against the engine ---------------------------------------------------


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    from stackstac_spark import get_spark

    s = get_spark("perfbench-tests", master="local[2]", shuffle_partitions=2)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="module")
def tiny_raster(tmp_path_factory, spark):
    wl = W.RasterPipeline(3, str(tmp_path_factory.mktemp("raster")))
    wl.SIZE = 64
    wl.generate()
    return wl


def test_dense_oracle_matches_stack_compute(spark, tiny_raster):
    layout = gen.raster_layout(3, tiny_raster.N_ITEMS, 64, tiny_raster.RES)
    arrays = {
        (i, band): gen.band_array(3, i, b, 64)
        for i in range(tiny_raster.N_ITEMS)
        for b, band in enumerate(tiny_raster.BANDS)
    }
    want = O.dense_stack(layout, arrays, tiny_raster.BANDS, tiny_raster.RES, gen.NODATA)
    got = tiny_raster._stack(spark, tiny_raster.items).compute()
    np.testing.assert_array_equal(got, want)


def test_raster_oracles_agree_with_engine(spark, tiny_raster, tmp_path):
    run = OpRunner(spark, Tracer(False))
    st = tiny_raster._stack(spark, tiny_raster.items)
    for spec in tiny_raster._specs(spark, st, tiny_raster.items, tiny_raster.oracle, str(tmp_path / "t")):
        run.run(*spec)
    assert run.failures == [] and run.attempted == 7


def test_corrupted_raster_result_is_counted_as_failed(spark, tiny_raster, tmp_path):
    bad = dict(tiny_raster.oracle)
    count, total, weighted = bad["mosaic"]
    bad["mosaic"] = (count, total + 1.0, weighted)
    run = OpRunner(spark, Tracer(False))
    st = tiny_raster._stack(spark, tiny_raster.items)
    specs = tiny_raster._specs(spark, st, tiny_raster.items, bad, str(tmp_path / "t"))
    run.run(*specs[0])  # the pixel mosaic against the corrupted fingerprint
    assert (run.attempted, run.failed) == (1, 1)


def test_graph_and_linkage_oracles_agree_with_engine(spark):
    import pandas as pd
    from pyspark.sql import functions as F

    wl = W.GraphShuffle(4, "")
    a, b = gen.graph_edges(4, 1_500)
    recs = gen.names(4, 800)
    wl.oracle = {
        **O.link_prediction_oracle(a, b, wl.TOP_K),
        "triangle_count": O.triangle_oracle(a, b),
        "cc_star": O.components_oracle(a, b),
        **O.linkage_oracle(recs, wl.MAX_DISTANCE, wl.JW_THRESHOLD),
    }
    edges = spark.createDataFrame(pd.DataFrame({"id_a": a, "id_b": b}))
    names = spark.createDataFrame(pd.DataFrame(recs, columns=["id", "name", "block"]))
    run = OpRunner(spark, Tracer(False))
    # integer ids: kernel and driver routes, then the distributed components
    for threshold in (W.ROUTE_THRESHOLD, 0):
        for spec in wl._specs(edges, names, wl.oracle, driver_threshold=threshold):
            run.run(*spec)
    # string ids never take the integer-only kernel: the distributed wedge
    # self-join (components would label by the string minimum, so not here)
    as_str = edges.select(*(F.col(c).cast("string").alias(c) for c in edges.columns))
    for spec in wl._specs(as_str, names, wl.oracle)[:3]:
        run.run(*spec)
    assert run.failures == [] and run.attempted == 15
    assert wl.oracle["edit_distance"][0] > 0 and wl.oracle["jaro_winkler"][0] > 0
