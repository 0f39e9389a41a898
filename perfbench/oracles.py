"""Reference results computed at set-up, independently of the engine:
numpy for rasters, DuckDB and plain Python for graphs and name linkage.

Raster results are compared as fingerprints ``(count, sum, weighted sum)``
over the valid cells, where the weight is a small integer derived from the
cell's keys. Inputs are integer-valued, so the sums are exact in float64
and any misplaced, missing or extra cell changes the fingerprint; only the
NDVI fingerprint (a ratio) needs a tolerance.
"""

from __future__ import annotations

import warnings

import numpy as np

# --- raster -----------------------------------------------------------------


def weight(item, band, row, col):
    """Cell weight in 1..97; works on numpy arrays and on Spark columns
    alike (pass 0 for an absent key)."""
    return ((row * 31 + col * 17 + band * 7 + item * 3) % 97) + 1


def fingerprint(values: np.ndarray, weights: np.ndarray) -> tuple[float, float, float]:
    """Fingerprint of a float array (NaN = absent cell) with per-cell weights
    broadcastable to it."""
    ok = ~np.isnan(values)
    v = values[ok]
    w = np.broadcast_to(weights, values.shape)[ok]
    return (float(v.size), float(v.sum()), float((v * w).sum()))


def fp_equal(got, want, rel: float = 0.0) -> bool:
    if got is None or len(got) != len(want):
        return False
    return all(
        g is not None and abs(float(g) - w) <= rel * max(1.0, abs(w))
        for g, w in zip(got, want)
    )


def dense_stack(layout: list[dict], arrays: dict, bands: tuple[str, ...], res: float, nodata) -> np.ndarray:
    """The ``(time, band, y, x)`` float64 array the stack should hold: items
    in date order placed at their pixel offsets on the union grid, nodata
    and uncovered cells NaN."""
    west = min(lay["bounds"][0] for lay in layout)
    north = max(lay["bounds"][3] for lay in layout)
    east = max(lay["bounds"][2] for lay in layout)
    south = min(lay["bounds"][1] for lay in layout)
    h, w = round((north - south) / res), round((east - west) / res)
    order = sorted(range(len(layout)), key=lambda i: layout[i]["when"])
    out = np.full((len(layout), len(bands), h, w), np.nan)
    for t, i in enumerate(order):
        lay = layout[i]
        r0 = round((north - lay["bounds"][3]) / res)
        c0 = round((lay["bounds"][0] - west) / res)
        for b, band in enumerate(bands):
            a = arrays[(i, band)].astype("float64")
            a[arrays[(i, band)] == nodata] = np.nan
            out[t, b, r0 : r0 + a.shape[0], c0 : c0 + a.shape[1]] = a
    return out


def _grid_weights(n_items: int, n_bands: int, h: int, w: int, item_axis: bool = True):
    t, b, r, c = np.ogrid[0:n_items, 0:n_bands, 0:h, 0:w]
    return weight(t if item_axis else 0, b, r, c)


def raster_oracles(dense: np.ndarray, months: list[int]) -> dict:
    """Fingerprints of every raster operation's expected output.

    ``months`` gives each time step's period index (months since the first
    item's month), in time order."""
    nt, nb, h, w = dense.shape
    valid = ~np.isnan(dense)
    # last-on-top mosaic: later items win where valid
    mosaic = np.full((nb, h, w), np.nan)
    for t in range(nt):
        mosaic = np.where(valid[t], dense[t], mosaic)
    with warnings.catch_warnings():  # all-NaN cells stay NaN
        warnings.simplefilter("ignore", RuntimeWarning)
        median = np.nanmedian(dense, axis=0)
        per_month = {
            m: np.nanmedian(dense[[t for t in range(nt) if months[t] == m]], axis=0)
            for m in sorted(set(months))
        }
    with np.errstate(all="ignore"):
        ndvi = (dense[:, -1] - dense[:, 0]) / (dense[:, -1] + dense[:, 0])
    w_cell = _grid_weights(1, nb, h, w, item_axis=False)[0]
    out = {
        "mosaic": fingerprint(mosaic, w_cell),
        "median": fingerprint(median, w_cell),
        "resample": tuple(
            np.sum(
                [fingerprint(per_month[m], weight(m, *np.ogrid[0:nb, 0:h, 0:w])) for m in per_month],
                axis=0,
            ).tolist()
        ),
        "pixels": fingerprint(dense, _grid_weights(nt, nb, h, w)),
        "shape": (h, w),
        "tiles_valid": int(valid.sum()),
    }
    if nb > 1:
        t, r, c = np.ogrid[0:nt, 0:h, 0:w]
        out["ndvi"] = fingerprint(ndvi, weight(t, 0, r, c))
    return out


# --- graph ------------------------------------------------------------------


def _duck(edges_a: np.ndarray, edges_b: np.ndarray):
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    con.register("e_df", pd.DataFrame({"a": edges_a, "b": edges_b}))
    con.execute("CREATE TABLE e AS SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b FROM e_df WHERE a <> b")
    return con


def link_prediction_oracle(edges_a, edges_b, k: int = 100) -> dict:
    """Top-``k`` Adamic-Adar and neighbour-Jaccard scores over non-adjacent
    pairs, as ``{"aa": [(u, v, score)], "jaccard": [...]}`` in
    (score desc, u, v) order, plus every candidate scoring within 1e-5 of
    the k-th score (so a tie or rounding difference at the cut still
    verifies)."""
    con = _duck(edges_a, edges_b)
    con.execute(
        """
        CREATE TABLE sym AS SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e;
        CREATE TABLE deg AS SELECT a AS w, count(*) AS d FROM sym GROUP BY a;
        CREATE TABLE common AS
          SELECT s1.b AS u, s2.b AS v, s1.a AS w
          FROM sym s1 JOIN sym s2 ON s1.a = s2.a AND s1.b < s2.b;
        """
    )
    out = {}
    queries = {
        "aa": """
            SELECT c.u, c.v, round(sum(1.0 / ln(deg.d)), 6) AS s
            FROM common c JOIN deg ON deg.w = c.w
            ANTI JOIN e ON e.a = c.u AND e.b = c.v
            GROUP BY c.u, c.v""",
        "jaccard": """
            SELECT x.u, x.v, round(x.n / (du.d + dv.d - x.n), 6) AS s FROM (
              SELECT c.u, c.v, count(*)::DOUBLE AS n FROM common c
              ANTI JOIN e ON e.a = c.u AND e.b = c.v GROUP BY c.u, c.v) x
            JOIN deg du ON du.w = x.u JOIN deg dv ON dv.w = x.v""",
    }
    for name, sql in queries.items():
        con.execute(f"CREATE TABLE scored AS {sql}")
        top = con.execute(f"SELECT u, v, s FROM scored ORDER BY s DESC, u, v LIMIT {k}").fetchall()
        cut = top[-1][2] - 1e-5 if top else 0.0
        cands = con.execute("SELECT u, v, s FROM scored WHERE s >= ?", [cut]).fetchall()
        out[name] = {"top": top, "cands": {(u, v): s for u, v, s in cands}}
        con.execute("DROP TABLE scored")
    con.close()
    return out


def check_top_k(rows: list[tuple], oracle: dict, tol: float = 2e-6) -> bool:
    """Engine top-k ``(u, v, score)`` rows agree with the oracle: same
    length, every pair an oracle candidate with the same score, and the
    sorted score lists equal."""
    top, cands = oracle["top"], oracle["cands"]
    if len(rows) != len(top):
        return False
    for u, v, s in rows:
        u, v = sorted((int(u), int(v)))  # string ids come out in string order
        want = cands.get((u, v))
        if want is None or s is None or abs(s - want) > tol:
            return False
    got = sorted((float(r[2]) for r in rows), reverse=True)
    return all(abs(g - w[2]) <= tol for g, w in zip(got, top))


def node_weight(node):
    return (node % 97) + 1


def triangle_oracle(edges_a, edges_b) -> tuple[float, float, float]:
    """``(nodes in ≥1 triangle, Σ n_tri, Σ n_tri·weight(node))``."""
    con = _duck(edges_a, edges_b)
    row = con.execute(
        """
        WITH tri AS (
          SELECT e1.a AS x, e1.b AS y, e2.b AS z
          FROM e e1 JOIN e e2 ON e1.a = e2.a AND e1.b < e2.b
          JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b),
        per AS (
          SELECT node, count(*) AS n FROM (
            SELECT x AS node FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri)
          GROUP BY node)
        SELECT count(*), sum(n), sum(n * ((node % 97) + 1)) FROM per"""
    ).fetchone()
    con.close()
    return tuple(float(v or 0) for v in row)


def components_oracle(edges_a, edges_b) -> tuple[float, float, float]:
    """Union-find over the edges: ``(nodes, Σ component, Σ component ·
    weight(node))`` where a component is labelled by its minimum node."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(edges_a.tolist(), edges_b.tolist()):
        if a == b:
            continue
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    n = s = sw = 0.0
    for node in parent:
        c = find(node)
        n += 1
        s += c
        sw += c * node_weight(node)
    return (n, s, sw)


def linkage_oracle(records: list[tuple[int, str, str]], max_distance: int, jw_threshold: float) -> dict:
    """Within-block id pairs ``a < b`` with Levenshtein ≤ ``max_distance``
    and with Jaro-Winkler (rounded to 6 places) ≥ ``jw_threshold``, as
    fingerprints ``(pairs, Σ id_a, Σ id_b·weight(id_a), Σ score)``."""
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    con.register("n", pd.DataFrame(records, columns=["id", "name", "block"]))
    pairs = "FROM n a JOIN n b ON a.block = b.block AND a.id < b.id"
    fp = "count(*), sum(a.id), sum(b.id * ((a.id % 97) + 1))"
    ed = con.execute(
        f"SELECT {fp}, sum(levenshtein(a.name, b.name)) {pairs} "
        f"WHERE levenshtein(a.name, b.name) <= {max_distance}"
    ).fetchone()
    jw = con.execute(
        f"SELECT {fp}, sum(round(jaro_winkler_similarity(a.name, b.name), 6)) {pairs} "
        f"WHERE round(jaro_winkler_similarity(a.name, b.name), 6) >= {jw_threshold}"
    ).fetchone()
    con.close()
    return {
        "edit_distance": tuple(float(v or 0) for v in ed),
        "jaro_winkler": tuple(float(v or 0) for v in jw),
    }


def months_since(first, when) -> int:
    return (when.year - first.year) * 12 + when.month - first.month

