"""Seeded input generator for the perfbench workloads.

Every workload is one feature set, made from the seed, written once per
*variant*: variant k is the same features shifted east by k * BAND_DEG
degrees of longitude. Bands are wider than any feature set, so two variants
share no H3 cell. All sit at 35-45 N between 88 W and 64 W, where res-8
cell areas vary by under +-1.5 % along a parallel, so each variant costs
about the same work.

Geometry travels as WKB (polygons, lines; the GeoParquet encoding), as WKT
strings and as lat/lon columns (the two point inputs). The same seed gives
byte-identical parquet files. Each variant directory also gets the job
config the engine runs (job.json) and the generator's own expectations
(manifest.json: rows, rows with a geometry, attribute totals over those).

Usage: python3 gen.py <workload> <seed> <out_dir> <variants> [scale]
"""
import json
import os
import struct
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

LAT0 = 38.0
LON0 = -88.0
BAND_DEG = 2.0
WIDTH_DEG = 1.8  # every feature set fits in [LON0, LON0 + WIDTH_DEG)
MAX_VARIANTS = 12



def _wkb_polygon(rings):
    out = [struct.pack("<BII", 1, 3, len(rings))]
    for r in rings:
        out.append(struct.pack("<I", len(r)))
        out.append(np.ascontiguousarray(r, dtype="<f8").tobytes())
    return b"".join(out)


def _wkb_line(coords):
    return struct.pack("<BII", 1, 2, len(coords)) + \
        np.ascontiguousarray(coords, dtype="<f8").tobytes()


# ----------------------------------------------------------------- polygons

def _polygons(rng, scale):
    """Jagged, non-convex polygons tiling a grid of BLOCK-degree blocks.

    Shared block edges are one jagged polyline used by both neighbours, so
    the tiling has no overlap and no gap. Blocks merge into rectangles with
    heavy-tailed sizes: two giants of 24x24 blocks (about 18k res-8 cells,
    over PolySplit's 16384-cell split threshold), Pareto-sized mid tiles,
    single blocks for the rest. A few single blocks get a hole; half of the
    holes hold a bow-tie feature (self-intersecting, so the validator's
    repair path runs). About 1 % extra rows have a null geometry.
    """
    block = 0.05
    giant = max(2, int(round(24 * scale ** 0.5)))
    nx = int(round(WIDTH_DEG / block))
    ny = max(2 * giant, int(round(48 * scale)))
    k = 4  # intermediate vertices per block edge
    jit = 0.1 * block
    # jittered grid nodes (borders stay straight so variants tile cleanly)
    gx = LON0 + np.arange(nx + 1)[:, None] * block + rng.uniform(-jit, jit, (nx + 1, ny + 1))
    gy = LAT0 + np.arange(ny + 1)[None, :] * block + rng.uniform(-jit, jit, (nx + 1, ny + 1))
    gx[0, :], gx[-1, :] = LON0, LON0 + nx * block
    gy[:, 0], gy[:, -1] = LAT0, LAT0 + ny * block
    t = (np.arange(1, k + 1) / (k + 1))[:, None]

    def edge(p, q, axis, border):
        pts = p + t * (q - p)
        if not border:
            pts[:, axis] += rng.uniform(-jit, jit, k)
        return pts

    node = lambda i, j: np.array([gx[i, j], gy[i, j]])
    # horizontal edge (i,j)->(i+1,j) displaced in y; vertical (i,j)->(i,j+1) in x
    hed = {(i, j): edge(node(i, j), node(i + 1, j), 1, j in (0, ny))
           for i in range(nx) for j in range(ny + 1)}
    ved = {(i, j): edge(node(i, j), node(i, j + 1), 0, i in (0, nx))
           for i in range(nx + 1) for j in range(ny)}

    def ring(i0, j0, i1, j1):
        pts = []
        for i in range(i0, i1):
            pts += [node(i, j0)[None, :], hed[(i, j0)]]
        for j in range(j0, j1):
            pts += [node(i1, j)[None, :], ved[(i1, j)]]
        for i in range(i1, i0, -1):
            pts += [node(i, j1)[None, :], hed[(i - 1, j1)][::-1]]
        for j in range(j1, j0, -1):
            pts += [node(i0, j)[None, :], ved[(i0, j - 1)][::-1]]
        r = np.concatenate(pts)
        return np.vstack([r, r[:1]])

    free = np.ones((nx, ny), dtype=bool)
    rects = []

    def place(w, h, tries):
        for _ in range(tries):
            i0 = int(rng.integers(0, nx - w + 1))
            j0 = int(rng.integers(0, ny - h + 1))
            if free[i0:i0 + w, j0:j0 + h].all():
                free[i0:i0 + w, j0:j0 + h] = False
                rects.append((i0, j0, i0 + w, j0 + h))
                return

    # the giants at the left edge, one per half of the grid
    for half in range(2):
        j0 = half * (ny // 2) + int(rng.integers(0, ny // 2 - giant + 1))
        free[0:giant, j0:j0 + giant] = False
        rects.append((0, j0, giant, j0 + giant))
    for _ in range(int(60 * scale) + 20):
        w, h = np.minimum(2 + rng.pareto(1.6, 2).astype(int), 10)
        place(int(w), int(h), 20)
    geoms, holes = [], 0
    for r in rects:
        geoms.append([ring(*r)])
    for i, j in zip(*np.nonzero(free)):
        outer = ring(i, j, i + 1, j + 1)
        if rng.random() < 0.03:
            cx, cy = outer[:-1].mean(axis=0)
            ang = np.linspace(0, 2 * np.pi, 9)[:-1][::-1]  # clockwise hole
            rad = 0.2 * block * (1 + rng.uniform(-0.15, 0.15, 8))
            hole = np.column_stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)])
            geoms.append([outer, np.vstack([hole, hole[:1]])])
            holes += 1
            if holes % 2 == 0:
                d = 0.1 * block
                bow = np.array([[cx - d, cy - d], [cx + d, cy + d], [cx + d, cy - d],
                                [cx - d, cy + d], [cx - d, cy - d]])
                geoms.append([bow])
        else:
            geoms.append([outer])
    n_null = max(1, len(geoms) // 100)
    geoms += [None] * n_null
    n = len(geoms)
    order = rng.permutation(n)
    geoms = [geoms[o] for o in order]
    attrs = {"pop": rng.integers(1, 20000, n).astype("int64"),
             "value": np.round(rng.gamma(2.0, 50.0, n), 3)}
    return [{"name": "parcels", "uid": "fid", "geoms": geoms, "kind": "polygon",
             "gtype": "POLYGON", "method": "PCT_AREA", "attrs": attrs}]


# -------------------------------------------------------------------- lines

def _lines(rng, scale):
    """Rail-like polylines of 5-30 short segments on shared corridors.

    Corridors are smooth random walks of ~0.9 km steps. Each line follows a
    random stretch of one corridor with ~30 m jitter, and the line count is
    set so every corridor stretch carries about 2.5 lines: res-9 cells are
    shared 2-3x each.
    """
    n_corr = max(4, int(round(64 * scale)))
    steps = 300
    step = 0.008
    height = 10.0
    x = np.empty((n_corr, steps + 1))
    y = np.empty((n_corr, steps + 1))
    x[:, 0] = LON0 + rng.uniform(0.05, WIDTH_DEG - 0.05, n_corr)
    y[:, 0] = LAT0 - 3.0 + rng.uniform(0.05, height - 0.05, n_corr)
    head = rng.uniform(0, 2 * np.pi, n_corr)
    for s in range(steps):
        head = head + rng.normal(0, 0.12, n_corr)
        nx_, ny_ = x[:, s] + step * np.cos(head), y[:, s] + step * np.sin(head)
        out_x = (nx_ < LON0 + 0.02) | (nx_ > LON0 + WIDTH_DEG - 0.02)
        out_y = (ny_ < LAT0 - 2.98) | (ny_ > LAT0 - 3.0 + height - 0.02)
        head = np.where(out_x, np.pi - head, head)
        head = np.where(out_y, -head, head)
        x[:, s + 1] = x[:, s] + step * np.cos(head)
        y[:, s + 1] = y[:, s] + step * np.sin(head)
    n_lines = int(2.5 * n_corr * steps / 17.5)
    corr = rng.integers(0, n_corr, n_lines)
    nseg = rng.integers(5, 31, n_lines)
    start = rng.integers(0, steps - nseg + 1)
    geoms = []
    for c, s0, m in zip(corr, start, nseg):
        pts = np.column_stack([x[c, s0:s0 + m + 1], y[c, s0:s0 + m + 1]])
        geoms.append([pts + rng.uniform(-0.0003, 0.0003, pts.shape)])
    n = len(geoms)
    attrs = {"traffic": np.round(rng.gamma(2.0, 400.0, n), 2),
             "tracks": rng.integers(1, 5, n).astype("int64")}
    return [{"name": "rail", "uid": "line_id", "geoms": geoms, "kind": "line",
             "gtype": "LINE", "method": "PCT_LENGTH", "attrs": attrs}]


# ------------------------------------------------------------------- points

def _points(rng, scale):
    """Two point inputs over one clustered population.

    `sites` carries lat/lon columns; `venues` a WKT string geometry with
    other attributes (some null, some POINT EMPTY, both dropped by the
    validator). 80 % of points fall in 40 gaussian towns, 20 % uniformly.
    """
    def cloud(n):
        towns = np.column_stack([LON0 + rng.uniform(0.2, WIDTH_DEG - 0.2, 40),
                                 LAT0 + rng.uniform(0.5, 3.5, 40)])
        sig = rng.uniform(0.02, 0.12, 40)
        pick = rng.integers(0, 40, n)
        pts = towns[pick] + rng.normal(0, 1, (n, 2)) * sig[pick, None]
        bg = rng.random(n) < 0.2
        pts[bg] = np.column_stack([LON0 + rng.uniform(0, WIDTH_DEG, bg.sum()),
                                   LAT0 + rng.uniform(0, 4.0, bg.sum())])
        pts[:, 0] = np.clip(pts[:, 0], LON0 + 1e-6, LON0 + WIDTH_DEG - 1e-6)
        return pts

    na, nb = int(30000 * scale), int(20000 * scale)
    a, b = cloud(na), cloud(nb)
    kind = rng.random(nb)
    return [
        {"name": "sites", "uid": "site_id", "kind": "latlon", "coords": a,
         "gtype": "POINT", "method": "WITHIN",
         "null": rng.random(na) < 0.005, "empty": np.zeros(na, dtype=bool),
         "attrs": {"residents": rng.integers(0, 500, na).astype("int64"),
                   "income": np.round(rng.gamma(3.0, 20000.0, na), 2)}},
        {"name": "venues", "uid": "venue_key", "kind": "wkt", "coords": b,
         "gtype": "POINT", "method": "WITHIN",
         "null": kind < 0.004, "empty": (kind >= 0.004) & (kind < 0.006),
         "attrs": {"seats": rng.integers(1, 300, nb).astype("int64"),
                   "visits": np.round(rng.gamma(1.5, 800.0, nb), 1)}},
    ]


# workload -> (H3 resolution, input builders); one job indexes every input
WORKLOADS = {"polygons_points_resolve": (8, (_polygons, _points)),
             "lines_length": (9, (_lines,))}


def _table(inp, dx):
    if "coords" in inp:
        n = len(inp["coords"])
        lon = pa.array(inp["coords"][:, 0] + dx, mask=inp["null"])
        lat = pa.array(inp["coords"][:, 1], mask=inp["null"])
        if inp["kind"] == "latlon":
            cols = {"lat": lat, "lon": lon}
        else:
            wkt = pc.binary_join_element_wise(
                "POINT (", pc.cast(lon, pa.string()), " ", pc.cast(lat, pa.string()), ")", "")
            cols = {"geom": pc.if_else(pa.array(inp["empty"]), "POINT EMPTY", wkt)}
    else:
        n = len(inp["geoms"])
        shift = np.array([dx, 0.0])
        enc = _wkb_polygon if inp["kind"] == "polygon" else (lambda rs: _wkb_line(rs[0]))
        cols = {"geom": pa.array([None if g is None else enc([r + shift for r in g])
                                  for g in inp["geoms"]], pa.binary())}
    ids = np.arange(n, dtype="int64")
    uid = pa.array(ids) if inp["kind"] != "wkt" else pa.array([f"v{i:07d}" for i in ids])
    return pa.table({inp["uid"]: uid, **cols,
                     **{k: pa.array(v) for k, v in inp["attrs"].items()}})


def _geom_rows(inp):
    """Rows the validator should keep: a geometry that is present and not empty."""
    if "coords" in inp:
        return ~(inp["null"] | inp["empty"])
    return np.array([g is not None for g in inp["geoms"]])


def _job(workload, res, inputs, vdir):
    ins = {}
    for inp in inputs:
        spec = {"path": os.path.join(vdir, inp["name"] + ".parquet"),
                "unique_id": inp["uid"], "geometry_type": inp["gtype"],
                "method": inp["method"],
                "input_columns": list(inp["attrs"])}
        if inp["kind"] == "latlon":
            spec.update(lat_column_name="lat", lon_column_name="lon")
        else:
            spec["geometry_column_name"] = "geom"
        ins[inp["name"]] = spec
    return {"name": f"perfbench-{workload}", "version": "1.0.0", "h3_resolution": res,
            "output_path": os.path.join(vdir, "out"), "inputs": ins}


def generate(workload, seed, out_dir, variants, scale=1.0):
    """Write `variants` shifted copies of the workload's seeded features."""
    if not 1 <= variants <= MAX_VARIANTS:
        raise ValueError(f"variants must be in 1..{MAX_VARIANTS}")
    res, builders = WORKLOADS[workload]
    inputs = [inp for i, build in enumerate(builders)
              for inp in build(np.random.default_rng([seed, i]), scale)]
    for v in range(variants):
        vdir = os.path.abspath(os.path.join(out_dir, f"v{v:02d}"))
        os.makedirs(vdir, exist_ok=True)
        manifest = {"variant": v, "lon_shift": v * BAND_DEG, "inputs": {}}
        for inp in inputs:
            t = _table(inp, v * BAND_DEG)
            pq.write_table(t, os.path.join(vdir, inp["name"] + ".parquet"),
                           compression="snappy")
            has_geom = _geom_rows(inp)
            manifest["inputs"][inp["name"]] = {
                "rows": len(has_geom), "geom_rows": int(has_geom.sum()),
                "totals": {k: float(np.asarray(a, dtype="float64")[has_geom].sum())
                           for k, a in inp["attrs"].items()}}
        with open(os.path.join(vdir, "manifest.json"), "w") as f:
            json.dump(manifest, f, indent=1)
        with open(os.path.join(vdir, "job.json"), "w") as f:
            json.dump(_job(workload, res, inputs, vdir), f, indent=1)
    return [os.path.abspath(os.path.join(out_dir, f"v{v:02d}")) for v in range(variants)]


if __name__ == "__main__":
    if len(sys.argv) not in (5, 6):
        sys.exit(__doc__)
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3], int(sys.argv[4]),
             float(sys.argv[5]) if len(sys.argv) == 6 else 1.0)
