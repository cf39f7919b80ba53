"""Spatial join: points × polygons via broadcast cell-cover + PIP refine.

The engine pattern mandated by the north rule (SURVEY.md §2.B E4-E6):

1. **Cell cover** (small side): every polygon is decomposed at resolution
   ``r`` into ``full`` cells (entirely inside) and ``partial`` cells
   (boundary-crossing).  Each partial (cell, polygon) is then split
   quadtree-style into **leaves** until every leaf clips at most
   ``LEAF_K`` polygon edges (``leaf_cover``).  The polygon side is small
   (e.g. 177 Natural Earth countries); the cover is a few thousand rows.
2. **Broadcast equi-join**: the huge point side gets a ``cell`` column
   (pure JVM-side expression — no Python) and equi-joins the broadcast
   cover on ``cell``.  Catalyst picks BroadcastHashJoin: no shuffle of
   the big side, the geometry theta-join became an equi-join.
3. **PIP refinement**: rows landing in ``full`` cells skip geometry
   entirely.  Rows landing in a partial cell keep only the leaf whose
   integer range (at ``r + leaf_depth(r)``) holds the point, then run a
   crossing-parity test against that leaf's ≤ 4 edges.  The leaf side
   is 25 columns and the condition is short, so the BroadcastHashJoin
   stays inside whole-stage codegen.

Scale notes: the cover is O(polygons · cells/polygon) and broadcast once;
the big side is never shuffled; skew from hot cells only matters for
downstream aggregations (see operators/skew.py).
"""

from __future__ import annotations

import weakref
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import cells as C
from ..functions import geom_np as G


UNROLL_K = 24  # max clipped edges handled by the rasterizer's codegen'd predicate

# Leaf cover.  A codegen'd refine condition stays fast only while it is
# short: 4M points against the res-8 synthetic country cover (4 cores)
# took 0.46 / 0.49 / 0.54 s with a 1 / 2 / 4-term crossing predicate and
# 2.48 / 3.22 / 3.98 s with 8 / 12 / 16 terms (the generated method
# grows too large for the JIT).  Hence at most LEAF_K edges per leaf.
LEAF_K = 4
# Splits stop LEAF_DEPTH levels below the cover resolution (a leaf side
# is at least 1/64 of its cell side).  At 6 neither the res-8 synthetic
# country cover (seed 1: 8,592 partial cells -> 10,653 leaves) nor 5k
# seeded parcels (6,722 -> 73,374) has a leaf over LEAF_K.
LEAF_DEPTH = 6
# Leaves clip edges against their rectangle widened by this many
# degrees, so a point whose float grid index rounds across a leaf border
# still finds every edge near it (extra edges are harmless).  It is also
# the clearance a reference point keeps from every clipped edge.
_LEAF_MARGIN = 1e-9
# Reference-point candidates as fractions of the leaf: the centre, then
# eight off-grid points, no three of them collinear, so at most two
# fall on any one edge and a leaf with ≤ LEAF_K edges always has one
# clear of all of them.
_REF_CANDIDATES = np.array([(0.5, 0.5), (0.4, 0.4), (0.3, 0.8), (0.2, 0.8),
                            (0.6, 0.7), (0.4, 0.7), (0.2, 0.3), (0.7, 0.6),
                            (0.8, 0.4)])

FULL, LEAF, WIDE = 0, 1, 2  # leaf-cover row kinds
EDGE_COLS = [f"e{j}_{c}" for j in range(LEAF_K) for c in ("ax", "ay", "bx", "by")]
_LEAF_AUX = ["lx0", "lx1", "ly0", "ly1", "rx", "ry", "ref_inside"]
LEAF_SCHEMA = ("cell long, polygon_fid long, kind int, lx0 long, lx1 long, "
               "ly0 long, ly1 long, rx double, ry double, ref_inside boolean, "
               + "".join(f"{c} double, " for c in EDGE_COLS)
               + "edges array<array<double>>")


def leaf_depth(res: int) -> int:
    """Quadtree levels between a cover cell and its smallest leaf."""
    return min(LEAF_DEPTH, C.MAX_RES - res)


def _poly_dict(fid: int, layout: str, coords, ends) -> dict:
    """(fid, geometry fields) → planar polygon dict (XY ordinates only)."""
    stride = {"XY": 2, "XYM": 3, "XYZM": 4}[layout]
    coords = np.asarray(coords, dtype=np.float64)
    if stride != 2:
        xy = np.empty(2 * (len(coords) // stride))
        xy[0::2] = coords[0::stride]
        xy[1::2] = coords[1::stride]
        scale = 2 / stride
        ends = [int(e * scale) for e in ends]
        coords = xy
    else:
        ends = [int(e) for e in ends]
    return {"fid": int(fid), "coords": coords, "ends": ends}


def polygons_from_features(features_rows) -> list[dict]:
    """Collected ``features`` rows (fid, geometry) → polygon dicts."""
    return [_poly_dict(row.fid, row.geometry.layout, row.geometry.coords,
                       row.geometry.ends) for row in features_rows]


COVER_SCHEMA = ("cell long, polygon_fid long, full boolean, rx double, "
                "ry double, ref_inside boolean, edges array<array<double>>, "
                "lon0 double, lat0 double")


def _map_polygons(features: DataFrame, build_polys, schema: str) -> DataFrame:
    """Run ``build_polys(list of polygon dicts) -> pandas`` over the
    polygon corpus in parallel (mapInPandas over ``features`` rows);
    rows with NULL geometry are skipped."""

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            polys = [_poly_dict(fid, g["layout"], g["coords"], g["ends"])
                     for fid, g in zip(pdf["fid"], pdf["geometry"])
                     if g is not None]
            if polys:
                yield build_polys(polys)

    # spread polygons across tasks — the cover build is CPU-bound per
    # polygon and input files may pack all polygons into one split
    return (features.select("fid", "geometry")
            .repartition(F.col("fid"))
            .mapInPandas(build, schema=schema))


def cell_cover_df(features: DataFrame, res: int) -> DataFrame:
    """Distributed cell-cover build: each task covers its share of the
    polygon corpus — nothing is collected to the driver, so a
    million-parcel polygon side builds its cover across the cluster
    instead of serially in driver Python.

    Input needs columns (fid, geometry).  Output matches
    ``polygon_cell_cover(with_edges=True)`` (``COVER_SCHEMA``).
    """
    def build(polys: list[dict]) -> pd.DataFrame:
        cover = polygon_cell_cover(polys, res, with_edges=True)
        cover["edges"] = cover["edges"].map(
            lambda e: e if e is not None else [])
        cover = cover.rename(columns={"fid": "polygon_fid"})
        return cover[["cell", "polygon_fid", "full", "rx", "ry",
                      "ref_inside", "edges", "lon0", "lat0"]]

    return _map_polygons(features, build, COVER_SCHEMA)


def leaf_cover_df(features: DataFrame, res: int) -> DataFrame:
    """Distributed ``leaf_cover`` (``LEAF_SCHEMA``): each task builds the
    full rows and leaves of its share of the polygons."""
    return _map_polygons(features, lambda polys: leaf_cover(polys, res),
                         LEAF_SCHEMA)


def polygon_cell_cover(polygons: list[dict], res: int,
                       edge_chunk: int = 512,
                       with_edges: bool = False) -> pd.DataFrame:
    """Classify grid cells at ``res`` against each polygon.

    Soundness: a cell whose rectangle overlaps NO edge bbox is uniformly
    inside or outside (no boundary crosses it), so a single center-PIP
    classifies it (``full``/drop).  Cells overlapping any edge bbox are
    conservatively ``partial`` — refinement stays correct, just does a
    little more PIP work.

    ``with_edges=True`` additionally attaches to every partial cell the
    data the rasterizer's refinement needs (see ``tiles.rasterize_cover``):
    ``rx, ry`` — the cell center (a reference point), ``ref_inside`` —
    the polygon parity at that reference, and ``edges`` — the clipped
    edge list (every polygon edge whose bbox overlaps the cell; a
    conservative superset of the edges that can cross a segment lying
    inside the cell) — plus the cell's SW corner ``lon0, lat0`` so
    consumers (the rasterizer) never decode the cell id in SQL (the
    Morton-decode expression inlined per pixel blows codegen up).

    Returns pandas DataFrame (cell:int64, fid:int64, full:bool
    [, rx, ry, ref_inside, edges]).
    """
    import math

    n = 1 << res
    w, h = 360.0 / n, 180.0 / n
    # Accumulate per-polygon numpy chunks and build ONE DataFrame at the
    # end: a pandas frame per polygon (six __setitem__ block inserts
    # each) was ~80% of the build time at 200k polygons (profiled).
    # r6: the Morton encode is ALSO batched — grid coordinates collect
    # per polygon and ONE cell_from_xy runs over the concatenation (the
    # 10-op bit spread per tiny array was ~25% of the kernel); the bbox
    # grid range uses scalar math (same float64 ops as xy_np) and the
    # two per-polygon PIP calls (interior centers, partial centers)
    # fuse into one pointwise call on all centers.
    gx_l: list[np.ndarray] = []
    gy_l: list[np.ndarray] = []
    fids_l: list[np.ndarray] = []
    full_l: list[np.ndarray] = []
    rx_l: list[np.ndarray] = []
    ry_l: list[np.ndarray] = []
    ref_l: list[np.ndarray] = []
    lon0_l: list[np.ndarray] = []
    lat0_l: list[np.ndarray] = []
    edges_all: list[list | None] = []
    for poly in polygons:
        coords, ends, fid = poly["coords"], poly["ends"], poly["fid"]
        x0, y0, x1, y1 = G.polygon_bbox(coords)
        ix0 = min(max(int(math.floor((x0 + 180.0) / 360.0 * n)), 0), n - 1)
        iy0 = min(max(int(math.floor((y0 + 90.0) / 180.0 * n)), 0), n - 1)
        ix1 = min(max(int(math.floor((x1 + 180.0) / 360.0 * n)), 0), n - 1)
        iy1 = min(max(int(math.floor((y1 + 90.0) / 180.0 * n)), 0), n - 1)
        ixs = np.arange(ix0, ix1 + 1)
        iys = np.arange(iy0, iy1 + 1)
        gx = np.tile(ixs, len(iys))
        gy = np.repeat(iys, len(ixs))
        lon0 = -180.0 + gx * w
        lat0 = -90.0 + gy * h

        exmin, eymin, exmax, eymax = G.edge_bboxes(coords, ends)
        partial = np.zeros(gx.shape, dtype=bool)
        hit_cols: list[np.ndarray] = []
        for s in range(0, len(exmin), edge_chunk):
            e = slice(s, s + edge_chunk)
            hit = ((exmin[None, e] < lon0[:, None] + w) &
                   (exmax[None, e] > lon0[:, None]) &
                   (eymin[None, e] < lat0[:, None] + h) &
                   (eymax[None, e] > lat0[:, None]))
            partial |= hit.any(axis=1)
            if with_edges:
                hit_cols.append(hit)

        interior = ~partial
        centers_x = lon0 + w / 2
        centers_y = lat0 + h / 2
        inside_all = G.point_in_polygon_chunked(
            centers_x, centers_y, coords, ends) \
            if len(gx) else np.zeros(0, dtype=bool)
        inside_interior = inside_all[interior]

        keep_full = np.nonzero(interior)[0][inside_interior]
        part_rows = np.nonzero(partial)[0]
        n_full, n_part = len(keep_full), len(part_rows)
        gx_l.append(gx[keep_full])
        gx_l.append(gx[part_rows])
        gy_l.append(gy[keep_full])
        gy_l.append(gy[part_rows])
        fids_l.append(np.full(n_full + n_part, fid, dtype=np.int64))
        full_l.append(np.ones(n_full, dtype=bool))
        full_l.append(np.zeros(n_part, dtype=bool))
        if with_edges:
            # edge segments as [x1, y1, x2, y2] rows
            segs = _edge_segments(coords, ends)
            hits = np.concatenate(hit_cols, axis=1) if hit_cols else \
                np.zeros((len(gx), 0), dtype=bool)
            ref_inside_part = inside_all[part_rows]
            edges_all.extend([None] * n_full)
            edges_all.extend(segs[hits[i]].tolist() for i in part_rows)
            rx_l.append(centers_x[keep_full])
            rx_l.append(centers_x[part_rows])
            ry_l.append(centers_y[keep_full])
            ry_l.append(centers_y[part_rows])
            ref_l.append(np.ones(n_full, dtype=bool))
            ref_l.append(ref_inside_part)
            lon0_l.append(lon0[keep_full])
            lon0_l.append(lon0[part_rows])
            lat0_l.append(lat0[keep_full])
            lat0_l.append(lat0[part_rows])
    if not fids_l:
        cols = {"cell": np.array([], dtype=np.int64),
                "fid": np.array([], dtype=np.int64),
                "full": np.array([], dtype=bool)}
        return pd.DataFrame(cols)
    out = {"cell": C.cell_from_xy(np.concatenate(gx_l),
                                  np.concatenate(gy_l), res),
           "fid": np.concatenate(fids_l),
           "full": np.concatenate(full_l)}
    if with_edges:
        out.update(rx=np.concatenate(rx_l), ry=np.concatenate(ry_l),
                   ref_inside=np.concatenate(ref_l))
        out["edges"] = pd.Series(edges_all, dtype="object")
        out["lon0"] = np.concatenate(lon0_l)
        out["lat0"] = np.concatenate(lat0_l)
    return pd.DataFrame(out)


def _edge_segments(coords: np.ndarray, ends) -> np.ndarray:
    """All ring edges as an (E, 4) array of [x1, y1, x2, y2]."""
    segs = []
    for x, y in G.rings_of(np.asarray(coords, dtype=np.float64), ends):
        segs.append(np.column_stack([x[:-1], y[:-1], x[1:], y[1:]]))
    return np.concatenate(segs) if segs else np.zeros((0, 4))


def _all_segments(polygons: list[dict]) -> tuple[np.ndarray, np.ndarray]:
    """Every ring edge of every polygon as an (E, 4) array of
    [x1, y1, x2, y2], plus the index of its polygon.  Zero-length edges
    never cross anything and are left out."""
    per = [_edge_segments(p["coords"], p["ends"]) for p in polygons]
    segs = np.concatenate(per) if per else np.zeros((0, 4))
    seg_poly = np.repeat(np.arange(len(per)), [len(s) for s in per])
    keep = (segs[:, 0] != segs[:, 2]) | (segs[:, 1] != segs[:, 3])
    return segs[keep], seg_poly[keep]


def _clip(segs: np.ndarray, x0, y0, x1, y1) -> np.ndarray:
    """Which segments touch their rectangle widened by ``_LEAF_MARGIN``:
    bbox overlap, and the rectangle's corners not all strictly on one
    side of the segment's line (separating-axis test)."""
    m = _LEAF_MARGIN
    x0, y0, x1, y1 = x0 - m, y0 - m, x1 + m, y1 + m
    ax, ay, bx, by = segs.T
    hit = ((np.minimum(ax, bx) <= x1) & (np.maximum(ax, bx) >= x0) &
           (np.minimum(ay, by) <= y1) & (np.maximum(ay, by) >= y0))
    dx, dy = bx - ax, by - ay
    o = [dx * (cy - ay) - dy * (cx - ax)
         for cx, cy in ((x0, y0), (x1, y0), (x0, y1), (x1, y1))]
    above = (o[0] > 0) & (o[1] > 0) & (o[2] > 0) & (o[3] > 0)
    below = (o[0] < 0) & (o[1] < 0) & (o[2] < 0) & (o[3] < 0)
    return hit & ~above & ~below


def _dist2(px, py, segs: np.ndarray) -> np.ndarray:
    """Squared distance from each point to its segment."""
    ax, ay, bx, by = segs.T
    dx, dy = bx - ax, by - ay
    t = np.clip(((px - ax) * dx + (py - ay) * dy) / (dx * dx + dy * dy), 0.0, 1.0)
    return (px - ax - t * dx) ** 2 + (py - ay - t * dy) ** 2


def _level0_pairs(segs, seg_poly, node_poly, node_cell, res):
    """(node, segment) candidates: each edge against the cells its
    widened bbox spans, matched to the partial cells of its polygon."""
    pad = 2 * _LEAF_MARGIN
    gx0, gy0 = C.xy_np(np.minimum(segs[:, 0], segs[:, 2]) - pad,
                       np.minimum(segs[:, 1], segs[:, 3]) - pad, res)
    gx1, gy1 = C.xy_np(np.maximum(segs[:, 0], segs[:, 2]) + pad,
                       np.maximum(segs[:, 1], segs[:, 3]) + pad, res)
    nx, ny = gx1 - gx0 + 1, gy1 - gy0 + 1
    span = nx * ny
    seg = np.repeat(np.arange(len(segs)), span)
    k = np.arange(len(seg)) - np.repeat(np.cumsum(span) - span, span)
    spanned = pd.DataFrame({
        "poly": seg_poly[seg],
        "cell": C.cell_from_xy(gx0[seg] + k % nx[seg], gy0[seg] + k // nx[seg], res),
        "seg": seg})
    nodes = pd.DataFrame({"poly": node_poly, "cell": node_cell,
                          "node": np.arange(len(node_poly))})
    pairs = spanned.merge(nodes, on=["poly", "cell"])
    return pairs["node"].to_numpy(), pairs["seg"].to_numpy()


def _split_nodes(nodes, pn, ps, segs, depth, w, h):
    """Quadtree descent, vectorized per level.  ``nodes`` = (poly, cell,
    lx0, ly0) arrays of the partial cells, ``pn, ps`` their candidate
    (node, segment) pairs.  Returns the finished nodes (poly, cell, lx0,
    ly0, size) and their clipped (node, segment) pairs sorted by node."""
    poly, cell, lx0, ly0 = nodes
    done_nodes, done_pairs, n_done = [], [], 0
    for level in range(depth + 1):
        size = 1 << (depth - level)
        hit = _clip(segs[ps], -180.0 + lx0[pn] * w, -90.0 + ly0[pn] * h,
                    -180.0 + (lx0[pn] + size) * w, -90.0 + (ly0[pn] + size) * h)
        pn, ps = pn[hit], ps[hit]
        cnt = np.bincount(pn, minlength=len(lx0))
        done = (cnt <= LEAF_K) | (level == depth)
        idx = np.nonzero(done)[0]
        on = done[pn]
        done_nodes.append((poly[idx], cell[idx], lx0[idx], ly0[idx],
                           np.full(len(idx), size, dtype=np.int64)))
        done_pairs.append((n_done + (np.cumsum(done) - 1)[pn[on]], ps[on]))
        n_done += len(idx)
        split = np.nonzero(~done)[0]
        if not len(split):
            break
        # four children per split node (child 4r+q of the r-th split
        # node); its pairs go to every child, clipped next level
        q = np.tile(np.arange(4), len(split))
        half = size // 2
        poly, cell = np.repeat(poly[split], 4), np.repeat(cell[split], 4)
        lx0 = np.repeat(lx0[split], 4) + (q & 1) * half
        ly0 = np.repeat(ly0[split], 4) + (q >> 1) * half
        rank = np.cumsum(~done) - 1
        pn = 4 * np.repeat(rank[pn[~on]], 4) + np.tile(np.arange(4), (~on).sum())
        ps = np.repeat(ps[~on], 4)
    pn = np.concatenate([p for p, _ in done_pairs])
    ps = np.concatenate([s for _, s in done_pairs])
    order = np.argsort(pn, kind="stable")
    return [np.concatenate(c) for c in zip(*done_nodes)], pn[order], ps[order]


def _reference_points(x0, y0, sw, sh, pn, ps, segs):
    """Per leaf (x0, y0, width sw, height sh; clipped pairs ``pn, ps``
    sorted by leaf): the first ``_REF_CANDIDATES`` point clear of every
    clipped edge, or the farthest one if none is (only possible past
    ``LEAF_K`` edges)."""
    cnt = np.bincount(pn, minlength=len(x0))
    has = cnt > 0
    starts = (np.cumsum(cnt) - cnt)[has]
    fx, fy = _REF_CANDIDATES[:, 0], _REF_CANDIDATES[:, 1]
    clearance = np.full((len(x0), len(fx)), np.inf)
    for c in range(len(fx) if len(pn) else 0):
        d2 = _dist2(x0[pn] + fx[c] * sw[pn], y0[pn] + fy[c] * sh[pn], segs[ps])
        clearance[has, c] = np.minimum.reduceat(d2, starts)
    clear = clearance > _LEAF_MARGIN ** 2
    pick = np.where(clear.any(axis=1), clear.argmax(axis=1),
                    clearance.argmax(axis=1))
    return x0 + fx[pick] * sw, y0 + fy[pick] * sh


def leaf_cover(polygons: list[dict], res: int) -> pd.DataFrame:
    """Full cells plus quadtree leaves of the partial cells (``LEAF_SCHEMA``).

    ``full`` rows are exactly ``polygon_cell_cover``'s.  Every partial
    (cell, polygon) starts as one node covering its cell; a node whose
    widened rectangle touches more than ``LEAF_K`` edges splits into
    four, level by level, down to ``leaf_depth(res)`` levels.  A
    finished node is a row whose integer range ``lx0..lx1, ly0..ly1`` is
    at resolution ``res + leaf_depth(res)``:

    * ``LEAF`` — ≤ ``LEAF_K`` clipped edges as NaN-padded ``e{j}_*``
      columns; a leaf with none is kept only if it lies inside;
    * ``WIDE`` — still over ``LEAF_K`` edges at the last level, the
      edges carried as an ``edges`` array for the aggregate() path.

    ``rx, ry`` is a reference point inside the leaf at least
    ``_LEAF_MARGIN`` from every clipped edge (the centre unless an edge
    passes through it) and ``ref_inside`` its polygon parity.  A point
    with the leaf's grid index is inside iff ``ref_inside`` flips once
    per clipped edge crossing the segment reference → point.
    """
    depth = leaf_depth(res)
    w = 360.0 / (1 << (res + depth))
    h = 180.0 / (1 << (res + depth))
    cover = polygon_cell_cover(
        [{**p, "fid": i} for i, p in enumerate(polygons)], res)
    full = cover[cover["full"]]
    part = cover[~cover["full"]]
    node_poly, node_cell = part["fid"].to_numpy(), part["cell"].to_numpy()
    _, ix, iy = C.cell_decode_np(node_cell)
    segs, seg_poly = _all_segments(polygons)
    pn, ps = _level0_pairs(segs, seg_poly, node_poly, node_cell, res)
    (poly, cell, lx0, ly0, size), pn, ps = _split_nodes(
        (node_poly, node_cell, ix << depth, iy << depth), pn, ps, segs,
        depth, w, h)

    x0, y0 = -180.0 + lx0 * w, -90.0 + ly0 * h
    rx, ry = _reference_points(x0, y0, size * w, size * h, pn, ps, segs)
    ref_inside = np.zeros(len(poly), dtype=bool)
    by_poly = np.argsort(poly, kind="stable")
    for grp in np.split(by_poly, np.flatnonzero(np.diff(poly[by_poly])) + 1):
        if len(grp):
            p = polygons[poly[grp[0]]]
            ref_inside[grp] = G.point_in_polygon_chunked(
                rx[grp], ry[grp], p["coords"], p["ends"])

    cnt = np.bincount(pn, minlength=len(poly))
    starts = np.cumsum(cnt) - cnt
    narrow = cnt[pn] <= LEAF_K
    slot = np.arange(len(pn)) - starts[pn]
    e = np.full((len(poly), 4 * LEAF_K), np.nan)
    for c in range(4):
        e[pn[narrow], 4 * slot[narrow] + c] = segs[ps[narrow], c]
    wide = cnt > LEAF_K
    edges = np.full(len(poly), None, dtype=object)
    for i in np.nonzero(wide)[0]:
        edges[i] = segs[ps[starts[i]:starts[i] + cnt[i]]].tolist()

    keep = (cnt > 0) | ref_inside
    n_full = len(full)

    def rows(full_value, leaf_values):
        return np.concatenate([np.full(n_full, full_value,
                                       dtype=np.asarray(leaf_values).dtype),
                               leaf_values[keep]])

    fids = np.array([p["fid"] for p in polygons], dtype=np.int64)
    out = {"cell": np.concatenate([full["cell"].to_numpy(), cell[keep]]),
           "polygon_fid": fids[np.concatenate([full["fid"].to_numpy(),
                                               poly[keep]])],
           "kind": rows(FULL, np.where(wide, WIDE, LEAF).astype(np.int32)),
           "lx0": rows(0, lx0), "lx1": rows(0, lx0 + size - 1),
           "ly0": rows(0, ly0), "ly1": rows(0, ly0 + size - 1),
           "rx": rows(np.nan, rx), "ry": rows(np.nan, ry),
           "ref_inside": rows(True, ref_inside)}
    for j, name in enumerate(EDGE_COLS):
        out[name] = rows(np.nan, e[:, j])
    out["edges"] = rows(None, edges)
    return pd.DataFrame(out)


def _crossing_filter_sql(lon_col: str, lat_col: str) -> str:
    """JVM point-in-polygon refinement as a single SQL predicate.

    A point is inside iff the reference parity (``ref_inside`` at the
    reference ``rx, ry``) flips once per polygon-boundary crossing along
    the segment reference→point.  The segment lies inside the cell (or
    leaf), so only its clipped ``edges`` can cross it; the crossing test
    is the standard double-orientation segment intersection with a
    half-open sign rule (``d > 0`` vs ``d <= 0``), so a polygon vertex
    lying exactly on the reference→point segment — common with
    round-number grids — still counts exactly one crossing per true
    boundary pass.

    Runs via ``aggregate()`` over the broadcast edge array: JVM, no
    Python worker.  NOTE: higher-order functions are interpreted (not
    codegen'd) and allocation-heavy; it serves the rare leaves still
    over ``LEAF_K`` edges at the last quadtree level, and the
    rasterizer's cells over its unroll width.
    """
    p, q = lon_col, lat_col
    # orient(a,b,c) = (bx-ax)(cy-ay) - (by-ay)(cx-ax); e = [x1,y1,x2,y2]
    d1 = f"((e[2]-e[0])*(ry-e[1]) - (e[3]-e[1])*(rx-e[0]))"
    d2 = f"((e[2]-e[0])*({q}-e[1]) - (e[3]-e[1])*({p}-e[0]))"
    d3 = f"(({p}-rx)*(e[1]-ry) - ({q}-ry)*(e[0]-rx))"
    d4 = f"(({p}-rx)*(e[3]-ry) - ({q}-ry)*(e[2]-rx))"
    crossings = (f"aggregate(edges, 0L, (acc, e) -> acc + "
                 f"IF(({d1} > 0) != ({d2} > 0) AND ({d3} > 0) != ({d4} > 0), 1L, 0L))")
    return f"(ref_inside != (pmod({crossings}, 2) = 1))"


def _crossing_filter_unrolled_sql(lon_col: str, lat_col: str, k: int) -> str:
    """Crossing-parity predicate over ``k`` scalar edge columns
    (e{j}_ax..e{j}_by, NaN-padded) — statically unrolled: no array
    access, no lambda, no per-row allocation.  NaN padding contributes
    zero crossings because Spark SQL orders NaN greater than every
    number, so BOTH sides of each ``(d > 0) != (d > 0)`` evaluate TRUE
    and the inequality is false (do NOT rewrite as a mixed AND/NOT form
    — that would count phantom crossings on the NaN rows); the half-open
    sign rule keeps vertex-on-segment degeneracies exact.

    Width matters (Spark 4.1.2, 4 cores).  The spatial join uses k = 4
    (``LEAF_K``): the predicate lands in the BroadcastHashJoin condition
    and the join stays in whole-stage codegen.  A codegen'd condition
    of 8-16 terms compiles to a method too large for the JIT (2.5-4.0 s
    against 0.54 s at k = 4 on 4M points); at 24 terms the 101-column
    build side passed ``spark.sql.codegen.maxFields`` (100) and the join
    ran outside codegen.  The rasterizer's tiered 6/24 use is a
    different context (a Filter over an exploded pixel stage).
    """
    p, q = lon_col, lat_col
    terms = []
    for j in range(k):
        ax, ay, bx, by = (f"e{j}_ax", f"e{j}_ay", f"e{j}_bx", f"e{j}_by")
        d1 = f"(({bx}-{ax})*(ry-{ay}) - ({by}-{ay})*(rx-{ax}))"
        d2 = f"(({bx}-{ax})*({q}-{ay}) - ({by}-{ay})*({p}-{ax}))"
        d3 = f"(({p}-rx)*({ay}-ry) - ({q}-ry)*({ax}-rx))"
        d4 = f"(({p}-rx)*({by}-ry) - ({q}-ry)*({bx}-rx))"
        terms.append(f"IF(({d1} > 0) != ({d2} > 0) AND ({d3} > 0) != ({d4} > 0), 1L, 0L)")
    return f"(ref_inside != (pmod({' + '.join(terms)}, 2) = 1))"


def _unpersist(table: DataFrame) -> None:
    if table.sparkSession.sparkContext._jsc is not None:   # session still up
        table.unpersist()


class PreparedCover:
    """Session-lifetime cover artifact: one leaf-cover table
    (``LEAF_SCHEMA``) built once and reused across joins, like any
    index.  Three projections of it feed the join:

    * ``full`` — (cell, polygon_fid) of cells entirely inside;
    * ``narrow`` — the leaves (≤ ``LEAF_K`` edges as scalar columns);
    * ``wide`` — leaves still over ``LEAF_K`` edges, or None if there
      are none (the usual case).

    ``broadcast`` decides the join strategy downstream: True (small
    cover) broadcasts every side; False leaves Catalyst to shuffle both
    sides on ``cell`` — the right key when the polygon corpus is too big
    to broadcast.
    """

    broadcast: bool = True
    _release = None   # from_features covers: releases the cached table

    @classmethod
    def from_features(cls, features: DataFrame, res: int,
                      max_broadcast_rows: int = 4_000_000) -> "PreparedCover":
        """Build the cover DISTRIBUTED from a ``features`` DataFrame —
        no driver-side collect, no serial cover loop (VERDICT r1 #3).

        The build runs once here (cached and counted per row kind); the
        cache is released when the cover is dropped or ``unpersist()``
        is called, so rebuilding a cover does not pile up cached tables.
        Covers of more than ``max_broadcast_rows`` rows (full plus leaf
        rows) flip the downstream joins to shuffle-on-cell.
        """
        self = cls.__new__(cls)
        # Spark shares one cache entry between equal plans; tagging the
        # plan with this cover's id() keeps the entry its own, so
        # releasing another cover built from the same features leaves
        # this one cached
        table = (leaf_cover_df(features, res)
                 .withColumn("build", F.lit(id(self))).cache())
        self._release = weakref.finalize(self, _unpersist, table)
        self._release.atexit = False
        kinds = dict(table.groupBy("kind").count().collect())
        self._split(table, res, kinds)
        self.broadcast = sum(kinds.values()) <= max_broadcast_rows
        return self

    def __init__(self, spark: SparkSession, polygons: list[dict], res: int):
        pdf = leaf_cover(polygons, res)
        self._split(spark.createDataFrame(pdf, schema=LEAF_SCHEMA), res,
                    pdf["kind"].value_counts().to_dict())

    def _split(self, table: DataFrame, res: int, kinds: dict) -> None:
        self.res = res
        self.full = table.where(f"kind = {FULL}").select("cell", "polygon_fid")
        self.narrow = (table.where(f"kind = {LEAF}")
                       .select("cell", "polygon_fid", *_LEAF_AUX, *EDGE_COLS)
                       if kinds.get(LEAF) else None)
        self.wide = (table.where(f"kind = {WIDE}")
                     .select("cell", "polygon_fid", *_LEAF_AUX, "edges")
                     if kinds.get(WIDE) else None)

    def unpersist(self) -> None:
        """Release the cached cover table now (from_features covers)."""
        if self._release is not None:
            self._release()


def spatial_join_prepared(points: DataFrame, prepared: PreparedCover,
                          lon_col: str = "lon", lat_col: str = "lat",
                          keep_cols: list[str] | None = None) -> DataFrame:
    """JVM spatial join against a PreparedCover (see spatial_join).

    Full cells join on ``cell`` alone.  Leaves join on ``cell`` and keep
    the pair when the point's grid index at ``res + leaf_depth(res)``
    falls in the leaf's range and the crossing-parity test passes.
    Both grid indices floor the same scaled value, so a point's cell
    and its leaf index always agree.

    Small covers broadcast (no shuffle of the point side at all); covers
    past the broadcast threshold join plain — Catalyst shuffles both
    sides on ``cell``, the correct co-location key for a huge polygon
    corpus."""
    side = F.broadcast if prepared.broadcast else (lambda df: df)
    res = prepared.res
    pts = points.withColumn("cell", F.expr(C.cell_sql(lon_col, lat_col, res)))
    out = pts.join(side(prepared.full), "cell")
    fine = (pts.withColumn("gx", F.expr(C.ix_sql(lon_col, res + leaf_depth(res))))
            .withColumn("gy", F.expr(C.iy_sql(lat_col, res + leaf_depth(res)))))
    in_leaf = "gx BETWEEN lx0 AND lx1 AND gy BETWEEN ly0 AND ly1"
    for leaves, crossing, payload in (
            (prepared.narrow,
             _crossing_filter_unrolled_sql(lon_col, lat_col, LEAF_K), EDGE_COLS),
            (prepared.wide, _crossing_filter_sql(lon_col, lat_col), ["edges"])):
        if leaves is None:
            continue
        refined = (fine.join(side(leaves), "cell")
                   .where(F.expr(f"{in_leaf} AND {crossing}"))
                   .drop("gx", "gy", *_LEAF_AUX, *payload))
        out = out.unionByName(refined)
    if keep_cols is not None:
        out = out.select(*keep_cols)
    return out


def spatial_join(spark: SparkSession, points: DataFrame, polygons: list[dict],
                 res: int, lon_col: str = "lon", lat_col: str = "lat",
                 keep_cols: list[str] | None = None) -> DataFrame:
    """points ⋈ polygons → rows (point cols..., polygon_fid).

    Implements E6: broadcast cell-cover equi-join + E5 PIP refinement on
    partial cells only.  Builds a driver-side ``PreparedCover`` and
    joins against it (:func:`spatial_join_prepared`) — the entire join
    is Python-free.  :func:`spatial_join_bruteforce` is its test oracle.
    """
    return spatial_join_prepared(points, PreparedCover(spark, polygons, res),
                                 lon_col, lat_col, keep_cols)


def spatial_join_bruteforce(points_pdf: pd.DataFrame, polygons: list[dict],
                            lon_col: str = "lon", lat_col: str = "lat") -> pd.DataFrame:
    """Tiny-scale PIP oracle (SURVEY.md §5): every point against every
    polygon, pure numpy — used by tests to validate the cell-cover path."""
    rows = []
    px = points_pdf[lon_col].to_numpy()
    py = points_pdf[lat_col].to_numpy()
    for poly in polygons:
        inside = G.point_in_polygon_chunked(px, py, poly["coords"], poly["ends"])
        sub = points_pdf[inside].copy()
        sub["polygon_fid"] = poly["fid"]
        rows.append(sub)
    if not rows:
        return points_pdf.iloc[0:0].assign(polygon_fid=np.int64(0))
    return pd.concat(rows, ignore_index=True)
