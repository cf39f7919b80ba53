"""Seeded benchmark inputs (series tag ``polygons: synthetic-v1``).

Everything here is a pure function of ``seed`` and a size: the same
seed always writes byte-identical files.  Nothing reads a reference
corpus, so the benchmark runs on any host.

* ``country_polygons`` — about 180 smooth country-like polygons, one per
  slot of an 18 x 10 world grid: a low-frequency radius function, 64
  vertices per ring, some multipart features and some holes.
* ``parcel_polygons`` — small 24-vertex parcels packed on a jittered
  lattice inside a few dense clusters (non-overlapping).
* ``write_registry_tables`` — ``events`` and ``documents`` parquet
  tables with the schema and value distributions of the sf tables the
  registry queries read.

Polygon shape is part of the workload definition: spiky polygons make
the same join several times slower, so a ``synthetic-v1`` figure is
never compared with an ``ne_110m`` one.
"""

from __future__ import annotations

import os

import numpy as np

SERIES = "synthetic-v1"
RING_VERTS = 64
PARCEL_VERTS = 24

COUNTRY_FIELDS = [("NAME", "C", 16), ("ISO", "C", 3), ("POP", "N", 10)]
PARCEL_FIELDS = [("PARCEL", "N", 9), ("ZONE", "C", 4), ("AREA", "N", 12, 6)]


def _ring(cx: float, cy: float, radius: np.ndarray, clockwise: bool) -> np.ndarray:
    """Closed ring (flat x,y) around (cx, cy) with per-vertex radius."""
    k = len(radius)
    theta = 2 * np.pi * np.arange(k) / k
    if clockwise:
        theta = -theta
    x = cx + radius * np.cos(theta)
    y = cy + radius * np.sin(theta)
    xy = np.empty(2 * (k + 1))
    xy[0:-2:2], xy[1:-2:2] = x, y
    xy[-2], xy[-1] = x[0], y[0]
    return xy


def _smooth_radius(rng: np.random.Generator, base: float, k: int) -> np.ndarray:
    """base * (1 + low-frequency wobble): harmonics 2..4, total amplitude
    under 0.25, so the ring is star-shaped and never self-intersects."""
    theta = 2 * np.pi * np.arange(k) / k
    r = np.ones(k)
    for h in (2, 3, 4):
        r += rng.uniform(0, 0.2 / h) * np.cos(h * theta + rng.uniform(0, 2 * np.pi))
    return base * r


def _polygon(fid: int, rings: list[np.ndarray]) -> dict:
    coords = np.concatenate(rings)
    ends = np.cumsum([len(r) for r in rings]).tolist()
    return {"fid": fid, "coords": coords, "ends": ends}


def country_polygons(seed: int) -> tuple[list[dict], list[list]]:
    """180 country-like features plus their DBF rows.  Feature ``fid``s
    are shapefile record numbers (1..180), as the reader reports them.

    Slot (i, j) of an 18 x 10 grid of 20 x 18 degree cells holds one
    feature whose extent stays inside the slot, so features never
    overlap.  About 15% are two-part (a main body and an island) and
    about 10% have a hole.
    """
    rng = np.random.default_rng([seed, 1])
    polys, rows = [], []
    for fid in range(180):
        i, j = fid % 18, fid // 18
        cx = -170.0 + 20.0 * i + rng.uniform(-1.0, 1.0)
        cy = -81.0 + 18.0 * j + rng.uniform(-1.0, 1.0)
        base = rng.uniform(3.5, 6.5)
        kind = rng.uniform()
        if kind < 0.15:
            # the island sits east or west of the body with a gap wider
            # than a res-8 cell, so no cell clips both rings
            base = min(base, 5.0)
            main = _ring(cx, cy, _smooth_radius(rng, 0.5 * base, RING_VERTS), True)
            ang = rng.uniform(-0.35, 0.35) + np.pi * rng.integers(0, 2)
            d = 1.04 * base + 1.6
            ix, iy = cx + d * np.cos(ang), cy + d * np.sin(ang)
            island = _ring(ix, iy, _smooth_radius(rng, 0.35 * base, RING_VERTS), True)
            rings = [main, island]
        elif kind < 0.25:
            outer = _ring(cx, cy, _smooth_radius(rng, base, RING_VERTS), True)
            hole = _ring(cx, cy, _smooth_radius(rng, 0.3 * base, RING_VERTS), False)
            rings = [outer, hole]
        else:
            rings = [_ring(cx, cy, _smooth_radius(rng, base, RING_VERTS), True)]
        polys.append(_polygon(fid + 1, rings))
        rows.append([f"country{fid:03d}", f"{fid:03d}",
                     int(rng.integers(1_000, 100_000_000))])
    return polys, rows


def parcel_polygons(seed: int, n: int, clusters: int = 40,
                    spacing: float = 0.25) -> tuple[list[dict], list[list]]:
    """``n`` parcels (record numbers 1..n) with 24 vertices each, plus
    their DBF rows.

    Parcels sit on a lattice of ``spacing``-degree slots around
    ``clusters`` seeded centres (dense near each centre, the way
    parcels crowd into towns) with a radius under half a slot, so
    parcels never overlap.
    """
    rng = np.random.default_rng([seed, 2])
    centres = np.column_stack([rng.uniform(-160, 160, clusters),
                               rng.uniform(-55, 65, clusters)])
    per = np.full(clusters, n // clusters)
    per[: n % clusters] += 1
    polys, rows = [], []
    fid = 0
    for (cx, cy), m in zip(centres, per):
        side = int(np.ceil(np.sqrt(m / 0.6)))   # lattice with some empty slots
        slots = rng.permutation(side * side)[:m]
        for s in np.sort(slots):
            px = cx + spacing * (s % side - side / 2)
            py = cy + spacing * (s // side - side / 2)
            base = rng.uniform(0.2, 0.4) * spacing
            ring = _ring(px, py, _smooth_radius(rng, base, PARCEL_VERTS), True)
            polys.append(_polygon(fid + 1, [ring]))
            rows.append([fid + 1, f"Z{int(rng.integers(0, 9))}",
                         round(float(np.pi * base * base), 6)])
            fid += 1
    return polys, rows


def write_polygon_set(basename: str, polys: list[dict], fields: list[tuple],
                      rows: list[list]) -> None:
    """.shp/.shx/.dbf through the package's own shapefile writer."""
    from go_shapefile_spark.sources.shapefile_writer import write_polygons

    os.makedirs(os.path.dirname(basename), exist_ok=True)
    write_polygons(basename, polys, fields, rows)


WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
EVENT_TYPES = ("signup", "purchase", "view", "click", "error")


def write_registry_tables(directory: str, seed: int, n_events: int,
                          n_docs: int, n_users: int) -> None:
    """``events`` and ``documents`` parquet tables for the registry mix.

    Same schema and distributions as the sf tables: events spread over
    30 days with uniform users and types, documents of 10-100 words
    from a 30-word vocabulary with 5% planted near-duplicates (a copy of
    another document plus the word ``dup``).  ``event_id`` starts at a
    seed-dependent offset, so the md5 geotags differ per seed too.
    """
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 3])
    os.makedirs(directory, exist_ok=True)
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400_000_000, n_events))
    events = pd.DataFrame({
        "event_id": np.arange(n_events, dtype=np.int64) + (seed % 1000) * 1_000_000,
        "ts": start + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_events).astype(np.int64),
        "event_type": np.asarray(EVENT_TYPES, dtype=object)[
            rng.integers(0, len(EVENT_TYPES), n_events)],
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    texts = [" ".join(np.asarray(WORDS)[rng.integers(0, len(WORDS), rng.integers(10, 101))])
             for _ in range(n_docs)]
    for d in rng.choice(n_docs, n_docs // 20, replace=False):
        texts[d] = texts[int(rng.integers(0, n_docs))] + " dup"
    docs = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.asarray(["en", "en", "zh", "es", "fr", "de"], dtype=object)[
            rng.integers(0, 6, n_docs)],
        "source": [f"src{k}" for k in rng.integers(0, 20, n_docs)],
        "n_chars": np.asarray([len(t) for t in texts], dtype=np.int64),
    })
    for name, df in (("events", events), ("documents", docs)):
        pq.write_table(pa.Table.from_pandas(df, preserve_index=False),
                       os.path.join(directory, f"{name}.parquet"))
