"""Output checks, kept free of Spark so they can be tested on their own.

* ``compare_counts`` — a per-polygon count table must repeat exactly
  from one iteration to the next.
* ``audit_join`` — the sampled exact audit: for k seeded points the
  join's (idx, polygon_fid) rows must equal a brute-force
  point-in-polygon answer (``spatial_join_bruteforce``) with no
  mismatch.  Brute force only visits polygons whose bbox contains the
  point, which keeps it O(k * edges of nearby polygons).
* ``compare_frames`` — registry rows against the DuckDB oracle, as an
  order-insensitive exact comparison.
"""

from __future__ import annotations

import numpy as np
import pandas as pd


def compare_counts(got: dict[int, int], want: dict[int, int]) -> list[str]:
    """Problems between two {polygon_fid: rows} tables (empty when equal)."""
    problems = []
    if sum(got.values()) != sum(want.values()):
        problems.append(f"join total {sum(got.values())} != {sum(want.values())}")
    diff = sorted(k for k in set(got) | set(want) if got.get(k) != want.get(k))
    if diff:
        k = diff[0]
        problems.append(f"{len(diff)} polygons differ, first fid {k}: "
                        f"{got.get(k)} != {want.get(k)}")
    return problems


def brute_force_pairs(points: pd.DataFrame, polygons: list[dict]) -> pd.DataFrame:
    """(idx, polygon_fid) of every point inside every polygon, by brute
    force restricted to polygons whose bbox contains the point."""
    from go_shapefile_spark.operators.spatial_join import spatial_join_bruteforce

    px = points["lon"].to_numpy()
    py = points["lat"].to_numpy()
    order = np.argsort(px, kind="stable")
    sx = px[order]
    parts = []
    for poly in polygons:
        xy = np.asarray(poly["coords"], dtype=np.float64)
        x0, x1 = xy[0::2].min(), xy[0::2].max()
        y0, y1 = xy[1::2].min(), xy[1::2].max()
        lo = np.searchsorted(sx, x0, side="left")
        hi = np.searchsorted(sx, x1, side="right")
        cand = order[lo:hi]
        cand = cand[(py[cand] >= y0) & (py[cand] <= y1)]
        if len(cand):
            hit = spatial_join_bruteforce(points.iloc[np.sort(cand)], [poly])
            parts.append(hit[["idx", "polygon_fid"]])
    if not parts:
        return pd.DataFrame({"idx": np.array([], dtype=np.int64),
                             "polygon_fid": np.array([], dtype=np.int64)})
    return pd.concat(parts, ignore_index=True)


def audit_join(joined: pd.DataFrame, points: pd.DataFrame,
               polygons: list[dict]) -> list[str]:
    """Problems between the join's rows for the sampled ``points`` and
    the brute-force answer (empty when they agree exactly)."""
    want = brute_force_pairs(points, polygons)
    key = ["idx", "polygon_fid"]
    g = joined[key].astype(np.int64).sort_values(key).reset_index(drop=True)
    w = want[key].astype(np.int64).sort_values(key).reset_index(drop=True)
    if g.equals(w):
        return []
    merged = g.merge(w, how="outer", on=key, indicator=True)
    extra = merged[merged["_merge"] == "left_only"]
    missing = merged[merged["_merge"] == "right_only"]
    problems = [f"audit: {len(g)} join rows vs {len(w)} brute-force rows"]
    if len(extra):
        problems.append(f"audit: {len(extra)} rows not in brute force, first "
                        f"{tuple(extra.iloc[0][key])}")
    if len(missing):
        problems.append(f"audit: {len(missing)} brute-force rows missing, first "
                        f"{tuple(missing.iloc[0][key])}")
    if len(g) != len(g.drop_duplicates()):
        problems.append("audit: duplicate join rows")
    return problems


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def frame_digest(df: pd.DataFrame) -> str:
    """Order-insensitive digest of a result table."""
    import hashlib

    text = _normalize(df).to_csv(index=False, float_format="%.17g")
    return hashlib.sha256(text.encode()).hexdigest()[:24]


def compare_frames(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Exact order-insensitive comparison of two result tables."""
    if sorted(got.columns) != sorted(want.columns):
        return [f"columns {sorted(got.columns)} != {sorted(want.columns)}"]
    if len(got) != len(want):
        return [f"row count {len(got)} != oracle {len(want)}"]
    g, w = _normalize(got), _normalize(want)
    problems = []
    for c in g.columns:
        gv, wv = g[c].to_numpy(), w[c].to_numpy()
        if gv.dtype.kind == "f" or wv.dtype.kind == "f":
            a, b = gv.astype(np.float64), wv.astype(np.float64)
            bad = ~((a == b) | (np.isnan(a) & np.isnan(b)))
        else:
            bad = g[c].astype(str).to_numpy() != w[c].astype(str).to_numpy()
        if bad.any():
            i = int(np.argmax(bad))
            problems.append(f"column {c}: {int(bad.sum())} mismatches, first "
                            f"{gv[i]!r} != {wv[i]!r}")
    return problems
