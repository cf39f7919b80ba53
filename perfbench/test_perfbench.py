"""The benchmark's own tests (no Spark session needed).

Run from the root of the repository:

    python -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import filecmp
import json
import os
import sys
from types import SimpleNamespace

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import checks  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402


def _write_sets(directory: str, seed: int) -> list[str]:
    countries, rows = inputs.country_polygons(seed)
    inputs.write_polygon_set(os.path.join(directory, "countries"), countries,
                             inputs.COUNTRY_FIELDS, rows)
    parcels, rows = inputs.parcel_polygons(seed, 300)
    inputs.write_polygon_set(os.path.join(directory, "parcels"), parcels,
                             inputs.PARCEL_FIELDS, rows)
    return [f"{base}.{ext}" for base in ("countries", "parcels")
            for ext in ("shp", "shx", "dbf")]


def test_same_seed_gives_byte_identical_files(tmp_path):
    names = _write_sets(str(tmp_path / "a"), 7)
    _write_sets(str(tmp_path / "b"), 7)
    _write_sets(str(tmp_path / "c"), 8)
    for name in names:
        assert filecmp.cmp(tmp_path / "a" / name, tmp_path / "b" / name, shallow=False), name
    assert not filecmp.cmp(tmp_path / "a" / "countries.shp",
                           tmp_path / "c" / "countries.shp", shallow=False)


def test_country_set_has_multipart_features_and_holes():
    polys, _ = inputs.country_polygons(3)
    assert len(polys) == 180
    assert [p["fid"] for p in polys] == list(range(1, 181))
    two_ring = [p for p in polys if len(p["ends"]) == 2]
    assert 10 < len(two_ring) < 80
    for p in polys:
        assert len(p["coords"]) == 2 * (inputs.RING_VERTS + 1) * len(p["ends"])


def test_registry_tables_are_seeded(tmp_path):
    for d, seed in (("a", 5), ("b", 5)):
        inputs.write_registry_tables(str(tmp_path / d), seed, 200, 40, 10)
    for t in ("events", "documents"):
        a = pd.read_parquet(tmp_path / "a" / f"{t}.parquet")
        b = pd.read_parquet(tmp_path / "b" / f"{t}.parquet")
        pd.testing.assert_frame_equal(a, b)


@pytest.fixture(scope="module")
def audited():
    """Seeded points, the country polygons and their exact join rows."""
    polys, _ = inputs.country_polygons(11)
    rng = np.random.default_rng(0)
    pts = pd.DataFrame({"idx": np.arange(20_000, dtype=np.int64),
                        "lon": rng.uniform(-180, 180, 20_000),
                        "lat": rng.uniform(-90, 90, 20_000)})
    joined = checks.brute_force_pairs(pts, polys)
    assert len(joined) > 1000
    return pts, polys, joined


def test_audit_accepts_the_exact_answer(audited):
    pts, polys, joined = audited
    assert checks.audit_join(joined.sample(frac=1, random_state=1), pts, polys) == []


def test_audit_fails_on_a_dropped_row(audited):
    pts, polys, joined = audited
    assert checks.audit_join(joined.drop(joined.index[5]), pts, polys)


def test_audit_fails_on_a_changed_polygon_fid(audited):
    pts, polys, joined = audited
    bad = joined.copy()
    bad.loc[bad.index[5], "polygon_fid"] += 1
    assert checks.audit_join(bad, pts, polys)


def test_count_check_fails_on_a_dropped_row_or_changed_fid(audited):
    _, _, joined = audited
    want = joined.groupby("polygon_fid").size().to_dict()
    assert checks.compare_counts(dict(want), want) == []
    dropped = joined.drop(joined.index[5]).groupby("polygon_fid").size().to_dict()
    assert checks.compare_counts(dropped, want)
    moved = joined.copy()
    moved.loc[moved.index[5], "polygon_fid"] += 1
    assert checks.compare_counts(moved.groupby("polygon_fid").size().to_dict(), want)


def test_frame_check_fails_on_a_dropped_row_or_changed_value():
    want = pd.DataFrame({"doc_id": [1, 2, 3], "component": [1, 1, 3]})
    assert checks.compare_frames(want.iloc[::-1], want) == []
    assert checks.compare_frames(want.iloc[:2], want)
    changed = want.copy()
    changed.loc[2, "component"] = 2
    assert checks.compare_frames(changed, want)
    assert checks.frame_digest(changed) != checks.frame_digest(want)
    assert checks.frame_digest(want.iloc[::-1]) == checks.frame_digest(want)


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_every_end_to_end_metric_is_printed_with_unit_and_direction(capsys):
    spec = _spec()
    metrics = run.end_to_end_metrics(1000, [2.0, 1.0, 3.0], 5.0, 100.0)
    out = run.emit(spec["end_to_end"], metrics)
    text = capsys.readouterr().out
    assert set(out) == {m["name"] for m in spec["end_to_end"]}
    for m in spec["end_to_end"]:
        assert f"metric {m['name']} = " in text
        assert f" {m['unit']} ({m['better']} is better)" in text
    assert out["input_rows_per_s"]["value"] == 1000 / 2.0


def test_every_per_layer_metric_is_printed_with_unit_and_direction(capsys):
    spec = _spec()
    assert spec["per_layer"] == run.layer_spec()
    empty = SimpleNamespace(by_name=lambda name: [])
    metrics = run.layer_metrics(SimpleNamespace(), empty, 7.5, [], [], [])
    run.emit(spec["per_layer"], metrics)
    text = capsys.readouterr().out
    for m in spec["per_layer"]:
        assert f"metric {m['name']} = " in text
        assert f" {m['unit']} ({m['better']} is better)" in text
    assert metrics["session.start.wall_s"] == 7.5
