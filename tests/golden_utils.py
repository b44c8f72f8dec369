"""Golden-tile fixture loading + comparison semantics.

Ports the comparison semantics of ``/root/reference/test/util.cpp``:

- tile maps compared on exact key sets (``util.cpp:100-120``),
- per-tile feature count AND order (``util.cpp:88-98``),
- properties ("tags") with numeric type coercion — int64/uint64/double are
  equal when double-equal (``util.cpp:41-61``),
- ids compared exactly with type (string vs uint64; ``util.cpp:171-178``).

The reference's geometry comparison is ``EXPECT_EQ(typeid(a.geometry),
typeid(b.geometry))`` on the *variant* static type (``util.cpp:81``) — a
no-op. We additionally support exact int16 geometry comparison (strict mode)
since the goldens encode full coordinates; strictness is configurable per
fixture in case a golden was generated by the JS implementation with
divergent float behavior.
"""

from __future__ import annotations

import json
import os

REF_FIXTURES = "/root/reference/test/fixtures"
# copies the repository ships (fixtures/us-states.json, countries.geojson),
# so tests on them run without the reference checkout
REPO_FIXTURES = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "fixtures"
)


def load_fixture(name: str) -> str:
    """Fixture ``name`` from the in-repo copy if there is one, else from the
    reference checkout."""
    path = os.path.join(REPO_FIXTURES, name)
    if not os.path.exists(path):
        path = os.path.join(REF_FIXTURES, name)
    with open(path) as f:
        return f.read()


# A small dateline-crossing FeatureCollection, for tests that need wrap
# copies without the reference checkout: a polygon and a line spanning
# 170°E -> 190°E (past the antimeridian), and a point past -180°. The
# polygon's long edges carry 60 vertices each, so its points push the
# us-states z1 leaf (1, 1, 0) past index_max_points=100.
DATELINE_GEOJSON = json.dumps(
    {
        "type": "FeatureCollection",
        "features": [
            {
                "type": "Feature",
                "id": "dl-polygon",
                "properties": {"name": "dateline polygon"},
                "geometry": {
                    "type": "Polygon",
                    "coordinates": [
                        [[170 + i / 3, 50] for i in range(60)]
                        + [[190 - i / 3, 56] for i in range(60)]
                        + [[170, 50]]
                    ],
                },
            },
            {
                "type": "Feature",
                "id": "dl-line",
                "properties": {"name": "dateline line"},
                "geometry": {
                    "type": "LineString",
                    "coordinates": [
                        [170, 60], [175, 61], [180, 62], [185, 61], [190, 60]
                    ],
                },
            },
            {
                "type": "Feature",
                "id": 7,
                "properties": {"name": "point past -180"},
                "geometry": {"type": "Point", "coordinates": [-185, 20]},
            },
        ],
    }
)


def load_golden_tiles(name: str) -> dict:
    return json.loads(load_fixture(name))


def _num(v):
    return isinstance(v, (int, float)) and not isinstance(v, bool)


def tags_equal(a: dict, b: dict) -> bool:
    a = a or {}
    b = b or {}  # goldens may carry "tags": null
    if set(a.keys()) != set(b.keys()):
        return False
    for k, va in a.items():
        vb = b[k]
        if _num(va) and _num(vb):
            if float(va) != float(vb):
                return False
        elif va != vb:
            return False
    return True


def id_equal(mine_id, mine_kind, golden) -> bool:
    """Golden ids are JSON string or number (parsed uint64, util.cpp:171-178)."""
    if golden is None:
        return mine_id is None or mine_kind == "null"
    if isinstance(golden, str):
        return mine_kind == "str" and mine_id == golden
    # numeric golden id -> uint64
    return mine_kind == "u64" and mine_id is not None and int(mine_id) == int(golden)


def my_feature_to_golden_shape(f: dict) -> dict:
    """Convert an engine output feature to the golden tile-JSON shape.

    Golden encoding (util.cpp:180-243): type 1 geometry = list of [x,y]
    points; type 2/3 = list of parts/rings each a list of [x,y]. Polygon
    grouping of multipolygons is flattened.
    """
    t = f["type"]
    if t == 1:
        geom = [list(p) for p in f["parts"][0]] if f["parts"] else []
    else:
        geom = [[list(p) for p in part] for part in f["parts"]]
    out = {"type": t, "geometry": geom, "tags": f["tags"]}
    if f.get("id") is not None and f.get("id_kind") != "null":
        out["id"] = f["id"]
    return out


def _norm_closure(geom, gtype):
    """Normalize redundant ring-closing vertices for type-3 geometry.

    The goldens were generated by the JS implementation, which can retain a
    redundant closing vertex that the C++ (and this engine) filter out when
    its simplification importance is below tolerance; the reference's own
    comparator ignores geometry entirely (util.cpp:81 typeid no-op). Strict
    mode compares geometry but treats a ring and its closed form as equal.
    """
    if gtype != 3:
        return geom
    out = []
    for ring in geom:
        if len(ring) > 1 and ring[0] == ring[-1]:
            out.append(ring[:-1])
        else:
            out.append(ring)
    return out


def compare_tiles(
    mine: dict, golden: dict, strict_geometry: bool = True
) -> list[str]:
    """Return a list of human-readable mismatch strings (empty = parity)."""
    errs: list[str] = []
    if set(mine.keys()) != set(golden.keys()):
        only_m = sorted(set(mine) - set(golden))[:8]
        only_g = sorted(set(golden) - set(mine))[:8]
        errs.append(f"tile key sets differ: +mine={only_m} +golden={only_g} "
                    f"(mine={len(mine)}, golden={len(golden)})")
        return errs
    for key in sorted(golden.keys()):
        gf = golden[key]
        mf = mine[key]
        if len(gf) != len(mf):
            errs.append(f"{key}: feature count {len(mf)} != golden {len(gf)}")
            continue
        for i, (m, g) in enumerate(zip(mf, gf)):
            mg = my_feature_to_golden_shape(m)
            if mg["type"] != g.get("type"):
                errs.append(f"{key}[{i}]: type {mg['type']} != {g.get('type')}")
            if not tags_equal(mg["tags"], g.get("tags", {})):
                errs.append(f"{key}[{i}]: tags {mg['tags']} != {g.get('tags')}")
            if not id_equal(m.get("id"), m.get("id_kind"), g.get("id")):
                errs.append(f"{key}[{i}]: id {m.get('id')}/{m.get('id_kind')} != {g.get('id')}")
            if strict_geometry:
                gt = g.get("type")
                if _norm_closure(mg["geometry"], gt) != _norm_closure(g.get("geometry"), gt):
                    errs.append(f"{key}[{i}]: geometry differs "
                                f"(mine {str(mg['geometry'])[:80]}... vs "
                                f"golden {str(g.get('geometry'))[:80]}...)")
    return errs
