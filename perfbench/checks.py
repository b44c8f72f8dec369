"""Output checks, each independent of the engine code it checks.

Every check returns a list of mismatch descriptions; an empty list is a
pass. The caller counts each failed check as a failed operation.
"""

from __future__ import annotations

import json

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# tile-feature columns a tile consumer sees (Tile.features + accounting)
VISIBLE = ["z", "tx", "ty", "out_type", "is_multi", "part_xs", "part_ys",
           "poly_lens", "props_json", "feature_id", "id_kind"]


def tile_digest(tile_features: DataFrame) -> tuple[int, int, int]:
    """Order-independent digest: (emitted rows, sum of row hashes,
    total n_simplified). One aggregate job."""
    emitted = F.col("out_type") >= 0
    h = F.xxhash64(*VISIBLE).cast("decimal(38,0)")
    r = tile_features.agg(
        F.sum(F.when(emitted, 1).otherwise(0)).alias("n"),
        F.sum(F.when(emitted, h).otherwise(0)).alias("h"),
        F.sum("n_simplified").alias("s"),
    ).first()
    return int(r["n"] or 0), int(r["h"] or 0), int(r["s"] or 0)


def pyramid_invariants(pyr, index_max_zoom: int) -> list[str]:
    bad = []
    cap = sum(4 ** z for z in range(index_max_zoom + 1))
    if pyr.total > cap:
        bad.append(f"tiles_registered {pyr.total} > {cap}")
    if sum(pyr.stats.values()) != pyr.total:
        bad.append(f"sum(stats) {sum(pyr.stats.values())} != total {pyr.total}")
    return bad


def _canon_feature(f: dict) -> str:
    return json.dumps([f["type"], bool(f["is_multi"]), f["parts"],
                       [int(v) for v in f["poly_lens"]], f["tags"], f["id"],
                       f["id_kind"]], sort_keys=True)


def _canon_row(r) -> str:
    parts = [[[int(x), int(y)] for x, y in zip(xs, ys)]
             for xs, ys in zip(r["part_xs"], r["part_ys"])]
    return json.dumps([r["out_type"], bool(r["is_multi"]), parts,
                       [int(v) for v in r["poly_lens"]],
                       json.loads(r["props_json"]), r["feature_id"],
                       r["id_kind"]], sort_keys=True)


def tile_rows_by_key(tile_features: DataFrame) -> dict:
    """{(z, x, y): sorted canonical features} from one collect."""
    out: dict = {}
    for r in tile_features.where(F.col("out_type") >= 0).select(*VISIBLE).collect():
        out.setdefault((r["z"], r["tx"], r["ty"]), []).append(_canon_row(r))
    return {k: sorted(v) for k, v in out.items()}


def warm_tile(tile, expected: list) -> list[str]:
    got = sorted(_canon_feature(f) for f in tile.features)
    if got != expected:
        return [f"warm tile {tile.z}/{tile.x}/{tile.y}: {len(got)} features, "
                f"tile_features has {len(expected)}"]
    return []


def knn(rows: list, points: np.ndarray, sites: np.ndarray, k: int) -> list[str]:
    """Brute force over every (query, site) pair with the engine's
    tie-break: dist2 ascending, then site_id."""
    sx, sy = sites[:, 1], sites[:, 2]
    site_ids = sites[:, 0].astype(np.int64)
    want = set()
    for lo in range(0, len(points), 1000):  # bounded memory per chunk
        q = points[lo:lo + 1000]
        dx = q[:, 1:2] - sx[None, :]
        dy = q[:, 2:3] - sy[None, :]
        d2 = dx * dx + dy * dy
        order = np.lexsort((np.broadcast_to(site_ids, d2.shape), d2), axis=1)
        for qid, row in zip(q[:, 0].astype(np.int64), order[:, :k]):
            want.update((int(qid), int(site_ids[j])) for j in row)
    got = {(int(r[0]), int(r[1])) for r in rows}
    bad = []
    if len(rows) != len(got):
        bad.append(f"knn: {len(rows) - len(got)} duplicate (query, site) rows")
    if got != want:
        bad.append(f"knn: {len(want - got)} missing, {len(got - want)} extra pairs")
    return bad


def _rings(xs, ys, part_lens) -> list[np.ndarray]:
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    out, off = [], 0
    for n in part_lens:
        out.append(np.column_stack([xs[off:off + n], ys[off:off + n]]))
        off += n
    return out


def _inside(px: float, py: float, rings: list) -> bool | None:
    """Even-odd ray cast toward +x; None when the point lies within 1e-12
    of a crossing (boundary cases are not compared)."""
    crossings = 0
    for r in rings:
        if len(r) < 3:
            continue
        x1, y1 = r[:, 0], r[:, 1]
        x0, y0 = np.roll(x1, 1), np.roll(y1, 1)
        spans = (y1 > py) != (y0 > py)
        if not spans.any():
            continue
        t = (py - y0[spans]) / (y1[spans] - y0[spans])
        xc = x0[spans] + t * (x1[spans] - x0[spans])
        if np.any(np.abs(xc - px) < 1e-12):
            return None
        crossings += int(np.count_nonzero(xc > px))
    return crossings % 2 == 1


def pip(rows: list, sample: np.ndarray, polygons: list) -> list[str]:
    """rows: engine (point_id, poly_key) matches for the sampled points;
    polygons: [(poly_key, minx, miny, maxx, maxy, rings)]. Points within
    1e-12 of a polygon edge are left out of the comparison."""
    want, skip = set(), set()
    for pid, px, py in sample:
        for key, x0, y0, x1, y1, rings in polygons:
            if not (x0 <= px <= x1 and y0 <= py <= y1):
                continue
            hit = _inside(px, py, rings)
            if hit is None:
                skip.add(int(pid))
            elif hit:
                want.add((int(pid), key))
    want = {m for m in want if m[0] not in skip}
    got = {m for m in rows if m[0] not in skip}
    if got != want:
        return [f"pip: {len(want - got)} missing, {len(got - want)} extra matches "
                f"over {len(sample)} sampled points"]
    return []


def polygon_table(features: DataFrame) -> list:
    keys = ["doc_id", "span_idx", "feature_idx", "member_seq"]
    rows = features.where(F.col("gtype").isin(3, 6)).select(
        *keys, "minx", "miny", "maxx", "maxy", "xs", "ys", "part_lens").collect()
    return [(tuple(r[k] for k in keys), r["minx"], r["miny"], r["maxx"], r["maxy"],
             _rings(r["xs"], r["ys"], r["part_lens"])) for r in rows]
