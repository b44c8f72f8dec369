"""Pure-numpy geometry kernels — no Spark imports.

These reimplement, from scratch and vectorized per geometry part, the exact
semantics of the reference's geometric dataflow:

- project:   ``include/mapbox/geojsonvt/convert.hpp:23-29`` (WGS84 -> unit
  Web-Mercator square, y clamped to [0,1]).
- simplify:  ``include/mapbox/geojsonvt/simplify.hpp`` — Douglas-Peucker
  *importance tagging*: instead of deleting points, each pivot's max squared
  segment distance is stored as the point's ``z``; endpoints forced to 1.0;
  equal-distance ties broken toward the middle index (geojson-vt issue #104).
- clip:      ``include/mapbox/geojsonvt/clip.hpp`` — axis-parallel slab clip
  for lines (9-case segment walk incl. exact-boundary cases), rings
  (re-closed, area inherited from the pre-clip ring), and multipoints
  (closed-interval filter).
- quantize:  ``include/mapbox/geojsonvt/tile.hpp:136-205`` — int16 tile-local
  pixel transform with C ``round`` (half away from zero) semantics, plus the
  per-zoom emit filters (``dist > tolerance``, ``area > sq_tolerance``,
  per-point importance ``z > sq_tolerance``).

Everything operates on a flat ragged-array encoding so the surrounding Spark
stages can ship whole Arrow batches into these kernels (no per-row
Python->JVM traffic; inner math is numpy-vectorized per geometry part).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import numpy as np

# geometry type codes (collection is exploded at ingest; see geojson_io)
GT_EMPTY = 0
GT_POINT = 1
GT_LINE = 2
GT_POLYGON = 3
GT_MULTIPOINT = 4
GT_MULTILINE = 5
GT_MULTIPOLYGON = 6

_EMPTY_F64 = np.empty(0, dtype=np.float64)
_EMPTY_I32 = np.empty(0, dtype=np.int32)


@dataclass
class Geom:
    """Flat ragged-array geometry.

    ``pts`` is an (N, 3) float64 array of (x, y, z-importance) covering every
    point of every part. ``part_lens`` splits it into parts (a part is a
    line, a ring, or the single run of a (multi)point). ``part_meta`` carries
    the per-part computed field the reference stores on its part objects:
    line length ``dist`` (``types.hpp:84``) or ring ``area``
    (``types.hpp:95``). ``seg_start``/``seg_end`` are the lineMetrics
    distances-along-line per line part (``types.hpp:85-86``). ``poly_lens``
    groups ring parts into polygons for MULTIPOLYGON only.
    """

    gtype: int
    pts: np.ndarray = field(default_factory=lambda: np.empty((0, 3), dtype=np.float64))
    part_lens: np.ndarray = field(default_factory=lambda: _EMPTY_I32)
    part_meta: np.ndarray = field(default_factory=lambda: _EMPTY_F64)
    seg_start: np.ndarray = field(default_factory=lambda: _EMPTY_F64)
    seg_end: np.ndarray = field(default_factory=lambda: _EMPTY_F64)
    poly_lens: np.ndarray = field(default_factory=lambda: _EMPTY_I32)

    def parts(self):
        """Yield (pts_slice, part_index) per part."""
        off = 0
        for i, n in enumerate(self.part_lens):
            yield self.pts[off : off + n], i
            off += n

    @property
    def num_points(self) -> int:
        return int(self.pts.shape[0])

    def bbox(self) -> tuple[float, float, float, float]:
        """Feature bbox; inverted sentinel {{2,1},{-1,0}} when empty
        (``types.hpp:165``)."""
        if self.pts.shape[0] == 0:
            return (2.0, 1.0, -1.0, 0.0)
        return (
            float(self.pts[:, 0].min()),
            float(self.pts[:, 1].min()),
            float(self.pts[:, 0].max()),
            float(self.pts[:, 1].max()),
        )


# ---------------------------------------------------------------------------
# projection (convert.hpp:23-29)
# ---------------------------------------------------------------------------

def project_xy(lons: np.ndarray, lats: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """WGS84 lon/lat -> unit Web-Mercator square.

    ``x = lon/360 + 0.5``; ``y = clamp(0.5 - 0.25*ln((1+sin)/(1-sin))/pi, 0, 1)``
    (``convert.hpp:24-27``). Poles (sin = +-1) produce +-inf in the log which
    the clamp resolves to 0/1 exactly as the C++ does.
    """
    x = lons / 360.0 + 0.5
    sine = np.sin(lats * (math.pi / 180.0))
    with np.errstate(divide="ignore", invalid="ignore"):
        y = 0.5 - 0.25 * np.log((1.0 + sine) / (1.0 - sine)) / math.pi
    y = np.minimum(np.maximum(y, 0.0), 1.0)
    # lat=+90 -> sine=1 -> log(inf)=inf -> y=-inf -> clamp 0; NaN only if lat NaN
    y = np.where(np.isnan(y), 0.0, y)
    return x, y


def line_dist(pts: np.ndarray) -> float:
    """Projected polyline length: sum of hypot over segments (convert.hpp:44-48)."""
    if pts.shape[0] < 2:
        return 0.0
    # sequential accumulation (cumsum), NOT pairwise np.sum — the C++ adds
    # hypots one by one, and lineMetrics' final-slice segEnd must equal dist
    # bit-for-bit so segEnd/dist == 1.0 exactly (clip.hpp:104,191-195).
    return float(np.cumsum(np.hypot(np.diff(pts[:, 0]), np.diff(pts[:, 1])))[-1])


def ring_area(pts: np.ndarray) -> float:
    """Absolute shoelace area over the projected ring (convert.hpp:71-78).

    Iterates i in [0, len-2] like the reference (rings carry the duplicate
    closing point, so this covers the full ring).
    """
    if pts.shape[0] < 2:
        return 0.0
    x = pts[:, 0]
    y = pts[:, 1]
    # sequential accumulation (cumsum), NOT pairwise np.sum — the C++ adds
    # the shoelace terms one by one (convert.hpp:73-77) and the result feeds
    # the area > sq_tolerance emit filter (tile.hpp:165), where a last-ULP
    # difference can flip a borderline ring in/out of a tile
    area = float(np.cumsum(x[:-1] * y[1:] - x[1:] * y[:-1])[-1])
    return abs(area / 2.0)


# ---------------------------------------------------------------------------
# Douglas-Peucker importance tagging (simplify.hpp)
# ---------------------------------------------------------------------------

# below this segment length the Douglas-Peucker distance scan runs as a
# plain Python float loop: small-array numpy calls cost ~1 µs of dispatch
# per op while the whole scalar scan of a short segment is cheaper than ONE
# of them (measured 3.5-4x on the us-states convert). Python floats and
# numpy float64 share IEEE-754 semantics and the loop is the literal
# transcription of the same scan, so the two paths are bit-identical
# (tests/test_kernels.py parity test).
_SIMPLIFY_NP_MIN = 128


def simplify_tag(pts: np.ndarray, tolerance: float) -> None:
    """Tag per-point simplification importance into ``pts[:, 2]`` in place.

    Faithful to ``simplify.hpp:37-80``: endpoints get z=1.0 (the max value);
    each recursion pivot gets its max squared segment distance; exact-tie
    pivots are chosen closest to the middle index with the reference's
    stateful ``minPosToMid`` scan (only updated in the == branch). The
    recursion is an explicit stack; long segments use a numpy-vectorized
    distance scan with the (rare) running-max event chain replayed
    sequentially, short segments a scalar loop — both match the C++ loop
    bit-for-bit (see _SIMPLIFY_NP_MIN).
    """
    n = pts.shape[0]
    if n == 0:
        return
    pts[0, 2] = 1.0
    pts[n - 1, 2] = 1.0
    sq_tolerance = tolerance * tolerance
    if n < 3:
        return

    xs = pts[:, 0]
    ys = pts[:, 1]
    # Python-float copies for the scalar path (tolist preserves bits)
    xl = xs.tolist()
    yl = ys.tolist()
    stack = [(0, n - 1)]
    while stack:
        first, last = stack.pop()
        if last - first < 2:
            continue
        if last - first < _SIMPLIFY_NP_MIN:
            # scalar path: the reference's per-point scan verbatim
            ax = xl[first]
            ay = yl[first]
            bx = xl[last]
            by = yl[last]
            dx = bx - ax
            dy = by - ay
            seg = dx * dx + dy * dy
            mid = first + ((last - first) >> 1)
            min_pos_to_mid = last - first
            max_sq = sq_tolerance
            index = 0
            for i in range(first + 1, last):
                pxv = xl[i]
                pyv = yl[i]
                if seg != 0.0:
                    t = ((pxv - ax) * dx + (pyv - ay) * dy) / seg
                    if t > 1.0:
                        cx = bx
                        cy = by
                    elif t > 0.0:
                        cx = ax + dx * t
                        cy = ay + dy * t
                    else:
                        cx = ax
                        cy = ay
                else:
                    cx = ax
                    cy = ay
                ddx = pxv - cx
                ddy = pyv - cy
                sq = ddx * ddx + ddy * ddy
                if sq > max_sq:
                    index = i
                    max_sq = sq
                elif sq == max_sq:
                    pos_to_mid = abs(i - mid)
                    if pos_to_mid < min_pos_to_mid:
                        index = i
                        min_pos_to_mid = pos_to_mid
            if max_sq <= sq_tolerance:
                continue
            pts[index, 2] = max_sq
            if index - first > 1:
                stack.append((first, index))
            if last - index > 1:
                stack.append((index, last))
            continue
        ax = xs[first]
        ay = ys[first]
        dx = xs[last] - ax
        dy = ys[last] - ay
        px = xs[first + 1 : last]
        py = ys[first + 1 : last]
        seg = dx * dx + dy * dy
        if seg != 0.0:
            t = ((px - ax) * dx + (py - ay) * dy) / seg
            cx = np.where(t > 1.0, xs[last], np.where(t > 0.0, ax + dx * t, ax))
            cy = np.where(t > 1.0, ys[last], np.where(t > 0.0, ay + dy * t, ay))
        else:
            cx = ax
            cy = ay
        ddx = px - cx
        ddy = py - cy
        d = ddx * ddx + ddy * ddy

        if d.max(initial=-np.inf) <= sq_tolerance:
            continue

        # replay the reference's running-max scan only at event indices
        # (d[i] >= running max so far) — exact including tie quirks.
        run = np.maximum.accumulate(np.concatenate(([sq_tolerance], d)))[:-1]
        events = np.nonzero(d >= run)[0]
        mid = first + ((last - first) >> 1)
        min_pos_to_mid = last - first
        max_sq = sq_tolerance
        index = 0
        for loc in events:
            i = first + 1 + int(loc)
            sq = float(d[loc])
            if sq > max_sq:
                index = i
                max_sq = sq
            elif sq == max_sq:
                pos_to_mid = abs(i - mid)
                if pos_to_mid < min_pos_to_mid:
                    index = i
                    min_pos_to_mid = pos_to_mid

        pts[index, 2] = max_sq
        if index - first > 1:
            stack.append((first, index))
        if last - index > 1:
            stack.append((index, last))


# ---------------------------------------------------------------------------
# axis-parallel clip (clip.hpp)
# ---------------------------------------------------------------------------

def _clip_line_part(
    pts: np.ndarray,
    axis: int,
    k1: float,
    k2: float,
    line_metrics: bool,
    in_seg_start: float,
) -> tuple[list[np.ndarray], list[float], list[float]]:
    """Clip one polyline part to the slab [k1, k2] on ``axis``.

    Vectorized re-expression of the reference's 9-case per-segment walk
    (``clip.hpp:102-198``): every segment emits 0-2 points into fixed slots
    plus an optional slice break; slices are then assembled with one
    ``np.split``. Returns (slices, seg_starts, seg_ends); seg_* values follow
    ``clip.hpp:126-195`` when ``line_metrics`` (else zeros).
    """
    n = pts.shape[0]
    if n < 2:
        return [], [], []

    a = pts[:-1]
    b = pts[1:]
    ak = a[:, axis]
    bk = b[:, axis]
    o = 1 - axis  # the other coordinate
    nseg = n - 1
    is_last = np.zeros(nseg, dtype=bool)
    is_last[-1] = True

    if line_metrics:
        seg_len = np.hypot(b[:, 0] - a[:, 0], b[:, 1] - a[:, 1])
        # lineLen before segment i = in_seg_start + sum(seg_len[:i])
        line_len = np.empty(nseg, dtype=np.float64)
        line_len[0] = in_seg_start
        if nseg > 1:
            np.cumsum(seg_len[:-1], out=line_len[1:])
            line_len[1:] += in_seg_start
        total_len = float(line_len[-1] + seg_len[-1])
    else:
        seg_len = np.zeros(nseg)
        line_len = np.zeros(nseg)
        total_len = 0.0

    below = ak < k1
    above = ak > k2
    inside = ~below & ~above

    # crossing parameters and interpolated points (types.hpp:49-74); crossing
    # points are tagged z=1.0
    with np.errstate(divide="ignore", invalid="ignore"):
        t1 = (k1 - ak) / (bk - ak)
        t2 = (k2 - ak) / (bk - ak)
        x1o = (b[:, o] - a[:, o]) * t1 + a[:, o]  # other coord at k1 crossing
        x2o = (b[:, o] - a[:, o]) * t2 + a[:, o]  # other coord at k2 crossing

    def cross_pt(kval, to, i):
        p = np.empty(3)
        p[axis] = kval
        p[o] = to[i]
        p[2] = 1.0
        return p

    # slot emissions per segment: (point, seg_start_event_or_None,
    # seg_end_event_or_None); break flag after the segment's emissions
    A1 = below & (bk > k2)
    A2 = below & (bk > k1) & ~A1
    A3 = below & (bk == k1) & ~is_last & ~A1 & ~A2
    B1 = above & (bk < k1)
    B2 = above & (bk < k2) & ~B1
    B3 = above & (bk == k2) & ~is_last & ~B1 & ~B2
    C1 = inside & (bk < k1)
    C2 = inside & (bk > k2)
    C3 = inside & ~C1 & ~C2 & is_last

    out_pts: list[np.ndarray] = []
    slice_breaks: list[int] = []  # number of emitted points at each break
    seg_starts: list[float] = []
    seg_ends: list[float] = []
    cur_start = in_seg_start  # newSlice copies line.segStart (clip.hpp:92-100)
    start_set = False

    def emit(p):
        out_pts.append(p)

    def set_start(v):
        nonlocal cur_start, start_set
        # slice.segStart assignment applies to the slice being started
        if not start_set:
            cur_start = v
            start_set = True

    def brk(end_v):
        nonlocal cur_start, start_set
        slice_breaks.append(len(out_pts))
        seg_starts.append(cur_start)
        seg_ends.append(end_v)
        cur_start = in_seg_start
        start_set = False

    # the per-segment walk is sequential by nature (slice state); iterate only
    # over segments that emit anything — the masks above let numpy find them.
    active = A1 | A2 | A3 | B1 | B2 | B3 | inside
    for i in np.nonzero(active)[0]:
        i = int(i)
        if A1[i]:
            emit(cross_pt(k1, x1o, i))
            s = line_len[i] + seg_len[i] * t1[i] if line_metrics else 0.0
            set_start(s)
            emit(cross_pt(k2, x2o, i))
            brk(line_len[i] + seg_len[i] * t2[i] if line_metrics else 0.0)
        elif A2[i]:
            emit(cross_pt(k1, x1o, i))
            set_start(line_len[i] + seg_len[i] * t1[i] if line_metrics else 0.0)
            if is_last[i]:
                emit(b[i].copy())
        elif A3[i]:
            set_start(line_len[i] + seg_len[i] if line_metrics else 0.0)
            emit(b[i].copy())
        elif B1[i]:
            emit(cross_pt(k2, x2o, i))
            set_start(line_len[i] + seg_len[i] * t2[i] if line_metrics else 0.0)
            emit(cross_pt(k1, x1o, i))
            brk(line_len[i] + seg_len[i] * t1[i] if line_metrics else 0.0)
        elif B2[i]:
            emit(cross_pt(k2, x2o, i))
            set_start(line_len[i] + seg_len[i] * t2[i] if line_metrics else 0.0)
            if is_last[i]:
                emit(b[i].copy())
        elif B3[i]:
            set_start(line_len[i] + seg_len[i] if line_metrics else 0.0)
            emit(b[i].copy())
        elif inside[i]:
            emit(a[i].copy())
            if C1[i]:
                emit(cross_pt(k1, x1o, i))
                brk(line_len[i] + seg_len[i] * t1[i] if line_metrics else 0.0)
            elif C2[i]:
                emit(cross_pt(k2, x2o, i))
                brk(line_len[i] + seg_len[i] * t2[i] if line_metrics else 0.0)
            elif C3[i]:
                emit(b[i].copy())

    # final slice (clip.hpp:194-197)
    if len(out_pts) > (slice_breaks[-1] if slice_breaks else 0):
        slice_breaks.append(len(out_pts))
        seg_starts.append(cur_start)
        seg_ends.append(total_len if line_metrics else 0.0)

    if not out_pts:
        return [], [], []
    flat = np.vstack(out_pts)
    slices = []
    prev = 0
    for cut in slice_breaks:
        slices.append(flat[prev:cut])
        prev = cut
    return slices, seg_starts, seg_ends


def _clip_ring_part(pts: np.ndarray, axis: int, k1: float, k2: float) -> np.ndarray:
    """Clip one ring to the slab [k1, k2] on ``axis`` (clip.hpp:200-254).

    Emits inside points + boundary crossings, then re-closes the ring if
    first != last (x/y compare only). Area is inherited by the caller from
    the pre-clip ring — a deliberate reference quirk (clip.hpp:203).
    """
    n = pts.shape[0]
    if n < 2:
        return np.empty((0, 3))

    # scalar walk over Python floats: the emit loop was always per-segment
    # Python, but it paid vectorized precompute over EVERY segment plus a
    # per-point np.empty(3) and a final vstack of many tiny arrays — for
    # the ring sizes the pyramid split actually sees, tuple emission + one
    # np.array at the end is several times faster. The crossing arithmetic
    # keeps the exact expression tree of the vectorized form
    # ((k - ak)/(bk - ak), (b_o - a_o)*t + a_o), so outputs are
    # bit-identical (Python float == IEEE float64).
    xs = pts[:, 0].tolist()
    ys = pts[:, 1].tolist()
    zs = pts[:, 2].tolist()
    ks = xs if axis == 0 else ys
    os_ = ys if axis == 0 else xs
    out: list[tuple[float, float, float]] = []
    last_i = n - 2
    for i in range(n - 1):
        ak = ks[i]
        bk = ks[i + 1]
        if ak < k1:
            if not (bk > k1):
                continue
            # ---|-->  |
            t = (k1 - ak) / (bk - ak)
            co = (os_[i + 1] - os_[i]) * t + os_[i]
            out.append((k1, co, 1.0) if axis == 0 else (co, k1, 1.0))
            if bk > k2:
                t = (k2 - ak) / (bk - ak)
                co = (os_[i + 1] - os_[i]) * t + os_[i]
                out.append((k2, co, 1.0) if axis == 0 else (co, k2, 1.0))
            elif i == last_i:
                out.append((xs[i + 1], ys[i + 1], zs[i + 1]))
        elif ak > k2:
            if not (bk < k2):
                continue
            t = (k2 - ak) / (bk - ak)
            co = (os_[i + 1] - os_[i]) * t + os_[i]
            out.append((k2, co, 1.0) if axis == 0 else (co, k2, 1.0))
            if bk < k1:
                t = (k1 - ak) / (bk - ak)
                co = (os_[i + 1] - os_[i]) * t + os_[i]
                out.append((k1, co, 1.0) if axis == 0 else (co, k1, 1.0))
            elif i == last_i:
                out.append((xs[i + 1], ys[i + 1], zs[i + 1]))
        else:
            out.append((xs[i], ys[i], zs[i]))
            if bk < k1:
                t = (k1 - ak) / (bk - ak)
                co = (os_[i + 1] - os_[i]) * t + os_[i]
                out.append((k1, co, 1.0) if axis == 0 else (co, k1, 1.0))
            elif bk > k2:
                t = (k2 - ak) / (bk - ak)
                co = (os_[i + 1] - os_[i]) * t + os_[i]
                out.append((k2, co, 1.0) if axis == 0 else (co, k2, 1.0))

    if not out:
        return np.empty((0, 3))
    if out[0][0] != out[-1][0] or out[0][1] != out[-1][1]:
        out.append(out[0])
    return np.array(out, dtype=np.float64)


def clip_geom(
    g: Geom, axis: int, k1: float, k2: float, line_metrics: bool
) -> Geom | None:
    """Clip a geometry to the slab; returns None when nothing remains.

    Type transitions follow ``clip.hpp:19-89``: single lines whose clip
    yields >1 slice become MULTILINE (and vice versa collapse to LINE at
    exactly one slice); polygons keep their (possibly reduced) ring structure;
    multipoints use the closed-interval filter; POINT passes through
    unchanged (the reference never clips a bare point, ``clip.hpp:23-25``).

    Returns None when nothing remains; :func:`clip_feature` converts that
    into the reference's retained empty-geometry feature (clip.hpp:297-312)
    so drill-down total/stats match on degenerate inputs too.
    """
    gt = g.gtype
    if gt == GT_EMPTY or gt == GT_POINT:
        return g
    if gt == GT_MULTIPOINT:
        k = g.pts[:, axis]
        mask = (k >= k1) & (k <= k2)
        kept = g.pts[mask]
        if kept.shape[0] == 0:
            return None
        return Geom(
            GT_MULTIPOINT,
            kept,
            np.array([kept.shape[0]], dtype=np.int32),
            np.zeros(1),
            np.zeros(1),
            np.zeros(1),
        )
    if gt in (GT_LINE, GT_MULTILINE):
        slices: list[np.ndarray] = []
        dists: list[float] = []
        starts: list[float] = []
        ends: list[float] = []
        for part, pi in g.parts():
            in_start = float(g.seg_start[pi]) if line_metrics else 0.0
            s, ss, se = _clip_line_part(part, axis, k1, k2, line_metrics, in_start)
            slices.extend(s)
            dists.extend([float(g.part_meta[pi])] * len(s))
            starts.extend(ss)
            ends.extend(se)
        if not slices:
            return None
        out_t = GT_LINE if len(slices) == 1 else GT_MULTILINE
        return Geom(
            out_t,
            np.vstack(slices),
            np.array([s.shape[0] for s in slices], dtype=np.int32),
            np.asarray(dists),
            np.asarray(starts),
            np.asarray(ends),
        )
    if gt == GT_POLYGON:
        rings: list[np.ndarray] = []
        areas: list[float] = []
        for part, pi in g.parts():
            r = _clip_ring_part(part, axis, k1, k2)
            if r.shape[0] > 0:
                rings.append(r)
                areas.append(float(g.part_meta[pi]))  # area inherited pre-clip
        if not rings:
            return None
        return Geom(
            GT_POLYGON,
            np.vstack(rings),
            np.array([r.shape[0] for r in rings], dtype=np.int32),
            np.asarray(areas),
            np.zeros(len(rings)),
            np.zeros(len(rings)),
        )
    if gt == GT_MULTIPOLYGON:
        rings: list[np.ndarray] = []
        areas: list[float] = []
        poly_lens: list[int] = []
        off = 0
        pi = 0
        for nrings in g.poly_lens:
            kept = 0
            for _ in range(int(nrings)):
                nlen = int(g.part_lens[pi])
                part = g.pts[off : off + nlen]
                r = _clip_ring_part(part, axis, k1, k2)
                if r.shape[0] > 0:
                    rings.append(r)
                    areas.append(float(g.part_meta[pi]))
                    kept += 1
                off += nlen
                pi += 1
            if kept > 0:
                poly_lens.append(kept)
        if not rings:
            return None
        return Geom(
            GT_MULTIPOLYGON,
            np.vstack(rings),
            np.array([r.shape[0] for r in rings], dtype=np.int32),
            np.asarray(areas),
            np.zeros(len(rings)),
            np.zeros(len(rings)),
            np.asarray(poly_lens, dtype=np.int32),
        )
    raise ValueError(f"unknown gtype {gt}")


def clip_feature(
    g: Geom,
    minv: float,
    maxv: float,
    axis: int,
    k1: float,
    k2: float,
    line_metrics: bool,
) -> list[Geom] | str:
    """Feature-level clip: trivial accept/reject on bbox, else geometric clip.

    Returns the string "accept" (copy feature unchanged), an empty list
    (drop), or the list of result geometries — more than one only in the
    lineMetrics fan-out, where each line slice becomes its own feature
    (``clip.hpp:287-311``). EMPTY geometries carry the inverted bbox
    sentinel (min=2 > max=-1) which trivially accepts, matching the
    reference's behavior of empties surviving every clip.

    When the geometric clip leaves nothing, the reference still emplaces the
    empty result geometry with its props/id (``clip.hpp:297-301`` — the
    generic match arm takes empty multipoints/polygons, and empty multilines
    too when lineMetrics is off); the retained feature carries the inverted
    bbox sentinel, so every later clip trivially accepts it and drill-downs
    below it keep registering (empty) child tiles in total/stats. This
    function mirrors that with a zero-point placeholder Geom of the type the
    reference's clipper would return (line -> MULTILINE at != 1 slices,
    others keep their type). Under lineMetrics an empty line clip fans out
    to zero per-slice features (``clip.hpp:303-307``) — a genuine drop.
    Tile OUTPUT is unaffected either way: transform_tile emits nothing for
    zero-point geometries.
    """
    if minv >= k1 and maxv < k2:
        return "accept"
    if maxv < k1 or minv >= k2:
        return []
    out = clip_geom(g, axis, k1, k2, line_metrics)
    if out is None:
        gt = g.gtype
        if gt in (GT_LINE, GT_MULTILINE):
            if line_metrics:
                return []  # per-slice fan-out of an empty multiline
            return [Geom(GT_MULTILINE)]
        return [Geom(gt)]  # empty multipoint / polygon / multipolygon
    if line_metrics and out.gtype == GT_MULTILINE:
        # each slice becomes its own feature, in slice order
        feats = []
        off = 0
        for i, n in enumerate(out.part_lens):
            feats.append(
                Geom(
                    GT_LINE,
                    out.pts[off : off + n],
                    np.array([n], dtype=np.int32),
                    out.part_meta[i : i + 1],
                    out.seg_start[i : i + 1],
                    out.seg_end[i : i + 1],
                )
            )
            off += n
        return feats
    return [out]


# ---------------------------------------------------------------------------
# tile quantization + emit filters (tile.hpp)
# ---------------------------------------------------------------------------

# Parts below this length take the scalar quantize walk in transform_tile;
# numpy keeps longer ones. Bit-identical either way (Python float ops are the
# same C-double ops numpy applies elementwise, and the int16 wrap formula
# matches astype(np.int16) — gated by
# tests/test_kernels.py::test_transform_scalar_numpy_paths_bit_identical).
_TRANSFORM_NP_MIN = 128


@dataclass
class TileFeatureOut:
    """Quantized output feature: base type 1/2/3, int16-valued parts."""

    out_type: int  # 1 point, 2 line, 3 polygon (golden tile-JSON codes)
    is_multi: bool
    parts: list[tuple[list, list]]  # per part: (xs, ys) int lists
    poly_lens: np.ndarray  # rings per polygon when multipolygon
    metrics: tuple[float, float] | None  # (clip_start, clip_end) for lines


def transform_tile(
    g: Geom,
    z2: float,
    tx: int,
    ty: int,
    extent: int,
    tolerance: float,
    line_metrics: bool,
) -> tuple[TileFeatureOut | None, int]:
    """Quantize one feature's geometry into tile-local int16 pixels.

    Returns (feature_out_or_None, num_simplified_increment). Implements the
    reference's emit filters (``tile.hpp:136-205``) and the addFeature
    collapse rules (``tile.hpp:73-130``): multis of size 1 collapse to
    singles, empty results drop the feature, EMPTY geometry emits a feature
    with no parts. lineMetrics adds (segStart/dist, segEnd/dist) for single
    LINE features only (``tile.hpp:87-91``).
    """
    sq_tolerance = tolerance * tolerance

    txf = float(tx)
    tyf = float(ty)
    txy = np.array([txf, tyf])
    _trunc = math.trunc
    _csign = math.copysign

    def q_np(kept: np.ndarray) -> tuple[list, list]:
        # one (n,2) op chain instead of two 1-d chains + np.stack: identical
        # IEEE values (same elementwise ops, exact int->double offsets),
        # ~half the ufunc dispatches on the typical small part
        v = (kept[:, :2] * z2 - txy) * extent
        t = np.trunc(v + np.copysign(0.5, v))
        # the scalar path's (int16)(int32)double, stated explicitly (a
        # float -> int16 cast outside int16 range is undefined in numpy):
        # the low 16 bits inside int32 range, else (non-finite included)
        # 0. The int32 minimum wraps to 0 as well, so |t| bounds it.
        t = np.where(np.abs(t) <= 2147483647.0, t, 0.0)
        qq = t.astype(np.int64).astype(np.int16)
        return qq[:, 0].tolist(), qq[:, 1].tolist()

    def q_part(part: np.ndarray, filtered: bool) -> tuple[list, list]:
        # importance filter (z > sq_tolerance, when filtered) fused with the
        # quantize; scalar walk under _TRANSFORM_NP_MIN (Python floats are the
        # same C doubles, the & 0xFFFF wrap equals astype(np.int16))
        if part.shape[0] < _TRANSFORM_NP_MIN:
            try:
                xs: list = []
                ys: list = []
                for x, y, zz in part.tolist():
                    if filtered and not zz > sq_tolerance:
                        continue
                    vx = (x * z2 - txf) * extent
                    vy = (y * z2 - tyf) * extent
                    # astype(np.int16) is (int16)(int32)double: low 16 bits
                    # in int32 range, else the 0x80000000 indefinite -> 0
                    t = _trunc(vx + _csign(0.5, vx))
                    xs.append(((t + 32768) & 0xFFFF) - 32768
                              if -2147483648 <= t <= 2147483647 else 0)
                    t = _trunc(vy + _csign(0.5, vy))
                    ys.append(((t + 32768) & 0xFFFF) - 32768
                              if -2147483648 <= t <= 2147483647 else 0)
                return xs, ys
            except (OverflowError, ValueError):
                pass  # non-finite coordinate: numpy path (casts to 0)
        if filtered:
            part = part[part[:, 2] > sq_tolerance]
        return q_np(part)

    n_simplified = 0
    gt = g.gtype

    if gt == GT_EMPTY:
        return TileFeatureOut(0, False, [], _EMPTY_I32, None), 0

    if gt == GT_POINT or gt == GT_MULTIPOINT:
        pts = q_part(g.pts, False)
        npts = len(pts[0])
        n_simplified += npts
        if npts == 0:
            return None, n_simplified
        if npts == 1:
            return TileFeatureOut(1, False, [pts], _EMPTY_I32, None), n_simplified
        # multipoint keeps one part-per-point in tile JSON terms; store as
        # a single (xs, ys) part with is_multi flag
        return (
            TileFeatureOut(1, gt == GT_MULTIPOINT, [pts], _EMPTY_I32, None),
            n_simplified,
        )

    if gt == GT_LINE or gt == GT_MULTILINE:
        out_parts: list[tuple[list, list]] = []
        metas: list[int] = []
        for part, pi in g.parts():
            if float(g.part_meta[pi]) > tolerance:  # dist filter (tile.hpp:153,179)
                kept = q_part(part, True)
                n_simplified += len(kept[0])
                if gt == GT_LINE:
                    if len(kept[0]) == 0:
                        return None, n_simplified  # line dropped (tile.hpp:86)
                    metrics = None
                    if line_metrics:
                        dist = float(g.part_meta[pi])
                        metrics = (
                            float(g.seg_start[pi]) / dist,
                            float(g.seg_end[pi]) / dist,
                        )
                    return (
                        TileFeatureOut(2, False, [kept], _EMPTY_I32, metrics),
                        n_simplified,
                    )
                out_parts.append(kept)
                metas.append(pi)
        if gt == GT_LINE:
            return None, n_simplified  # dist <= tolerance
        if len(out_parts) == 0:
            return None, n_simplified
        if len(out_parts) == 1:
            # collapse to single line (tile.hpp:124); the collapsed line gets
            # NO metrics props (template addFeature, not the line overload)
            return TileFeatureOut(2, False, out_parts, _EMPTY_I32, None), n_simplified
        return TileFeatureOut(2, True, out_parts, _EMPTY_I32, None), n_simplified

    if gt == GT_POLYGON:
        out_rings: list[tuple[list, list]] = []
        for part, pi in g.parts():
            if float(g.part_meta[pi]) > sq_tolerance:  # area filter (tile.hpp:165,189)
                kept = q_part(part, True)
                n_simplified += len(kept[0])
                out_rings.append(kept)
        if not out_rings:
            return None, n_simplified
        return TileFeatureOut(3, False, out_rings, _EMPTY_I32, None), n_simplified

    if gt == GT_MULTIPOLYGON:
        polys: list[list[tuple[list, list]]] = []
        off = 0
        pi = 0
        for nrings in g.poly_lens:
            rings: list[tuple[list, list]] = []
            for _ in range(int(nrings)):
                nlen = int(g.part_lens[pi])
                part = g.pts[off : off + nlen]
                if float(g.part_meta[pi]) > sq_tolerance:
                    kept = q_part(part, True)
                    n_simplified += len(kept[0])
                    rings.append(kept)
                off += nlen
                pi += 1
            if rings:
                polys.append(rings)
        if not polys:
            return None, n_simplified
        if len(polys) == 1:
            return TileFeatureOut(3, False, polys[0], _EMPTY_I32, None), n_simplified
        flat = [r for p in polys for r in p]
        poly_lens = np.asarray([len(p) for p in polys], dtype=np.int32)
        return TileFeatureOut(3, True, flat, poly_lens, None), n_simplified

    raise ValueError(f"unknown gtype {gt}")
