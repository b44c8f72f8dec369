"""Spatial-join operators: point-in-polygon, kNN, distance and bbox overlap.

North-rule operators with no reference implementation (the reference is a
tiler; its only lookup is the tile-id hash probe, geojsonvt.hpp:117-150).
Design:

- **Candidates via the cell index** (functions/cells.py): polygons are
  assigned an adaptive resolution (finest whose bbox cover stays small) and
  exploded into covering cells with PURE column expressions
  (``sequence``/``explode`` + Morton spread — JVM codegen, no Python);
  points compute one cell per indexed resolution. The equi-join on
  (res, cell) is an ordinary shuffle join Catalyst can reorder, broadcast
  (``broadcast=True`` for small polygon sets) or AQE-skew-split.
- **Exact ray-cast refinement** is one native strip-keyed edge join:
  polygons explode once into an edge table keyed by (polygon surrogate,
  y-strip), each candidate point meets only its strip's edges, and the
  even-odd crossing test plus a map-side-combinable parity aggregate run as
  pure column expressions — whole-stage codegen end to end, no Python on
  the candidate side. Holes fall out of the even-odd rule. The strip key
  also splits a hot polygon's candidates 16 ways, which is the
  deterministic skew split; AQE handles the rest.
- **kNN** adapts H3-style k-ring expansion to the batch model: one
  rank-and-certify round — a bounded neighborhood join at a chosen
  resolution, one rank window that also carries the certification
  predicate (kth-candidate distance < neighborhood safe radius) — repeated
  with ring doubling for the (few) uncertified queries, which an anti-join
  picks out. Ordinary equi-joins, exact at full grid cover, with no
  site-table broadcast. Every point gets exact top-k.
- **distance_join / bbox_overlap_join** reuse the same cell machinery for
  radius and rectangle-overlap (range) joins; the bbox join dedupes
  multi-cell matches with a report-once responsibility cell instead of a
  distinct shuffle.
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from geojson_vt_cpp_spark.functions import cells as C

DEFAULT_RESOLUTIONS = (4, 7, 10)


# ---------------------------------------------------------------------------
# polygon covering cells (native column expressions)
# ---------------------------------------------------------------------------

def _spread_sql(col: Column) -> Column:
    return C.spread_bits(col)


def polygon_cover_cells(
    polys_df: DataFrame,
    resolutions: tuple[int, ...] = DEFAULT_RESOLUTIONS,
    max_cells: int = 32,
) -> DataFrame:
    """features-table polygons -> (poly columns..., res, cell) cover rows.

    Adaptive resolution pick and bbox cover are pure column arithmetic;
    the cover explode is ``explode(sequence(x0,x1)) x explode(sequence(
    y0,y1))``. Conservative (bbox) cover — the exact ray-cast refines.
    """
    res_arr = sorted(resolutions, reverse=True)
    # finest res whose bbox cover is <= max_cells
    res_col = F.lit(min(resolutions))
    for r in sorted(resolutions):  # end with finest that fits => build when-chain
        n = 1 << r
        cx = F.floor(F.col("maxx") * n) - F.floor(F.col("minx") * n) + 1
        cy = F.floor(F.col("maxy") * n) - F.floor(F.col("miny") * n) + 1
        res_col = F.when(cx * cy <= max_cells, F.lit(r)).otherwise(res_col)

    df = polys_df.withColumn("res", res_col)
    n_of = F.expr("shiftleft(1L, res)").cast("double")
    cap = F.expr("shiftleft(1L, res)") - 1

    def clamp(c):
        return F.least(F.greatest(c.cast("long"), F.lit(0)), cap)

    df = (
        df.withColumn("cx0", clamp(F.floor(F.col("minx") * n_of)))
        .withColumn("cx1", clamp(F.floor(F.col("maxx") * n_of)))
        .withColumn("cy0", clamp(F.floor(F.col("miny") * n_of)))
        .withColumn("cy1", clamp(F.floor(F.col("maxy") * n_of)))
        .withColumn("ix", F.explode(F.sequence("cx0", "cx1")))
        .withColumn("iy", F.explode(F.sequence("cy0", "cy1")))
        .withColumn(
            "cell",
            _spread_sql(F.col("ix")).bitwiseOR(F.shiftleft(_spread_sql(F.col("iy")), 1)),
        )
        .drop("cx0", "cx1", "cy0", "cy1", "ix", "iy")
    )
    return df


def point_cells(
    points_df: DataFrame,
    resolutions: tuple[int, ...] = DEFAULT_RESOLUTIONS,
    x_col: str = "px",
    y_col: str = "py",
) -> DataFrame:
    """points -> one row per indexed resolution with its cell id."""
    pairs = F.array(
        *[
            F.struct(
                F.lit(r).alias("res"),
                C.cell_id(F.col(x_col), F.col(y_col), r).alias("cell"),
            )
            for r in resolutions
        ]
    )
    return (
        points_df.withColumn("rc", F.explode(pairs))
        .withColumn("res", F.col("rc.res"))
        .withColumn("cell", F.col("rc.cell"))
        .drop("rc")
    )


# ---------------------------------------------------------------------------
# exact even-odd refinement (strip-keyed native edge join)
# ---------------------------------------------------------------------------

def _polygon_edges(polys_keyed: DataFrame) -> DataFrame:
    """(poly_sk, e_xi, e_yi, e_xj, e_yj, p_miny, p_maxy) — one row per ring
    edge, carrying the polygon's y-extent for strip bucketing. Horizontal
    edges (e_yi == e_yj, including the degenerate wrap edge of explicitly
    closed rings) are dropped here: the even-odd test's ``y_between``
    predicate is identically false for them, so they can never contribute a
    crossing — shipping them to the candidate join is pure overhead. One
    Arrow pass over the SMALL polygon side; the hot candidate join never
    touches Python."""
    schema = (
        "poly_sk long, e_xi double, e_yi double, e_xj double, e_yj double, "
        "p_miny double, p_maxy double"
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for sk_v, xs_v, ys_v, pl_v, mny, mxy in zip(
                pdf["poly_sk"], pdf["xs"], pdf["ys"], pdf["part_lens"],
                pdf["miny"], pdf["maxy"],
            ):
                xs = np.asarray(xs_v, dtype=np.float64)
                ys = np.asarray(ys_v, dtype=np.float64)
                off = 0
                for n in np.asarray(pl_v, dtype=np.int64):
                    n = int(n)
                    if n >= 3:
                        rx = xs[off:off + n]
                        ry = ys[off:off + n]
                        xi = np.roll(rx, 1)
                        yi = np.roll(ry, 1)
                        keep = yi != ry  # horizontal edges never cross
                        if keep.any():
                            m = int(keep.sum())
                            out.append(
                                pd.DataFrame({
                                    "poly_sk": np.full(m, sk_v, dtype=np.int64),
                                    "e_xi": xi[keep], "e_yi": yi[keep],
                                    "e_xj": rx[keep], "e_yj": ry[keep],
                                    "p_miny": np.full(m, mny),
                                    "p_maxy": np.full(m, mxy),
                                })
                            )
                    off += n
            if out:
                yield pd.concat(out, ignore_index=True)

    return polys_keyed.select(
        "poly_sk", "xs", "ys", "part_lens", "miny", "maxy"
    ).mapInPandas(kernel, schema)


# strips per polygon bbox for the parity join (see _strip_of): each candidate
# point joins only the edges whose y-interval reaches its strip — cuts the
# candidatesxedges fan-out by roughly the strip count for typical outlines
# (an edge spans few strips; 16 keeps replication ~1.5x while dividing the
# per-candidate edge fan-out by an order of magnitude)
PIP_Y_STRIPS = 16


def _strip_of(y: Column, miny: Column, maxy: Column, s: int = PIP_Y_STRIPS) -> Column:
    """Strip index of ``y`` within [miny, maxy], clamped to [0, s-1].

    The SAME expression shape must be used for candidate points and edge
    endpoints: floor(((y - miny) * s) / h) is monotone in y for h > 0 under
    IEEE arithmetic (subtraction, multiplication by a positive constant,
    division by a positive constant and floor are all monotone), so an edge
    whose y-interval contains a point's y always lands on the point's strip
    — the strip join loses no crossing edge and the parity is exact.
    """
    h = maxy - miny
    raw = F.floor(((y - miny) * F.lit(float(s))) / h)
    clamped = F.least(F.greatest(raw, F.lit(0)), F.lit(s - 1))
    return F.when(h > 0, clamped).otherwise(F.lit(0)).cast("int")


def point_in_polygon_join(
    points_df: DataFrame,
    polys_df: DataFrame,
    point_cols: tuple[str, str, str] = ("point_id", "px", "py"),
    resolutions: tuple[int, ...] = DEFAULT_RESOLUTIONS,
    broadcast: bool = False,
    broadcast_edges: bool | None = None,
    edge_broadcast_threshold: int = 1_000_000,
) -> DataFrame:
    """(point_id, px, py) x polygon features -> matched pairs.

    Returns one row per (point, containing polygon) with the polygon's
    identity columns (doc_id, span_idx, feature_idx, member_seq,
    feature_id, props_json).

    ``broadcast=True`` declares the polygon side small: the cell-cover table
    and the edge table are both broadcast, so the candidates do not shuffle
    before the parity aggregate. ``broadcast_edges`` controls the
    candidatesxedges refinement join on its own: True ships the edge table
    to every executor (no shuffle, and one hot polygon cannot converge its
    candidates onto one reducer); False forces a shuffled-hash join; None
    follows ``broadcast`` when that is set, and otherwise counts polygon
    vertices once and broadcasts under ``edge_broadcast_threshold`` edges.
    """
    pid, xcol, ycol = point_cols
    polys = polys_df.where(F.col("gtype").isin(3, 6))
    id_cols = ["doc_id", "span_idx", "feature_idx", "member_seq"]
    attr_cols = ["feature_id", "props_json"]
    geom_cols = ["xs", "ys", "part_lens"]

    # cover rows carry ONLY a long surrogate key + bbox + (res, cell) —
    # geometry never rides the cells-exploded build side, and the candidate
    # shuffle moves longs, not id strings. The bbox goes along so candidates
    # prune NATIVELY (whole-stage codegen) before the edge join: the cell
    # cover is conservative, the bbox test is exact per feature (the F2
    # analogue, clip.hpp:287-293).
    sk = F.xxhash64(*id_cols).alias("poly_sk")
    cover = polygon_cover_cells(
        polys.select(sk, "minx", "miny", "maxx", "maxy"), resolutions
    ).select("poly_sk", "res", "cell", "minx", "miny", "maxx", "maxy")
    polys_keyed = polys.select(sk, *id_cols, *attr_cols, *geom_cols, "miny", "maxy")

    pts = point_cells(points_df.select(pid, xcol, ycol), resolutions, xcol, ycol)
    right = F.broadcast(cover) if broadcast else cover
    # "strip" is the candidate's y-strip within its polygon's bbox — the
    # parity join keys on (poly_sk, strip) so each candidate only meets the
    # edges whose y-interval can actually contain its y (the bbox prune
    # guarantees ycol is inside [miny, maxy] here, so the strip expression
    # sees only in-range values)
    cand = (
        pts.join(right, ["res", "cell"], "inner")
        .where(
            (F.col(xcol) >= F.col("minx")) & (F.col(xcol) <= F.col("maxx"))
            & (F.col(ycol) >= F.col("miny")) & (F.col(ycol) <= F.col("maxy"))
        )
        .select(
            pid, xcol, ycol, "poly_sk",
            _strip_of(F.col(ycol), F.col("miny"), F.col("maxy")).alias("strip"),
        )
    )

    # edges explode into the y-strips their interval spans (monotone strip
    # mapping, see _strip_of), so a candidate meets ~E/strips edges instead
    # of all E edges of its polygon — the candidatesxedges fan-out (the
    # dominant row count of this whole operator) drops by roughly the strip
    # count for modest edge replication
    lo = F.least(F.col("e_yi"), F.col("e_yj"))
    hi = F.greatest(F.col("e_yi"), F.col("e_yj"))
    edges = _polygon_edges(polys_keyed).withColumn(
        "strip",
        F.explode(F.sequence(
            _strip_of(lo, F.col("p_miny"), F.col("p_maxy")),
            _strip_of(hi, F.col("p_miny"), F.col("p_maxy")),
        )),
    ).drop("p_miny", "p_maxy")
    if broadcast_edges is None:
        broadcast_edges = broadcast or (
            polys.agg(F.sum(F.size("xs")).alias("n")).first()["n"] or 0
        ) <= edge_broadcast_threshold
    if broadcast_edges:
        edges = F.broadcast(edges)
    else:
        # when the edge table is ruled out for broadcasting, make sure
        # Catalyst doesn't sneak one in from a bad estimate: a driver-built
        # multi-ten-MB hashed relation showed up as whole-session GC
        # pressure (slower UNRELATED queries) and occasional multi-second
        # build stalls. A shuffled-hash join moves both (small) sides once
        # and builds per-partition.
        edges = edges.hint("shuffle_hash")

    pxc, pyc = F.col(xcol), F.col(ycol)
    yi, yj, xi, xj = F.col("e_yi"), F.col("e_yj"), F.col("e_xi"), F.col("e_xj")
    y_between = (yi > pyc) != (yj > pyc)
    x_cross = (xj - xi) * (pyc - yi) / (yj - yi) + xi
    crossing = (y_between & (pxc < x_cross)).cast("int")
    hits = (
        cand.join(edges, ["poly_sk", "strip"])
        .groupBy(pid, xcol, ycol, "poly_sk")
        .agg(F.sum(crossing).alias("n_cross"))
        .where(F.pmod(F.col("n_cross"), F.lit(2)) == 1)
    )
    return hits.join(
        polys_keyed.select("poly_sk", *id_cols, *attr_cols), "poly_sk"
    ).select(pid, xcol, ycol, *id_cols, *attr_cols)


# ---------------------------------------------------------------------------
# kNN via bounded neighborhood join + certification + ring doubling
# ---------------------------------------------------------------------------

def density_res(n_sites: int) -> int:
    """Grid resolution with about two sites per cell: ``round(log4(n/2))``,
    at least 1. Results of the cell-neighborhood joins are exact at any
    resolution; this only sizes the plan (candidates per cell against
    neighborhood width)."""
    return max(1, round(math.log(max(n_sites, 4) / 2.0, 4)))


def _cell_neighborhood(qcell: DataFrame, r: int, n: int) -> DataFrame:
    """Each query row of ``qcell`` (cell ``qix``, ``qiy``) once per cell
    ``ix``, ``iy`` of its (2r+1)^2 neighborhood, clamped to the n x n grid:
    two ``sequence`` explodes, so wide rings never build literal arrays."""
    return qcell.withColumn(
        "ix",
        F.explode(F.sequence(
            F.greatest(F.col("qix") - r, F.lit(0)),
            F.least(F.col("qix") + r, F.lit(n - 1)),
        )),
    ).withColumn(
        "iy",
        F.explode(F.sequence(
            F.greatest(F.col("qiy") - r, F.lit(0)),
            F.least(F.col("qiy") + r, F.lit(n - 1)),
        )),
    ).drop("qix", "qiy")


def knn_join(
    queries_df: DataFrame,
    sites_df: DataFrame,
    k: int = 5,
    res: int = 7,
    ring: int = 1,
    query_cols: tuple[str, str, str] = ("query_id", "qx", "qy"),
    site_cols: tuple[str, str, str] = ("site_id", "sx", "sy"),
) -> DataFrame:
    """Exact k-nearest-sites per query (Euclidean in projected space).

    One rank-and-certify round, repeated with ring doubling: join each
    pending query's (2r+1)^2 cell neighborhood at ``res`` against the site
    cells, rank each query's candidates in one window, and mark the query
    CERTIFIED in the same window pass when its kth candidate distance is
    < r*cell_size (any site close enough to beat the kth must then lie
    inside the joined neighborhood; a query with fewer than k candidates
    has no kth distance and never certifies). The first round runs at
    ``ring``; the queries that did not certify (including those with no
    candidate at all) are the next round's pending set, at 2r, 4r, ...
    When the ring covers the whole grid the join IS the exhaustive join
    and every remaining query is exact by construction. O(log(n/ring))
    rounds, all ordinary equi-joins Catalyst/AQE can shuffle or broadcast
    by its own sizing — nothing forces the full site table through one
    executor. Certification is density-sized, so usually the only extra
    cost is one emptiness probe of the straggler set.

    Output columns: query id, qx, qy, site id, dist2, knn_rank. Ties break
    on (dist2, site_id), so results are deterministic.
    """
    from pyspark.sql.window import Window

    qid, qx, qy = query_cols
    sid, sx, sy = site_cols
    n = 1 << res
    cell_size = 1.0 / n

    qcell = queries_df.select(
        qid, qx, qy,
        C.grid_index(F.col(qx), n).alias("qix"),
        C.grid_index(F.col(qy), n).alias("qiy"),
    )
    scell = sites_df.select(
        sid, sx, sy,
        C.grid_index(F.col(sx), n).alias("ix"),
        C.grid_index(F.col(sy), n).alias("iy"),
    )

    # plain products, not pow(x,2): pow goes through libm and is not
    # guaranteed bit-identical to x*x, which the cross-engine oracle needs
    d2 = (F.col(qx) - F.col(sx)) * (F.col(qx) - F.col(sx)) + (
        F.col(qy) - F.col(sy)
    ) * (F.col(qy) - F.col(sy))
    w = Window.partitionBy(qid).orderBy(F.col("dist2").asc(), F.col(sid).asc())
    # null (not certified) when the query has fewer than k candidates
    kth_d2 = F.max(F.when(F.col("knn_rank") == k, F.col("dist2"))).over(
        Window.partitionBy(qid)
    )

    def ranked_round(pending: DataFrame, r: int) -> DataFrame:
        # materialized once: the certified output and the straggler set
        # both read it — without this the neighborhood join + window would
        # recompute for each consumer. eager=False: the checkpoint write
        # fuses into the first consuming job (the straggler probe) instead
        # of paying a separate whole-plan checkpoint job.
        return (
            _cell_neighborhood(pending, r, n)
            .join(scell, ["ix", "iy"], "inner")
            .select(qid, qx, qy, sid, d2.alias("dist2"))
            .withColumn("knn_rank", F.row_number().over(w))
            .where(F.col("knn_rank") <= k)
            .withColumn("certified", kth_d2 < F.lit((r * cell_size) ** 2))
            .localCheckpoint(eager=False)
        )

    parts = []
    pending, r = qcell, ring
    while True:
        ranked = ranked_round(pending, r)
        if r >= n:  # ring covers the grid: exhaustive, exact by construction
            parts.append(ranked.drop("certified"))
            break
        good = ranked.where("certified").drop("certified")
        parts.append(good)
        # stragglers: uncertified queries and queries with no candidate.
        # Probe each straggler set before materializing it: the
        # density-sized grid usually certifies every query, and then
        # nothing more is checkpointed.
        pending = pending.join(good.select(qid), qid, "left_anti")
        if pending.isEmpty():
            break
        pending = pending.localCheckpoint(eager=False)
        r *= 2
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def distance_join(
    queries_df: DataFrame,
    sites_df: DataFrame,
    radius: float,
    res: int | None = None,
    query_cols: tuple[str, str, str] = ("query_id", "qx", "qy"),
    site_cols: tuple[str, str, str] = ("site_id", "sx", "sy"),
) -> DataFrame:
    """Exact radius join: every (query, site) pair with Euclidean distance
    <= ``radius`` in projected space — (query_id, site_id, dist2).

    Shape: cover each query with the cell neighborhood that provably
    contains every site within ``radius`` (ring = ceil(radius * n) at grid
    resolution ``res``, clamped ``sequence`` explodes), equi-join on the
    cell, then the exact distance filter — an ordinary shuffle join
    Catalyst/AQE plans freely; no window, no broadcast requirement, no
    all-pairs stage at any scale. ``res`` defaults to the resolution where
    one cell ~ the radius (ring 1-2), trading neighborhood width against
    cell population like the kNN join does.
    """
    qid, qx, qy = query_cols
    sid, sx, sy = site_cols
    if res is None:
        # radius-based anchor: one cell ~ the radius (ring 1-2)
        r_res = max(1, min(12, int(math.floor(math.log2(1.0 / radius)))))
        # density adjustment (the kNN sizing): hot grids refine (fewer
        # candidates per cell, slightly wider ring) and sparse grids
        # coarsen (fewer explode rows). Bounded to r_res +/- 2 so ring =
        # ceil(radius * n) never exceeds ~4 cells — results are EXACT at
        # any res; this only shapes the plan.
        d_res = density_res(sites_df.count())
        res = max(1, min(12, max(r_res - 2, min(r_res + 2, d_res))))
    n = 1 << res
    ring = max(1, int(math.ceil(radius * n)))

    qcell = queries_df.select(
        qid, qx, qy,
        C.grid_index(F.col(qx), n).alias("qix"),
        C.grid_index(F.col(qy), n).alias("qiy"),
    )
    scell = sites_df.select(
        sid, sx, sy,
        C.grid_index(F.col(sx), n).alias("ix"),
        C.grid_index(F.col(sy), n).alias("iy"),
    )
    # x*x products, not pow: bit parity with the DuckDB oracle
    d2 = (F.col(qx) - F.col(sx)) * (F.col(qx) - F.col(sx)) + (
        F.col(qy) - F.col(sy)
    ) * (F.col(qy) - F.col(sy))
    return (
        _cell_neighborhood(qcell, ring, n).join(scell, ["ix", "iy"], "inner")
        .select(qid, qx, qy, sid, d2.alias("dist2"))
        .where(F.col("dist2") <= float(radius) * float(radius))
        .select(qid, sid, "dist2")
    )


def bbox_overlap_join(
    a_df: DataFrame,
    b_df: DataFrame,
    res: int = 6,
    a_cols: tuple[str, str, str, str, str] = ("a_id", "ax1", "ay1", "ax2", "ay2"),
    b_cols: tuple[str, str, str, str, str] = ("b_id", "bx1", "by1", "bx2", "by2"),
) -> DataFrame:
    """Exact rectangle-overlap (2-D interval range) join: every (a, b) pair
    whose axis-aligned boxes intersect (closed intervals).

    Shape: both sides explode to their covering cells at ``res`` (clamped
    ``sequence``), equi-join on the cell, exact overlap filter — and
    instead of a ``distinct`` shuffle to dedupe pairs that share several
    cells, each pair is REPORTED ONCE in its responsibility cell (the cell
    containing the intersection's min corner: a standard spatial-join
    dedup that costs one codegen predicate instead of a global shuffle).
    """
    aid, ax1, ay1, ax2, ay2 = a_cols
    bid, bx1, by1, bx2, by2 = b_cols
    n = 1 << res

    def cells(df: DataFrame, x1: str, y1: str, x2: str, y2: str) -> DataFrame:
        return df.withColumn(
            "ix", F.explode(F.sequence(C.grid_index(F.col(x1), n), C.grid_index(F.col(x2), n)))
        ).withColumn(
            "iy", F.explode(F.sequence(C.grid_index(F.col(y1), n), C.grid_index(F.col(y2), n)))
        )

    ac = cells(a_df.select(aid, ax1, ay1, ax2, ay2), ax1, ay1, ax2, ay2)
    bc = cells(b_df.select(bid, bx1, by1, bx2, by2), bx1, by1, bx2, by2)
    joined = ac.join(bc, ["ix", "iy"], "inner")
    overlap = (
        (F.col(ax1) <= F.col(bx2)) & (F.col(bx1) <= F.col(ax2))
        & (F.col(ay1) <= F.col(by2)) & (F.col(by1) <= F.col(ay2))
    )
    responsible = (
        (F.col("ix") == C.grid_index(F.greatest(F.col(ax1), F.col(bx1)), n))
        & (F.col("iy") == C.grid_index(F.greatest(F.col(ay1), F.col(by1)), n))
    )
    return joined.where(overlap & responsible).select(aid, bid)

