"""Point-in-polygon and kNN spatial joins via cell-candidate pruning.

The reference answers one question per document — which plot contains this
point, else which plot is nearest — with an O(points x polygons) full scan
(``/root/reference/sensorposition/plotid_by_latlon.py:51-77``). Every
operator here answers it with one candidate -> refine -> fallback core:

  1. candidates: the polygon dim's covering cells are built on the driver
     (tiny dim), DILATED by the ring radius and interval-PRUNED per cell
     (``_poly_cells_df``), and broadcast; the narrow (id, lat, lon, cell)
     probe — one row per point, cell encoded by one Arrow pass or taken from
     the caller's precomputed ``cell_col`` — LEFT-joins it on cell, so each
     (point, poly) candidate appears once and a null candidate marks
     "nothing nearby" (``_candidates``);
  2. refine: one Arrow pass computes the exact (contains, dist_m) per
     candidate pair; contains is exactly dist_m == 0 and boundary points
     count as inside (Touches semantics, ``plotid_by_latlon.py:57``);
  3. rank: nearest-1 is a map-side-combining ``min_by`` over (dist_m,
     plot_id) (``_nearest1``, shared by ``resolve_plots`` and
     ``knn_join(k=1)``); top-k is one window pass that ranks AND counts;
     ties break to min plot_id (engine-frozen; the reference's first-scanned
     order is not reproducible, ``:63-68``);
  4. fallback: points with no candidate, too few, or a k-th candidate beyond
     the ring's guaranteed reach (``_ring_reach_m``) re-rank against the
     full broadcast dim (``_full_dim``) — totality + exactness, paid only
     for stragglers;
  5. join-back: the wide payload joins back once at the end
     (``_join_back``), skipped for already-narrow callers.

``pip_join`` (containment only) runs the same probe and join-back over a
finer, undilated covering with an INNER join and the cheaper contains-only
refine; overlaps break to min plot_id.

At 100 TB the points side never shuffles before the candidate join: every
join is broadcast-side-replicated, and the refine is partition-local; the
per-point aggregate/window shuffles only the (small) narrow candidate
fan-out keyed by point id — AQE + optional salting (operators/skew.py) spread
hot cells.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast, pandas_udf

from ..functions import hexgrid
from ..functions.spark_udfs import h3_udf
from .geometry import PreparedPolygons, ring_array

DEFAULT_RES = 12  # hex size ~9.4 m — matched to plot-scale polygons


def choose_res(prep: PreparedPolygons, lo: int = 7, hi: int = 12) -> int:
    """Finest res in [lo, hi] whose hex size >= half the median polygon extent
    (keeps covering lists small while pruning hard)."""
    with np.errstate(invalid="ignore"):
        ext_x = np.nanmax(prep.x1, axis=1) - np.nanmin(prep.x1, axis=1)
        ext_y = np.nanmax(prep.y1, axis=1) - np.nanmin(prep.y1, axis=1)
    # rough degrees->meters at the dim's median latitude
    lat0 = float(np.nanmedian(prep.y1))
    mx = np.nanmedian(ext_x) * 111320.0 * np.cos(np.radians(lat0))
    my = np.nanmedian(ext_y) * 111320.0
    diag = float(np.hypot(mx, my))
    for res in range(hi, lo - 1, -1):
        if float(hexgrid.res_size_m(res)) >= diag / 2.0:
            return res
    return lo


_poly_cells_memo: dict = {}


def _dim_fingerprint(plots_pdf: pd.DataFrame) -> int:
    """Content hash of the polygon dim (ids + ring coords) for the covering-
    table memo — the dim is tiny by contract (broadcastable), so hashing it
    is microseconds against the ~1-2 s covering/dilation/prune build."""
    coords = np.concatenate([ring_array(r).ravel() for r in plots_pdf["ring"]])
    return hash((tuple(plots_pdf["plot_id"]), coords.tobytes()))


def _poly_cells_df(
    spark,
    plots_pdf: pd.DataFrame,
    res: int,
    ring: int = 0,
    prep: "PreparedPolygons | None" = None,
    keep_k: int = 1,
    plot_ids: "list | None" = None,
) -> DataFrame:
    """(cell, poly_idx) covering table for the dim; driver-built, broadcast.

    ``ring`` > 0 DILATES the covering: each polygon also claims every cell
    within grid distance ``ring`` of a covering cell. A point's cell is in the
    dilated set iff the point's k-ring intersects the raw covering — i.e. dim
    dilation is the join-side dual of a probe-side ring fan-out, but the
    probe side stays ONE row per point (no 3k^2+3k+1x explode, no duplicate
    (point, poly) candidates, one distance evaluation per pair).

    When ``prep`` is given, the dilated table is then PRUNED per cell with
    exact distance intervals: for any point in a cell (true-meter radius
    r <= s/cos(lat) around the center), its distance to polygon p lies in
    [d_p - r, d_p + r] where d_p = distance(center, p). A polygon whose lower
    bound exceeds the cell's ``keep_k``-th smallest upper bound can never be
    among the k nearest for ANY point in the cell (strictly — ties survive),
    so it is dropped at build time. This turns the executor-side candidate
    list from "every polygon within ring reach" (hundreds, for dense dims)
    into the handful whose distance intervals overlap the winners' — the
    distance kernel then runs on ~k-ish pairs per point instead of O(density).

    Size grows as |covering| x ring^2 before pruning — fine for broadcastable
    dims; for huge dims at small ring keep the dilation small.

    ``plot_ids``: when given, a ``plot_id`` column rides in the broadcast
    table so callers skip a second broadcast join against an ids dim.

    The (cells, idx) arrays are MEMOIZED per (dim content, res, ring, keep_k):
    the build (~1-2 s of driver NumPy for ring-dilated dims) runs once per
    process for a frozen dim; only the cheap createDataFrame repeats, so the
    memo stays valid across Spark session restarts.
    """
    key = (_dim_fingerprint(plots_pdf), res, ring, keep_k)
    hit = _poly_cells_memo.get(key)
    if hit is not None:
        cells, idx = hit
    else:
        cells_per_poly = []
        for ring_geom in plots_pdf["ring"]:
            cells = hexgrid.polyfill(ring_array(ring_geom), res)
            if ring > 0:
                _, dilated = hexgrid.kring_batch(cells, ring)
                cells = np.unique(dilated)
            cells_per_poly.append(cells)
        idx = np.repeat(
            np.arange(len(cells_per_poly), dtype=np.int64),
            [len(c) for c in cells_per_poly],
        )
        cells = np.concatenate(cells_per_poly) if cells_per_poly else np.array([], dtype=np.int64)

        if ring > 0 and prep is not None and len(cells):
            lat, lon = hexgrid.cell_center(cells)
            s = float(hexgrid.res_size_m(res))
            # r6 two-phase prune: the exact interval prune below evaluates
            # point-to-ring distance over (pairs x max_edges) temporaries —
            # at ring 21 that is ~1.3M pairs and dominated the whole query
            # as driver wall. Phase 1 prunes with (pairs,)-sized
            # center/circumradius bounds (valid in distance_m's per-point
            # equirect metric: R_ub uses coslat=1, an overestimate of the
            # x-extent, so lb_c <= d <= ub_c always); phase 2 then runs the
            # exact rule on the survivors. The survivor kth-ub can only be
            # >= the all-pairs kth-ub, so the final kept set is a SUPERSET
            # of the single-phase one — extra candidates are scored and
            # lose, query outputs identical (soundness unchanged).
            from ..functions.geodesy import R_MEAN

            deg = np.pi / 180.0 * R_MEAN
            vx, vy = prep.x1, prep.y1  # (P, K) ring vertices, NaN-padded
            ccx = np.nanmean(vx, axis=1)
            ccy = np.nanmean(vy, axis=1)
            r_poly = np.sqrt(
                np.nanmax(
                    ((vx - ccx[:, None]) * deg) ** 2
                    + ((vy - ccy[:, None]) * deg) ** 2,
                    axis=1,
                )
            )
            coslat_c = np.cos(np.radians(lat))
            d_c = np.sqrt(
                ((ccx[idx] - lon) * coslat_c * deg) ** 2
                + ((ccy[idx] - lat) * deg) ** 2
            )
            r_true_c = s / coslat_c * 1.0001
            lb_c = d_c - r_poly[idx] - r_true_c
            ub_c = d_c + r_poly[idx] + r_true_c
            order_c = np.lexsort((ub_c, cells))
            cc_s = cells[order_c]
            starts_c = np.flatnonzero(np.r_[True, cc_s[1:] != cc_s[:-1]])
            counts_c = np.diff(np.r_[starts_c, len(cc_s)])
            kth_pos_c = starts_c + np.minimum(keep_k, counts_c) - 1
            kth_ub_c = np.repeat(ub_c[order_c][kth_pos_c], counts_c)
            pre = order_c[lb_c[order_c] <= kth_ub_c]
            cells, idx, lat, lon = cells[pre], idx[pre], lat[pre], lon[pre]
            d = prep.distance_m(idx, lon, lat)
            # conservative true-m cell radius; the 1.0001 slack absorbs the
            # cos(lat)/metric drift between the cell-center latitude (used for d
            # and r_true here) and the probe point's latitude (which defines
            # distance_m's metric) — the dual of _ring_reach_m's 0.99 guard
            r_true = s / np.cos(np.radians(lat)) * 1.0001
            lb = d - r_true
            ub = d + r_true
            order = np.lexsort((ub, cells))  # sort by cell, then ub
            c_s, lb_s, ub_s, idx_s = cells[order], lb[order], ub[order], idx[order]
            starts = np.flatnonzero(np.r_[True, c_s[1:] != c_s[:-1]])
            counts = np.diff(np.r_[starts, len(c_s)])
            # per cell: the keep_k-th smallest ub (last row if fewer than keep_k)
            kth_pos = starts + np.minimum(keep_k, counts) - 1
            kth_ub = np.repeat(ub_s[kth_pos], counts)
            keep = lb_s <= kth_ub
            cells, idx = c_s[keep], idx_s[keep]
        if len(_poly_cells_memo) > 32:  # bound driver memory across many dims
            _poly_cells_memo.clear()
        _poly_cells_memo[key] = (cells, idx)

    cols = {"cell": cells, "poly_idx": idx}
    if plot_ids is not None:
        cols["plot_id"] = np.asarray(plot_ids, dtype=object)[idx]
    return spark.createDataFrame(pd.DataFrame(cols))


def _prepare(spark, plots: DataFrame | pd.DataFrame):
    plots_pdf = plots.toPandas() if isinstance(plots, DataFrame) else plots
    prep = PreparedPolygons.from_pandas(plots_pdf)
    bc = spark.sparkContext.broadcast(prep)
    return plots_pdf, prep, bc


def _ensure_parallel(spark, df: DataFrame) -> DataFrame:
    """The ring fan-out multiplies work per input row ~10-200x, so a probe
    frame arriving in fewer partitions than cores (e.g. one small parquet
    file) would serialize the whole operator. Repartition ONLY when starved —
    on a well-partitioned 100 TB input this is a no-op."""
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


_live_caches: dict[str, DataFrame] = {}


def _cache_scoped(name: str, df: DataFrame) -> DataFrame:
    """persist(MEMORY_AND_DISK) with per-operator scope: the PREVIOUS
    invocation's cache is unpersisted on the next call, so repeated operator
    invocations in one session never accumulate storage (ADVICE r1). A
    still-lazy result frame from an earlier call stays correct — it just
    recomputes without the cache. (localCheckpoint would self-GC, but its
    RDD-conversion path costs ~10s on pandas-UDF plans here — measured.)

    SINGLE-JOB-AT-A-TIME assumption: the registry is module-global, so two
    CONCURRENT invocations of the same operator in one session would thrash
    each other's storage (correct results, silent recompute). Serialize
    same-operator jobs, or pass the pipeline-level ``caches`` list
    (plans/pipeline._resolved) for deterministic caller-owned release."""
    from pyspark import StorageLevel

    prev = _live_caches.pop(name, None)
    if prev is not None:
        try:
            prev.unpersist()
        except Exception:
            pass
    out = df.persist(StorageLevel.MEMORY_AND_DISK)
    _live_caches[name] = out
    return out


def _ring_reach_m(ring: int, res: int, lat_col: str) -> F.Column:
    """True-meter reach GUARANTEE of a k-ring candidate search (per point).

    Soundness bound for treating in-ring candidates as exact: any polygon
    whose covering cells all lie outside the point's ring-``ring`` neighborhood
    is at least this far away, so an in-ring candidate at distance <= reach is
    provably the true nearest (no out-of-ring polygon can beat it).

    Derivation (projected Lambert-CEA space, hex circumradius s at ``res``):
    a point lies within s of its cell center; every polygon point lies within
    s of some covering-cell center (``hexgrid.polyfill`` covers containing
    cells); hex centers at grid distance g are >= 1.5*g*s apart (triangular
    lattice, tight at g even). A polygon outside the ring has g >= ring+1, so
    its projected distance is >= 1.5*(ring+1)*s - 2s. Projected distance
    >= true equirectangular meters * cos(lat) (x is inflated by 1/cos(lat),
    y compressed by cos(lat)), giving the true-meter bound below; 0.99 absorbs
    the cos(lat) drift between point and polygon over sub-km scales.
    """
    s = float(hexgrid.res_size_m(res))
    factor = max(1.5 * (ring + 1) - 2.0, 0.0) * s * 0.99
    return F.lit(factor) * F.cos(F.radians(F.col(lat_col)))


def _contains_udf(bc):
    @pandas_udf("boolean")
    def _f(poly_idx: pd.Series, lon: pd.Series, lat: pd.Series) -> pd.Series:
        prep: PreparedPolygons = bc.value
        return pd.Series(
            prep.contains(
                poly_idx.to_numpy(np.int64),
                lon.to_numpy(np.float64),
                lat.to_numpy(np.float64),
            )
        )

    return _f


def _contains_dist_udf(bc):
    """Fused exact refine: one Arrow pass computes (contains, dist_m) per
    candidate pair; null poly_idx (no candidate) -> (false, +inf)."""

    @pandas_udf("contains boolean, dist_m double")
    def _f(poly_idx: pd.Series, lon: pd.Series, lat: pd.Series) -> pd.DataFrame:
        prep: PreparedPolygons = bc.value
        valid = poly_idx.notna().to_numpy()
        out_c = np.zeros(len(poly_idx), dtype=bool)
        out_d = np.full(len(poly_idx), np.inf)
        if valid.any():
            idx = poly_idx.to_numpy(dtype="float64")[valid].astype(np.int64)
            lo = lon.to_numpy(np.float64)[valid]
            la = lat.to_numpy(np.float64)[valid]
            d = prep.distance_m(idx, lo, la)
            out_c[valid] = d == 0.0
            out_d[valid] = d
        return pd.DataFrame({"contains": out_c, "dist_m": out_d})

    return _f


def _probe(spark, points, point_id, lat_col, lon_col, res, cell_col=None) -> DataFrame:
    """NARROW-FIRST probe: only (id, lat, lon, cell) flows through the
    candidate join, the refine kernel and the per-point ranking — at 100 TB
    the difference between shuffling ids and shuffling documents.
    ``cell_col``: a precomputed cell ID at exactly ``res`` (e.g. the fused
    footprint stage's cell_r13) skips the encode pass entirely."""
    if cell_col is not None:
        return _ensure_parallel(
            spark, points.select(point_id, lat_col, lon_col, F.col(cell_col).alias("cell"))
        )
    narrow = _ensure_parallel(spark, points.select(point_id, lat_col, lon_col))
    return narrow.withColumn("cell", h3_udf(res)(lat_col, lon_col))


def _refine(df: DataFrame, bc, lon_col: str, lat_col: str) -> DataFrame:
    return df.withColumn("cd", _contains_dist_udf(bc)("poly_idx", lon_col, lat_col))


def _candidates(spark, points, plots, point_id, lat_col, lon_col, res, ring, keep_k,
                cell_col=None):
    """Candidate builder: probe LEFT-joined to the broadcast ring-dilated,
    interval-pruned covering (only polys that can win top-``keep_k`` for
    some point in the cell survive; plot_id rides in the broadcast table),
    then the fused refine. A point with no candidate keeps one row with a
    null plot_id and dist_m = +inf.

    Returns (candidates, prepared dim, its broadcast, ring reach column)."""
    plots_pdf, prep, bc = _prepare(spark, plots)
    if res is None:
        # reach = ring radius x hex pitch; callers widen the ring (cheap: the
        # dilation lives in the broadcast dim) rather than coarsening the res
        # (expensive: coarser cells multiply candidates per cell).
        res = choose_res(prep)
    poly_cells = _poly_cells_df(
        spark, plots_pdf, res, ring=ring, prep=prep, keep_k=keep_k, plot_ids=prep.plot_ids
    )
    pts = _probe(spark, points, point_id, lat_col, lon_col, res, cell_col)
    cand = _refine(pts.join(broadcast(poly_cells), "cell", "left"), bc, lon_col, lat_col)
    return cand, prep, bc, _ring_reach_m(ring, res, lat_col)


def _full_dim(spark, pts: DataFrame, prep: PreparedPolygons, bc, lon_col, lat_col) -> DataFrame:
    """Full-dim fallback builder: every point of ``pts`` against every
    polygon (broadcast nested loop) + the fused refine."""
    all_polys = spark.createDataFrame(
        pd.DataFrame({"poly_idx": range(len(prep.plot_ids)), "plot_id": prep.plot_ids})
    )
    return _refine(pts.crossJoin(broadcast(all_polys)), bc, lon_col, lat_col)


def _nearest1(spark, cand, prep, bc, reach, point_id, lat_col, lon_col, cache_name) -> DataFrame:
    """Nearest-1 over the candidates -> (id, lat, lon, plot_id, contains,
    dist_m). No dedup, no window: candidates collapse inside a map-side-
    combining ``min_by`` over (dist_m, plot_id) — contains is dist_m == 0,
    so containment wins first — and the only shuffle carries one
    pre-aggregated narrow row per point. A point with no candidate has one
    row (dist_m = +inf), so it needs no ordering field of its own.

    Exactness guard: an in-ring best farther than the ring's guaranteed
    reach could be beaten by a polygon covered just outside the ring, and a
    no-candidate point is beyond any reach — both re-rank against the full
    dim."""
    keys = (point_id, lat_col, lon_col)

    def best(df):
        return (
            df.groupBy(*keys)
            .agg(
                F.min_by(
                    F.struct("plot_id", "cd.contains", "cd.dist_m"),
                    F.struct("cd.dist_m", "plot_id"),
                ).alias("b")
            )
            .select(*keys, "b.*")
        )

    # scoped persist: both branches below read it; the previous invocation's
    # cache is released on the next call (no cross-invocation accumulation)
    first = _cache_scoped(cache_name, best(cand))
    ok = F.col("dist_m") <= reach
    far = first.filter(~ok).select(*keys)
    return first.filter(ok).unionByName(best(_full_dim(spark, far, prep, bc, lon_col, lat_col)))


def _join_back(points, out, point_id, lat_col, lon_col, cols, cell_col=None) -> DataFrame:
    """Payload join-back: ``out`` carries (id, lat, lon, *cols, ...); the
    wide payload joins back once, and an already-narrow caller skips it (only
    a caller-supplied ``cell_col`` rejoins, as it never entered ``out``)."""
    narrow = {point_id, lat_col, lon_col} | ({cell_col} if cell_col else set())
    if set(points.columns) != narrow:
        out = points.join(out.select(point_id, *cols), point_id)
    elif cell_col:
        out = points.select(point_id, cell_col).join(out, point_id)
    return out.select(*points.columns, *cols)


def pip_join(
    spark,
    points: DataFrame,
    plots: DataFrame | pd.DataFrame,
    point_id: str = "url",
    lat_col: str = "centroid_lat",
    lon_col: str = "centroid_lon",
    res: int | None = None,
) -> DataFrame:
    """Containment join: one output row per point that lies in (or on the
    boundary of) some polygon, with ``plot_id`` = min matching id.

    ``point_id`` must uniquely key ``points`` (duplicate ids collapse to one
    row in the boundary-dedup aggregation). Output: points' columns + ``plot_id``.
    """
    plots_pdf, prep, bc = _prepare(spark, plots)
    if res is None:
        # containment has no ring-reach tradeoff, so the covering can go one
        # res finer than the kNN default: at sub-polygon cell size each cell
        # is claimed by ~4 polys instead of ~26 (measured at the 864-plot dim:
        # 26 -> 5 candidates/point, pip_join 3.0 s -> 2.1 s at sf0.1)
        res = choose_res(prep, hi=14)
    poly_cells = _poly_cells_df(spark, plots_pdf, res, plot_ids=prep.plot_ids)
    # INNER join: cell misses die inside whole-stage codegen, never shuffled
    cand = _probe(spark, points, point_id, lat_col, lon_col, res).join(
        broadcast(poly_cells), "cell"
    )
    hits = cand.filter(_contains_udf(bc)("poly_idx", lon_col, lat_col))
    # overlap/boundary determinism: min plot_id per point — a map-side-
    # combining aggregate over narrow rows (no window sort; the single
    # shuffle carries one pre-aggregated row per matched point)
    best = hits.groupBy(point_id, lat_col, lon_col).agg(F.min("plot_id").alias("plot_id"))
    return _join_back(points, best, point_id, lat_col, lon_col, ["plot_id"])


def knn_join(
    spark,
    points: DataFrame,
    plots: DataFrame | pd.DataFrame,
    k: int = 1,
    point_id: str = "url",
    lat_col: str = "centroid_lat",
    lon_col: str = "centroid_lon",
    res: int | None = None,
    ring: int = 2,
) -> DataFrame:
    """k nearest polygons per point (distance 0 if containing), re-ranked
    exactly; falls back to a broadcast full-dim pass for points whose k-ring
    finds fewer than k candidates. Output: points' columns + plot_id + dist_m
    + knn_rank."""
    cand, prep, bc, reach = _candidates(
        spark, points, plots, point_id, lat_col, lon_col, res, ring, keep_k=k
    )
    cols = ["plot_id", "dist_m", "knn_rank"]
    if k == 1:
        out = _nearest1(
            spark, cand, prep, bc, reach, point_id, lat_col, lon_col, "knn_best1"
        ).withColumn("knn_rank", F.lit(1))
        return _join_back(points, out, point_id, lat_col, lon_col, cols)

    # one window pass ranks candidates AND counts them (0 for a point whose
    # only row is the null candidate), so exactness routing costs no extra
    # scan; tie-break on distance -> min plot_id
    w = Window.partitionBy(point_id).orderBy(F.col("cd.dist_m").asc(), F.col("plot_id").asc())
    wc = Window.partitionBy(point_id)
    ranked = (
        cand.withColumn("knn_rank", F.row_number().over(w))
        .withColumn("_n_cand", F.count("plot_id").over(wc))
        # distance of the k-th in-ring candidate: the exactness bound below
        # compares it against the ring's guaranteed reach
        .withColumn(
            "_dk", F.max(F.when(F.col("knn_rank") <= k, F.col("cd.dist_m"))).over(wc)
        )
    )
    # cached once: the in-ring answers and the fallback routing both read it
    ranked = _cache_scoped("knn_ranked", ranked)
    # exact = at least k candidates, the k-th within the guaranteed reach;
    # everything else (no or too few candidates, or an out-of-ring polygon
    # could be nearer) re-ranks against the full dim
    exact = (F.col("_n_cand") >= min(k, len(prep.plot_ids))) & (F.col("_dk") <= reach)
    near = ranked.filter(exact & (F.col("knn_rank") <= k))
    keys = (point_id, lat_col, lon_col)
    far = ranked.filter(~exact & (F.col("knn_rank") == 1)).select(*keys)
    fb = (
        _full_dim(spark, far, prep, bc, lon_col, lat_col)
        .withColumn("knn_rank", F.row_number().over(w))
        .filter(F.col("knn_rank") <= k)
    )
    out_cols = [*keys, "plot_id", F.col("cd.dist_m").alias("dist_m"), "knn_rank"]
    out = near.select(*out_cols).unionByName(fb.select(*out_cols))
    return _join_back(points, out, point_id, lat_col, lon_col, cols)


def resolve_plots(
    spark,
    points: DataFrame,
    plots: DataFrame | pd.DataFrame,
    point_id: str = "url",
    lat_col: str = "centroid_lat",
    lon_col: str = "centroid_lon",
    res: int | None = None,
    ring: int = 1,
    cell_col: str | None = None,
) -> DataFrame:
    """The reference's full lookup semantics (``plotid_by_latlon.py:51-77``):
    containment first ('contains'), else nearest polygon ('nearest'); ties on
    either break to min plot_id (engine-frozen determinism rule).

    One pass over the points side: the nearest-1 core (contains = distance
    0, so the nearest candidate IS the containing one when there is one),
    with ``matched_via`` read off the winner. ``cell_col``: a precomputed
    cell ID at exactly ``res`` skips the probe's encode pass.

    Output: points' columns + plot_id + matched_via.
    """
    cand, prep, bc, reach = _candidates(
        spark, points, plots, point_id, lat_col, lon_col, res, ring, keep_k=1,
        cell_col=cell_col,
    )
    out = _nearest1(
        spark, cand, prep, bc, reach, point_id, lat_col, lon_col, "resolve_best"
    ).withColumn("matched_via", F.when(F.col("contains"), "contains").otherwise("nearest"))
    return _join_back(points, out, point_id, lat_col, lon_col, ["plot_id", "matched_via"], cell_col)
