"""Grid-bucketed spatial join.

A predicate UDF in a join condition degenerates to a nested-loop cross join
— unusable beyond toy sizes. The scalable plan (SURVEY §7) is:

1. per-row bbox (pure Catalyst for native encodings — no Python);
2. expand each bbox to the grid cells it covers (``sequence`` + ``explode``,
   map-only);
3. **equi-join on cell id** — hash-shuffle partitionable, AQE-skew-safe;
4. keep each candidate pair only in its **canonical reference cell** (the
   cell containing the min corner of the two bboxes' padded intersection):
   a pair sharing several cells survives exactly once, with **no
   de-duplication shuffle** — the dedup is a map-side filter on the joined
   row, so geometry payloads are never exchanged a second time;
5. exact refine with the geom_ops predicate UDF on candidates only.

At 100 TB this is the textbook shape: the only shuffle keys on cell id, the
Python predicate touches candidate pairs instead of the n×m cross product,
and hot cells (skewed data) split via AQE. Cell size trades shuffle fan-out
(small cells → more rows) against refine cost (big cells → more candidates);
pick ~the median geometry bbox diagonal.

The reference has no spatial join at all (its README.md roadmap stops at
scalar routines); this operator is the Spark-native scale path for the
predicate surface.
"""

from __future__ import annotations

from collections import namedtuple

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from datafusion_spatial_spark.functions.predicates import (
    st_contains,
    st_coveredby,
    st_covers,
    st_distance,
    st_intersects,
    st_within,
)
from datafusion_spatial_spark.exprcache import cached_columns
from datafusion_spatial_spark.functions.scalar import (
    _st_bbox_build,
    _wkb_bbox_udf,
    st_bbox,
)
from datafusion_spatial_spark.meta import GeometryMeta

_PREDICATES = {
    "intersects": st_intersects,
    "contains": st_contains,
    "within": st_within,
    # r11: the covers family — candidate generation is identical to
    # contains/within (cell-intersection superset), only the refine differs
    "covers": st_covers,
    "coveredby": st_coveredby,
}


# A deterministic bbox UDF would run twice per join side: Catalyst pushes
# the isnotnull filter it infers from the bbox prefilter below the side
# projection and inlines the UDF into it. A nondeterministic copy stays in
# the projection. It must be a new UDF: asNondeterministic() flips the UDF
# it is called on, and st_bbox elsewhere needs the deterministic one (a
# nondeterministic bbox over st_geomfromtext re-runs the WKT parse).
_SIDE_BBOX_UDF = F.pandas_udf(
    _wkb_bbox_udf.func, _wkb_bbox_udf.returnType
).asNondeterministic()


def _cells(b: Column, cell_size: float, pad: float = 0.0) -> Column:
    """array<bigint> of flattened cell ids covered by bbox ``b`` (struct
    xmin..ymax), optionally padded (for distance joins)."""
    cs = F.lit(float(cell_size))
    x0 = F.floor((b["xmin"] - pad) / cs).cast("long")
    x1 = F.floor((b["xmax"] + pad) / cs).cast("long")
    y0 = F.floor((b["ymin"] - pad) / cs).cast("long")
    y1 = F.floor((b["ymax"] + pad) / cs).cast("long")
    # interleave into one id: cell = x * 2^32 + y (grid coords fit in int32
    # for any realistic extent/cell-size combination)
    return F.flatten(
        F.transform(
            F.sequence(x0, x1),
            lambda x: F.transform(F.sequence(y0, y1), lambda y: x * F.lit(1 << 32) + y),
        )
    )


def spatial_join(
    left: DataFrame,
    right: DataFrame,
    left_geom: str,
    right_geom: str,
    left_meta: GeometryMeta,
    right_meta: GeometryMeta,
    left_id: str,
    right_id: str,
    cell_size: float,
    predicate: str = "intersects",
    distance: float | None = None,
    with_distance: bool = False,
    pad_override: float | None = None,
) -> DataFrame:
    """Returns (left_id, right_id) pairs satisfying the predicate.

    ``predicate='dwithin'`` uses ``distance`` and pads the left grid cells.
    ``predicate='dwithin_sphere'`` (point×point lon/lat only) refines with
    the haversine distance in METERS; pass the grid pad in DEGREES via
    ``pad_override`` (see :func:`spatial_join_geography`).
    ``with_distance=True`` (dwithin only) adds the exact ``distance``
    column — computed inside the join, so consumers like the k-NN join
    don't re-join geometries by id to get it.
    """
    pad = float(pad_override if pad_override is not None else (distance or 0.0))
    both_points = (
        left_meta.is_native and left_meta.native_type == "Point"
        and right_meta.is_native and right_meta.native_type == "Point"
    )
    # point×point dwithin refines on bbox coords alone — don't shuffle the
    # geometry payload at all
    carry_geom = not (
        both_points and predicate in ("dwithin", "dwithin_sphere")
    )
    def _side_cols(gid: str, geom: str, meta, side: str):
        cols = [F.col(gid).alias(f"__{side}id"),
                _st_bbox_build(F.col(geom), meta, _SIDE_BBOX_UDF).alias(f"__{side}box")]
        if carry_geom:
            cols.insert(1, F.col(geom).alias(f"__{side}geom"))
        return tuple(cols)

    # expression groups below are fully determined by column NAMES +
    # numeric params — memoized (exprcache; ~0.5 s of py4j per build)
    lcols = cached_columns(
        ("sj_side", left_id, left_geom, left_meta, carry_geom, "l"),
        lambda: _side_cols(left_id, left_geom, left_meta, "l"),
    )
    rcols = cached_columns(
        ("sj_side", right_id, right_geom, right_meta, carry_geom, "r"),
        lambda: _side_cols(right_id, right_geom, right_meta, "r"),
    )
    # null bboxes need no filter: their cell array is null, and explode
    # emits no row for it
    lb = left.select(*lcols)
    rb = right.select(*rcols)

    lcell, rcell = cached_columns(
        ("sj_cells", float(cell_size), pad),
        lambda: (
            F.explode(_cells(F.col("__lbox"), cell_size, pad)).alias("__cell"),
            F.explode(_cells(F.col("__rbox"), cell_size)).alias("__cell"),
        ),
    )
    lc = lb.select("*", lcell)
    rc = rb.select("*", rcell)

    # canonical reference cell: the cell of the min corner of the padded
    # bbox intersection.  floor is monotonic, so greatest(floor(a),floor(b))
    # == floor(greatest(a,b)); once the bbox prefilter holds, this cell is
    # inside BOTH sides' cell ranges, so each pair survives exactly once —
    # dedup as a map-side filter, not an exchange.
    def _cand_filters():
        cs = F.lit(float(cell_size))
        canon_x = F.greatest(
            F.floor((F.col("__lbox.xmin") - pad) / cs),
            F.floor(F.col("__rbox.xmin") / cs),
        ).cast("long")
        canon_y = F.greatest(
            F.floor((F.col("__lbox.ymin") - pad) / cs),
            F.floor(F.col("__rbox.ymin") / cs),
        ).cast("long")
        prefilter = (
            (F.col("__lbox.xmin") - pad <= F.col("__rbox.xmax"))
            & (F.col("__rbox.xmin") <= F.col("__lbox.xmax") + pad)
            & (F.col("__lbox.ymin") - pad <= F.col("__rbox.ymax"))
            & (F.col("__rbox.ymin") <= F.col("__lbox.ymax") + pad)
        )
        return prefilter, F.col("__cell") == canon_x * F.lit(1 << 32) + canon_y

    prefilter, canon_filter = cached_columns(
        ("sj_cand", float(cell_size), pad), _cand_filters
    )
    cand = (
        lc.join(rc, "__cell")
        # bbox prefilter kills most false candidates JVM-side
        .filter(prefilter)
        .filter(canon_filter)
        .select(
            "__lid", "__rid",
            *(("__lgeom", "__rgeom") if carry_geom else ("__lbox", "__rbox")),
        )
    )

    return _refine(
        cand, left_meta, right_meta, left_id, right_id,
        predicate, distance, with_distance, both_points,
    )


def _refine(
    cand: DataFrame,
    left_meta: GeometryMeta,
    right_meta: GeometryMeta,
    left_id: str,
    right_id: str,
    predicate: str,
    distance: float | None,
    with_distance: bool,
    both_points: bool,
) -> DataFrame:
    """Exact-refine candidate pairs (columns __lid/__rid and __lgeom/__rgeom
    or __lbox/__rbox) — shared by the shuffle and bucketed join paths."""
    if predicate == "dwithin_sphere":
        if distance is None:
            raise ValueError("dwithin_sphere requires distance= (meters)")
        if both_points:
            from datafusion_spatial_spark.functions.geodesic import (
                _haversine_expr,
            )

            dcol = cached_columns(
                ("sj_hav",),
                lambda: _haversine_expr(
                    F.col("__lbox.xmin"), F.col("__lbox.ymin"),
                    F.col("__rbox.xmin"), F.col("__rbox.ymin"),
                ),
            )
        else:
            # arbitrary geometries: exact vertex-vs-arc spherical minimum
            # (candidate pairs only — the degree grid already pruned)
            from datafusion_spatial_spark.functions.geodesic import (
                st_distancesphere_geoms,
            )

            dcol = cached_columns(
                ("sj_sphere_dist", left_meta, right_meta),
                lambda: st_distancesphere_geoms(
                    "__lgeom", "__rgeom", left_meta, right_meta
                ),
            )
        if with_distance:
            return (
                cand.withColumn("__dist", dcol)
                .filter(F.col("__dist") <= F.lit(float(distance)))
                .select(
                    F.col("__lid").alias(left_id),
                    F.col("__rid").alias(right_id),
                    F.col("__dist").alias("distance_m"),
                )
            )
        return cand.filter(dcol <= F.lit(float(distance))).select(
            F.col("__lid").alias(left_id), F.col("__rid").alias(right_id)
        )
    if predicate == "dwithin":
        if distance is None:
            raise ValueError("dwithin requires distance=")
        if both_points:
            # pure-Catalyst refine: a point's bbox IS the point, so the
            # exact distance needs no geometry decode and no Python — the
            # whole join plan stays inside whole-stage codegen
            def _pt_dist():
                dx = F.col("__lbox.xmin") - F.col("__rbox.xmin")
                dy = F.col("__lbox.ymin") - F.col("__rbox.ymin")
                return F.sqrt(dx * dx + dy * dy)

            dcol = cached_columns(("sj_pt_dist",), _pt_dist)
        else:
            dcol = cached_columns(
                ("sj_geom_dist", left_meta, right_meta),
                lambda: st_distance("__lgeom", "__rgeom", left_meta, right_meta),
            )
        if with_distance:
            return (
                cand.withColumn("__dist", dcol)
                .filter(F.col("__dist") <= F.lit(float(distance)))
                .select(
                    F.col("__lid").alias(left_id),
                    F.col("__rid").alias(right_id),
                    F.col("__dist").alias("distance"),
                )
            )
        keep = dcol <= F.lit(float(distance))
    else:
        try:
            pred = _PREDICATES[predicate]
        except KeyError:
            raise ValueError(
                f"unknown predicate {predicate!r}; one of {sorted(_PREDICATES)} or 'dwithin'"
            ) from None
        keep = cached_columns(
            ("sj_pred", predicate, left_meta, right_meta),
            lambda: pred("__lgeom", "__rgeom", left_meta, right_meta),
        )

    return cand.filter(keep).select(
        F.col("__lid").alias(left_id), F.col("__rid").alias(right_id)
    )


def spatial_join_broadcast(
    left: DataFrame,
    right: DataFrame,
    left_geom: str,
    right_geom: str,
    left_meta: GeometryMeta,
    right_meta: GeometryMeta,
    left_id: str,
    right_id: str,
    predicate: str = "intersects",
) -> DataFrame:
    """Broadcast variant for a SMALL right side (dimension polygons, admin
    boundaries): broadcast-nested-loop with a JVM-side bbox prefilter, then
    the exact predicate on survivors. No shuffle at all — the right plan
    when |right| ≪ |left| and right fits in the broadcast threshold."""
    from pyspark.sql.functions import broadcast

    try:
        pred = _PREDICATES[predicate]
    except KeyError:
        raise ValueError(
            f"unknown predicate {predicate!r}; one of {sorted(_PREDICATES)}"
        ) from None
    lb = left.select(
        F.col(left_id).alias("__lid"),
        F.col(left_geom).alias("__lgeom"),
        st_bbox(left_geom, left_meta).alias("__lbox"),
    ).filter(F.col("__lbox").isNotNull())
    rb = right.select(
        F.col(right_id).alias("__rid"),
        F.col(right_geom).alias("__rgeom"),
        st_bbox(right_geom, right_meta).alias("__rbox"),
    ).filter(F.col("__rbox").isNotNull())
    cand = lb.join(
        broadcast(rb),
        (F.col("__lbox.xmin") <= F.col("__rbox.xmax"))
        & (F.col("__rbox.xmin") <= F.col("__lbox.xmax"))
        & (F.col("__lbox.ymin") <= F.col("__rbox.ymax"))
        & (F.col("__rbox.ymin") <= F.col("__lbox.ymax")),
    )
    return cand.filter(
        pred("__lgeom", "__rgeom", left_meta, right_meta)
    ).select(F.col("__lid").alias(left_id), F.col("__rid").alias(right_id))


def estimate_cell_size(
    df: DataFrame,
    geom_col: str,
    meta: GeometryMeta,
    sample_fraction: float = 0.01,
    min_rows: int = 200,
) -> float:
    """Pick a grid cell size ≈ the median bbox diagonal of a sample — the
    balance point between shuffle fan-out (small cells) and candidate
    explosion (big cells). Point data (zero-extent bboxes) falls back to
    1/100 of the sampled extent's diagonal."""
    b = st_bbox(geom_col, meta)

    def _stats(frame):
        return frame.agg(
            F.expr("percentile(sqrt(power(b.xmax - b.xmin, 2) + power(b.ymax - b.ymin, 2)), 0.5)").alias("med_diag"),
            F.min("b.xmin").alias("x0"),
            F.max("b.xmax").alias("x1"),
            F.min("b.ymin").alias("y0"),
            F.max("b.ymax").alias("y1"),
            F.count("*").alias("n"),
        ).collect()[0]

    sampled = (
        df.sample(fraction=min(1.0, sample_fraction), seed=42)
        .select(b.alias("b"))
        .filter(F.col("b").isNotNull())
        .limit(100_000)
    )
    stats = _stats(sampled)
    if stats.n < min_rows:
        # tiny frame (or a too-thin sample): scan up to 100k rows directly
        stats = _stats(
            df.select(b.alias("b")).filter(F.col("b").isNotNull()).limit(100_000)
        )
    if stats.n == 0:
        raise ValueError("no non-null geometries sampled; pass cell_size explicitly")
    if stats.med_diag and stats.med_diag > 0:
        return float(stats.med_diag)
    import math

    extent_diag = math.hypot(stats.x1 - stats.x0, stats.y1 - stats.y0)
    return max(extent_diag / 100.0, 1e-9)


# ---------------------------------------------------------------------------
# Co-located spatial join: cell-bucketed layout → zero-exchange candidates
# ---------------------------------------------------------------------------

def write_spatial_bucketed(
    df: DataFrame,
    geom_col: str,
    meta: GeometryMeta,
    id_col: str,
    table: str,
    cell_size: float,
    num_buckets: int = 32,
    path: str | None = None,
    pad: float = 0.0,
    mode: str = "overwrite",
) -> None:
    """Materialize a geometry table's grid-cell explosion as a table
    BUCKETED and SORTED by cell id — the co-located spatial-join layout.

    Two tables written with the same grid (``cell_size``) and bucket count
    join on cell id with ZERO exchange (and zero sort): the candidate join
    is the only shuffle in :func:`spatial_join`, so for repeated joins
    against the same corpora this layout removes the shuffle entirely —
    the spatial analog of bucketing a fact table on its join key, and at
    100 TB the difference between re-shuffling the corpus per query and
    reading co-located buckets.

    ``pad`` pre-pads the cell explosion; write the LEFT side of future
    dwithin joins with ``pad`` = the largest distance it should serve (a
    larger pad only adds bbox-prefiltered false candidates, never wrong
    results). Grid parameters are recorded in table properties and
    validated at join time.
    """
    from datafusion_spatial_spark.operators.storage import write_bucketed

    dfx = (
        df.select(
            F.col(id_col).alias("id"),
            F.col(geom_col).alias("geom"),
            st_bbox(geom_col, meta).alias("box"),
        )
        .filter(F.col("box").isNotNull())
        .withColumn("cell", F.explode(_cells(F.col("box"), cell_size, pad)))
    )
    write_bucketed(
        dfx, table, ["cell"], num_buckets, sort_cols=["cell"],
        mode=mode, path=path,
    )
    df.sparkSession.sql(
        f"ALTER TABLE {table} SET TBLPROPERTIES ("
        f"'spatial.cell_size'='{float(cell_size)!r}', "
        f"'spatial.pad'='{float(pad)!r}', "
        f"'spatial.num_buckets'='{int(num_buckets)}')"
    )


def _table_grid_props(spark, table: str) -> dict:
    rows = spark.sql(f"SHOW TBLPROPERTIES {table}").collect()
    return {r["key"]: r["value"] for r in rows}


def spatial_join_bucketed(
    spark,
    left_table: str,
    right_table: str,
    left_meta: GeometryMeta,
    right_meta: GeometryMeta,
    left_id: str,
    right_id: str,
    predicate: str = "intersects",
    distance: float | None = None,
    with_distance: bool = False,
    hint: str | None = None,
) -> DataFrame:
    """Grid spatial join over two :func:`write_spatial_bucketed` tables.

    Same semantics and canonical-cell dedup as :func:`spatial_join`, but
    the equi-join on cell id rides the bucketed layout: matching bucket
    spec on both sides → no Exchange, and the sortBy(cell) makes the
    sort-merge join sort-free too. Validates that both tables share the
    grid, and that a dwithin ``distance`` does not exceed the pad the
    left table was written with (the cell explosion would under-reach).

    ``hint`` (e.g. ``"merge"``) pins the join strategy — useful to keep
    AQE from choosing broadcast on small inputs when demonstrating the
    zero-exchange plan.
    """
    lp = _table_grid_props(spark, left_table)
    rp = _table_grid_props(spark, right_table)
    try:
        cs_l = float(lp["spatial.cell_size"])
        cs_r = float(rp["spatial.cell_size"])
    except KeyError:
        raise ValueError(
            "both tables must be written by write_spatial_bucketed "
            "(missing spatial.cell_size property)"
        ) from None
    if cs_l != cs_r:
        raise ValueError(
            f"grid mismatch: {left_table} cell_size={cs_l} vs "
            f"{right_table} cell_size={cs_r}"
        )
    if predicate == "dwithin_sphere":
        # The meters distance is NOT a degree pad: using it as one skips
        # the left-pad validation and silently misses pairs beyond the
        # write pad (and the canonical-cell filter would use meters as
        # degrees). Use spatial_join_geography for meter-radius joins.
        raise NotImplementedError(
            "spatial_join_bucketed does not support dwithin_sphere — the "
            "meters distance cannot drive the degree grid; use "
            "spatial_join_geography (shuffle grid) instead"
        )
    pad = float(distance or 0.0)
    left_pad = float(lp.get("spatial.pad", "0.0"))
    if predicate == "dwithin" and pad > left_pad:
        raise ValueError(
            f"distance={pad} exceeds the pad={left_pad} {left_table} was "
            "written with; rewrite the left table with a larger pad"
        )
    cell_size = cs_l
    left = spark.table(left_table).alias("l")
    right = spark.table(right_table).alias("r")
    if hint:
        left = left.hint(hint)
    cs = F.lit(float(cell_size))
    canon_x = F.greatest(
        F.floor((F.col("l.box.xmin") - pad) / cs),
        F.floor(F.col("r.box.xmin") / cs),
    ).cast("long")
    canon_y = F.greatest(
        F.floor((F.col("l.box.ymin") - pad) / cs),
        F.floor(F.col("r.box.ymin") / cs),
    ).cast("long")
    both_points = (
        left_meta.is_native and left_meta.native_type == "Point"
        and right_meta.is_native and right_meta.native_type == "Point"
    )
    carry_geom = not (both_points and predicate == "dwithin")
    cand = (
        left.join(right, F.col("l.cell") == F.col("r.cell"))
        .filter(
            (F.col("l.box.xmin") - pad <= F.col("r.box.xmax"))
            & (F.col("r.box.xmin") <= F.col("l.box.xmax") + pad)
            & (F.col("l.box.ymin") - pad <= F.col("r.box.ymax"))
            & (F.col("r.box.ymin") <= F.col("l.box.ymax") + pad)
        )
        .filter(F.col("l.cell") == canon_x * F.lit(1 << 32) + canon_y)
        .select(
            F.col("l.id").alias("__lid"),
            F.col("r.id").alias("__rid"),
            *(
                (F.col("l.geom").alias("__lgeom"),
                 F.col("r.geom").alias("__rgeom"))
                if carry_geom
                else (F.col("l.box").alias("__lbox"),
                      F.col("r.box").alias("__rbox"))
            ),
        )
    )
    return _refine(
        cand, left_meta, right_meta, left_id, right_id,
        predicate, distance, with_distance, both_points,
    )


# Per-side lat/lon aggregates driving the geography join's pad and
# seam-leg decisions (``n`` rides along for loop callers that also need
# the row count). Produced by geo_side_stats / _geo_stats_finalize;
# accepted by spatial_join_geography via the private _lstats/_rstats
# params so iterating callers (the kNN radius-doubling loop) can hoist
# the loop-invariant side's stats scan.
GeoSideStats = namedtuple("GeoSideStats", "mx sp top bot xe xw n")


def _geo_stat_frame(df, geom_col, meta, max_abs_lat, side):
    bb = st_bbox(geom_col, meta)
    return df.select(
        F.lit(side).alias("side"),
        F.greatest(F.abs(bb["ymin"]), F.abs(bb["ymax"])).alias("mx"),
        # lon span only over rows that touch the mid band: the degree
        # grid (and its arc-bulge math) never sees cap-interior rows,
        # and a short antimeridian-crossing segment near the pole has
        # a meaningless 350°+ bbox span that must not poison the
        # mid-leg contract
        F.when(
            (bb["ymin"] <= max_abs_lat) & (bb["ymax"] >= -max_abs_lat),
            bb["xmax"] - bb["xmin"],
        ).alias("sp"),
        bb["ymax"].alias("top"),
        bb["ymin"].alias("bot"),
        # mid-band lon extremes drive the antimeridian seam legs
        # (r14): only rows this close to ±180 can pair across it
        F.when(
            (bb["ymin"] <= max_abs_lat) & (bb["ymax"] >= -max_abs_lat),
            bb["xmax"],
        ).alias("xe"),
        F.when(
            (bb["ymin"] <= max_abs_lat) & (bb["ymax"] >= -max_abs_lat),
            bb["xmin"],
        ).alias("xw"),
    )


def _GEO_STAT_AGGS():
    return (
        F.max("mx").alias("mx"),
        F.max("sp").alias("sp"),
        F.max("top").alias("top"),
        F.min("bot").alias("bot"),
        F.max("xe").alias("xe"),
        F.min("xw").alias("xw"),
        F.count("*").alias("n"),
    )


def _geo_stats_finalize(row) -> GeoSideStats:
    """Null/empty-side handling identical to the original per-side collect:
    an empty side (no group row / all-null aggregates) yields the neutral
    extremes that disable its seam/cap legs."""
    get = (lambda k: None) if row is None else (lambda k: row[k])
    top = get("top")
    bot = get("bot")
    xe = get("xe")
    xw = get("xw")
    return GeoSideStats(
        mx=float(get("mx") or 0.0),
        sp=float(get("sp") or 0.0),
        top=-90.0 if top is None else float(top),
        bot=90.0 if bot is None else float(bot),
        xe=-180.0 if xe is None else float(xe),
        xw=180.0 if xw is None else float(xw),
        n=int(get("n") or 0),
    )


def geo_side_stats(df, geom_col, meta, max_abs_lat: float = 80.0) -> GeoSideStats:
    """ONE-job stats scan for one side of a geography join (see
    GeoSideStats). Loop callers compute the invariant side once and the
    varying side per round, passing both to ``spatial_join_geography``."""
    rows = (
        _geo_stat_frame(df, geom_col, meta, max_abs_lat, 0)
        .groupBy("side")
        .agg(*_GEO_STAT_AGGS())
        .collect()
    )
    return _geo_stats_finalize(rows[0] if rows else None)


def geo_pair_stats(
    left, left_geom, left_meta, right, right_geom, right_meta,
    max_abs_lat: float = 80.0,
) -> "tuple[GeoSideStats, GeoSideStats]":
    """Both sides' stats in ONE side-tagged union aggregation job (the
    r15 fusion, exposed for loop callers): computing it also materializes
    any lazy checkpoints backing ``left``/``right`` in-lineage, so a kNN
    prologue gets both side frames AND both stats for a single action."""
    stat_rows = (
        _geo_stat_frame(left, left_geom, left_meta, max_abs_lat, 0)
        .unionByName(
            _geo_stat_frame(right, right_geom, right_meta, max_abs_lat, 1)
        )
        .groupBy("side")
        .agg(*_GEO_STAT_AGGS())
        .collect()
    )
    by_side = {int(r["side"]): r for r in stat_rows}
    return (
        _geo_stats_finalize(by_side.get(0)),
        _geo_stats_finalize(by_side.get(1)),
    )


def geo_stat_observe_aggs(
    geom_col, meta, max_abs_lat: float = 80.0, where=None, suffix: str = ""
):
    """The ``_geo_stat_frame`` + ``_GEO_STAT_AGGS`` aggregates fused into
    one tuple of aggregate expressions over ``st_bbox(geom_col)``, for
    ``DataFrame.observe`` (r16): a loop caller attaches them to a frame it
    materializes anyway (an eager localCheckpoint), so the side's stats
    ride along as observed metrics instead of costing a separate
    aggregation job per round. Feed the resulting metrics dict to
    :func:`_geo_stats_finalize` (it accepts any ``row[k]``-indexable).
    Aggregate-by-aggregate identical to the frame path: the ``when``
    without ``otherwise`` yields nulls that min/max skip, exactly like the
    frame's null columns.

    ``where`` restricts the aggregates to matching rows (non-matching
    rows contribute null, which min/max skip and the conditional count
    excludes) and ``suffix`` disambiguates the metric names — together
    they let ONE observation carry the stats of both sides of a
    side-tagged union."""
    bb = st_bbox(geom_col, meta)
    in_band = (bb["ymin"] <= max_abs_lat) & (bb["ymax"] >= -max_abs_lat)

    def gate(expr):
        return expr if where is None else F.when(where, expr)

    return (
        F.max(
            gate(F.greatest(F.abs(bb["ymin"]), F.abs(bb["ymax"])))
        ).alias("mx" + suffix),
        F.max(gate(F.when(in_band, bb["xmax"] - bb["xmin"]))).alias(
            "sp" + suffix
        ),
        F.max(gate(bb["ymax"])).alias("top" + suffix),
        F.min(gate(bb["ymin"])).alias("bot" + suffix),
        F.max(gate(F.when(in_band, bb["xmax"]))).alias("xe" + suffix),
        F.min(gate(F.when(in_band, bb["xmin"]))).alias("xw" + suffix),
        F.count(gate(F.lit(1))).alias("n" + suffix),
    )


def spatial_join_geography(
    left: DataFrame,
    right: DataFrame,
    left_geom: str,
    right_geom: str,
    left_meta: GeometryMeta,
    right_meta: GeometryMeta,
    left_id: str,
    right_id: str,
    meters: float,
    cell_size_deg: float | None = None,
    with_distance: bool = False,
    max_abs_lat: float = 80.0,
    _allow_polar: bool = True,
    wide_pad: str = "raise",
    _lstats: "GeoSideStats | None" = None,
    _rstats: "GeoSideStats | None" = None,
) -> DataFrame:
    """dwithin-in-METERS join for EPSG:4326 geometry columns.

    ``wide_pad`` picks the behavior when the prefilter pad exceeds the
    89.9° the antimeridian seam slices can cover (thresholds ≳1500 km at
    high mid-band latitudes): ``"raise"`` (default — never silently
    wrong) or ``"cross"`` — an exact-refine cross join, correct at any
    threshold, chosen by callers like the kNN radius-doubling loop whose
    late rings legitimately reach planet-scale radii (at such thresholds
    most of the planet pairs anyway, so grid pruning had nothing left to
    prune).

    Same grid-join shape as :func:`spatial_join` — the grid lives in
    degrees with a latitude-safe pad (lon degrees shrink by cos(lat), so
    the pad is sized for the data's extreme latitude; a too-large pad
    only adds bbox-prefiltered false candidates). Point×point pairs
    refine with the pure-Catalyst haversine (zero Python in the plan);
    any other geometry combination refines with the exact vertex-vs-arc
    spherical minimum distance under an Arrow-batched kernel, still only
    on grid candidates.

    **Polar caps** (round 7, VERDICT r6 #4): data beyond ``max_abs_lat``
    no longer raises. Rows reaching the cap zone route through a polar
    stereographic plane (:func:`_polar_cap_join`) where the degree grid is
    replaced by a planar grid in projected meters — the stereographic map
    is conformal with scale k(φ)=2/(1+sin|φ|) ∈ [1, k_max], so
    ``planar ≤ k_max·spherical`` gives a sound prefilter pad, and the
    antimeridian seam disappears entirely. Mid-latitude rows keep this
    degree-grid path (its guard relaxed to 88° for rows that straddle the
    cap boundary), and pairs found by both legs dedupe on ids. Refinement
    is the same exact spherical kernel everywhere, so leg routing can
    never change a pair's measured distance.
    """
    import math

    from datafusion_spatial_spark.functions.scalar import st_bbox

    R = 6371008.8  # must match _haversine_expr / dwithin_sphere refine
    # ONE stats action for both sides (r15 optimization: the two per-side
    # collects ran serially as separate jobs; a side-tagged union computes
    # the same aggregates in a single job, both scans concurrent). Callers
    # that loop (the kNN radius-doubling rounds) pass precomputed
    # ``_lstats``/``_rstats`` instead — hoisting the loop-invariant right
    # side's stats scan out of the loop entirely.
    if _lstats is not None and _rstats is not None:
        side_stats = [_lstats, _rstats]
    else:
        side_stats = list(
            geo_pair_stats(
                left, left_geom, left_meta,
                right, right_geom, right_meta, max_abs_lat,
            )
        )
    stats = [s.mx for s in side_stats]
    spans = [s.sp for s in side_stats]
    tops = [s.top for s in side_stats]
    bots = [s.bot for s in side_stats]
    easts = [s.xe for s in side_stats]
    wests = [s.xw for s in side_stats]
    lat = max(stats)
    lon_span = max(spans)
    if lat > max_abs_lat:
        if not _allow_polar:
            raise ValueError(
                f"data reaches |lat|={lat:.1f}° > {max_abs_lat}° — the "
                "degree-grid pad diverges near the poles; split "
                "geometries that span from the mid latitudes into the "
                "polar cap"
            )
        return _geography_join_with_polar_caps(
            left, right, left_geom, right_geom, left_meta, right_meta,
            left_id, right_id, meters, cell_size_deg, with_distance,
            max_abs_lat, lon_span, tops, bots, wide_pad,
        )
    # Size the pad on the refine's OWN sphere (haversine, R=6371008.8 m),
    # not on ellipsoidal meters-per-degree constants: a mismatch drops
    # near-threshold east-west pairs at high latitude (the prefilter must
    # never be tighter than the refine). Exact haversine inversions:
    #   |Δlat| ≤ degrees(d/R)  (meridian distance ≤ great-circle distance)
    #   sin²(d/2R) ≥ cos²(lat_max)·sin²(Δλ/2)  ⇒
    #   |Δλ| ≤ 2·asin(min(1, sin(d/2R) / cos(lat_max)))
    R = 6371008.8  # must match _haversine_expr / dwithin_sphere refine
    pad_lat = math.degrees(meters / R)
    # Arc-bulge allowance: the refine measures distance to great-circle
    # ARCS, and an arc between two vertices bulges poleward beyond the
    # vertex bbox the grid prunes on — an east-west segment spanning Δλ
    # at latitude φ reaches max latitude atan(tan φ / cos(Δλ/2)). The
    # max observed per-geometry bbox lon span bounds any single segment's
    # Δλ, so padding lat by that worst-case excess keeps near-threshold
    # pairs in the candidate set (the excess only widens the prefilter —
    # false candidates are removed by the exact refine).
    # Two distinct quantities (r7 review fix — they differ because the
    # excess e(φ) peaks at φ* ≈ 43–45°, not at the data's max latitude):
    #   apex_excess = e(lat): how far past the DATA's max |lat| any arc
    #     reaches (apex latitude φ + e(φ) is increasing in φ, so the
    #     global max apex is at lat) — sizes pad_lon and the contract
    #     check;
    #   bulge = max e(φ) over φ ≤ lat: the worst bbox-vs-arc latitude
    #     gap for ANY geometry in the data — pads the prefilter.
    apex_excess = 0.0
    bulge = 0.0
    if lon_span > 0.0 and lat > 0.0:
        bulge = _arc_bulge_deg(lat, lon_span)  # raises on span ≥ 179°
        apex_excess = _arc_excess_at(lat, lon_span)
        if lat + apex_excess > max_abs_lat + pad_lat:
            raise ValueError(
                f"arc bulge reaches |lat|≈{lat + apex_excess:.1f}° — "
                f"beyond the {max_abs_lat}° geography-join contract; "
                "split long east-west segments or use a polar-cap "
                "projection"
            )
    # pad_lon sized at the BULGED max latitude (arcs reach
    # lat + apex_excess, where lon degrees are shortest)
    lat_eff = min(lat + apex_excess, 89.9)
    s = math.sin(meters / (2.0 * R)) / math.cos(math.radians(lat_eff))
    pad_lon = math.degrees(2.0 * math.asin(min(1.0, s)))
    pad_deg = (max(pad_lat, pad_lon) + bulge) * (1.0 + 1e-9)
    cell = cell_size_deg if cell_size_deg is not None else 4 * pad_deg
    main = spatial_join(
        left, right, left_geom, right_geom, left_meta, right_meta,
        left_id, right_id, cell_size=cell, predicate="dwithin_sphere",
        distance=meters, with_distance=with_distance,
        pad_override=pad_deg,
    )
    # Antimeridian seam legs (r14): the degree grid is a plain number
    # line, so a pair straddling ±180° (lon +179.95 vs −179.97) lands in
    # far-apart cells and the main leg never sees it. A straddling pair
    # within ``meters`` must have its east row's bbox.xmax ≥ 180 − pad
    # and its west partner's bbox.xmin ≤ −180 + pad (pad_deg ≥ pad_lon =
    # the widest lon angle a threshold distance spans anywhere in the
    # data, and a non-polar great-circle arc's lon range stays inside
    # its vertex bbox), so each seam leg shifts the tiny east slice by
    # −360° (st_translate — Catalyst for native encodings) and re-runs
    # the same grid join against the west slice. The haversine/spherical
    # refine is invariant under a ±360° lon shift of either operand
    # (sin²(Δλ/2) is 360°-periodic), so leg routing never changes a
    # pair's measured distance. Pair-disjointness needs no dedup: the
    # main leg cannot emit a cross-seam pair (cell keys on opposite
    # signs of the number line never collide), and for seam < 180° no
    # row is in both the east and west slice, so leg1 (left-east ×
    # right-west) and leg2 (left-west × right-east) are disjoint too.
    seam = pad_deg
    legs = [main]
    # a_is_left routes output column order explicitly (not `a_df is
    # left`): in a self-join both sides are the same object, and identity
    # routing would send leg 2 down the leg-1 branch — duplicating
    # east-west cross-seam pairs while never emitting the mirrored ones.
    for a_is_left, a_df, a_col, a_meta, a_east, b_df, b_col, b_meta, b_west in (
        (True, left, left_geom, left_meta, easts[0],
         right, right_geom, right_meta, wests[1]),
        (False, right, right_geom, right_meta, easts[1],
         left, left_geom, left_meta, wests[0]),
    ):
        if a_east < 180.0 - seam or b_west > -180.0 + seam:
            continue  # no rows close enough to the seam on this side
        if pad_deg > 89.9:
            # This leg would run, but its slice filters cover only
            # pad_deg of longitude on each side of ±180° up to 89.9° — a
            # wider pad (≈>1500 km thresholds at high mid-band latitudes)
            # would under-cover and silently drop qualifying cross-seam
            # pairs. Raise (matching the lon-span and arc-bulge guards'
            # never-silently-wrong policy) unless the caller opted into
            # the exact cross refine. Data that never nears the seam
            # skips the legs above instead: the main grid leg is complete
            # for every non-wrapping pair at ANY pad, so wide thresholds
            # on inland data keep working (r15 review fix — the first
            # guard raised unconditionally).
            if wide_pad == "cross":
                return _geography_cross_exact(
                    left, right, left_geom, right_geom, left_meta,
                    right_meta, left_id, right_id, meters, with_distance,
                )
            raise ValueError(
                f"geography-join prefilter pad {pad_deg:.1f}° exceeds "
                "the 89.9° antimeridian seam-slice limit and the data "
                "reaches the seam — reduce the distance threshold, "
                "restrict the data's longitude range, or pass "
                "wide_pad='cross' for the exact cross-join fallback"
            )
        from datafusion_spatial_spark.functions.transforms import st_translate

        bba = st_bbox(a_col, a_meta)
        bbb = st_bbox(b_col, b_meta)
        east = a_df.filter(bba["xmax"] >= 180.0 - seam).withColumn(
            a_col, st_translate(a_col, -360.0, 0.0, a_meta)
        )
        west = b_df.filter(bbb["xmin"] <= -180.0 + seam)
        if a_is_left:
            leg = spatial_join(
                east, west, a_col, b_col, a_meta, b_meta,
                left_id, right_id, cell_size=cell,
                predicate="dwithin_sphere", distance=meters,
                with_distance=with_distance, pad_override=pad_deg,
            )
        else:
            leg = spatial_join(
                west, east, b_col, a_col, b_meta, a_meta,
                left_id, right_id, cell_size=cell,
                predicate="dwithin_sphere", distance=meters,
                with_distance=with_distance, pad_override=pad_deg,
            )
        legs.append(leg)
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionAll(leg)
    return out


# ---------------------------------------------------------------------------
# Polar-cap geography joins (round 7 — VERDICT r6 #4)
# ---------------------------------------------------------------------------

_R_SPHERE = 6371008.8  # matches _haversine_expr / dwithin_sphere refine


def _geography_cross_exact(
    left, right, left_geom, right_geom, left_meta, right_meta,
    left_id, right_id, meters, with_distance,
):
    """Exact dwithin-in-meters as a cross join + spherical refine — the
    ``wide_pad="cross"`` fallback for thresholds too wide for the degree
    grid. No prefilter: at these radii (≳1500 km) most of the planet is a
    candidate, so there is nothing useful to prune; correctness needs no
    seam or cap handling because the refine is the same exact spherical
    kernel the grid paths use."""
    from datafusion_spatial_spark.functions.geodesic import st_distancesphere

    a = left.select(
        F.col(left_id).alias("__xl_id"), F.col(left_geom).alias("__xl_g")
    ).filter(F.col("__xl_g").isNotNull())
    b = right.select(
        F.col(right_id).alias("__xr_id"), F.col(right_geom).alias("__xr_g")
    ).filter(F.col("__xr_g").isNotNull())
    dcol = st_distancesphere("__xl_g", "__xr_g", left_meta, right_meta)
    out = (
        a.crossJoin(b)
        .withColumn("__dist", dcol)
        .filter(F.col("__dist") <= F.lit(float(meters)))
    )
    cols = [
        F.col("__xl_id").alias(left_id),
        F.col("__xr_id").alias(right_id),
    ]
    if with_distance:
        cols.append(F.col("__dist").alias("distance_m"))
    return out.select(*cols)


def _geography_join_with_polar_caps(
    left, right, left_geom, right_geom, left_meta, right_meta,
    left_id, right_id, meters, cell_size_deg, with_distance,
    cap_lat, lon_span, tops, bots, wide_pad="raise",
):
    """Split a geography join whose data crosses ``cap_lat`` into up to
    three legs — mid band (degree grid), north cap, south cap
    (stereographic planar grids) — and union the pair results.

    Leg membership (north; south mirrors):

    * cap leg: rows whose bbox top reaches ``cap_lat − reach``, where
      ``reach`` = the meters threshold in degrees of latitude + the
      arc-bulge allowance — any row that could pair with cap-interior
      data. Cap rows must stay in their hemisphere (a geometry spanning
      from the equator into a polar cap raises — split it first).
    * mid leg: rows whose bbox touches [−cap_lat, cap_lat]. Rows that
      straddle the boundary appear in BOTH legs (the mid leg's own guard
      is relaxed to 88° for them), but the legs are PAIR-disjoint: a cap
      leg keeps only pairs with at least one row entirely inside its cap
      (``mid_limit``), so the union needs no dedup and id columns need
      not be unique row keys.

    Completeness: a pair within ``meters`` whose two rows' tops are both
    below ``cap_lat − reach`` is all-mid; if one row lies entirely above
    ``cap_lat`` every partner must reach ``cap_lat − reach`` (the pad +
    max-arc-bulge bound), so the pair is all-cap; every remaining shape
    has both rows touching the mid band — mid territory, dropped by the
    cap legs' disjointness filter. Both legs refine with the same exact
    spherical kernel (_refine), so the union is exactly the dwithin set.
    """
    import math

    from datafusion_spatial_spark.functions.scalar import st_bbox

    pad_lat = math.degrees(meters / _R_SPHERE)
    bulge = _arc_bulge_deg(cap_lat, lon_span)
    reach = (pad_lat + bulge) * (1.0 + 1e-9)
    cap_lo = cap_lat - reach

    bbl = st_bbox(left_geom, left_meta)
    bbr = st_bbox(right_geom, right_meta)
    legs = []

    # mid leg — rows touching the mid band on both sides
    if min(bots) <= cap_lat and max(tops) >= -cap_lat:
        legs.append(
            spatial_join_geography(
                left.filter((bbl["ymin"] <= cap_lat) & (bbl["ymax"] >= -cap_lat)),
                right.filter((bbr["ymin"] <= cap_lat) & (bbr["ymax"] >= -cap_lat)),
                left_geom, right_geom, left_meta, right_meta,
                left_id, right_id, meters,
                cell_size_deg=cell_size_deg, with_distance=with_distance,
                max_abs_lat=88.0, _allow_polar=False, wide_pad=wide_pad,
            )
        )
    mid_created = bool(legs)
    # north cap
    if min(tops) >= cap_lo and max(tops) > cap_lat:
        legs.append(
            _polar_cap_join(
                left.filter(bbl["ymax"] >= cap_lo),
                right.filter(bbr["ymax"] >= cap_lo),
                left_geom, right_geom, left_meta, right_meta,
                left_id, right_id, meters, south=False,
                with_distance=with_distance,
                mid_limit=cap_lat if mid_created else None,
            )
        )
    # south cap
    if max(bots) <= -cap_lo and min(bots) < -cap_lat:
        legs.append(
            _polar_cap_join(
                left.filter(bbl["ymin"] <= -cap_lo),
                right.filter(bbr["ymin"] <= -cap_lo),
                left_geom, right_geom, left_meta, right_meta,
                left_id, right_id, meters, south=True,
                with_distance=with_distance,
                mid_limit=cap_lat if mid_created else None,
            )
        )
    if not legs:
        # sides live in opposite/unreachable bands: empty result with the
        # right schema
        legs = [
            spatial_join_geography(
                left.limit(0), right.limit(0),
                left_geom, right_geom, left_meta, right_meta,
                left_id, right_id, meters,
                with_distance=with_distance, max_abs_lat=88.0,
                _allow_polar=False,
            )
        ]
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    # no dedup: the legs are PAIR-DISJOINT by construction — cap legs
    # drop pairs where both rows touch the mid band (the mid leg's
    # territory, via mid_limit), so row multiplicity is preserved even
    # when id columns are not unique keys
    return out


def _arc_excess_at(lat: float, lon_span: float) -> float:
    """Poleward excess (degrees) of an arc whose VERTICES sit at ``lat``°
    spanning ``lon_span``° of longitude: apex = atan(tan φ / cos(Δλ/2))."""
    import math

    if lon_span <= 0.0 or lat <= 0.0:
        return 0.0
    phi = math.radians(min(lat, 89.9))
    half = math.radians(lon_span) / 2.0
    return math.degrees(math.atan(math.tan(phi) / math.cos(half)) - phi)


def _arc_bulge_deg(lat: float, lon_span: float) -> float:
    """MAX poleward excess (degrees) of any great-circle arc with vertex
    latitudes ≤ ``lat`` spanning ``lon_span``° of longitude.

    The excess e(φ) = atan(tan φ / cos(Δλ/2)) − φ is NOT monotone in φ:
    de/dφ = 0 at tan φ* = √cos(Δλ/2) (φ* ≈ 43–45°), increasing below,
    decreasing above — so evaluating at the dataset's max |lat| under-
    covers arcs whose vertices sit nearer φ* (r7 review finding: a 60°-
    span segment at 43° has a ~4° apex excess while e(60°) ≈ 3.4°, so a
    within-threshold pair could be pruned whenever higher-latitude data
    raised the evaluation point). The max over [0, lat] is e(min(lat, φ*)).
    Raises for spans where the bound is useless."""
    import math

    if lon_span <= 0.0 or lat <= 0.0:
        return 0.0
    if lon_span >= 179.0:
        raise ValueError(
            f"a geometry spans {lon_span:.1f}° of longitude — great-circle "
            "arcs over half the globe make the grid prefilter unsound; "
            "split segments first"
        )
    half = math.radians(lon_span) / 2.0
    phi_star = math.degrees(math.atan(math.sqrt(math.cos(half))))
    return _arc_excess_at(min(lat, phi_star), lon_span)


def _stereo_xy_exprs(lon: Column, lat: Column, south: bool):
    """Polar stereographic (spherical, R=_R_SPHERE) as pure Catalyst
    expressions. North aspect: ρ = 2R·tan(π/4 − φ/2), x = ρ·sin λ,
    y = −ρ·cos λ; the south aspect mirrors φ → −φ (a planar reflection —
    distances are preserved, which is all the prefilter needs)."""
    import math

    phi = F.radians(F.when(F.lit(south), -lat).otherwise(lat))
    lam = F.radians(lon)
    rho = F.lit(2.0 * _R_SPHERE) * F.tan(F.lit(math.pi / 4.0) - phi / 2)
    return rho * F.sin(lam), -rho * F.cos(lam)


def _polar_pbox_udf(meta: GeometryMeta, south: bool):
    """Arrow-batched projected-bbox kernel for non-point geometry in a
    polar cap: per row, the stereographic bbox of the VERTICES plus the
    longest projected segment chord (the arc-allowance input). Null for
    null/empty rows."""
    import math

    from pyspark.sql import types as T

    from datafusion_spatial_spark.functions.predicates import (
        _as_rows,
        _converter,
        _prep,
    )

    conv = _converter(meta, force2d=True)
    sgn = -1.0 if south else 1.0
    k2r = 2.0 * _R_SPHERE

    def project(pt):
        lam = math.radians(pt[0])
        phi = math.radians(sgn * pt[1])
        rho = k2r * math.tan(math.pi / 4.0 - phi / 2.0)
        return rho * math.sin(lam), -rho * math.cos(lam)

    def walk_parts(g, out_parts):
        t = g.type_name
        if t == "GeometryCollection":
            for m in g.coords:
                walk_parts(m, out_parts)
        elif t == "Point":
            if not g.is_empty:
                out_parts.append(([g.coords], False))
        elif t in ("LineString", "MultiPoint"):
            out_parts.append((list(g.coords), t == "LineString"))
        elif t in ("Polygon", "MultiLineString"):
            for part in g.coords:
                out_parts.append((list(part), True))
        elif t == "MultiPolygon":
            for poly in g.coords:
                for ring in poly:
                    out_parts.append((list(ring), True))

    schema = T.StructType(
        [
            T.StructField("xmin", T.DoubleType()),
            T.StructField("ymin", T.DoubleType()),
            T.StructField("xmax", T.DoubleType()),
            T.StructField("ymax", T.DoubleType()),
            T.StructField("chord", T.DoubleType()),
        ]
    )

    @F.pandas_udf(schema)
    def udf(s: pd.Series) -> pd.DataFrame:
        rows = []
        for v in _as_rows(s):
            g = conv(v)
            if g is None or g.is_empty:
                rows.append((None, None, None, None, None))
                continue
            parts: list = []
            walk_parts(g, parts)
            x0 = y0 = math.inf
            x1 = y1 = -math.inf
            chord = 0.0
            for pts, connected in parts:
                proj = [project(p) for p in pts]
                for px, py in proj:
                    x0, y0 = min(x0, px), min(y0, py)
                    x1, y1 = max(x1, px), max(y1, py)
                if connected:
                    for i in range(len(proj) - 1):
                        c = math.hypot(
                            proj[i + 1][0] - proj[i][0],
                            proj[i + 1][1] - proj[i][1],
                        )
                        chord = max(chord, c)
            if x0 is math.inf:
                rows.append((None, None, None, None, None))
            else:
                rows.append((x0, y0, x1, y1, chord))
        return pd.DataFrame(
            rows, columns=["xmin", "ymin", "xmax", "ymax", "chord"]
        )

    return lambda col: udf(_prep(col, meta))


def _polar_cap_join(
    left, right, left_geom, right_geom, left_meta, right_meta,
    left_id, right_id, meters, south, with_distance,
    mid_limit=None,
):
    """Planar grid dwithin join inside one polar cap: grid keys and the
    bbox prefilter live in stereographic meters, the refine is the exact
    spherical kernel on the ORIGINAL lon/lat — projection only ever
    changes which candidate pairs are examined, never a distance.

    Pad: k_max = 2/(1+sin φ_floor) bounds the map scale over the cap, so
    spherical ≤ meters implies planar ≤ k_max·meters; each side adds
    k_max·(max chord)/2 for great-circle arc deviation from its vertices
    (a geodesic image point is within k_max·d_sphere/2 of an endpoint and
    d_sphere ≤ the planar chord). All stats are bounded driver-side
    metadata, same as the mid path's latitude scan.

    ``mid_limit`` set (to the cap boundary latitude) makes this leg
    PAIR-DISJOINT from the coexisting mid leg: pairs where both rows
    touch the mid band (|bbox| reaching ≤ ``mid_limit``) are the mid
    leg's territory and are filtered out here, so the leg union needs no
    dedup — preserving row multiplicity when id columns are not unique
    keys (r7 review fix: dropDuplicates on ids silently collapsed
    distinct same-id rows and picked an arbitrary distance).
    """
    import math

    from datafusion_spatial_spark.functions.scalar import st_bbox, st_x, st_y

    both_points = (
        left_meta.is_native and left_meta.native_type == "Point"
        and right_meta.is_native and right_meta.native_type == "Point"
    )

    def prep(df, geom, meta, out_id):
        if meta.is_native and meta.native_type == "Point":
            x, y = _stereo_xy_exprs(st_x(geom, meta), st_y(geom, meta), south)
            pbox = F.struct(
                x.alias("xmin"), y.alias("ymin"),
                x.alias("xmax"), y.alias("ymax"),
                F.lit(0.0).alias("chord"),
            )
        else:
            pbox = _polar_pbox_udf(meta, south)(geom)
        bb = st_bbox(geom, meta)
        # cap-interior flag: row lies ENTIRELY above the mid band, so any
        # pair it joins cannot also be found by the mid leg
        if mid_limit is None:
            capint = F.lit(True)
        elif south:
            capint = bb["ymax"] < F.lit(-float(mid_limit))
        else:
            capint = bb["ymin"] > F.lit(float(mid_limit))
        return (
            df.select(
                F.col(out_id).alias("__id"),
                F.col(geom).alias("__geom"),
                pbox.alias("__pbox"),
                bb["ymin"].alias("__latmin") if not south
                else (-bb["ymax"]).alias("__latmin"),
                capint.alias("__capint"),
            )
            .filter(F.col("__pbox.xmin").isNotNull())
        )

    lp = prep(left, left_geom, left_meta, left_id)
    rp = prep(right, right_geom, right_meta, right_id)

    sides = []
    for p in (lp, rp):
        row = p.select(
            F.min("__latmin").alias("floor"),
            F.max("__pbox.chord").alias("chord"),
        ).collect()[0]
        sides.append(
            (
                90.0 if row["floor"] is None else float(row["floor"]),
                float(row["chord"] or 0.0),
            )
        )
    lat_floor = min(s[0] for s in sides)
    if lat_floor <= 0.0:
        pole = "south" if south else "north"
        raise ValueError(
            f"a geometry in the {pole} polar-cap leg spans into the other "
            "hemisphere (reaches lat "
            f"{lat_floor if not south else -lat_floor:.1f}°) — the "
            "stereographic prefilter is unbounded there; split such "
            "geometries first"
        )
    k_max = 2.0 / (1.0 + math.sin(math.radians(lat_floor)))
    allow = sum(k_max * s[1] / 2.0 for s in sides)
    pad = (meters * k_max + allow) * (1.0 + 1e-9)
    cell = 4.0 * pad

    lc = lp.withColumn(
        "__cell", F.explode(_cells(F.col("__pbox"), cell, pad))
    )
    rc = rp.withColumn("__cell", F.explode(_cells(F.col("__pbox"), cell)))
    cs = F.lit(float(cell))
    canon_x = F.greatest(
        F.floor((F.col("l.__pbox.xmin") - pad) / cs),
        F.floor(F.col("r.__pbox.xmin") / cs),
    ).cast("long")
    canon_y = F.greatest(
        F.floor((F.col("l.__pbox.ymin") - pad) / cs),
        F.floor(F.col("r.__pbox.ymin") / cs),
    ).cast("long")
    cand = (
        lc.alias("l")
        .join(rc.alias("r"), F.col("l.__cell") == F.col("r.__cell"))
        .filter(
            (F.col("l.__pbox.xmin") - pad <= F.col("r.__pbox.xmax"))
            & (F.col("r.__pbox.xmin") <= F.col("l.__pbox.xmax") + pad)
            & (F.col("l.__pbox.ymin") - pad <= F.col("r.__pbox.ymax"))
            & (F.col("r.__pbox.ymin") <= F.col("l.__pbox.ymax") + pad)
        )
        .filter(F.col("l.__cell") == canon_x * F.lit(1 << 32) + canon_y)
        # leg disjointness: both-mid pairs belong to the mid leg
        .filter(F.col("l.__capint") | F.col("r.__capint"))
        .select(
            F.col("l.__id").alias("__lid"),
            F.col("r.__id").alias("__rid"),
            *(
                (
                    F.struct(
                        F.col("l.__geom.x").alias("xmin"),
                        F.col("l.__geom.y").alias("ymin"),
                    ).alias("__lbox"),
                    F.struct(
                        F.col("r.__geom.x").alias("xmin"),
                        F.col("r.__geom.y").alias("ymin"),
                    ).alias("__rbox"),
                )
                if both_points
                else (
                    F.col("l.__geom").alias("__lgeom"),
                    F.col("r.__geom").alias("__rgeom"),
                )
            ),
        )
    )
    # same exact spherical refine as the mid leg — shared code, shared
    # semantics (r7 review fix: this tail was a hand-kept copy of _refine)
    return _refine(
        cand, left_meta, right_meta, left_id, right_id,
        "dwithin_sphere", meters, with_distance, both_points,
    )
