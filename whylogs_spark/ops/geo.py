"""Geospatial grid operators: geohash keys, grid-bucketed radius
joins, haversine distance — the location siblings of the layout
family (``ops/layout.py`` interleaves arbitrary columns; a geohash is
the SAME Morton interleave on fixed world bounds, so geo keys cluster
and prune parquet exactly like Z-order keys do).

Beyond-reference extension family (SURVEY.md §2.12).

The scale story is the grid join: a naive radius join is a cross
join; bucketing both sides into square cells no smaller than the
radius means every true neighbor pair shares a cell or touches an
adjacent one, so exploding each LEFT point to its 3x3 cell
neighborhood turns the radius join into a plain EQUI-join on the
cell id (shuffle on cell, distributed) followed by an exact haversine
filter.  No UDFs anywhere — trig is JVM codegen.
"""

from __future__ import annotations

import math
from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["haversine_km", "with_geohash", "geo_radius_join",
           "geo_nearest_join", "grid_density", "grid_cluster"]

EARTH_RADIUS_KM = 6371.0088  # IUGG mean Earth radius

_BASE32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def haversine_km(lat1: Column, lon1: Column, lat2: Column,
                 lon2: Column) -> Column:
    """Great-circle distance in km between two (degree) points — the
    standard haversine form, all JVM trig, null-safe (null in -> null
    out)."""
    p = math.pi / 180.0
    dlat = (lat2 - lat1) * F.lit(p) / 2.0
    dlon = (lon2 - lon1) * F.lit(p) / 2.0
    a = (F.sin(dlat) * F.sin(dlat)
         + F.cos(lat1 * F.lit(p)) * F.cos(lat2 * F.lit(p))
         * F.sin(dlon) * F.sin(dlon))
    return (F.lit(2.0 * EARTH_RADIUS_KM)
            * F.asin(F.least(F.sqrt(a), F.lit(1.0))))


def with_geohash(
    df: DataFrame,
    lat_col: str,
    lon_col: str,
    precision: int = 7,
    out_col: str = "geohash",
) -> DataFrame:
    """Add a standard base32 geohash of ``precision`` characters.

    A geohash is a Morton interleave (lon bit first) of the two
    binary-bisected coordinates on fixed world bounds — computed here
    as a pure shift/or codegen projection (ops/layout.zorder_key with
    constant bounds), then 5-bit groups map through the geohash
    base32 alphabet.  Zero shuffle, zero Python; invalid coordinates
    (|lat|>90, |lon|>180, null, NaN) yield a null hash.

    Scale: use the hash as a clustering / pruning key exactly like
    ``with_zorder_key`` — sorting a 100 TB point table by geohash
    gives min/max row-group pruning for any bounding-box query.
    """
    if not 1 <= precision <= 12:
        raise ValueError(f"precision must be in [1, 12]: {precision}")
    total_bits = precision * 5
    lon_bits = (total_bits + 1) // 2   # lon takes the even positions
    lat_bits = total_bits // 2
    lat = F.col(lat_col).cast("double")
    lon = F.col(lon_col).cast("double")
    ok = (lat.isNotNull() & lon.isNotNull()
          & ~F.isnan(lat) & ~F.isnan(lon)
          & (F.abs(lat) <= 90.0) & (F.abs(lon) <= 180.0))
    # quantize: cell index in [0, 2^bits); clamp the +180/+90 edge in
    iy = F.least(
        F.floor((lat + 90.0) / 180.0 * F.lit(float(1 << lat_bits))),
        F.lit((1 << lat_bits) - 1)).cast("long")
    ix = F.least(
        F.floor((lon + 180.0) / 360.0 * F.lit(float(1 << lon_bits))),
        F.lit((1 << lon_bits) - 1)).cast("long")
    # interleave, lon first: bit j of the hash (MSB first) alternates
    # lon, lat — build the morton value directly
    z = F.lit(0).cast("long")
    for pos in range(total_bits):
        # pos 0 is the MOST significant output bit and comes from lon
        src, src_bits, idx = (
            (ix, lon_bits, pos // 2) if pos % 2 == 0
            else (iy, lat_bits, pos // 2))
        bit = F.shiftright(src, src_bits - 1 - idx).bitwiseAND(F.lit(1))
        z = z.bitwiseOR(F.shiftleft(bit, total_bits - 1 - pos))
    # 5-bit groups MSB-first -> base32 chars
    chars = [
        F.substring(
            F.lit(_BASE32),
            (F.shiftright(z, total_bits - 5 * (i + 1))
             .bitwiseAND(F.lit(31)) + 1).cast("int"),
            1)
        for i in range(precision)
    ]
    return df.withColumn(out_col, F.when(ok, F.concat(*chars)))


def _cell_ids(lat: Column, lon: Column, cell_deg: float) -> Column:
    """Integer cell id for a square grid of ``cell_deg`` degrees:
    ``(lat band << 32) + lon band`` — both bands are non-negative and
    the lon band fits 32 bits for any cell above ~1e-7 degrees, so
    ids never collide."""
    iy = F.floor((lat + 90.0) / F.lit(cell_deg)).cast("long")
    ix = F.floor((lon + 180.0) / F.lit(cell_deg)).cast("long")
    return F.shiftleft(iy, 32) + ix


def geo_radius_join(
    left: DataFrame,
    right: DataFrame,
    radius_km: float,
    lat_col: str = "lat",
    lon_col: str = "lon",
    max_lat: float = 85.0,
) -> DataFrame:
    """All (left, right) pairs within ``radius_km`` great-circle km,
    with a ``distance_km`` column appended.

    Grid-bucket equi-join: both sides bucket into square cells whose
    side is >= the radius IN LONGITUDE at ``max_lat`` (the worst-case
    shrink the cell sizing covers), the LEFT side explodes to its 3x3 cell neighborhood, the
    join runs as a plain equi-join ON THE CELL ID, and the exact
    haversine filter keeps true neighbors.  Every true pair within
    the radius shares one of the 9 cells by construction.

    Scale shape: one explode (x9) + one hash equi-join on cell id +
    a codegen filter — shuffle proportional to points, never the
    cross product.  Each right point owns exactly ONE cell and the 9
    exploded left cells are distinct, so every pair joins at most
    once (no post-join dedup needed).  Skewed cells (urban hot
    spots) are ordinary hot keys: AQE skew-join handles them, or
    pre-salt the cell id.  Rows with invalid coordinates drop, and so
    do rows POLEWARD of ``max_lat`` on either side (legal coordinates,
    but outside the latitude band the cell sizing guarantees — their
    pairs simply do not appear in the result; raise ``max_lat``
    toward 90 to include them, at the cost of coarser cells
    everywhere).  Pairs straddling the +/-180 antimeridian are not
    matched (documented non-goal — shift longitudes upstream if your
    data crosses it).
    """
    if radius_km <= 0:
        raise ValueError(f"radius_km must be > 0: {radius_km}")
    if not 0 < max_lat < 90:
        raise ValueError(f"max_lat must be in (0, 90): {max_lat}")
    # degrees of latitude per km is constant; longitude shrinks by
    # cos(lat) — size cells for the worst allowed latitude
    deg_lat = radius_km / 111.19492664455873  # km per degree (mean)
    cell = deg_lat / math.cos(math.radians(max_lat))

    def _valid(df: DataFrame) -> DataFrame:
        lat = F.col(lat_col).cast("double")
        lon = F.col(lon_col).cast("double")
        return df.filter(
            lat.isNotNull() & lon.isNotNull()
            & ~F.isnan(lat) & ~F.isnan(lon)
            & (F.abs(lat) <= max_lat) & (F.abs(lon) <= 180.0))

    l = _valid(left).alias("l")
    r = _valid(right).alias("r")
    iy = F.floor((F.col(f"l.{lat_col}").cast("double") + 90.0)
                 / F.lit(cell)).cast("long")
    ix = F.floor((F.col(f"l.{lon_col}").cast("double") + 180.0)
                 / F.lit(cell)).cast("long")
    neigh = F.explode(F.array(*[
        F.shiftleft(iy + dy, 32) + (ix + dx)
        for dy in (-1, 0, 1) for dx in (-1, 0, 1)
    ])).alias("__cell")
    l9 = l.select("l.*", neigh)
    rc = r.select(
        "r.*",
        _cell_ids(F.col(f"r.{lat_col}").cast("double"),
                  F.col(f"r.{lon_col}").cast("double"),
                  cell).alias("__cell"))
    lat_l2 = F.col(f"__L.{lat_col}").cast("double")
    lon_l2 = F.col(f"__L.{lon_col}").cast("double")
    lat_r2 = F.col(f"__R.{lat_col}").cast("double")
    lon_r2 = F.col(f"__R.{lon_col}").cast("double")
    joined = l9.alias("__L").join(rc.alias("__R"), "__cell")
    dist = haversine_km(lat_l2, lon_l2, lat_r2, lon_r2)
    out_cols = (
        [F.col(f"__L.{c}").alias(c) for c in left.columns]
        + [F.col(f"__R.{c}").alias(f"r_{c}") for c in right.columns]
        + [dist.alias("distance_km")])
    return (joined.filter(dist <= F.lit(float(radius_km)))
            .select(*out_cols))


def grid_density(
    df: DataFrame,
    lat_col: str = "lat",
    lon_col: str = "lon",
    precision: int = 5,
    value_col: Optional[str] = None,
) -> DataFrame:
    """Point (or value) density per geohash cell: ``(geohash, n,
    value_sum)`` — the groupBy that powers heat maps and spatial
    skew diagnosis.  One partial-agged aggregation over the hash
    projection; at 100 TB this is a plain codegen groupBy whose key
    count is bounded by 32^precision."""
    g = with_geohash(df, lat_col, lon_col, precision, "__gh")
    aggs = [F.count(F.lit(1)).alias("n")]
    if value_col is not None:
        aggs.append(F.sum(F.col(value_col).cast("double"))
                    .alias("value_sum"))
    return (g.filter(F.col("__gh").isNotNull())
            .groupBy(F.col("__gh").alias("geohash")).agg(*aggs))


def geo_nearest_join(
    left: DataFrame,
    right: DataFrame,
    max_radius_km: float,
    lat_col: str = "lat",
    lon_col: str = "lon",
    max_lat: float = 85.0,
    left_id_col: str = None,
) -> DataFrame:
    """For each left point, its SINGLE nearest right point within
    ``max_radius_km`` great-circle km (ties broken by the smallest
    right row, deterministically) — "nearest store / cell tower /
    depot" in one call.  Left points with no right point in range are
    dropped (outer behavior = anti-join the result back), and rows
    poleward of ``max_lat`` on either side drop with them (see
    :func:`geo_radius_join`).

    Without ``left_id_col`` the reduce groups on ALL left columns, so
    the output has one row per DISTINCT left row — fully duplicate
    left rows collapse into one, and non-groupable left column types
    (map, ...) are rejected by Spark's groupBy.  Pass ``left_id_col``
    naming a UNIQUE left key to get exactly one output row per input
    row and to carry non-groupable payload columns through untouched.

    Composition, not new machinery: the candidate set comes from
    :func:`geo_radius_join` (3x3 neighbor-cell equi-join — every
    right point within the radius is guaranteed among the
    candidates), then ONE ``min_by``-style grouped reduce per left
    point picks the closest.  Scale shape: the radius join's
    point-proportional shuffle plus one partial-agged groupBy on the
    left key columns; candidate fan-in per left point is bounded by
    the density of the 9 searched cells.
    """
    cand = geo_radius_join(left, right, max_radius_km,
                           lat_col, lon_col, max_lat)
    rcols = [f"r_{c}" for c in right.columns]
    # deterministic argmin: order by (distance, right cols) via ONE
    # max_by on the negated key — struct comparison breaks distance
    # ties on the right columns' values
    pick = F.min(F.struct(
        F.col("distance_km"),
        *[F.col(c) for c in rcols])).alias("__best")
    if left_id_col is not None:
        if left_id_col not in left.columns:
            raise ValueError(
                f"left_id_col {left_id_col!r} not in left columns")
        # unique-key path: group on the key alone; the other left
        # columns are constant per key, so first() carries them (and
        # tolerates non-groupable types the groupBy path cannot)
        out = cand.groupBy(F.col(left_id_col)).agg(
            pick, *[F.first(c).alias(c) for c in left.columns
                    if c != left_id_col])
    else:
        out = cand.groupBy(*[F.col(c) for c in left.columns]).agg(pick)
    return out.select(
        *left.columns,
        *[F.col(f"__best.{c}").alias(c) for c in rcols],
        F.col("__best.distance_km").alias("distance_km"))


def grid_cluster(
    df: DataFrame,
    lat_col: str = "lat",
    lon_col: str = "lon",
    cell_deg: float = 0.5,
    min_pts: int = 5,
    attach_border: bool = True,
    max_dense_cells: int = 1_000_000,
) -> DataFrame:
    """Grid-based density clustering (GDBSCAN/STING family): cells
    with at least ``min_pts`` points are CORE, 8-connected core cells
    merge into one cluster, and points land in their cell's cluster —
    the "find the hot zones" operator (urban activity areas, hotspot
    detection) at a fraction of DBSCAN's pairwise cost.

    Output: the input columns plus ``cluster_id`` (long — the
    smallest core-cell id of the component, deterministic; null =
    noise) and ``is_core`` (boolean — point sits IN a core cell).
    With ``attach_border`` a point in a sparse cell joins the
    smallest-id cluster among its 8 neighboring core cells (the
    DBSCAN border-point analogue); otherwise sparse-cell points are
    all noise.  Invalid coordinates (null/NaN/out-of-range) come
    back with null cluster_id and is_core = false.

    Resolution: ``cell_deg`` plays eps — points up to ~2 cell
    diagonals apart can share a cluster, clusters separated by a full
    empty cell ring never merge.

    Scale shape: ONE groupBy collapses points to occupied cells; only
    the DENSE cells (bounded by ``max_dense_cells``, guarded at plan
    build) come to the driver for the union-find over the 8-neighbor
    graph — the same capped-component pattern as
    ``ops/dedup.py``'s duplicate closure — and go back as ONE
    broadcast map joined to the points on the cell id.  The data is
    touched twice (collapse + label join), never pairwise.
    """
    if cell_deg <= 0:
        raise ValueError(f"cell_deg must be > 0: {cell_deg}")
    if min_pts < 1:
        raise ValueError(f"min_pts must be >= 1: {min_pts}")
    lat = F.col(lat_col).cast("double")
    lon = F.col(lon_col).cast("double")
    valid = (lat.isNotNull() & lon.isNotNull()
             & ~F.isnan(lat) & ~F.isnan(lon)
             & (F.abs(lat) <= 90.0) & (F.abs(lon) <= 180.0))
    cell = F.when(valid, _cell_ids(lat, lon, cell_deg))
    pts = df.withColumn("__cell", cell)

    dense_df = (pts.filter(F.col("__cell").isNotNull())
                .groupBy("__cell").agg(F.count(F.lit(1)).alias("n"))
                .filter(F.col("n") >= min_pts))
    # the guard count and the cell collect both consume the collapse —
    # pay the data pass once when Catalyst bounds it
    from whylogs_spark.core.util import materialize, release
    dense_df = materialize(dense_df, only_if_expensive=True)
    try:
        n_dense = dense_df.count()
        if n_dense > max_dense_cells:
            raise ValueError(
                f"{n_dense} dense cells > max_dense_cells="
                f"{max_dense_cells}: coarsen cell_deg or raise min_pts "
                "(the union-find runs driver-side over dense cells)")
        dense = [r["__cell"] for r in dense_df.select("__cell").collect()]
    finally:
        release(dense_df)
    dense_set = set(dense)

    # driver union-find over 8-connected dense cells (bounded set)
    parent = {c: c for c in dense}

    def find(c):
        while parent[c] != c:
            parent[c] = parent[parent[c]]
            c = parent[c]
        return c

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra

    for c in dense:
        iy, ix = c >> 32, c & 0xFFFFFFFF
        for dy in (-1, 0, 1):
            for dx in (-1, 0, 1):
                if dy == 0 and dx == 0:
                    continue
                nb = ((iy + dy) << 32) + (ix + dx)
                if nb in dense_set:
                    union(c, nb)

    # union always parks the larger root under the smaller, so each
    # component's root IS its minimum cell id — the deterministic
    # cluster label
    label = {c: find(c) for c in dense}

    core_map = [(c, label[c]) for c in dense]
    border_map = {}
    if attach_border:
        for c in dense:
            iy, ix = c >> 32, c & 0xFFFFFFFF
            for dy in (-1, 0, 1):
                for dx in (-1, 0, 1):
                    nb = ((iy + dy) << 32) + (ix + dx)
                    if nb in dense_set:
                        continue
                    cur = border_map.get(nb)
                    if cur is None or label[c] < cur:
                        border_map[nb] = label[c]
    spark = df.sparkSession
    cmap = spark.createDataFrame(
        core_map, "__cell long, __core_cluster long")
    bmap = spark.createDataFrame(
        [(k, v) for k, v in border_map.items()],
        "__cell long, __border_cluster long")

    out = (pts.join(F.broadcast(cmap), "__cell", "left")
           .join(F.broadcast(bmap), "__cell", "left"))
    cluster = (F.coalesce(F.col("__core_cluster"),
                          F.col("__border_cluster"))
               if attach_border else F.col("__core_cluster"))
    return out.select(
        *df.columns,
        cluster.alias("cluster_id"),
        F.col("__core_cluster").isNotNull().alias("is_core"))
