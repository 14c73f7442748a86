"""Web-mercator (slippy-map) tile aggregation — the scale-out half of
the reference's image/tile export axis (reference: server-plugin image
export via StyledImageExporter, SLD rendering — our io/render.py covers
the styling; THIS module covers assigning and aggregating features to
the z/x/y tile grid, the thing a 100 TB layer actually needs before any
tile can be drawn).

Tile math (OSM slippy-map convention):

    n = 2^z
    x = floor((lon + 180) / 360 * n)
    y = floor((1 - ln(tan(lat) + sec(lat)) / pi) / 2 * n)

with latitude clamped to the mercator domain (±85.05112878°) and x/y
clamped to [0, n-1].  The formulas are emitted as SQL TEXT valid in both
Spark SQL and DuckDB (the repo's cross-engine discipline — identical
IEEE double expressions on both sides, floor() not CAST).

Scale shape: tile assignment is map-only Column math (whole-stage
codegen); ``tile_counts`` is one keyed aggregation with map-side
combine — the canonical partial-agg shape; ``tile_rollup`` derives the
z-1 pyramid level from the z level (x >> 1, y >> 1, re-aggregate), so a
full pyramid is z tiny keyed aggs over already-aggregated data, never a
rescan of the source.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.columns import sql_cast_double as _c

__all__ = ["tile_xy_sql", "with_tiles", "tile_counts", "tile_rollup",
           "hex_qr_exprs", "hex_qr_ctes", "with_hex", "hex_counts",
           "hex_center"]

MAX_MERC_LAT = 85.05112878


def tile_xy_sql(z: int, lon_sql: str, lat_sql: str) -> tuple[str, str]:
    """SQL expression texts for (tile_x, tile_y) at zoom ``z`` — valid in
    BOTH Spark SQL and DuckDB so oracles share the exact arithmetic."""
    if not 0 <= z <= 30:
        raise ValueError(f"zoom must be in [0, 30], got {z}")
    n = 1 << z
    x = (f"CAST(least(greatest(floor((({lon_sql}) + 180.0) / 360.0 "
         f"* {n}.0), 0.0), {n - 1}.0) AS BIGINT)")
    lat_c = (f"least(greatest(CAST(({lat_sql}) AS DOUBLE), "
             f"-{MAX_MERC_LAT}), {MAX_MERC_LAT})")
    y = (f"CAST(least(greatest(floor((1.0 - ln(tan(radians({lat_c})) "
         f"+ 1.0 / cos(radians({lat_c}))) / pi()) / 2.0 * {n}.0), 0.0), "
         f"{n - 1}.0) AS BIGINT)")
    return x, y


def with_tiles(df: DataFrame, z: int, lon_col: str = "lon",
               lat_col: str = "lat") -> DataFrame:
    """Append ``tile_z/tile_x/tile_y`` columns (map-only)."""
    xs, ys = tile_xy_sql(z, lon_col, lat_col)
    return (df.withColumn("tile_z", F.lit(z))
            .withColumn("tile_x", F.expr(xs))
            .withColumn("tile_y", F.expr(ys)))


def tile_counts(df: DataFrame, z: int, lon_col: str = "lon",
                lat_col: str = "lat") -> DataFrame:
    """Feature count per z/x/y tile: one keyed agg with map-side combine.
    Returns ``(tile_z, tile_x, tile_y, n)``."""
    return (with_tiles(df, z, lon_col, lat_col)
            .groupBy("tile_z", "tile_x", "tile_y")
            .agg(F.count(F.lit(1)).alias("n")))


def tile_rollup(tiles: DataFrame) -> DataFrame:
    """One pyramid level up: aggregate z-level tile counts to z-1
    (``x >> 1, y >> 1``).  Chain z times for the full pyramid — each
    level aggregates the PREVIOUS level's output (4:1 row shrink), so
    building every level costs barely more than the base level."""
    return (tiles.select((F.col("tile_z") - 1).alias("tile_z"),
                         F.shiftright("tile_x", 1).alias("tile_x"),
                         F.shiftright("tile_y", 1).alias("tile_y"),
                         "n")
            .groupBy("tile_z", "tile_x", "tile_y")
            .agg(F.sum("n").alias("n")))


def quadkey(tile_z, tile_x, tile_y):
    """Bing-style quadkey string Column for a z/x/y tile (one char per
    zoom level from the interleaved x/y bits) — the flat string key tile
    stores and caches address by.  Pure Column math: per level i
    (from z-1 down to 0), digit = ((x >> i) & 1) + 2 * ((y >> i) & 1).

    Built as a SQL expression over fixed 31 levels with the leading
    levels sliced off by z, so it works for a *column* z (no per-row
    Python)."""
    zc = F.col(tile_z) if isinstance(tile_z, str) else tile_z
    xc = F.col(tile_x) if isinstance(tile_x, str) else tile_x
    yc = F.col(tile_y) if isinstance(tile_y, str) else tile_y
    digits = [
        ((xc.bitwiseAND(F.lit(1 << i)) != 0).cast("int")
         + (yc.bitwiseAND(F.lit(1 << i)) != 0).cast("int") * 2
         ).cast("string")
        for i in range(30, -1, -1)]
    full = F.concat(*digits)               # 31 digits, msb first
    return F.substring(full, F.lit(31) - zc + 1, zc)


def hex_qr_exprs(size: float, x_sql: str = "x",
                 y_sql: str = "y") -> list[tuple[str, str]]:
    """Ordered (name, SQL-text) intermediate definitions assigning a
    planar point to a pointy-top hexagon of circumradius ``size`` in
    axial (q, r) coordinates — the H3-style equal-area-ish binning the
    tile grid can't give (hexes have uniform neighbor distance; squares
    don't).

    Pixel→hex is the classic fractional-axial + cube-rounding
    algorithm (Redblobgames formulation): q_f = (√3/3·x − 1/3·y)/s,
    r_f = (2/3·y)/s, s_f = −q_f−r_f, round each, then fix the
    coordinate with the largest rounding error so q+r+s stays 0.
    round(v) is spelled floor(v + 0.5) — one definition, no
    library-rounding-mode skew between engines.

    The texts are valid in BOTH Spark SQL and DuckDB and reference
    earlier names, so the Spark path applies them as chained
    withColumns and an oracle as a CTE chain — identical IEEE
    arithmetic by construction (the repo's cross-engine discipline).
    Every constant is CAST to DOUBLE (bare literals parse as DECIMAL
    in DuckDB and poison products)."""
    if size <= 0:
        raise ValueError(f"hex size must be positive, got {size}")

    s = _c(size)
    return [
        ("_hqf", f"(({_c(3 ** 0.5 / 3.0)} * ({x_sql}) "
                 f"- {_c(1.0 / 3.0)} * ({y_sql})) / {s})"),
        ("_hrf", f"(({_c(2.0 / 3.0)} * ({y_sql})) / {s})"),
        ("_hsf", "(-_hqf - _hrf)"),
        ("_hrq", "floor(_hqf + 0.5)"),
        ("_hrr", "floor(_hrf + 0.5)"),
        ("_hrs", "floor(_hsf + 0.5)"),
        ("_hdq", "abs(_hrq - _hqf)"),
        ("_hdr", "abs(_hrr - _hrf)"),
        ("_hds", "abs(_hrs - _hsf)"),
        ("hex_q", "CAST(CASE WHEN _hdq > _hdr AND _hdq > _hds "
                  "THEN -_hrr - _hrs ELSE _hrq END AS BIGINT)"),
        ("hex_r", "CAST(CASE WHEN NOT (_hdq > _hdr AND _hdq > _hds) "
                  "AND _hdr > _hds THEN -_hrq - _hrs ELSE _hrr END "
                  "AS BIGINT)"),
    ]


def hex_qr_ctes(base: str, size: float, x_sql: str = "x",
                y_sql: str = "y") -> str:
    """Wrap ``base`` (a query exposing the point columns) in a WITH
    chain adding ``hex_q``/``hex_r`` — the DuckDB-oracle twin of
    with_hex (identical expression texts)."""
    sql = f"WITH _hex0 AS ({base})"
    prev = "_hex0"
    for i, (name, expr) in enumerate(hex_qr_exprs(size, x_sql, y_sql), 1):
        sql += f", _hex{i} AS (SELECT *, {expr} AS {name} FROM {prev})"
        prev = f"_hex{i}"
    return sql + (f" SELECT * EXCLUDE (_hqf, _hrf, _hsf, _hrq, _hrr, "
                  f"_hrs, _hdq, _hdr, _hds) FROM {prev}")


def with_hex(df: DataFrame, size: float, x_col: str = "lon",
             y_col: str = "lat") -> DataFrame:
    """Append ``hex_q``/``hex_r`` axial hex columns (map-only, pure
    codegen — the same expression texts as the hex_qr_ctes oracle)."""
    out = df
    for name, expr in hex_qr_exprs(size, x_col, y_col):
        out = out.withColumn(name, F.expr(expr))
    return out.drop("_hqf", "_hrf", "_hsf", "_hrq", "_hrr", "_hrs",
                    "_hdq", "_hdr", "_hds")


def hex_counts(df: DataFrame, size: float, x_col: str = "lon",
               y_col: str = "lat") -> DataFrame:
    """Feature counts per hex cell: ONE keyed aggregation with map-side
    combine after the map-only assignment — the density-surface shape
    that replaces a slow ST_Within polygon join against a hex layer."""
    return (with_hex(df, size, x_col, y_col)
            .groupBy("hex_q", "hex_r")
            .agg(F.count(F.lit(1)).alias("n")))


def hex_center(size: float, q="hex_q", r="hex_r"):
    """(x, y) center Columns of an axial hex cell — the inverse map for
    rendering/joining hex aggregates back to geometry."""
    qc = F.col(q) if isinstance(q, str) else q
    rc = F.col(r) if isinstance(r, str) else r
    s = float(size)
    return (F.lit(s * 3 ** 0.5) * (qc + rc / F.lit(2.0)),
            F.lit(s * 1.5) * rc)


def windowed_tile_counts(events: DataFrame, z: int,
                         lon_col: str = "lon", lat_col: str = "lat",
                         window: str = "1 hour",
                         watermark: str = "2 hours") -> DataFrame:
    """STREAMING tile aggregation: event counts per (time window, z/x/y
    tile) with a watermark bounding state — the live heatmap feed.
    Tile assignment is the same codegen Column math as the batch path,
    so batch and stream agree tile-for-tile; works on batch DataFrames
    too (window agg without watermark semantics differences)."""
    out = with_tiles(events, z, lon_col, lat_col)
    if events.isStreaming:
        out = out.withWatermark("ts", watermark)
    return (out.groupBy(F.window("ts", window).alias("w"),
                        "tile_z", "tile_x", "tile_y")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("window_start"),
                    "tile_z", "tile_x", "tile_y", "n"))


def windowed_hex_counts(events: DataFrame, size: float,
                        lon_col: str = "lon", lat_col: str = "lat",
                        window: str = "1 hour",
                        watermark: str = "2 hours") -> DataFrame:
    """STREAMING hex-density twin of hex_counts: counts per (time
    window, hex cell) with a watermark bounding state — same codegen
    assignment Columns as the batch path, so batch and stream agree
    cell-for-cell; works on batch DataFrames too."""
    out = with_hex(events, size, lon_col, lat_col)
    if events.isStreaming:
        out = out.withWatermark("ts", watermark)
    return (out.groupBy(F.window("ts", window).alias("w"),
                        "hex_q", "hex_r")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("window_start"),
                    "hex_q", "hex_r", "n"))
