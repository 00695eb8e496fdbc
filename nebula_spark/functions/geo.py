"""Geography functions (SURVEY.md §2.9 geo family).

Reference: ``src/common/geo/GeoFunction.cpp`` (S2-backed st_point,
st_geogfromtext, st_astext, st_centroid, st_isvalid, st_intersects,
st_covers/coveredby, st_dwithin, st_distance) and
``src/common/geo/GeoIndex.cpp`` (S2 covering-cell index used by
``GeoPredicateIndexScanRule``).

Design (no geo libraries in this container, by constraint):

- **Representation**: geography values are WKT strings (``POINT(lng lat)``,
  ``LINESTRING(…)``, ``POLYGON((…))``) — the SURVEY §1.1 mapping.
- **Point math is JVM-side**: distance/dwithin between points compile to
  built-in trig Columns (whole-stage codegen, no Python). Great-circle
  distance uses the haversine formula with the S2Earth radius 6 371 010 m
  (``S2Earth::GetDistanceMeters``, GeoFunction.cpp:195), matching the
  reference to double precision.
- **Shape predicates** (point-in-polygon covers; st_intersects across
  point/linestring/polygon pairs) run as Arrow-batched pandas UDFs doing
  planar boundary-inclusive geometry — the plate-carrée approximation of
  the reference's S2 spherical predicates. Polygon holes are supported:
  ``_parse_rings`` keeps every ring and containment is decided even-odd
  across all of them (a point inside a hole is outside the polygon).
  Multi-geometries (MULTIPOLYGON/…) remain unsupported.
- **Cell ids**: ``cell_id_from_point`` / ``covering_cell_ids`` provide the
  same *contract* as the reference's S2 cells — hierarchical, prefix-
  filterable bucket ids usable as a spatial pre-filter — via Z-order
  (Morton) interleaving of lng/lat at a given level on the plate-carrée
  grid. Encoding differs from S2 (cube-face Hilbert); queries must not
  depend on specific id values, only on the prefilter contract
  (GeoIndex.cpp analog: ``dwithin_prefilter``).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

EARTH_RADIUS_M = 6371010.0   # S2Earth radius used by the reference

_PT = r"^\s*POINT\s*\(\s*(-?[0-9.eE+]+)\s+(-?[0-9.eE+]+)\s*\)\s*$"


# --------------------------------------------------------------------------
# constructors / accessors (JVM-side)
# --------------------------------------------------------------------------

def st_point(lng: Column, lat: Column) -> Column:
    """POINT constructor → WKT (GeoFunction: st_point)."""
    return F.format_string("POINT(%s %s)", lng.cast("string"),
                           lat.cast("string"))


def st_geogfromtext(wkt: Column) -> Column:
    """Parse WKT → geography; invalid text → null (st_geogfromtext).
    Under the WKT representation parsing = validation + trim."""
    return F.when(st_isvalid(wkt), F.trim(wkt))


def st_astext(geog: Column) -> Column:
    """Geography → WKT: identity under the WKT representation."""
    return geog


def st_x(geog: Column) -> Column:
    return F.regexp_extract(geog, _PT, 1).try_cast("double")


def st_y(geog: Column) -> Column:
    return F.regexp_extract(geog, _PT, 2).try_cast("double")


def st_isvalid(geog: Column) -> Column:
    """Shape sanity for the three WKT kinds (st_isvalid); range-checks
    point coordinates, requires closed polygon rings."""
    is_pt = geog.rlike(_PT) & st_x(geog).between(-180, 180) \
        & st_y(geog).between(-90, 90)
    is_line = geog.rlike(r"^\s*LINESTRING\s*\((\s*-?[0-9.eE+]+\s+-?[0-9.eE+]+\s*,){1,}\s*-?[0-9.eE+]+\s+-?[0-9.eE+]+\s*\)\s*$")
    # POLYGON accepts interior rings (holes) after the shell — the
    # reference's S2 loops (GeoUtils.h:43; GeoBase.feature inserts a
    # holed polygon); closure is checked on the shell
    _ring = (r"\(\s*(?:-?[0-9.eE+]+\s+-?[0-9.eE+]+\s*,\s*){2,}"
             r"-?[0-9.eE+]+\s+-?[0-9.eE+]+\s*\)")
    poly_re = (r"^\s*POLYGON\s*\(\s*" + _ring
               + r"(?:\s*,\s*" + _ring + r")*\s*\)\s*$")
    outer = F.regexp_extract(geog, r"^\s*POLYGON\s*\(\s*\(([^)]*)\)", 1)
    first_pair = F.regexp_extract(
        outer, r"^\s*(-?[0-9.eE+]+\s+-?[0-9.eE+]+)", 1)
    last_pair = F.regexp_extract(
        outer, r"(-?[0-9.eE+]+\s+-?[0-9.eE+]+)\s*$", 1)
    is_poly = geog.rlike(poly_re) & (first_pair == last_pair)
    return is_pt | is_line | is_poly


def st_centroid(geog: Column) -> Column:
    """Centroid as POINT (st_centroid). POINT → itself; LINESTRING/POLYGON →
    arithmetic mean of vertices (planar approximation of the reference's
    spherical centroid; JVM-side via array transforms)."""
    pairs = F.split(F.regexp_replace(geog, r"^[A-Z]+\s*\(+|\)+\s*$", ""), r"\s*,\s*")
    xs = F.transform(pairs, lambda p: F.split(F.trim(p), r"\s+")[0].try_cast("double"))
    ys = F.transform(pairs, lambda p: F.split(F.trim(p), r"\s+")[1].try_cast("double"))
    n = F.size(pairs).cast("double")
    mean = lambda a: F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v) / n
    return F.when(geog.rlike(_PT), geog).otherwise(
        F.format_string("POINT(%s %s)", mean(xs).cast("string"),
                        mean(ys).cast("string")))


# --------------------------------------------------------------------------
# point-point metric predicates (JVM-side, codegen)
# --------------------------------------------------------------------------

def _haversine(lng1: Column, lat1: Column, lng2: Column,
               lat2: Column) -> Column:
    rl1, rl2 = F.radians(lat1), F.radians(lat2)
    dlat = F.radians(lat2 - lat1) / 2
    dlng = F.radians(lng2 - lng1) / 2
    a = F.sin(dlat) ** 2 + F.cos(rl1) * F.cos(rl2) * F.sin(dlng) ** 2
    return 2 * EARTH_RADIUS_M * F.asin(F.sqrt(a))


def st_distance(a: Column, b: Column) -> Column:
    """Great-circle meters (st_distance, GeoFunction.cpp:301). Point-point
    stays JVM-side; any other kind combination → null here (use
    ``st_distance_point_poly`` for the Python path)."""
    return F.when(a.rlike(_PT) & b.rlike(_PT),
                  _haversine(st_x(a), st_y(a), st_x(b), st_y(b)))


def st_dwithin(a: Column, b: Column, meters: Column | float,
               exclusive: bool = False) -> Column:
    """st_dwithin (GeoFunction.cpp:182-196): distance ≤ d (< d when
    exclusive, matching the reference's flag)."""
    m = meters if isinstance(meters, Column) else F.lit(float(meters))
    d = st_distance(a, b)
    return d < m if exclusive else d <= m


def st_intersects(a: Column, b: Column) -> Column:
    """st_intersects (GeoFunction.cpp:106-148) for every WKT kind pair:
    point/linestring/polygon × same, boundary-inclusive (S2 counts shared
    boundary as intersecting). Point-point stays JVM-side (coordinate
    equality in codegen); shape combinations run in an Arrow-batched
    pandas UDF doing planar segment/containment tests — the plate-carrée
    approximation of the reference's spherical predicates, consistent
    with the rest of this module."""
    both_pts = a.rlike(_PT) & b.rlike(_PT)
    return F.when(both_pts, (st_x(a) == st_x(b)) & (st_y(a) == st_y(b))) \
            .otherwise(_intersects_shapes(a, b))


# --------------------------------------------------------------------------
# point-in-polygon / point-polyline distance (vectorized numpy path)
# --------------------------------------------------------------------------

def _parse_rings(wkt: str) -> list[np.ndarray]:
    """All rings of a POLYGON (outer first, then holes; reference supports
    interior loops via S2, GeoUtils.h:43) / the single vertex list of a
    LINESTRING → list of (n,2) arrays."""
    import re
    body = wkt.strip()
    i, j = body.index("("), body.rindex(")")
    inner = body[i:j + 1].strip("() \t")
    rings = []
    for ring in re.split(r"\)\s*,\s*\(", inner):
        pts = [p.split() for p in ring.strip("() \t").split(",")]
        rings.append(np.array([[float(x), float(y)] for x, y, *_ in pts]))
    return rings


def wkt_shape(text: str) -> str | None:
    """Driver-side WKT sanity mirror of :func:`st_isvalid` for DDL- and
    INSERT-time checks (GeoBase.feature): returns "POINT" / "LINESTRING"
    / "POLYGON" when the text parses as that shape, else None."""
    if not isinstance(text, str):
        return None
    t = text.strip()
    kind = t.split("(", 1)[0].strip().upper() if "(" in t else ""
    if kind not in ("POINT", "LINESTRING", "POLYGON"):
        return None
    try:
        rings = _parse_rings(t)
    except Exception:  # noqa: BLE001 — malformed text
        return None
    if kind == "POINT":
        (x, y), = rings[0]
        return kind if -180 <= x <= 180 and -90 <= y <= 90 else None
    if kind == "LINESTRING":
        return kind if len(rings) == 1 and len(rings[0]) >= 2 else None
    for r in rings:                      # POLYGON: closed rings, >= 4 pts
        if len(r) < 4 or (r[0] != r[-1]).any():
            return None
    return kind


def wkt_normalize(text: str) -> str:
    """Canonical WKT rendering on the write path (GeoBase.feature —
    the reference's S2 text writer prints minimal numbers: 1.0 → 1,
    4.7 → 4.7) — parse rings, reformat with %g."""
    kind = wkt_shape(text)
    if kind is None:
        return text
    rings = _parse_rings(text)

    def ring(r):
        return ", ".join(f"{x:g} {y:g}" for x, y in r)
    if kind == "POINT":
        return f"POINT({ring(rings[0])})"
    if kind == "LINESTRING":
        return f"LINESTRING({ring(rings[0])})"
    return "POLYGON(" + ", ".join(f"({ring(r)})" for r in rings) + ")"


def _covers_point_batch(poly: pd.Series, pt: pd.Series) -> pd.Series:
    """POLYGON covers POINT by planar even-odd ray casting over ALL rings
    (outer + holes, GeoUtils.h:43; a point inside a hole flips back to
    uncovered). Boundary — of the shell or of a hole — counts as covered,
    matching S2's closed-polygon st_covers. Vectorized per Arrow batch;
    distinct polygons parsed once."""
    out = np.zeros(len(poly), dtype=bool)
    cache: dict[str, list[np.ndarray]] = {}
    px = pt.str.extract(r"\(\s*(-?[0-9.eE+]+)\s")[0].astype(float).to_numpy()
    py = pt.str.extract(r"\s(-?[0-9.eE+]+)\s*\)")[0].astype(float).to_numpy()
    for key in poly.dropna().unique():
        rings = cache.setdefault(key, _parse_rings(key))
        sel = (poly == key).to_numpy()
        x, y = px[sel], py[sel]
        inside = np.zeros(sel.sum(), dtype=bool)
        on_boundary = np.zeros(sel.sum(), dtype=bool)
        for ring in rings:
            x0, y0 = ring[:-1, 0], ring[:-1, 1]
            x1, y1 = ring[1:, 0], ring[1:, 1]
            for k in range(len(x0)):
                crosses = ((y0[k] > y) != (y1[k] > y))
                xi = (x1[k] - x0[k]) * (y - y0[k]) / (y1[k] - y0[k] + 1e-300) + x0[k]
                inside ^= crosses & (x < xi)
                on_edge = np.isclose((y1[k] - y0[k]) * (x - x0[k]),
                                     (x1[k] - x0[k]) * (y - y0[k])) \
                    & (np.minimum(x0[k], x1[k]) - 1e-12 <= x) \
                    & (x <= np.maximum(x0[k], x1[k]) + 1e-12) \
                    & (np.minimum(y0[k], y1[k]) - 1e-12 <= y) \
                    & (y <= np.maximum(y0[k], y1[k]) + 1e-12)
                on_boundary |= on_edge
        out[sel] = inside | on_boundary
    return pd.Series(out)


# -- general shape-shape intersection (planar, boundary-inclusive) ---------

_EPS = 1e-12


def _parse_geom(wkt: str) -> tuple[str, list[np.ndarray]]:
    """WKT → (kind, list of (n,2) vertex arrays). POLYGON carries all its
    rings (outer first, holes after, GeoUtils.h:43); POINT/LINESTRING a
    single array."""
    s = wkt.strip()
    kind = s.split("(", 1)[0].strip().upper()
    if kind == "POINT":
        x, y = s[s.index("(") + 1:s.rindex(")")].split()
        return "POINT", [np.array([[float(x), float(y)]])]
    return kind, _parse_rings(s)


def _seg_intersect(a0, a1, b0, b1) -> bool:
    """Inclusive 2-segment intersection (orientation + collinear overlap)."""
    def orient(p, q, r):
        return (q[0] - p[0]) * (r[1] - p[1]) - (q[1] - p[1]) * (r[0] - p[0])

    def on_seg(p, q, r):
        return (min(p[0], q[0]) - _EPS <= r[0] <= max(p[0], q[0]) + _EPS
                and min(p[1], q[1]) - _EPS <= r[1] <= max(p[1], q[1]) + _EPS)

    d1, d2 = orient(b0, b1, a0), orient(b0, b1, a1)
    d3, d4 = orient(a0, a1, b0), orient(a0, a1, b1)
    if ((d1 > 0) != (d2 > 0)) and ((d3 > 0) != (d4 > 0)) \
            and abs(d1) > _EPS and abs(d2) > _EPS \
            and abs(d3) > _EPS and abs(d4) > _EPS:
        return True
    return (abs(d1) <= _EPS and on_seg(b0, b1, a0)) \
        or (abs(d2) <= _EPS and on_seg(b0, b1, a1)) \
        or (abs(d3) <= _EPS and on_seg(a0, a1, b0)) \
        or (abs(d4) <= _EPS and on_seg(a0, a1, b1))


def _point_in_poly(pt, rings: list[np.ndarray]) -> bool:
    """Inclusive planar point-in-polygon: even-odd parity across ALL rings
    (outer + holes), boundary of any ring counts as inside."""
    x, y = pt
    inside = False
    for ring in rings:
        for k in range(len(ring) - 1):
            (x0, y0), (x1, y1) = ring[k], ring[k + 1]
            if _seg_intersect((x0, y0), (x1, y1), (x, y), (x, y)):
                return True
            if (y0 > y) != (y1 > y):
                xi = (x1 - x0) * (y - y0) / (y1 - y0) + x0
                if x < xi:
                    inside = not inside
    return inside


def _edges(kind: str, rings: list[np.ndarray]):
    return [(r[k], r[k + 1]) for r in rings for k in range(len(r) - 1)
            if len(r) > 1]


def _geoms_intersect(ga: tuple[str, list[np.ndarray]],
                     gb: tuple[str, list[np.ndarray]]) -> bool:
    (ka, va), (kb, vb) = ga, gb
    # normalize: POINT handled as a degenerate vertex list
    if ka == "POINT" and kb == "POINT":
        return bool(np.allclose(va[0][0], vb[0][0], atol=_EPS))
    if ka == "POINT":
        return _geoms_intersect(gb, ga)
    if kb == "POINT":
        p = vb[0][0]
        if ka == "POLYGON":
            return _point_in_poly(p, va)
        return any(_seg_intersect(e0, e1, p, p) for e0, e1 in _edges(ka, va))
    # segment-segment crossings cover line-line, line-poly, poly-poly
    # edges; hole boundaries participate, so a shape crossing into a hole
    # still intersects at the rim
    for e0, e1 in _edges(ka, va):
        for f0, f1 in _edges(kb, vb):
            if _seg_intersect(e0, e1, f0, f1):
                return True
    # full containment with no edge crossing: a vertex of one inside the
    # other polygon (even-odd — a shape wholly inside a hole is NOT inside)
    if kb == "POLYGON" and _point_in_poly(va[0][0], vb):
        return True
    if ka == "POLYGON" and _point_in_poly(vb[0][0], va):
        return True
    return False


def _intersects_batch(a: pd.Series, b: pd.Series) -> pd.Series:
    cache: dict[str, tuple[str, np.ndarray]] = {}

    def geom(w):
        if w not in cache:
            cache[w] = _parse_geom(w)
        return cache[w]

    out = []
    for wa, wb in zip(a, b):
        out.append(None if wa is None or wb is None
                   else _geoms_intersect(geom(wa), geom(wb)))
    return pd.Series(out, dtype=object)


_intersects_udf = None


def _intersects_shapes(a: Column, b: Column) -> Column:
    global _intersects_udf
    if _intersects_udf is None:
        _intersects_udf = pandas_udf(_intersects_batch, "boolean")
    return _intersects_udf(a, b)


_covers_udf = None


def st_covers_point(poly: Column, pt: Column) -> Column:
    """st_covers (point⊂polygon case) — pandas UDF registered lazily (the
    decorator needs an active session to parse its return type)."""
    global _covers_udf
    if _covers_udf is None:
        _covers_udf = pandas_udf(_covers_point_batch, "boolean")
    return _covers_udf(poly, pt)


def st_coveredby_point(pt: Column, poly: Column) -> Column:
    """st_coveredby: point ⊆ polygon (argument-flipped st_covers)."""
    return st_covers_point(poly, pt)


# --------------------------------------------------------------------------
# cell ids (Z-order; the S2-cell contract for spatial prefiltering)
# --------------------------------------------------------------------------

def cell_id_from_point(geog: Column, level: int = 16) -> Column:
    """Hierarchical bucket id of a POINT at ``level`` (1..30): Z-order
    interleave of the level-bit lng/lat grid coordinates, JVM-side.
    Contract-parity with s2_cellidfrompoint (GeoIndex.cpp): ids at level L
    are prefixes of ids at L' > L once right-shifted by 2·(L'−L)."""
    n = 1 << level
    ix = F.least(F.lit(n - 1), F.floor((st_x(geog) + 180.0) / 360.0 * n)) \
        .cast("long")
    iy = F.least(F.lit(n - 1), F.floor((st_y(geog) + 90.0) / 180.0 * n)) \
        .cast("long")
    cell = F.lit(0).cast("long")
    for b in range(level - 1, -1, -1):
        cell = (cell.bitwiseOR(ix.bitwiseAND(F.lit(1 << b))
                               .cast("long") * F.lit(2 ** (b + 1))))
        cell = (cell.bitwiseOR(iy.bitwiseAND(F.lit(1 << b))
                               .cast("long") * F.lit(2 ** b)))
    return cell


def covering_cell_ids(min_lng: float, min_lat: float, max_lng: float,
                      max_lat: float, level: int = 8) -> list[int]:
    """Driver-side: all level-``level`` cells intersecting a bbox
    (s2_coveringcellids analog for rectangles)."""
    n = 1 << level
    x0 = max(0, min(n - 1, int((min_lng + 180.0) / 360.0 * n)))
    x1 = max(0, min(n - 1, int((max_lng + 180.0) / 360.0 * n)))
    y0 = max(0, min(n - 1, int((min_lat + 90.0) / 180.0 * n)))
    y1 = max(0, min(n - 1, int((max_lat + 90.0) / 180.0 * n)))
    out = []
    for ix in range(x0, x1 + 1):
        for iy in range(y0, y1 + 1):
            c = 0
            for b in range(level - 1, -1, -1):
                c |= (ix & (1 << b)) << (b + 1)
                c |= (iy & (1 << b)) << b
            out.append(c)
    return out


def covering_cells_capped(min_lng: float, min_lat: float, max_lng: float,
                          max_lat: float, level: int = 8,
                          max_cells: int = 256) -> tuple[list[int], int]:
    """Bounded covering: coarsen the level until the bbox needs at most
    ``max_cells`` cells, returning ``(cells, effective_level)``.

    The S2 RegionCoverer the reference wraps has the same knob
    (``GeoIndex.cpp`` RegionCoverParams ``max_cells``) — without it a
    large region at a fine level enumerates millions of cells ON THE
    DRIVER before the query even starts. Halving the level quarters the
    cell count, so the loop terminates in ≤ ``level`` steps; the caller
    must bucket the data column at the SAME effective level for the
    ``isin`` prefilter to prune."""
    lv = max(0, level)
    while lv > 0:
        n = 1 << lv
        x0 = max(0, min(n - 1, int((min_lng + 180.0) / 360.0 * n)))
        x1 = max(0, min(n - 1, int((max_lng + 180.0) / 360.0 * n)))
        y0 = max(0, min(n - 1, int((min_lat + 90.0) / 180.0 * n)))
        y1 = max(0, min(n - 1, int((max_lat + 90.0) / 180.0 * n)))
        if (x1 - x0 + 1) * (y1 - y0 + 1) <= max_cells:
            break
        lv -= 1
    return covering_cell_ids(min_lng, min_lat, max_lng, max_lat, lv), lv


def dwithin_prefilter(df, geog_col: str, center_lng: float, center_lat: float,
                      meters: float, level: int = 8):
    """The GeoPredicateIndexScanRule analog: ``st_dwithin(g, center, d)``
    becomes cell-membership prefilter (cheap, prunable) + exact refine.
    At 100 TB the cell column should be a partition/Z-order key so the
    isin() prunes file groups before any distance math runs."""
    dlat = math.degrees(meters / EARTH_RADIUS_M)
    dlng = dlat / max(math.cos(math.radians(center_lat)), 1e-9)
    # bounded covering (S2 RegionCoverer max_cells analog): a huge radius
    # at a fine level would otherwise enumerate unbounded cells on the
    # driver; the prefilter buckets the data at the SAME effective level
    cells, eff_level = covering_cells_capped(
        center_lng - dlng, center_lat - dlat,
        center_lng + dlng, center_lat + dlat, level)
    center = st_point(F.lit(center_lng), F.lit(center_lat))
    g = F.col(geog_col)
    return (df.withColumn("_cell", cell_id_from_point(g, eff_level))
              .filter(F.col("_cell").isin(cells))
              .filter(st_dwithin(g, center, meters))
              .drop("_cell"))


GEO_FUNCTIONS = {
    "st_point": st_point,
    "st_geogfromtext": st_geogfromtext,
    "st_coveredby": st_coveredby_point,
    "st_covers": st_covers_point,
    "st_astext": st_astext,
    "st_centroid": st_centroid,
    "st_isvalid": st_isvalid,
    "st_distance": st_distance,
    "st_dwithin": st_dwithin,
    "st_intersects": st_intersects,
    "st_x": st_x,
    "st_y": st_y,
    "s2_cellidfrompoint": cell_id_from_point,
}
