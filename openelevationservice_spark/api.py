"""API semantics layer — the reference's endpoint behavior minus HTTP.

Re-expresses the reference's request validation, geometry parsing,
format conversion, and response shaping (reference
``server/api/views.py``, ``validator.py``, ``api_exceptions.py``,
``utils/convert.py``) over the Spark operators, so a user of the
reference can issue the same logical requests and get the same logical
responses.  Transport (Flask/gRPC/gunicorn) stays out of scope
(SURVEY.md §7.3) — these are plain functions a thin server would wrap.

Error codes preserved verbatim (reference ``api/__init__.py:3-8``):
4000 ValueError, 4001 HeaderError, 4002 GeometryError, 4003 LimitError.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .constants import NODATA
from .functions import polyline as pl
from .operators.color import feature_collection, polygon_color_features
from .operators.line import line_vertices_elevation
from .operators.point import point_elevation
from .operators.polygon import polygon_pixels

ATTRIBUTION = "service by oes-spark | data: synthetic tile world (SRTM stand-in)"
VERSION = "0.1.0"
MAXIMUM_NODES = 2000  # reference ops_settings.sample.yml:4

FORMATS_IN = ("geojson", "point", "polyline", "polygon",
              "encodedpolyline", "encodedpolyline5", "encodedpolyline6")
DATASETS = ("srtm",)  # reference validator.py:14-23 (``dataset ∈ [srtm]``)


def validate_dataset(dataset: str) -> str:
    """Request ``dataset`` parameter (V1): unknown values are a schema
    validation failure → 4000, mirroring Cerberus ``allowed`` semantics
    (reference validator.py:14-23; views raise InvalidUsage 4000)."""
    if dataset not in DATASETS:
        raise _err_value(f"Invalid dataset value: {dataset}")
    return dataset


class ApiError(Exception):
    """Carries the reference's 4xxx error code (``api_exceptions.py:6-41``)."""

    def __init__(self, code: int, message: str):
        super().__init__(message)
        self.code = code
        self.message = message


def _err_value(msg: str) -> ApiError:
    return ApiError(4000, msg)


def _err_geometry(msg: str) -> ApiError:
    return ApiError(4002, msg)


def _err_limit(msg: str) -> ApiError:
    return ApiError(4003, msg)


def validate_content_type(content_type: str | None) -> None:
    """V2 (reference ``validator.py:42-49``): the Content-Type header
    must exist and contain ``application/json``, else HeaderError 4001.
    Transport stays out of scope, but a thin server wrapping these
    functions calls this on POST bodies to preserve the wire contract."""
    if not content_type or "application/json" not in content_type:
        raise ApiError(4001, "Content-Type header must be application/json")


# ---------------------------------------------------------------------------
# parsing (reference utils/convert.py:10-81, views.py:91-98,166-173)
# ---------------------------------------------------------------------------

def _is_lonlat(p) -> bool:
    return (isinstance(p, (list, tuple)) and len(p) >= 2
            and all(isinstance(v, (int, float)) and not isinstance(v, bool) for v in p[:2]))


def parse_geometry(geometry, format_in: str):
    """→ ("Point"|"LineString"|"Polygon", [(lon, lat), ...]).

    Mirrors convert.geojson_to_geometry / point_to_geometry /
    polyline_to_geometry / polygon_to_geometry plus the encoded-polyline
    decode at views.py:91-98.  Bad shapes → 4002, bad types → 4000.
    """
    if format_in not in FORMATS_IN:
        raise _err_value(f"Invalid format_in value: {format_in}")
    if format_in == "geojson":
        if not isinstance(geometry, dict) or "type" not in geometry or "coordinates" not in geometry:
            raise _err_geometry("Invalid GeoJSON geometry")
        gtype, coords = geometry["type"], geometry["coordinates"]
        if gtype == "Point":
            if not _is_lonlat(coords):
                raise _err_geometry("Invalid GeoJSON Point coordinates")
            return "Point", [tuple(coords[:2])]
        if gtype == "LineString":
            if not (isinstance(coords, list) and len(coords) >= 2
                    and all(_is_lonlat(p) for p in coords)):
                raise _err_geometry("Invalid GeoJSON LineString coordinates")
            return "LineString", [tuple(p[:2]) for p in coords]
        if gtype == "Polygon":
            if not (isinstance(coords, list) and len(coords) >= 1
                    and isinstance(coords[0], list) and len(coords[0]) >= 4
                    and all(_is_lonlat(p) for p in coords[0])):
                raise _err_geometry("Invalid GeoJSON Polygon coordinates")
            return "Polygon", [tuple(p[:2]) for p in coords[0]]
        raise _err_geometry(f"Unsupported geometry type {gtype}")
    if format_in == "point":
        if not _is_lonlat(geometry):
            raise _err_geometry("Invalid point geometry")
        return "Point", [tuple(geometry[:2])]
    if format_in == "polyline":
        if not (isinstance(geometry, list) and len(geometry) >= 2
                and all(_is_lonlat(p) for p in geometry)):
            raise _err_geometry("Invalid polyline geometry")
        return "LineString", [tuple(p[:2]) for p in geometry]
    if format_in == "polygon":
        ring = geometry[0] if (isinstance(geometry, list) and geometry
                               and isinstance(geometry[0], list)
                               and geometry[0] and isinstance(geometry[0][0], (list, tuple))
                               ) else geometry
        if not (isinstance(ring, list) and len(ring) >= 4 and all(_is_lonlat(p) for p in ring)):
            raise _err_geometry("Invalid polygon geometry")
        return "Polygon", [tuple(p[:2]) for p in ring]
    # encodedpolyline[5|6]
    precision = 6 if format_in.endswith("6") else 5
    if not isinstance(geometry, str):
        raise _err_geometry("Encoded polyline must be a string")
    try:
        coords = pl.decode(geometry, precision=precision, is3d=False)
    except Exception as exc:  # malformed varint stream
        raise _err_geometry(f"Could not decode polyline: {exc}") from None
    if len(coords) < 2:
        raise _err_geometry("Encoded polyline must contain at least 2 points")
    return "LineString", [tuple(p[:2]) for p in coords]


def parse_get_geometry(text: str):
    """GET ``"lon,lat"`` parser (views.py:166-173): bad → 4000."""
    try:
        lon_s, lat_s = text.split(",")
        return float(lon_s), float(lat_s)
    except Exception:
        raise _err_value(
            f"The geometry {text!r} is not a comma-separated lon,lat pair"
        ) from None


# ---------------------------------------------------------------------------
# formatting (A8: ST_AsGeoJSON / ST_AsText; F6 zero-length fixup; F9 metadata)
# ---------------------------------------------------------------------------

def _response(geometry) -> dict:
    """Reference response envelope (response.py:6-15)."""
    return {
        "attribution": ATTRIBUTION,
        "version": VERSION,
        "timestamp": int(time.time()),
        "geometry": geometry,
    }


@dataclass
class ElevationService:
    """The reference's query surface over a tile-image table.

    Holds the persisted decoded pixel index so repeated requests reuse
    the decode work (what the reference gets from PostGIS's buffer
    cache).
    """

    spark: SparkSession
    images_df: DataFrame
    _pix: DataFrame | None = field(default=None, repr=False)

    def _pix_index(self) -> DataFrame:
        if self._pix is None:
            from .operators.sample import pixel_index

            self._pix = pixel_index(self.images_df)
            self._pix.persist()
            self._pix.count()
        return self._pix

    def polygon_frame(self, ring) -> DataFrame:
        """One-row polygon input (poly_id 0) for the polygon operators."""
        return self.spark.createDataFrame(
            pd.DataFrame({"poly_id": [0],
                          "ring": [[{"lon": x, "lat": y} for x, y in ring]]}),
            schema="poly_id long, ring array<struct<lon:double,lat:double>>",
        )

    # -- POST/GET /elevation/point (views.py:128-189) ----------------------
    def point(self, geometry, format_in: str = "point",
              format_out: str = "geojson", dataset: str = "srtm") -> dict:
        validate_dataset(dataset)
        gtype, coords = parse_geometry(geometry, format_in)
        if gtype != "Point":
            raise _err_geometry("Point endpoint requires a Point geometry")
        lon, lat = coords[0]
        pts = self.spark.createDataFrame(
            pd.DataFrame({"point_id": [0], "lon": [lon], "lat": [lat]})
        )
        rows = point_elevation(pts, self.images_df, how="left",
                               pix_index_df=self._pix_index()).collect()
        r = rows[0]
        if r["image_id"] is None:
            # querybuilder.py:309-311
            raise _err_geometry(
                "The requested geometry is outside the bounds of srtm"
            )
        z = int(r["z"]) if r["z"] is not None else NODATA
        if format_out == "geojson":
            geom = {"type": "Point", "coordinates": [lon, lat, z]}
        elif format_out == "point":
            geom = [lon, lat, z]
        else:
            raise _err_value(f"Invalid format_out value: {format_out}")
        return _response(geom)

    def point_get(self, geometry_text: str, format_out: str = "geojson",
                  dataset: str = "srtm") -> dict:
        lon, lat = parse_get_geometry(geometry_text)
        return self.point([lon, lat], "point", format_out, dataset)

    # -- POST /elevation/line (views.py:71-125) -----------------------------
    def line(self, geometry, format_in: str = "geojson",
             format_out: str = "geojson", dataset: str = "srtm") -> dict:
        validate_dataset(dataset)
        gtype, coords = parse_geometry(geometry, format_in)
        if gtype != "LineString":
            raise _err_geometry("Line endpoint requires a LineString geometry")
        if len(coords) > MAXIMUM_NODES:
            # V5: maximum_nodes is configured+tested in the reference but
            # enforced nowhere; we enforce it (LimitError 4003).  Checked
            # BEFORE the two-vertex guard so oversized inputs get 4003
            # (the reference test_api_line.py:90-97 expects 4003 for a
            # 2001-node polyline).
            raise _err_limit(
                f"Maximum number of nodes exceeded: {len(coords)} > {MAXIMUM_NODES}"
            )
        if len(coords) != 2:
            # querybuilder.py:194-195 (reference 4002-rejects n != 2)
            raise _err_geometry(
                "Only LineString with exactly 2 points are supported"
            )
        (x1, y1), (x2, y2) = coords
        lines = self.spark.createDataFrame(
            pd.DataFrame({"line_id": [0], "x1": [x1], "y1": [y1],
                          "x2": [x2], "y2": [y2]})
        )
        # sorted on the driver: a Spark orderBy would run the plan (for
        # polygons, the Python rasterizer) again in its sampling job
        verts = sorted(
            line_vertices_elevation(lines, self.images_df,
                                    pix_index_df=self._pix_index())
            .select("seq", "x", "y", F.coalesce(F.col("z"), F.lit(NODATA)).alias("z"))
            .collect(),
            key=lambda r: r["seq"],
        )
        if not verts:
            raise _err_geometry(
                "The requested geometry is outside the bounds of srtm"
            )
        out = [(r["x"], r["y"], int(r["z"])) for r in verts]
        # F6 zero-length-line fixup (views.py:63-68): one unique vertex → Point
        if len({(x, y) for x, y, _ in out}) == 1:
            x, y, z = out[0]
            if format_out == "geojson":
                return _response({"type": "Point", "coordinates": [x, y, z]})
            if format_out == "polyline":
                return _response([[x, y, z]])
            if format_out == "encodedpolyline":
                return _response(pl.encode([(x, y, z)], precision=5, is3d=True))
            raise _err_value(f"Invalid format_out value: {format_out}")
        if format_out == "geojson":
            geom = {"type": "LineString",
                    "coordinates": [[x, y, z] for x, y, z in out]}
        elif format_out == "polyline":
            geom = [[x, y, z] for x, y, z in out]
        elif format_out == "encodedpolyline":
            geom = pl.encode(out, precision=5, is3d=True)
        else:
            raise _err_value(f"Invalid format_out value: {format_out}")
        return _response(geom)

    # -- gRPC AreaPointsElevation (grpc_server.py:79-91) --------------------
    def polygon(self, geometry, format_in: str = "polygon",
                dataset: str = "srtm") -> dict:
        validate_dataset(dataset)
        gtype, ring = parse_geometry(geometry, format_in)
        if gtype != "Polygon":
            raise _err_geometry("Polygon endpoint requires a Polygon geometry")
        polys = self.polygon_frame(ring)
        # W2 ordered dump, sorted on the driver like the line reply above
        px = sorted(polygon_pixels(polys, self.images_df)
                    .select("x", "y", "z").collect(),
                    key=lambda r: (r["x"], r["y"]))
        if not px:
            raise _err_geometry(
                "The requested geometry is outside the bounds of srtm"
            )
        return _response([[r["x"], r["y"], int(r["z"])] for r in px])

    # -- gRPC AreaRangesElevation / colorpolygon (grpc_server.py:106-141) ---
    def colorpolygon(self, geometry, format_in: str = "polygon",
                     dataset: str = "srtm") -> dict:
        validate_dataset(dataset)
        gtype, ring = parse_geometry(geometry, format_in)
        if gtype != "Polygon":
            raise _err_geometry("Polygon endpoint requires a Polygon geometry")
        polys = self.polygon_frame(ring)
        feats = polygon_color_features(polys, self.images_df).toPandas()
        if feats.empty:
            raise _err_geometry(
                "The requested geometry is outside the bounds of srtm"
            )
        return _response(feature_collection(feats))
