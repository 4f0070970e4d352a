"""In-process gRPC parity shim — the S7 servicer surface without the wire.

Mirrors the reference servicer (``server/grpc/grpc_server.py:30-141``):
four RPCs over the engine's :class:`~openelevationservice_spark.api.
ElevationService`, returning **proto-shaped dicts** (the exact field
names of ``openelevation_pb2``: ``Elevation.value``,
``LineResponse.points[].{lon,lat,elevation}``,
``AreaPointsResponse.points``, ``AreaRangesResponse.{unions[].
{baseElevation,area.boundaries[].points},minElevation,maxElevation,
avgElevation}``).  Transport (sockets, protobuf codegen, reflection) is
deliberately out of engine scope (SURVEY.md §7.3); everything the
servicer *computes* — request shaping, error mapping, response
assembly — is here and unit-tested, so wiring a real ``grpc.server``
around it is mechanical.

Error mapping follows the reference's ``handle_exceptions`` decorator
(``grpc_server.py:17-28``): engine ``ApiError``s surface as an abort
with ``StatusCode.INTERNAL`` and the error message as details.
"""

from __future__ import annotations

from dataclasses import dataclass

from .api import ApiError, ElevationService
from .operators.color import polygon_color_features
from .operators.polygon import polygon_pixel_runs, run_stats


class GrpcAbort(Exception):
    """Stand-in for ``context.abort(...)`` — carries the status code and
    details a real servicer would send."""

    def __init__(self, status_code: str, details: str):
        self.status_code = status_code
        self.details = details
        super().__init__(f"{status_code}: {details}")


def _handle(func):
    """The reference's handle_exceptions: InvalidUsage (our ApiError) and
    unexpected errors both abort INTERNAL (grpc_server.py:17-28)."""
    def wrapper(self, request):
        try:
            return func(self, request)
        except ApiError as e:
            raise GrpcAbort("INTERNAL", e.message) from e
        except GrpcAbort:
            raise
        except Exception as e:  # pragma: no cover - parity with reference
            raise GrpcAbort("INTERNAL", "An unexpected error occurred.") from e
    return wrapper


def _bbox_ring(request: dict) -> list[list[float]]:
    """``_format_area_request`` (grpc_server.py:65-76): closed CCW ring
    from bottomLeft/topRight corners."""
    min_lat = request["bottomLeft"]["lat"]
    min_lon = request["bottomLeft"]["lon"]
    max_lat = request["topRight"]["lat"]
    max_lon = request["topRight"]["lon"]
    return [
        [min_lon, min_lat],
        [max_lon, min_lat],
        [max_lon, max_lat],
        [min_lon, max_lat],
        [min_lon, min_lat],
    ]


@dataclass
class OpenElevationServicer:
    """Proto-shaped servicer over the Spark engine (reference
    ``OpenElevationServicer``, grpc_server.py:30-141)."""

    service: ElevationService

    @_handle
    def PointElevation(self, request: dict) -> dict:
        """(lon, lat) → Elevation(value) (grpc_server.py:36-43)."""
        resp = self.service.point([request["lon"], request["lat"]],
                                  format_in="point", format_out="point")
        return {"value": int(resp["geometry"][2])}

    @_handle
    def LineElevation(self, request: dict) -> dict:
        """(start, end) → LineResponse(points) (grpc_server.py:45-62).

        The reference zero-length fixup collapses to a POINT; the proto
        response is still a point list, so the degenerate case emits its
        single vertex once — same as ``wkt.loads`` of the fixed-up WKT.
        """
        resp = self.service.line(
            [[request["start"]["lon"], request["start"]["lat"]],
             [request["end"]["lon"], request["end"]["lat"]]],
            format_in="polyline", format_out="polyline",
        )
        coords = resp["geometry"]
        return {
            "points": [
                {"lon": x, "lat": y, "elevation": int(z)} for x, y, z in coords
            ]
        }

    @_handle
    def AreaPointsElevation(self, request: dict) -> dict:
        """bbox → AreaPointsResponse(points) (grpc_server.py:79-91)."""
        resp = self.service.polygon(_bbox_ring(request), format_in="polygon")
        return {
            "points": [
                {"lon": x, "lat": y, "elevation": int(z)}
                for x, y, z in resp["geometry"]
            ]
        }

    @_handle
    def AreaRangesElevation(self, request: dict) -> dict:
        """bbox → AreaRangesResponse (grpc_server.py:104-141): dissolved
        per-band areas plus the polygon's min/max/avg elevation (the
        reference's ``polygon_union_by_elevation`` 3-tuple)."""
        svc = self.service
        polys = svc.polygon_frame(_bbox_ring(request))
        # ONE rasterization per RPC: the run table is persisted for
        # the RPC's two actions, so the stats action materializes it and
        # the dissolve action reads the cache — the reference likewise
        # fetches pixels once and derives both from the list
        # (querybuilder.py:77-88).  The run table is the dissolve's own
        # input, and the stats are JVM aggregates over its runs.
        runs = polygon_pixel_runs(polys, svc.images_df).persist()
        try:
            stats = run_stats(runs).collect()
            if not stats:
                raise GrpcAbort(
                    "INTERNAL",
                    "The requested geometry is outside the bounds of srtm",
                )
            feats = polygon_color_features(
                polys, svc.images_df, runs_df=runs
            ).toPandas()
        finally:
            runs.unpersist()
        unions = []
        for _, r in feats.iterrows():
            unions.append({
                "baseElevation": int(r["height_base"]),
                "area": {
                    "boundaries": [
                        {"points": [{"lon": p["x"], "lat": p["y"]} for p in ring]}
                        for ring in r["rings"]
                    ]
                },
            })
        s = stats[0]
        return {
            "unions": unions,
            "minElevation": int(s["min_z"]),
            "maxElevation": int(s["max_z"]),
            "avgElevation": float(s["avg_z"]),
        }


#: RPC names of the reference service ``propagamap.OpenElevation``
#: (openelevation.proto:58-63).
RPC_NAMES = ("PointElevation", "LineElevation",
             "AreaPointsElevation", "AreaRangesElevation")


def grpc_serve(service: ElevationService, port: int = 0):
    """Bind the shim to a real in-process ``grpc.server`` (reference
    ``grpc_serve``, grpc_server.py:143-158) when ``grpcio`` is
    importable — raises ImportError otherwise (this sandbox has no
    grpcio; the binding is feature-gated, the computation above is
    tested regardless).

    Messages travel as JSON-encoded bytes under the reference's service
    path ``/propagamap.OpenElevation/<Rpc>`` via generic RPC handlers —
    the same four RPCs and field names as ``openelevation_pb2``, without
    vendoring protobuf codegen output.  ``GrpcAbort`` maps to a real
    ``context.abort`` with the same status code and details.

    Returns ``(server, bound_port)``; caller owns ``server.stop()``.
    """
    import json
    from concurrent import futures

    import grpc  # gated: ImportError here means "transport unavailable"

    servicer = OpenElevationServicer(service)

    def _unary(method):
        def handler(request_bytes: bytes, context):
            try:
                resp = method(json.loads(request_bytes))
            except GrpcAbort as e:
                context.abort(getattr(grpc.StatusCode, e.status_code), e.details)
                return  # pragma: no cover - abort raises
            return json.dumps(resp).encode()
        return handler

    handlers = {
        name: grpc.unary_unary_rpc_method_handler(_unary(getattr(servicer, name)))
        for name in RPC_NAMES
    }
    server = grpc.server(futures.ThreadPoolExecutor(max_workers=4))
    server.add_generic_rpc_handlers(
        (grpc.method_handlers_generic_handler("propagamap.OpenElevation", handlers),)
    )
    bound = server.add_insecure_port(f"localhost:{port}")
    server.start()
    return server, bound
