"""Typed error taxonomy — parity with the reference's exception handler
(reference ErrorHandler.scala:8-46; all map to HTTP 400, unknown -> 500).
"""

from __future__ import annotations


class GeoprocessingError(Exception):
    """Base of the 400-class errors."""

    status = 400


class InvalidOperationError(GeoprocessingError):
    """Unknown operationType (reference WebServer.scala:89-92)."""


class MissingTargetRasterError(GeoprocessingError):
    """Average/GroupedAverage without targetRaster (Geoprocessing.scala:139-143)."""


class MissingVectorError(GeoprocessingError):
    """Operation requires a vector AOI and none was given (Geoprocessing.scala:59-74)."""


class MissingVectorCRSError(GeoprocessingError):
    """Vector present but its CRS missing (ErrorHandler.scala:11)."""


class MissingStreamLinesError(GeoprocessingError):
    """RasterLinesJoin without streamLines (Geoprocessing.scala:166-175)."""


class UnknownCRSError(GeoprocessingError):
    """CRS outside {LatLng, WebMercator, ConusAlbers} (Utils.scala:208-213)."""


class InvalidZoomError(GeoprocessingError):
    """Request zoom has no registered layer layout. The reference derives
    the grid from the tile layer itself (Geoprocessing.scala:219-221), so
    mask and layer frames can never diverge; serving a zoom whose layer
    frame is unknown would silently join mismatched pixel keys."""


class UnknownRasterError(GeoprocessingError):
    """A raster id (``rasters`` / ``targetRaster``) names no layer. The
    reference fails the layer fetch for such an id; here it is refused
    before any Spark work."""


class UnknownAoiError(GeoprocessingError):
    """A pre-rasterized AOI id (``aoiIds``, /multi ``shapes``) names no
    mask fixture."""


class InvalidGeometryError(GeoprocessingError):
    """A vector coordinate is not a finite number (NaN or +-Infinity,
    which JSON parsers accept as literals)."""
