"""Engine-level constants, mirroring the reference's configuration.

Values are pinned to the reference so join outputs match bit-for-bit:

- ``COORD_PRECISION`` — the only resolution constant in the reference app
  (reference ``openelevationservice/server/ops_settings.sample.yml:3``,
  read at ``server/api/querybuilder.py:21``).
- ``NODATA`` — int16 NODATA sentinel
  (reference ``server/api/querybuilder.py:23`` and the clip fill value at
  ``server/api/elevation_query_area_union.py:13``).
- ``TILE_PX`` — 50x50-pixel physical tile grain
  (reference ``server/db_import/filestreams.py:72-78``,
  ``raster2pgsql ... -t 50x50 ... -P``).
"""

from __future__ import annotations

# 3 arc-second pixel, in degrees (exact decimal from the reference yml).
COORD_PRECISION: float = 0.00083333333333333333
PX: float = COORD_PRECISION

# NODATA sentinel (int16 min).
NODATA: int = -32768

# Pixels per tile side (both axes).
TILE_PX: int = 50

# Ground footprint of one tile, in degrees.
TILE_DEG: float = TILE_PX * PX

# Global cell-grid anchor: upper-left corner of the (lon, lat) plane.
# Cells and tiles are addressed from here so that a tile footprint is
# exactly one cell (see functions/cells.py).
WORLD_X0: float = -180.0
WORLD_Y0: float = 90.0

# Number of cells along the x axis (cell = one tile): 360 / TILE_DEG = 8640.
NCELL_X: int = round(360.0 / TILE_DEG)

# Elevation-band bucketing (reference
# ``server/api/querybuilder.py:66-67`` — num_ranges = 23).
NUM_RANGES: int = 23

# maximum_nodes from the reference settings (documented, unenforced there;
# see SURVEY.md §2.11 V5).
MAXIMUM_NODES: int = 2000
