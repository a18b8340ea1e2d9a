"""Closed-loop benchmark of the gdal_vfr_spark engine (see RATIONALE.md)."""
