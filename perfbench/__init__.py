"""Benchmark of the openelevationservice_spark package (see README.md)."""
