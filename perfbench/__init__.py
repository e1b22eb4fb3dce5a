"""Benchmark for the gis_etl_spark engine; see run.py."""
