"""Layered benchmark for datasette_upload_csvs_spark (see README.md)."""
