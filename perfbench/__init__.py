"""CDC ingest benchmark for forklift_spark (see README.md)."""
