"""CDC ingest benchmark: see run.py."""
