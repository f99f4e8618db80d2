"""End-to-end benchmark for the mapreduce_wsi_spark engine (see run.py)."""
