"""Layer-attributed benchmark of the rasters_spark engine (see run.py)."""
