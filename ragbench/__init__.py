"""ragbench: the pipeline's end-to-end and per-layer benchmark (see run.py)."""
