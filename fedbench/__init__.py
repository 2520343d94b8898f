"""Federation benchmark harness (see run.py)."""
