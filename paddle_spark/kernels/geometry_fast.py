"""Box-count split for jobbench/trace.py's per-page layout timings (its only reader)."""

FAST_PATH_MAX_BOXES = 64
