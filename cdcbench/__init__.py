"""CDC engine benchmark: workloads, tracing and probes (see run.py)."""

import sys
import time


def log(msg: str) -> None:
    """Progress and problems go to standard error; stdout carries the result."""
    print(f"[cdcbench] {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr, flush=True)
