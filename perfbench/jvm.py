"""Ending the JVM that PySpark started, and waiting until it has exited.

``python3 jvm.py SCRIPT ARGS...`` runs a script as ``__main__`` and then
stops the JVM it started, so a caller that waits for this process also
waits for the JVM.
"""

from __future__ import annotations

import runpy
import sys


def stop_jvm(timeout: float = 60) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        # the JVM exits when its stdin closes
        proc.stdin.close()
        proc.wait(timeout=timeout)


if __name__ == "__main__":
    sys.argv = sys.argv[1:]
    try:
        runpy.run_path(sys.argv[0], run_name="__main__")
    finally:
        stop_jvm()
