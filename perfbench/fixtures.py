"""Benchmark data.

sf0.1 and sf0.001 are copies of the synthetic TPC-H-style tables the engine's
oracle entries are written against (``data/``). sf1 is built from sf0.1 by
the repository's ``scripts/gen_scale.py 10`` into the work directory, and is
accepted only when every table holds exactly 10x its sf0.1 rows (region and
nation are not replicated).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
UNREPLICATED = ("region", "nation")
SF1_FACTOR = 10


class FixtureError(Exception):
    """The data a run needs is missing or does not pass its checks."""


def row_counts(data_dir: str) -> dict[str, int]:
    import pyarrow.parquet as pq

    counts = {}
    for table in TABLES:
        path = os.path.join(data_dir, f"{table}.parquet")
        if not os.path.isfile(path):
            raise FixtureError(f"{path} is missing")
        counts[table] = pq.ParquetFile(path).metadata.num_rows
    return counts


def fixture_id(data_dir: str) -> str:
    """Content hash of a data directory's tables."""
    h = hashlib.sha256()
    for table in TABLES:
        h.update(table.encode())
        with open(os.path.join(data_dir, f"{table}.parquet"), "rb") as f:
            for block in iter(lambda: f.read(1 << 20), b""):
                h.update(block)
    return h.hexdigest()[:16]


def _file_sha(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:16]


def check_scaled(data_dir: str, base_dir: str, factor: int) -> None:
    base = row_counts(base_dir)
    got = row_counts(data_dir)
    bad = [f"{t}: {got[t]} rows, expected "
           f"{base[t] * (1 if t in UNREPLICATED else factor)}"
           for t in TABLES
           if got[t] != base[t] * (1 if t in UNREPLICATED else factor)]
    if bad:
        raise FixtureError(f"{data_dir} refused: " + "; ".join(bad))


def ensure_sf1(root: str, base_dir: str, work_dir: str, log_path: str) -> str:
    """Return the sf1 directory, building it first when it is missing or was
    built from other inputs. Raises FixtureError if its row counts are not
    exactly 10x sf0.1."""
    out = os.path.join(work_dir, "sf1")
    stamp_path = os.path.join(out, "STAMP.json")
    generator = os.path.join(root, "scripts", "gen_scale.py")
    stamp = {"base": fixture_id(base_dir), "generator": _file_sha(generator),
             "factor": SF1_FACTOR}
    try:
        with open(stamp_path) as f:
            current = json.load(f) == stamp
    except (OSError, ValueError):
        current = False
    if not current:
        shutil.rmtree(out, ignore_errors=True)
        tmp = out + ".partial"
        shutil.rmtree(tmp, ignore_errors=True)
        with open(log_path, "a") as log:
            subprocess.run([sys.executable,
                            os.path.join(os.path.dirname(__file__), "jvm.py"),
                            generator, str(SF1_FACTOR), tmp, base_dir],
                           stdout=log, stderr=log, check=True, cwd=work_dir)
        with open(os.path.join(tmp, "STAMP.json"), "w") as f:
            json.dump(stamp, f)
        os.rename(tmp, out)
    check_scaled(out, base_dir, SF1_FACTOR)
    return out
