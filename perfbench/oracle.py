"""The output check of every op, against the DuckDB oracle
(``__spark_entry__.oracle_sql()``), run in a child process.

The child computes the expected outputs (cached per fixture and oracle SQL,
so only the first run on a checkout pays for them), holds them, and answers
one check per op: column names against the oracle's ``DESCRIBE``, a written
parquet directory read back by DuckDB, or a collected frame. Frames are
compared with the normalisation of ``scripts/check_oracle.py``. DuckDB, the
expected outputs and the comparison's copies therefore stay out of the
measured process and its peak RSS.

Child-process usage: python oracle.py <root> <data_dir> <cache_dir>
<columns|parquet|frame> <entry>...
"""

from __future__ import annotations

import glob
import hashlib
import os
import pickle
import subprocess
import sys


class Oracle:
    """The measured process's end: ``check`` sends one op's output to the
    child and returns the mismatch, or None when the output is right."""

    def __init__(self, root: str, data_dir: str, cache_dir: str, mode: str,
                 names: list[str]):
        # both ends of the pipes are this module: pickle is safe here
        self._proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), root, data_dir,
             cache_dir, mode, *names],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE)
        self._recv()   # "ready": the expected outputs are loaded

    def _recv(self):
        try:
            return pickle.load(self._proc.stdout)
        except EOFError:
            self._proc.wait()
            raise RuntimeError(f"oracle process exited "
                               f"{self._proc.returncode}") from None

    def check(self, name: str, output) -> str | None:
        pickle.dump((name, output), self._proc.stdin)
        self._proc.stdin.flush()
        return self._recv()

    def close(self) -> None:
        self._proc.stdin.close()
        self._proc.wait(timeout=60)


# -- the child ---------------------------------------------------------------

def _duckdb(threads: int):
    import duckdb

    return duckdb.connect(config={
        "threads": threads, "memory_limit": "3GB",
        # the oracle reads local parquet only; never fetch an extension
        "autoinstall_known_extensions": False,
        "autoload_known_extensions": False})


def _expected(root: str, data_dir: str, cache_dir: str, kind: str,
              names: list[str]) -> dict:
    """name -> expected output: the DESCRIBE column names (``columns``) or
    the result frame (``frames``); ``{"error": msg}`` when the oracle SQL
    itself fails."""
    sys.path.insert(0, root)
    import __spark_entry__ as entries

    sqls = entries.oracle_sql()
    os.makedirs(cache_dir, exist_ok=True)
    out, con = {}, None
    for name in names:
        digest = hashlib.sha256(sqls[name].encode()).hexdigest()[:12]
        path = os.path.join(cache_dir, f"{name}-{digest}.{kind}.pkl")
        if os.path.isfile(path):
            # written below by this module, never by others
            with open(path, "rb") as f:
                out[name] = pickle.load(f)
            continue
        if con is None:
            con = _duckdb(len(os.sched_getaffinity(0)))
            for table in sorted(glob.glob(os.path.join(data_dir,
                                                       "*.parquet"))):
                view = os.path.splitext(os.path.basename(table))[0]
                con.execute(f"CREATE VIEW {view} AS SELECT * FROM '{table}'")
        try:
            if kind == "columns":
                value = [r[0] for r in
                         con.execute("DESCRIBE " + sqls[name]).fetchall()]
            else:
                value = con.execute(sqls[name]).fetchdf()
        except Exception as e:  # recorded as the entry's failure
            value = {"error": f"oracle error: {str(e)[:200]}"}
        with open(path + ".tmp", "wb") as f:
            pickle.dump(value, f)
        os.replace(path + ".tmp", path)
        out[name] = value
    if con is not None:
        con.close()
    return out


def _compare(normalize, want, actual) -> str | None:
    import pandas as pd

    a, e = normalize(actual), normalize(want)
    if list(a.columns) != list(e.columns):
        return f"columns {list(a.columns)} vs oracle {list(e.columns)}"
    if len(a) != len(e):
        return f"rows {len(a)} vs oracle {len(e)}"
    try:
        pd.testing.assert_frame_equal(a, e, check_dtype=False,
                                      check_exact=False, rtol=1e-5,
                                      atol=1e-7)
    except AssertionError as err:
        return f"values differ: {str(err)[:200]}"
    return None


def _serve(root: str, data_dir: str, cache_dir: str, mode: str,
           names: list[str]) -> None:
    replies = sys.stdout.buffer
    sys.stdout = sys.stderr   # the pipe carries replies only
    sys.path.insert(0, os.path.join(root, "scripts"))
    from check_oracle import normalize

    expected = _expected(root, data_dir, cache_dir,
                         "columns" if mode == "columns" else "frames", names)
    con = _duckdb(1) if mode == "parquet" else None

    def check(name, output):
        want = expected[name]
        if isinstance(want, dict):
            return want["error"]
        if mode == "columns":
            if list(output) != want:
                return f"columns {list(output)} vs oracle {want}"
            return None
        if mode == "parquet":
            output = con.execute(
                f"SELECT * FROM read_parquet('{output}/*.parquet')").fetchdf()
        return _compare(normalize, want, output)

    def reply(msg):
        pickle.dump(msg, replies)
        replies.flush()

    reply("ready")
    while True:
        try:
            name, output = pickle.load(sys.stdin.buffer)
        except EOFError:
            break
        try:
            reply(check(name, output))
        except Exception as e:  # the check itself broke: the op fails
            reply(f"check error: {type(e).__name__}: {str(e)[:300]}")


if __name__ == "__main__":
    _serve(sys.argv[1], sys.argv[2], sys.argv[3], sys.argv[4], sys.argv[5:])
