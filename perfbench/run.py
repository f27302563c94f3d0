"""Closed-loop benchmark of the SQL engine, end to end and per layer.

One client runs one op at a time (the next op starts when the previous one
returns) on local[nproc]. Workloads (see spec.py):

- plan_only: every SQL entry of __spark_entry__._PAIRS compiled and planned
  (``SqlEngine.explain``), at sf0.1; output columns checked against the
  oracle's DESCRIBE.
- pipelines: operator entries, each written with sources.sinks.write_parquet,
  at sf0.1; the parquet is read back by DuckDB and checked.
- tpch_sf1: TPC-H and subquery entries collected with toPandas(), at sf1
  (built once by scripts/gen_scale.py 10); the frame is checked.

The seed fixes each pass's op order. Checks run in the oracle's child
process with the clock stopped; op time is the only time measured. The
engine runs stock: its default heap, no SPARK_GRAFT_* tuning.

Usage, from the repository root:

    python3 perfbench/run.py --workload plan_only --seed 1 --trace 0
    python3 perfbench/run.py --all --seed 1   # every workload, untraced+traced
    python3 perfbench/run.py --self-check     # a few ops each on sf0.001

A run prints its metrics by name with their units, then one JSON line:
{"correct", "attempted", "failed", "metrics"}. --trace 0 gives the
end-to-end metrics, --trace 1 the per-layer ones. Each run also writes a
record (stamps, failures, plan fingerprints) and, when traced, its spans
under perfbench/.work/. ``--compare-fps RECORD`` counts the entries whose
plan fingerprint changed against an earlier record.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib.metadata
import io
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
sys.path.insert(0, BENCH)

import fixtures  # noqa: E402
import oracle  # noqa: E402
import spec  # noqa: E402
from jvm import stop_jvm  # noqa: E402
from tracing import NoTracer, Tracer, self_ms  # noqa: E402

REQUIRED = ("sql_to_ibis_spark/__init__.py", "__spark_entry__.py", "bench.py",
            "scripts/check_oracle.py", "scripts/gen_scale.py")
SETUPS = 3


class BenchError(Exception):
    """The run cannot be measured; no result is printed."""


# -- environment -------------------------------------------------------------

def prepare_env() -> dict:
    """Run the engine stock on local[nproc], with its default heap, and keep
    every write in WORK. Returns the stamp of what the environment held
    before."""
    inherited = {k: v for k, v in sorted(os.environ.items())
                 if k.startswith("SPARK_GRAFT_") or k == "SPARK_DRIVER_MEMORY"}
    for k in inherited:
        if k != "SPARK_GRAFT_CPUS":
            del os.environ[k]
    nproc = len(os.sched_getaffinity(0))
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc))
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp}' pyspark-shell")
    # Spark's Python workers import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    return {"nproc": nproc,
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "inherited_env": inherited}


def declared_metrics() -> dict[str, dict[str, str]]:
    """BENCHMARK.json's metrics: {"end_to_end"|"per_layer": {name: unit}}."""
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            declared = json.load(f)
    except (OSError, ValueError) as e:
        raise BenchError(f"BENCHMARK.json: {e}") from e
    return {key: {m["name"]: m["unit"] for m in declared[key]}
            for key in ("end_to_end", "per_layer")}


def git_head() -> str | None:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise BenchError(f"no VmHWM for pid {pid}")


class HeapAfterGc:
    """The JVM heap in use after its most recent garbage collection, read
    from the management beans through Py4J. Sampled after every timed op,
    its maximum is the run's peak heap after GC: what the engine held, plus
    what old-generation collections had not yet reclaimed, whatever size the
    stock heap itself grew to."""

    def __init__(self, jvm):
        mgmt = jvm.java.lang.management
        self._beans = mgmt.ManagementFactory
        self._heap = [p.getName() for p in self._beans.getMemoryPoolMXBeans()
                      if p.getType() == mgmt.MemoryType.HEAP]
        self.max_mb = 0.0

    def sample(self) -> None:
        last = None
        for collector in self._beans.getGarbageCollectorMXBeans():
            info = collector.getLastGcInfo()
            if info is not None and (last is None or
                                     info.getEndTime() > last.getEndTime()):
                last = info
        if last is not None:
            after = last.getMemoryUsageAfterGc()
            self.max_mb = max(self.max_mb, sum(
                after[p].getUsed() for p in self._heap if p in after) / 2**20)


# -- one op ------------------------------------------------------------------

def run_op(workload, name, fn, spark, data_dir, out_dir, tracer):
    """Build and act on one entry. Returns (DataFrame, output to check)."""
    from sql_to_ibis_spark.sources.sinks import write_parquet

    if workload == "pipelines":
        with tracer.span("entry"):
            df = fn(spark, data_dir)
    else:
        df = fn(spark, data_dir)
    if not isinstance(tracer, NoTracer):
        qe = df._jdf.queryExecution()
        with tracer.span("optimize"):
            qe.optimizedPlan()
        with tracer.span("physical"):
            qe.executedPlan()
    with tracer.span("action"):
        if workload == "plan_only":
            # SqlEngine.explain(sql): compile, then render the physical plan
            with contextlib.redirect_stdout(io.StringIO()):
                df.explain("formatted")
            return df, None
        if workload == "tpch_sf1":
            return df, df.toPandas()
        path = os.path.join(out_dir, name)
        write_parquet(df, path)
        return df, path


# -- a run -------------------------------------------------------------------

def entry_names(workload: str, entries) -> list[str]:
    if workload == "plan_only":
        return list(entries._PAIRS)
    if workload == "tpch_sf1":
        return [n for n in entries._PAIRS
                if n.startswith(("tpch_", "subquery_"))]
    return list(spec.PIPELINE_ENTRIES)


def percentile(values: list[float], q: float) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def run(args) -> dict:
    for rel in REQUIRED:
        if not os.path.isfile(os.path.join(ROOT, rel)):
            raise BenchError(f"{rel} not found under {ROOT}: the benchmark "
                             "runs from a checkout of the engine")
    units = declared_metrics()["per_layer" if args.trace else "end_to_end"]
    os.makedirs(WORK, exist_ok=True)
    env_stamp = prepare_env()
    sys.path.insert(0, ROOT)
    import __spark_entry__ as entries
    import bench as bench_mod
    import pyspark
    import sql_to_ibis_spark
    from sql_to_ibis_spark.session import get_spark

    if not os.path.abspath(sql_to_ibis_spark.__file__).startswith(ROOT):
        raise BenchError(f"sql_to_ibis_spark imported from "
                         f"{sql_to_ibis_spark.__file__}, not from {ROOT}")

    workload = args.workload
    scale = args.data or spec.WORKLOADS[workload].scale
    base_dir = os.path.join(BENCH, "data", "sf0.1")
    try:
        if scale == "sf1":
            data_dir = fixtures.ensure_sf1(ROOT, base_dir, WORK,
                                           os.path.join(WORK, "gen_scale.log"))
        else:
            data_dir = os.path.join(BENCH, "data", scale)
            fixtures.row_counts(data_dir)
    except (fixtures.FixtureError, subprocess.CalledProcessError) as e:
        raise BenchError(f"fixture: {e}") from e
    fixture = fixtures.fixture_id(data_dir)

    names = entry_names(workload, entries)
    oracle_sql = entries.oracle_sql()
    missing = [n for n in names if n not in oracle_sql]
    if missing:
        raise BenchError(f"no oracle for {missing}")
    w = spec.WORKLOADS[workload]
    checker = oracle.Oracle(ROOT, data_dir,
                            os.path.join(WORK, "oracle", fixture), w.check,
                            names)
    try:
        return measure(args, entries, bench_mod, get_spark, data_dir, names,
                       checker, units, {
                           "data": os.path.relpath(data_dir, ROOT),
                           "fixture": fixture,
                           "pyspark": pyspark.__version__,
                           "duckdb": importlib.metadata.version("duckdb"),
                           **env_stamp})
    finally:
        checker.close()


def measure(args, entries, bench_mod, get_spark, data_dir, names, checker,
            units, stamp) -> dict:
    workload = args.workload
    # All set-ups first, then, on the last session, an untimed warm-up pass
    # (first-use costs: JIT, Python workers), then the timed passes. Timing
    # starts this late because a pass timed earlier in the JVM's life ran
    # slower, on entries already warmed as much as on new ones.
    # With more than one pass, an entry's latency is its best op, so a
    # short slow spell of the machine (which shares its CPUs) does not set
    # the run's figures. A traced run times an untraced and a traced pass
    # each time; their difference is the tracing overhead.
    w = spec.WORKLOADS[workload]
    rng = random.Random(args.seed)
    npasses = spec.passes_for(workload, args.seconds, args.trace)
    kinds = ["warmup"] * w.warmup \
        + (["plain", "traced"] if args.trace else ["plain"]) * npasses
    passes = []
    for kind in kinds:
        order = list(names)
        rng.shuffle(order)
        passes.append((kind, order[:args.ops] if args.ops else order))

    load_before = os.getloadavg()
    t_run = time.perf_counter()
    queries = entries.queries()
    tracer = Tracer() if args.trace else None
    no_tracer = NoTracer()
    out_dir = os.path.join(WORK, "out", workload)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)

    spark = None
    setups = []   # (set-up seconds, session start ms)

    def set_up() -> None:
        """One set-up, timed: a fresh session, then what _engine_for does."""
        nonlocal spark
        if spark is not None:
            spark.stop()
        entries._ENGINES.clear()
        i = len(setups)
        t0 = time.perf_counter()
        spark = get_spark(app_name="perfbench")
        t1 = time.perf_counter()
        if tracer:
            tracer.attach(spark)
            tracer.install()
            with tracer.op(f"setup-{i}"):
                entries._engine_for(spark, data_dir)
            tracer.uninstall()
        else:
            entries._engine_for(spark, data_dir)
        setups.append((time.perf_counter() - t0, (t1 - t0) * 1e3))
        spark.sparkContext.setLogLevel("ERROR")

    op_s: dict[bool, dict[str, list[float]]] = {False: {}, True: {}}
    failures: dict[str, str] = {}
    last_df = {}
    attempted = failed = 0
    persisted_max = 0
    traced_ops = []
    for _ in range(SETUPS):
        set_up()
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    heap = HeapAfterGc(spark.sparkContext._jvm)
    for p, (kind, order) in enumerate(passes):
        traced = kind == "traced"
        if traced:
            tracer.install()
        for name in order:
            if kind == "warmup":
                try:
                    run_op(workload, name, queries[name], spark, data_dir,
                           out_dir, no_tracer)
                except Exception:  # the timed passes count and name it
                    pass
                continue
            op_id = f"p{p}-{name}"
            t = tracer if traced else no_tracer
            attempted += 1
            err = None
            df = output = None
            t0 = time.perf_counter()
            try:
                with t.op(op_id):
                    df, output = run_op(workload, name, queries[name], spark,
                                        data_dir, out_dir, t)
            except Exception as e:  # an op failure is a result, not a crash
                err = f"error: {type(e).__name__}: {str(e)[:300]}"
            op_s[traced].setdefault(name, []).append(time.perf_counter() - t0)
            if traced:
                op_spans = [s for s in tracer.spans if s["op"] == op_id]
                tracer.spark_work(op_spans)
                traced_ops.append(op_spans)
                persisted_max = max(persisted_max, tracer.persisted_rdds())
            if err is None:
                try:
                    err = checker.check(name, df.columns if w.check ==
                                        "columns" else output)
                except Exception as e:  # the check itself broke: count it
                    err = f"check error: {type(e).__name__}: {str(e)[:300]}"
            if err is not None:
                failed += 1
                failures.setdefault(name, err)
            if df is not None:
                last_df[name] = df
            heap.sample()
        if traced:
            tracer.uninstall()
    t_ops = time.perf_counter()
    mem = {"python_rss": vm_hwm_mb(os.getpid()),
           "jvm_rss": vm_hwm_mb(jvm_pid), "jvm_heap_after_gc": heap.max_mb}
    load_after = os.getloadavg()

    plan_fps = {}
    for name, df in sorted(last_df.items()):
        try:
            plan_fps[name] = bench_mod._plan_fp(df)
        except Exception as e:  # recorded, the fingerprint is informational
            plan_fps[name] = f"error: {type(e).__name__}"

    # an entry's latency: its best untraced op in the run
    best = {n: min(v) for n, v in op_s[False].items()}
    if args.trace:
        traced_s = sum(sum(v) for v in op_s[True].values())
        untraced_s = sum(sum(v) for v in op_s[False].values())
        metrics = layer_metrics(traced_ops, tracer.spans, setups,
                                kinds.count("traced"), tracer.py4j_calls,
                                persisted_max, traced_s, untraced_s)
    else:
        # correct ops per second of op time: every timed op counts
        metrics = {
            "setup_s": statistics.median(s for s, _ in setups),
            "ops_per_s": (attempted - failed)
            / sum(sum(v) for v in op_s[False].values()),
            "latency_p50_ms": statistics.median(best.values()) * 1e3,
            "latency_p90_ms": percentile(list(best.values()), 90) * 1e3,
            "memory_mb": mem["python_rss"] + mem["jvm_heap_after_gc"],
        }
    if set(metrics) != set(units):
        raise BenchError(f"metrics {sorted(metrics)} are not BENCHMARK.json's "
                         f"{sorted(units)}")
    result = {"correct": failed == 0, "attempted": attempted,
              "failed": failed,
              "metrics": {k: {"value": metrics[k], "unit": u}
                          for k, u in units.items()}}

    record = {
        "workload": workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "passes": npasses, "pass_kinds": kinds,
        "ops_per_pass": len(passes[-1][1]),
        "latency_samples": len(best),
        "error_rate": failed / attempted,
        "failures": failures,
        "entry_op_ms": {n: [round(t * 1e3, 3) for t in v]
                        for n, v in sorted(op_s[False].items())},
        "setup_s_all": [s for s, _ in setups],
        "peak_rss_mb": mem["python_rss"] + mem["jvm_rss"],
        "memory_mb_parts": mem,
        "loadavg_before": load_before, "loadavg_after": load_after,
        "git_head": git_head(), "python": sys.version.split()[0], **stamp,
        "phase_s": {"setups": sum(s for s, _ in setups),
                    "run": t_ops - t_run,
                    "after": time.perf_counter() - t_ops},
        "plan_fps": plan_fps,
        "result": result,
    }
    if args.compare_fps:
        with open(args.compare_fps) as f:
            old = json.load(f).get("plan_fps", {})
        common = sorted(set(old) & set(plan_fps))
        record["plan_fps_changed"] = [n for n in common
                                      if old[n] != plan_fps[n]]
        record["plan_fps_compared"] = len(common)
    utc = time.strftime("%Y%m%dT%H%M%S", time.gmtime())
    base = f"{workload}-seed{args.seed}-trace{args.trace}-{utc}"
    if args.trace:
        os.makedirs(os.path.join(WORK, "spans"), exist_ok=True)
        record["spans"] = os.path.join(WORK, "spans", base + ".jsonl")
        tracer.dump(record["spans"], t_run)
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    record["path"] = os.path.join(WORK, "records", base + ".json")
    with open(record["path"], "w") as f:
        json.dump(record, f, indent=1, default=str)
    return record


def layer_metrics(traced_ops, spans, setups, npasses, py4j_calls,
                  persisted_max, traced_s, untraced_s) -> dict:
    """Per-layer totals per pass (time is self time), set-up layers as the
    median over the set-ups."""
    self_time = {"parse": "parser.ms", "compile": "compiler.ms",
                 "optimize": "catalyst.optimize_ms",
                 "physical": "catalyst.physical_ms", "action": "exec.ms",
                 "entry": "operators.build_ms"}
    totals = dict.fromkeys(
        [*self_time.values(), "compiler.jobs", "operators.build_jobs",
         *(f"exec.{k}" for k in ("jobs", "stages", "tasks", "shuffle_bytes",
                                 "spill_bytes", "gc_ms"))], 0.0)
    for op_spans in traced_ops:
        own = self_ms(op_spans)
        for s in op_spans:
            if s["name"] in self_time:
                totals[self_time[s["name"]]] += own[s["id"]]
            # every job an op launched is execution; the compile and
            # entry shares name the eager ones
            for k in ("jobs", "stages", "tasks", "shuffle_bytes",
                      "spill_bytes", "gc_ms"):
                totals[f"exec.{k}"] += s.get(k, 0)
            if s["name"] == "compile":
                totals["compiler.jobs"] += s.get("jobs", 0)
            elif s["name"] == "entry":
                totals["operators.build_jobs"] += s.get("jobs", 0)
    totals["compiler.py4j_calls"] = py4j_calls
    out = {k: v / npasses for k, v in totals.items()}

    def setup_median(name):
        return statistics.median(
            sum((s["end"] - s["start"]) * 1e3 for s in spans
                if s["name"] == name and s["op"] == f"setup-{i}")
            for i in range(len(setups)))

    out["session.start_ms"] = statistics.median(ms for _, ms in setups)
    out["sources.register_ms"] = setup_median("register_dir")
    out["engine.analyze_ms"] = setup_median("analyze")
    out["engine.persisted_rdds_max"] = float(persisted_max)
    out["trace.overhead_pct"] = (traced_s / untraced_s - 1) * 100
    return out


# -- modes -------------------------------------------------------------------

def print_run(record: dict) -> None:
    res = record["result"]
    print(f"workload {record['workload']} seed {record['seed']} trace "
          f"{record['trace']}: {res['attempted']} ops "
          f"({record['passes']} x {record['ops_per_pass']} per pass"
          f"{' per mode' if record['trace'] else ''}), "
          f"{res['failed']} failed, {record['latency_samples']} latency "
          f"samples, data {record['data']}")
    for k, m in res["metrics"].items():
        print(f"  {k} {m['value']:.6g} {m['unit']}")
    print(f"  error_rate {record['error_rate']:.6g} ratio")
    print(f"  peak_rss_mb {record['peak_rss_mb']:.6g} MB")
    for name, why in sorted(record["failures"].items()):
        print(f"  FAILED {name}: {why}")
    print(f"  plan_fps: {len(record['plan_fps'])} entries")
    if "plan_fps_changed" in record:
        print(f"  plan_fps changed: {len(record['plan_fps_changed'])} of "
              f"{record['plan_fps_compared']}: "
              f"{', '.join(record['plan_fps_changed']) or '-'}")
    print(f"  record {os.path.relpath(record['path'], ROOT)}")


def child(workload, seed, seconds, trace, extra=()) -> dict:
    """Run one workload in a fresh process; return its record."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace",
           str(trace), *extra]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=1800)
    if out.returncode != 0:
        raise BenchError(f"{' '.join(cmd[1:])} exited {out.returncode}:\n"
                         f"{out.stderr[-2000:]}")
    lines = out.stdout.strip().splitlines()
    rec_line = [ln for ln in lines if ln.strip().startswith("record ")][-1]
    with open(os.path.join(ROOT, rec_line.split()[-1])) as f:
        record = json.load(f)
    if json.loads(lines[-1]) != record["result"]:
        raise BenchError(f"{workload}: record and printed result differ")
    return record


def run_all(args) -> int:
    print(f"{'workload':10} {'metric':26} {'value':>12}  unit")
    failed = False
    for w in spec.WORKLOADS:
        plain = child(w, args.seed, args.seconds, 0)
        traced = child(w, args.seed, args.seconds, 1)
        rows = list(plain["result"]["metrics"].items())
        rows.append(("error_rate", {"value": plain["error_rate"],
                                    "unit": "ratio"}))
        rows.append(("peak_rss_mb", {"value": plain["peak_rss_mb"],
                                     "unit": "MB"}))
        rows += list(traced["result"]["metrics"].items())
        for k, m in rows:
            move = f"  -> {spec.SHOULD_MOVE[k]}" if k in spec.SHOULD_MOVE \
                else ""
            print(f"{w:10} {k:26} {m['value']:12.6g}  {m['unit']}{move}")
        for name, why in sorted({**plain["failures"],
                                 **traced["failures"]}.items()):
            print(f"{w:10} FAILED {name}: {why}")
            failed = True
    return 1 if failed else 0


def self_check(args) -> int:
    """Each workload for a few ops on sf0.001, untraced and traced: every
    metric of BENCHMARK.json is emitted with its unit, and every output
    checks."""
    problems = []
    declared = declared_metrics()
    for w in spec.WORKLOADS:
        for trace, want in ((0, declared["end_to_end"]),
                            (1, declared["per_layer"])):
            try:
                rec = child(w, 1, 1, trace,
                            ("--data", "sf0.001", "--ops", "3"))
            except BenchError as e:
                problems.append(str(e))
                continue
            got = {k: m["unit"] for k, m in rec["result"]["metrics"].items()}
            if got != want:
                problems.append(f"{w} trace {trace}: metrics {got} != {want}")
            if not rec["result"]["correct"]:
                problems.append(f"{w} trace {trace}: {rec['failures']}")
            if not rec["plan_fps"] or "error_rate" not in rec:
                problems.append(f"{w} trace {trace}: record incomplete")
            print(f"self-check {w} trace {trace}: "
                  f"{rec['result']['attempted']} ops, "
                  f"{len(got)} metrics, correct={rec['result']['correct']}")
    for p in problems:
        print("PROBLEM", p)
    print("self-check", "failed" if problems else "passed")
    return 1 if problems else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(spec.WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--compare-fps", metavar="RECORD",
                    help="count plan fingerprints changed against a record")
    ap.add_argument("--all", action="store_true",
                    help="every workload, untraced and traced")
    ap.add_argument("--self-check", action="store_true")
    ap.add_argument("--data", choices=("sf0.001", "sf0.1", "sf1"),
                    help="override the workload's data scale")
    ap.add_argument("--ops", type=int, default=0,
                    help="ops per pass (default: every entry)")
    args = ap.parse_args()
    try:
        if args.self_check:
            return self_check(args)
        if args.all:
            return run_all(args)
        if not args.workload:
            ap.error("--workload, --all or --self-check is required")
        record = run(args)
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    finally:
        if "pyspark" in sys.modules:
            stop_jvm()
    print_run(record)
    print(json.dumps(record["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
