"""Spans around the engine's public layer calls, for traced runs only.

``Tracer.install`` wraps, at run time and until ``uninstall``:

- ``plans.parser.parse`` and ``Compiler.compile`` as ``engine.query`` calls
  them (``parse`` / ``compile`` spans; Py4J round trips are counted while a
  compile runs);
- ``SqlEngine.register_dir`` and ``SqlEngine.analyze`` (set-up spans).

The benchmark opens the other spans itself around the pipeline entry call
(``entry``), the forcing of the op DataFrame's optimised and physical plans
(``optimize`` / ``physical``) and the action (``action``).

Each span holds a name, start, end, parent and op id, and runs under its own
Spark job group, so that Spark's status tracker and status store give the
jobs, stages, tasks, shuffle and spill bytes and GC time of the work it
launched. Spans stay in memory until ``dump``.
"""

from __future__ import annotations

import contextlib
import json
import threading
import time


class NoTracer:
    """Stand-in for untraced passes: spans cost nothing."""

    def span(self, name: str):
        return contextlib.nullcontext()

    op = span


class Tracer:
    """One per run; ``attach`` follows the run to each new Spark session."""

    def __init__(self):
        self.sc = None
        self.spans: list[dict] = []
        self.py4j_calls = 0
        self._stack: list[dict] = []
        self._op = None
        self._compiling = 0
        self._thread = threading.get_ident()
        self._undo: list = []

    def attach(self, spark) -> None:
        self.sc = spark.sparkContext

    # -- spans -------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "op": self._op,
               "parent": parent["id"] if parent else None,
               "group": f"perfbench-{len(self.spans)}", "py4j": 0}
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)

    @contextlib.contextmanager
    def op(self, op_id: str):
        self._op = op_id
        try:
            with self.span("op") as rec:
                yield rec
        finally:
            self._op = None

    def _set_group(self, rec: dict | None) -> None:
        # job-group bookkeeping is not the compiler's round trip
        compiling, self._compiling = self._compiling, 0
        try:
            if rec is None:
                self.sc._jsc.clearJobGroup()
            else:
                self.sc.setJobGroup(rec["group"], rec["name"])
        finally:
            self._compiling = compiling

    # -- run-time wrapping ----------------------------------------------------

    def install(self) -> None:
        import sql_to_ibis_spark.engine as engine_mod

        tracer = self
        parse = engine_mod.parse
        compile_ = engine_mod.Compiler.compile
        register_dir = engine_mod.SqlEngine.register_dir
        analyze = engine_mod.SqlEngine.analyze

        def traced_parse(*a, **k):
            with tracer.span("parse"):
                return parse(*a, **k)

        def traced_compile(self, *a, **k):
            with tracer.span("compile") as rec:
                tracer._compiling += 1
                before = tracer.py4j_calls
                try:
                    return compile_(self, *a, **k)
                finally:
                    tracer._compiling -= 1
                    rec["py4j"] = tracer.py4j_calls - before

        def traced_register_dir(self, *a, **k):
            with tracer.span("register_dir"):
                return register_dir(self, *a, **k)

        def traced_analyze(self, *a, **k):
            with tracer.span("analyze"):
                return analyze(self, *a, **k)

        client = self.sc._gateway._gateway_client
        send = client.send_command

        def counting_send(command, *a, **k):
            # py4j memory commands ("m\n...") come from garbage collection
            # of Java references, at times no op controls: never counted
            if (tracer._compiling and not command.startswith("m\n")
                    and threading.get_ident() == tracer._thread):
                tracer.py4j_calls += 1
            return send(command, *a, **k)

        engine_mod.parse = traced_parse
        engine_mod.Compiler.compile = traced_compile
        engine_mod.SqlEngine.register_dir = traced_register_dir
        engine_mod.SqlEngine.analyze = traced_analyze
        client.send_command = counting_send
        self._undo = [
            lambda: setattr(engine_mod, "parse", parse),
            lambda: setattr(engine_mod.Compiler, "compile", compile_),
            lambda: setattr(engine_mod.SqlEngine, "register_dir",
                            register_dir),
            lambda: setattr(engine_mod.SqlEngine, "analyze", analyze),
            lambda: delattr(client, "send_command"),
        ]

    def uninstall(self) -> None:
        for undo in reversed(self._undo):
            undo()
        self._undo = []

    # -- Spark's side of a span ----------------------------------------------

    def spark_work(self, spans: list[dict]) -> None:
        """Attach jobs, stages, tasks, shuffle/spill bytes and GC time of the
        work each span launched (from the status tracker and status store)."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = jsc.statusStore()
        gateway = self.sc._gateway
        no_tasks = gateway.jvm.java.util.ArrayList()
        no_quantiles = gateway.new_array(gateway.jvm.double, 0)
        for rec in spans:
            work = dict.fromkeys(("jobs", "stages", "tasks", "shuffle_bytes",
                                  "spill_bytes", "gc_ms"), 0)
            for job in tracker.getJobIdsForGroup(rec["group"]):
                work["jobs"] += 1
                for stage in tracker.getJobInfo(job).stageIds:
                    attempts = store.stageData(stage, False, no_tasks, False,
                                               no_quantiles)
                    for i in range(attempts.size()):
                        s = attempts.apply(i)
                        if s.status().toString() == "SKIPPED":
                            continue
                        work["stages"] += 1
                        work["tasks"] += s.numCompleteTasks()
                        work["shuffle_bytes"] += s.shuffleWriteBytes()
                        work["spill_bytes"] += s.diskBytesSpilled()
                        work["gc_ms"] += s.jvmGcTime()
            rec.update(work)

    def persisted_rdds(self) -> int:
        return self.sc._jsc.getPersistentRDDs().size()

    def dump(self, path: str, t0: float) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                out = {k: v for k, v in rec.items() if k != "group"}
                out["start"] = round((rec["start"] - t0) * 1e3, 3)
                out["end"] = round((rec["end"] - t0) * 1e3, 3)
                f.write(json.dumps(out) + "\n")


def self_ms(spans: list[dict]) -> dict[int, float]:
    """Span id -> self time in ms: its duration minus its children's."""
    own = {s["id"]: (s["end"] - s["start"]) * 1e3 for s in spans}
    for s in spans:
        if s["parent"] is not None and s["parent"] in own:
            own[s["parent"]] -= (s["end"] - s["start"]) * 1e3
    return own
