"""In-memory span tracer for the traced run (``--trace 1``).

Every call into a measured layer is wrapped from outside, through that
layer's public functions, in a span: name, layer, start, end, parent
and request id. Spans also carry the counters read at the same
boundaries:

- py4j calls made by the span's thread, through a hook on the gateway
  client (the tracer's own reads are not counted);
- jobs, stages, tasks, executor CPU/run time, shuffle and spill, from
  ``statusStore()`` deltas (single-threaded callers only: with
  concurrent requests the deltas are taken over the whole window);
- Catalyst phase times from ``queryExecution().tracker()`` (for a
  write, from a re-plan of the same logical plan: see :meth:`replan`);
- ``plans.metrics.summarize`` over the executed plan, where the caller
  can reach it: the service's ``collect`` runs through the DataFrame's
  own QueryExecution, while the noop write executes a plan of its own.

Nothing is written until :meth:`Tracer.dump`. With the tracer disabled
``span`` is a no-op context, so the untraced run pays nothing.
"""

from __future__ import annotations

import contextlib
import json
import threading
import time

EXEC_KEYS = (
    "jobs", "stages", "tasks", "executor_cpu_s", "executor_run_s",
    "shuffle_write_bytes", "spill_bytes", "input_bytes",
)


class Tracer:
    def __init__(self, spark=None, enabled: bool = False):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._stage_cursor = 0
        self._exec_totals = dict.fromkeys(EXEC_KEYS, 0)
        self._restore: list = []
        if enabled and spark is not None:
            self._hook_py4j()

    # ------------------------------------------------------------ hooks
    def _hook_py4j(self):
        client = self.spark.sparkContext._gateway._gateway_client
        orig = client.send_command
        local = self._local

        def counted(*args, **kwargs):
            if not getattr(local, "own", False):
                local.py4j = getattr(local, "py4j", 0) + 1
            return orig(*args, **kwargs)

        client.send_command = counted
        self._restore.append(lambda: setattr(client, "send_command", orig))

    def wrap(self, owner, attr: str, layer: str, on_result=None):
        """Patch ``owner.attr`` so every call runs in a ``layer`` span;
        ``on_result(span, result, args)`` may add counters."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(layer, attr) as sp:
                out = orig(*args, **kwargs)
            if on_result is not None:
                with tracer.own():
                    on_result(sp, out, args)
            return out

        setattr(owner, attr, traced)
        self._restore.append(lambda: setattr(owner, attr, orig))

    def close(self):
        for undo in reversed(self._restore):
            undo()
        self._restore.clear()

    @contextlib.contextmanager
    def own(self):
        """The tracer's own py4j reads: not counted against any span."""
        prev = getattr(self._local, "own", False)
        self._local.own = True
        try:
            yield
        finally:
            self._local.own = prev

    # ------------------------------------------------------------ spans
    def py4j_calls(self) -> int:
        return getattr(self._local, "py4j", 0)

    def span(self, layer: str, name: str, req=None, exec_delta: bool = False):
        if not self.enabled:
            return contextlib.nullcontext({})
        return self._span(layer, name, req, exec_delta)

    @contextlib.contextmanager
    def _span(self, layer, name, req, exec_delta):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else None
        if req is None and parent is not None:
            req = parent["req"]
        sp = {
            "layer": layer, "name": name, "req": req,
            "parent": parent["id"] if parent else None,
            "thread": threading.get_ident(), "counters": {},
        }
        with self._lock:
            sp["id"] = len(self.spans)
            self.spans.append(sp)
        ex0 = self.exec_snapshot() if exec_delta else None
        stack.append(sp)
        p0 = self.py4j_calls()
        sp["start"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            sp["counters"]["py4j_calls"] = self.py4j_calls() - p0
            stack.pop()
            if ex0 is not None:
                ex1 = self.exec_snapshot()
                for k in EXEC_KEYS:
                    sp["counters"][k] = ex1[k] - ex0[k]

    # --------------------------------------------------- spark counters
    def exec_snapshot(self) -> dict:
        """Cumulative executor counters over every stage submitted so
        far (stage ids are dense, so only new ones are read)."""
        with self.own():
            jsc = self.spark.sparkContext._jsc.sc()
            jsc.listenerBus().waitUntilEmpty()
            dag = jsc.dagScheduler()
            jobs = dag.nextJobId()
            last = dag.nextStageId()
            store = jsc.statusStore()
            t = self._exec_totals
            for sid in range(self._stage_cursor, last):
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # never submitted (skipped)
                    continue
                t["stages"] += 1
                t["tasks"] += st.numCompleteTasks()
                t["executor_cpu_s"] += st.executorCpuTime() / 1e9
                t["executor_run_s"] += st.executorRunTime() / 1e3
                t["shuffle_write_bytes"] += st.shuffleWriteBytes()
                t["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                t["input_bytes"] += st.inputBytes()
            self._stage_cursor = last
            t["jobs"] = jobs
            return dict(t)

    def catalyst(self, sp: dict, jdf) -> None:
        """Add the tracker's phase times of ``jdf``'s QueryExecution."""
        with self.own():
            it = jdf.queryExecution().tracker().phases().iterator()
            while it.hasNext():
                kv = it.next()
                key = f"{kv._1()}_ms"
                sp["counters"][key] = sp["counters"].get(key, 0) + kv._2().durationMs()

    def replan(self, sp: dict, jdf) -> None:
        """Add the phase times of a fresh QueryExecution over ``jdf``'s
        logical plan, analysed, optimised and planned here. A write runs
        these phases again on every call, under a QueryExecution the
        caller cannot reach (and extends the phases of ``jdf``'s own
        tracker from its first start to its last end)."""
        with self.own():
            probe = self.spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
                self.spark._jsparkSession, jdf.queryExecution().logical())
            probe.queryExecution().executedPlan()
        self.catalyst(sp, probe)

    def plan_summary(self, sp: dict, df) -> None:
        from jde_to_datalake_spark.plans.metrics import plan_metrics, summarize

        with self.own():
            s = summarize(plan_metrics(df))
        c = sp["counters"]
        for k in ("scan_bytes", "shuffle_bytes_written", "spill_bytes", "output_rows"):
            c[f"plan_{k}"] = c.get(f"plan_{k}", 0) + (s.get(k) or 0)

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f, default=str)
