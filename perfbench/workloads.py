"""The three workloads: set-up, timed window and correctness gate.

Each workload is a class with three steps, called in this order:

- ``setup()``: make the inputs (``datagen``), build what the workload
  serves and run it once warm; returns the set-up seconds;
- ``window(tracer, seconds)``: the timed section; returns a
  :class:`Window` of operation latencies. ``seconds`` sets how many
  rounds or cycles it runs, through the nominal costs below, never
  through the clock: every run measures the same work however fast the
  host is. A traced run calls it three times, untraced, traced,
  untraced, to report the tracing overhead;
- ``gate()``: the correctness checks, outside every timed section;
  returns the mismatches.

Every timed call goes through the engine's public functions, and the
inputs are made before the clock starts.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from collections import Counter, defaultdict
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from perfbench import datagen
from perfbench.trace import EXEC_KEYS, Tracer

#: serve: arrivals per second (about half of one client's closed-loop
#: capacity at sf0.01 on 4 cores) and the latency limit
SERVE_RATE = 1.5
SERVE_LIMIT_MS = 1000.0
#: nominal seconds of one headline round (16 queries and one serve
#: round), one serve round (9 requests) and one lake cycle on 4 cores
BATCH_ROUND_S = 16.0
SERVE_ROUND_S = 6.0
LAKE_CYCLE_S = 6.5
LAKE_APP = "perfbench-ledger"
INGEST_APP = "perfbench-ingest"


@dataclass
class Ctx:
    seed: int
    work: str  # scratch directory inside the checkout
    tiny: bool = False  # smoke-test size
    corrupt: bool = False  # negative test: tamper with one expected result


@dataclass
class Window:
    ops: dict[str, list[float]]  # operation kind -> latencies (ms)
    wall_s: float
    named: dict[str, tuple[float, str]] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    t0: float = 0.0

    @property
    def latencies_ms(self) -> list[float]:
        return [v for vs in self.ops.values() for v in vs]

    @property
    def round_s(self) -> float:
        """One of each operation kind, each at its median latency."""
        return sum(float(np.median(v)) for v in self.ops.values() if v) / 1e3


def count_for(seconds: float, nominal_s: float, least: int = 1) -> int:
    """How many rounds or cycles a ``seconds`` window runs."""
    return max(least, round(seconds / nominal_s))


def pct(values, q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=float), q)) if values else 0.0


def mean(values) -> float:
    return float(np.mean(values)) if len(values) else 0.0


def duck_views(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for f in sorted(os.listdir(sf_dir)):
        if f.endswith(".parquet"):
            con.execute(
                f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                f"read_parquet('{os.path.join(sf_dir, f)}')"
            )
    return con


def frames_equal(got, exp, name: str) -> str | None:
    """The parity tests' frame comparison; returns the mismatch text."""
    from tests.conftest import compare_frames

    try:
        compare_frames(got, exp, name)
    except AssertionError as e:
        return str(e).splitlines()[0][:300]
    return None


def corrupt_first(pdf):
    """Negative-test hook: change one expected value."""
    pdf = pdf.copy()
    col = pdf.columns[0]
    v = pdf.at[0, col] if len(pdf) else None
    if isinstance(v, (int, float, np.number)):
        pdf.at[0, col] = v + 1
    elif len(pdf):
        pdf.at[0, col] = f"{v}#"
    else:
        pdf.loc[0] = [None] * len(pdf.columns)
    return pdf


class Workload:
    def __init__(self, ctx: Ctx, spark):
        self.ctx = ctx
        self.spark = spark
        self.sf_dir = ""

    def make_tables(self, sf: float) -> None:
        self.sf_dir = datagen.write_tables(
            datagen.make_tables(sf, self.ctx.seed),
            os.path.join(self.ctx.work, "data"),
        )

    def exec_layers(self, tr: Tracer, ex0: dict, n_ops: int) -> dict:
        """Executor counters over the window, per operation."""
        ex1 = tr.exec_snapshot()
        n = max(n_ops, 1)
        out = {f"exec.{k}": (ex1[k] - ex0[k]) / n for k in EXEC_KEYS}
        out["exec.scan_bytes"] = out.pop("exec.input_bytes")
        return out


# ------------------------------------------------------------------ batch


class BatchHeadline(Workload):
    """The ``bench.HEADLINE`` queries, one at a time into the noop sink,
    round-robin with the seed permuting each round's order; after each
    round, one serve round (:class:`ServeReports`) over the same tables
    and session, so the service path is measured in the same run."""

    def setup(self) -> float:
        import bench
        import __spark_entry__ as E

        self.make_tables(0.001 if self.ctx.tiny else 0.01)
        self.names = list(bench.HEADLINE)
        self.qs = E.queries()
        self.rounds = 0
        t0 = time.perf_counter()
        # one full pass, collected: it warms the plans and codegen, and
        # its results are the ones the gate checks. (Sequential: after a
        # pass on one thread per core the next rounds ran ~1.5x slower.)
        self.built = {}  # name -> the DataFrame its last build returned
        self.results = {}
        for n in datagen.batch_order(self.names, self.ctx.seed, 0):
            self.built[n] = self.qs[n](self.spark, self.sf_dir)
            self.results[n] = self.built[n].toPandas()
        self.serve = ServeReports(self.ctx, self.spark)
        self.serve.sf_dir = self.sf_dir
        self.serve.start()
        return time.perf_counter() - t0

    def window(self, tr: Tracer, seconds: float) -> Window:
        spark, qs = self.spark, self.qs
        lat: dict[str, list[float]] = {n: [] for n in self.names}
        ex0 = tr.exec_snapshot() if tr.enabled else None
        n_rounds = count_for(seconds, BATCH_ROUND_S)
        w0 = time.perf_counter()
        for _ in range(n_rounds):
            self.rounds += 1
            # every round starts on an empty heap, so rounds do not
            # differ by what the previous one left behind
            spark._jvm.System.gc()
            for name in datagen.batch_order(self.names, self.ctx.seed, self.rounds):
                with tr.span("query", name, req=f"{self.rounds}:{name}"):
                    t = time.perf_counter()
                    with tr.span("registry", name) as sp:
                        df = qs[name](spark, self.sf_dir)
                    with tr.span("exec", name, exec_delta=tr.enabled) as ex:
                        df.write.format("noop").mode("overwrite").save()
                    lat[name].append((time.perf_counter() - t) * 1e3)
                if tr.enabled:
                    sp["counters"]["hit"] = self.built[name] is df
                    tr.replan(ex, df._jdf)
                self.built[name] = df
        batch_s = sum(float(np.median(v)) for v in lat.values()) / 1e3
        spark._jvm.System.gc()
        sw = self.serve.run_rounds(tr, n_rounds)
        w = Window({**lat, **sw.ops}, time.perf_counter() - w0, t0=w0)
        w.named["batch_total_s"] = (batch_s, "s")
        w.named.update(sw.named)
        if tr.enabled:
            w.layers.update(sw.layers)
            w.layers.update(self.exec_layers(tr, ex0, len(w.latencies_ms)))
        return w

    def gate(self) -> list[str]:
        import __spark_entry__ as E

        con = duck_views(self.sf_dir)
        oracles = E.oracle_sql()
        bad = []
        for i, name in enumerate(self.names):
            exp = con.execute(oracles[name]).fetch_df()
            if self.ctx.corrupt and i == 0:
                exp = corrupt_first(exp)
            m = frames_equal(self.results[name], exp, name)
            if m:
                bad.append(m)
        con.close()
        return bad + self.serve.gate()

    def gated_ops(self) -> int:
        return len(self.names)


# ------------------------------------------------------------------ serve


class ServeReports(Workload):
    """An open loop at a fixed rate into ``QueryService.handle``: rounds
    of the six registered reports (plan-cache hits) and the three
    ad-hoc ``/sql`` templates with seeded literals."""

    def setup(self) -> float:
        self.make_tables(0.001 if self.ctx.tiny else 0.01)
        t0 = time.perf_counter()
        self.start()
        return time.perf_counter() - t0

    def start(self) -> None:
        """Build the service over ``self.sf_dir`` and send one round of
        requests (round 0) as warm-up."""
        import __spark_entry__ as E

        from jde_to_datalake_spark.plans.query_service import QueryService

        self.queries = E.queries()
        self.records: list[dict] = []
        self.rounds = 1
        self.svc = QueryService(self.spark, self.sf_dir, self._registry())
        for req in datagen.serve_schedule(self.ctx.seed, 1, SERVE_RATE):
            status, payload = self.svc.handle(req.path, req.params)
            if status != 200:
                raise RuntimeError(f"warm-up {req.path} failed: {payload}")

    def _registry(self):
        """The service's query table; in a traced window each call is a
        ``registry`` span (``self.tr`` is swapped per window)."""
        self.tr = Tracer()
        last: dict[str, object] = {}

        def traced(name, fn):
            def call(*args):
                tr = self.tr
                with tr.span("registry", name) as sp:
                    df = fn(*args)
                if tr.enabled:
                    sp["counters"]["hit"] = last.get(name) is df
                    if not sp["counters"]["hit"]:
                        tr.catalyst(sp, df._jdf)
                last[name] = df
                return df

            return call

        return {n: traced(n, f) for n, f in self.queries.items()}

    def window(self, tr: Tracer, seconds: float) -> Window:
        ex0 = tr.exec_snapshot() if tr.enabled else None
        w = self.run_rounds(tr, count_for(seconds, SERVE_ROUND_S))
        if tr.enabled:
            w.layers.update(self.exec_layers(tr, ex0, len(w.latencies_ms)))
        return w

    def run_rounds(self, tr: Tracer, n_rounds: int) -> Window:
        """The open loop over ``n_rounds`` rounds; operation kinds are
        ``serve:<report>`` and ``serve:sql<i>``."""
        self.tr = tr
        schedule = datagen.serve_schedule(self.ctx.seed, n_rounds, SERVE_RATE, self.rounds)
        self.rounds += n_rounds
        records: list[dict] = [{} for _ in schedule]

        def run(i: int, due: float):
            req = schedule[i]
            started = time.perf_counter()
            rec = records[i]
            rec.update(req=req, queue_ms=(started - due) * 1e3)
            try:
                with tr.span("service", req.path, req=i):
                    status, payload = self.svc.handle(req.path, req.params)
                    body = json.dumps(payload)
                rec.update(status=status, payload=payload, bytes=len(body))
            except Exception as e:  # counted as failed and late
                rec.update(status=599, payload={"error": str(e)[:300]}, bytes=0)
            end = time.perf_counter()
            rec["latency_ms"] = (end - due) * 1e3
            rec["handle_ms"] = (end - started) * 1e3

        if tr.enabled:
            # the two public Spark calls the service path makes: the
            # ad-hoc spark.sql (parse + analysis) and collect (optimize,
            # plan, run), on the concrete classes (pyspark.sql.DataFrame
            # is only their base)
            def analysed(sp, df, args):
                tr.catalyst(sp, df._jdf)

            def executed(sp, rows, args):
                tr.catalyst(sp, args[0]._jdf)
                tr.plan_summary(sp, args[0])

            tr.wrap(type(self.spark), "sql", "catalyst", on_result=analysed)
            tr.wrap(type(self.spark.range(0)), "collect", "exec", on_result=executed)
        lag = []
        w0 = time.perf_counter()
        with ThreadPoolExecutor(max_workers=os.cpu_count() or 4) as pool:
            futures = []
            for i, req in enumerate(schedule):
                due = w0 + req.due_s
                delay = due - time.perf_counter()
                if delay > 0:
                    time.sleep(delay)
                lag.append(max(time.perf_counter() - due, 0.0) * 1e3)
                futures.append(pool.submit(run, i, due))
            for f in futures:
                f.result()
        self.records.extend(records)
        lat = [r["latency_ms"] for r in records]
        late = sum(1 for r in records if r["status"] != 200 or r["latency_ms"] > SERVE_LIMIT_MS)
        kinds: dict[str, list[float]] = defaultdict(list)
        for r in records:
            kinds[f"serve:{r['req'].name}"].append(r["latency_ms"])
        w = Window(dict(kinds), time.perf_counter() - w0, t0=w0)
        w.named["serve_p50_ms"] = (pct(lat, 50), "ms")
        w.named["serve_p90_ms"] = (pct(lat, 90), "ms")
        w.named["serve_late_frac"] = (late / max(len(records), 1), "fraction")
        if tr.enabled:
            w.layers["service.handle_ms"] = mean([r["handle_ms"] for r in records])
            w.layers["service.queue_wait_ms"] = mean([r["queue_ms"] for r in records])
            w.layers["service.rows_returned"] = mean(
                [r["payload"].get("n_rows", 0) for r in records])
            w.layers["service.response_bytes"] = mean([r["bytes"] for r in records])
            w.layers["harness.generator_lag_ms"] = mean(lag)
        return w

    def gate(self) -> list[str]:
        """Every status, then a seeded third of the responses against
        DuckDB (the registry's oracle, or the ad-hoc text itself)."""
        import __spark_entry__ as E

        recs = self.records
        bad = [
            f"{r['req'].path}: status {r['status']} {r['payload'].get('error')}"
            for r in recs if r["status"] != 200
        ]
        rng = np.random.default_rng([self.ctx.seed, 13])
        k = min(len(recs), max(3, len(recs) // 3))
        sample = sorted(rng.choice(len(recs), k, replace=False))
        con = duck_views(self.sf_dir)
        oracles = E.oracle_sql()
        for j, i in enumerate(sample):
            rec = recs[i]
            req = rec["req"]
            if rec["status"] != 200:
                continue
            sql = req.params["q"][0] if req.kind == "sql" else oracles[req.path[6:]]
            exp = con.execute(sql).fetch_df()
            if self.ctx.corrupt and j == 0:
                exp = corrupt_first(exp)
            m = check_response(rec["payload"], exp, f"request {i} {req.path}")
            if m:
                bad.append(m)
        con.close()
        return bad

    def gated_ops(self) -> int:
        return 0  # every request is already an attempted operation


def _norm_cell(v):
    if v is None or (isinstance(v, float) and np.isnan(v)):
        return None
    if hasattr(v, "to_pydatetime"):
        v = v.to_pydatetime()
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_norm_cell(x) for x in v)
    if isinstance(v, bool):
        return v
    if isinstance(v, (int, float)):
        return float(v)
    try:  # Decimal, and numbers the service sent as text
        return float(str(v))
    except ValueError:
        return str(v)


def check_response(payload: dict, exp, name: str) -> str | None:
    """Rows of a (possibly truncated) JSON response against the full
    DuckDB result: equal multisets when complete, a sub-multiset of
    the expected rows when truncated."""
    cols = payload["columns"]
    if sorted(cols) != sorted(exp.columns):
        return f"{name}: columns {sorted(cols)} vs {sorted(exp.columns)}"
    order = sorted(cols)
    idx = [cols.index(c) for c in order]
    got = Counter(tuple(_norm_cell(r[i]) for i in idx) for r in payload["rows"])
    want = Counter(
        tuple(_norm_cell(v) for v in row)
        for row in exp[order].itertuples(index=False, name=None)
    )
    diff = got - want if payload["truncated"] else (got - want) + (want - got)
    if diff:
        return f"{name}: {sum(diff.values())} rows differ, e.g. {list(diff)[:2]}"
    return None


# ------------------------------------------------------------------- lake


class LakeMicrobatch(Workload):
    """Sequential micro-batch cycles over fresh versioned tables: append,
    ledger upsert (with re-deliveries), point and time-travel reads,
    corpus ingest, periodic compaction."""

    OPS = ("commit", "merge_into", "read_where_in", "read_version_cached",
           "read_version_replayed", "ingest_batch", "compact")

    def setup(self) -> float:
        from jde_to_datalake_spark.sources.versioned import VersionedTable

        rows, docs = (300, 40) if self.ctx.tiny else (2000, 120)
        self.cycles = datagen.lake_cycles(self.ctx.seed, 400, rows, docs)
        root = os.path.join(self.ctx.work, "lake")
        self.tables = {n: VersionedTable(os.path.join(root, n))
                       for n in ("orders", "ledger", "corpus", "index", "bands")}
        self.ledger_model: dict = {}  # o_orderkey -> row (last writer wins)
        self.versions: dict = {}  # orders version -> (rows, key sum)
        self.rows = self.keysum = 0
        self.texts: set = set()
        self.plain_bytes = 0
        self.next = 0
        self.bad: list[str] = []
        self.c = Counter()
        self.tr = Tracer()
        t0 = time.perf_counter()
        self.cycle(self.cycles[0], {}, compact=True)
        self.next = 1
        return time.perf_counter() - t0

    def timed(self, ops, kind: str, fn):
        with self.tr.span("ingest" if kind == "ingest_batch" else "lake", kind,
                          exec_delta=self.tr.enabled):
            t = time.perf_counter()
            out = fn()
            ops.setdefault(kind, []).append((time.perf_counter() - t) * 1e3)
        return out

    def cycle(self, cy: datagen.Cycle, ops: dict, compact: bool) -> None:
        from jde_to_datalake_spark.sources.versioned import VersionedTable
        from jde_to_datalake_spark.streaming import ingest

        spark, t, c = self.spark, self.tables, self.c
        o, led = t["orders"], t["ledger"]
        src = spark.createDataFrame(cy.orders.to_pandas())
        v = self.timed(ops, "commit",
                       lambda: o.commit(src, partitioned_by=["o_orderpriority"]))
        c["files_written"] += len(o.commit_delta(v)["add"])
        self.rows += cy.orders.num_rows
        self.keysum += pc.sum(cy.orders.column("o_orderkey")).as_py()
        self.versions[v] = (self.rows, self.keysum)
        plain = _plain_bytes(cy.orders)
        self.plain_bytes += plain
        c["plain_in"] += 2 * plain  # appended and upserted

        upsert = dict(matched=[("update", None, None)], not_matched=[("insert", None)])
        self.timed(ops, "merge_into", lambda: led.merge_into(
            spark, src, "o_orderkey", txn=(LAKE_APP, cy.number), **upsert))
        for row in cy.orders.to_pylist():
            self.ledger_model[row["o_orderkey"]] = row
        c["rows_written"] += 2 * cy.orders.num_rows

        if cy.redeliver is not None:
            # the writer's idempotency contract: skip a txn the table
            # already recorded; the gate checks nothing was published
            c["redelivered"] += 1
            before = led.latest_version()
            last = led.last_txn_version(LAKE_APP)
            if last is None or last < cy.redeliver:
                old = spark.createDataFrame(self.cycles[cy.redeliver].orders.to_pandas())
                led.merge_into(spark, old, "o_orderkey",
                               txn=(LAKE_APP, cy.redeliver), **upsert)
            if led.latest_version() == before:
                c["redelivery_noop"] += 1
            else:
                self.bad.append(f"cycle {cy.number}: redelivery of "
                                f"{cy.redeliver} published a version")

        got = self.timed(ops, "read_where_in", lambda: led.read_where_in(
            spark, "o_orderkey", cy.probe_keys).collect())
        want = {k: _row_key(self.ledger_model[k]) for k in cy.probe_keys}
        if self.ctx.corrupt and cy.number == 1:
            k0 = cy.probe_keys[0]
            want[k0] = want[k0][:3] + (want[k0][3] + 1,) + want[k0][4:]
        if {r["o_orderkey"]: _row_key(r.asDict()) for r in got} != want:
            self.bad.append(f"cycle {cy.number}: read_where_in differs from the model")

        latest = o.latest_version()
        for kind, ago, reader in (
            ("read_version_cached", cy.travel[0], o),
            ("read_version_replayed", cy.travel[1], None),
        ):
            ver = max(latest - ago, min(self.versions))
            while ver not in self.versions:
                ver -= 1

            def read(ver=ver, reader=reader):
                # the replayed read opens the table cold, as another
                # reader process would: no manifest cache
                tbl = reader or VersionedTable(o.root)
                return tbl.read(spark, version=ver).agg(
                    {"o_orderkey": "sum", "*": "count"}).collect()[0]

            r = self.timed(ops, kind, read)
            if (r["count(1)"], r["sum(o_orderkey)"]) != self.versions[ver]:
                self.bad.append(f"cycle {cy.number}: orders@{ver} differs from the model")

        batch = spark.createDataFrame(cy.docs.to_pandas())
        stats = self.timed(ops, "ingest_batch", lambda: ingest.ingest_batch(
            batch, t["corpus"], t["index"], bands=t["bands"],
            txn=(INGEST_APP, cy.number)))
        self.texts.update(cy.docs.column("text").to_pylist())
        c["novel"] += stats["n_novel"]
        c["ingested"] += stats["n_rows"]
        c["rows_written"] += stats["n_rows"]

        if compact:
            v = self.timed(ops, "compact", lambda: o.compact(spark, target_partitions=1))
            self.versions[v] = (self.rows, self.keysum)

    def window(self, tr: Tracer, seconds: float) -> Window:
        from jde_to_datalake_spark.sources import log_store
        from jde_to_datalake_spark.sources.versioned import VersionedTable

        self.tr = tr
        if tr.enabled:
            for m in ("read", "put_if_absent", "list_versions", "replace"):
                tr.wrap(log_store.PosixLogStore, m, "log")

            def pruned(sp, files, args):
                table, column, _values, version = (list(args) + [None])[:4]
                self.c["prune_kept"] += len(files)
                self.c["prune_live"] += len(table.files_for_range(column, version=version))

            tr.wrap(VersionedTable, "files_for_values", "lake", on_result=pruned)
        c = self.c
        c0 = Counter(c)
        disk0 = self._disk_bytes() if tr.enabled else 0
        ops: dict[str, list[float]] = {}
        cycle_s = []
        ex0 = tr.exec_snapshot() if tr.enabled else None
        w0 = time.perf_counter()
        # every window compacts once, in its first cycle, and runs at
        # least two cycles, so windows hold the same mix of operations
        for _ in range(count_for(seconds, LAKE_CYCLE_S, least=2)):
            t = time.perf_counter()
            self.cycle(self.cycles[self.next], ops, compact=not cycle_s)
            self.next += 1
            cycle_s.append(time.perf_counter() - t)
        wall = time.perf_counter() - w0

        def get(k):
            return ops.get(k, [])

        writes = get("commit") + get("merge_into")
        reads = get("read_where_in") + get("read_version_cached") + get("read_version_replayed")
        lat = [v for vs in ops.values() for v in vs]
        w = Window(ops, wall, t0=w0)
        live = sum(_live_bytes(self.tables[n]) for n in ("orders", "ledger"))
        plain = self.plain_bytes + _plain_bytes(
            pa.Table.from_pylist(list(self.ledger_model.values())))
        written = c["rows_written"] - c0["rows_written"]
        w.named.update({
            "lake_write_p50_ms": (pct(writes, 50), "ms"),
            "lake_write_p90_ms": (pct(writes, 90), "ms"),
            "lake_read_p50_ms": (pct(reads, 50), "ms"),
            "ingest_batch_p50_ms": (pct(get("ingest_batch"), 50), "ms"),
            "lake_rows_per_s": (written / max(sum(cycle_s), 1e-9), "1/s"),
            "lake_space_amp": (live / plain, "ratio"),
        })
        if tr.enabled:
            n = len(cycle_s)
            w.layers.update(self.exec_layers(tr, ex0, len(lat)))
            for k in self.OPS:
                w.layers[f"lake.{k}_ms"] = mean(get(k))
            w.layers["ingest.batch_ms"] = w.layers.pop("lake.ingest_batch_ms")
            w.layers["lake.read_version_ms"] = mean(
                get("read_version_cached") + get("read_version_replayed"))
            w.layers["lake.files_written"] = (c["files_written"] - c0["files_written"]) / n
            # bytes the lake wrote (data and log, old versions kept) per
            # byte of orders delivered, as plain parquet
            w.layers["lake.write_amp"] = (
                (self._disk_bytes() - disk0) / max(c["plain_in"] - c0["plain_in"], 1))
            w.layers["lake.prune_frac"] = (
                (c["prune_kept"] - c0["prune_kept"])
                / max(c["prune_live"] - c0["prune_live"], 1))
            # over the whole run: one cycle in three re-delivers, so a
            # two-cycle window may hold none
            w.layers["lake.redelivery_noop_frac"] = (
                c["redelivery_noop"] / max(c["redelivered"], 1))
            logs = [_dir_bytes(os.path.join(t.root, "_log")) for t in self.tables.values()]
            w.layers["log.bytes"] = sum(b for b, _ in logs)
            w.layers["log.files"] = sum(f for _, f in logs)
            ing = [s for s in tr.spans if s["layer"] == "ingest"]
            w.layers["ingest.jobs"] = mean([s["counters"].get("jobs", 0) for s in ing])
            w.layers["ingest.py4j_calls"] = mean([s["counters"]["py4j_calls"] for s in ing])
            w.layers["ingest.novel_frac"] = (
                (c["novel"] - c0["novel"]) / max(c["ingested"] - c0["ingested"], 1))
        return w

    def gate(self) -> list[str]:
        """The final ledger against the last-writer-wins model, and the
        index fingerprints against the distinct non-null texts (plus the
        per-cycle checks made as the cycles ran)."""
        bad = list(self.bad)
        final = {r["o_orderkey"]: _row_key(r.asDict())
                 for r in self.tables["ledger"].read(self.spark).collect()}
        if final != {k: _row_key(r) for k, r in self.ledger_model.items()}:
            bad.append("final ledger differs from the last-writer-wins model")
        fps = {r["fingerprint"] for r in self.tables["index"].read(self.spark).collect()}
        want = {hashlib.sha256(" ".join(t.lower().split()).encode()).hexdigest()
                for t in self.texts if t is not None}
        if fps != want:
            bad.append(f"index holds {len(fps)} fingerprints, the model {len(want)}")
        return bad

    def gated_ops(self) -> int:
        return 2

    def _disk_bytes(self) -> int:
        return sum(_dir_bytes(self.tables[n].root)[0] for n in ("orders", "ledger"))


def _row_key(r: dict) -> tuple:
    return tuple(str(r[k]) if k == "o_orderdate" else r[k] for k in (
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority"))


def _live_bytes(t) -> int:
    return t.detail()["size_bytes"] + _dir_bytes(os.path.join(t.root, "_log"))[0]


def _dir_bytes(path: str) -> tuple[int, int]:
    total = n = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
            n += 1
    return total, n


def _plain_bytes(tbl: pa.Table) -> int:
    sink = pa.BufferOutputStream()
    pq.write_table(tbl, sink, compression="zstd")
    return sink.getvalue().size


# ----------------------------------------------------------------- layers


def span_layers(tr: Tracer, w: Window) -> dict:
    """Per-layer figures from the window's spans: self seconds (which
    sum to the window's wall time), Catalyst phases and py4j calls,
    per operation."""
    spans = [s for s in tr.spans if "end" in s and s["start"] >= w.t0]
    n = max(len(w.latencies_ms), 1)
    acc: dict[str, float] = defaultdict(float)
    for s in spans:
        cnt = s["counters"]
        for ph in ("analysis", "optimization", "planning"):
            acc[f"catalyst.{ph}_ms"] += cnt.get(f"{ph}_ms", 0)
        if s["layer"] == "registry":
            acc["registry.py4j"] += cnt["py4j_calls"]
    reg = [s for s in spans if s["layer"] == "registry"]
    top_py4j = sum(s["counters"]["py4j_calls"] for s in spans if s["parent"] is None)
    out = {
        "catalyst.analysis_ms": acc["catalyst.analysis_ms"] / n,
        "catalyst.optimization_ms": acc["catalyst.optimization_ms"] / n,
        "catalyst.planning_ms": acc["catalyst.planning_ms"] / n,
        # every call the timed operations made, less the plan builds
        "exec.py4j_calls": (top_py4j - acc["registry.py4j"]) / n,
        "registry.build_py4j_calls": acc["registry.py4j"] / max(len(reg), 1),
        "registry.build_s": mean([s["end"] - s["start"] for s in reg]),
        # a build that returned the very DataFrame of the previous one
        "registry.plan_cache_hit_frac": mean([bool(s["counters"].get("hit")) for s in reg]),
    }
    child: dict[int, float] = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    self_s: dict[str, float] = defaultdict(float)
    top = 0.0
    for s in spans:
        dur = s["end"] - s["start"]
        self_s[s["layer"]] += dur - child[s["id"]]
        if s["parent"] is None:
            top += dur
    self_s["harness"] = w.wall_s - top
    for layer in LAYERS:
        out[f"self.{layer}_s"] = self_s.get(layer, 0.0)
    return out


LAYERS = ("registry", "catalyst", "exec", "service", "lake", "log", "ingest",
          "query", "harness")

WORKLOADS = {
    "batch_headline": BatchHeadline,
    "serve_reports": ServeReports,
    "lake_microbatch": LakeMicrobatch,
}
