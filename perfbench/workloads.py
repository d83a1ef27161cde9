"""The benchmark workloads: set-up, the timed closed loop, output checks.

One client, one process, one unit at a time: a unit (an incremental
cycle, a streaming micro-batch or a store compaction) starts only when the previous one has finished. Inputs for
the next unit are landed between units, outside the unit's timing.
The program is driven only through its public functions; in traced
mode the spans wrap those same calls from here.
"""

from __future__ import annotations

import contextlib
import dataclasses
import os
import shutil
import time

import gen


@dataclasses.dataclass
class Unit:
    kind: str
    seconds: float
    records: int
    ok: bool
    cpu_s: float


# thread names (15-character comm) of HotSpot's JIT, G1 and VM threads
_JVM_HOUSEKEEPING = ("C1 Compiler", "C2 Compiler", "GC Thread", "G1 ", "VM Thread")


def _stat(path: str) -> tuple[str, list[str]] | None:
    """(comm, fields after comm) of a /proc stat file."""
    try:
        with open(path) as f:
            head, rest = f.read().rsplit(")", 1)
    except (OSError, ValueError):
        return None
    return head.split("(", 1)[1], rest.split()


def cpu_seconds() -> float:
    """Processor seconds (user + system) used so far by this process and
    every process it started (the JVM, any Python workers), less the
    JVM's own housekeeping threads: JIT compilers, garbage collectors
    and the VM thread.

    On a shared host the hypervisor steals processor time from the
    guest, so wall time swings with the neighbours' load while
    processor time stays a measure of the work done. Housekeeping is
    left out because when it runs depends on the host's speed and the
    wall clock (the session's periodic GC fires every 60 s): it lands
    on whichever unit is running. GC time is reported per layer in
    traced runs."""
    tck = os.sysconf("SC_CLK_TCK")
    children: dict[int, list[int]] = {}
    used: dict[int, float] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        st = _stat(f"/proc/{entry}/stat")
        if st is None:
            continue
        pid, fields = int(entry), st[1]
        children.setdefault(int(fields[1]), []).append(pid)
        used[pid] = (int(fields[11]) + int(fields[12])) / tck
    total, todo = 0.0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += used.get(pid, 0.0)
        todo.extend(children.get(pid, ()))
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            st = _stat(f"/proc/{pid}/task/{tid}/stat")
            if st is not None and st[0].startswith(_JVM_HOUSEKEEPING):
                total -= (int(st[1][11]) + int(st[1][12])) / tck
    return total


def steal_seconds() -> float:
    """Processor time the hypervisor took from this machine, all CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


class TreeMeter:
    """Bytes written under a set of roots, measured from the file tree:
    every file that is new or changed since the previous look counts
    with its full size."""

    def __init__(self, roots: list[str]):
        self.roots = roots
        self.seen = self._scan()

    def _scan(self) -> dict[str, tuple[int, int]]:
        out = {}
        for root in self.roots:
            for d, _, files in os.walk(root):
                for f in files:
                    p = os.path.join(d, f)
                    try:
                        st = os.stat(p)
                    except OSError:
                        continue
                    out[p] = (st.st_size, st.st_mtime_ns)
        return out

    def written(self) -> int:
        now = self._scan()
        n = sum(s for p, (s, m) in now.items() if self.seen.get(p) != (s, m))
        self.seen = now
        return n

    def stored(self) -> int:
        return sum(s for s, _ in self._scan().values())


class Workload:
    name = ""
    # The gated metrics cover exactly the first STEPS steps of the timed
    # phase, so every run measures the same units however fast the host
    # is; steps after them, until --seconds is reached, feed only the
    # wall-time metrics. cpu_growth compares the first GROWTH_Q units of
    # the main kind with the last GROWTH_Q of those steps.
    STEPS = 2
    GROWTH_Q = 2
    # per-layer metric prefixes this workload must record in traced runs
    LAYERS: tuple[str, ...] = ("session.", "spark.", "traced.")

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.root = ctx.work
        self.units: list[Unit] = []
        self.failures: list[str] = []
        self.checks: list[tuple[str, bool]] = []
        self.input_records = 0  # records of the timed units
        self.input_bytes = 0  # bytes landed for the timed units
        self.total_input_bytes = 0  # everything landed, set-up included
        self.overhead_s = 0.0  # landing, catch-up and file-tree scans inside the timed phase
        # set at the end of the gated steps
        self.gated_units = 0
        self.write_amp = 0.0
        self.space_amp = 0.0

    def span(self, name: str):
        t = self.ctx.tracer
        return t.span(name) if t is not None else contextlib.nullcontext()

    def check(self, name: str, ok: bool) -> None:
        self.checks.append((name, bool(ok)))
        if not ok:
            self.failures.append(name)

    def out_roots(self) -> list[str]:
        raise NotImplementedError

    def setup(self) -> None:
        raise NotImplementedError

    def step(self, timed: bool) -> None:
        """Land the next unit's input, then run it (timed when asked)."""
        raise NotImplementedError

    def between(self, i: int) -> int:
        """Untimed work before gated step ``i``; returns bytes it
        landed. Its writes are left out of ``write_amp``."""
        return 0

    def verify(self) -> None:
        raise NotImplementedError

    def layer_metrics(self) -> dict[str, float]:
        """Ratios and counts the traced run reports next to the spans."""
        return {}

    def measure(self, seconds: float) -> None:
        deadline = time.perf_counter() + seconds
        meter = TreeMeter(self.out_roots())
        written = 0
        for i in range(self.STEPS):
            t0 = time.perf_counter()
            written += meter.written()
            self.total_input_bytes += self.between(i)
            meter.written()
            self.overhead_s += time.perf_counter() - t0
            self.step(timed=True)
        t0 = time.perf_counter()
        written += meter.written()
        self.gated_units = len(self.units)
        self.write_amp = written / max(1, self.input_bytes)
        self.space_amp = TreeMeter(self.out_roots()).stored() / max(1, self.total_input_bytes)
        self.overhead_s += time.perf_counter() - t0
        while time.perf_counter() < deadline:
            self.step(timed=True)

    def _landed(self, fn, timed: bool):
        """Run a landing step; inside the timed phase its time is
        overhead, not program time."""
        t0 = time.perf_counter()
        out = fn()
        if timed:
            self.overhead_s += time.perf_counter() - t0
        return out

    def _timed(self, kind: str, records: int, fn, timed: bool):
        c0 = cpu_seconds()
        t0 = time.perf_counter()
        try:
            ok = fn()
        except Exception as exc:  # noqa: BLE001 — a failed unit is counted, not fatal
            self.failures.append(f"{kind}: {type(exc).__name__}: {exc}"[:300])
            ok = False
        t1 = time.perf_counter()
        if timed:
            self.units.append(Unit(kind, t1 - t0, records, bool(ok), cpu_seconds() - c0))
        elif not ok:
            self.failures.append(f"warm-up {kind} failed")
        return ok


# ---------------------------------------------------------------------------
# elt_incremental
# ---------------------------------------------------------------------------


def _staging_keys(spark, path: str, cols: list[str]) -> tuple[int, set]:
    rows = spark.read.parquet(path).select(*cols).collect()
    return len(rows), {tuple(r) for r in rows}


def _utc(epoch: float):
    import datetime as dt

    return dt.datetime.fromtimestamp(epoch, dt.timezone.utc).replace(tzinfo=None)


class EltIncremental(Workload):
    """Registry-scheduled 10-minute cycles of all six endpoints, with
    the cycle monitor evaluated after each cycle (the reference DAG's
    record + alert step). Between the two gated cycles an older backfill
    window is loaded through ``run_backfill`` (untimed), so the second
    cycle runs over about ten times the state of the first."""

    name = "elt_incremental"
    # one cycle over the starting state, the catch-up, one cycle over
    # the grown state: a cycle costs ~14 s here, and the run budget of
    # 4 + 22 x 2 runs in 57 minutes has no room for more
    STEPS = 2
    GROWTH_Q = 1
    LAYERS = Workload.LAYERS + (
        "cli.", "pipelines.", "operators.conform.", "operators.merge.", "sources.io.",
        "quality.", "staging.",
    )
    CATCHUP_BEFORE = 1  # gated step the catch-up load precedes

    def __init__(self, ctx):
        super().__init__(ctx)
        self.landing = os.path.join(self.root, "landing")
        self.staging = os.path.join(self.root, "staging")
        self.control = os.path.join(self.root, "control")
        self.plan = gen.IncrementalPlan(ctx.seed)
        self.registry = os.path.join(self.control, "data_sources")
        self.metrics_path = os.path.join(self.control, "cycle_metrics")
        self.next_cycle = 0
        self.alerts_ok = True
        self.appended = 0
        self.append_in = 0

    def out_roots(self):
        return [self.staging, self.control]

    def setup(self):
        from facolos_data_pipelines_spark.pipelines import registry

        registry.seed_data_sources(self.spark, self.registry, self.plan.registry_rows())
        # cycle 0 lands the history and is the warm-up unit
        self.step(timed=False)

    def _instrument(self, specs):
        """Traced mode: span each endpoint's extract and transform, and
        run the conformed batch once through a noop sink inside the
        transform span, so conform execution cost is visible (the load
        step later re-executes it as part of its own plan)."""
        tracer = self.ctx.tracer
        if tracer is None:
            return specs
        for spec in specs:
            ex, tr = spec.extract, spec.transform

            def extract(s, *a, _f=ex):
                with tracer.span("cli.extract"):
                    return _f(s, *a)

            def transform(raw, batch_id, _f=tr):
                with tracer.span("operators.conform.transform"):
                    out = _f(raw, batch_id)
                with tracer.span("operators.conform.noop_pass"):
                    out.write.format("noop").mode("overwrite").save()
                return out

            spec.extract, spec.transform = extract, transform
        return specs

    def _appends_ok(self, report: dict, rows: dict, new_rows: dict, timed: bool) -> bool:
        """The cycle succeeded, passed the gate, and every append landed
        exactly the new rows (replays rejected)."""
        ok = report.get("status") == "success" and report.get("quality", {}).get("passed")
        for ep in gen.ENDPOINTS:
            got = report["endpoints"].get(ep, {})
            if got.get("status") != "success":
                ok = False
            elif ep in gen.APPEND_ENDPOINTS:
                if timed:
                    self.append_in += rows[ep]
                    self.appended += got["records"]
                ok = ok and got["records"] == new_rows[ep]
        return bool(ok)

    def step(self, timed: bool):
        from facolos_data_pipelines_spark import cli
        from facolos_data_pipelines_spark.pipelines import runner
        from facolos_data_pipelines_spark.quality import monitor

        c = self.next_cycle
        self.next_cycle += 1
        plan = self.plan
        keys_before = {ep: len(plan.keys[ep]) for ep in gen.APPEND_ENDPOINTS}
        land = os.path.join(self.landing, f"cycle-{c:05d}")
        info = self._landed(lambda: plan.land(c, land), timed)
        self.total_input_bytes += info["bytes"]
        if timed:
            self.input_records += info["records"]
            self.input_bytes += info["bytes"]
        new_rows = {ep: len(plan.keys[ep]) - keys_before[ep] for ep in gen.APPEND_ENDPOINTS}
        spark = self.spark

        def unit():
            started = time.time()
            with self.span("cli.build_endpoints"):
                specs = self._instrument(cli.build_endpoints(spark, land))
            report = runner.run_incremental_cycle(
                spark,
                specs,
                self.staging,
                control_root=self.control,
                min_tables_with_data=len(gen.ENDPOINTS),
                registry_path=self.registry,
                now=plan.now(c),
            )
            ok = self._appends_ok(report, info["rows"], new_rows, timed)
            monitor.record_cycle(
                spark,
                self.metrics_path,
                report["batch_id"],
                _utc(started),
                time.time() - started,
                sum(r.get("records", 0) for r in report["endpoints"].values()),
                report["status"] == "success",
            )
            alerts = monitor.alert_conditions(spark.read.parquet(self.metrics_path)).collect()[0]
            if alerts["failure_alert"] or alerts["success_rate_alert"]:
                self.alerts_ok = False
            return ok

        self._timed("cycle", info["records"], unit, timed)
        self._landed(lambda: shutil.rmtree(land, ignore_errors=True), timed)

    def between(self, i: int) -> int:
        """Before the second half: load the historical catch-up window
        through ``run_backfill`` (no registry), untimed and untraced."""
        if i != self.CATCHUP_BEFORE:
            return 0
        from facolos_data_pipelines_spark import cli
        from facolos_data_pipelines_spark.pipelines import runner

        tracer = self.ctx.tracer
        if tracer is not None:
            tracer.active = False
        plan = self.plan
        keys_before = {ep: len(plan.keys[ep]) for ep in gen.APPEND_ENDPOINTS}
        root = os.path.join(self.landing, "catchup")
        info = plan.land_catchup(root)
        (report,) = runner.run_backfill(
            self.spark, cli.build_endpoints(self.spark, root), self.staging, self.control
        )
        self.check(
            "catch-up backfill landed every new row",
            report.get("status") == "success"
            and all(
                report["endpoints"][ep]["records"] == len(plan.keys[ep]) - keys_before[ep]
                for ep in gen.APPEND_ENDPOINTS
            ),
        )
        shutil.rmtree(root, ignore_errors=True)
        if tracer is not None:
            tracer.active = True
        return info["bytes"]

    def layer_metrics(self):
        import layers

        out = {"sources.io.append_with_pk_rejection.kept_ratio": self.appended / max(1, self.append_in)}
        for table in gen.STAGING_TABLE.values():
            out[f"staging.{table}.files"] = layers.tree_stats(os.path.join(self.staging, table))[0]
        return out

    def _retrigger(self) -> None:
        """Run the last cycle's schedule slot again: the registry must
        skip every endpoint and nothing may land."""
        from facolos_data_pipelines_spark import cli
        from facolos_data_pipelines_spark.pipelines import runner

        root = os.path.join(self.landing, "retrigger")
        for ep in gen.ENDPOINTS:
            os.makedirs(os.path.join(root, ep), exist_ok=True)
        report = runner.run_incremental_cycle(
            self.spark,
            cli.build_endpoints(self.spark, root),
            self.staging,
            control_root=self.control,
            registry_path=self.registry,
            now=self.plan.now(self.next_cycle - 1),
        )
        self.check(
            "registry skips every endpoint that is not due",
            all(r.get("status") == "skipped_not_due" for r in report["endpoints"].values())
            and len(report["endpoints"]) == len(gen.ENDPOINTS),
        )

    def verify(self):
        spark = self.spark
        self._retrigger()
        tik = os.path.join(self.staging, gen.STAGING_TABLE["tiktok_shop_orders"])
        n, keys = _staging_keys(spark, tik, ["order_id", "item_id", "item_sku_id"])
        self.check("tiktok keys == generated keys", keys == self.plan.keys["tiktok_shop_orders"])
        self.check("tiktok keys unique", n == len(keys))
        misa = os.path.join(self.staging, gen.STAGING_TABLE["misa_sale_orders"])
        n, keys = _staging_keys(spark, misa, ["order_id", "item_id"])
        self.check("misa order keys == generated keys", keys == self.plan.keys["misa_sale_orders"])
        self.check("misa order keys unique", n == len(keys))
        for ep, key in gen.ENTITY_KEY.items():
            path = os.path.join(self.staging, gen.STAGING_TABLE[ep])
            rows = spark.read.parquet(path).select(key, gen.ENTITY_VERSION_COL[ep]).collect()
            got = {r[0]: r[1] for r in rows}
            want = self.plan.versions[ep]
            self.check(f"{ep} keys unique", len(rows) == len(got))
            self.check(
                f"{ep} holds each key's last version",
                set(got) == set(want)
                and all(got[k].endswith(f" v{v}") for k, (v, _) in want.items()),
            )
        runs = spark.read.parquet(os.path.join(self.control, "batch_runs"))
        n = runs.count()
        ok_runs = runs.filter("status = 'success'").count()
        self.check("batch_runs has one row per endpoint run", n == self.plan.endpoint_runs)
        self.check("batch_runs all success", ok_runs == n)
        self.check("monitor raised no failure alert", self.alerts_ok)
        self.check("every cycle passed the gate and rejected replays", all(u.ok for u in self.units))


# ---------------------------------------------------------------------------
# stream_dedup
# ---------------------------------------------------------------------------


class StreamDedup(Workload):
    """Documents with planted exact and near duplicates, landed as small
    files and ingested through ``near_dup_filter_sink`` by
    ``availableNow`` runs of a real file-source stream (one file per
    micro-batch); the band store is compacted every few runs."""

    name = "stream_dedup"
    LAYERS = Workload.LAYERS + ("streaming.", "operators.dedup_minhash.")
    HISTORY_DOCS = 300
    FILES_PER_RUN = 3
    COMPACT_EVERY = 2  # availableNow runs

    def __init__(self, ctx):
        super().__init__(ctx)
        self.docs = gen.DocStream(ctx.seed)
        self.src = os.path.join(self.root, "landing", "docs")
        self.sink = os.path.join(self.root, "out", "docs")
        self.store = os.path.join(self.root, "out", "buckets")
        self.ckpt = os.path.join(self.root, "out", "checkpoint")
        self.files = 0
        self.runs = 0
        self.kept = 0
        self.seen = 0
        self.progress: list[dict] = []
        self.sink_fn = None
        self.landed_files: list[str] = []
        self.pending: list[int] = []  # docs per landed, not yet ingested file
        self.sink_rows_before = 0

    def out_roots(self):
        return [os.path.join(self.root, "out")]

    def _land(self, docs: list[dict]) -> int:
        path = os.path.join(self.src, f"batch-{self.files:05d}.json")
        self.files += 1
        self.landed_files.append(path)
        self.pending.append(len(docs))
        return gen.write_jsonl(path, docs)

    def _sink(self, timed: bool):
        from facolos_data_pipelines_spark.streaming import pipeline

        if self.sink_fn is None:
            self.sink_fn = pipeline.near_dup_filter_sink(self.sink, self.store)
        inner = self.sink_fn

        def batch(df, batch_id):
            # one landed file per micro-batch, consumed in landing order
            n = self.pending.pop(0) if self.pending else 0
            self.seen += n if timed else 0

            def run():
                with self.span("streaming.pipeline.near_dup_filter_sink"):
                    inner(df, batch_id)
                return True

            self._timed("micro-batch", n, run, timed)

        return batch

    def _run_stream(self, timed: bool):
        from pyspark.sql import types as T

        schema = T.StructType([
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ])
        with self.span("streaming.available_now"):
            q = (
                self.spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .json(self.src)
                .writeStream.foreachBatch(self._sink(timed))
                .trigger(availableNow=True)
                .option("checkpointLocation", self.ckpt)
                .start()
            )
            q.awaitTermination()
        if timed:
            self.progress.extend(q.recentProgress)
        self.runs += 1
        exc = q.exception()
        if exc is not None:
            raise RuntimeError(f"stream failed: {exc}")

    def setup(self):
        # warm-up units: the history file and one regular file (the first
        # regular micro-batch in a fresh JVM costs ~50% more)
        for docs in (self.docs.batch(self.HISTORY_DOCS), self.docs.batch()):
            self.total_input_bytes += self._land(docs)
        self._run_stream(timed=False)

    def step(self, timed: bool):
        from facolos_data_pipelines_spark.streaming import pipeline

        for _ in range(self.FILES_PER_RUN):
            docs = self._landed(self.docs.batch, timed)
            b = self._landed(lambda: self._land(docs), timed)
            self.total_input_bytes += b
            if timed:
                self.input_bytes += b
                self.input_records += len(docs)
        self._run_stream(timed)
        if self.runs % self.COMPACT_EVERY == 0:
            def compact():
                with self.span("streaming.pipeline.compact_bucket_store"):
                    pipeline.compact_bucket_store(self.spark, self.store)
                return True

            self._timed("compaction", 0, compact, timed)

    def measure(self, seconds: float) -> None:
        self.sink_rows_before = _rows(self.spark, self.sink)
        super().measure(seconds)
        self.kept = _rows(self.spark, self.sink) - self.sink_rows_before

    def layer_metrics(self):
        import layers

        files, size = layers.tree_stats(self.store)
        out = {
            "streaming.pipeline.near_dup_filter_sink.kept_ratio": self.kept / max(1, self.seen),
            "streaming.store.rows": _rows(self.spark, self.store),
            "streaming.store.files": files,
            "streaming.store.bytes": size,
        }
        out.update(layers.stream_progress(self.progress))
        return out

    def verify(self):
        spark = self.spark
        before = _rows(spark, self.sink)
        # replay one already-ingested batch under a new file name
        replay = os.path.join(self.src, f"replay-{self.files:05d}.json")
        shutil.copyfile(self.landed_files[1], replay)
        self._run_stream(timed=False)
        self.check("replayed batch lands 0 docs", _rows(spark, self.sink) == before)
        ids = [r[0] for r in spark.read.parquet(self.sink).select("doc_id").collect()]
        got = set(ids)
        self.check("survivor ids unique", len(ids) == len(got))
        self.check("every planted exact duplicate dropped", not (got & self.docs.exact))
        self.check("every unique doc survives", set(self.docs.unique) <= got)
        self.check("every micro-batch succeeded", all(u.ok for u in self.units))


def _rows(spark, path: str) -> int:
    if not os.path.isdir(path):
        return 0
    return spark.read.parquet(path).count()


WORKLOADS = {w.name: w for w in (EltIncremental, StreamDedup)}
