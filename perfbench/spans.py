"""Traced mode: spans around the program's public calls, charged with
the Spark work they caused.

Nothing here runs unless the benchmark is started with ``--trace 1``;
an untraced run never imports the patches below.

* A span is opened around each wrapped call (``<module>.<function>``).
  Spans live in memory and are folded into metrics at the end; a
  span's self time is its wall time minus the part its child spans
  cover.
* Every span sets a Spark job group plus a ``perfbench.span`` local
  property, so each job in the event log names the span that
  submitted it.
* DataFrame actions and writer calls record the program frame that ran
  them as the job's call site (``perfbench.site``, and
  ``callSite.short`` where PySpark leaves it). A plan built lazily by one layer and
  executed later by another (the quality gate ``collect`` and the
  control-log write inside ``run_incremental_cycle``) is charged to the
  span and call site that executed it; frames built by a wrapped
  function carry its name as the call site's origin.
* Per-job task metrics (bytes in/out, shuffle, spill, GC) come from the
  Spark event log, written to a local directory through
  ``SPARK_GRAFT_EXTRA_CONF`` and parsed after the session stops.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import os
import sys
import threading
import time
from collections import defaultdict

SPAN_PROP = "perfbench.span"
ORIGIN_PROP = "perfbench.origin"
# PySpark's collect() overwrites callSite.short with its own Python frame
# (this module's wrapper), so the program line also travels in a
# property of ours
SITE_PROP = "perfbench.site"
_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
_ORIGIN_ATTR = "_perfbench_origin"
_PROGRAM_PKG = "facolos_data_pipelines_spark"

# per-span task-metric accumulables summed from the event log
_ACCUMS = {
    "internal.metrics.input.bytesRead": "input_bytes",
    "internal.metrics.output.bytesWritten": "output_bytes",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
    "internal.metrics.memoryBytesSpilled": "spill_bytes",
    "internal.metrics.jvmGCTime": "gc_ms",
}
SPAN_FIELDS = (
    "calls", "wall_s", "self_s", "jobs", "stages", "job_s", "driver_s",
    "input_bytes", "output_bytes", "shuffle_bytes", "spill_bytes", "gc_s",
    "files_written",
)


def _data_files(path: str) -> set[str]:
    """Data files under a table directory (no ``_SUCCESS``, no ``.crc``)."""
    if not os.path.isdir(path):
        return set()
    return {
        os.path.join(d, f)
        for d, _, files in os.walk(path)
        for f in files
        if not f.startswith((".", "_"))
    }


class Tracer:
    """Spans kept in memory for one traced run; see the module docstring."""

    def __init__(self):
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[int] = []
        self.spans: dict[int, dict] = {}
        self.files: dict[int, int] = defaultdict(int)
        # spans and call sites are recorded only while active (the timed
        # phase); set-up and the output checks run unrecorded
        self.active = False

    # -- spans ---------------------------------------------------------------

    def _stack(self) -> list[int]:
        if threading.current_thread() is self._main:
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def current(self) -> int | None:
        st = self._stack()
        if st:
            return st[-1]
        return self._main_stack[-1] if self._main_stack else None

    def _sc(self):
        from pyspark import SparkContext

        return SparkContext._active_spark_context

    def _set_props(self, sc, props: dict) -> dict:
        old = {k: sc.getLocalProperty(k) for k in props}
        for k, v in props.items():
            sc.setLocalProperty(k, v)
        return old

    def span(self, name: str):
        return _Span(self, name) if self.active else contextlib.nullcontext()

    # -- wrapping ------------------------------------------------------------

    def wrap(self, module, attr: str, origin: bool = False) -> None:
        """Replace ``module.attr`` with a spanned twin named
        ``<module>.<function>``. With ``origin``, returned DataFrames
        carry that name, so the jobs that later execute them report it
        as their origin."""
        fn = getattr(module, attr)
        label = f"{fn.__module__.replace(_PROGRAM_PKG + '.', '')}.{fn.__name__}"

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(label):
                out = fn(*args, **kwargs)
                if origin and hasattr(out, "_jdf"):
                    setattr(out, _ORIGIN_ATTR, label)
                return out

        setattr(module, attr, traced)

    def patch_actions(self):
        """Label every DataFrame action / write with its program call
        site and count the files each write leaves behind."""
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameWriter

        tracer = self

        def site_of(action: str) -> str:
            f = sys._getframe(2)
            while f is not None:
                mod = f.f_globals.get("__name__", "")
                if mod.startswith(_PROGRAM_PKG):
                    where = f"{mod.replace(_PROGRAM_PKG + '.', '')}.{f.f_code.co_name}:{f.f_lineno}"
                    break
                f = f.f_back
            else:
                where = "perfbench"
            return f"{action} at {where}"

        def action(cls, name, writer=False):
            fn = getattr(cls, name)

            @functools.wraps(fn)
            def traced(self, *args, **kwargs):
                depth = getattr(tracer._local, "depth", 0)
                sc = tracer._sc()
                if depth or sc is None or not tracer.active:
                    return fn(self, *args, **kwargs)
                df = self._df if writer else self
                site = site_of(f"write.{name}" if writer else name)
                path = args[0] if writer and args and isinstance(args[0], str) else kwargs.get("path")
                before = _data_files(path) if path else set()
                old = tracer._set_props(sc, {
                    "callSite.short": site,
                    "callSite.long": site,
                    SITE_PROP: site,
                    ORIGIN_PROP: getattr(df, _ORIGIN_ATTR, None),
                })
                tracer._local.depth = 1
                try:
                    return fn(self, *args, **kwargs)
                finally:
                    tracer._local.depth = 0
                    tracer._set_props(sc, old)
                    sid = tracer.current()
                    if path and sid is not None:
                        tracer.files[sid] += len(_data_files(path) - before)

            setattr(cls, name, traced)

        for name in ("collect", "count", "head", "take", "first", "toPandas",
                     "localCheckpoint", "isEmpty"):
            action(DataFrame, name)
        for name in ("parquet", "save"):
            action(DataFrameWriter, name, writer=True)

    # -- folding -------------------------------------------------------------

    def fold(self, event_log_dir: str) -> tuple[dict[str, dict], dict[str, list]]:
        """Per span name: SPAN_FIELDS summed over calls, with jobs and
        task metrics from the event log, plus per-origin lazily executed
        work under ``<origin>.lazy``. Also returns the recorded jobs by
        ``(span, call site)``, the program line that ran them."""
        jobs = [j for j in parse_event_log(event_log_dir) if j["span"] is not None]
        by_span: dict[str, list] = defaultdict(list)
        by_origin: dict[str, list] = defaultdict(list)
        by_site: dict[str, list] = defaultdict(list)
        for j in jobs:
            by_span[j["span"]].append(j)
            if j["origin"]:
                by_origin[j["origin"]].append(j)
            span = self.spans.get(int(j["span"]), {}).get("name", "?")
            by_site[f"{span}: {j['site']}"].append(j)
        children: dict[int, list] = defaultdict(list)
        for s in self.spans.values():
            if s["parent"] is not None:
                children[s["parent"]].append(s)
        out: dict[str, dict] = {}
        for sid, s in self.spans.items():
            agg = out.setdefault(s["name"], {k: 0.0 for k in SPAN_FIELDS})
            wall = s["end"] - s["start"]
            covered = _union([(c["start"], c["end"]) for c in children[sid]], s["start"], s["end"])
            own = by_span.get(str(sid), [])
            job_s = _union([(j["start"], j["end"]) for j in own], s["start"], s["end"])
            agg["calls"] += 1
            agg["wall_s"] += wall
            agg["self_s"] += max(0.0, wall - covered)
            agg["jobs"] += len(own)
            agg["job_s"] += job_s
            agg["driver_s"] += max(0.0, wall - covered - job_s)
            agg["files_written"] += self.files.get(sid, 0)
            _add_task_metrics(agg, own)
        for origin, js in by_origin.items():
            agg = out.setdefault(origin + ".lazy", {k: 0.0 for k in SPAN_FIELDS})
            agg["jobs"] += len(js)
            agg["job_s"] += sum(j["end"] - j["start"] for j in js)
            _add_task_metrics(agg, js)
        return out, by_site


class _Span:
    __slots__ = ("t", "name", "sid", "old", "sc")

    def __init__(self, tracer: Tracer, name: str):
        self.t = tracer
        self.name = name

    def __enter__(self):
        t = self.t
        self.sid = next(t._ids)
        parent = t.current()
        t.spans[self.sid] = {
            "name": self.name, "parent": parent, "start": time.time(), "end": None,
        }
        t._stack().append(self.sid)
        self.sc = t._sc()
        if self.sc is not None:
            self.old = t._set_props(self.sc, {
                SPAN_PROP: str(self.sid),
                "spark.jobGroup.id": self.name,
                "spark.job.description": self.name,
                "spark.job.interruptOnCancel": "false",
            })
        return self

    def __exit__(self, *exc):
        t = self.t
        t.spans[self.sid]["end"] = time.time()
        t._stack().pop()
        if self.sc is not None:
            t._set_props(self.sc, self.old)
        return False


def _union(intervals, lo: float, hi: float) -> float:
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(lo, s), min(hi, e)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _add_task_metrics(agg: dict, jobs: list) -> None:
    for j in jobs:
        agg["stages"] += len(j["stages"])
        for st in j["stages"]:
            for k, v in st.items():
                if k == "gc_ms":
                    agg["gc_s"] += v / 1000.0
                else:
                    agg[k] += v


def parse_event_log(event_log_dir: str) -> list[dict]:
    """Jobs from the (stopped) application's event log: span id, call
    site, start/end (epoch seconds) and the task metrics of the stages
    each job ran."""
    starts: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stage_metrics: dict[int, dict] = {}
    paths = sorted(
        os.path.join(d, n)
        for d, _, names in os.walk(event_log_dir)
        for n in names
        if not n.startswith(("appstatus", "."))
    )
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jid = ev["Job ID"]
                    starts[jid] = {
                        "span": props.get(SPAN_PROP),
                        "origin": props.get(ORIGIN_PROP),
                        "site": props.get(SITE_PROP) or "read/listing (no DataFrame action)",
                        "start": ev["Submission Time"] / 1000.0,
                        "end": ev["Submission Time"] / 1000.0,
                        "stages": [],
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in starts:
                        starts[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    m: dict[str, float] = defaultdict(float)
                    for acc in info.get("Accumulables", []):
                        field = _ACCUMS.get(acc.get("Name"))
                        if field is not None:
                            m[field] += float(acc.get("Value") or 0)
                    stage_metrics[info["Stage ID"]] = dict(m)
    for sid, m in stage_metrics.items():
        jid = stage_job.get(sid)
        if jid in starts:
            starts[jid]["stages"].append(m)
    return list(starts.values())
