"""Span recorder, status-store readers and per-layer roll-up.

Spans are recorded from the benchmark's side only: ``Tracer.wrap``
replaces a public function (or method) of an engine module with a
wrapper that opens a span around the call, and ``Tracer.unwrap_all``
puts every original back.  The engine code itself is never edited.

Each span carries (id, name, layer, start, end, parent, run).  While a
span is open, the Spark job group of the calling thread is set to the
span's id, so the status tracker can attribute each Spark job (and its
stages and tasks) to the innermost span that launched it.  A layer's
self time is the sum over its spans of the span's duration minus the
time covered by its child spans; the root span's self time is the
unattributed remainder.

Spans whose layer is ``trace`` are the recorder's own bookkeeping
(counters read from results and files); their time is reported as
tracing cost, never as a layer's.  A counter that needs a Spark action
(a row count) is deferred with ``Tracer.defer`` and runs after the
traced unit, outside every span: an action inside the unit would also
start Python workers and compile code that a later layer would
otherwise pay for.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import re
import time

# SQL metrics of the Python-evaluation plan nodes (Spark 4.x
# PythonSQLMetrics), parsed to seconds and bytes
PY_ACCUMS = {
    "time to start Python workers": "python_boot_s",
    "time to initialize Python workers": "python_init_s",
    "time to run Python workers": "python_run_s",
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_recv",
}


class Tracer:
    def __init__(self, spark, run_id: str) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.counters: dict[str, float] = {}
        self._patched: list[tuple] = []
        self._seq = 0
        self.own_s = 0.0  # time spent opening and closing spans
        # counters deferred until after the traced unit, tagged with the
        # epoch they belong to (see run_deferred)
        self.epoch = 0
        self._deferred: list[tuple[int, object]] = []

    # ------------------------------------------------------------ spans
    def _group(self, span: dict | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span["id"], span["name"])

    def open(self, name: str, layer: str) -> dict:
        t0 = time.perf_counter()
        self._seq += 1
        span = {"id": f"{self.run_id}.{self._seq}", "name": name, "layer": layer,
                "start": None, "end": None,
                "parent": self.stack[-1]["id"] if self.stack else None,
                "run": self.run_id}
        self.spans.append(span)
        self.stack.append(span)
        self._group(span)
        span["start"] = time.perf_counter()
        self.own_s += span["start"] - t0
        return span

    def close(self, span: dict) -> None:
        span["end"] = time.perf_counter()
        popped = self.stack.pop()
        assert popped is span, (popped["name"], span["name"])
        self._group(self.stack[-1] if self.stack else None)
        self.own_s += time.perf_counter() - span["end"]

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        s = self.open(name, layer)
        try:
            yield s
        finally:
            self.close(s)

    def count(self, key: str, value: float) -> None:
        self.counters[key] = self.counters.get(key, 0) + value

    def defer(self, fn) -> None:
        """Run ``fn(tracer)`` after the traced unit (``run_deferred``)."""
        self._deferred.append((self.epoch, fn))

    def run_deferred(self, enter_epoch=None) -> None:
        """Run the deferred counters, outside every span, in the order
        they were deferred.  ``enter_epoch(k)`` is called before the
        first counter of each epoch, to restore the state its lazy
        DataFrames read."""
        current = None
        for epoch, fn in self._deferred:
            if epoch != current and enter_epoch is not None:
                enter_epoch(epoch)
            current = epoch
            fn(self)
        self._deferred.clear()

    # ---------------------------------------------------------- wrapping
    def wrap(self, owner, attr: str, name: str, layer: str, after=None) -> None:
        """Replace owner.attr by a spanned twin.  ``after(tracer, args,
        kwargs, result)`` runs once the span is closed, inside a
        ``trace`` span, to record counters."""
        orig = getattr(owner, attr)
        raw = orig.__func__ if isinstance(orig, (staticmethod, classmethod)) else orig

        @functools.wraps(raw)
        def spanned(*args, **kwargs):
            with self.span(name, layer):
                result = raw(*args, **kwargs)
            if after is not None:
                with self.span(f"count:{name}", "trace"):
                    after(self, args, kwargs, result)
            return result

        setattr(owner, attr, spanned)
        self._patched.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # --------------------------------------------------------- roll-up
    def rollup(self) -> dict:
        """Per-layer self time, Spark jobs/tasks per layer and the
        status-store metrics of every stage the traced run launched."""
        child_time: dict[str, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + (s["end"] - s["start"])
        self_s: dict[str, float] = {}
        for s in self.spans:
            own = (s["end"] - s["start"]) - child_time.get(s["id"], 0.0)
            self_s[s["layer"]] = self_s.get(s["layer"], 0.0) + own

        tracker = self.sc.statusTracker()
        jobs: dict[str, int] = {}
        job_layer: dict[int, str] = {}
        stage_layer: dict[int, str] = {}
        for s in self.spans:
            for jid in tracker.getJobIdsForGroup(s["id"]):
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                jobs[s["layer"]] = jobs.get(s["layer"], 0) + 1
                job_layer[jid] = s["layer"]
                for sid in info.stageIds:
                    stage_layer[sid] = s["layer"]
        stages = stage_metrics(self.sc, set(stage_layer))
        per_layer: dict[str, dict] = {}
        for sid, m in stages.items():
            acc = per_layer.setdefault(stage_layer[sid], {})
            for k, v in m.items():
                acc[k] = acc.get(k, 0) + v
        for layer, m in python_metrics(self.spark, job_layer).items():
            acc = per_layer.setdefault(layer, {})
            for k, v in m.items():
                acc[k] = acc.get(k, 0) + v
        root = next(s for s in self.spans if s["parent"] is None)
        return {
            "wall_s": root["end"] - root["start"],
            "self_s": self_s,
            "jobs": jobs,
            "stages": per_layer,
            "spans": [
                {**{k: s[k] for k in ("id", "name", "layer", "parent", "run")},
                 "start": s["start"] - root["start"], "end": s["end"] - root["start"]}
                for s in self.spans
            ],
            "counters": dict(self.counters),
            "unattributed_s": self_s.get("run", 0.0),
        }


def stage_metrics(sc, stage_ids: set) -> dict[int, dict]:
    """Completed-task count, shuffle/spill bytes and executor run time
    of each stage, from the application status store."""
    if not stage_ids:
        return {}
    store = sc._jsc.sc().statusStore()
    out: dict[int, dict] = {}
    for sid in sorted(stage_ids):
        try:
            st = store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 - evicted from the store
            continue
        m = {
            "tasks": st.numCompleteTasks(),
            "shuffle_write_bytes": st.shuffleWriteBytes(),
            "shuffle_read_bytes": st.shuffleReadBytes(),
            "spill_bytes": st.memoryBytesSpilled() + st.diskBytesSpilled(),
            "executor_run_ms": st.executorRunTime(),
        }
        out[sid] = m
    return out


def python_metrics(spark, job_layer: dict[int, str]) -> dict[str, dict]:
    """Per layer, the Python-worker SQL metrics of every SQL execution
    whose jobs that layer launched (SQL metrics live in the SQL status
    store, not in the stage accumulables).  Executions whose plan has
    no Python node are skipped before their metrics are walked: each
    step of a walk is a round trip to the JVM."""
    store = spark._jsparkSession.sharedState().statusStore()
    jlong = spark._jvm.java.lang.Long
    out: dict[str, dict] = {}
    execs = store.executionsList().iterator()
    while execs.hasNext():
        e = execs.next()
        jobs = e.jobs().keys().iterator()
        layer = None
        while jobs.hasNext():
            layer = job_layer.get(int(jobs.next()))
            if layer is not None:
                break
        if layer is None or "Python" not in e.physicalPlanDescription():
            continue
        values = store.executionMetrics(e.executionId())
        acc = out.setdefault(layer, {})
        seen = set()  # AQE re-lists a node's metrics with each plan update
        it = e.metrics().iterator()
        while it.hasNext():
            pm = it.next()
            key = PY_ACCUMS.get(pm.name())
            if key is None or pm.accumulatorId() in seen:
                continue
            seen.add(pm.accumulatorId())
            v = values.get(jlong(pm.accumulatorId()))
            if v.isDefined():
                acc[key] = acc.get(key, 0.0) + parse_metric(v.get())
    return out


_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}


def parse_metric(text: str) -> float:
    """A formatted SQL metric ("total (min, med, max ...)\n1.2 s (...)",
    or a bare "12.0 KiB") in base units: bytes or seconds."""
    body = text.split("\n", 1)[-1]
    m = re.match(r"\s*([-\d.,]+)\s*([A-Za-z]+)?", body)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1.0)


def write_json(path: str, payload: dict) -> None:
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(payload, fh, indent=1, sort_keys=True)
        fh.write("\n")
