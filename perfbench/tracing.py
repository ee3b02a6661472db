"""Per-layer tracing for the benchmark, recorded from outside the engine.

Spans open at the public functions of each layer. ``Tracer.installed``
swaps those functions for wrappers for the length of a ``with`` block and
puts the originals back afterwards; no engine code is copied or edited.
A wrapper on a lazy layer also forces the layer's output (persist +
count), so each layer's Spark work runs inside its own span.

At every span boundary the tracer drains Spark's listener bus and reads
the UI REST API: stage totals (task time, CPU time, shuffle, spill,
output rows and bytes) and the SQL executions finished so far. A span's
self numbers are its own deltas minus those of its child spans. Time
spent reading the REST API is kept out of every span's duration.

Spans (name, start, end, parent, run id) stay in memory and are written
out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import os
import re
import threading
import time
import urllib.parse
import urllib.request
import uuid
from dataclasses import dataclass, field

# layer -> [(module[:class], attribute, force the output?)]
LAYER_TARGETS = {
    "sources": [("quant_feature_pipeline_spark.sources.bars", "bars_from_tokens", True)],
    "resample": [
        ("quant_feature_pipeline_spark.plans.pipeline", "resample_all", True),
        ("quant_feature_pipeline_spark.plans.flagship", "resample_all", True),
    ],
    "indicators": [
        ("quant_feature_pipeline_spark.plans.pipeline", "indicator_table", True),
        ("quant_feature_pipeline_spark.plans.flagship", "indicator_table", True),
    ],
    "merge": [
        ("quant_feature_pipeline_spark.plans.pipeline", "merge_timeframes", True),
        ("quant_feature_pipeline_spark.plans.flagship", "merge_timeframes", True),
    ],
    "features": [("quant_feature_pipeline_spark.plans.pipeline", "feature_table", True)],
    "publish": [
        ("quant_feature_pipeline_spark.plans.checkpoint:Checkpointer", "write", False),
        # the job's staging write; the parquet write inside
        # Checkpointer.write nests in its publish span and counts once
        ("pyspark.sql.readwriter:DataFrameWriter", "parquet", False),
    ],
    "resume": [
        ("quant_feature_pipeline_spark.plans.checkpoint:Checkpointer", "resume_plan", False),
        ("quant_feature_pipeline_spark.plans.checkpoint:Checkpointer", "merge_increment", True),
    ],
}
# opened by the workload itself, around run_flagship and its sink
FLAGSHIP = "flagship"
LAYERS = ["sources", "resample", "indicators", "merge", "features", FLAGSHIP, "publish", "resume"]
LAYER_METRICS = {
    "plan_s": "s", "wall_s": "s", "task_s": "s", "cpu_s": "s", "wait_s": "s",
    "shuffle_bytes": "bytes", "spill_bytes": "bytes", "stages": "count",
    "failed_tasks": "count",
}
# REST stage field -> running total
STAGE_FIELDS = {
    "executorRunTime": "task_ms",
    "executorCpuTime": "cpu_ns",
    "shuffleWriteBytes": "shuffle_bytes",
    "diskBytesSpilled": "spill_bytes",
    "numFailedTasks": "failed_tasks",
    "outputBytes": "output_bytes",
    "outputRecords": "output_rows",
}
TOTALS = [*STAGE_FIELDS.values(), "stages"]


def _resolve(path: str):
    mod, _, cls = path.partition(":")
    obj = importlib.import_module(mod)
    return getattr(obj, cls) if cls else obj


def _force(out) -> int:
    """Persist and count every DataFrame in ``out``; returns the rows."""
    from pyspark.sql import DataFrame

    rows = 0
    for df in out.values() if isinstance(out, dict) else [out]:
        if isinstance(df, DataFrame):
            rows += df.persist().count()
    return rows


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start: float  # wall clock, seconds since the epoch
    end: float = 0.0
    duration: float = 0.0  # minus the REST reads made while it was open
    totals0: dict = field(default_factory=dict)
    totals1: dict = field(default_factory=dict)
    sql0: int = -1  # last finished SQL execution id at open / close
    sql1: int = -1
    children: list[int] = field(default_factory=list)
    rows: int = 0  # rows of the forced output


class Tracer:
    """Spans plus REST stage and SQL deltas for one Spark application,
    which must run with ``spark.ui.enabled=true``."""

    def __init__(self, spark):
        sc = spark.sparkContext
        port = urllib.parse.urlparse(sc.uiWebUrl).port
        self._base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        self._bus = sc._jsc.sc().listenerBus()
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self.sql: dict[int, dict] = {}
        self._stack: list[Span] = []
        self._rest_s = 0.0

    @property
    def overhead_s(self) -> float:
        """Time spent draining the listener bus and reading the REST API,
        which the traced rep's total includes and no span does."""
        return self._rest_s

    def _get(self, path: str):
        with urllib.request.urlopen(self._base + path, timeout=60) as resp:
            return json.load(resp)

    def snapshot(self) -> tuple[dict, int]:
        """(stage totals, last finished SQL execution id), read after the
        listener bus drains so every finished task is counted."""
        t0 = time.perf_counter()
        self._bus.waitUntilEmpty()
        totals = dict.fromkeys(TOTALS, 0)
        for st in self._get("/stages"):
            for src, dst in STAGE_FIELDS.items():
                totals[dst] += st.get(src, 0)
            totals["stages"] += st["status"] in ("COMPLETE", "FAILED")
        for ex in self._get(f"/sql?details=false&offset={len(self.sql)}&length=1000000"):
            self.sql[ex["id"]] = ex
        self._rest_s += time.perf_counter() - t0
        return totals, max(self.sql, default=-1)

    @contextlib.contextmanager
    def span(self, name: str):
        if any(s.name == name for s in self._stack):
            yield None  # the layer re-entered itself: count it once
            return
        totals, last = self.snapshot()
        sp = Span(
            id=len(self.spans), name=name, run_id=self.run_id,
            parent=self._stack[-1].id if self._stack else None,
            start=time.time(), totals0=totals, sql0=last,
        )
        self.spans.append(sp)
        if self._stack:
            self._stack[-1].children.append(sp.id)
        self._stack.append(sp)
        t0, rest0 = time.perf_counter(), self._rest_s
        try:
            yield sp
        finally:
            sp.duration = time.perf_counter() - t0 - (self._rest_s - rest0)
            sp.end = time.time()
            sp.totals1, sp.sql1 = self.snapshot()
            self._stack.pop()

    def _wrap(self, fn, layer: str, force: bool):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer) as sp:
                out = fn(*args, **kwargs)
                if force and sp is not None:
                    sp.rows += _force(out)
                return out

        return traced

    @contextlib.contextmanager
    def installed(self):
        """Route every layer's public functions through span wrappers."""
        saved = []
        try:
            for layer, targets in LAYER_TARGETS.items():
                for path, attr, force in targets:
                    owner = _resolve(path)
                    orig = owner.__dict__[attr]
                    saved.append((owner, attr, orig))
                    setattr(owner, attr, self._wrap(orig, layer, force))
            yield self
        finally:
            for owner, attr, orig in reversed(saved):
                setattr(owner, attr, orig)

    def self_deltas(self, sp: Span) -> dict:
        """The span's own numbers: its deltas minus its children's."""
        out = {k: sp.totals1[k] - sp.totals0[k] for k in TOTALS}
        sql = set(range(sp.sql0 + 1, sp.sql1 + 1))
        out["self_s"] = sp.duration
        for ch in (self.spans[c] for c in sp.children):
            for k in TOTALS:
                out[k] -= ch.totals1[k] - ch.totals0[k]
            sql -= set(range(ch.sql0 + 1, ch.sql1 + 1))
            out["self_s"] -= ch.duration
        out["sql"] = sorted(i for i in sql if i in self.sql)
        return out

    def _exec_s(self, ids) -> float:
        return sum(self.sql[i].get("duration", 0) for i in ids) / 1e3

    def of(self, layer: str) -> list[Span]:
        return [sp for sp in self.spans if sp.name == layer]

    def layer_metrics(self) -> dict:
        """``<layer>.<metric>`` for every layer (zero where the workload
        never enters the layer), plus the flagship pass split.

        ``wall_s`` is the layer's self time; ``plan_s`` is the part of it
        outside Spark SQL executions, i.e. driver-side planning."""
        m = {}
        for layer in LAYERS:
            acc = dict.fromkeys(LAYER_METRICS, 0.0)
            for sp in self.of(layer):
                s = self.self_deltas(sp)
                acc["wall_s"] += s["self_s"]
                acc["plan_s"] += max(s["self_s"] - self._exec_s(s["sql"]), 0.0)
                acc["task_s"] += s["task_ms"] / 1e3
                acc["cpu_s"] += s["cpu_ns"] / 1e9
                acc["shuffle_bytes"] += s["shuffle_bytes"]
                acc["spill_bytes"] += s["spill_bytes"]
                acc["stages"] += s["stages"]
                acc["failed_tasks"] += s["failed_tasks"]
            acc["wait_s"] = acc["task_s"] - acc["cpu_s"]
            m.update({f"{layer}.{k}": v for k, v in acc.items()})
        # the two eager global-stats executions inside run_flagship, in
        # REST /sql order; the rank stage runs in pass 2
        passes = [i for sp in self.of(FLAGSHIP) for i in self.self_deltas(sp)["sql"]]
        m["flagship.pass1_s"] = self._exec_s(passes[:1])
        m["flagship.pass2_s"] = self._exec_s(passes[1:2])
        return m

    def inclusive(self, layer: str, key: str) -> int:
        return sum(sp.totals1[key] - sp.totals0[key] for sp in self.of(layer))

    def dump(self, path: str, extra: dict) -> None:
        spans = [
            {"id": s.id, "name": s.name, "parent": s.parent, "run_id": s.run_id,
             "start": s.start, "end": s.end, "duration_s": s.duration,
             "rows": s.rows, "self": self.self_deltas(s)}
            for s in self.spans
        ]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, **extra, "spans": spans}, fh, indent=1)


_NODE = re.compile(r"^([\s:+\-|]*)([A-Za-z][A-Za-z0-9]*)")
_ARROW = re.compile(r"InPandas|InArrow|ArrowEvalPython|ArrowWindowPython|BatchEvalPython")


def plan_counts(df) -> dict:
    """Exchange, sort, Arrow (Python UDF) and broadcast nodes in the
    executed physical plan of ``df``. Cached sub-plans count once, where
    they are first printed."""
    text = df._jdf.queryExecution().executedPlan().toString()
    names, seen, skip_deeper = [], set(), None
    for line in text.splitlines():
        m = _NODE.match(line)
        if not m:
            continue
        depth = len(m.group(1))
        if skip_deeper is not None:
            if depth > skip_deeper:
                continue
            skip_deeper = None
        if m.group(2) == "InMemoryRelation":
            key = line.strip(" :+-|")
            if key in seen:
                skip_deeper = depth
                continue
            seen.add(key)
        names.append(m.group(2))
    return {
        "plan.exchanges": names.count("Exchange"),
        "plan.sorts": names.count("Sort"),
        "plan.arrow_nodes": sum(bool(_ARROW.search(n)) for n in names),
        "plan.broadcasts": names.count("BroadcastExchange"),
    }


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_bytes(pid: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
    return total


def tree_cpu_s(pid: int) -> float:
    """CPU seconds (user + system) used so far by ``pid`` and its
    descendants, including children they have already reaped (Python
    workers that exited count through the daemon that forked them)."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/stat") as fh:
                total += sum(int(x) for x in fh.read().rsplit(")", 1)[1].split()[11:15])
        except (OSError, IndexError, ValueError):
            continue
    return total / tick


class RssSampler:
    """Peak resident memory of this process and its descendants (the
    Spark JVM and its Python workers), sampled from /proc."""

    def __init__(self, every_s: float = 0.25):
        self.every_s = every_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(os.getpid()))
            self._stop.wait(self.every_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
