"""Benchmark of the feature engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload flagship_train --seed 1 --seconds 1 --trace 0

Run from the repository root. The run starts a ``local[nproc]`` Spark
session, builds the workload's inputs from ``--seed`` (set-up, repeated,
median kept), runs one untimed warm-up rep, then timed reps back to back
(closed loop, one client) for ``--seconds`` seconds, at least one, and
checks every rep's output. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones, all in CPU seconds of
this process and its descendants (the Spark JVM and its Python workers):

- ``setup_s``: set-up: session start, the median token-table set-up, and
  for ``refresh_incremental`` the history cut and the base snapshot;
- ``warm_cpu_s``: the median timed rep;
- ``seq_per_cpu_s``: input token sequences / ``warm_cpu_s``.

CPU seconds, not wall seconds, because the machine is a shared virtual
one whose hypervisor at times steals up to a third of its CPU time: over
ten seeds on four vCPUs a timed rep's CPU time spread (quartile distance
/ median) 0.10-0.21 where its wall time spread 0.18-0.35. Wall times and
the steal share of each rep are in the run record.

With ``--trace 1`` the warm-up rep also gives the plan counts, and traced
reps (``tracing.py``) fill the window; the metrics are
the per-layer ones, plus plan counts, publish ratios, trace overhead (the
tracer's own REST and listener-bus time), peak memory, ``run.first_s``,
the wall time of the warm-up rep, and ``run.setup_wall_s``. A traced
``flagship_train`` run also checks the flagship contract hash-exact
against its DuckDB oracle. The line above the JSON gives the output
checksum and ``fail_ratio``.

Sizes and the window are set so that all runs the benchmark needs fit the
time budget on four shared cores: an untraced run takes 45-80 s with the
hypervisor's steal, a warm rep 6-15 s, most of it per-job overhead (plan
build, JIT, stage scheduling, Python workers), so smaller inputs would
not make it much shorter, and a window of one second holds one timed rep.
The cold first rep's wall time is a traced metric, ``run.first_s``,
beside the set-up's wall time.

Left unmeasured on purpose: hot-entity routing and ``grouped_apply``
auto-chunking (they fire at 64M and 1M rows per entity), the textops,
streaming and multimodal leaves, and N->4N scaling; ``bench.py`` keeps
timing those.

Scratch data lives under ``.perfbench_work/`` and is removed at the end;
the window-quality record (memory-bandwidth probe, load, cores) and the
trace spans of each run are kept under ``.perfbench_runs/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
# workload -> (entities, minutes) of a run; --entities/--minutes override
SIZES = {
    "flagship_train": (8, 4_000),
    "refresh_incremental": (8, 4_000),
}
SETUP_REPEATS = 3
# events for the flagship oracle: the sf0.01 schema over fewer days, since
# the oracle's recursive CTEs take one step per bar
ORACLE_EVENTS, ORACLE_USERS, ORACLE_DAYS = 1_000, 20, 2


def _window(tag: str, probe: bool) -> dict:
    """Window-quality record: load, cores and, if asked, the memory-
    bandwidth probe (five cumsum passes over 40M float64, about 3 GB of
    memory traffic and almost no arithmetic; a co-tenant saturating the
    memory bus shows here before it shows in the timings)."""
    import numpy as np

    rec = {"at": tag}
    if probe:
        a = np.ones(40_000_000)
        t0 = time.perf_counter()
        for _ in range(5):
            a.cumsum()
        rec["membw_probe_s"] = time.perf_counter() - t0
    with open("/proc/loadavg") as fh:
        rec["loadavg"] = [float(x) for x in fh.read().split()[:3]]
    rec["nproc"] = os.cpu_count()
    return rec


def _cpu_stat() -> list[int]:
    """The machine's CPU time by state (user, nice, system, idle, iowait,
    irq, softirq, steal), in ticks."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def _now() -> tuple[float, float]:
    """(wall clock, CPU seconds of this process and its descendants)."""
    from tracing import tree_cpu_s

    return time.perf_counter(), tree_cpu_s(os.getpid())


def _since(t0: tuple[float, float]) -> tuple[float, float]:
    """(wall, CPU) seconds since ``t0``, a value of ``_now()``."""
    t1 = _now()
    return t1[0] - t0[0], t1[1] - t0[1]


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(SIZES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--entities", type=int, default=None)
    p.add_argument("--minutes", type=int, default=None)
    return p.parse_args(argv)


def _repo_ready(root: str) -> bool:
    need = ("quant_feature_pipeline_spark/__init__.py", "__spark_entry__.py",
            "tools/check_contract.py")
    return all(os.path.isfile(os.path.join(root, f)) for f in need)


def _start_spark(work: str, trace: bool):
    from quant_feature_pipeline_spark.session import get_spark

    local = os.path.join(work, "local")
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    return get_spark(
        app_name="perfbench", cpus=os.cpu_count(),
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            # the REST API the tracer reads; off in untraced runs
            "spark.ui.enabled": "true" if trace else "false",
            "spark.ui.port": "0",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-XX:-UsePerfData -Djava.io.tmpdir={work}",
        },
    )


def _gone(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] == "Z"
    except (OSError, IndexError):
        return True


def _stop_spark(spark) -> None:
    """Stop the session, then kill the JVM and whatever it started, and
    wait until each has ended. The context is stopped by then, so the
    JVM's shutdown hooks (seconds long) would only delete scratch files
    that the run removes anyway."""
    import signal

    from pyspark import SparkContext

    from tracing import descendants

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        left = descendants(proc.pid)
        proc.kill()
        proc.wait()
        deadline = time.monotonic() + 30
        for pid in left:
            with contextlib.suppress(OSError):
                os.kill(pid, signal.SIGKILL)
            while not _gone(pid) and time.monotonic() < deadline:
                time.sleep(0.02)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _oracle_events(path: str, seed: int) -> None:
    """An events table of the sf0.01 schema, drawn from ``seed``."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n = ORACLE_EVENTS
    ts = np.sort(rng.integers(0, ORACLE_DAYS * 86_400 * 10**6, n)) + 1_704_067_200 * 10**6
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, ORACLE_USERS, n).astype(np.int64)),
        "event_type": pa.array(rng.choice(["view", "click", "purchase", "signup", "error"], n)),
        "value": pa.array(np.round(rng.uniform(0.5, 50.0, n), 2)),
        "props": pa.array(["{}"] * n),
    }), os.path.join(path, "events.parquet"))


def oracle_check(spark, work: str, seed: int) -> tuple[bool, str]:
    """The flagship_features query against its DuckDB oracle, compared
    as ``tools/check_contract.py`` does: same rows, same float bits."""
    import importlib.util

    import duckdb

    import __spark_entry__ as entry
    from quant_feature_pipeline_spark.plans.flagship_oracle import flagship_oracle_sql

    spec = importlib.util.spec_from_file_location(
        "check_contract", os.path.join(os.getcwd(), "tools", "check_contract.py"))
    contract = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(contract)

    sf = os.path.join(work, "oracle_sf")
    _oracle_events(sf, seed)
    want = {}

    def duck():
        with duckdb.connect() as con:
            con.execute(f"CREATE VIEW events AS SELECT * FROM '{sf}/events.parquet'")
            want["df"] = con.execute(flagship_oracle_sql()).fetchdf()

    # both engines run native code, so the oracle overlaps the Spark query
    th = threading.Thread(target=duck)
    th.start()
    try:
        got = entry.q_flagship_features(spark, sf).toPandas()
    finally:
        th.join()
    spark.catalog.clearCache()
    if "df" not in want:
        return False, "the DuckDB oracle raised"
    return contract.compare(got, want["df"])


class Runner:
    """One run of one workload: set-up, reps, checks and metrics."""

    def __init__(self, wl):
        self.wl = wl
        # {"s", "cpu_s", "steal", "timed", "traced", "ok", "value", "problems"}
        self.reps: list[dict] = []
        self.tracers = []

    def rep(self, traced: bool = False, timed: bool = True) -> dict:
        from tracing import Tracer

        wl = self.wl
        wl.before_rep()
        # start every rep from a collected heap, so no rep pays for the
        # garbage of the one before
        wl.spark.sparkContext._jvm.System.gc()
        tracer = None
        if traced:
            tracer = wl.tracer = Tracer(wl.spark)
        problems, value = [], None
        stat0, t0 = _cpu_stat(), _now()
        try:
            if tracer:
                with tracer.installed():
                    out = wl.rep()
            else:
                out = wl.rep()
            (s, cpu), stat1 = _since(t0), _cpu_stat()
            value, problems = wl.outcome(out)
        except Exception as e:  # noqa: BLE001 — a failed rep is counted, not fatal
            (s, cpu), stat1 = _since(t0), _cpu_stat()
            problems = [f"{type(e).__name__}: {str(e)[:300]}"]
        finally:
            wl.tracer = None
        if tracer:
            self.tracers.append(tracer)
        if self.reps and value != self.reps[0]["value"] and not problems:
            problems.append(f"output {value} differs from rep 1's {self.reps[0]['value']}")
        host = [b - a for a, b in zip(stat0, stat1)]
        # the share of the machine's CPU time the hypervisor gave to others
        r = {"s": s, "cpu_s": cpu, "steal": host[7] / max(sum(host), 1), "timed": timed,
             "traced": traced, "ok": not problems, "value": value,
             "problems": problems}
        self.reps.append(r)
        for p in problems:
            print(f"rep {len(self.reps)} failed: {p}", file=sys.stderr, flush=True)
        # the next rep's cache starts empty; the last output keeps its plan
        wl.after_rep()
        return r

    def loop(self, seconds: float, traced: bool) -> None:
        """Closed loop, one client: reps back to back for ``seconds``,
        and at least one."""
        end = time.perf_counter() + seconds
        while True:
            self.rep(traced)
            if time.perf_counter() >= end:
                return


def end_to_end(runner: Runner, setup_cpu_s: float) -> dict:
    cpu = statistics.median(r["cpu_s"] for r in runner.reps if r["timed"])
    return {
        "setup_s": {"value": setup_cpu_s, "unit": "s"},
        "warm_cpu_s": {"value": cpu, "unit": "s"},
        "seq_per_cpu_s": {"value": runner.wl.sequences / cpu, "unit": "1/s"},
    }


def per_layer(runner: Runner, plan: dict, peak_rss: int, setup_wall_s: float) -> dict:
    """Median over the traced reps of every layer metric, plus plan
    counts, publish ratios, trace overhead and peak memory."""
    from tracing import LAYER_METRICS

    # rows newly published by a rep; none on a workload that never publishes
    new_rows = max(runner.wl.published_rows - runner.wl.base_rows, 0)
    per_rep = []
    for tr in runner.tracers:
        m = tr.layer_metrics()
        recomputed = sum(sp.rows for sp in tr.of("features"))
        written = tr.inclusive("publish", "output_rows")
        m["refresh.recompute_ratio"] = recomputed / new_rows if new_rows else 0.0
        m["publish.rewrite_ratio"] = written / new_rows if new_rows else 0.0
        m["publish.bytes_written"] = tr.inclusive("publish", "output_bytes")
        per_rep.append(m)
    units = {"flagship.pass1_s": "s", "flagship.pass2_s": "s",
             "refresh.recompute_ratio": "ratio", "publish.rewrite_ratio": "ratio",
             "publish.bytes_written": "bytes"}
    out = {k: {"value": statistics.median(m[k] for m in per_rep),
               "unit": units.get(k) or LAYER_METRICS[k.split(".", 1)[1]]}
           for k in per_rep[0]}
    out.update({k: {"value": v, "unit": "count"} for k, v in plan.items()})
    out["trace.overhead_s"] = {
        "value": statistics.median(tr.overhead_s for tr in runner.tracers), "unit": "s"}
    out["mem.peak_rss_mb"] = {"value": peak_rss / 2**20, "unit": "MiB"}
    out["run.first_s"] = {"value": runner.reps[0]["s"], "unit": "s"}
    out["run.setup_wall_s"] = {"value": setup_wall_s, "unit": "s"}
    return out


def main(argv=None) -> int:
    args = _parse(argv)
    root = os.getcwd()
    if not _repo_ready(root):
        print("perfbench: run from the repository root; the engine package, "
              "__spark_entry__.py and tools/check_contract.py must be there",
              file=sys.stderr)
        return 2
    sys.path[:0] = [root, HERE]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root, *filter(None, [os.environ.get("PYTHONPATH")])])

    from tracing import RssSampler, plan_counts
    from workloads import WORKLOADS

    t_start = time.perf_counter()
    windows = [_window("start", probe=True)]
    ent, mins = SIZES[args.workload]
    ent, mins = args.entities or ent, args.minutes or mins
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["TMPDIR"] = work
    trace = bool(args.trace)
    spark = None
    rss = RssSampler()
    try:
        # memory is a per-layer metric: sample it in traced runs only
        with rss if trace else contextlib.nullcontext():
            t0 = _now()
            spark = _start_spark(work, trace)
            session = _since(t0)
            wl = WORKLOADS[args.workload](spark, work, args.seed, ent, mins)
            data = []
            for _ in range(SETUP_REPEATS):
                t0 = _now()
                wl.setup_data()
                data.append(_since(t0))
            t0 = _now()
            wl.setup_once()
            once = _since(t0)
            # (wall, CPU): session start, the median data set-up, set-up once
            setup = [session[i] + statistics.median(d[i] for d in data) + once[i]
                     for i in (0, 1)]

            runner = Runner(wl)
            # untimed warm-up: the first rep in a JVM pays the job's JIT and
            # code generation; its executed plan gives the plan counts
            runner.rep(timed=False)
            if trace:
                plan = plan_counts(wl.output)
            runner.loop(args.seconds, traced=trace)
            t0 = time.perf_counter()
            oracle_ok, oracle_msg = (
                oracle_check(spark, work, args.seed) if wl.oracle and trace else (True, None))
            oracle_s = time.perf_counter() - t0
        windows.append(_window("end", probe=False))
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    failed = sum(not r["ok"] for r in runner.reps) + (not oracle_ok)
    attempted = len(runner.reps) + (oracle_msg is not None)  # reps, oracle check
    if trace:
        metrics = per_layer(runner, plan, rss.peak_bytes, setup[0])
    else:
        metrics = end_to_end(runner, setup[1])
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "size": wl.size(), "loop": wl.loop,
        "window": windows, "setup": {"session": session, "data": data, "once": once,
                                     "wall_s": setup[0], "cpu_s": setup[1]},
        "reps": runner.reps, "oracle": oracle_msg, "oracle_s": oracle_s, "metrics": metrics,
        "run_s": time.perf_counter() - t_start,
    }
    _save(root, record, runner.tracers)
    first = runner.reps[0]["value"]
    print(f"{args.workload} seed={args.seed} size={wl.size()} reps={len(runner.reps)} "
          f"output={first} oracle={oracle_msg} "
          f"fail_ratio={failed / attempted:.3f} ({failed}/{attempted})")
    print("window " + json.dumps(windows))
    for k, v in metrics.items():
        print(f"  {k} = {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def _save(root: str, record: dict, tracers) -> None:
    out = os.path.join(root, ".perfbench_runs")
    os.makedirs(out, exist_ok=True)
    stem = f"{record['workload']}-s{record['seed']}-t{record['trace']}-{os.getpid()}"
    with open(os.path.join(out, stem + ".json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    for i, tr in enumerate(tracers):
        tr.dump(os.path.join(out, f"{stem}-spans{i}.json"), {"workload": record["workload"]})


if __name__ == "__main__":
    sys.exit(main())
