#!/usr/bin/env python3
"""Benchmark of the ingest path and the query registry.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Workloads: ``ingest`` (request batches
through parse -> encode -> Warp POST into an in-process stub) and
``query`` (fixed subsets of the three query-registry families, see
queries.py). The seed makes every input; the engine
gets only the generated inputs. Spark runs as ``local[4]`` with one
client thread.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a traced run (spans around each layer call, Spark job groups,
task metrics from Spark's event log, enabled only in this mode) plus the
tracing overhead. Both print a table first and, as the last line, one
JSON object: {"correct", "attempted", "failed", "metrics"}.

Every time metric is net of hypervisor steal (see clock.py); the table
also prints the raw wall-clock unit times.

Everything the run writes goes under ``.bench_build/perfbench/`` in the
checkout; the span dump of a traced run is kept there.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest", "query")
CPUS = 4
# The driver heap is capped at 1 GB; the engine's own default is 8 GB.
# With 8 GB the heap grows by an amount that varies from run to run:
# peak_rss_mb read 2.8-3.7 GB over five query seeds (IQR/median 0.18),
# against 0.05-0.10 over ten seeds under the cap. So peak_rss_mb is the resident set under
# a 1 GB heap, where GC runs more often than at the engine default.
DRIVER_MEMORY = "1g"
# A run measures whole units: blocks of batches (ingest) or passes over
# the workload's keys (query). UNIT_S is what one unit took on a 4-CPU
# box when the benchmark was defined; --seconds / UNIT_S units run, and
# never fewer than one. A given --seconds always measures the same work.
UNIT_S = {"ingest": 18.0, "query": 15.0}
RSS_PERIOD_S = 0.2  # how often the peak-RSS sampler reads /proc


# --- measurement helpers ----------------------------------------------

def tail_pct(n: int) -> int:
    """Highest whole percentile with >= 10 samples beyond it in a sample
    of n (the median when n < 20)."""
    return max(50, math.floor(100 * (n - 10) / n))


def quantile(values: list[float], q: float) -> float:
    """Harrell-Davis estimate of the q-quantile: a Beta-weighted mean of
    all order statistics. Unlike a single order statistic it does not
    jump between neighbouring operations of different cost when their
    ranks swap from run to run."""
    x = sorted(values)
    n = len(x)
    a, b = q * (n + 1), (1 - q) * (n + 1)
    log_beta = math.lgamma(a) + math.lgamma(b) - math.lgamma(a + b)
    steps = 64  # midpoint rule inside each interval ((i-1)/n, i/n)
    w = []
    for i in range(n):
        ts = ((i + (j + 0.5) / steps) / n for j in range(steps))
        w.append(sum(math.exp((a - 1) * math.log(t) + (b - 1) * math.log1p(-t)
                              - log_beta) for t in ts))
    return sum(wi * xi for wi, xi in zip(w, x)) / sum(w)


def _descendants() -> list[int]:
    """Pids of every live descendant of this process."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        if fields[0] != "Z":
            children.setdefault(int(fields[1]), []).append(int(d))
    out, todo = [], [os.getpid()]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


class RssSampler:
    """Peak of the summed resident set of this process and all its
    descendants (the Spark JVM and its Python workers)."""

    def __init__(self) -> None:
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss", daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        total = 0
        for pid in [os.getpid(), *_descendants()]:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass  # the process has exited
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self._tree_rss())
            self._stop.wait(RSS_PERIOD_S)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, self._tree_rss())


# --- session ----------------------------------------------------------

def _configure_env(work: str, trace: bool) -> str:
    """Keep every file Spark, the JVM and the engine write in `work`."""
    tmp = os.path.join(work, "tmp")
    events = os.path.join(work, "events")
    for d in (tmp, events):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["CATALYST_ANN_MODEL_DIR"] = os.path.join(work, "ann_models")
    confs = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # no hsperfdata file in the system temp dir: the JVM writes only
        # inside `work`
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if trace:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{events}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()) + " pyspark-shell"
    return events


def _leak_counters(spark) -> dict:
    """Persisted RDDs (count, bytes) left after the session-cache reset."""
    from catalyst_spark.queries.pipeline import reset_session_caches

    reset_session_caches(spark)
    jsc = spark.sparkContext._jsc
    infos = jsc.sc().getRDDStorageInfo()
    return {
        "session.persisted_rdds_after_reset": int(jsc.getPersistentRDDs().size()),
        "session.persisted_bytes_after_reset": int(
            sum(i.memSize() + i.diskSize() for i in infos)),
    }


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM the session started, and wait until
    the JVM and its Python workers have exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while _descendants() and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in _descendants():
        os.kill(pid, signal.SIGKILL)


# --- workloads --------------------------------------------------------

def _make_run(spark, args, tracer, work: str):
    if args.workload == "ingest":
        import ingest

        return ingest.IngestRun(spark, args.seed, tracer)
    import queries

    return queries.QueryRun(spark, args.seed, os.path.join(work, "data"), tracer)


def _measure(run, args, out: dict) -> dict:
    """Untraced: `units` blocks or passes. Traced: an untraced unit, in
    the same place as the first unit of an untraced run and the
    reference for the tracing overhead, then a traced unit."""
    units = max(1, round(args.seconds / UNIT_S[args.workload]))
    with RssSampler() as rss:
        if args.trace:
            ref = [run.measure(1, False)]
            with run.tracer.span(args.workload, seed=args.seed):
                res = run.measure(1, True)
        else:
            res = run.measure(units, False)
            ref = [res]
    out["rss"] = rss.peak
    parts = [res] + (ref if args.trace else [])
    return {"res": res, "ref_walls": [w for r in ref for w in r["walls"]],
            "attempted": sum(p["attempted"] for p in parts),
            "failed": sum(p["failed"] for p in parts)}


# --- reporting --------------------------------------------------------

E2E = (  # name, unit
    ("setup_s", "s"), ("throughput_per_s", "1/s"), ("wall_s", "s"),
    ("op_p50_s", "s"), ("op_tail_s", "s"), ("peak_rss_mb", "MB"),
)

def per_layer_units() -> dict[str, str]:
    from corpus import PROTOCOLS
    from queries import FAMILIES

    u = {}
    for p in PROTOCOLS:
        u[f"parsers.{p}.busy_s"] = "s"
        for c in ("rows_in", "rows_out", "parse_errors"):
            u[f"parsers.{p}.{c}"] = "count"
        u[f"encode.{p}.busy_s"] = "s"
        u[f"sinks.{p}.busy_s"] = "s"
    u.update({"sinks.posts": "count", "sinks.connections": "count",
              "sinks.lines": "count", "sinks.bytes": "bytes",
              "sinks.lines_per_post": "lines/post", "sinks.duplicate_lines": "count",
              "sinks.stub_busy_s": "s", "ingest.jobs_per_batch": "jobs/batch",
              "ingest.tasks": "count"})
    for f in FAMILIES:
        for c, unit in (("build_s", "s"), ("exec_s", "s"), ("build_jobs", "count"),
                        ("exec_jobs", "count"), ("stages", "count"),
                        ("tasks", "count"), ("shuffle_bytes", "bytes"),
                        ("spill_bytes", "bytes"), ("gc_s", "s"),
                        ("exchanges", "count")):
            u[f"queries.{f}.{c}"] = unit
    u["session.persisted_rdds_after_reset"] = "count"
    u["session.persisted_bytes_after_reset"] = "bytes"
    u["trace.overhead_s"] = "s"
    return u


def _e2e(workload: str, res: dict, setup_s: float, rss: int) -> tuple[dict, str]:
    lat, walls = res["lat"], res["walls"]
    # ingest moves Sensision lines; the query workload completes keys
    done = res["stub"]["lines"] if workload == "ingest" else len(lat)
    p = tail_pct(len(lat))
    vals = {
        "setup_s": setup_s,
        "throughput_per_s": done / sum(walls),
        "wall_s": statistics.median(walls),
        "op_p50_s": quantile(lat, 0.5),
        "op_tail_s": quantile(lat, p / 100),
        "peak_rss_mb": rss / 2**20,
    }
    return vals, f"p{p} of n={len(lat)}, Harrell-Davis"


def _per_layer(workload: str, run, r: dict, groups: dict, leak: dict) -> dict:
    m = {name: 0.0 for name in per_layer_units()}
    res = r["res"]
    if workload == "ingest":
        for k, v in run.layer.items():
            m[f"{k}.busy_s"] = v
        for k, v in run.counts.items():
            if k != "batches":
                m[f"parsers.{k}"] = v
        s = res["stub"]
        m.update({"sinks.posts": s["posts"], "sinks.connections": s["connections"],
                  "sinks.lines": s["lines"], "sinks.bytes": s["bytes"],
                  "sinks.lines_per_post": s["lines"] / max(s["posts"], 1),
                  "sinks.duplicate_lines": s["duplicates"],
                  "sinks.stub_busy_s": s["busy_s"]})
        sink = [g for name, g in groups.items() if name.endswith("|sink")]
        m["ingest.jobs_per_batch"] = sum(g.jobs for g in sink) / max(run.counts["batches"], 1)
        m["ingest.tasks"] = sum(g.tasks for g in sink)
    else:
        for f in run.build_s:
            m[f"queries.{f}.build_s"] = run.build_s[f]
            m[f"queries.{f}.exec_s"] = run.exec_s[f]
        for name, g in groups.items():
            fam, _key, layer = name.split("|")
            pre = f"queries.{fam}."
            m[pre + f"{layer}_jobs"] += g.jobs
            m[pre + "stages"] += g.stages
            m[pre + "tasks"] += g.tasks
            m[pre + "shuffle_bytes"] += g.shuffle_bytes
            m[pre + "spill_bytes"] += g.spill_bytes
            m[pre + "gc_s"] += g.gc_s
            m[pre + "exchanges"] += g.exchanges
    m.update(leak)
    m["trace.overhead_s"] = (statistics.median(res["walls"])
                             - statistics.median(r["ref_walls"]))
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT, HERE]
    try:
        import pyspark  # noqa: F401

        import catalyst_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}",
              file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".bench_build", "perfbench")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    events = _configure_env(work, bool(args.trace))

    from catalyst_spark.session import get_spark

    from clock import Stopwatch
    from tracing import Tracer, read_event_log

    try:
        setup_clock = Stopwatch()
        spark = get_spark("perfbench", cpus=CPUS)
        out: dict = {"session_end": setup_clock.read()[0]}
        try:
            tracer = Tracer(spark.sparkContext)
            run = _make_run(spark, args, tracer, work)
            try:
                out["inputs_end"] = setup_clock.read()[0]
                run.warm_up()
                out["setup_end"], setup_s = setup_clock.read()
                r = _measure(run, args, out)
            finally:
                run.close()
            leak = _leak_counters(spark)
        finally:
            _stop_spark(spark)
        groups = read_event_log(events) if args.trace else {}
    finally:
        shutil.rmtree(work, ignore_errors=True)

    res = r["res"]
    attempted, failed = r["attempted"], r["failed"]
    print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}")
    print(f"  set-up: session {out['session_end']:.2f} s, inputs and expected "
          f"outputs {out['inputs_end'] - out['session_end']:.2f} s, warm-up "
          f"{out['setup_end'] - out['inputs_end']:.2f} s; "
          f"{setup_s:.2f} s net of steal")
    by_op: dict[str, list[float]] = {}
    for op, t in zip(res["ops"], res["lat"]):
        by_op.setdefault(op, []).append(t)
    print("  unit walls: " + ", ".join(f"{w:.3f} s" for w in res["raw_walls"])
          + "; net of steal: " + ", ".join(f"{w:.3f} s" for w in res["walls"]))
    print("  median latency per operation: " + ", ".join(
        f"{op} {statistics.median(ts):.3f} s" for op, ts in sorted(by_op.items())))
    print(f"  {'failed_share':24s} {failed / attempted:14.6f} ratio"
          f"   ({failed} failed of {attempted} attempted)")
    if args.trace:
        unit_of = per_layer_units()
        metrics = _per_layer(args.workload, run, r, groups, leak)
        for name, v in metrics.items():
            print(f"  {name:44s} {v:16.6f} {unit_of[name]}")
        os.makedirs(base, exist_ok=True)
        tracer.write(os.path.join(base, f"trace-{args.workload}-{args.seed}.json"))
    else:
        unit_of = dict(E2E)
        metrics, tail_note = _e2e(args.workload, res, setup_s, out["rss"])
        notes = {"op_p50_s": f"n={len(res['lat'])}, Harrell-Davis", "op_tail_s": tail_note}
        for name, unit in E2E:
            note = f"   ({notes[name]})" if name in notes else ""
            print(f"  {name:24s} {metrics[name]:14.6f} {unit}{note}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit_of[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
