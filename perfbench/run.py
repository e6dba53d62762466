#!/usr/bin/env python3
"""End-to-end benchmark of the harvest and KG-job entry points.

One run, from the root of a checkout:

    python3 perfbench/run.py --workload harvest_large --seed 1 --seconds 10 --trace 0

generates the workload's inputs from the seed, starts a ``local[4]``
session through the package's own session factory, then calls the
workload's production entry point (``harvest.run_harvest``,
``plans.resume.run_resumable`` or ``kg.pipeline.build_kg``) back to back
for ``--seconds`` seconds (one call at least), checking every committed
output against the generator's prediction. ``--trace 1`` instead makes one
warm-up call, one untraced call and one layer-by-layer traced replica of
it, and splits time and bytes by layer from Spark's event log. The last
line of standard output is the JSON result record; a line starting with
``perfbench-detail`` before it holds the samples, input statistics and
environment.

    python3 perfbench/run.py --suite    # every kept workload, 11 runs each
    python3 perfbench/run.py --smoke    # tiny self-test

Everything a run writes lives under ``.perfbench_work/`` in the working
directory and is removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

CORES = 4
HEAP = "3g"
SUITE_RUNS = 11  # runs per workload for --suite: the least with a high percentile
MB = 1 << 20

LAYERS = (
    "sources.rdf_io",
    "operators.split",
    "harvest.sink",
    "operators.manifest",
    "plans.lineage",
    "kg.pipeline.stable_turns",
    "kg.pipeline.extract",
    "kg.pipeline.canonicalize",
    "kg.pipeline.rewrite",
    "kg.pipeline.outputs",
    "plans.resume",
    "session",
)
LAYER_FIELDS = ("wall_s", "exec_cpu_s", "gc_s", "shuffle_mb", "spill_mb", "rows_out", "jobs", "exchanges")
EXTRAS = (
    "operators.split.dup_ratio",
    "harvest.sink.files",
    "kg.pipeline.canonicalize.candidates",
    "kg.pipeline.canonicalize.edges",
    "kg.pipeline.canonicalize.edges_per_candidate",
    "kg.pipeline.canonicalize.merged",
    "plans.resume.buckets",
    "plans.resume.build_kg_calls",
    "plans.resume.overhead_s",
    "session.cached_mb_after_run",
    "trace.wall_s",
    "trace.untraced_wall_s",
    "trace.overhead_s",
    "trace.coverage",
)


def log(*a, **kw) -> None:
    print(*a, file=sys.stderr, flush=True, **kw)


# ---------------------------------------------------------------- processes


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids[ppid].append(int(d))
    return kids


def process_tree(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo += kids.get(p, [])
    return out


def cpu_steal_s() -> float:
    """Seconds of CPU the hypervisor gave to other guests, machine-wide
    (the ``steal`` column of /proc/stat): a run that lost much of it ran
    on a contended host."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Peak summed RSS of the driver JVM and its descendants (the Python
    workers), sampled from /proc every 50 ms."""

    def __init__(self, pid: int) -> None:
        self.pid, self.peak = pid, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.wait(0.05):
            self.peak = max(self.peak, sum(_rss_bytes(p) for p in process_tree(self.pid)))

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


# ------------------------------------------------------------------ session


class Session:
    """The package's ``get_spark`` session, configured from outside the
    package: scratch, warehouse and (traced runs) event-log locations go
    through ``PYSPARK_SUBMIT_ARGS`` and the environment before the JVM
    starts."""

    def __init__(self, work: str, trace: bool) -> None:
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
        os.environ["SPARK_DRIVER_MEM"] = HEAP
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["PYTHONPATH"] = str(ROOT) + os.pathsep + os.environ.get("PYTHONPATH", "")
        # no JVM writes outside the work directory: temp files go to it and
        # the hsperfdata file (always under /tmp) is switched off, for the
        # spark-submit launcher JVM too
        jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
        conf = {
            "spark.driver.extraJavaOptions": jvm_opts,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        self.events = os.path.join(work, "events")
        if trace:
            os.makedirs(self.events, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": Path(self.events).as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
            f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()
        ) + " pyspark-shell"
        self.spark = None

    def start(self):
        from bop_consus_importing_rdf_spark.session import get_spark

        self.spark = get_spark("perfbench", cores=CORES)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def close(self) -> None:
        """Stop the session and the JVM, and wait until the JVM and every
        process it started (the Python workers) have exited."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        tree = process_tree(gw.proc.pid) if gw is not None else []
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if gw is None:
            return
        gw.shutdown()
        gw.proc.stdin.close()
        try:
            gw.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gw.proc.kill()
            gw.proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
        deadline = time.monotonic() + 30
        while time.monotonic() < deadline and any(os.path.exists(f"/proc/{p}") for p in tree):
            time.sleep(0.1)
        for p in tree:  # still alive after the grace period
            if os.path.exists(f"/proc/{p}"):
                try:
                    os.kill(p, 9)
                except OSError:
                    pass


def reset(spark) -> float:
    """Drop everything a run left persisted; returns the MB it had left."""
    from bop_consus_importing_rdf_spark.kg.pipeline import release_extraction_caches

    jsc = spark.sparkContext._jsc
    left = sum(i.memSize() + i.diskSize() for i in jsc.sc().getRDDStorageInfo()) / MB
    release_extraction_caches()
    spark.catalog.clearCache()
    for rdd in list(jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)
    return left


def environment(spark) -> dict:
    import platform

    import pyspark

    jvm = spark.sparkContext._jvm
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "master": spark.sparkContext.master,
        "heap": HEAP,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "spark": pyspark.__version__,
        "java": jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


# ------------------------------------------------------------------ tracing


class Tracer:
    """Layer spans: wall time measured here, the jobs they submit tagged
    with the ``perfbench.layer`` local property for the event-log fold."""

    def __init__(self, sc) -> None:
        from eventlog import LAYER_PROP

        self.sc, self.prop = sc, LAYER_PROP
        self.walls: dict[str, float] = defaultdict(float)
        self.counts: dict[str, float] = {}
        self.extras: dict[str, float] = {}

    @contextmanager
    def layer(self, name: str):
        self.sc.setLocalProperty(self.prop, name)
        t = time.perf_counter()
        try:
            yield
        finally:
            self.sc.setLocalProperty(self.prop, None)
            self.walls[name] += time.perf_counter() - t

    def probe(self):
        """Counting jobs that belong to no layer; ``traced`` subtracts
        their time from the traced wall."""
        return self.layer("probe")

    def rows(self, layer: str, n: int) -> None:
        self.counts[layer] = self.counts.get(layer, 0) + n

    def extra(self, name: str, value: float) -> None:
        self.extras[name] = value


# ----------------------------------------------------------------- one run


def timed_call(fn, spark, out: str) -> tuple[float, dict | None, list[str]]:
    """Time ``fn(spark, out)`` into an empty ``out``: ``(wall, info,
    problems)``, the traceback as the problem when it raised."""
    shutil.rmtree(out, ignore_errors=True)
    t = time.perf_counter()
    try:
        info = fn(spark, out)
        wall = time.perf_counter() - t
        return wall, info, []
    except Exception:  # a failed run is counted, reported, and the loop goes on
        return time.perf_counter() - t, None, [traceback.format_exc()]


def measure(session: Session, wl, work: str, seconds: float) -> tuple[dict, dict]:
    import checks

    # set-up is the session start, the JVM launch included. The workload is
    # not warmed up: harvest.py and job.py each start a session and make
    # one call, so a user pays the first call's code generation and JIT on
    # every run; and a warm-up call costs as much as the timed call, which
    # the run budget cannot hold.
    t = time.perf_counter()
    spark = session.start()
    setup_s = time.perf_counter() - t
    env = environment(spark)
    walls, out_mb, cached, failures, infos = [], [], [], [], []
    out = os.path.join(work, "out")
    spent, steal = 0.0, cpu_steal_s()
    with RssSampler(session.jvm_pid()) as rss:
        while True:
            wall, info, problems = timed_call(wl.run, spark, out)
            spent += wall
            if not problems:
                problems = wl.check(out, info)
                out_mb.append(checks.output_mb(out))
            cached.append(reset(spark))
            shutil.rmtree(out, ignore_errors=True)
            if problems:
                failures.append(problems)
                log(f"[{wl.name}] run failed:", *problems, sep="\n  ")
            else:
                walls.append(wall)
                infos.append(info)
            # stop before a run that would end past the budget (one at least)
            typical = statistics.median(walls) if walls else wall
            if spent + typical > seconds:
                break
    attempted = len(walls) + len(failures)
    detail = {
        "env": env,
        "wall_s": walls,
        "output_mb": out_mb,
        "cached_mb_after_run": cached,
        "attempted": attempted,
        "failed": len(failures),
        "fail_rate": len(failures) / attempted,
        "peak_rss_mb": rss.peak / MB,
        "cpu_steal_s": cpu_steal_s() - steal,
        "info": infos[-1] if infos else None,
    }
    if not walls:
        return {}, detail
    med = statistics.median(walls)
    metrics = {
        "wall_s": (med, "s"),
        "input_rows_per_s": (wl.input_rows / med, "1/s"),
        "setup_s": (setup_s, "s"),
        "output_mb": (statistics.median(out_mb), "MB"),
    }
    return metrics, detail


def traced(session: Session, wl, work: str) -> tuple[dict, dict]:
    import eventlog

    t = time.perf_counter()
    spark = session.start()
    tracer = Tracer(spark.sparkContext)
    out = os.path.join(work, "out")
    # set-up with one warm-up call of the workload, so that the untraced
    # and the traced call below both run warm and their difference is the
    # tracing overhead
    with tracer.layer("session"):
        warm_problems = timed_call(wl.run, spark, out)[2]
        reset(spark)
    session_wall = time.perf_counter() - t
    env = environment(spark)

    # the warm-up call is one attempt, the untraced production call (and,
    # for the resume job, one plain build_kg over the same corpus) another,
    # the traced replica the third
    untraced, info, problems = timed_call(wl.run, spark, out)
    problems = problems or wl.check(out, info)
    cached_after = reset(spark)
    resume_baseline = 0.0
    if hasattr(wl, "baseline"):
        resume_baseline, _info, more = timed_call(wl.baseline, spark, out)
        problems += more
        reset(spark)
        untraced += resume_baseline
    failures = [p for p in (warm_problems, problems) if p]

    t = time.perf_counter()
    try:
        info = wl.traced(spark, out, tracer)
        problems = wl.check_traced(out, info)
    except Exception:
        info, problems = None, [traceback.format_exc()]
    traced_wall = time.perf_counter() - t - tracer.walls.pop("probe", 0.0)
    if problems:
        failures.append(problems)
    reset(spark)
    shutil.rmtree(out, ignore_errors=True)
    session.spark.stop()
    session.spark = None
    logs = [os.path.join(session.events, f) for f in os.listdir(session.events)]
    folded = eventlog.read(logs[0]) if len(logs) == 1 else {}
    if len(logs) != 1:
        failures.append([f"expected one event log, found {logs}"])

    tracer.walls["session"] = session_wall
    metrics = {}
    units = {"wall_s": "s", "exec_cpu_s": "s", "gc_s": "s", "shuffle_mb": "MB", "spill_mb": "MB"}
    for layer in LAYERS:
        f = folded.get(layer, {})
        for field in LAYER_FIELDS:
            if field == "wall_s":
                v = tracer.walls.get(layer, 0.0)
            elif field == "rows_out":  # counted by the span, else rows written
                v = tracer.counts.get(layer, f.get("records_written", 0))
            else:
                v = f.get(field, 0)
            metrics[f"{layer}.{field}"] = (v, units.get(field, "count"))
    layer_sum = sum(tracer.walls.get(x, 0.0) for x in LAYERS if x != "session")
    ex = dict.fromkeys(EXTRAS, 0.0)
    ex.update(tracer.extras)
    ex["session.cached_mb_after_run"] = cached_after
    if "plans.resume" in tracer.walls:
        ex["plans.resume.overhead_s"] = tracer.walls["plans.resume"] - resume_baseline
    ex["trace.wall_s"] = traced_wall
    ex["trace.untraced_wall_s"] = untraced
    ex["trace.overhead_s"] = traced_wall - untraced
    ex["trace.coverage"] = layer_sum / traced_wall
    for k, v in ex.items():
        unit = "s" if k.endswith("_s") else "MB" if k.endswith("_mb_after_run") else (
            "ratio" if k.endswith(("ratio", "coverage", "per_candidate")) else "count")
        metrics[k] = (v, unit)
    detail = {
        "env": env,
        "attempted": 3,
        "failed": min(3, len(failures)),
        "failures": failures,
        "info": info,
        "event_log_layers": folded,
    }
    for p in failures:
        log(f"[{wl.name}] traced run failed:", *p, sep="\n  ")
    return metrics, detail


# ------------------------------------------------------------------ report


def high_percentile(xs: list[float]) -> tuple[str, float] | None:
    """The highest percentile with at least ten samples beyond it."""
    n = len(xs)
    if n < 11:
        return None
    q = math.floor(100 * (n - 10) / n)
    s = sorted(xs)
    return f"p{q}", s[min(n - 1, math.ceil(q / 100 * n) - 1)]


def print_e2e(name: str, samples: dict[str, list[float]], units: dict[str, str], attempted: int, failed: int) -> None:
    print(f"== {name}: end-to-end ==")
    print(f"  {'metric':<18} {'unit':<5} {'n':>4} {'median':>12} {'high pct':>18}")
    for m, xs in samples.items():
        hp = high_percentile(xs)
        hps = f"{hp[0]}={hp[1]:.4g}" if hp else "n/a (n<11)"
        print(f"  {m:<18} {units[m]:<5} {len(xs):>4} {statistics.median(xs):>12.4f} {hps:>18}")
    print(f"  {'fail_rate':<18} {'ratio':<5} {attempted:>4} {failed / max(attempted, 1):>12.4f}   ({failed} failed of {attempted})")


def print_layers(name: str, metrics: dict) -> None:
    v = {k: m[0] for k, m in metrics.items()}
    wall = v["trace.wall_s"]
    print(f"== {name}: per layer (traced) ==")
    print(f"  {'layer':<26} {'wall_s':>7} {'share':>6} {'cpu_s':>7} {'gc_s':>6} {'shufMB':>7} {'spillMB':>7} {'rows_out':>9} {'jobs':>5} {'exch':>5}")
    ranked = []
    for layer in LAYERS:
        w = v[f"{layer}.wall_s"]
        if not w and not v[f"{layer}.jobs"]:
            continue
        share = "-"
        if layer != "session":  # set-up, outside the traced wall
            ranked.append((w, layer))
            share = f"{w / wall:.1%}"
        print(
            f"  {layer:<26} {w:>7.2f} {share:>6} {v[f'{layer}.exec_cpu_s']:>7.2f} {v[f'{layer}.gc_s']:>6.2f} "
            f"{v[f'{layer}.shuffle_mb']:>7.1f} {v[f'{layer}.spill_mb']:>7.1f} {int(v[f'{layer}.rows_out']):>9} "
            f"{int(v[f'{layer}.jobs']):>5} {int(v[f'{layer}.exchanges']):>5}"
        )
    print(
        f"  coverage {v['trace.coverage']:.1%} (layer sum over traced wall {wall:.2f} s); "
        f"tracing overhead {v['trace.overhead_s']:+.2f} s (untraced {v['trace.untraced_wall_s']:.2f} s)"
    )
    if ranked:
        w, top = max(ranked)
        print(f"  dominant layer: {top} ({w / wall:.1%} of the traced wall)")
    for k in EXTRAS:
        if not k.startswith("trace.") and v[k]:
            print(f"  {k} = {v[k]:.4g}")


def result_line(ok: bool, attempted: int, failed: int, metrics: dict) -> str:
    return json.dumps({
        "correct": ok,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    })


def run_one(args) -> int:
    import workloads

    work = os.path.join(os.getcwd(), ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    session = None
    try:
        sys.path.insert(0, str(ROOT))
        import harvest  # noqa: F401  (the program under test must be present)
        import bop_consus_importing_rdf_spark  # noqa: F401

        wl = workloads.make(args.workload, work, args.seed, args.size)
        t = time.perf_counter()
        stats = wl.prepare()
        log(f"[{wl.name}] inputs generated in {time.perf_counter() - t:.1f} s: {stats}")
        session = Session(work, bool(args.trace))
        if args.trace:
            metrics, detail = traced(session, wl, work)
        else:
            metrics, detail = measure(session, wl, work, args.seconds)
    finally:
        if session is not None:
            session.close()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    detail.update(workload=args.workload, seed=args.seed, trace=args.trace, input_rows=wl.input_rows, input_stats=stats)
    print("perfbench-detail " + json.dumps(detail, default=str))
    ok = detail["failed"] == 0 and bool(metrics)
    if args.trace:
        print_layers(args.workload, metrics)
    elif metrics:
        units = {k: u for k, (_v, u) in metrics.items()}
        samples = {k: [v] for k, (v, _u) in metrics.items()}
        samples["wall_s"] = detail["wall_s"]
        samples["peak_rss_mb"], units["peak_rss_mb"] = [detail["peak_rss_mb"]], "MB"
        print_e2e(args.workload, samples, units, detail["attempted"], detail["failed"])
    print(result_line(ok, detail["attempted"], detail["failed"], metrics))
    return 0 if ok else 1


# ------------------------------------------------------- suite and smoke


def spec() -> dict:
    with open(ROOT / "BENCHMARK.json") as f:
        return json.load(f)


def child(workload: str, seed: int, seconds: float, trace: int, size: str = "full") -> tuple[dict | None, dict | None]:
    cmd = [sys.executable, str(Path(__file__)), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace), "--size", size]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    detail = next((json.loads(x.split(" ", 1)[1]) for x in lines if x.startswith("perfbench-detail ")), None)
    try:
        result = json.loads(lines[-1]) if p.returncode == 0 else None
    except (IndexError, ValueError):
        result = None
    return result, detail


def suite() -> int:
    """``SUITE_RUNS`` runs of every kept workload, seeds 1 up, then one
    traced run of each."""
    sp, bad = spec(), 0
    for w in (x["name"] for x in sp["workloads"]):
        samples, units, attempted, failed = defaultdict(list), {}, 0, 0
        for seed in range(1, SUITE_RUNS + 1):
            result, detail = child(w, seed, sp["run_seconds"], 0)
            attempted += detail["attempted"] if detail else 1
            failed += detail["failed"] if detail else 1
            if result is None:
                print(f"  {w} seed {seed}: failed", flush=True)
                continue
            print(f"  {w} seed {seed}: " + " ".join(f"{k}={m['value']:.6g}" for k, m in result["metrics"].items()), flush=True)
            for k, m in result["metrics"].items():
                units[k] = m["unit"]
                samples[k] += detail["wall_s"] if k == "wall_s" else [m["value"]]
            samples["peak_rss_mb"].append(detail["peak_rss_mb"])
            units["peak_rss_mb"] = "MB"
        if samples:
            print_e2e(f"{w} ({SUITE_RUNS} runs)", samples, units, attempted, failed)
        result, _detail = child(w, 1, sp["run_seconds"], 1)
        if result is None:
            failed += 1
        else:
            print_layers(w, {k: (m["value"], m["unit"]) for k, m in result["metrics"].items()})
        bad += failed
    return 1 if bad else 0


def validate(result: dict | None, names: list[dict], e2e: bool) -> list[str]:
    if result is None:
        return ["no result record"]
    errs = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        errs.append(f"keys {sorted(result)}")
    if result.get("correct") is not True or result.get("failed") != 0 or not result.get("attempted", 0) >= 1:
        errs.append(f"correct/attempted/failed = {result.get('correct')}/{result.get('attempted')}/{result.get('failed')}")
    got = result.get("metrics", {})
    if set(got) != {m["name"] for m in names}:
        errs.append(f"metric names differ: {sorted(set(got) ^ {m['name'] for m in names})}")
    for m in names:
        v = got.get(m["name"])
        if v is None:
            continue
        if v.get("unit") != m["unit"] or not isinstance(v.get("value"), float) or not math.isfinite(v["value"]):
            errs.append(f"{m['name']}: {v}")
        elif e2e and v["value"] <= 0:
            errs.append(f"{m['name']} is {v['value']}")
    return errs


def smoke() -> int:
    """Run every workload once at tiny size, untraced and traced, and check
    each result record against BENCHMARK.json."""
    sp, bad = spec(), 0
    import workloads

    for w in workloads.WORKLOADS:
        for trace, names in ((0, sp["end_to_end"]), (1, sp["per_layer"])):
            t = time.perf_counter()
            result, _detail = child(w, 1, 1, trace, "tiny")
            errs = validate(result, names, trace == 0)
            bad += bool(errs)
            print(f"smoke {w} trace={trace}: {'ok' if not errs else 'FAILED'} ({time.perf_counter() - t:.0f} s)", *errs, sep="\n  ")
    return 1 if bad else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    ap.add_argument("--suite", action="store_true", help="run every kept workload and print the summary")
    ap.add_argument("--smoke", action="store_true", help="tiny self-test of every workload")
    args = ap.parse_args()
    if args.smoke:
        return smoke()
    if args.suite:
        return suite()
    if not args.workload:
        ap.error("--workload, --suite or --smoke is required")
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
