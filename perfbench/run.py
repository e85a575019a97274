#!/usr/bin/env python3
"""Alert-broker benchmark over the query registry in ``__spark_entry__``.

Run from the root of a checkout:

    python3 perfbench/run.py --workload alert_enrich --seed 1 --seconds 10 --trace 0

One process starts the engine's session on ``local[nproc]`` with ``nproc``
shuffle partitions, imports the query registry, and runs the workload's
queries (``workloads.py``) over the fixed testdata in ``perfbench/data``:

1. A check pass collects every query and compares it with its DuckDB oracle;
   a query without one must give the same digest on the next pass.
2. Warm-up passes repeat until two passes in a row are each no more than
   5% faster than the pass before them (at most five passes, the check pass
   included).
3. Measured passes (noop sink, ``clearCache()`` between queries) repeat
   until ``--seconds`` have passed. ``--seed`` shuffles the query order of
   every pass.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. With ``--trace 0``
the metrics are the ``end_to_end`` ones of ``BENCHMARK.json``. With
``--trace 1`` the measured passes alternate between untraced and traced
ones, the metrics are its ``per_layer`` ones, and the span tree is
written to ``.perfbench/trace-<workload>-<seed>.json``. The line before it
records the run's settings.

The run writes only inside the checkout: its scratch directory under
``.perfbench/`` (removed, with the JVM stopped, before the result prints)
and the program's own ``_scratch/``.
"""

from __future__ import annotations

import time

START = time.perf_counter()
START_EPOCH = time.time()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402
from pathlib import Path  # noqa: E402

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
sys.path[:0] = [str(ROOT), str(BENCH_DIR)]

import tracing  # noqa: E402
from metrics import units  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

DEFAULT_DATA = BENCH_DIR / "data" / "sf0.01"
OUT_DIR = ROOT / ".perfbench"
# sf0.01 needs far less than the session's 8g default, and a smaller
# heap keeps the run light on a shared host. The session pre-touches the
# whole heap, so these 2 GiB are resident from JVM start: a constant floor
# of peak_rss_mb.
DRIVER_MEMORY = "2g"
MAX_WARMUP_PASSES = 5
STEADY_RATIO = 0.95
PAGE = os.sysconf("SC_PAGE_SIZE")


class PeakRss:
    """Samples the resident memory of this process and all its descendants
    (the JVM and the Python workers) and keeps the peak.

    Pages shared between processes, such as those of forked Python workers,
    are counted once: each Python process contributes its proportional set
    size. The JVM shares next to nothing and its proportional set size costs
    tens of milliseconds of kernel time to read, so it contributes its
    resident set size. A child the JVM spawns shares the JVM's address space
    until it execs; while its executable is still ``java`` it is not
    counted."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self.peak_bytes = 0
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self.sample())
            self._stop.wait(self._interval)

    @staticmethod
    def sample() -> int:
        children: dict[int, list[int]] = {}
        for entry in os.scandir("/proc"):
            if not entry.name.isdigit():
                continue
            try:
                with open(f"/proc/{entry.name}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            children.setdefault(ppid, []).append(int(entry.name))
        total = 0
        frontier = [(os.getpid(), False)]  # (pid, whether its parent is a JVM)
        while frontier:
            pid, in_jvm = frontier.pop()
            try:
                java = os.path.basename(os.readlink(f"/proc/{pid}/exe")) == "java"
            except OSError:  # the process has exited
                continue
            if not (java and in_jvm):
                total += resident_bytes(pid, java)
            frontier += [(child, java) for child in children.get(pid, [])]
        return total


def resident_bytes(pid: int, java: bool) -> int:
    try:
        if java:
            with open(f"/proc/{pid}/statm") as statm:
                return int(statm.read().split()[1]) * PAGE
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:  # the process has exited
        pass
    return 0


class Collected:
    """Rows already collected from a DataFrame, in the shape
    ``oracle.compare`` reads, so the comparison stays out of the Spark
    timing."""

    def __init__(self, df) -> None:
        self.columns = df.columns
        self._rows = df.collect()

    def collect(self):
        return self._rows


def digest(result: Collected) -> str:
    from fink_science_spark.oracle import _canon, _sort_key

    cols = sorted(result.columns)
    rows = sorted((tuple(_canon(r[c]) for c in cols) for r in result.collect()),
                  key=_sort_key)
    return hashlib.sha256(repr((cols, rows)).encode()).hexdigest()


class Runner:
    """Runs one workload's passes and keeps the attempt and failure counts."""

    def __init__(self, spark, queries, names, sf_dir: str, seed: int) -> None:
        self.spark = spark
        self.queries = queries
        self.names = list(names)
        self.sf_dir = sf_dir
        self.rng = random.Random(seed)
        self.attempted = 0
        self.failed = 0
        self.broken: set[str] = set()

    def order(self) -> list[str]:
        names = [n for n in self.names if n not in self.broken]
        self.rng.shuffle(names)
        return names

    def fail(self, name: str, why: str) -> None:
        self.failed += 1
        self.broken.add(name)
        print(f"perfbench: {name} failed: {why}", file=sys.stderr)

    def run(self, name: str, steps, phase=lambda label, fn: fn()):
        """Clear the cache (untimed), build the query, then run each
        ``(label, step)`` of ``steps`` on the built frame, all timed.
        ``phase(label, fn)`` runs the build (label ``build``) and each step.
        Returns (seconds, the last step's result), or None if one raised."""
        self.attempted += 1
        self.spark.catalog.clearCache()
        t = time.perf_counter()
        try:
            df = phase("build", lambda: self.queries[name](self.spark, self.sf_dir))
            for label, step in steps:
                out = phase(label, lambda: step(df))
        except Exception as exc:  # noqa: BLE001 - a failed query is counted, not fatal
            self.fail(name, first_line(exc))
            return None
        return time.perf_counter() - t, out

    def timed_pass(self, collect: frozenset = frozenset()) -> dict[str, float]:
        """One pass with a noop sink; queries in ``collect`` are collected
        instead (their rows are kept in ``self.collected``)."""
        times, self.collected = {}, {}
        for name in self.order():
            action = Collected if name in collect else noop
            got = self.run(name, [("exec", action)])
            if got is not None:
                times[name], out = got
                if name in collect:
                    self.collected[name] = out
        return times


def first_line(exc: BaseException) -> str:
    text = str(exc).strip()
    return text.splitlines()[0][:300] if text else repr(exc)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def probe(spark, cores: int) -> float:
    """Fixed-work probe, independent of the data: shows slow host windows."""
    from pyspark.sql import functions as F

    t = time.perf_counter()
    (spark.range(0, 4_000_000, 1, cores)
     .select(F.xxhash64("id").alias("h"))
     .groupBy(F.pmod("h", F.lit(64)).alias("b"))
     .agg(F.sum(F.pmod("h", F.lit(1_000_003))).alias("s"))
     .write.format("noop").mode("overwrite").save())
    return time.perf_counter() - t


def plan(df) -> None:
    df._jdf.queryExecution().executedPlan()


def heap_after_gc_mb(spark) -> float:
    """Heap in use after the JVM's latest garbage collection, in MB."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    infos = [i for i in (gc.getLastGcInfo() for gc in mf.getGarbageCollectorMXBeans())
             if i is not None]
    if not infos:
        return 0.0
    after = max(infos, key=lambda i: i.getEndTime()).getMemoryUsageAfterGc()
    heap = [p.getName() for p in mf.getMemoryPoolMXBeans()
            if p.getType().toString() == "Heap memory"]
    return sum(after[n].getUsed() for n in heap if n in after) / 2**20


def traced_pass(runner: Runner, spans: tracing.Spans, parent: int, workload: str,
                cores: int) -> tuple[int, list[tracing.QueryTrace], float]:
    """One pass with a span per query and per build/plan/exec phase."""
    sc = runner.spark.sparkContext
    pass_span = spans.add("pass", "traced", parent, time.time())
    t0 = time.time()
    probe_s = probe(runner.spark, cores)
    spans.add("probe", "host.probe", pass_span, t0, time.time())
    counter = tracing.Py4jCounter()
    out: list[tracing.QueryTrace] = []
    try:
        for name in runner.order():
            q_span = spans.add("query", name, pass_span, None)
            phases: dict[str, tuple[int, float, float]] = {}
            calls: dict[str, int] = {}

            def phase(label, fn):
                """Run ``fn`` as the query's ``label`` phase: one span, the
                job group ``<workload>:<query>`` with ``label`` as the job
                description, and a count of the py4j commands it sends."""
                sc.setJobGroup(f"{workload}:{name}", label)
                counter.count = 0
                start = time.time()
                try:
                    return fn()
                finally:
                    end = time.time()
                    calls[label] = counter.count
                    phases[label] = (spans.add(label, label, q_span, start, end),
                                     start, end)

            got = runner.run(name, [("plan", plan), ("exec", noop)], phase)
            # the query span covers the timed window: it starts with the build
            spans.items[q_span - 1]["start"] = phases["build"][1]
            spans.end(q_span, time.time())
            if got is not None:
                out.append(tracing.QueryTrace(name, q_span, phases, calls["build"]))
    finally:
        counter.close()
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    spans.end(pass_span, time.time())
    return pass_span, out, probe_s


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=120)


def measure(args, names: list[str], cores: int, work: Path) -> dict:
    """Set up, check, warm up and measure one workload; returns the result
    line's fields plus the run's settings under ``info``."""
    sf_dir = str(args.sf_dir)
    conf = {
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # socket paths are limited to ~107 bytes; a path relative to the
        # checkout root keeps them short wherever the checkout lives
        "spark.python.unix.domain.socket.dir": os.path.relpath(work, ROOT),
    }
    event_dir = work / "events"
    if args.trace:
        event_dir.mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spans = tracing.Spans()
    root = spans.add("workload", args.workload, None, START_EPOCH)

    t, e = time.perf_counter(), time.time()
    from fink_science_spark.session import get_session

    master = f"local[{cores}]"
    spark = get_session(app_name=f"perfbench-{args.workload}", master=master,
                        shuffle_partitions=cores, extra_conf=conf)
    session_s = time.perf_counter() - t
    spans.add("setup", "session", root, e, time.time())
    try:
        t, e = time.perf_counter(), time.time()
        import __spark_entry__ as entry

        queries = entry.queries()
        registry_s = time.perf_counter() - t
        spans.add("setup", "registry", root, e, time.time())
        missing = [n for n in names if n not in queries]
        if missing:
            raise SystemExit(f"perfbench: not in the registry: {missing}")

        from fink_science_spark.oracle import compare, duckdb_connection

        runner = Runner(spark, queries, names, sf_dir, args.seed)
        t = time.perf_counter()
        oracles, con = entry.oracle_sql(), duckdb_connection(sf_dir)
        check_s = time.perf_counter() - t
        checked = mismatches = 0
        warm_walls: list[float] = []
        digests: dict[str, str] = {}
        t_warm, e = time.perf_counter(), time.time()
        while len(warm_walls) < MAX_WARMUP_PASSES:
            first = not warm_walls
            # the check pass collects everything; the next pass collects the
            # queries without an oracle again to compare their digests
            collect = frozenset(names if first else digests)
            times = runner.timed_pass(collect)
            warm_walls.append(sum(times.values()))
            t = time.perf_counter()
            for name, rows in runner.collected.items():
                if name in oracles and first:
                    checked += 1
                    result = compare(name, rows, con, oracles[name])
                    if not result.ok:
                        mismatches += 1
                        runner.fail(name, f"oracle mismatch: {result.detail}")
                elif first:
                    digests[name] = digest(rows)
                elif digest(rows) != digests[name]:
                    mismatches += 1
                    runner.fail(name, "result digest differs between two runs")
            check_s += time.perf_counter() - t
            if len(warm_walls) > 2 and all(
                    warm_walls[i] >= STEADY_RATIO * warm_walls[i - 1] for i in (-1, -2)):
                break
        con.close()
        warmup_s = time.perf_counter() - t_warm - check_s
        setup_s = time.perf_counter() - START - check_s
        spans.add("setup", "warmup", root, e, time.time())

        untraced: list[dict[str, float]] = []
        traced: list[tuple[int, list[tracing.QueryTrace], float]] = []
        heap_mb: list[float] = []
        recorder = tracing.stream_recorder() if args.trace else None
        deadline = time.perf_counter() + args.seconds
        while (not untraced or (args.trace and not traced)
               or time.perf_counter() < deadline):
            if args.trace and len(traced) < len(untraced):
                spark.streams.addListener(recorder)
                traced.append(traced_pass(runner, spans, root, args.workload, cores))
                heap_mb.append(heap_after_gc_mb(spark))
                recorder.wait_terminated()
                spark.streams.removeListener(recorder)
            else:
                e = time.time()
                untraced.append(runner.timed_pass())
                spans.add("pass", "untraced", root, e, time.time())
    finally:
        stop_spark(spark)
    spans.end(root, time.time())

    # each query's median over the measured passes: one slow sample of a
    # query is dropped without dropping the rest of its pass
    medians = {n: statistics.median(p[n] for p in untraced if n in p)
               for n in names if any(n in p for p in untraced)}
    if not medians:
        raise SystemExit("perfbench: every query failed")
    walls = [sum(p.values()) for p in untraced]
    info = {"workload": args.workload, "seed": args.seed, "master": master,
            "shuffle_partitions": cores, "sf_dir": os.path.relpath(sf_dir, ROOT),
            "queries": len(names), "warmup_walls": warm_walls, "walls": walls,
            "query_medians": medians,
            "measured_passes": len(untraced), "traced_passes": len(traced)}
    if not args.trace:
        values = {
            "setup_s": setup_s,
            "wall_s": sum(medians.values()),
            "query_p50_s": statistics.median(medians.values()),
        }
        return {"runner": runner, "values": values, "info": info}

    log = tracing.read_event_log(str(next(event_dir.iterdir())))
    per_pass = [
        tracing.pass_layers(spans, pass_span, qs, log, recorder.progress,
                          recorder.started, recorder.terminated, cores)
        for pass_span, qs, _ in traced
    ]
    traced_walls = [tracing.pass_wall(spans, qs) for _, qs, _ in traced]
    values = {name: statistics.median(p.get(name, 0.0) for p in per_pass)
              for name in units("per_layer")}
    values.update({
        "session.start_s": session_s,
        "registry.import_s": registry_s,
        "warmup.passes": len(warm_walls),
        "warmup.s": warmup_s,
        "oracle.checked": checked,
        "oracle.mismatches": mismatches,
        "host.probe_s": statistics.median(p for _, _, p in traced),
        "jvm.heap_after_gc_mb": statistics.median(heap_mb),
        "trace.overhead_frac": statistics.median(traced_walls) / statistics.median(walls) - 1,
    })
    trace_file = OUT_DIR / f"trace-{args.workload}-{args.seed}.json"
    with open(trace_file, "w") as fh:
        json.dump({"info": info, "spans": spans.with_self_times()}, fh)
    info["trace_file"] = os.path.relpath(trace_file, ROOT)
    return {"runner": runner, "values": values, "info": info}


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf-dir", type=Path, default=DEFAULT_DATA,
                    help="testdata directory (the self-test uses sf0.001)")
    ap.add_argument("--limit", type=int, default=0,
                    help="run only the workload's first N queries (self-test)")
    return ap.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    # on SIGTERM, unwind normally: stop the JVM and remove the scratch dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (ROOT / "__spark_entry__.py").is_file() or not (ROOT / "fink_science_spark").is_dir():
        print(f"perfbench: no program to measure beside {BENCH_DIR.name}/ "
              "(__spark_entry__.py, fink_science_spark/)", file=sys.stderr)
        return 2
    names = list(WORKLOADS[args.workload][: args.limit or None])
    cores = len(os.sched_getaffinity(0))
    OUT_DIR.mkdir(exist_ok=True)
    os.chdir(ROOT)
    work = Path(tempfile.mkdtemp(prefix="w", dir=OUT_DIR))
    os.environ.update({
        "TMPDIR": str(work),
        "SPARK_GRAFT_SCRATCH": str(work / "scratch"),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p),
    })
    tempfile.tempdir = None  # re-read TMPDIR
    try:
        with PeakRss() as rss:
            out = measure(args, names, cores, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    values = out["values"]
    if not args.trace:
        values["peak_rss_mb"] = rss.peak_bytes / 2**20
    wanted = units("per_layer" if args.trace else "end_to_end")
    runner = out["runner"]
    print(json.dumps({"info": out["info"]}))
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {name: {"value": values[name], "unit": unit}
                    for name, unit in wanted.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
