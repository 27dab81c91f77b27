#!/usr/bin/env python3
"""Closed-loop benchmark of the engine's declared query surface.

    python3 perfbench/run.py --workload olap-mix --seed 1 --seconds 20 --trace 0

One process, one client: each query is sent only after the previous one has
finished. A run

1. starts the engine (``session.get_spark`` on ``local[nproc]``) and runs
   every workload query once on sf0.01, collecting each result and
   comparing it with the query's DuckDB oracle;
2. runs ``WARM_PASSES`` untimed warm-up passes over the workload's queries
   on sf0.1;
3. runs as many whole passes over the workload's queries on sf0.1, through
   the noop sink, as fit ``--seconds`` at ``PASS_S`` seconds a pass, each
   pass in an order shuffled by ``--seed``;
4. prints a report line and, as its last stdout line, one JSON object with
   ``correct``, ``attempted``, ``failed`` and ``metrics``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs every query
of a pass both untraced and traced and reports the per-layer metrics of the
traced executions (see ``perfbench/README.md``). The inputs are the
engine's seed-42 test data, copied under ``perfbench/data``; every file a
run writes stays under ``.bench_build/perfbench``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data")
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
SF_VERIFY, SF_TIMED = "sf0.01", "sf0.1"
#: Nominal seconds of one untraced pass of either workload on 4 cores. A run
#: makes ``round(seconds / PASS_S)`` passes, so the pass count is the same in
#: every run.
PASS_S = 6.5
#: Untimed sf0.1 passes after the verify pass. The JIT compiles hardest in
#: the first passes: on 4 cores an olap-mix pass spent 6.3 s of compiler-thread
#: time in the first pass after two warm-up passes and about 3 s from the
#: seventh on, and how fast a busy host lets those threads run shows in the
#: timed queries. Over 10 runs with two warm-up passes, the first timed pass
#: spread 25% (interquartile range over median), the two after it 6%.
WARM_PASSES = 3


def host_env(cpus: int) -> dict[str, str]:
    """Host-fit engine settings, set through the engine's own env vars.

    The session's default heap (24g) exceeds small hosts' RAM; 4g holds both
    workloads at sf0.1. Every path points inside the checkout's work dir,
    including the JVM's and Python's temp dirs and the SQL warehouse."""
    tmp = os.path.join(WORK, "tmp")
    return {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": "4g",
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "SPARK_GRAFT_EXTRA_CONF": (
            f"spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')};"
            "spark.ui.showConsoleProgress=false"
        ),
        "TMPDIR": tmp,
        # no hsperfdata file: the JVM would write it under /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


def pin_host_env() -> dict[str, str]:
    env = host_env(len(os.sched_getaffinity(0)))
    os.environ.update(env)
    tempfile.tempdir = None  # re-read TMPDIR
    shutil.rmtree(env["TMPDIR"], ignore_errors=True)
    for key in ("TMPDIR", "SPARK_LOCAL_DIRS"):
        os.makedirs(env[key], exist_ok=True)
    return env


def geomean(xs) -> float:
    xs = list(xs)
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def tail_percentile(xs: list[float], q: int = 90) -> float | None:
    """The q-th percentile of ``xs`` if at least ten samples lie above it."""
    if len(xs) < 2:
        return None
    cut = statistics.quantiles(xs, n=100)[q - 1]
    return cut if sum(x > cut for x in xs) >= 10 else None


def medians(latencies: dict[str, list[float]]) -> dict[str, float]:
    """Each query's median latency over the run's passes."""
    return {name: statistics.median(v) for name, v in latencies.items() if v}


def pass_metrics(latencies: dict[str, list[float]]) -> dict[str, float]:
    """End-to-end timings of one pass. ``wall_s`` and ``query_geomean_s``
    come from each query's median latency over the run's passes;
    ``query_p50_s`` is the median of every timed execution, which does not
    hang on the single query that happens to sit in the middle."""
    med = medians(latencies).values()
    if not med:  # every query failed
        return {}
    return {
        "wall_s": sum(med),
        "query_p50_s": statistics.median([x for v in latencies.values() for x in v]),
        "query_geomean_s": geomean(med),
    }


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set of a process (VmHWM), 0 if it is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def proc_stat(pid: int) -> tuple[str, int, str] | None:
    """(state, parent pid, start time) of a process, None if it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rpartition(")")[2].split()
    except OSError:
        return None
    return fields[0], int(fields[1]), fields[19]


def descendants(pid: int) -> list[tuple[int, str]]:
    """Every live descendant of ``pid`` as (pid, start time) pairs."""
    children: dict[int, list[tuple[int, str]]] = {}
    for entry in os.listdir("/proc"):
        st = proc_stat(int(entry)) if entry.isdigit() else None
        if st and st[0] != "Z":
            children.setdefault(st[1], []).append((int(entry), st[2]))
    found, todo = [], [pid]
    while todo:
        for child in children.get(todo.pop(), ()):
            found.append(child)
            todo.append(child[0])
    return found


def alive(proc: tuple[int, str]) -> bool:
    st = proc_stat(proc[0])
    return st is not None and st[0] != "Z" and st[2] == proc[1]


def await_ended(procs: list[tuple[int, str]], timeout: float) -> None:
    """Wait until every process in ``procs`` has ended; kill what is left
    after ``timeout`` seconds and wait for that too."""
    deadline, killed = time.monotonic() + timeout, False
    while True:
        procs = [p for p in procs if alive(p)]
        if not procs:
            return
        if time.monotonic() > deadline:
            if killed:
                raise RuntimeError(f"processes {procs} outlived SIGKILL")
            for pid, _ in procs:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
            deadline, killed = time.monotonic() + 10.0, True
        time.sleep(0.05)


def stop_engine(spark, timeout: float = 30.0) -> None:
    """Stop the session, then its JVM (which exits when its stdin closes),
    and wait until every process started by this one has ended: the JVM
    otherwise outlives the Python process while its shutdown hooks run."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    try:
        if spark is not None:
            spark.stop()
    finally:
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            try:
                gateway.shutdown()
            except Exception:  # the JVM may be gone already
                pass
            SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        await_ended(started + descendants(os.getpid()), timeout)


class Runner:
    """Runs one workload's queries against one engine session and keeps
    every latency, untraced and traced apart."""

    def __init__(self, spark, registry, members, seed: int, verify_dir: str, timed_dir: str) -> None:
        self.spark = spark
        self.registry = registry
        self.members = tuple(members)
        self.rng = random.Random(seed)
        self.verify_dir = verify_dir
        self.timed_dir = timed_dir
        self.attempted = 0
        self.failures: list[str] = []
        self.verify_s: dict[str, float] = {}
        self.latencies: dict[str, list[float]] = {name: [] for name in self.members}
        self.traced: dict[str, list[float]] = {name: [] for name in self.members}
        self.passes = 0

    def order(self) -> list[str]:
        names = list(self.members)
        self.rng.shuffle(names)
        return names

    def reclaim(self) -> None:
        """Drop cross-query residue outside the timed region: operator
        persist() entries stay in the CacheManager until cleared, and
        dropping Python references lets the JVM collect the rest. No full
        JVM GC: it shrinks the heap, and the next query pays to regrow it."""
        self.spark.catalog.clearCache()
        gc.collect()

    def fail(self, name: str, why: str) -> None:
        self.failures.append(f"{name}: {why}")
        print(f"# FAILED {name}: {why}", file=sys.stderr)

    def verify(self, duck, canon) -> float:
        """Warm-up pass: collect each query on the verify scale and compare
        it with its DuckDB oracle (``duck`` holds views over the same
        tables). Returns the pass's wall time."""
        t0 = time.perf_counter()
        for name in self.order():
            spec = self.registry[name]
            self.attempted += 1
            q0 = time.perf_counter()
            try:
                sdf = spec.fn(self.spark, self.verify_dir)
                cols, rows = sdf.columns, [tuple(r) for r in sdf.collect()]
                rel = duck.sql(spec.oracle)
                dcols, drows = rel.columns, rel.fetchall()
            except Exception as e:  # a query that raises is a failed query
                self.fail(name, f"verify raised {e!r:.300}")
                continue
            finally:
                self.verify_s[name] = time.perf_counter() - q0
                self.reclaim()
            if sorted(cols) != sorted(dcols):
                self.fail(name, f"columns {sorted(cols)} != oracle {sorted(dcols)}")
            elif canon(rows, cols) != canon(drows, dcols):
                self.fail(name, f"{len(rows)} rows differ from the oracle's {len(drows)}")
        return time.perf_counter() - t0

    def run_query(self, name: str, tracer=None) -> None:
        """One timed execution on the timed scale; a query that raises is
        counted as failed and leaves no latency."""
        spec = self.registry[name]
        self.attempted += 1
        try:
            if tracer is None:
                t0 = time.perf_counter()
                df = spec.fn(self.spark, self.timed_dir)
                if df.isStreaming:
                    df.count()
                else:
                    df.write.mode("overwrite").format("noop").save()
                self.latencies[name].append(time.perf_counter() - t0)
            else:
                self.traced[name].append(tracer.run(name, spec.fn, self.timed_dir))
        except Exception as e:  # a query that raises is a failed query
            self.fail(name, f"raised {e!r:.300}")
        self.reclaim()

    def run_pass(self, tracer=None) -> None:
        """One pass over the workload. With a ``tracer`` each query runs
        untraced and traced, in a seeded random order, so warm-up favours
        neither side."""
        for name in self.order():
            if tracer is None:
                self.run_query(name)
                continue
            first = self.rng.random() < 0.5
            for traced in (first, not first):
                self.run_query(name, tracer if traced else None)
        self.passes += 1

    def warm_passes(self) -> None:
        """Untimed passes on the timed scale, so that the timed passes run
        code the JIT has already compiled."""
        for _ in range(WARM_PASSES):
            for name in self.order():
                self.run_query(name)
        self.latencies = {name: [] for name in self.members}

    def timed_passes(self, seconds: float, tracer=None) -> None:
        """As many whole passes as fit ``seconds`` at ``PASS_S`` each (a
        traced pass runs every query twice); at least one. A fixed count,
        not a clock check, keeps the passes that the medians span the same
        from run to run."""
        cost = PASS_S * (2 if tracer else 1)
        for _ in range(max(1, round(seconds / cost))):
            self.run_pass(tracer)


def run_context(spark, env: dict[str, str], canary, steal) -> dict:
    import duckdb
    import pyspark

    sc = spark.sparkContext
    jvm = sc._jvm
    return {
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "cpus": len(os.sched_getaffinity(0)),
        "driver_memory": spark.conf.get("spark.driver.memory", None),
        "driver_max_heap_mb": jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**20,
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "extra_conf_applied": env["SPARK_GRAFT_EXTRA_CONF"],
        "host_env": env,
        "canary_ms": canary,
        "steal_pct": steal,
    }


def steal_pct(j0, j1) -> float | None:
    if not (j0 and j1):
        return None
    return 100.0 * (j1[0] - j0[0]) / max(j1[1] - j0[1], 1)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops the JVM it started (see stop_engine)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))

    env = pin_host_env()
    sys.path.insert(0, ROOT)
    # engine imports first: a checkout without the engine fails here
    from bench import _cpu_jiffies, _speed_canary
    from tests.oracle.test_duckdb_oracle import _canon
    from tmdb_spark_data_pipeline_spark.plans.queries import REGISTRY
    from tmdb_spark_data_pipeline_spark.session import get_spark
    from tmdb_spark_data_pipeline_spark.sources.io import TPCH_TABLES

    from workloads import WORKLOADS, benchmark_spec

    import_s = time.perf_counter() - T_START
    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    declared = benchmark_spec(ROOT)["per_layer" if args.trace else "end_to_end"]

    import duckdb

    duck = duckdb.connect()
    for t in TPCH_TABLES:
        path = os.path.join(DATA, SF_VERIFY, f"{t}.parquet")
        duck.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    j0, canary0 = _cpu_jiffies(), _speed_canary()
    spark, spans_path = None, None
    try:
        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}")
        spark.range(1).count()
        get_spark_s = time.perf_counter() - t0
        runner = Runner(
            spark,
            REGISTRY,
            WORKLOADS[args.workload],
            args.seed,
            os.path.join(DATA, SF_VERIFY),
            os.path.join(DATA, SF_TIMED),
        )
        verify_s = runner.verify(duck, _canon)
        t0 = time.perf_counter()
        runner.warm_passes()
        warm_s = time.perf_counter() - t0
        setup_s = import_s + get_spark_s + verify_s + warm_s

        if args.trace:
            from layertrace import QueryTracer

            qt = QueryTracer(spark, env["TMPDIR"])
            runner.timed_passes(args.seconds, qt)
            metrics = qt.metrics(runner.latencies, runner.traced, runner.passes, get_spark_s)
            spans_path = qt.dump(os.path.join(WORK, "results"), args.workload, args.seed)
        else:
            runner.timed_passes(args.seconds)
            metrics = pass_metrics(runner.latencies)
            metrics["setup_s"] = setup_s
        jvm_pid = spark.sparkContext._gateway.proc.pid
        peak_rss_mb = vm_hwm_mb("self") + vm_hwm_mb(jvm_pid)
        context = run_context(
            spark, env, [canary0, _speed_canary()], steal_pct(j0, _cpu_jiffies())
        )
    finally:
        stop_engine(spark)
        duck.close()

    lat = [x for v in runner.latencies.values() for x in v]
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "passes": runner.passes,
        "samples": len(lat),
        "query_p90_s": tail_percentile(lat),
        "failed_frac": len(runner.failures) / runner.attempted,
        "failures": runner.failures,
        "peak_rss_mb": peak_rss_mb,
        "import_s": import_s,
        "get_spark_s": get_spark_s,
        "verify_s": verify_s,
        "verify_query_s": runner.verify_s,
        "warm_s": warm_s,
        "latencies": runner.latencies,
        "measured": metrics,
        "spans": spans_path,
        "context": context,
    }
    print("# " + json.dumps(report, sort_keys=True))
    unlisted = sorted(set(metrics) - {d["name"] for d in declared})
    if unlisted:
        print(f"# measured but not declared in BENCHMARK.json: {unlisted}", file=sys.stderr)
    out = {
        "correct": not runner.failures,
        "attempted": runner.attempted,
        "failed": len(runner.failures),
        "metrics": {
            d["name"]: {"value": float(metrics.get(d["name"], 0.0)), "unit": d["unit"]}
            for d in declared
        },
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
