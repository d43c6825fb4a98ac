#!/usr/bin/env python3
"""Layered benchmark of the engine on ``local[4]``.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 20 --trace 0

Run from anywhere: it works on the checkout that holds it. Each run
starts a fresh Spark session, loads every fixture table, makes one
warm-up pass over the workload's ops and one more untimed serial pass,
and then measures for ``--seconds``. Every op is driven through the
public call ``registry.QUERIES[op](spark, sf_dir)`` followed by
``toArrow()``, on a fresh plan each time. Load comes from closed-loop
client threads of this one process: a client sends its next op only
after the previous one returned.

With one client a run measures at least three whole passes, and then
takes ops of further passes until ``--seconds`` have passed. With
several clients they share one seeded queue and take new ops until
``--seconds`` have passed; ops still running then finish and are
checked, but only those that ended in time count.

``pass_s`` is the time of one pass at each op's median latency (with
several clients, the wall time per pass's worth of ops), and
``ops_per_min`` the op rate at that pace. The detail line before the
result gives per-op latency (construct plus fetch): each op's measured
calls, and the 50th and 90th percentiles over the workload's ops of
each op's median latency. A run makes at most a few dozen op calls,
too few for percentiles that host noise leaves steady, so these are not
among the end-to-end metrics.

Correctness is checked outside the measured window. Each op's warm-up
result is compared with its DuckDB oracle through
``pymapreduce_spark.testing.compare_frames``; every later result must
have the same digest. An op that raises or fails a check counts in
``failed``; it does not end the run.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. A traced run repeats the
measured phase with tracing on, reports the layers from that repeat and
writes its spans to ``.bench_build/trace/``. All scratch output goes to
``.bench_build/`` and the engine's own ``.artifacts/`` in the checkout.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shlex
import statistics
import subprocess
import sys
import threading
import time

_STARTED = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
FIXTURES = os.path.join(HERE, "fixtures", "bench_sf0.01")
#: A run that has not ended after this many seconds is killed, with no result.
WATCHDOG_S = 170
#: Fewest passes a one-client run measures, so that a burst of host load
#: during one pass moves no median.
MIN_PASSES = 3

sys.path.insert(0, HERE)
from spans import LAYER_UNITS, Call, Tracer, layer_metrics  # noqa: E402
from workloads import CPUS, STREAMING, WORKLOADS, pass_order  # noqa: E402

E2E_UNITS = {
    "setup_s": "s",
    "pass_s": "s",
    "ops_per_min": "ops/min",
    "peak_rss_mb": "MB",
}


def _process_age_s() -> float:
    """Seconds since this process was created, at clock-tick resolution
    (Linux /proc)."""
    with open("/proc/self/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - int(fields[19]) / os.sysconf("SC_CLK_TCK")


_AGE_AT_START = _process_age_s()


def process_age_s() -> float:
    """Seconds since this process was created: interpreter start-up at
    tick resolution, plus the rest on the high-resolution clock."""
    return _AGE_AT_START + time.perf_counter() - _STARTED


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description="Layered benchmark of the engine.")
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf-dir", default=FIXTURES,
                   help="fixture directory (default: the bundled sf0.01 copy)")
    p.add_argument("--passes", type=int, default=None,
                   help="measure exactly this many passes instead of --seconds")
    p.add_argument("--corrupt-digest", metavar="OP", default=None,
                   help="replace OP's reference digest, so its later results fail")
    args = p.parse_args(argv)
    args.sf_dir = os.path.abspath(args.sf_dir)  # the run changes its cwd
    return args


def prepare_environment() -> None:
    """Keep every file the run writes inside the checkout, and let
    Python workers import the engine whatever the caller's cwd is."""
    dirs = {n: os.path.join(BUILD, n) for n in ("local", "tmp", "warehouse", "cwd")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(paths),
        "SPARK_GRAFT_CPUS": str(CPUS),
        # A small heap, committed from the start (-Xms below): peak RSS
        # then tracks what the run holds, not when the heap chose to grow.
        "SPARK_GRAFT_DRIVER_MEM": "1g",
        "SPARK_LOCAL_DIRS": dirs["local"],
        "TMPDIR": dirs["tmp"],
        # Every JVM, the spark-submit launcher too: no hsperfdata files
        # in /tmp, and temp files under the checkout.
        "JAVA_TOOL_OPTIONS": " ".join(filter(None, [
            os.environ.get("JAVA_TOOL_OPTIONS"),
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={dirs['tmp']}",
        ])),
        "PYSPARK_SUBMIT_ARGS": " ".join(shlex.quote(a) for a in [
            "--conf", "spark.ui.showConsoleProgress=false",
            "--conf", "spark.ui.retainedJobs=100000",
            "--conf", "spark.ui.retainedStages=100000",
            "--conf", f"spark.sql.warehouse.dir={dirs['warehouse']}",
            "--conf", "spark.driver.extraJavaOptions=-Xms1g",
            "pyspark-shell",
        ]),
    })
    # The cwd is a scratch dir, so a worker that could only import the
    # engine from its cwd fails here instead of passing by luck.
    os.chdir(dirs["cwd"])
    sys.path.insert(0, ROOT)


def digest(table) -> str:
    """Order-insensitive digest of a result: the sorted 64-bit hashes of
    its rows, with columns taken in name order."""
    import pandas as pd

    names = sorted(table.column_names)
    frame = table.select(names).to_pandas()
    for col in frame.select_dtypes("float").columns:
        frame[col] = frame[col] + 0.0  # -0.0 and 0.0 are one value
    rows = pd.util.hash_pandas_object(frame, index=False).to_numpy()
    rows.sort()
    return hashlib.sha256("\x1f".join(names).encode() + rows.tobytes()).hexdigest()


class Bench:
    def __init__(self, args: argparse.Namespace) -> None:
        self.args = args
        self.workload = WORKLOADS[args.workload]
        self.layers: dict[str, float] = {}
        self.tracer: Tracer | None = None
        self.spark = None
        self.jvm = None  # the JVM's Popen, once the session exists

    # ---- set-up ----------------------------------------------------

    def setup(self) -> None:
        t = time.perf_counter()
        import pymapreduce_spark
        from pymapreduce_spark import io, registry

        self.layers["registry.import_s"] = time.perf_counter() - t
        pkg = os.path.dirname(os.path.abspath(pymapreduce_spark.__file__))
        if os.path.dirname(pkg) != ROOT:
            raise RuntimeError(f"engine imported from {pkg}, not from {ROOT}")
        self.registry = registry
        from pymapreduce_spark.session import get_spark

        t = time.perf_counter()
        self.spark = get_spark(app_name="perfbench")
        self.layers["session.get_spark_s"] = time.perf_counter() - t
        self.jvm = getattr(self.spark.sparkContext._gateway, "proc", None)
        self.spark.sparkContext.setLogLevel("ERROR")
        t = time.perf_counter()
        for name in io.TABLES:
            io.load_table(self.spark, self.args.sf_dir, name)
        self.layers["io.load_table_s"] = time.perf_counter() - t

    # ---- driving ops -----------------------------------------------

    def call(self, op: str, client: int) -> Call:
        tracer = self.tracer
        c = Call(op, client, time.time())
        try:
            if tracer is not None:
                c.group = tracer.new_group()
                tracer.enter(c.group, "construct")
            c.df = self.registry.QUERIES[op](self.spark, self.args.sf_dir)
            c.built = time.time()
            if tracer is not None:
                tracer.enter(c.group, "fetch")
            c.table = c.df.toArrow()
        except Exception as exc:  # noqa: BLE001 - one failing op must not end the run
            c.error = f"{type(exc).__name__}: {exc}"[:300]
        finally:
            c.end = time.time()
            if tracer is not None:
                tracer.leave()
        return c

    def run_clients(self, queue: list[str], clients: int,
                    deadline: float | None = None) -> list[Call]:
        """Drain ``queue`` with ``clients`` closed-loop threads. A client
        takes the first queued op no other client is running, and takes
        none after ``deadline`` (a ``time.time()`` value)."""
        from pyspark import InheritableThread

        lock = threading.Lock()
        running: set[str] = set()
        pending = list(queue)
        calls: list[Call] = []

        def take() -> str | None:
            with lock:
                if deadline is not None and time.time() >= deadline:
                    return None
                for i, op in enumerate(pending):
                    if op not in running:
                        running.add(op)
                        return pending.pop(i)
                return None

        def client(cid: int) -> None:
            while (op := take()) is not None:
                c = self.call(op, cid)
                with lock:
                    running.discard(op)
                    calls.append(c)

        if clients == 1:
            client(0)
            return calls
        threads = [InheritableThread(target=client, args=(i,)) for i in range(clients)]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        return calls

    def warmup(self) -> list[Call]:
        """One pass: the batch ops on the workload's warm-up threads, then
        the streaming ops on one, so that no drain runs beside another op."""
        w = self.workload
        order = pass_order(w.ops, self.args.seed, 0)
        batch = [op for op in order if op not in STREAMING]
        return (self.run_clients(batch, w.warmup_clients)
                + self.run_clients([op for op in order if op in STREAMING], 1))

    def measure(self) -> dict:
        """The measured phase: seeded passes with one client, a timed
        window with several. Returns every call, the calls that count,
        the wall time they span, the time of each whole pass and
        ``pass_s``.

        With one client ``pass_s`` is the sum over the workload's ops of
        each op's median latency. The ops' medians come from different
        passes, so the sum averages host speed over the whole window,
        where the median pass time would rest on one pass."""
        w, seconds, passes = self.workload, self.args.seconds, self.args.passes
        if w.clients == 1:
            calls: list[Call] = []
            times: list[float] = []
            t0 = time.time()
            k = 0
            while passes is None or k < passes:
                k += 1
                # the first passes are whole; later ones stop at the deadline
                deadline = None if passes is not None or k <= MIN_PASSES else t0 + seconds
                t = time.time()
                done = self.run_clients(pass_order(w.ops, self.args.seed, k), 1, deadline)
                calls += done
                if len(done) < len(w.ops):
                    break
                times.append(time.time() - t)
            medians = [statistics.median(v) for v in op_latencies(calls).values()]
            return {"calls": calls, "timed": calls, "wall": time.time() - t0,
                    "pass_times": times, "pass_s": sum(medians)}
        queue = [op for k in range(1, (passes or 1000) + 1)
                 for op in pass_order(w.ops, self.args.seed, k)]
        t0 = time.time()
        deadline = None if passes is not None else t0 + seconds
        calls = self.run_clients(queue, w.clients, deadline)
        if deadline is None:
            wall, timed, done = time.time() - t0, calls, float(len(calls))
        else:
            wall, timed = seconds, [c for c in calls if c.end <= deadline]
            # an op still running at the deadline counts for its share
            # of wall time that fell inside the window
            done = sum(min(1.0, (deadline - c.start) / (c.end - c.start)) for c in calls)
        pass_s = wall * len(w.ops) / done
        return {"calls": calls, "timed": timed, "wall": wall,
                "pass_times": [pass_s], "pass_s": pass_s}

    # ---- checks ----------------------------------------------------

    def check(self, warm: list[Call], later: list[Call]) -> list[str]:
        """Oracle-check each op's first good warm-up result, then require
        every other result to carry the same digest. Failed calls get
        ``error`` set; returns one message per failed call."""
        from pymapreduce_spark.testing import compare_frames, make_duckdb

        ref: dict[str, str] = {}
        duck = make_duckdb(self.args.sf_dir)
        try:
            for c in warm:
                if c.error is not None or c.op in ref:
                    continue
                try:
                    duck.register("perfbench_oracle", self.oracle(duck, c.op))
                    # the fetched Arrow result, under the op's own schema
                    df = self.spark.createDataFrame(c.table, schema=c.df.schema)
                    # min_rows=0: equal to an empty oracle is correct here;
                    # flagging vacuous oracles is the oracle suite's job
                    compare_frames(c.op, df, duck, "SELECT * FROM perfbench_oracle",
                                   min_rows=0)
                    ref[c.op] = digest(c.table)
                except Exception as exc:  # noqa: BLE001 - a failed check is a failure
                    c.error = f"oracle check: {type(exc).__name__}: {exc}"[:300]
                finally:
                    duck.unregister("perfbench_oracle")
        finally:
            duck.close()
        if self.args.corrupt_digest is not None:
            ref[self.args.corrupt_digest] = "0" * 64
        for c in warm + later:
            if c.error is None and digest(c.table) != ref.get(c.op):
                c.error = "result digest differs from the oracle-checked warm-up"
        return [f"{c.op}: {c.error}" for c in warm + later if c.error is not None]

    def oracle(self, duck, op: str):
        """The DuckDB oracle's result for ``op``. Some oracles take
        seconds (graph_pagerank's about 3 s), so each result is cached
        under ``.bench_build/oracles/``, keyed by the oracle SQL, the
        DuckDB version and the identity of every fixture file."""
        import duckdb
        import pyarrow.parquet as pq
        from pymapreduce_spark.io import TABLES, fixture_stamp, table_path

        sql = self.registry.ORACLES[op]
        stamps = [fixture_stamp(table_path(self.args.sf_dir, t)) for t in TABLES]
        key = hashlib.sha256("\n".join([sql, duckdb.__version__, *stamps]).encode())
        path = os.path.join(BUILD, "oracles", f"{op}-{key.hexdigest()[:16]}.parquet")
        if os.path.exists(path):
            return pq.read_table(path)
        table = duck.execute(sql).fetch_arrow_table()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(table, path + ".tmp")
        os.replace(path + ".tmp", path)
        return table

    # ---- teardown --------------------------------------------------

    def peak_rss_mb(self) -> float:
        """Peak resident memory of this process plus its JVM."""
        total = 0
        for pid in ["self"] + ([str(self.jvm.pid)] if self.jvm is not None else []):
            with open(f"/proc/{pid}/status") as fh:
                total += next(int(line.split()[1]) for line in fh
                              if line.startswith("VmHWM:"))
        return total / 1024

    def shutdown(self) -> None:
        """Stop Spark and wait for the JVM, and with it the Python
        workers it started, to exit."""
        if self.tracer is not None:
            self.tracer.close()
        if self.spark is not None:
            self.spark.stop()
        if self.jvm is not None:
            self.jvm.stdin.close()
            try:
                self.jvm.wait(timeout=60)
            except subprocess.TimeoutExpired:
                self.jvm.kill()
                self.jvm.wait()


def start_watchdog(bench: Bench) -> None:
    def fire() -> None:
        print(f"perfbench: run exceeded {WATCHDOG_S} s, killed", file=sys.stderr)
        if bench.jvm is not None:
            bench.jvm.kill()
            bench.jvm.wait()
        os._exit(3)

    timer = threading.Timer(WATCHDOG_S, fire)
    timer.daemon = True
    timer.start()


def cpu_ticks() -> tuple[int, int]:
    """(stolen, total) clock ticks of all CPUs since boot, from the
    first line of /proc/stat (Linux)."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def op_latencies(calls: list[Call]) -> dict[str, list[float]]:
    """Each op's call latencies (construct plus fetch), in call order."""
    by_op: dict[str, list[float]] = {}
    for c in calls:
        by_op.setdefault(c.op, []).append(c.end - c.start)
    return by_op


def span_cover(calls: list[Call]) -> float:
    """Share of each client's busy time, from its first op's start to
    its last op's end, that the ops' construct and fetch spans cover."""
    busy: dict[int, tuple[float, float]] = {}
    for c in calls:
        lo, hi = busy.get(c.client, (c.start, c.end))
        busy[c.client] = (min(lo, c.start), max(hi, c.end))
    total = sum(hi - lo for lo, hi in busy.values())
    return sum(c.end - c.start for c in calls) / total if total else 0.0


def run(bench: Bench, args: argparse.Namespace) -> tuple[dict, dict]:
    """One benchmark run; returns (detail, result)."""
    import bench as repo_bench  # the repo's bench.py, for its host probe

    w = bench.workload
    bench.setup()
    t = time.perf_counter()
    warm = bench.warmup()
    bench.layers["warmup_s"] = time.perf_counter() - t
    setup_s = process_age_s()
    # An untimed serial pass, whose results are checked like measured ones:
    # after one warm-up pass every op still runs about a quarter slower
    # than it will a pass later, while the JIT compiles its paths.
    t = time.perf_counter()
    later = bench.run_clients(pass_order(w.ops, args.seed, -1), 1)
    settle_s = time.perf_counter() - t
    # The host probe takes about 3 s a call, so only traced runs, which
    # report it, pay for it.
    calib = [repo_bench.calibrate(bench.spark)] if args.trace else []
    ticks = cpu_ticks()
    m = bench.measure()
    stolen, total = (b - a for a, b in zip(ticks, cpu_ticks()))
    later += m["calls"]
    if args.trace:
        bench.tracer = Tracer(bench.spark)
        traced = bench.measure()
        spans, sums = bench.tracer.collect(traced["timed"])
        bench.tracer.close()
        bench.tracer = None
        calib.append(repo_bench.calibrate(bench.spark))
        later += traced["calls"]
    rss = bench.peak_rss_mb()

    t = time.perf_counter()
    failures = bench.check(warm, later)
    check_s = time.perf_counter() - t
    attempted = len(warm) + len(later)
    pass_s = m["pass_s"]
    # each op's median latency, so that one slow pass moves no percentile
    by_op = op_latencies(m["timed"])
    lat = sorted(statistics.median(v) for v in by_op.values())
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "fixtures": os.path.basename(os.path.normpath(args.sf_dir)),
        "ops_per_pass": len(w.ops),
        "clients": w.clients,
        "pass_times_s": [round(t, 3) for t in m["pass_times"]],
        "op_latency_s": {
            "p50": statistics.median(lat),
            "p90": (statistics.quantiles(lat, n=10, method="inclusive")[-1]
                    if len(lat) > 1 else lat[0]),
            "ops": len(lat),
            "calls": len(m["timed"]),
        },
        "op_times_s": {op: [round(t, 3) for t in v] for op, v in sorted(by_op.items())},
        "failed_frac": len(failures) / attempted,
        "failures": failures[:5],
        "setup_parts_s": {k: round(bench.layers[k], 3) for k in (
            "registry.import_s", "session.get_spark_s", "io.load_table_s", "warmup_s")},
        "settle_s": round(settle_s, 3),
        # CPU time the hypervisor gave to other guests while this run
        # measured: on a shared host a few percent of it slows these
        # short, handoff-bound ops by a quarter or more
        "host_steal_frac": stolen / total if total else 0.0,
        "check_s": round(check_s, 3),
    }
    if args.trace:
        metrics = dict(bench.layers)
        metrics.update(layer_metrics(sums, len(w.ops), traced["wall"], CPUS))
        metrics["host.calib_s"], metrics["host.calib_end_s"] = calib
        metrics["trace.overhead_s"] = traced["pass_s"] - pass_s
        metrics["trace.span_cover_frac"] = span_cover(traced["calls"])
        if sums["streaming.triggers"]:
            detail["not_covered"] = {
                "exec.*": "micro-batch jobs run on the stream's thread, outside the "
                          "call's job group; they are counted in streaming.*",
            }
        path = os.path.join(BUILD, "trace", f"{args.workload}-seed{args.seed}.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"detail": detail, "layers": metrics, "spans": spans}, fh)
        detail["trace_file"] = os.path.relpath(path, ROOT)
        units = LAYER_UNITS
    else:
        metrics = {
            "setup_s": setup_s,
            "pass_s": pass_s,
            "ops_per_min": len(w.ops) * 60 / pass_s,
            "peak_rss_mb": rss,
        }
        units = E2E_UNITS
    result = {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    return detail, result


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    for need in (os.path.join(ROOT, "pymapreduce_spark", "__init__.py"),
                 os.path.join(ROOT, "bench.py"),
                 os.path.join(args.sf_dir, "lineitem.parquet")):
        if not os.path.isfile(need):
            print(f"perfbench: missing {need}", file=sys.stderr)
            return 2
    prepare_environment()
    bench = Bench(args)
    start_watchdog(bench)
    try:
        detail, result = run(bench, args)
    finally:
        bench.shutdown()
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
