#!/usr/bin/env python3
"""Benchmark the engine on one workload and print its metrics.

    python3 perfbench/run.py --workload olap_short --seed 1 --seconds 5 --trace 0

Run from the repository root. One process, one Spark driver on
``local[<cores>]``, one closed loop: each call is issued only after the
previous one returned. A run:

1. generates the input tables under ``.perfbench/`` from a fixed data
   seed (the workload seed only orders calls and picks stream arrivals);
2. sets up once, cold, and reports it as ``setup_s``: the time from
   process start, less input generation, until the Spark session is
   up, the workload's tables are opened and its lake caches or indexes
   are built;
3. makes one untimed warm-up pass that checks every batch result
   against its registry DuckDB oracle (a stream workload makes one
   plain ingest pass), then a fixed number of untimed warm passes so
   that the JIT has compiled the engine's hot paths before timing;
4. makes timed passes, each in a new seeded order: as many as fill
   ``--seconds`` at the workload's nominal pass time, rounded up to an
   odd number and at least 3, so that every run times the same work
   and each call's median drops its outlying passes;
5. with ``--trace 1``, follows every timed pass with a traced one --
   Spark's event log attached, a job group per call -- and reports the
   per-layer metrics instead of the end-to-end ones.

The last stdout line is the result JSON with exactly the metrics named
in ``BENCHMARK.json``; the line before it is the run record (cores,
commit, load average, calibration probe, sample counts, every layer
value measured).
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import eventlog  # noqa: E402
import workloads  # noqa: E402

SF = 0.001
DATA_SEED = 42
CAL_ROWS = 10_000_000

# Gated metrics. CPU time is not charged while the hypervisor runs
# other guests; wall time is, and on a shared host it swung by up to
# 1.8x for minutes at a time, so the wall-clock pass figures are only
# recorded.
END_TO_END = {
    "setup_s": "s",
    "cpu_s": "s",
}
# A timed pass is replaced when the hypervisor stole more than this
# share of the machine's CPU time during it (calm passes read under 1%),
# at most EXTRA_PASSES times in a run.
STEAL_MAX = 0.02
EXTRA_PASSES = 1
FAMILY_METRICS = ("stages", "executor_cpu_s", "sched_delay_s", "shuffle_write_mb")


def _unit(metric: str) -> str:
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("_mb"):
        return "MB"
    return "count"


def _per_layer() -> dict[str, str]:
    units = {
        "session.start_s": "s",
        "session.warmup_s": "s",
        **{f"sources.layout.build_s.{k}": "s" for w in workloads.GATED for k in workloads.CACHE_BUILDS[w]},
        "sources.layout.disk_mb": "MB",
        "catalog.scan_s": "s",
        "catalog.rows_per_s": "1/s",
        "registry.call_s": "s",
        "registry.plan_s": "s",
        "registry.exec_s": "s",
        "registry.accounted_frac": "ratio",
    }
    units |= {f"eventlog.{m}": _unit(m) for m in eventlog.METRICS}
    families = sorted({workloads.FAMILY[q] for w in workloads.GATED for q in workloads.BATCH[w]})
    for fam in families:
        units |= {f"{fam}.{m}": _unit(m) for m in FAMILY_METRICS}
    units["trace.overhead"] = "ratio"
    return units


# The per-layer metrics the result line carries: the layers the gated
# workloads exercise. A run records every other layer it measures (the
# fit/sig caches, stream stores, other module families) in its run record.
PER_LAYER = _per_layer()


# --- process measurements ----------------------------------------------------


def _cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def _process_start() -> float:
    """Wall-clock time at which this process started."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def _jvm_cpu_s(pid: int) -> float:
    """User+sys CPU seconds the JVM has used, from /proc/<pid>/stat."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def _peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _geomean(xs) -> float:
    return math.exp(statistics.fmean(math.log(x) for x in xs)) if xs else 0.0


def _driver_memory() -> str:
    """Driver heap that fits the machine: a quarter of RAM, 1-4 GiB."""
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    return f"{max(1024, min(4096, total_kb // 4096))}m"


def _engine_fingerprint() -> str:
    """Hash of the engine sources, so a record names its code without git."""
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(ROOT, "mathorcup_spark", "**", "*.py"), recursive=True)):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
    except OSError:
        return None
    return out.stdout.strip() or None


def _acc() -> dict:
    """Accumulator for a series of passes."""
    return {
        "pass_s": [],
        "cpu_s": [],
        "calls": {},
        "call_s": 0.0,
        "plan_s": 0.0,
        "exec_s": 0.0,
        "layer": {},
    }


def _merge(dst: dict, src: dict) -> None:
    """Add one pass's accumulator to a series' accumulator."""
    for k in ("pass_s", "cpu_s"):
        dst[k] += src[k]
    for k in ("call_s", "plan_s", "exec_s"):
        dst[k] += src[k]
    for name, walls in src["calls"].items():
        dst["calls"].setdefault(name, []).extend(walls)
    for k, v in src["layer"].items():
        # a store's file count is a level; the other layer values add up
        dst["layer"][k] = v if k.endswith(".files") else dst["layer"].get(k, 0.0) + v


def _key_medians(calls: dict[str, list[float]]) -> list[float]:
    """Each call key's median over the passes. With an odd number of
    passes, at least 3, it drops the slowest and fastest ones: a burst
    of host noise slows whole passes, and the JIT still compiles now
    and then."""
    return [_median(walls) for walls in calls.values()]


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def tail_percentile(xs: list[float]) -> tuple[int, float]:
    """Highest whole percentile with at least ten samples above it."""
    n = len(xs)
    if n < 11:
        return 0, max(xs, default=0.0)
    p = math.floor(100 * (n - 10) / n)
    return p, statistics.quantiles(xs, n=100, method="inclusive")[p - 1]


# --- oracle check ------------------------------------------------------------


def _norm_cell(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    if isinstance(v, list):
        return tuple(_norm_cell(x) for x in v)
    return v


def norm_rows(cols, rows):
    """Order-insensitive normal form of a result, as tools/driver_check.py
    compares them: columns by name, rows sorted, floats to 9 places."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted((tuple(_norm_cell(r[i]) for i in idx) for r in rows), key=repr)


# --- the run -----------------------------------------------------------------


class Run:
    def __init__(self, args, work: str, t_start: float):
        self.args = args
        self.work = work
        self.t_start = t_start
        self.spark = None
        self.stream = None
        self.failed = 0
        self.attempted = 0
        self.errors: list[str] = []
        self.layer: dict[str, float] = {}
        self.cpus = len(os.sched_getaffinity(0))
        self.data_dir = os.path.join(work, "data")
        self.record: dict = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "cores": self.cpus,
            "driver_memory": _driver_memory(),
            "commit": _commit(),
            "engine_sha256": _engine_fingerprint(),
            "sf": SF,
            "load_before": os.getloadavg(),
        }
        self.steal0 = _cpu_steal()

    def _fail(self, msg: str) -> None:
        self.failed += 1
        self.errors.append(msg)
        print(f"perfbench: FAIL {msg}", file=sys.stderr)

    # set-up ------------------------------------------------------------

    def _conf(self) -> dict[str, str]:
        return {
            "spark.driver.memory": self.record["driver_memory"],
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} -Xlog:disable"
            ),
        }

    def setup(self, datagen_s: float) -> float:
        """Set up once, cold; return its seconds.

        Counted from process start, less input generation: interpreter
        and imports, JVM and Spark session start, opening the workload's
        tables, and building its lake caches or indexes. A later call
        pays none of this, so it is all a user waits for before the
        first query.
        """
        from mathorcup_spark.catalog import load
        from mathorcup_spark.session import get_spark

        w = self.args.workload
        t0 = self.t_start + datagen_s
        self.spark = get_spark("perfbench", cpus=self.cpus, extra_conf=self._conf())
        self.layer["session.start_s"] = time.time() - t0
        t = time.perf_counter()
        for table in workloads.TABLES[w]:
            load(self.spark, self.data_dir, table).schema
        self.record["catalog_open_s"] = time.perf_counter() - t
        builds = dict(workloads.CACHE_BUILDS[w])
        if self.stream is not None:
            builds |= self.stream.store_builds()
        for key, fn in builds.items():
            t = time.perf_counter()
            fn(self.spark, self.data_dir)
            name = f"sources.layout.build_s.{key}" if key in workloads.CACHE_BUILDS[w] else f"sources.{key}.build_s"
            self.layer[name] = time.perf_counter() - t
        setup_s = time.time() - t0
        cache = os.environ["SPARK_GRAFT_CACHE_DIR"]
        self.layer["sources.layout.disk_mb"] = workloads.tree_stats(cache)[1] / 1e6
        return setup_s

    def calibrate(self) -> float:
        """Fixed JVM CPU probe, median of 3 -- run metadata, never a gate."""
        times = []
        for _ in range(3):
            t = time.perf_counter()
            self.spark.range(0, CAL_ROWS, 1, 4 * self.cpus).selectExpr(
                "count_if(xxhash64(id) % 1000000 = 0)"
            ).collect()
            times.append(time.perf_counter() - t)
        return _median(times)

    # batch workloads ---------------------------------------------------

    def warm_and_check(self, names) -> dict[str, int]:
        """Call each query once, collect it, compare with its DuckDB oracle.

        Returns each query's checked row count; timed calls must match it.
        """
        import duckdb

        from mathorcup_spark import registry
        from mathorcup_spark.catalog import TABLES

        fns, oracles = registry.queries(), registry.oracles()
        duck = duckdb.connect()
        for t in TABLES:
            duck.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.data_dir}/{t}.parquet')"
            )
        rows, warm = {}, 0.0
        self.record["check_s"] = check_s = {}
        for name in names:
            self.attempted += 1
            try:
                t = time.perf_counter()
                df = fns[name](self.spark, self.data_dir)
                got = [tuple(r) for r in df.collect()]
                t1 = time.perf_counter()
                warm += t1 - t
                res = duck.execute(oracles[name])
                check_s[name] = (t1 - t, time.perf_counter() - t1)
                want_cols = [d[0] for d in res.description]
                ok = sorted(df.columns) == sorted(want_cols) and norm_rows(
                    df.columns, got
                ) == norm_rows(want_cols, res.fetchall())
            except Exception:
                self._fail(f"{name}: warm-up raised\n{traceback.format_exc()}")
                continue
            if not ok:
                self._fail(f"{name}: result differs from its DuckDB oracle")
            rows[name] = len(got)
        duck.close()
        self.layer["session.warmup_s"] = warm
        return rows

    def batch_pass(self, names, rows, rng, out, trace) -> None:
        """One closed-loop pass over ``names`` in a seeded order.

        A call is the query function (``call_s``) plus ``count()``
        (``exec_s``); traced calls first force the executed plan
        (``plan_s``) under a job group named after the query.
        """
        from mathorcup_spark import registry

        fns = registry.queries()
        sc = self.spark.sparkContext
        for name in [names[i] for i in rng.permutation(len(names))]:
            self.attempted += 1
            if trace:
                sc.setJobGroup(name, name)
            try:
                t0 = time.perf_counter()
                df = fns[name](self.spark, self.data_dir)
                t1 = time.perf_counter()
                if trace:
                    df._jdf.queryExecution().executedPlan()
                t2 = time.perf_counter()
                n = df.count()
                t3 = time.perf_counter()
            except Exception:
                self._fail(f"{name}: raised\n{traceback.format_exc()}")
                continue
            out["calls"].setdefault(name, []).append(t3 - t0)
            out["call_s"] += t1 - t0
            out["plan_s"] += t2 - t1
            out["exec_s"] += t3 - t2
            if n != rows.get(name):
                self._fail(f"{name}: count {n} != checked row count {rows.get(name)}")
        if trace:
            sc.setJobGroup(None, None)

    def stream_pass(self, out, _trace) -> None:
        """One full ingest pass: every loop over every arrival."""
        self.attempted += 1
        for key, wall in self.stream.run_pass(self.spark, out["layer"]):
            out["calls"].setdefault(key, []).append(wall)

    def measure(self, one_pass, seconds: float, trace: bool):
        """Untimed warm passes (``workloads.WARM_PASSES``), then timed
        passes: ``seconds`` worth at the workload's nominal pass time
        (``workloads.PASS_S``), rounded up to an odd count, at least 3.

        A timed pass during which the hypervisor gave more than
        ``STEAL_MAX`` of the machine's CPU time to other guests is
        replaced by one more, at most ``EXTRA_PASSES`` times; the run
        then keeps the least disturbed passes. On the shared VM the
        bounds were set on, such stretches made calls up to 1.8 times as
        slow and lasted from seconds to minutes.

        With ``trace``, every untraced pass is followed by a traced one,
        so both kinds see the same JVM warm-up. Returns (untraced,
        traced, event-log paths).
        """
        untraced, traced, logs = _acc(), _acc(), []
        t = time.perf_counter()
        for _ in range(workloads.WARM_PASSES[self.args.workload]):
            one_pass(_acc(), False)
        self.record["warm_passes_s"] = time.perf_counter() - t
        n = max(3, math.ceil(seconds / workloads.PASS_S[self.args.workload])) | 1
        passes, made = [], 0
        while sum(p[0] <= STEAL_MAX for p in passes) < n and made < n + EXTRA_PASSES:
            made += 1
            timed = self._timed(one_pass, False)
            if timed:
                passes.append(timed)
            if trace:
                listener, log_dir = self._attach_event_log(len(logs))
                try:
                    _merge(traced, (self._timed(one_pass, True) or (0.0, _acc()))[1])
                finally:
                    logs.append(self._detach_event_log(listener, log_dir))
        kept = sorted(sorted(range(len(passes)), key=lambda i: passes[i][0])[:n])
        for i in kept:
            _merge(untraced, passes[i][1])
        self.record["timed_passes"] = [
            {"steal": steal, "wall_s": out["pass_s"][0], "kept": i in kept}
            for i, (steal, out) in enumerate(passes)
        ]
        return untraced, traced, logs

    def _timed(self, one_pass, trace):
        """One pass into a fresh accumulator; (steal share, accumulator),
        or None if it raised."""
        out = _acc()
        steal0, cpu0, t = _cpu_steal(), _jvm_cpu_s(self.jvm_pid), time.perf_counter()
        try:
            one_pass(out, trace)
        except Exception:
            self._fail(f"pass raised\n{traceback.format_exc()}")
            return None
        out["pass_s"].append(time.perf_counter() - t)
        out["cpu_s"].append(_jvm_cpu_s(self.jvm_pid) - cpu0)
        steal = _cpu_steal()
        return (steal[0] - steal0[0]) / max(1, steal[1] - steal0[1]), out

    # traced phase ------------------------------------------------------

    def _attach_event_log(self, i: int):
        """Attach Spark's event-log listener -- the one
        ``spark.eventLog.enabled`` installs at start-up -- to the live
        context, uncompressed, in a run-local directory."""
        sc = self.spark.sparkContext
        jsc, jvm = sc._jsc.sc(), sc._jvm
        log_dir = os.path.join(self.work, "eventlog", str(i))
        os.makedirs(log_dir, exist_ok=True)
        conf = (
            jsc.conf()
            .clone()
            .set("spark.eventLog.compress", "false")
            .set("spark.eventLog.rolling.enabled", "false")
        )
        listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            jsc.applicationId(),
            jvm.scala.Option.empty(),
            jvm.java.net.URI("file://" + log_dir),
            conf,
            jsc.hadoopConfiguration(),
        )
        listener.start()
        jsc.addSparkListener(listener)
        return listener, log_dir

    def _detach_event_log(self, listener, log_dir) -> str:
        self.spark.sparkContext._jsc.sc().removeSparkListener(listener)
        listener.stop()
        (path,) = glob.glob(os.path.join(log_dir, "*"))
        return path

    def catalog_scans(self, tables) -> None:
        """Full noop-sink scan of each table, median of 3."""
        from mathorcup_spark.catalog import load

        scan_s, rows = 0.0, 0
        for t in tables:
            df = load(self.spark, self.data_dir, t)
            times = []
            for _ in range(3):
                s = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                times.append(time.perf_counter() - s)
            scan_s += _median(times)
            rows += df.count()
        self.layer["catalog.scan_s"] = scan_s
        self.layer["catalog.rows_per_s"] = rows / scan_s

    def trace_layers(self, traced: dict, untraced: dict, logs: list[str]) -> None:
        """Per-pass layer values from the traced passes and their event logs."""
        n = len(traced["pass_s"])
        groups, _stages = eventlog.reduce(logs)
        totals = dict.fromkeys(eventlog.METRICS, 0.0)
        fams: dict[str, dict[str, float]] = {}
        for group, g in groups.items():
            # stream call groups are "<module>.<timer>_s"
            fam = workloads.FAMILY.get(group) or group.rsplit(".", 1)[0] or "ungrouped"
            acc = fams.setdefault(fam, dict.fromkeys(FAMILY_METRICS, 0.0))
            for m in eventlog.METRICS:
                totals[m] += g[m]
            for m in FAMILY_METRICS:
                acc[m] += g[m]
        self.layer |= {f"eventlog.{m}": v / n for m, v in totals.items()}
        for fam, ms in fams.items():
            self.layer |= {f"{fam}.{m}": v / n for m, v in ms.items()}
        pass_s = _median(traced["pass_s"])
        self.layer["trace.overhead"] = pass_s / _median(untraced["pass_s"])
        if self.stream is None:
            for k in ("call_s", "plan_s", "exec_s"):
                self.layer[f"registry.{k}"] = traced[k] / n
            frac = (traced["call_s"] + traced["plan_s"] + traced["exec_s"]) / sum(traced["pass_s"])
            self.layer["registry.accounted_frac"] = frac
            if frac < 0.9:
                self._fail(f"registry calls account for {frac:.1%} of pass time (< 90%)")
        else:
            self.layer |= self.stream.layers(traced["layer"], n, pass_s)

    # main --------------------------------------------------------------

    def execute(self) -> dict:
        import numpy as np

        args = self.args
        t = time.perf_counter()
        datagen.write(self.data_dir, SF, DATA_SEED)
        if args.workload == "stream_ingest":
            self.stream = workloads.StreamIngest(
                self.data_dir, os.path.join(self.work, "stream"), args.seed
            )
        datagen_s = time.perf_counter() - t
        setup_s = self.setup(datagen_s)
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid
        self.record["calibration_s"] = self.calibrate()

        rng = np.random.default_rng(args.seed)
        if self.stream is None:
            names = list(workloads.BATCH[args.workload])
            rows = self.warm_and_check(names)
            one_pass = lambda out, trace: self.batch_pass(names, rows, rng, out, trace)  # noqa: E731
        else:
            t = time.perf_counter()
            self.stream_pass(_acc(), False)
            self.layer["session.warmup_s"] = time.perf_counter() - t
            one_pass = self.stream_pass
        untraced, traced, logs = self.measure(one_pass, args.seconds, bool(args.trace))
        if args.trace:
            self.catalog_scans(workloads.TABLES[args.workload])
            if traced["pass_s"] and untraced["pass_s"]:
                self.trace_layers(traced, untraced, logs)
            if args.keep_eventlog:
                os.makedirs(args.keep_eventlog, exist_ok=True)
                # one log per traced pass, all named after the application
                for i, path in enumerate(logs):
                    shutil.copy(path, os.path.join(args.keep_eventlog, f"pass{i}.log"))
        if self.stream is not None:
            self.attempted += 1
            for msg in self.stream.check(self.spark):
                self._fail(msg)

        calls = untraced["calls"]
        walls = [w for ws in calls.values() for w in ws]
        steal = _cpu_steal()
        p, tail = tail_percentile(walls)
        self.record |= {
            "datagen_s": datagen_s,
            "passes": len(untraced["pass_s"]),
            "pass_wall_s": untraced["pass_s"],
            "pass_cpu_s": untraced["cpu_s"],
            "calls": len(walls),
            # wall-clock figures, recorded but not gated (README.md has why)
            "pass_s": sum(_key_medians(calls)),
            "call_geomean_s": _geomean(_key_medians(calls)),
            "call_p50_s": _median(walls),
            f"call_p{p}_s": tail,
            "call_wall_s": calls,
            "peak_rss_mb": _peak_rss_mb(self.jvm_pid),
            "load_after": os.getloadavg(),
            # share of the machine's CPU time the hypervisor gave to others
            "steal_frac": (steal[0] - self.steal0[0]) / max(1, steal[1] - self.steal0[1]),
            "layers": self.layer,
            "errors": [e.splitlines()[0] for e in self.errors[:20]],
        }
        if args.trace:
            units, values = PER_LAYER, self.layer
        else:
            units = END_TO_END
            values = {
                "setup_s": setup_s,
                # CPU adds up, and the JIT's work comes in bursts that
                # land in any pass: the mean over the passes evens them out
                "cpu_s": statistics.fmean(untraced["cpu_s"]),
            }
        return {
            "correct": self.failed == 0 and bool(untraced["pass_s"]),
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {
                k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in units.items()
            },
        }

    def close(self) -> None:
        """Stop Spark and wait for the JVM (and its Python workers) to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--keep-eventlog",
        metavar="DIR",
        help="with --trace 1, copy the event logs here (for perfbench/eventlog.py)",
    )
    return ap.parse_args(argv)


def main(argv=None) -> int:
    t_start = _process_start()
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "mathorcup_spark")):
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    for sub in ("tmp", "cache", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # every temporary file of the engine, Spark and the JVM stays in ``work``
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_GRAFT_CACHE_DIR"] = os.path.join(work, "cache")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    run = Run(args, work, t_start)
    os.environ["SPARK_GRAFT_CPUS"] = str(run.cpus)
    try:
        result = run.execute()
    finally:
        run.close()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(run.record))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
