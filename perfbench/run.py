#!/usr/bin/env python3
"""Layered benchmark of the magmapandas_spark engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --workload all          # every workload, summary

Run from the repository root. One run:

1. builds the input tables once per checkout (``perfbench/datagen.py``,
   fixed data seed) under ``.bench_build/perfbench/``;
2. sets up: starts the session (driver JVM, SparkContext) and, for UDF
   workloads, the Python worker pool, loads the query registry, then
   builds the workload's shared inputs three times (set-up counts the
   median);
3. runs one untimed warm-up pass that checks every output, against the
   stored hashes in ``expected.json`` or, for ``stream_ingest``, against
   the batch twin of each sketch state;
4. runs timed passes, each in the seed's order, until ``--seconds`` have
   passed and the workload's count of passes is done (whole passes),
   timing each pass and each item in CPU and wall seconds;
5. prints, as its last line, ``{"correct", "attempted", "failed",
   "metrics"}``: the end-to-end metrics untraced, the per-layer metrics
   with ``--trace 1``. The full record, with host context, goes to
   stderr and to ``.bench_build/perfbench/records/``.

With ``--trace 1`` timed passes run untraced and traced in U T T U order
(at least two of each), and the difference of their medians is reported
as ``trace.overhead_s``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

import check
import layers
import workloads

SF = 0.005
SETUP_REPS = 3
# traced and untraced passes of a --trace 1 run (U T T U order)
TRACE_PASSES = 2
# A pass gives 6-8 (item, pass) samples: the 90th percentile is the
# highest that leaves one beyond it, and lies within the slowest item's
# samples rather than across the gap between two items.
TAIL_PCT = 90
DEADLINE_S = 170
INGEST_TIMEOUT_S = 60

# Bounded metrics are CPU seconds of the whole process tree (driver
# Python, driver JVM, Python workers) less JIT compilation: on a shared
# host the wall time of the same run swings by half with other tenants'
# load, CPU time by a few percent. Wall times are reported per layer
# (``wall.*``) and in the record.
END_TO_END = {
    "setup_s": "s",
    "pass_cpu_s": "s",
    "query_cpu_tail_s": "s",
    "peak_rss_mb": "MB",
}
KERNELS = ("oneill2006_np", "armstrong2019_np", "deng2020_np",
           "iterate_kd_np", "mixed_saturation_np",
           "allison_mixed_saturation_np")
EXEC = {"wall_s": "s", "jobs": "count", "stages": "count",
        "stage_reuse": "ratio", "cpu_s": "s", "run_s": "s",
        "cpu_util": "ratio", "shuffle_read_mb": "MB",
        "shuffle_write_mb": "MB", "spill_mb": "MB", "input_mb": "MB",
        "output_mb": "MB"}
# summed over the items of one traced pass
PASS_LAYER = {
    "relational.build_s": "s",
    "relational.build_jobs": "count",
    "pyworker.run_s": "s",
    "pyworker.init_s": "s",
    "pyworker.sent_mb": "MB",
    "pyworker.returned_mb": "MB",
    "plan.analysis_ms": "ms",
    "plan.optimization_ms": "ms",
    "plan.planning_ms": "ms",
    **{f"exec.{k}": u for k, u in EXEC.items()},
    "streaming.batches": "count",
    "streaming.jobs": "count",
    "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.state_mb": "MB",
}
# The median query sits between two of a workload's three or four
# queries and moves 15-20% from run to run: reported here, unbounded.
PER_LAYER = {
    "cpu.query_p50_s": "s",
    "wall.setup_s": "s",
    "wall.pass_s": "s",
    "wall.query_p50_s": "s",
    "wall.query_tail_s": "s",
    "session.start_s": "s",
    "relational.registry_s": "s",
    "core.melt_s": "s",
    **{f"models.{k}.rows_per_s": "1/s" for k in KERNELS},
    **PASS_LAYER,
    "streaming.batch_p50_ms": "ms",
    "trace.overhead_s": "s",
    "counts.unstable": "count",
}

T_PROC = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_PROC:6.1f}s] {msg}",
          file=sys.stderr, flush=True)


def percentile(values: list[float], pct: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    pos = (len(xs) - 1) * pct / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def source_digest(root: str, packages=("magmapandas_spark",)) -> str:
    """SHA-256 over the Python sources of ``packages`` (the checkout the
    benchmark runs in is not always a git repository)."""
    h = hashlib.sha256()
    for d, _dirs, files in sorted(
            w for pkg in packages for w in os.walk(os.path.join(root, pkg))):
        for fn in sorted(f for f in files if f.endswith(".py")):
            path = os.path.join(d, fn)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def git_commit(root: str) -> str | None:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None if out.returncode == 0 else None


def cpu_steal_s() -> float:
    """Host-wide CPU time stolen by the hypervisor so far (Linux)."""
    try:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def prepare_env(build: str) -> None:
    """Keep every file Spark, the JVMs and Python workers write inside
    the build directory, and quiet the console. The driver heap is
    fixed (``-Xms`` = ``-Xmx``) so its resident size does not follow
    the collector's resizing decisions from run to run."""
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    os.environ.setdefault("SPARK_DRIVER_MEM", "1g")
    tmp = os.path.join(build, "tmp")
    conf = os.path.join(build, "conf")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(conf, exist_ok=True)
    with open(os.path.join(conf, "spark-defaults.conf"), "w") as fh:
        fh.write(f"spark.local.dir {tmp}\n"
                 "spark.driver.extraJavaOptions "
                 f"-Djava.io.tmpdir={tmp} "
                 f"-Xms{os.environ['SPARK_DRIVER_MEM']}\n"
                 "spark.ui.showConsoleProgress false\n")
    with open(os.path.join(conf, "log4j2.properties"), "w") as fh:
        fh.write("rootLogger.level = error\n"
                 "rootLogger.appenderRef.stderr.ref = console\n"
                 "appender.console.type = Console\n"
                 "appender.console.name = console\n"
                 "appender.console.target = SYSTEM_ERR\n"
                 "appender.console.layout.type = PatternLayout\n"
                 "appender.console.layout.pattern = %d %p %c{1}: %m%n\n")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_CONF_DIR"] = conf
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # no hsperfdata files under /tmp from the launcher or driver JVMs; a
    # fixed set of JIT compiler threads (see layers.tree_cpu_s)
    os.environ["JAVA_TOOL_OPTIONS"] = (
        "-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads")


def ensure_data(build: str) -> str:
    import datagen

    data = os.path.join(build, f"data-sf{SF}-seed{datagen.DATA_SEED}")
    if not os.path.isdir(data):
        shutil.rmtree(data + ".tmp", ignore_errors=True)
        t0 = time.perf_counter()
        datagen.write(data, SF)
        log(f"generated tables in {time.perf_counter() - t0:.1f}s: {data}")
    return data


class Bench:
    """One run of one workload: owns the Spark session, the counters
    and every reading the run reports."""

    def __init__(self, args, root: str, build: str, data: str):
        self.args = args
        self.root = root
        self.build = build
        self.data = data
        self.w = workloads.WORKLOADS[args.workload]
        self.cores = int(os.environ["SPARK_GRAFT_CPUS"])
        self.stream_dir = os.path.join(build, "stream", f"run-{os.getpid()}")
        self.stream_src: dict[str, str] = {}
        self.spark = None
        self.status = None
        self.qmap: dict = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.verdicts: dict[str, str] = {}
        self.layer: dict[str, list[float]] = {}
        self.counts: dict[str, dict[str, list[float]]] = {}
        self.unavailable: dict[str, str] = {}
        self.flags: list[str] = []
        self.pid = os.getpid()
        # untraced timed passes: wall and CPU seconds per pass, and per
        # (item, pass) sample
        self.passes: list[float] = []
        self.pass_cpu: list[float] = []
        self.samples: list[float] = []
        self.cpu_samples: list[float] = []
        self.item_times: dict[str, list[float]] = {}
        self.item_cpu: dict[str, list[float]] = {}
        self.traced_passes: list[float] = []
        self.pass_layers: list[dict[str, float]] = []
        self.batch_ms: list[float] = []
        self.cur: dict[str, float] = {}

    def cpu(self) -> float:
        """CPU seconds used so far by this process and its descendants
        (driver JVM, Python daemon and workers)."""
        return layers.tree_cpu_s(self.pid)

    # -- session --------------------------------------------------------

    def new_session(self):
        from magmapandas_spark.session import get_spark

        spark = get_spark(app_name=f"perfbench-{self.w.name}")
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session, then the driver JVM, and wait for it."""
        from pyspark import SparkContext

        self.stop_session()
        shutil.rmtree(self.stream_dir, ignore_errors=True)
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                proc.wait(timeout=60)

    # -- set-up ---------------------------------------------------------

    def warm_pool(self) -> None:
        """Start the Python worker pool: one task per core."""

        def _identity(it):
            yield from it

        self.spark.range(0, 256, 1, self.cores).mapInPandas(
            _identity, "id long").write.format("noop").mode(
            "overwrite").save()

    def prepare_inputs(self) -> float:
        """The repeatable part of set-up: warm the parquet read path and
        rebuild the workload's shared inputs (persisted melt, staged
        stream files). Returns the melt build time."""
        from magmapandas_spark.relational import suite

        spark = self.spark
        spark.read.parquet(f"{self.data}/lineitem.parquet").groupBy(
            "l_returnflag").count().write.format("noop").mode(
            "overwrite").save()
        melt_s = 0.0
        if self.w.warm_melt:
            t0 = time.perf_counter()
            suite.reset_melt_cache(spark, self.data)
            suite.synthetic_melt(spark, self.data).df.write.format(
                "noop").mode("overwrite").save()
            melt_s = time.perf_counter() - t0
        if self.w.ingests:
            self.stage_stream_files()
        return melt_s

    def stage_stream_files(self) -> None:
        """Split each ingest input into seeded files (one micro-batch
        each under ``maxFilesPerTrigger=1``)."""
        import pyarrow.parquet as pq

        src_root = os.path.join(self.stream_dir, "src")
        shutil.rmtree(src_root, ignore_errors=True)
        for kind in self.w.ingests:
            ing = workloads.INGESTS[kind]
            t = pq.read_table(f"{self.data}/{ing.table}.parquet",
                              columns=list(ing.columns))
            d = os.path.join(src_root, kind)
            os.makedirs(d)
            parts = workloads.split_rows(t.num_rows, workloads.STREAM_FILES,
                                         self.args.seed)
            for i, idx in enumerate(parts):
                path = os.path.join(d, f"part-{i:05d}.parquet")
                pq.write_table(t.take(idx), path)
                # the file source orders new files by modification time
                os.utime(path, (1_000_000 + i, 1_000_000 + i))
            self.stream_src[kind] = d

    def setup(self) -> tuple[float, float]:
        """Returns the (CPU, wall) seconds of set-up: session start
        (driver JVM and SparkContext) + Python worker pool + registry
        load + the median of SETUP_REPS input set-ups."""
        c_start, t_start = self.cpu(), time.perf_counter()
        self.spark = self.new_session()
        start = time.perf_counter() - t_start
        self.layer["session.start_s"] = [start]
        t0 = time.perf_counter()
        if self.w.python_workers:
            self.warm_pool()
        pool = time.perf_counter() - t0

        t0 = time.perf_counter()
        from magmapandas_spark.relational import suite

        self.qmap = suite.queries()
        registry = time.perf_counter() - t0
        self.layer["relational.registry_s"] = [registry]

        # session, pool and registry happen once per process
        once_cpu = self.cpu() - c_start
        once_wall = time.perf_counter() - t_start

        reps, rep_cpu, melts = [], [], []
        for _ in range(SETUP_REPS):
            c0, t0 = self.cpu(), time.perf_counter()
            melts.append(self.prepare_inputs())
            reps.append(time.perf_counter() - t0)
            rep_cpu.append(self.cpu() - c0)
        self.layer["core.melt_s"] = melts
        if not self.w.warm_melt:
            self.unavailable["core.melt_s"] = "workload builds no melt"
        self.status = layers.StatusReader(self.spark)
        log(f"setup: session {start:.2f}s pool {pool:.2f}s registry "
            f"{registry:.2f}s inputs {[round(r, 2) for r in reps]}")
        return (once_cpu + statistics.median(rep_cpu),
                once_wall + statistics.median(reps))

    # -- one query / ingest ---------------------------------------------

    def run_query(self, name: str, traced: bool, tag: str) -> float:
        """Construct query ``name`` and run its full plan through a noop
        write. Returns construction plus execution time; when traced,
        the plan-phase reading between the two is not counted."""
        sc = self.spark.sparkContext
        if traced:
            sc.setJobGroup(f"pb-build-{tag}", name)
        t0 = time.perf_counter()
        df = self.qmap[name](self.spark, self.data)
        build_s = time.perf_counter() - t0
        if traced:
            phases = layers.plan_phases_ms(df)
            sc.setJobGroup(f"pb-exec-{tag}", name)
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        exec_s = time.perf_counter() - t0
        if traced:
            sc.setJobGroup("pb-idle", "between queries")
            self.trace_query(name, tag, build_s, exec_s, phases)
        return build_s + exec_s

    def run_ingest(self, kind: str, traced: bool, pass_no: int):
        """Ingest the staged files of ``kind`` into fresh state and
        checkpoint directories. Returns (wall time, state path)."""
        from magmapandas_spark.streaming import streams

        ing = workloads.INGESTS[kind]
        src = self.stream_src[kind]
        out = os.path.join(self.stream_dir, f"pass-{pass_no}", kind)
        state = os.path.join(out, "state.parquet")
        stream = self.spark.readStream.schema(
            self.spark.read.parquet(src).schema).option(
            "maxFilesPerTrigger", 1).parquet(src)
        t0 = time.perf_counter()
        q = getattr(streams, ing.function)(
            stream, state, os.path.join(out, "ckpt"),
            timeout_s=INGEST_TIMEOUT_S, **dict(ing.kwargs))
        wall_s = time.perf_counter() - t0
        if q.isActive or q.exception() is not None:
            q.stop()
            raise RuntimeError(f"ingest {kind} did not finish: "
                               f"{q.exception()}")
        if traced:
            self.trace_ingest(kind, q, state, wall_s)
        return wall_s, state

    def run_item(self, item: str, traced: bool, pass_no: int, i: int):
        if self.w.ingests:
            return self.run_ingest(item, traced, pass_no)[0]
        return self.run_query(item, traced, f"{pass_no}-{i}")

    # -- warm-up and timed passes -----------------------------------------

    def warmup_and_check(self, checker) -> None:
        """The untimed first pass, which checks every output once."""
        for item in workloads.pass_order(self.w.items, self.args.seed, 0):
            self.attempted += 1
            try:
                if self.w.ingests:
                    ok = self.check_ingest(item)
                else:
                    df = self.qmap[item](self.spark, self.data)
                    ok = checker.check(item, df.toPandas())
            except Exception:  # noqa: BLE001 - a failing query is a result
                ok = False
                self.errors.append(f"warm-up {item}: "
                                   + traceback.format_exc(limit=3))
            if not ok:
                self.failed += 1
                log(f"check FAILED: {item}")
        shutil.rmtree(os.path.join(self.stream_dir, "pass-0"),
                      ignore_errors=True)

    def check_ingest(self, kind: str) -> bool:
        """The folded stream state must equal the batch sketch over the
        whole input, exactly."""
        from magmapandas_spark.operators.quantiles import (
            fixed_histogram_relation,
        )
        from magmapandas_spark.operators.sketches import (
            cms_counter_relation,
            hll_register_relation,
        )
        from magmapandas_spark.operators.stats import (
            mergeable_stats_relation,
        )

        _, state = self.run_ingest(kind, False, 0)
        batch = self.spark.read.parquet(self.stream_src[kind])
        h = dict(workloads.HISTOGRAM)
        twin = {
            "hll": lambda b: hll_register_relation(b, "event_type",
                                                   "user_id"),
            "histogram": lambda b: fixed_histogram_relation(
                b, "event_type", "value", h["lo"], h["hi"], h["n_bins"]),
            "stats": mergeable_stats_relation,
            "cms": cms_counter_relation,
        }[kind](batch)
        got = check.value_hash(self.spark.read.parquet(state).toPandas())
        ok = got == check.value_hash(twin.toPandas())
        self.verdicts[kind] = f"{'pass' if ok else 'FAIL'} (batch twin)"
        return ok

    def run_pass(self, pass_no: int, traced: bool):
        """One pass in the seed's order. Returns (wall, CPU, [(item,
        wall, CPU)]); a raising item counts as failed and the pass goes
        on."""
        if traced:
            self.cur = dict.fromkeys([*PASS_LAYER, "exec.skipped"], 0.0)
        times = []
        p0, c0 = time.perf_counter(), self.cpu()
        order = workloads.pass_order(self.w.items, self.args.seed, pass_no)
        for i, item in enumerate(order):
            self.attempted += 1
            try:
                ci = self.cpu()
                t = self.run_item(item, traced, pass_no, i)
                times.append((item, t, self.cpu() - ci))
            except Exception:  # noqa: BLE001 - a failing query is a result
                self.failed += 1
                self.errors.append(f"pass {pass_no} {item}: "
                                   + traceback.format_exc(limit=3))
        elapsed, cpu = time.perf_counter() - p0, self.cpu() - c0
        shutil.rmtree(os.path.join(self.stream_dir, f"pass-{pass_no}"),
                      ignore_errors=True)
        if traced:
            self.pass_layers.append(self.cur)
        return elapsed, cpu, times

    def timed_passes(self) -> None:
        t_start = time.perf_counter()
        pass_no = 1
        while True:
            # traced passes in U T T U order, so a drift across passes
            # (JIT warm-up) does not read as tracing overhead
            traced = bool(self.args.trace) and pass_no % 4 in (2, 3)
            elapsed, cpu, times = self.run_pass(pass_no, traced)
            if traced:
                self.traced_passes.append(elapsed)
            else:
                self.passes.append(elapsed)
                self.pass_cpu.append(cpu)
                for item, t, c in times:
                    self.samples.append(t)
                    self.cpu_samples.append(c)
                    self.item_times.setdefault(item, []).append(round(t, 4))
                    self.item_cpu.setdefault(item, []).append(round(c, 2))
            log(f"pass {pass_no}{' traced' if traced else ''}: "
                f"{elapsed:.3f}s wall, {cpu:.2f}s CPU")
            pass_no += 1
            done = time.perf_counter() - t_start >= self.args.seconds
            if self.args.trace:
                done = done and min(len(self.passes),
                                    len(self.traced_passes)) >= TRACE_PASSES
            if done and len(self.passes) >= self.w.passes:
                break

    # -- tracing ----------------------------------------------------------

    def count(self, item: str, counter: str, value: float) -> None:
        self.counts.setdefault(item, {}).setdefault(counter, []).append(value)

    def trace_query(self, name, tag, build_s, wall_s, phases) -> None:
        st = self.status
        st.drain()
        build_jobs = st.jobs_in_group(f"pb-build-{tag}")
        exec_jobs = st.jobs_in_group(f"pb-exec-{tag}")
        ex = st.exec_totals(exec_jobs)
        self.cur["relational.build_s"] += build_s
        self.cur["relational.build_jobs"] += len(build_jobs)
        for k, v in phases.items():
            self.cur[f"plan.{k}"] += v
        for k, v in st.python_metrics(exec_jobs).items():
            self.cur[f"pyworker.{k}"] += v
        self.add_exec(ex, wall_s)
        self.count(name, "build_jobs", len(build_jobs))
        self.count(name, "exec_jobs", ex["jobs"])
        self.count(name, "exec_stages", ex["stages"])

    def trace_ingest(self, kind, q, state, wall_s) -> None:
        st = self.status
        st.drain()
        # micro-batch jobs run under the stream's own runId job group,
        # not the caller's
        jobs = st.jobs_in_group(str(q.runId))
        ex = st.exec_totals(jobs)
        prog = layers.stream_progress(q)
        self.add_exec(ex, wall_s)
        self.cur["streaming.jobs"] += len(jobs)
        for k in ("batches", "add_batch_ms", "wal_commit_ms",
                  "query_planning_ms"):
            self.cur[f"streaming.{k}"] += prog[k]
        self.cur["streaming.state_mb"] += sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(state) for f in fs) / layers.MB
        self.batch_ms.extend(prog["batch_ms"])
        self.count(kind, "stream_jobs", len(jobs))
        self.count(kind, "batches", prog["batches"])
        self.count(kind, "exec_stages", ex["stages"])

    def add_exec(self, ex: dict, wall_s: float) -> None:
        self.cur["exec.wall_s"] += wall_s
        for k in ("jobs", "stages", "skipped", "cpu_s", "run_s",
                  "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
                  "input_mb", "output_mb"):
            self.cur[f"exec.{k}"] += ex[k]

    # -- results ------------------------------------------------------------

    def end_to_end(self, setup_cpu_s: float) -> dict[str, float]:
        py_rss = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        return {
            "setup_s": setup_cpu_s,
            "pass_cpu_s": statistics.median(self.pass_cpu),
            "query_cpu_tail_s": percentile(self.cpu_samples, TAIL_PCT),
            "peak_rss_mb": self.status.jvm_peak_rss_mb() + py_rss,
        }

    def per_layer(self, setup_wall_s: float) -> dict[str, float]:
        out = {k: statistics.median(v) for k, v in self.layer.items()}
        out["cpu.query_p50_s"] = statistics.median(self.cpu_samples)
        out["wall.setup_s"] = setup_wall_s
        out["wall.pass_s"] = statistics.median(self.passes)
        out["wall.query_p50_s"] = statistics.median(self.samples)
        out["wall.query_tail_s"] = percentile(self.samples, TAIL_PCT)
        for key in self.pass_layers[0]:
            out[key] = statistics.median(p[key] for p in self.pass_layers)
        skipped = out.pop("exec.skipped")
        out["exec.stage_reuse"] = (skipped / out["exec.stages"]
                                   if out["exec.stages"] else 0.0)
        out["exec.cpu_util"] = (out["exec.cpu_s"]
                                / (out["exec.wall_s"] * self.cores)
                                if out["exec.wall_s"] else 0.0)
        out["streaming.batch_p50_ms"] = (statistics.median(self.batch_ms)
                                         if self.batch_ms else 0.0)
        batch = layers.melt_batch(f"{self.data}/lineitem.parquet")
        for k, v in layers.kernel_rates(batch).items():
            out[f"models.{k}.rows_per_s"] = v
        out["trace.overhead_s"] = (statistics.median(self.traced_passes)
                                   - statistics.median(self.passes))
        out["counts.unstable"] = float(len(self.unstable_counts()))
        if self.w.ingests:
            for k in PER_LAYER:
                if k.startswith(("plan.", "relational.build")):
                    self.unavailable[k] = ("ingests build no DataFrame "
                                           "query; see streaming.*")
        else:
            for k in PER_LAYER:
                if k.startswith("streaming."):
                    self.unavailable[k] = "workload runs no stream"
        if not out["pyworker.run_s"]:
            self.unavailable["pyworker.*"] = "no Python-evaluation node ran"
        return {k: out[k] for k in PER_LAYER}

    def unstable_counts(self) -> list[str]:
        """Counters that did not repeat exactly across this run's traced
        passes, or differ from the first traced run of this workload on
        the same engine and benchmark sources in this checkout (kept in
        ``counts-<workload>-<digest>.json``)."""
        key = source_digest(self.root, ("magmapandas_spark", "perfbench"))
        path = os.path.join(self.build, f"counts-{self.w.name}-{key}.json")
        first = {}
        if os.path.exists(path):
            with open(path) as fh:
                first = json.load(fh)
        mine = {}
        for item, counters in sorted(self.counts.items()):
            for counter, values in sorted(counters.items()):
                key = f"{item}.{counter}"
                mine[key] = values[0]
                if len(set(values)) > 1:
                    self.flags.append(f"{key}: {values} within run")
                elif key in first and first[key] != values[0]:
                    self.flags.append(f"{key}: {values[0]} vs {first[key]} "
                                      "in the first traced run")
        if not first:
            with open(path, "w") as fh:
                json.dump(mine, fh, indent=1, sort_keys=True)
        return self.flags

    def record(self, context: dict) -> dict:
        beyond = (sum(1 for s in self.cpu_samples
                      if s > percentile(self.cpu_samples, TAIL_PCT))
                  if self.cpu_samples else 0)
        return {
            **context,
            "passes": len(self.passes),
            "pass_times_s": [round(x, 4) for x in self.passes],
            "pass_cpu_s": [round(x, 2) for x in self.pass_cpu],
            "traced_pass_times_s": [round(x, 4)
                                    for x in self.traced_passes],
            "item_times_s": self.item_times,
            "item_cpu_s": self.item_cpu,
            "query_samples": len(self.samples),
            "query_tail_pct": TAIL_PCT,
            "query_tail_samples_beyond": beyond,
            "checks": self.verdicts,
            "unavailable": self.unavailable if self.args.trace else {},
            "unstable_counts": self.flags,
            "errors": self.errors,
        }


def run(args, root: str) -> int:
    build = os.path.join(root, ".bench_build", "perfbench")
    prepare_env(build)
    data = ensure_data(build)
    sys.path.insert(0, root)
    import pyspark

    load_before, steal_before = os.getloadavg(), cpu_steal_s()
    source_key = source_digest(root)
    b = Bench(args, root, build, data)
    # wall seconds since process start at the end of each phase
    phases = {"start": time.perf_counter() - T_PROC}
    try:
        setup_cpu_s, setup_wall_s = b.setup()
        phases["setup"] = time.perf_counter() - T_PROC
        checker = None
        if b.w.queries:
            shas = check.oracle_shas(
                os.path.join(build, "oracle-sql-sha256.json"), source_key)
            checker = check.OutputChecker(check.load_expected(), shas, SF,
                                          data)
            b.verdicts = checker.verdicts
        b.warmup_and_check(checker)
        phases["warm-up"] = time.perf_counter() - T_PROC
        log("warm-up checked")
        b.timed_passes()
        phases["passes"] = time.perf_counter() - T_PROC
        if args.trace:
            metrics, units = b.per_layer(setup_wall_s), PER_LAYER
        else:
            metrics, units = b.end_to_end(setup_cpu_s), END_TO_END
    finally:
        b.shutdown()
    phases["shutdown"] = time.perf_counter() - T_PROC

    record = b.record({
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "sf": SF,
        "nproc": os.cpu_count(),
        "spark_graft_cpus": b.cores,
        "spark_driver_mem": os.environ["SPARK_DRIVER_MEM"],
        "load_before": [round(x, 2) for x in load_before],
        "load_after": [round(x, 2) for x in os.getloadavg()],
        "cpu_steal_s": round(cpu_steal_s() - steal_before, 2),
        "spark_version": pyspark.__version__,
        "python_version": platform.python_version(),
        "git_commit": git_commit(root),
        "source_sha256": source_key,
        "phase_end_s": {k: round(v, 2) for k, v in phases.items()},
        "setup_cpu_s": round(setup_cpu_s, 2),
        "setup_wall_s": round(setup_wall_s, 4),
    })
    os.makedirs(os.path.join(build, "records"), exist_ok=True)
    rec_path = os.path.join(
        build, "records",
        f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(rec_path, "w") as fh:
        json.dump({**record, "metrics": metrics}, fh, indent=1)
    print(json.dumps({"record": record}), file=sys.stderr, flush=True)
    print(json.dumps({
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }), flush=True)
    return 0


def run_all(args) -> int:
    """Every workload in its own process; a table of every metric."""
    status = 0
    for name in workloads.WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, capture_output=True, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode or not lines:
            print(f"{name}: FAILED (exit {proc.returncode})")
            sys.stderr.write(proc.stderr[-4000:])
            status = 1
            continue
        res = json.loads(lines[-1])
        print(f"{name}: correct={res['correct']} attempted="
              f"{res['attempted']} failed={res['failed']}")
        for metric, m in res["metrics"].items():
            print(f"  {metric:<40} {m['value']:>14.6g} {m['unit']}")
    return status


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[*workloads.WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=3)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "magmapandas_spark")):
        log("run from the repository root: magmapandas_spark/ not found "
            f"in {root}")
        return 2
    if args.workload == "all":
        return run_all(args)

    def _deadline(_sig, _frame):
        raise TimeoutError(f"run exceeded {DEADLINE_S}s")

    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(DEADLINE_S)
    return run(args, root)


if __name__ == "__main__":
    sys.exit(main())
