"""Per-layer readings for the traced run.

Everything here reads the engine from outside: wall time around calls
into a layer's public functions, Spark job groups, the application
status store (``AppStatusStore``: jobs and stage attempts), the SQL
status store (plan metrics of Python-evaluation nodes), each
DataFrame's ``QueryExecution`` phase tracker and
``StreamingQuery.recentProgress``. Nothing inside the engine changes.
"""

from __future__ import annotations

import os
import re
import statistics
import time

import numpy as np

MB = 1024.0 * 1024.0
_SIZE = {"B": 1, "KiB": 1024, "MiB": MB, "GiB": MB * 1024,
         "TiB": MB * MB}
_TIME_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_PY_METRICS = {
    "time to run Python workers": "run_s",
    "time to initialize Python workers": "init_s",
    "data sent to Python workers": "sent_mb",
    "data returned from Python workers": "returned_mb",
}


def parse_metric_total(text: str) -> float:
    """The total in a formatted SQL metric value, in seconds for
    timings and MiB for sizes. Aggregated values put the total on the
    last line: ``"total (min, med, max ...)\\n5.1 s (4 ms, ...)"``."""
    total = text.strip().splitlines()[-1]
    m = re.match(r"\s*([\d.,]+)\s*([A-Za-z]+)", total)
    if not m:
        return 0.0
    value, unit = float(m.group(1).replace(",", "")), m.group(2)
    if unit in _SIZE:
        return value * _SIZE[unit] / MB
    return value * _TIME_S.get(unit, 0.0)


# The JVM's JIT compiler and code-cache sweeper threads: their CPU is
# warm-up work whose amount and timing vary from run to run, at times more
# than half of a pass's CPU. The driver JVM runs with a fixed number of
# compiler threads, so none exits and takes its time into the process
# total unseen.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre", "Sweeper thread")


def _stat_fields(path: str) -> tuple[str, list[str]]:
    """(command name, the fields after it) of a ``/proc`` stat file."""
    with open(path) as fh:
        stat = fh.read()
    return (stat[stat.index("(") + 1:stat.rindex(")")],
            stat[stat.rindex(")") + 2:].split())


def _jit_ticks(pid: int) -> int:
    total = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            comm, f = _stat_fields(f"/proc/{pid}/task/{tid}/stat")
        except OSError:  # thread ended while listed
            continue
        if comm.startswith(JIT_THREADS):
            total += int(f[11]) + int(f[12])
    return total


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system) used so far by ``root_pid`` and every
    process below it (the driver JVM, the Python daemon and its
    workers), less the JVMs' JIT compiler threads. A descendant that has
    exited and been reaped is counted through its parent's
    ``cutime``/``cstime``."""
    parent, cpu, comms = {}, {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            comm, f = _stat_fields(f"/proc/{d}/stat")
        except OSError:  # exited while listed
            continue
        parent[int(d)] = int(f[1])
        cpu[int(d)] = sum(int(x) for x in f[11:15])
        comms[int(d)] = comm
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += cpu.get(pid, 0)
        if comms.get(pid) == "java":
            try:
                total -= _jit_ticks(pid)
            except OSError:  # exited while listed
                pass
        todo.extend(children.get(pid, ()))
    return total / os.sysconf("SC_CLK_TCK")


class StatusReader:
    """Reads job, stage and SQL-plan figures from the driver's status
    stores. ``drain`` first: the stores are fed asynchronously by the
    listener bus."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.app_store = self.sc._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self._sql_seen = 0

    def drain(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)

    def jobs_in_group(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def exec_totals(self, job_ids: list[int]) -> dict[str, float]:
        """Sums over the stages of ``job_ids``: a stage shared by two
        jobs is counted once; skipped stages count toward reuse."""
        out = dict.fromkeys(
            ("jobs", "stages", "skipped", "cpu_s", "run_s",
             "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
             "input_mb", "output_mb"), 0.0)
        seen: set[int] = set()
        for j in job_ids:
            jd = self.app_store.job(j)
            out["jobs"] += 1
            out["skipped"] += jd.numSkippedStages()
            out["stages"] += jd.numSkippedStages() + jd.numCompletedStages()
            for s in str(jd.stageIds().mkString(",")).split(","):
                if not s or int(s) in seen:
                    continue
                seen.add(int(s))
                try:
                    sd = self.app_store.lastStageAttempt(int(s))
                except Exception:  # noqa: BLE001 - never-run stage id
                    continue
                out["cpu_s"] += sd.executorCpuTime() / 1e9
                out["run_s"] += sd.executorRunTime() / 1e3
                out["shuffle_read_mb"] += sd.shuffleReadBytes() / MB
                out["shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
                out["spill_mb"] += sd.diskBytesSpilled() / MB
                out["input_mb"] += sd.inputBytes() / MB
                out["output_mb"] += sd.outputBytes() / MB
        return out

    def python_metrics(self, job_ids: list[int]) -> dict[str, float]:
        """Python-worker plan metrics summed over the SQL executions
        that ran any of ``job_ids`` (executions since the last call)."""
        out = dict.fromkeys(_PY_METRICS.values(), 0.0)
        wanted = set(job_ids)
        total = self.sql_store.executionsCount()
        page = self.sql_store.executionsList(self._sql_seen,
                                             total - self._sql_seen)
        self._sql_seen = total
        for i in range(page.size()):
            ex = page.apply(i)
            jobs = {int(k) for k in
                    str(ex.jobs().keys().mkString(",")).split(",") if k}
            if not jobs & wanted:
                continue
            # one round trip for the whole Map[Long, String]; a lookup
            # by id from Python would box the key as Integer and miss
            rendered = str(self.sql_store.executionMetrics(
                ex.executionId()).mkString("\x1e"))
            values = dict(e.split(" -> ", 1)
                          for e in rendered.split("\x1e") if " -> " in e)
            metrics = ex.metrics()
            for k in range(metrics.size()):
                m = metrics.apply(k)
                key = _PY_METRICS.get(m.name())
                text = values.get(str(m.accumulatorId()))
                if key and text is not None:
                    out[key] += parse_metric_total(text)
        return out

    def jvm_peak_rss_mb(self) -> float:
        pid = self.spark._jvm.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0


def plan_phases_ms(df) -> dict[str, float]:
    """Analysis / optimization / planning time of ``df``'s own
    QueryExecution, forced through physical planning."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {"analysis_ms": 0.0, "optimization_ms": 0.0, "planning_ms": 0.0}
    it = phases.iterator()
    while it.hasNext():
        kv = it.next()
        key = f"{kv._1()}_ms"
        if key in out:
            out[key] = float(kv._2().durationMs())
    return out


def stream_progress(query) -> dict[str, float]:
    """Micro-batch figures of a finished StreamingQuery."""
    batches = [p for p in query.recentProgress if p.get("numInputRows")]
    dur = lambda p, k: float(p.get("durationMs", {}).get(k, 0))  # noqa: E731
    return {
        "batches": float(len(batches)),
        "add_batch_ms": sum(dur(p, "addBatch") for p in batches),
        "wal_commit_ms": sum(dur(p, "walCommit") for p in batches),
        "query_planning_ms": sum(dur(p, "queryPlanning") for p in batches),
        "batch_ms": [dur(p, "triggerExecution") for p in batches],
    }


# ---------------------------------------------------------------------
# in-process timing of the numpy kernels behind the geochem UDFs
# ---------------------------------------------------------------------

KERNEL_ROWS = 10_000  # spark.sql.execution.arrow.maxRecordsPerBatch


def melt_batch(lineitem_path: str, n: int = KERNEL_ROWS) -> dict:
    """One Arrow batch of the synthetic melt, built with the same
    formulas as ``suite.synthetic_melt`` from the first ``n`` rows."""
    import pyarrow.parquet as pq

    li = pq.read_table(lineitem_path).slice(0, n).to_pandas()
    part, supp = li.l_partkey.to_numpy(), li.l_suppkey.to_numpy()
    okey = li.l_orderkey.to_numpy()
    disc, tax = li.l_discount.to_numpy(), li.l_tax.to_numpy()
    wt = {
        "SiO2": 45.0 + (part % 1000) * 0.02,
        "Al2O3": 12.0 + (supp % 100) * 0.05,
        "TiO2": 1.5 + (part % 7) * 0.1,
        "MgO": 4.0 + np.fmod(li.l_quantity.to_numpy(), 10.0),
        "FeO": 8.0 + disc * 20.0,
        "CaO": 9.0 + tax * 10.0,
        "Na2O": 2.0 + disc * 10.0,
        "K2O": 0.5 + tax * 5.0,
        "MnO": np.full(n, 0.15),
        "P2O5": np.full(n, 0.3),
        "H2O": (okey % 40) * 0.1,
        "CO2": 0.1 + (supp % 5) * 0.1,
    }
    name = okey * 10 + li.l_linenumber.to_numpy()
    return {"wt": wt, "P_bar": 1000.0 + (okey % 5) * 1000.0,
            "T_K": 1400.0 + (name % 200) / 2.0}


def kernel_rates(batch: dict, budget_s: float = 0.3) -> dict[str, float]:
    """Rows per second of each kernel: median call time over repeated
    calls within ``budget_s`` (at least three calls)."""
    from magmapandas_spark.models import allison, fe3fe2, kd, volatiles
    from magmapandas_spark.models.common import mole_fractions_np

    wt, P, T = batch["wt"], batch["P_bar"], batch["T_K"]
    n = len(T)
    mol = mole_fractions_np(wt)
    fo2 = 10.0 ** (-25096.3 / T + 8.735 + 1.0)  # ~QFM+1 at 1 bar
    fe3fe2_ratio = np.full(n, 0.2)
    t_kd = np.full(n, 1500.0)
    t_sat = np.full(n, 1473.15)
    calls = {
        "oneill2006_np": lambda: fe3fe2.oneill2006_np(mol, T, P, fo2),
        "armstrong2019_np": lambda: fe3fe2.armstrong2019_np(mol, T, P, fo2),
        "deng2020_np": lambda: fe3fe2.deng2020_np(mol, T, P, fo2),
        "iterate_kd_np": lambda: kd.iterate_kd_np(
            kd.toplis2005_kd_np, mol, t_kd, P, fe3fe2_ratio),
        "mixed_saturation_np": lambda: volatiles.mixed_saturation_np(
            wt, wt["H2O"], wt["CO2"], t_sat),
    }
    rows = dict.fromkeys(calls, n)
    # the Allison MRK kernel runs ~100x slower per row; time it on the
    # same 1-in-64 subset its gate query uses, as a batch of its own
    sub = slice(None, None, 64)
    wt64 = {k: v[sub] for k, v in wt.items()}
    calls["allison_mixed_saturation_np"] = (
        lambda: allison.allison_mixed_saturation_np(
            wt64, wt64["H2O"], wt64["CO2"], t_sat[sub]))
    rows["allison_mixed_saturation_np"] = len(t_sat[sub])
    rates = {}
    for name, call in calls.items():
        times: list[float] = []
        t_end = time.perf_counter() + budget_s
        while len(times) < 3 or time.perf_counter() < t_end:
            t0 = time.perf_counter()
            call()
            times.append(time.perf_counter() - t0)
        rates[name] = rows[name] / statistics.median(times)
    return rates
