"""One benchmark run of one workload.

A run is a closed loop with one client: set up (session, fixtures,
index builds, a warm-up pass that is also the correctness gate), then
timed passes over the workload's queries in a seeded order until the
requested seconds have elapsed, re-sampling a fixed calibration scan
between passes.  Each execution is the query's builder call plus a
``noop`` write of the returned DataFrame, which runs the whole plan.

With tracing on, passes go untraced, traced, traced, untraced.  Traced passes
run each phase under a job group and read what Spark did from its status
stores; each query's latency in traced against untraced passes gives the
tracing overhead.

After set-up and after every timed pass, outside the timed passes, the
driver JVM's live memory is read (``memory.py``).
"""

from __future__ import annotations

import dataclasses
import os
import shutil
import sys
import time
import traceback

import numpy as np

from mapreduceplusplus_spark.sources.tables import TABLES

from perfbench import fixtures, oracle
from perfbench.memory import PeakWorkerMemory, descendants, jvm_live_bytes
from perfbench.sparkstats import PhaseStats, SparkProbe
from perfbench.trace import Tracer, covered
from perfbench.workloads import Workload

CALIBRATION_QUERY = "scan_parquet"


@dataclasses.dataclass
class Execution:
    query: str
    phase: str  # build | warmup | settle | timed | reprobe
    pass_no: int
    latency: float
    ok: bool
    traced: bool = False
    build_s: float = 0.0
    action_s: float = 0.0
    idle_s: float = 0.0
    index_bytes: int = 0
    build: PhaseStats | None = None
    action: PhaseStats | None = None
    rows: int = 0


def _du(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Bench:
    def __init__(self, workload: Workload, seed: int, seconds: float, trace: bool, work: str, cores: int):
        from mapreduceplusplus_spark import registry

        self.w = workload
        self.seed, self.seconds, self.trace = seed, seconds, trace
        self.work, self.cores = work, cores
        self.tmp = os.environ["TMPDIR"]
        self.builders = registry.queries()
        oracles = registry.oracles()
        missing = [q for q in self.w.queries if q not in oracles]
        if missing:
            raise SystemExit(f"queries without an oracle: {missing}")
        self.oracle_sql = {q: oracles[q] for q in self.w.queries}
        self.order_rng = np.random.default_rng([seed, 1])
        self.tracer = Tracer(trace)
        self.executions: list[Execution] = []
        self.scan_s: list[float] = []
        self.jvm_live: list[int] = []
        self.pass_wall: list[tuple[bool, float]] = []
        self.setup: dict[str, float] = {}
        self.index_disk_bytes = 0
        self.spark = self.probe = None
        self._versions = 0
        self._reprobe_s = 0.0

    # ---- set-up ------------------------------------------------------

    def run(self) -> None:
        workers = PeakWorkerMemory().start()
        try:
            with self.tracer.span("run", self.w.name, seed=self.seed):
                self._setup()
                self._timed()
        finally:
            self.worker_mem = workers.stop()
            self._stop_spark()

    def _setup(self) -> None:
        from mapreduceplusplus_spark.session import get_spark

        t = time.perf_counter()
        with self.tracer.span("setup", "session"):
            self.spark = get_spark(app_name="perfbench")
            self.spark.sparkContext.setLogLevel("ERROR")
            if self.trace:
                self.probe = SparkProbe(self.spark)
        self.setup["session"] = time.perf_counter() - t

        t = time.perf_counter()
        with self.tracer.span("setup", "fixtures"):
            self.data = os.path.join(self.work, "data")
            fixtures.generate(self.seed, self.w.scale, self.data)
        self.setup["fixtures"] = time.perf_counter() - t
        self.answers = oracle.oracle_answers(self.data, self.oracle_sql)

        if self.w.isolation == "warm":
            t = time.perf_counter()
            with self.tracer.span("setup", "index_build"):
                self._pass("build", -2, traced=self.trace)
            self.setup["index_build"] = time.perf_counter() - t
            self.index_disk_bytes = sum(
                _du(os.path.join(self.tmp, e)) for e in os.listdir(self.tmp)
            )
        t = time.perf_counter()
        with self.tracer.span("setup", "warmup"):
            self._pass("warmup", -1, traced=False)
            for _ in range(self.w.extra_warmup_passes):
                self._pass("settle", -1, traced=False)
            self._calibrate()
        self.setup["warmup"] = time.perf_counter() - t

    # ---- timed passes ------------------------------------------------

    def _calibrate(self) -> float:
        """One run of a fixed scan over every table: its drift across a
        run measures the machine, not the code."""
        t = time.perf_counter()
        self.builders[CALIBRATION_QUERY](self.spark, self.data).write.format(
            "noop"
        ).mode("overwrite").save()
        return time.perf_counter() - t

    def _timed(self) -> None:
        self.scan_s.append(self._calibrate())
        self.jvm_live.append(jvm_live_bytes(self.spark))
        spent, k = 0.0, 0
        while spent < self.seconds or k < (2 if self.trace else 1) or (self.trace and k % 2):
            # untraced, traced, traced, untraced, ...: a trend across the
            # run (the JIT still settling, load changing) cancels out of
            # the traced/untraced comparison
            traced = self.trace and k % 4 in (1, 2)
            t, self._reprobe_s = time.perf_counter(), 0.0
            with self.tracer.span("pass", f"pass{k}", traced=traced):
                self._pass("timed", k, traced)
            # re-probes are extra work, not tracing cost
            wall = time.perf_counter() - t - self._reprobe_s
            self.pass_wall.append((traced, wall))
            spent += wall
            k += 1
            self.scan_s.append(self._calibrate())
            self.jvm_live.append(jvm_live_bytes(self.spark))

    def _pass(self, phase: str, pass_no: int, traced: bool) -> None:
        for q in self.order_rng.permutation(self.w.queries):
            self._execute(str(q), phase, pass_no, traced)

    # ---- one execution -----------------------------------------------

    def _new_version(self) -> str:
        """A fresh dataset version: a new directory of symlinks to the
        same parquet files."""
        self._versions += 1
        v = os.path.join(self.work, "versions", f"v{self._versions}")
        os.makedirs(v)
        for t in TABLES:
            os.symlink(os.path.join(self.data, f"{t}.parquet"), os.path.join(v, f"{t}.parquet"))
        return v

    def _index_entries(self) -> set[str]:
        out = set()
        for e in os.listdir(self.tmp):
            p = os.path.join(self.tmp, e)
            out.add(p)
            if e.startswith("mrpp_index_u") and os.path.isdir(p):
                out.update(os.path.join(p, c) for c in os.listdir(p))
        return out

    def _execute(self, q: str, phase: str, pass_no: int, traced: bool) -> None:
        """Run ``q`` once and record it.  On a cold workload the run gets
        its own dataset version, whose index dirs are measured and deleted
        afterwards; a traced cold run is followed by a warm re-probe of
        the same version, the warm half of the layer's cold/warm split."""
        if self.w.isolation != "cold":
            self.executions.append(self._run_one(q, self.data, phase, pass_no, traced))
            return
        from mapreduceplusplus_spark.llm.dedup import release_shingles

        ds = self._new_version()
        before = self._index_entries()
        ex = self._run_one(q, ds, phase, pass_no, traced)
        self.executions.append(ex)
        if traced and phase == "timed":
            reprobe = self._run_one(q, ds, "reprobe", pass_no, True)
            self.executions.append(reprobe)
            self._reprobe_s += reprobe.latency
        release_shingles()
        new = self._index_entries() - before
        for p in new:
            if os.path.dirname(p) in new:
                continue  # removed with its new parent
            ex.index_bytes += _du(p)
            if os.path.isdir(p):
                shutil.rmtree(p)
            else:
                os.remove(p)
        shutil.rmtree(ds)

    def _run_one(self, q: str, ds: str, phase: str, pass_no: int, traced: bool) -> Execution:
        group = f"pb{len(self.executions)}:{q}"
        ex = Execution(q, phase, pass_no, 0.0, False, traced)
        rows = es = bs = acts = None
        t0 = time.perf_counter()
        tb = t0
        try:
            with self.tracer.span("execution", q, phase=phase) as es:
                if traced:
                    self.probe.begin(group + ":build")
                with self.tracer.span("build", q) as bs:
                    df = self.builders[q](self.spark, ds)
                tb = time.perf_counter()
                if traced:
                    self.probe.begin(group + ":action")
                with self.tracer.span("action", q) as acts:
                    if phase == "warmup":
                        cols = list(df.columns)
                        rows = [tuple(r[c] for c in cols) for r in df.collect()]
                    else:
                        df.write.format("noop").mode("overwrite").save()
            ex.ok = True
        except Exception:
            _log(f"{q} ({phase}) raised:\n{traceback.format_exc()}")
        finally:
            t2 = time.perf_counter()
            if traced:
                self.probe.end()
        ex.latency, ex.build_s, ex.action_s = t2 - t0, tb - t0, t2 - tb
        if traced:
            ex.build = self.probe.collect(group + ":build", census=False)
            ex.action = self.probe.collect(group + ":action", census=True)
            if es is not None:
                for span, stats in ((bs, ex.build), (acts, ex.action)):
                    for j in stats.jobs if span is not None else ():
                        self.tracer.add("job", str(j.id), j.start, j.end, parent=span.id)
                jobs = [(j.start, j.end) for j in ex.build.jobs + ex.action.jobs]
                ex.idle_s = es.duration - covered(jobs, es.start, es.end)
        if rows is not None:
            answer = oracle.Answer(cols, rows)
            ex.rows = len(answer.rows)
            why = answer.mismatch(self.answers[q])
            if why is not None:
                ex.ok = False
                _log(f"{q} does not match its oracle: {why}")
        return ex

    # ---- shutdown ----------------------------------------------------

    def _stop_spark(self) -> None:
        """Stop Spark, then its JVM, and wait until every process this
        run started has ended."""
        from pyspark import SparkContext

        pids = descendants(os.getpid())
        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits on EOF
                try:
                    proc.wait(timeout=60)
                except Exception:
                    proc.kill()
                    proc.wait(timeout=30)
            SparkContext._gateway = SparkContext._jvm = None
        deadline = time.time() + 30
        for pid in pids:
            while os.path.exists(f"/proc/{pid}") and not _zombie(pid):
                if time.time() > deadline:
                    try:
                        os.kill(pid, 9)
                    except ProcessLookupError:
                        pass
                time.sleep(0.05)


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
        return s[s.rindex(")") + 2] == "Z"
    except (OSError, IndexError):
        return True
