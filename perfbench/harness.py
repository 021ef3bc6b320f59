"""Run context shared by the workloads: session, set-up, timing window,
processes, memory, and the result document."""

from __future__ import annotations

import itertools
import json
import os
import shutil
import subprocess
import sys
import threading
import time
from contextlib import contextmanager

from ledger import Tracer, event_log_conf, read_event_log, totals

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
YOUNG_GEN = "512m"


def scaled(n: int) -> int:
    """A workload's input size, times ``PERFBENCH_SCALE`` (the self-test
    runs tiny inputs)."""
    return max(2000, int(n * float(os.environ.get("PERFBENCH_SCALE", "1"))))


def pct(xs: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    s = sorted(xs)
    if not s:
        raise ValueError("no samples")
    k = (len(s) - 1) * q / 100
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def _tree_hwm() -> dict[int, tuple[str, int]]:
    """pid -> (cmdline, VmHWM kB) for this process and its live descendants."""
    out = {}
    for p in _descendants(os.getpid()):
        try:
            with open(f"/proc/{p}/cmdline", "rb") as fh:
                cmd = fh.read()
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        out[p] = (cmd, int(line.split()[1]))
                        break
        except OSError:
            continue
    return out


class PeakRss:
    """Samples the process tree's summed VmHWM (driver, JVM, Python
    workers, server, load generator) every ``interval`` seconds and keeps
    the largest sum, so workers that exit before the end still count.

    A process counts once it has been seen with the same command line in
    two consecutive samples: a child caught between spawn and exec still
    shares its parent's memory and would count the parent twice."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_kb = 0
        self._prev: dict[int, tuple[str, int]] = {}
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _sample(self) -> None:
        with self._lock:
            cur = _tree_hwm()
            total = sum(kb for p, (cmd, kb) in cur.items()
                        if p in self._prev and self._prev[p][0] == cmd)
            self.peak_kb = max(self.peak_kb, total)
            self._prev = cur

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def mb(self) -> float:
        """Peak so far, in MB (takes one more sample first)."""
        self._sample()
        return self.peak_kb / 1024

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def cpu_ms(pid: int) -> float:
    """utime + stime of one process, in ms."""
    with open(f"/proc/{pid}/stat") as fh:
        f = fh.read().rsplit(")", 1)[1].split()
    return (int(f[11]) + int(f[12])) * 1000 / os.sysconf("SC_CLK_TCK")


class Context:
    """One benchmark run: owns its work directory, Spark session and child
    processes, and assembles the result line."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = os.path.join(HERE, "_work", f"{workload}-{os.getpid()}")
        self.out_dir = os.path.join(HERE, "_out")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(os.path.join(self.work, "tmp"))
        os.makedirs(self.out_dir, exist_ok=True)
        self.spark = None
        self.tracer = Tracer(enabled=trace)
        self.procs: list[subprocess.Popen] = []
        self.layers: dict[str, float] = {}  # workload-specific trace report
        #: per-layer metrics of the result line beyond the generic ledger
        self.contract_layers: dict[str, tuple[float, str]] = {}
        self.ledger_hooks = []  # ledger -> more layer metrics, after stop
        self.rss = PeakRss()
        self.peak_rss = 0.0  # the sampler's peak at the end of the window
        self.checks: dict[str, bool] = {}
        self.get_spark_s = 0.0
        self.fixtures_s = 0.0
        self.extra_setup_s = 0.0  # one-off set-up after the fixtures
        self.by_kind = False  # p50/p90 per op kind, weighted (see latency)

    def path(self, *names: str) -> str:
        return os.path.join(self.work, *names)

    # -- session -------------------------------------------------------
    def start_spark(self):
        from ia_hadoop_tools_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": self.path("tmp"),
            "spark.sql.warehouse.dir": self.path("warehouse"),
            # a fixed-size heap and young generation keep the JVM's resident
            # size from following G1's timing-driven resizing (peak_rss_mb)
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={self.path('tmp')} "
                f"-Xms{os.environ['SPARK_DRIVER_MEMORY']} -Xmn{YOUNG_GEN}"),
        }
        if self.trace:
            conf.update(event_log_conf(self.path("events")))
        t = time.perf_counter()
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(f"perfbench-{self.workload}", extra_conf=conf)
        self.get_spark_s = time.perf_counter() - t
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.bind(self.spark)
        return self.spark

    # -- set-up --------------------------------------------------------
    def setup(self, fixture):
        """Run the workload's fixture build once, timed as ``fixtures_s``."""
        t = time.perf_counter()
        with self.tracer.span("fixtures"):
            result = fixture()
        self.fixtures_s = time.perf_counter() - t
        return result

    @property
    def setup_s(self) -> float:
        return self.get_spark_s + self.fixtures_s + self.extra_setup_s

    # -- timing window -------------------------------------------------
    def window(self, rounds, min_rounds: int = 1):
        """Call ``rounds()`` (one complete round of the workload's op mix)
        until ``--seconds`` have passed and at least ``min_rounds`` ran;
        returns the concatenated op records
        ``(kind, seconds, ok)``. Whole rounds keep the mix identical."""
        ops = []
        t0 = time.perf_counter()
        for n in itertools.count(1):
            ops.extend(rounds())
            if n >= min_rounds and time.perf_counter() - t0 >= self.seconds:
                return ops

    @contextmanager
    def untraced(self):
        enabled = self.tracer.enabled
        self.tracer.enabled = False
        try:
            yield
        finally:
            self.tracer.enabled = enabled

    def warmup(self, fn) -> None:
        """Run ``fn()`` once before the window, untraced and untimed."""
        with self.untraced():
            fn()

    def measure(self, rounds, min_rounds: int = 1):
        """The e2e window with tracing off; with --trace 1 a second, traced
        window follows. Returns (untraced ops, traced ops or None)."""
        with self.untraced():
            plain = self.window(rounds, min_rounds=min_rounds)
        traced = self.window(rounds, min_rounds=min_rounds) if self.trace else None
        return plain, traced

    # -- processes -----------------------------------------------------
    def spawn(self, args: list[str], **kw) -> subprocess.Popen:
        env = dict(os.environ)
        env["PYTHONPATH"] = os.pathsep.join(
            [ROOT, HERE] + [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
        )
        kw.setdefault("cwd", ROOT)
        p = subprocess.Popen(args, env=env, **kw)
        self.procs.append(p)
        return p

    def close(self) -> None:
        self.rss.stop()
        for p in self.procs:
            if p.poll() is None:
                p.terminate()
        for p in self.procs:
            try:
                p.wait(timeout=10)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
        self.stop_spark(jvm=True)
        shutil.rmtree(self.work, ignore_errors=True)

    def stop_spark(self, jvm: bool = False) -> None:
        """Stop the session (flushing the event log); with ``jvm`` also end
        the driver JVM and wait for it. Idempotent."""
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
            self.tracer.sc = None
        if jvm:
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            if gateway is not None:
                gateway.shutdown()
                gateway.proc.terminate()
                gateway.proc.wait(timeout=30)
                SparkContext._gateway = None
                SparkContext._jvm = None

    # -- result --------------------------------------------------------
    def result(self, plain, traced) -> dict:
        """The contract line: e2e metrics from the untraced window, or the
        generic per-layer metrics when tracing."""
        attempted = len(plain) + len(traced or ())
        failed = sum(1 for _k, _t, ok in plain + (traced or []) if not ok)
        correct = bool(self.checks) and all(self.checks.values())
        e2e = self.e2e(plain)
        kinds: dict[str, list[float]] = {}
        for k, t, _ok in plain:
            kinds.setdefault(k, []).append(t * 1e3)
        for k, ts in kinds.items():
            print(f"perfbench: {k} n={len(ts)} p50={pct(ts, 50):.1f} "
                  f"p90={pct(ts, 90):.1f} ms", file=sys.stderr)
        if not self.trace:
            metrics = {
                "setup_s": (e2e["setup_s"], "s"),
                "peak_rss_mb": (e2e["peak_rss_mb"], "MB"),
                "p50_ms": (e2e["p50_ms"], "ms"),
                "p90_ms": (e2e["p90_ms"], "ms"),
            }
        else:
            metrics = self.per_layer(e2e, traced)
        return {
            "correct": correct,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }

    def e2e(self, ops) -> dict[str, float]:
        # a failed op counts as slower than any limit: it takes the run's
        # whole window as its latency
        lat = [(k, t if ok else max(self.seconds, t)) for k, t, ok in ops]
        return {
            "setup_s": self.setup_s,
            "peak_rss_mb": self.peak_rss,
            "p50_ms": self.latency(lat, 50) * 1e3,
            "p90_ms": self.latency(lat, 90) * 1e3,
        }

    def latency(self, lat: list[tuple[str, float]], q: float) -> float:
        """The q-th percentile of the ops' latencies. With ``by_kind`` it is
        each op kind's own percentile, weighted by the kind's share of the
        ops: in a closed loop of unlike kinds the pooled percentile jumps
        between kinds from run to run, while each kind's stays put."""
        if not self.by_kind:
            return pct([t for _k, t in lat], q)
        kinds: dict[str, list[float]] = {}
        for k, t in lat:
            kinds.setdefault(k, []).append(t)
        return sum(len(ts) * pct(ts, q) for ts in kinds.values()) / len(lat)

    def per_layer(self, e2e_plain, traced) -> dict[str, tuple[float, str]]:
        e2e_traced = self.e2e(traced)
        self.stop_spark()
        ledger = read_event_log(self.path("events"))
        runs = [s for s in self.tracer.spans if s.group]
        led = totals([c for s in runs for c in ledger.get(s.group, ())])
        overhead = {
            k: (e2e_traced[k] - e2e_plain[k]) / e2e_plain[k] * 100
            for k in ("p50_ms", "p90_ms")
        }
        out = {
            "session.get_spark_s": (self.get_spark_s, "s"),
            "fixtures_s": (self.fixtures_s, "s"),
            "op.count": (len(traced), "count"),
            "spark.jobs": (sum(len(s.jobs) for s in runs), "count"),
            "spark.stages": (sum(s.stages for s in runs), "count"),
            "spark.tasks": (sum(s.tasks for s in runs), "count"),
            "spark.executor_run_s": (led["run_s"], "s"),
            "spark.executor_cpu_s": (led["cpu_s"], "s"),
            "spark.gc_s": (led["gc_s"], "s"),
            "spark.shuffle_write_mb": (led["shuffle_write_mb"], "MB"),
            "spark.spill_mb": (led["spill_mb"], "MB"),
            "spark.python_stage_s": (led["python_stage_s"], "s"),
            "spark.jvm_stage_s": (led["jvm_stage_s"], "s"),
            "trace.overhead_p50_pct": (overhead["p50_ms"], "%"),
            "trace.overhead_p90_pct": (overhead["p90_ms"], "%"),
        }
        out.update(self.contract_layers)
        self._report(e2e_plain, e2e_traced, ledger)
        return out

    def _spans(self, name: str, parent: str | None) -> list:
        by_id = {s.id: s for s in self.tracer.spans}
        return [
            s for s in self.tracer.spans
            if s.name == name and (
                parent is None
                or (s.parent in by_id and by_id[s.parent].name == parent))
        ]

    def durations(self, name: str, parent: str | None = None) -> list[float]:
        """Durations of the retained spans called ``name`` (optionally only
        those directly under a span called ``parent``)."""
        return [s.dur for s in self._spans(name, parent)]

    def span_ledger(self, ledger, name: str, parent: str | None = None) -> dict[str, float]:
        """Ledger totals over the spans ``durations`` selects; jobs, stages
        and tasks come from the status tracker, the rest from the event log."""
        spans = [s for s in self._spans(name, parent) if s.group]
        t = totals([c for s in spans for c in ledger.get(s.group, ())])
        t["jobs"] = sum(len(s.jobs) for s in spans)
        t["stages"] = sum(s.stages for s in spans)
        t["tasks"] = sum(s.tasks for s in spans)
        t["calls"] = len(spans)
        return t

    def _report(self, e2e_plain, e2e_traced, ledger) -> None:
        layers = dict(self.layers)
        for hook in self.ledger_hooks:
            layers.update(hook(ledger))
        report = {
            "workload": self.workload,
            "seed": self.seed,
            "seconds": self.seconds,
            "e2e_untraced": e2e_plain,
            "e2e_traced": e2e_traced,
            "layers": layers,
            "self_s": self.tracer.self_times(),
            "checks": self.checks,
            "spans": [
                {"id": s.id, "name": s.name, "parent": s.parent,
                 "start": s.start, "end": s.end, "jobs": s.jobs,
                 "stages": s.stages, "tasks": s.tasks}
                for s in self.tracer.spans
            ],
        }
        path = os.path.join(self.out_dir, f"trace-{self.workload}-{self.seed}.json")
        with open(path, "w") as fh:
            json.dump(report, fh, indent=1)
        print(f"trace report: {os.path.relpath(path, ROOT)}", file=sys.stderr)
        for k, v in sorted(layers.items()):
            print(f"  {k} = {v:.6g}", file=sys.stderr)
        for k, v in sorted(report["self_s"].items(), key=lambda kv: -kv[1]):
            print(f"  self {k} = {v:.4f} s", file=sys.stderr)
