"""Run machinery shared by the workloads: the Spark session, in-memory
spans, Spark job/stage counting, host sampling, statistics and the
result line.

Every layer is measured from outside: the workloads wrap calls into the
package's public functions in spans and job groups, and read Spark's
public ``StreamingQueryProgress`` and ``sc.statusTracker()``.
"""

from __future__ import annotations

import copy
import functools
import importlib
import json
import os
import pkgutil
import shutil
import statistics
import subprocess
import sys
import threading
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# layers whose self time the traced run reports (package modules, plus
# Spark's own micro-batch machinery read from the progress API)
SELF_TIME_LAYERS = [
    "session",
    "sources",
    "streaming.windows",
    "streaming.join",
    "streaming.sink",
    "streaming.incremental_transform",
    "streaming.vocabulary",
    "operators",
    "plans",
    "functions",
    "trigger",
]


def boot_clock() -> float:
    return time.clock_gettime(time.CLOCK_BOOTTIME)


def process_age_s() -> float:
    """Seconds since this process started (``/proc/self/stat`` field 22)."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return boot_clock() - int(fields[19]) / os.sysconf("SC_CLK_TCK")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def driver_heap_mb() -> int:
    """A quarter of MemTotal, between 1 and 8 GiB: the session default
    (24g) exceeds small hosts, and the host's memory is shared."""
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                total_mb = int(line.split()[1]) // 1024
                return max(1024, min(8192, total_mb // 4))
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def _read_stat(path: str) -> tuple[str, list[str]] | None:
    """(comm, fields after comm) of a /proc stat file, or None if the
    process or thread has exited."""
    try:
        with open(path) as f:
            raw = f.read()
    except OSError:
        return None
    end = raw.rindex(")")
    return raw[raw.index("(") + 1:end], raw[end + 1:].split()


def _jit_ticks(pid: int) -> int:
    """CPU ticks of a JVM's JIT compiler threads."""
    total = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        stat = _read_stat(f"/proc/{pid}/task/{tid}/stat")
        if stat is not None and "CompilerThre" in stat[0]:
            total += int(stat[1][11]) + int(stat[1][12])
    return total


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    process under it (the JVM and its Python workers), reaped children
    included, less the JVM's JIT compiler threads: how much compiling
    is left for the measured part of a run depends on how far the JVM
    got before it, which moves with the host's load, not with the code.
    The session keeps those threads alive (no dynamic compiler threads),
    so their ticks stay visible for the whole run."""
    tick = os.sysconf("SC_CLK_TCK")
    stats = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        stat = _read_stat(f"/proc/{pid}/stat")
        if stat is None:
            continue
        comm, fields = stat
        # fields[1] is ppid; 11-14 are utime, stime, cutime, cstime
        stats[int(pid)] = (int(fields[1]), sum(int(x) for x in fields[11:15]), comm)
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in stats:
            _, ticks, comm = stats[pid]
            total += ticks
            if comm == "java":
                try:
                    total -= _jit_ticks(pid)
                except OSError:
                    pass  # exited meanwhile
        todo.extend(children.get(pid, []))
    return total / tick


def host_sample() -> dict:
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:9]]
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    return {"total": sum(cpu), "steal": cpu[7], "load1": load1}


def host_delta(a: dict, b: dict) -> dict:
    total = b["total"] - a["total"]
    return {
        "steal_pct": 100.0 * (b["steal"] - a["steal"]) / total if total else 0.0,
        "load1": (a["load1"] + b["load1"]) / 2,
    }


def pct(values, q: float) -> float:
    """Linear-interpolated percentile ``q`` (0-100) of ``values``."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return statistics.median(values) if values else 0.0


class Tracer:
    """In-memory spans: name, start, end (wall seconds), parent, run id
    and attributes. Disabled, it records nothing and costs one branch."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next = 0

    def _new_id(self) -> int:
        with self._lock:
            self._next += 1
            return self._next

    @contextmanager
    def span(self, name: str, parent: int | None = None, on: bool = True, **attrs):
        if not (self.enabled and on):
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        sid = self._new_id()
        rec = {
            "id": sid,
            "parent": parent if parent is not None else (stack[-1] if stack else None),
            "name": name,
            "run": self.run_id,
            **attrs,
        }
        stack.append(sid)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> int:
        """Record a span measured elsewhere (e.g. from query progress)."""
        sid = self._new_id()
        with self._lock:
            self.spans.append(
                {"id": sid, "parent": parent, "name": name, "run": self.run_id,
                 "start": start, "end": end, **attrs}
            )
        return sid

    def self_times_ms(self) -> dict[str, float]:
        """Per layer: span durations minus the part of each span's
        interval that its child spans cover. Spans flagged ``task_time``
        (summed over partitions, not wall time) are left out."""
        spans = [s for s in self.spans if not s.get("task_time")]
        children: dict[int, list[dict]] = {}
        for s in spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out = {layer: 0.0 for layer in SELF_TIME_LAYERS}
        for s in spans:
            layer = s.get("layer")
            if layer is None:
                continue
            ivs = sorted(
                (max(c["start"], s["start"]), min(c["end"], s["end"]))
                for c in children.get(s["id"], [])
            )
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in ivs:
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[layer] += max(0.0, (s["end"] - s["start"]) - covered) * 1000.0
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s, default=str) + "\n")


class _TracedFunction:
    """A package function called through a span. It pickles as the
    function itself, so a function shipped to Python workers (a UDF
    body) arrives there untraced."""

    def __init__(self, fn, tracer: Tracer, name: str):
        functools.update_wrapper(self, fn)
        self._fn = fn
        self._tracer = tracer
        self._name = name

    def __call__(self, *args, **kwargs):
        with self._tracer.span(self._name, layer="functions"):
            return self._fn(*args, **kwargs)

    def __reduce__(self):
        return copy.copy, (self._fn,)


def trace_functions(tracer: Tracer) -> int:
    """Route every public function of the package's ``functions`` modules
    through a span, in each module that binds it. Call it before the
    ``plans`` modules are imported, since they bind the names at import.
    Returns the number of functions wrapped."""
    import diffdataflowmlpipelines_spark.functions as pkg

    mods = [pkg] + [
        importlib.import_module(f"{pkg.__name__}.{m.name}")
        for m in pkgutil.iter_modules(pkg.__path__)
    ]
    wrapped: dict[int, _TracedFunction] = {}
    for mod in mods:
        for name, fn in list(vars(mod).items()):
            if (
                callable(fn) and getattr(fn, "__module__", None) == mod.__name__
                and not name.startswith("_") and not isinstance(fn, type)
                and not hasattr(fn, "evalType")  # a Spark UDF object
            ):
                short = mod.__name__.rsplit(".", 1)[-1]
                wrapped[id(fn)] = _TracedFunction(fn, tracer, f"functions.{short}.{name}")
    for mod in mods:
        for name, fn in list(vars(mod).items()):
            if id(fn) in wrapped and wrapped[id(fn)]._fn is fn:
                setattr(mod, name, wrapped[id(fn)])
    return len(wrapped)


class JobCounter:
    """Counts the Spark jobs and stages a block of driver code starts,
    through a job group and ``sc.statusTracker()``. The thread's previous
    job group (a streaming query sets one on its micro-batch thread) is
    restored afterwards. Counts are resolved at the end of the run, when
    the status store has seen every job start."""

    _PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self._groups: list[tuple[str, dict]] = []
        self._lock = threading.Lock()

    @contextmanager
    def group(self, label: str, on: bool = True):
        if not (self.enabled and on):
            yield None
            return
        with self._lock:
            gid = f"perfbench-{len(self._groups)}-{label}"
            box: dict = {}
            self._groups.append((gid, box))
        saved = {k: self.sc.getLocalProperty(k) for k in self._PROPS}
        self.sc.setJobGroup(gid, label)
        try:
            yield box
        finally:
            for k, v in saved.items():
                self.sc.setLocalProperty(k, v)

    def resolve(self) -> None:
        if not self.enabled:
            return
        time.sleep(0.5)  # let the listener bus deliver the last job events
        tracker = self.sc.statusTracker()
        for gid, box in self._groups:
            jobs = tracker.getJobIdsForGroup(gid)
            stages = 0
            for j in jobs:
                info = tracker.getJobInfo(j)
                stages += len(info.stageIds) if info is not None else 0
            box["jobs"] = len(jobs)
            box["stages"] = stages


class Run:
    """One workload run: arguments, scratch directory, session, tracer,
    job counter and the set-up clock."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.run_id = f"{workload}-s{seed}-{os.getpid()}"
        self.workdir = os.path.join(ROOT, ".bench_work", self.run_id)
        self.excluded_s = 0.0  # left out of setup_s, see outside_setup
        self.setup_s: float | None = None
        self.host0 = host_sample()
        self.tracer = Tracer(trace, self.run_id)
        self.spark = None
        self.jobs: JobCounter | None = None
        self.notes: dict = {}

    # -- session ---------------------------------------------------------

    def start_session(self) -> None:
        cpus = nproc()
        local = os.path.join(self.workdir, "spark-local")
        tmp = os.path.join(self.workdir, "tmp")
        os.makedirs(local, exist_ok=True)
        os.makedirs(tmp, exist_ok=True)
        # keep every file the JVM and the Python workers write inside
        # the scratch directory
        os.environ["SPARK_LOCAL_DIRS"] = local
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
        with self.tracer.span("session.get_spark", layer="session"):
            from diffdataflowmlpipelines_spark.session import get_spark

            self.spark = get_spark(
                app_name=f"perfbench-{self.workload}",
                master=f"local[{cpus}]",
                shuffle_partitions=cpus,
                extra_conf={
                    "spark.driver.memory": f"{driver_heap_mb()}m",
                    # no hsperfdata files in the host's /tmp; JIT compiler
                    # threads that never exit (see tree_cpu_s)
                    "spark.driver.extraJavaOptions": (
                        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                        "-XX:-UseDynamicNumberOfCompilerThreads"
                    ),
                    "spark.local.dir": local,
                    "spark.sql.warehouse.dir": os.path.join(self.workdir, "warehouse"),
                    "spark.ui.showConsoleProgress": "false",
                    "spark.sql.streaming.numRecentProgressUpdates": "100000",
                    "spark.ui.retainedJobs": "100000",
                    "spark.ui.retainedStages": "100000",
                },
            )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jobs = JobCounter(self.spark.sparkContext, self.trace)
        self.notes["cpus"] = cpus
        self.notes["driver_heap_mb"] = driver_heap_mb()

    def stop(self) -> None:
        """Stop the session, wait for the JVM to exit, remove scratch."""
        if self.spark is not None:
            from pyspark import SparkContext

            for q in self.spark.streams.active:
                q.stop()
            self.spark.stop()
            gw = SparkContext._gateway
            proc = getattr(gw, "proc", None)
            if gw is not None:
                gw.shutdown()
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()  # the gateway JVM exits on stdin EOF
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
            self.spark = None
        shutil.rmtree(self.workdir, ignore_errors=True)

    # -- clocks ----------------------------------------------------------

    @contextmanager
    def outside_setup(self, name: str, layer: str | None = None):
        """Work that setup_s leaves out: input generation and oracle checks."""
        t0 = time.perf_counter()
        try:
            with self.tracer.span(name, layer=layer):
                yield
        finally:
            self.excluded_s += time.perf_counter() - t0

    def generating(self):
        return self.outside_setup("sources.generate", "sources")

    def mark_setup_done(self) -> None:
        """Called right before the first timed operation."""
        self.setup_s = process_age_s() - self.excluded_s
        self.phase("measure")

    def phase(self, name: str) -> None:
        """Note when a phase of the run began (seconds since process start)."""
        self.notes.setdefault("phases", {})[name] = round(process_age_s(), 2)
        self.notes.setdefault("cpu_s", {})[name] = round(tree_cpu_s(), 2)

    def host(self) -> dict:
        return host_delta(self.host0, host_sample())


def load_catalog() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {
        "end_to_end": {m["name"]: m["unit"] for m in bench["end_to_end"]},
        "per_layer": {m["name"]: m["unit"] for m in bench["per_layer"]},
    }


def result_line(
    run: Run, correct: bool, attempted: int, failed: int,
    e2e: dict[str, float], layers: dict[str, float],
) -> str:
    """The last stdout line. Metric names must match BENCHMARK.json
    exactly: a missing or unknown name is a benchmark bug, so it raises."""
    cat = load_catalog()
    kind = "per_layer" if run.trace else "end_to_end"
    values = layers if run.trace else e2e
    want = cat[kind]
    if set(values) != set(want):
        raise RuntimeError(
            f"{kind} metrics differ from BENCHMARK.json: "
            f"missing {sorted(set(want) - set(values))}, "
            f"unknown {sorted(set(values) - set(want))}"
        )
    metrics = {
        name: {"value": float(values[name]), "unit": want[name]} for name in want
    }
    return json.dumps(
        {"correct": bool(correct), "attempted": int(attempted),
         "failed": int(failed), "metrics": metrics}
    )


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)
