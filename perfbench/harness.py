"""Process plumbing for the benchmark: the Spark session set-up and
tear-down, peak-RSS sampling of the process tree, and the span tracer
whose spans are joined to Spark's own event log through job groups.

Nothing here changes how the program runs: the session comes from the
program's own factory (`cadastre_pg_spark.session.get_spark`); the
extra settings (scratch dirs, the worker import path, the event log)
reach the JVM through a `spark-defaults.conf` in the run's work dir.
"""

import glob
import json
import os
import statistics
import subprocess
import threading
import time
import uuid
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data")
# 6 GB heap: fits a 4-core / 15 GB host next to the Python workers
# (bench.py's child asks for 48 GB, get_spark's default is 24 GB)
DRIVER_MEMORY = "6g"
_PY_NODES = ("Python", "Pandas", "Arrow")  # plan nodes that run Python workers


def cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str, trace: bool) -> None:
    """Point every scratch write of the JVM, the Python workers and
    tempfile into `work`, and pass the checkout root (the program) and
    this directory (the benchmark's own UDFs) to the workers explicitly,
    so `mapInPandas` imports them whatever the working directory is."""
    dirs = {k: os.path.join(work, k) for k in ("conf", "local", "tmp", "events")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    conf = {
        "spark.local.dir": dirs["local"],
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={dirs['tmp']}",
        "spark.executorEnv.PYTHONPATH": os.pathsep.join((ROOT, HERE)),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + dirs["events"],
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    with open(os.path.join(dirs["conf"], "spark-defaults.conf"), "w") as f:
        for k, v in conf.items():
            f.write(f"{k} {v}\n")
    os.environ["SPARK_CONF_DIR"] = dirs["conf"]
    os.environ["TMPDIR"] = dirs["tmp"]


def _warm_partition(batches):
    # runs in the Python workers: imports the program the way the
    # workloads' UDFs will, so a broken worker import path fails here
    import cadastre_pg_spark.kernels.pip  # noqa: F401

    yield from batches


def start_session(tracer):
    """One set-up: the program's session factory, then a JVM job and a
    Python-worker job. Returns (spark, start_s, warm_s)."""
    from cadastre_pg_spark.session import get_spark

    n = cores()
    with tracer.span("session.start", kind="setup"):
        t0 = time.perf_counter()
        spark = get_spark("perfbench", cores=n, driver_memory=DRIVER_MEMORY)
        spark.sparkContext.setLogLevel("ERROR")
        start_s = time.perf_counter() - t0
    with tracer.span("session.warm", kind="setup"):
        t1 = time.perf_counter()
        spark.range(1000).count()
        spark.range(0, n * 4, 1, n).mapInPandas(
            _warm_partition, schema="id long"
        ).count()
        warm_s = time.perf_counter() - t1
    return spark, start_s, warm_s


def stop_jvm() -> None:
    """Stop the JVM that pyspark launched and wait until it has exited
    (it exits when its stdin pipe closes)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class PeakRss:
    """Samples the summed RSS of this process and all its descendants
    (the JVM and its Python workers) and keeps the peak."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def _tree_rss(self) -> int:
        children = {}
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(pid))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, ()))
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        return total

    def _loop(self):
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            self._stop.wait(self.interval)


class Tracer:
    """Spans (name, start, end, parent, run id) around the benchmark's
    calls into the program. When enabled, each span is also the Spark
    job group of the jobs its thread submits, so the event log's stage
    and task metrics can be attributed to it afterwards. Disabled, a
    span costs one generator step and records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans = []
        self._stack = []

    @staticmethod
    def _sc():
        from pyspark import SparkContext

        return SparkContext._active_spark_context

    def _set_group(self, span):
        sc = self._sc()
        if sc is None:
            return
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(span["id"], span["name"])

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": f"{self.run_id}-{len(self.spans)}",
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "run_id": self.run_id,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def note(self, span, **attrs):
        if span is not None:
            span.update(attrs)


# ----------------------------------------------------------- event log


def read_event_logs(events_dir: str):
    """One event list per application (job and stage ids restart at 0
    in every session, so the logs must be attributed one at a time)."""
    logs = []
    for path in sorted(glob.glob(os.path.join(events_dir, "*"))):
        with open(path) as f:
            logs.append([json.loads(line) for line in f])
    return logs


def _union_len(intervals, lo, hi):
    """Length of the union of [a, b] intervals clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def attribute_events(logs, spans):
    """Attach Spark's stage and task metrics to spans via job groups.
    Each span gets its OWN jobs' counters (jobs of child spans carry
    the child's group) plus `stage_intervals` (seconds since epoch)."""
    for s in spans:
        s.update(
            jobs=0, stages=0, tasks=0, run_s=0.0, cpu_s=0.0, gc_s=0.0,
            python_run_s=0.0, shuffle_read_bytes=0, shuffle_write_bytes=0,
            spill_bytes=0, stage_intervals=[],
        )
    by_id = {s["id"]: s for s in spans}
    for events in logs:
        _attribute_app(events, by_id)


def _attribute_app(events, by_id):
    stage_span, stage_python = {}, {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            span = by_id.get((e.get("Properties") or {}).get("spark.jobGroup.id"))
            if span is not None:
                span["jobs"] += 1
                for sid in e["Stage IDs"]:
                    stage_span.setdefault(sid, span)
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            span = stage_span.get(info["Stage ID"])
            scopes = " ".join(str(r.get("Scope", "")) for r in info["RDD Info"])
            stage_python[info["Stage ID"]] = any(p in scopes for p in _PY_NODES)
            if span is not None and "Submission Time" in info:
                span["stages"] += 1
                span["stage_intervals"].append(
                    (info["Submission Time"] / 1000.0, info["Completion Time"] / 1000.0)
                )
    for e in events:
        if e["Event"] != "SparkListenerTaskEnd":
            continue
        span = stage_span.get(e["Stage ID"])
        m = e.get("Task Metrics")
        if span is None or not m:
            continue
        span["tasks"] += 1
        run_s = m["Executor Run Time"] / 1000.0
        span["run_s"] += run_s
        span["cpu_s"] += m["Executor CPU Time"] / 1e9
        span["gc_s"] += m["JVM GC Time"] / 1000.0
        if stage_python.get(e["Stage ID"]):
            span["python_run_s"] += run_s
        rd = m["Shuffle Read Metrics"]
        span["shuffle_read_bytes"] += rd["Remote Bytes Read"] + rd["Local Bytes Read"]
        span["shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
        span["spill_bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]


def subtree(spans, root):
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out, todo = [], [root]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s["id"], ()))
    return out


_COUNTERS = {
    "spark.jobs": "jobs",
    "spark.stages": "stages",
    "spark.tasks": "tasks",
    "spark.exec.run_s": "run_s",
    "spark.exec.cpu_s": "cpu_s",
    "spark.exec.gc_s": "gc_s",
    "spark.python.run_s": "python_run_s",
    "spark.shuffle.read_bytes": "shuffle_read_bytes",
    "spark.shuffle.write_bytes": "shuffle_write_bytes",
    "spark.spill_bytes": "spill_bytes",
}


def spark_totals(spans, roots):
    """Event-log counters summed over the subtrees of `roots`, plus the
    driver idle time: root wall not covered by any running stage."""
    out = {k: 0 for k in _COUNTERS}
    out["spark.driver_idle_s"] = 0.0
    for root in roots:
        tree = subtree(spans, root)
        for name, key in _COUNTERS.items():
            out[name] += sum(s[key] for s in tree)
        busy = _union_len(
            [iv for s in tree for iv in s["stage_intervals"]], root["start"], root["end"]
        )
        out["spark.driver_idle_s"] += (root["end"] - root["start"]) - busy
    return out


def median(xs):
    return statistics.median(xs) if xs else 0.0
