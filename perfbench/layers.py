"""Layer probes: each one times or counts the calls into one layer from
outside, through Spark's own status stores, so the engine stays untouched.

- ``registry``: the builder call, its py4j round trips and the jobs it ran;
- ``catalyst``: the phase times of ``queryExecution().tracker()``;
- ``exec``: jobs, stages and task metrics from the Spark status store,
  attributed to a phase by job-ID range (there is one sequential client);
- ``python_workers``: the pandas-UDF SQL metrics of the op's executions;
- ``index_store``: bytes written under the store roots, and delta/tombstone
  layers of the served indexes;
- ``streaming``: micro-batches seen by a ``StreamingQueryListener``.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time

MB = 1024.0 * 1024.0

# Spark's SQLMetric names for the pandas-UDF runner (Spark 4.1)
PY_METRICS = {
    "time to start Python workers": "python_workers.start_s",
    "time to initialize Python workers": "python_workers.init_s",
    "time to run Python workers": "python_workers.run_s",
    "data sent to Python workers": "python_workers.sent_mb",
    "data returned from Python workers": "python_workers.returned_mb",
}

OP_LAYER_METRICS = (
    "registry.construct_s",
    "registry.py4j_calls",
    "registry.jobs",
    "registry.tasks",
    "registry.task_run_s",
    "catalyst.analysis_ms",
    "catalyst.optimization_ms",
    "catalyst.planning_ms",
    "catalyst.plan_s",
    "exec.s",
    "exec.jobs",
    "exec.stages",
    "exec.tasks",
    "exec.failed_tasks",
    "exec.task_run_s",
    "exec.task_cpu_s",
    "exec.gc_s",
    "exec.input_mb",
    "exec.output_mb",
    "exec.shuffle_read_mb",
    "exec.shuffle_write_mb",
    "exec.spill_mb",
    "exec.slot_busy_frac",
    "exec.fetch_s",
    "exec.result_rows",
    *PY_METRICS.values(),
    "index_store.write_mb",
    "index_store.layers",
    "streaming.batches",
    "streaming.batch_s",
)

SESSION_METRICS = (
    "session.start_s",
    "session.tables_s",
    "session.store_build_s",
    "session.warm_pass_s",
)

_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_SIZE_UNITS = {
    "B": 1.0,
    "KiB": 1024.0,
    "MiB": MB,
    "GiB": MB * 1024,
    "TiB": MB * MB,
}
_VALUE = re.compile(r"^\s*([0-9.,]+)\s*([A-Za-z]+)")


def parse_sql_metric(text: str) -> float:
    """Total of a formatted SQLMetric value, in seconds or MB.

    Spark renders ``"2.7 s"`` for one task and ``"total (min, med, max
    ...)\\n3.0 s (225 ms, ...)"`` for many; the total leads either form."""
    line = text.split("\n")[-1]
    m = _VALUE.match(line)
    if not m:
        return 0.0
    value, unit = float(m.group(1).replace(",", "")), m.group(2)
    if unit in _TIME_UNITS:
        return value * _TIME_UNITS[unit]
    if unit in _SIZE_UNITS:
        return value * _SIZE_UNITS[unit] / MB
    return value


class Py4jCounter:
    """Counts py4j round trips by wrapping the gateway client's
    ``send_command``; every JVM call of the Python API goes through it."""

    def __init__(self, gateway_client):
        self._client = gateway_client
        self._send = gateway_client.send_command
        self.calls = 0

    def __enter__(self):
        send = self._send

        def counted(*args, **kwargs):
            self.calls += 1
            return send(*args, **kwargs)

        self._client.send_command = counted
        return self

    def __exit__(self, *exc):
        # drop the instance attribute so the class method is visible again
        del self._client.send_command


class StreamingCounter:
    """Micro-batches and their trigger time, from a listener the benchmark
    registers; progress events arrive on the listener bus thread."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        counter = self
        self._lock = threading.Lock()
        self.batches = 0
        self.batch_s = 0.0

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                ms = event.progress.durationMs.get("triggerExecution", 0)
                with counter._lock:
                    counter.batches += 1
                    counter.batch_s += ms / 1000.0

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = Listener()
        self._spark = spark
        spark.streams.addListener(self._listener)

    def read(self) -> tuple[int, float]:
        with self._lock:
            return self.batches, self.batch_s

    def close(self) -> None:
        self._spark.streams.removeListener(self._listener)


class StatusProbe:
    """Reads jobs, stages and SQL executions from Spark's status stores.

    Objects are serialised to JSON inside the JVM (one py4j call each)
    with the Jackson mapper Spark's REST API uses."""

    def __init__(self, spark):
        jvm = spark.sparkContext._jvm
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper().registerModule(
            getattr(scala, "MODULE$")
        )
        self._next_exec = 0

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def next_job_id(self) -> int:
        return self._sc.dagScheduler().nextJobId()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        stores hold the final metrics of jobs that already ended."""
        self._sc.listenerBus().waitUntilEmpty()

    def jobs(self, first: int, end: int) -> dict:
        """Summed job, stage and task metrics of job IDs [first, end)."""
        out = dict.fromkeys(
            (
                "jobs",
                "stages",
                "tasks",
                "failed_tasks",
                "task_run_s",
                "task_cpu_s",
                "gc_s",
                "input_mb",
                "output_mb",
                "shuffle_read_mb",
                "shuffle_write_mb",
                "spill_mb",
            ),
            0.0,
        )
        last_done_ms = 0
        seen: set[int] = set()
        for job_id in range(first, end):
            job = self._json(self._store.job(job_id))
            out["jobs"] += 1
            last_done_ms = max(last_done_ms, job.get("completionTime") or 0)
            for sid in job["stageIds"]:
                if sid in seen:
                    continue
                seen.add(sid)
                st = self._json(self._store.lastStageAttempt(sid))
                if st["status"] == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st["numCompleteTasks"] + st["numFailedTasks"]
                out["failed_tasks"] += st["numFailedTasks"]
                out["task_run_s"] += st["executorRunTime"] / 1e3
                out["task_cpu_s"] += st["executorCpuTime"] / 1e9
                out["gc_s"] += st["jvmGcTime"] / 1e3
                out["input_mb"] += st["inputBytes"] / MB
                out["output_mb"] += st["outputBytes"] / MB
                out["shuffle_read_mb"] += st["shuffleReadBytes"] / MB
                out["shuffle_write_mb"] += st["shuffleWriteBytes"] / MB
                out["spill_mb"] += (st["memoryBytesSpilled"] + st["diskBytesSpilled"]) / MB
        out["last_done_ms"] = last_done_ms
        return out

    def python_worker_metrics(self) -> dict:
        """Pandas-UDF metrics of every SQL execution recorded since the
        previous call."""
        out = dict.fromkeys(PY_METRICS.values(), 0.0)
        while True:
            opt = self._sql.execution(self._next_exec)
            if not opt.isDefined():
                break
            eid = self._next_exec
            self._next_exec += 1
            wanted = {
                m["accumulatorId"]: PY_METRICS[m["name"]]
                for m in self._json(opt.get().metrics())
                if m["name"] in PY_METRICS
            }
            if not wanted:
                continue
            values = self._json(self._sql.executionMetrics(eid))
            for acc, key in wanted.items():
                text = values.get(str(acc))
                if text:
                    out[key] += parse_sql_metric(text)
        return out

    def skip_executions(self) -> None:
        """Move the execution cursor past everything recorded so far."""
        self.drain()
        while self._sql.execution(self._next_exec).isDefined():
            self._next_exec += 1


def catalyst_phases(qe) -> dict:
    """analysis/optimization/planning ms from the QueryPlanningTracker."""
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        out[f"catalyst.{phase}_ms"] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def bytes_written_since(roots: list[str], since: float) -> float:
    """MB of files under ``roots`` modified at or after ``since``."""
    total = 0
    for root in roots:
        for dirpath, _, files in os.walk(root):
            for f in files:
                try:
                    st = os.stat(os.path.join(dirpath, f))
                except FileNotFoundError:
                    continue
                if st.st_mtime >= since:
                    total += st.st_size
    return total / MB


def store_layers(ann_root: str, base: str) -> int:
    """Delta batches plus tombstone batches in this dataset's ANN indexes."""
    n = 0
    if not os.path.isdir(ann_root):
        return 0
    for entry in os.listdir(ann_root):
        if entry != base and not entry.startswith(base + "_"):
            continue
        for layer in ("codes_delta", "tombstones"):
            d = os.path.join(ann_root, entry, layer)
            if os.path.isdir(d):
                n += sum(1 for x in os.listdir(d) if x.startswith("batch="))
    return n


# ---------------------------------------------------------------------------
# process tree: CPU seconds and peak resident memory, from /proc
# ---------------------------------------------------------------------------
_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            text = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return text[text.rindex(")") + 2 :].split()


def process_tree(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat(int(entry))
            if fields:
                children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User+system CPU of the live tree, including reaped children."""
    total = 0
    for pid in process_tree(root):
        fields = _stat(pid)
        if fields:
            # utime stime cutime cstime are fields 14-17 (1-based)
            total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def peak_rss_mb(root: int) -> float:
    """Peak resident memory (VmHWM) of the driver plus its JVM."""
    total_kb = 0
    for pid in process_tree(root):
        if pid != root and _comm(pid) != "java":
            continue
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def cpu_canary() -> float:
    """Seconds for a fixed pure-Python workload, the median of three: a
    host-speed reading taken before and after each run, so two runs'
    numbers can be compared."""
    times = []
    for _ in range(3):
        t = time.perf_counter()
        acc = 0
        for i in range(1_000_000):
            acc = (acc + i * i) % 1_000_003
        times.append(time.perf_counter() - t)
    return sorted(times)[1]


def cpu_ticks() -> tuple[int, int]:
    """(all, steal) jiffies of the host CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields), fields[7]
