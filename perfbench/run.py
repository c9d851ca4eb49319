"""Closed-loop benchmark of the disco_spark engine, one workload per run.

    python3 perfbench/run.py --workload kv_pipeline --seed 1 --seconds 30 --trace 0

Run it from the repository root. One driver process holds one client that
issues each op only after the previous one returned, on ``local[N]`` with N
the usable cores. An op is one registered query on the benchmark's own copy
of the sf0.01 tables (``perfbench/data``), split into construct (the
registry builder), plan (``queryExecution().executedPlan()``) and execute
(``collect()``). Every op's rows are checked against its DuckDB oracle after
its timer stops.

A run is the workload's untimed warm passes and then its fixed number of
timed passes;
``--seconds`` is accepted and recorded but does not change that count.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the same
passes with the layer probes on and reports the per-layer metrics. The last
stdout line is ``{"correct", "attempted", "failed", "metrics"}``; the line
before it is the full record (provenance, per-op layer rows, failures),
which is also written under ``perfbench/.work/results``.

The run ends every process it started (the JVM, the PySpark daemon and its
workers) on every way out. It stops itself with no result if it is still
running ``RUN_LIMIT_S`` seconds after its oracles were ready.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data", "perfbench_sf0.01")
WORK = os.path.join(HERE, ".work")
STORES = ("knn_graph", "ann_index", "sig_store", "planted_cells")
# a run that has not ended this long after its oracles were ready is
# stopped, leaving time to end its processes within a three-minute limit
RUN_LIMIT_S = 150
PR_SET_CHILD_SUBREAPER = 36


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def isolate_environment() -> None:
    """Keep every file the run writes inside the checkout, and let the
    Python workers import the engine. Touches no engine setting."""
    tmp = os.path.join(WORK, "tmp")
    # start every run from empty scratch: some engine sources leave their
    # temp directories behind
    for d in ("tmp", "spark-local"):
        shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # the launcher JVM and the driver JVM: no temp or perf-data files in /tmp
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = os.environ["SPARK_SUBMIT_OPTS"] = jvm_opts
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    sys.path.insert(0, ROOT)


def wipe_stores(base: str) -> None:
    """Start cold: drop this dataset's store and scratch entries."""
    bench = os.path.join(ROOT, "benchdata")
    for store in STORES:
        root = os.path.join(bench, store)
        if os.path.isdir(root):
            for d in os.listdir(root):
                if d == base or d.startswith(base + "_"):
                    shutil.rmtree(os.path.join(root, d))
    scratch = os.path.join(bench, "scratch")
    if os.path.isdir(scratch):
        for name in os.listdir(scratch):
            shutil.rmtree(os.path.join(scratch, name, base), ignore_errors=True)


def source_rev() -> dict:
    """git rev when the tree is a repository, and always a digest of the
    engine and benchmark sources, so a result names the code it measured."""
    try:
        rev = subprocess.run(
            ["git", "rev-parse", "HEAD"],
            cwd=ROOT,
            capture_output=True,
            text=True,
            timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        rev = None
    h = hashlib.sha256()
    for top in ("disco_spark", "perfbench"):
        for dirpath, dirs, files in os.walk(os.path.join(ROOT, top)):
            dirs[:] = sorted(d for d in dirs if not d.startswith((".", "__")))
            for f in sorted(files):
                if f.endswith(".py"):
                    with open(os.path.join(dirpath, f), "rb") as fh:
                        h.update(f.encode())
                        h.update(fh.read())
    return {"git_rev": rev, "source_digest": h.hexdigest()[:16]}


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(walls: dict[str, list[float]]) -> tuple[float, str]:
    """(value, rule) of the op wall-time tail. With 22 or more executions
    it is the highest percentile that still has at least 10 executions
    beyond it; with fewer, that percentile would not lie above the median,
    so it is the slowest op's median wall."""
    xs = sorted(w for ws in walls.values() for w in ws)
    n = len(xs)
    if n < 22:
        return max(median(ws) for ws in walls.values()), "slowest op median"
    k = n - 10
    return xs[k - 1], f"p{100.0 * k / n:.1f} of {n}"


def traced_half(op_index: int, seed: int, pass_no: int) -> bool:
    """Whether an op is traced in a pass of a traced run. Every other op
    is traced, and the two halves swap in the order A B B A over each four
    passes: each op is seen both ways, and a drift of op walls over the
    passes weighs on the traced and the untraced side alike, so it cancels
    out of ``trace.overhead_frac``."""
    half = 1 if pass_no % 4 in (2, 3) else 0
    return (op_index + half + seed) % 2 == 0


def traced_passes(passes: int) -> int:
    """Timed passes of a traced run: at least six, and an even count, so
    the last four start on an odd pass and ``trace.overhead_frac`` sees
    each op twice traced and twice untraced after two warming passes."""
    n = max(passes, 6)
    return n + n % 2


class Spans:
    """workload -> pass -> op -> construct/plan/execute, kept in memory."""

    def __init__(self):
        self.rows: list[dict] = []

    def add(self, name: str, parent: int | None, start: float, end: float, **attrs) -> int:
        self.rows.append(
            {"id": len(self.rows), "parent": parent, "name": name, "start": start, "end": end, **attrs}
        )
        return len(self.rows) - 1

    def set_end(self, span: int, end: float) -> None:
        self.rows[span]["end"] = end

    def self_time(self) -> dict[str, float]:
        """Per span kind: duration minus the part its children cover."""
        child = [0.0] * len(self.rows)
        for r in self.rows:
            if r["parent"] is not None:
                child[r["parent"]] += r["end"] - r["start"]
        out: dict[str, float] = {}
        for r, c in zip(self.rows, child):
            out[r["name"]] = out.get(r["name"], 0.0) + (r["end"] - r["start"]) - c
        return out


class Bench:
    """Runs one workload's passes and gathers what each op cost."""

    def __init__(self, spark, workload, seed: int, oracles, trace: bool):
        from disco_spark import registry

        from perfbench import layers

        self.spark = spark
        self.workload = workload
        self.seed = seed
        self.oracles = oracles
        self.queries = registry.QUERIES
        self.layers = layers
        self.cores = spark.sparkContext.defaultParallelism
        self.base = os.path.basename(DATA)
        self.store_roots = [os.path.join(ROOT, "benchdata"), os.path.join(ROOT, "spark-warehouse")]
        self.ann_root = os.path.join(ROOT, "benchdata", "ann_index")
        self.spans = Spans()
        self.failures: list[dict] = []
        self.attempted = 0
        self.probe = self.streams = None
        if trace:
            self.probe = layers.StatusProbe(spark)
            self.streams = layers.StreamingCounter(spark)

    def close(self) -> None:
        if self.streams is not None:
            self.streams.close()

    def run_op(self, name: str, traced: bool, parent: int | None) -> dict:
        """One op: construct, plan, execute; then the oracle check and,
        when traced, the layer reads, both outside the timer."""
        fn = self.queries[name]
        row: dict = {"op": name}
        if traced:
            before = self._before()
            counter = before["py4j"]
        else:
            cpu0 = self.layers.tree_cpu_s(os.getpid())
        t0 = time.perf_counter()
        try:
            if traced:
                with counter:
                    df = fn(self.spark, DATA)
                t1 = time.perf_counter()
                before["construct_end_job"] = self.probe.next_job_id()
            else:
                df = fn(self.spark, DATA)
                t1 = time.perf_counter()
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            t2 = time.perf_counter()
            rows = df.collect()
            t3 = time.perf_counter()
            done_wall = time.time()
        except Exception as e:  # an op that raises is a failed op; keep going
            self.attempted += 1
            self.failures.append({"op": name, "error": f"{type(e).__name__}: {str(e)[:300]}"})
            row.update(wall_s=time.perf_counter() - t0, ok=False)
            return row
        row.update(wall_s=t3 - t0, construct_s=t1 - t0, plan_s=t2 - t1, execute_s=t3 - t2)
        if not traced:
            row["cpu_s"] = self.layers.tree_cpu_s(os.getpid()) - cpu0
        op_span = self.spans.add("op", parent, t0, t3, op=name)
        for kind, a, b in (("construct", t0, t1), ("plan", t1, t2), ("execute", t2, t3)):
            self.spans.add(kind, op_span, a, b)

        self.attempted += 1
        reason = self.oracles.check(name, df.columns, [tuple(r) for r in rows])
        row["ok"] = reason is None
        if reason is not None:
            self.failures.append({"op": name, "error": reason})
        if traced:
            row["layers"] = self._layers(before, row, qe, len(rows), done_wall)
        return row

    def _before(self) -> dict:
        """Counter readings taken just before a traced op starts."""
        self.probe.skip_executions()
        batches, batch_s = self.streams.read()
        return {
            "py4j": self.layers.Py4jCounter(self.spark.sparkContext._gateway._gateway_client),
            "batches": batches,
            "batch_s": batch_s,
            "wall": time.time(),
            "job": self.probe.next_job_id(),
        }

    def _layers(self, before: dict, row: dict, qe, n_rows: int, done_wall: float) -> dict:
        """Per-layer row of one traced op, read after its timer stopped.
        Jobs started while the builder ran belong to ``registry``, the
        rest to ``exec``."""
        probe = self.probe
        probe.drain()
        built = probe.jobs(before["job"], before["construct_end_job"])
        ran = probe.jobs(before["construct_end_job"], probe.next_job_id())
        batches, batch_s = self.streams.read()
        out = {
            "registry.construct_s": row["construct_s"],
            "registry.py4j_calls": float(before["py4j"].calls),
            "registry.jobs": built["jobs"],
            "registry.tasks": built["tasks"],
            "registry.task_run_s": built["task_run_s"],
            **self.layers.catalyst_phases(qe),
            "catalyst.plan_s": row["plan_s"],
            "exec.s": row["execute_s"],
            "exec.slot_busy_frac": ran["task_run_s"] / (row["execute_s"] * self.cores),
            # driver-side time after the last job ended: result transfer
            "exec.fetch_s": (
                max(0.0, done_wall - ran["last_done_ms"] / 1e3) if ran["jobs"] else row["execute_s"]
            ),
            "exec.result_rows": float(n_rows),
            **{f"exec.{k}": v for k, v in ran.items() if k != "last_done_ms"},
            **probe.python_worker_metrics(),
            "streaming.batches": float(batches - before["batches"]),
            "streaming.batch_s": batch_s - before["batch_s"],
            "index_store.write_mb": self.layers.bytes_written_since(self.store_roots, before["wall"]),
            "index_store.layers": float(self.layers.store_layers(self.ann_root, self.base)),
        }
        return out

    def run_pass(self, pass_no: int, trace: bool, parent: int | None) -> list[dict]:
        """One pass in the seed's order; when tracing, the ops of
        ``traced_half`` are traced."""
        from perfbench.workloads import pass_order

        start = time.perf_counter()
        span = self.spans.add("pass", parent, start, start, pass_no=pass_no)
        rows = []
        for name in pass_order(self.workload, self.seed, pass_no):
            traced = trace and traced_half(self.workload.ops.index(name), self.seed, pass_no)
            rows.append({**self.run_op(name, traced, span), "traced": traced})
        self.spans.set_end(span, time.perf_counter())
        return rows

    def run(self, trace: bool) -> dict:
        """Table load, the untimed warm passes, then the workload's fixed
        number of timed passes; a traced run makes ``traced_passes``."""
        from disco_spark.session import load_tables

        t = time.perf_counter()
        load_tables(self.spark, DATA)
        tables_s = time.perf_counter() - t
        root = self.spans.add("workload", None, time.perf_counter(), 0.0, workload=self.workload.name)
        # the first warm pass runs on cold stores, so it pays their builds
        warm = [self.run_pass(-i, False, root) for i in range(self.workload.warm_passes)]
        passes: list[list[dict]] = []
        layers_after_pass: list[int] = []
        n_passes = traced_passes(self.workload.passes) if trace else self.workload.passes
        while len(passes) < n_passes:
            passes.append(self.run_pass(len(passes) + 1, trace, root))
            layers_after_pass.append(self.layers.store_layers(self.ann_root, self.base))
        self.spans.set_end(root, time.perf_counter())
        return {"tables_s": tables_s, "warm": warm, "passes": passes, "layers_after_pass": layers_after_pass}


def _walls(rows: list[dict]) -> dict[str, list[float]]:
    out: dict[str, list[float]] = {}
    for r in rows:
        out.setdefault(r["op"], []).append(r["wall_s"])
    return out


def summarize(workload, run: dict, start_s: float, peak_rss_mb: float, cores: int, trace: bool) -> dict:
    """End-to-end metrics from untraced op executions; per-layer metrics
    as the per-op mean over traced executions, summed over the workload."""
    from perfbench.layers import OP_LAYER_METRICS

    passes, warm = run["passes"], run["warm"]
    flat = [r for p in passes for r in p]
    plain = [r for r in flat if not r["traced"]]
    reads = set(workload.ops) - workload.writes

    walls = _walls(plain)
    op_walls = [w for ws in walls.values() for w in ws]
    tail_s, tail_rule = tail(walls) if walls else (0.0, "no executions")
    # a store build is what the builder op's cold call cost beyond its
    # warm calls; it is a part of the first warm pass, not added to it
    warm_wall = {r["op"]: r["wall_s"] for r in warm[0]}
    all_walls = _walls(flat)
    store_build_s = sum(
        max(0.0, warm_wall[name] - median(all_walls.get(name, []))) for name in workload.store_builders
    )
    warm_s = sum(r["wall_s"] for p in warm for r in p)
    end_to_end = {
        "setup_s": start_s + run["tables_s"] + warm_s,
        "wall_s": median([sum(r["wall_s"] for r in p) for p in passes]),
        "op_p50_s": median(op_walls),
        "op_tail_s": tail_s,
        "cpu_s": median([sum(r.get("cpu_s", 0.0) for r in p) for p in passes]),
    }
    per_layer: dict[str, float] = {
        "session.start_s": start_s,
        "session.tables_s": run["tables_s"],
        "session.store_build_s": store_build_s,
        "session.warm_pass_s": warm_s,
        "peak_rss_mb": peak_rss_mb,
        # per-op median walls, so traced and untraced executions both count
        "read_s": sum(median(ws) for n, ws in all_walls.items() if n in reads),
        "write_s": sum(median(ws) for n, ws in all_walls.items() if n in workload.writes),
    }
    per_op: dict[str, dict[str, float]] = {}
    if trace:
        traced = [r for r in flat if r["traced"] and "layers" in r]
        for name in workload.ops:
            rows = [r["layers"] for r in traced if r["op"] == name]
            if rows:
                per_op[name] = {k: statistics.fmean(x[k] for x in rows) for k in OP_LAYER_METRICS}
        for k in OP_LAYER_METRICS:
            per_layer[k] = sum(m[k] for m in per_op.values())
        per_layer["exec.slot_busy_frac"] = per_layer["exec.task_run_s"] / max(1e-9, per_layer["exec.s"] * cores)
        per_layer["index_store.layers"] = float(run["layers_after_pass"][-1])
        # the last four passes, and means: the first passes still carry
        # JIT warm-up, and over four passes that start on an odd pass the
        # halves run A B B A or B A A B, so a linear drift of op walls cancels
        blocks = [r for p in passes[-4:] for r in p]
        on = _walls([r for r in blocks if r["traced"]])
        off = _walls([r for r in blocks if not r["traced"]])
        both = [n for n in workload.ops if n in on and n in off]
        on_sum = sum(statistics.fmean(on[n]) for n in both)
        off_sum = sum(statistics.fmean(off[n]) for n in both)
        per_layer["trace.overhead_frac"] = on_sum / off_sum - 1.0 if off_sum else 0.0
    return {
        "end_to_end": end_to_end,
        "per_layer": per_layer,
        "per_op_layers": per_op,
        "op_walls": walls,
        "op_tail_rule": tail_rule,
        "op_samples": len(op_walls),
    }


def stop_spark(spark) -> None:
    """Stop the session, then let the JVM exit on its own;
    ``end_processes`` ends whatever is left."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            pass


def become_subreaper() -> None:
    """Adopt every orphaned descendant, such as a Python worker whose
    daemon ended first, so that ``end_processes`` finds and reaps it."""
    try:
        import ctypes

        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def end_processes(grace_s: float = 10.0) -> None:
    """End every descendant of this process and reap it: SIGTERM, then
    SIGKILL after ``grace_s``. Orphans come back to this process (see
    ``become_subreaper``), so once it has no child left, none runs."""
    from perfbench.layers import process_tree

    deadline = time.monotonic() + grace_s
    sig = signal.SIGTERM
    while True:
        for pid in process_tree(os.getpid())[1:]:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        time.sleep(0.1)


def _abort(signum, frame):
    """A signal or the run's own deadline: unwind, so that every
    process the run started is ended on the way out."""
    if signum == signal.SIGALRM:
        print(f"perfbench: no result within {RUN_LIMIT_S} s", file=sys.stderr)
    raise SystemExit(128 + signum)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    # accepted for the benchmark's calling convention; a run's length is
    # set by its workload's fixed pass count, so that every run has the
    # same number of samples
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "disco_spark")) or not os.path.isdir(DATA):
        print("perfbench: run from the repository root; disco_spark/ or the "
              "benchmark dataset is missing", file=sys.stderr)
        return 2
    become_subreaper()
    for sig in (signal.SIGTERM, signal.SIGHUP, signal.SIGINT, signal.SIGALRM):
        signal.signal(sig, _abort)
    try:
        return run_workload(args)
    finally:
        signal.alarm(0)
        end_processes()


def run_workload(args) -> int:
    isolate_environment()
    from perfbench import layers
    from perfbench.oracle import Oracles
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    workload = WORKLOADS[args.workload]
    trace = bool(args.trace)

    import bench
    from disco_spark import registry
    from disco_spark.session import get_spark

    canary_before = layers.cpu_canary()
    ticks_before = layers.cpu_ticks()
    registry.load_all()
    oracles = Oracles(DATA, os.path.join(WORK, "oracle"))
    for name in workload.ops:
        oracles.expected(name)  # computed once per dataset, in no metric
    oracles.close()
    # the oracles are built on a first run only, which may take longer
    signal.alarm(RUN_LIMIT_S)
    wipe_stores(os.path.basename(DATA))
    stores_before = bench.store_states(DATA)

    t = time.perf_counter()
    spark = get_spark("perfbench", master=f"local[{nproc()}]")
    start_s = time.perf_counter() - t
    # a run that raises or is stopped skips the graceful stop: the caller's
    # ``end_processes`` ends the JVM and its workers
    bench_run = Bench(spark, workload, args.seed, oracles, trace)
    run = bench_run.run(trace)
    bench_run.close()
    peak_rss = layers.peak_rss_mb(os.getpid())
    provenance = {
        **source_rev(),
        "nproc": nproc(),
        "master": spark.sparkContext.master,
        "default_parallelism": bench_run.cores,
        "conf": {
            k: spark.conf.get(k, None)
            for k in (
                "spark.sql.shuffle.partitions",
                "spark.sql.adaptive.enabled",
                "spark.sql.adaptive.coalescePartitions.enabled",
                "spark.sql.autoBroadcastJoinThreshold",
            )
        },
        "graft_env": {k: v for k, v in os.environ.items() if k.startswith("SPARK_GRAFT_")},
        "stores_before": stores_before,
        "stores_after": bench.store_states(DATA),
    }
    stop_spark(spark)
    end_processes()
    ticks_after = layers.cpu_ticks()
    canary_after = layers.cpu_canary()

    summary = summarize(workload, run, start_s, peak_rss, bench_run.cores, trace)
    summary["end_to_end"]["failed_ops_frac"] = len(bench_run.failures) / max(1, bench_run.attempted)
    record = {
        "workload": workload.name,
        "seed": args.seed,
        "trace": args.trace,
        "seconds": args.seconds,
        "provenance": provenance,
        "canary_s": {"before": canary_before, "after": canary_after},
        # CPU time the hypervisor gave to other guests during the run
        "host_steal_frac": (ticks_after[1] - ticks_before[1]) / max(1, ticks_after[0] - ticks_before[0]),
        **summary,
        "passes": [[(r["op"], r["wall_s"], r["traced"]) for r in p] for p in run["passes"]],
        "index_store_layers_after_pass": run["layers_after_pass"],
        "span_self_s": bench_run.spans.self_time(),
        "failures": bench_run.failures,
    }
    stem = f"{workload.name}-seed{args.seed}-trace{args.trace}"
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", stem + ".json"), "w") as f:
        json.dump(record, f, indent=1)
    if trace:
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        with open(os.path.join(WORK, "traces", stem + ".json"), "w") as f:
            json.dump(bench_run.spans.rows, f)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if trace else "end_to_end"]
    values = summary["per_layer" if trace else "end_to_end"]
    print(json.dumps(record))
    print(json.dumps({
        "correct": not bench_run.failures,
        "attempted": bench_run.attempted,
        "failed": len(bench_run.failures),
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
