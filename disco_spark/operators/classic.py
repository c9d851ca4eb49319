"""Classic MapReduce compat layer: ``DiscoJob(map=..., reduce=...)``
lowered onto DataFrame operations, exactly as SURVEY.md §3.1 maps the
reference lifecycle (lib/disco/job.py Job.run → jobpack → pipeline):

    map / map_init / combiner  →  mapInPandas   (one pass, streaming)
    partition(key, n, params)  →  repartition(n, key) when default
                                  (JVM hash shuffle, no Python); custom
                                  partitioners compute a label column in
                                  a pandas UDF, then repartition(n, label)
    sort=True                  →  sortWithinPartitions(key)  (per-group
                                  byte order; reference unix sort
                                  LC_ALL=C ≡ unsigned byte compare on
                                  BinaryType keys — lib/disco/util.py:319-388)
    reduce / reduce_init       →  mapInPandas over the shuffled stream
                                  (a reduce task consumes its whole
                                  label group, matching
                                  lib/disco/worker/classic/worker.py:373-395)

Reference contracts mirrored (not copied):
- map returns an iterable of (k, v)        func.py:20-37
- combiner(key, val, buf, done, params)    func.py:48-71; flush policy is
  the worker's (classic/worker.py:346-354) — we flush every
  COMBINER_FLUSH_EVERY records to bound memory.
- reduce(iter, out, params) or reduce2(iter, params) -> iterable
                                           func.py:73-114

Scale notes: both phases stream Arrow batches — no label group is ever
materialized on the driver; the only shuffle is the one the reference
also does (map→reduce). With the default partitioner the shuffle key is
the record key, so Catalyst plans a plain hash exchange and map-side
work stays in one python worker pass (map+combiner fused).
"""

from __future__ import annotations

import inspect
from collections.abc import Callable, Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from disco_spark.functions.library import kvify
from disco_spark.session import default_parallelism

OUT_BATCH = 10_000
COMBINER_FLUSH_EVERY = 100_000

_SIZE_SUFFIX = {"b": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def _parse_bytes(raw: str) -> int:
    """'134217728', '134217728b', '128m', '128mb', '1g' -> bytes."""
    s = str(raw).strip().lower()
    if s.endswith("b") and len(s) >= 2 and s[-2] in _SIZE_SUFFIX:
        s = s[:-1]  # two-letter suffix: kb/mb/gb/tb
    mult = 1
    if s and s[-1] in _SIZE_SUFFIX:
        mult = _SIZE_SUFFIX[s[-1]]
        s = s[:-1]
    return int(s) * mult


class _OOBDictParam:
    """AccumulatorParam merging OOB key->value dicts (duck-typed; pyspark
    only calls zero/addInPlace). Same-key puts keep the later write, like
    the reference's OOB blob overwrite (lib/disco/task.py:122-145); since
    a retried task re-puts identical values, merge is idempotent under
    Spark task retries."""

    def zero(self, value):
        return {}

    def addInPlace(self, a, b):
        a.update(b)
        return a


class _Out:
    """reduce's ``out.add(k, v)`` collector (reference func.py:73-91)."""

    __slots__ = ("rows",)

    def __init__(self):
        self.rows: list[tuple] = []

    def add(self, k, v):
        self.rows.append((k, v))


def _rows_of(pdf: pd.DataFrame) -> Iterator[tuple]:
    return zip(*(pdf[c] for c in pdf.columns)) if len(pdf.columns) > 1 else (
        (v,) for v in pdf[pdf.columns[0]]
    )


def _rebatch(pairs: Iterable[tuple], columns=("key", "value")) -> Iterator[pd.DataFrame]:
    buf: list[tuple] = []
    for p in pairs:
        buf.append(p)
        if len(buf) >= OUT_BATCH:
            yield pd.DataFrame(buf, columns=list(columns))
            buf = []
    if buf:
        yield pd.DataFrame(buf, columns=list(columns))


class DiscoJob:
    """Classic-API job over DataFrames.

    ``input`` rows become map entries: a single-column row passes the bare
    value, a (key, value) row passes the pair, anything else passes the
    row tuple (reference readers produce exactly these shapes;
    disco.util.kvify pads bare values — lib/disco/util.py:112-113).

    ``map_output`` / ``reduce_output`` are Spark DDL schema strings for
    the emitted (key, value) pairs — the compat layer is typed so results
    stay columnar (Parquet/Tungsten) instead of pickled blobs.
    """

    def __init__(
        self,
        *,
        map: Callable | None = None,
        map_init: Callable | None = None,
        combiner: Callable | None = None,
        reduce: Callable | None = None,
        reduce_init: Callable | None = None,
        partition: Callable | None = None,
        partitions: int | None = None,
        sort: bool = False,
        save: str | None = None,
        oob: bool = False,
        params=None,
        map_output: str = "key string, value bigint",
        reduce_output: str = "key string, value bigint",
    ):
        self.map = map
        self.map_init = map_init
        self.combiner = combiner
        self.reduce = reduce
        self.reduce_init = reduce_init
        self.partition = partition
        self.partitions = partitions
        self.sort = sort
        self.save = save
        self.oob = oob
        self._oob_acc = None
        self.params = params
        self.map_output = map_output
        self.reduce_output = reduce_output

    # -- map + combiner (fused, one python worker pass) ------------------
    def _map_stage(self, df: DataFrame) -> DataFrame:
        user_map, user_init = self.map, self.map_init
        user_combiner, params = self.combiner, self.params

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            inited = False
            buf: dict = {}
            pending = 0

            def mapped():
                nonlocal inited, pending
                for pdf in batches:
                    rows = _rows_of(pdf)
                    if not inited:
                        rows = iter(list(rows))  # entries survive init skip
                        if user_init is not None:
                            user_init(rows, params)
                        inited = True
                    for row in rows:
                        entry = row[0] if len(row) == 1 else tuple(row)
                        for out in user_map(entry, params):
                            yield kvify(out)

            if user_combiner is None:
                yield from _rebatch(mapped())
                return

            def combined():
                nonlocal pending
                for k, v in mapped():
                    user_combiner(k, v, buf, False, params)
                    pending += 1
                    if pending >= COMBINER_FLUSH_EVERY:
                        yield from (user_combiner(None, None, buf, True, params) or ())
                        buf.clear()
                        pending = 0
                yield from (user_combiner(None, None, buf, True, params) or ())

            yield from _rebatch(combined())

        return df.mapInPandas(run, schema=self.map_output)

    # -- shuffle ----------------------------------------------------------
    def _shuffle(self, df: DataFrame) -> DataFrame:
        n = self.partitions
        if self.partition is None:
            # default_partition co-locates equal keys; Spark's JVM hash
            # exchange provides the same guarantee with zero Python cost.
            return df.repartition(n, "key") if n else df.repartition("key")
        user_part, params, nparts = self.partition, self.params, n or 32

        @F.pandas_udf("int")
        def label_of(keys: pd.Series) -> pd.Series:
            return keys.map(lambda k: int(user_part(k, nparts, params)))

        labeled = df.withColumn("__label", label_of(F.col("key")))
        return labeled.repartition(nparts, "__label").drop("__label")

    # -- reduce -----------------------------------------------------------
    def _reduce_stage(self, df: DataFrame) -> DataFrame:
        user_reduce, user_init, params = self.reduce, self.reduce_init, self.params
        # reduce2 variant (iter, params) returns an iterable of pairs
        # (reference func.py:93-114); reduce (iter, out, params) uses out.add.
        is_reduce2 = len(inspect.signature(user_reduce).parameters) == 2

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            def kvstream():
                first = True
                for pdf in batches:
                    rows = _rows_of(pdf)
                    if first:
                        rows = iter(list(rows))
                        if user_init is not None:
                            user_init(rows, params)
                        first = False
                    yield from rows

            stream = kvstream()
            if is_reduce2:
                yield from _rebatch(kvify(p) for p in user_reduce(stream, params))
            else:
                out = _Out()
                user_reduce(stream, out, params)
                yield from _rebatch(out.rows)

        return df.mapInPandas(run, schema=self.reduce_output)

    # -- input fan-out ----------------------------------------------------
    @staticmethod
    def _fan_out(df: DataFrame) -> DataFrame:
        """Spread a low-parallelism input across the cluster before the
        Python map pass (the reference splits map input per 64 MB blob —
        worker.py task-per-input; one small parquet file arriving as ONE
        Spark partition would serialize the whole map through one python
        worker). Decided from Catalyst's size estimate (a ~10 ms driver
        probe — converting to an RDD to count partitions costs 50x that):
        when the input would scan as fewer splits than cores, repartition;
        at real scale the estimate exceeds the threshold and this is a
        no-op, so no shuffle is added to big jobs."""
        spark = df.sparkSession
        try:
            # sparkContext/_jdf are absent under Spark Connect — any failure
            # here means "can't estimate", and the safe fallback is to leave
            # the input untouched (never inject a full shuffle of an input
            # of unknown size).
            target = default_parallelism(spark)
            est_bytes = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
            max_split = _parse_bytes(
                spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
            )
        except Exception:
            return df  # stats unavailable: leave partitioning as-is
        est_splits = max(1, est_bytes // max_split)
        # only worth a shuffle when the input is BOTH badly under-split
        # (< half the cores) and small enough that moving it is cheap
        if est_splits < max(1, target // 2) and est_bytes < (1 << 30):
            return df.repartition(target)
        return df

    def run(self, input: DataFrame) -> DataFrame:
        """Execute the job plan lazily; returns the result DataFrame
        (the reference's ``job.wait()`` + ``result_iterator`` collapse to
        ordinary DataFrame actions — SURVEY §3.1 steps 7-8).
        """
        df = input
        if self.oob:
            self._attach_oob(input.sparkSession)
        if self.map is not None:
            df = self._map_stage(self._fan_out(df))
        if self.reduce is not None:
            df = self._shuffle(df)
            if self.sort:
                df = df.sortWithinPartitions("key")
            df = self._reduce_stage(df)
        if self.save:
            # save=True in the reference persists results under a
            # `disco:results:<job>` DDFS tag (job_coordinator.erl:370-407);
            # here `save='tag'` publishes to the tag catalog.
            from disco_spark.sources.catalog import TagCatalog

            TagCatalog(df.sparkSession).push(self.save, df, mode="overwrite")
            return df.sparkSession.table(self.save)
        return df


    # -- OOB side-channel --------------------------------------------------
    # Reference tasks call the globals put(key, blob)/get(key) and clients
    # call job.oob_get/oob_list over HTTP (lib/disco/task.py:122-145,
    # lib/disco/util.py:301-311; tests/test_oob.py). Spark mapping:
    # executor-side puts flow through a dict-merge accumulator (the one
    # sanctioned executor->driver side-channel that doesn't shuffle or
    # collect data rows); within-job cross-stage get is subsumed by the
    # shuffle itself — reduce already receives the mapped records, so
    # the OOBJob1-style `assert v == get(k)` contract is the shuffle's
    # delivery guarantee. Cross-JOB get (load_oob) is `other_job.oob_get`
    # after that job's action, same as the reference's completed-job read.
    def _attach_oob(self, spark) -> None:
        from disco_spark.functions.library import Params

        acc = spark.sparkContext.accumulator({}, _OOBDictParam())
        self._oob_acc = acc
        # copy the caller's params bag: rebinding oob_put on a SHARED
        # Params would cross-wire puts between jobs (last run() wins)
        self.params = Params(**(self.params.__dict__ if self.params else {}))
        self.params.oob_put = lambda k, v: acc.add({k: v})

    def oob_list(self) -> list:
        """OOB keys put so far (valid after an action on the result —
        accumulators materialize on job completion, like the reference's
        results-ready barrier)."""
        return sorted(self._oob_acc.value) if self._oob_acc is not None else []

    def oob_get(self, key):
        return self._oob_acc.value[key] if self._oob_acc is not None else None


def load_oob(job: "DiscoJob", key):
    """Read a completed job's OOB blob (reference lib/disco/util.py:301-311
    ``load_oob(master, jobname, key)`` — the cross-JOB read path used by
    tests/test_oob.py OOBJob2). Here the completed job object IS the
    handle; ship the returned value into a later job via Params or a
    broadcast, exactly as the reference ships it via the master URL."""
    return job.oob_get(key)


def disco_job(**kwargs) -> DiscoJob:
    """Convenience constructor mirroring ``disco.job.Job`` keyword style."""
    return DiscoJob(**kwargs)


class JobChain(dict):
    """Dependency-ordered multi-job execution, mirroring the reference's
    ``JobChain`` (lib/disco/job.py:155-190: a dict {job: inputs} where an
    input may be another job, run with ``.run().wait()``).

    Here inputs are DataFrames or other ``DiscoJob`` keys of the same
    chain; multiple inputs are unioned (the reference concatenates input
    URL lists). An intermediate consumed by more than one downstream job
    is ``persist()``-ed so the chain computes it once — the Spark analog
    of each reference job materializing results to DDFS.

        chain = JobChain({
            j1: [df_a],
            j2: [df_b],
            j3: [j1, j2],
        })
        result = chain.run()[j3]   # DataFrame of the sink job
    """

    def run(self) -> dict[DiscoJob, DataFrame]:
        results: dict[DiscoJob, DataFrame] = {}
        fanout: dict[DiscoJob, int] = {}
        for inputs in self.values():
            for dep in inputs:
                if isinstance(dep, DiscoJob):
                    fanout[dep] = fanout.get(dep, 0) + 1

        def resolve(job: DiscoJob, seen: tuple) -> DataFrame:
            if job in results:
                return results[job]
            if job in seen:
                raise ValueError("cycle in JobChain")
            dfs = [
                resolve(d, seen + (job,)) if isinstance(d, DiscoJob) else d
                for d in self[job]
            ]
            df = dfs[0]
            for other in dfs[1:]:
                df = df.unionAll(other)
            out = job.run(df)
            if fanout.get(job, 0) > 1:
                out = out.persist()
            results[job] = out
            return out

        for job in self:
            resolve(job, ())
        return results

    def wait(self) -> dict[DiscoJob, DataFrame]:
        """Reference API parity: run() is already lazy-DataFrame cheap;
        wait() just returns the same mapping."""
        return self.run()
