"""The benchmark's workloads: fixed lists of registered queries.

Every workload is one closed-loop client: it issues an op (one call of
``registry.QUERIES[name](spark, sf_dir)``, planned and collected) only after
the previous op returned. The seed permutes the op order within each pass
and changes nothing else.
"""

from __future__ import annotations

import random
from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    ops: tuple[str, ...]
    why: str
    # ops that write a persisted store or a scratch layout; every other op
    # of the workload is a read op
    writes: frozenset[str] = frozenset()
    # timed passes of a run: a fixed count keeps the sample count, and so
    # the medians, the same from run to run. ``op_tail_s`` is a percentile
    # above the median with 10 executions beyond it once ops x passes >= 22.
    passes: int = 4
    # untimed passes before the timed ones, all counted in ``setup_s``;
    # more than one where op walls still fall pass by pass after the first
    warm_passes: int = 1
    # ops whose first call builds a cold store (in the first warm pass)
    store_builders: tuple[str, ...] = ()


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            "kv_pipeline",
            (
                "classic_wordcount",
                "discodb_query_and",
                "source_netstring",
            ),
            "Disco's own surface: classic map/combine/reduce, DiscoDB CNF "
            "queries and a Disco input format, on the pandas-UDF workers",
            passes=8,
            # the pandas-UDF ops keep speeding up over the first passes
            warm_passes=3,
        ),
        Workload(
            "store_rw",
            (
                "ann_index_load_topk",
                "streaming_static_join_value_by_segment",
                "ann_index_delete_topk",
                "source_orc_roundtrip",
            ),
            "a persisted ANN index served beside its tombstone write, a "
            "micro-batch stream and a scratch-layout roundtrip",
            # the stream runs to a memory sink and persists nothing: a read
            writes=frozenset({"ann_index_delete_topk", "source_orc_roundtrip"}),
            passes=4,
            # both serve the one shared index; whichever runs first builds it
            store_builders=("ann_index_load_topk", "ann_index_delete_topk"),
        ),
    )
}


def pass_order(workload: Workload, seed: int, pass_no: int) -> list[str]:
    """The op order of one pass: a permutation drawn from (seed, pass)."""
    ops = list(workload.ops)
    random.Random(f"{workload.name}:{seed}:{pass_no}").shuffle(ops)
    return ops
