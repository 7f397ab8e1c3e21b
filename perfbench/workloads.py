"""Session settings, input generation and the benchmark's workloads.

Every workload derives its graphs from a synthetic ``events`` table made from
the seed, so a run needs nothing outside the checkout. The table has the
shape of the engine's sf0.1 test data: 100,000 events in time order, 1,500
conversations (``user_id``) of about 67 events each, 5 event types.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F

from parallel_pagerank_spark import EngineConfig, PageRankConfig, get_spark
from parallel_pagerank_spark.operators.components import large_star_small_star
from parallel_pagerank_spark.operators.labelprop import label_propagation
from parallel_pagerank_spark.operators.pagerank import pagerank
from parallel_pagerank_spark.operators.triangles import triangle_count
from parallel_pagerank_spark.sources.events import (
    cooccurrence_edges,
    event_graph_edges,
)

from . import oracle

# Pinned session: at most nproc task threads in one process, a heap that fits
# a 15 GB host next to other jobs, and one GC with a fixed thread count.
TASK_THREADS = min(4, os.cpu_count() or 1)
SHUFFLE_PARTITIONS = 4
DRIVER_HEAP = "3g"
GC_FLAGS = f"-XX:+UseParallelGC -XX:ParallelGCThreads={TASK_THREADS}"
# -Xms commits the whole heap that spark.driver.memory caps, so heap growth
# does not vary by run; no hsperfdata file, so the JVM writes nothing in /tmp
JVM_FLAGS = f"-Xms{DRIVER_HEAP} {GC_FLAGS} -XX:-UsePerfData"

N_EVENTS = 100_000
N_USERS = 1_500
EVENT_TYPES = ("view", "click", "signup", "purchase", "error")
START_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
GAP_US = 25_000_000  # mean spacing; 100k events span about 29 days

# One PageRank truncation cycle: the engine truncates lineage every 5th
# superstep and the plan doubles in between, so capped runs use whole cycles.
SUPERSTEPS = 5
LPA_STEPS = 5


def start_session(work_dir: str) -> SparkSession:
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{TASK_THREADS}]",
        config=EngineConfig(shuffle_partitions=SHUFFLE_PARTITIONS),
        extra_conf={
            "spark.driver.memory": DRIVER_HEAP,
            "spark.driver.extraJavaOptions": (
                f"{JVM_FLAGS} -Djava.io.tmpdir={work_dir}/tmp"
            ),
            "spark.local.dir": f"{work_dir}/spark-local",
            "spark.sql.warehouse.dir": f"{work_dir}/warehouse",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def generate_events(spark: SparkSession, seed: int) -> DataFrame:
    """``(event_id, ts, user_id, event_type)``; ``ts`` strictly increases
    with ``event_id``, conversation and type are hashed from the seed."""

    def h(k: int):
        return F.xxhash64(F.col("id"), F.lit(seed), F.lit(k))

    types = F.array(*[F.lit(t) for t in EVENT_TYPES])
    return spark.range(N_EVENTS).select(
        F.col("id").alias("event_id"),
        F.timestamp_micros(
            F.lit(START_US) + F.col("id") * GAP_US + F.pmod(h(0), F.lit(GAP_US))
        ).alias("ts"),
        F.pmod(h(1), F.lit(N_USERS)).alias("user_id"),
        F.element_at(
            types, (F.pmod(h(2), F.lit(len(EVENT_TYPES))) + 1).cast("int")
        ).alias("event_type"),
    )


@dataclass
class Call:
    """One operator call of a pass and the oracle check of its result."""

    name: str
    run: Callable[[dict], object]
    check: Callable[[object, dict], None]


@dataclass
class Workload:
    name: str
    derive: Callable[[DataFrame], dict[str, DataFrame]]
    expect: Callable[[dict[str, tuple[np.ndarray, np.ndarray]]], dict]
    calls: list[Call]
    # untimed passes before the timed one: the routed PageRank call keeps
    # getting faster for several passes, the distributed loop after one
    warmup_passes: int = 1


def _graph(events: DataFrame) -> dict[str, DataFrame]:
    return {"graph": event_graph_edges(events)}


def _graph_and_cooc(events: DataFrame) -> dict[str, DataFrame]:
    return {
        "graph": event_graph_edges(events),
        "cooc": cooccurrence_edges(events, 2),
    }


def _n(src: np.ndarray, dst: np.ndarray) -> int:
    return int(max(src.max(), dst.max())) + 1


def _superstep_config(ctx: dict) -> PageRankConfig:
    return PageRankConfig(
        spmv_mode="shuffle",
        tol=0.0,
        max_iter=SUPERSTEPS,
        checkpoint_dir=ctx["checkpoint_dir"],
    )


def _expect_superstep(arrays) -> dict:
    src, dst = arrays["graph"]
    n = _n(src, dst)
    ranks, iters = oracle.pagerank_reference(
        src, dst, n, tol=0.0, max_iter=SUPERSTEPS
    )
    return {"ranks": ranks, "iterations": iters}


def _expect_routed(arrays) -> dict:
    src, dst = arrays["graph"]
    n = _n(src, dst)
    ranks, iters = oracle.pagerank_reference(src, dst, n)
    return {
        "ranks": ranks,
        "iterations": iters,
        "components": oracle.components_reference(src, dst, n),
        "lpa": oracle.labelprop_reference(src, dst, n, LPA_STEPS),
        "triangles": oracle.triangles_reference(*arrays["cooc"]),
    }


def _check_ranks(r, exp):
    oracle.check_ranks(r, exp["ranks"], exp["iterations"])


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="events-superstep",
            derive=_graph,
            expect=_expect_superstep,
            calls=[
                Call(
                    "pagerank",
                    lambda c: pagerank(c["graph"], config=_superstep_config(c)),
                    _check_ranks,
                ),
                Call(
                    "resume",
                    lambda c: pagerank(
                        c["graph"], config=_superstep_config(c), resume=True
                    ),
                    _check_ranks,
                ),
            ],
        ),
        Workload(
            name="events-routed",
            warmup_passes=2,
            derive=_graph_and_cooc,
            expect=_expect_routed,
            calls=[
                Call("pagerank", lambda c: pagerank(c["graph"]), _check_ranks),
                Call(
                    "components",
                    lambda c: large_star_small_star(c["graph"]),
                    lambda r, exp: oracle.check_labels(
                        r.components, "component", exp["components"]
                    ),
                ),
                Call(
                    "labelprop",
                    lambda c: label_propagation(c["graph"], max_iter=LPA_STEPS),
                    lambda r, exp: oracle.check_labels(r.labels, "label", exp["lpa"]),
                ),
                Call(
                    "triangles",
                    lambda c: triangle_count(c["cooc"]),
                    lambda r, exp: oracle.check_equal(
                        r, exp["triangles"], "triangle count"
                    ),
                ),
            ],
        ),
    )
}

