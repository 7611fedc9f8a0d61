"""Shared driver-side iteration harness for the graph algorithms.

Loops are outside Catalyst, so this is the one place the engine
hand-manages physical concerns (SURVEY.md §4):

* **lineage truncation** — each iteration's state DataFrame is
  ``localCheckpoint``'d by one job, which also returns the convergence
  metric and the next step's carry as observed metrics; without the
  checkpoint the plan grows by one join per iteration and the
  optimizer re-analyzes an ever-deeper tree (and executors
  eventually OOM on task binaries). Old checkpoint blocks are
  dereferenced each iteration and reclaimed by Spark's ContextCleaner /
  MEMORY_AND_DISK eviction.
* **code-stable scalars** — a value carried from one materialization
  into the next step's plan is bound as a ``spark.sql`` parameter and
  read through ``scalar``'s SQL, which keeps it inside an array literal,
  so whole-stage codegen compiles each stage once per loop shape, not
  once per value.
* **AQE and shuffle-partition pinning** — AQE re-plans (and
  re-coalesces) every iteration, flapping the partitioning the loop
  relies on; the loop toggles it off, and pins the shuffle partitions
  to the graph's partition count, for its duration and restores both
  afterwards. Runtime conf only — the relational operators outside
  loops keep AQE's skew-join handling.
* **resumable checkpoints** — every ``checkpoint_every`` iterations the
  state is also written to reliable storage (parquet) with a JSON
  manifest carrying iteration number, convergence metric, wall time and
  per-partition lineage (rows + key range + checksum per partition), so
  a killed job resumes exactly (north-rule requirement); the state read
  back on resume is checked against that lineage.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from collections.abc import Callable, Sequence
from dataclasses import dataclass, field

from pyspark.sql import (
    Column, DataFrame, Observation, SparkSession, functions as F,
)


@dataclass
class LoopResult:
    state: DataFrame
    iterations: int
    metric: float
    wall_secs: float
    metric_history: list[float] = field(default_factory=list)
    # wall seconds per iteration, its one job included — lets benches
    # separate steady-state iteration cost from first-iteration JIT/warmup
    iter_secs: list[float] = field(default_factory=list)


class aqe_disabled:
    """Context manager pinning AQE off inside iterative loops."""

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def __enter__(self):
        self.prev = self.spark.conf.get("spark.sql.adaptive.enabled", "true")
        self.spark.conf.set("spark.sql.adaptive.enabled", "false")
        return self

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.adaptive.enabled", self.prev)
        return False


class shuffle_partitions_pinned:
    """Pin spark.sql.shuffle.partitions for the duration of a loop.

    With AQE off inside loops, every groupBy/join exchange falls back to
    the session-wide shuffle partition count — typically sized for the
    big relational queries, which drowns a small graph's iterations in
    empty-task overhead. Loops pin it to the graph-sized count instead
    (the same number the persisted edge structure is partitioned by, so
    exchanges align end to end)."""

    def __init__(self, spark: SparkSession, p: int):
        self.spark = spark
        self.p = int(p)

    def __enter__(self):
        self.prev = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.spark.conf.set("spark.sql.shuffle.partitions", str(self.p))
        return self

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.shuffle.partitions", self.prev)
        return False


class temp_view:
    """A uniquely named temp view of ``df``, for a loop's SQL steps.

    ``spark.sql``'s DataFrame arguments are temp views that it drops
    again through ``catalog.dropTempView``, and that call also uncaches
    the DataFrame the view shows: a cached table passed that way is
    recomputed from its lineage by every later plan. A loop names its
    cached tables once instead, and drops the name through the session
    catalog, which leaves the cache alone."""

    def __init__(self, df: DataFrame):
        self.df = df
        self.name = f"_loop_{uuid.uuid4().hex}"

    def __enter__(self) -> str:
        self.df.createOrReplaceTempView(self.name)
        return self.name

    def __exit__(self, *exc):
        self.df.sparkSession._jsparkSession.sessionState().catalog() \
            .dropTempView(self.name)
        return False


def graph_partitions(spark: SparkSession, n_rows: int,
                     rows_per_partition: int = 75_000) -> int:
    """Data-sized partition count for a graph structure, in whole waves
    of the cluster's task slots.

    Iteration latency is task-overhead-bound for small partitions, so
    partitions are sized to ~75k edges (measured optimum on a 1.2M-edge
    loop on 32 cores: 16 partitions beat both 4 and 64 by ~2x). A count
    that does not fit in one wave of task slots is rounded down to whole
    waves: 7 partitions on 4 slots run as a full wave and a wave of 3,
    so each iteration waits for two waves and writes 49 shuffle blocks
    where 4 partitions take one wave and 16 blocks. Rounding down keeps
    partitions under 2 x ``rows_per_partition`` rows. The count is then
    floored at 4 (avoids single-partition skew) and capped at the
    session's shuffle partitions, which IS the cluster sizing knob: at
    10^11 edges the cap binds and partitions grow to the multi-million-
    edge sizes executor memory wants. When no executor has registered
    yet (0 slots), the ~75k-row count stands unrounded.

    The slots are the scheduler's, not ``sc.defaultParallelism``:
    sessions set ``spark.default.parallelism`` to the shuffle
    partitions (session.py), so it says nothing about the slots."""
    conf = int(spark.conf.get("spark.sql.shuffle.partitions"))
    p = n_rows // rows_per_partition + 1
    slots = _task_slots(spark)
    if 0 < slots < p:
        p = slots * (p // slots)
    return max(4, min(conf, p))


def _task_slots(spark: SparkSession) -> int:
    """Tasks the cluster runs at once under the default resource
    profile (4 at ``local[4]``); 0 before any executor registers."""
    sc = spark.sparkContext._jsc.sc()
    return int(sc.maxNumConcurrentTasks(
        sc.resourceProfileManager().defaultResourceProfile()))


def _key_checksum(key: str) -> Column:
    """An order-free checksum of a key column: the sum of its hashes."""
    return F.sum(F.xxhash64(key).cast("decimal(38,0)"))


def partition_lineage(df: DataFrame, key: str) -> list[dict]:
    """Per-partition lineage records for the checkpoint manifest."""
    rows = (
        df.groupBy(F.spark_partition_id().alias("pid"))
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.min(key).alias("min_key"),
            F.max(key).alias("max_key"),
            _key_checksum(key).cast("string").alias("key_checksum"),
        )
        .collect()
    )
    return [r.asDict() for r in rows]


def write_checkpoint(
    state: DataFrame,
    checkpoint_dir: str,
    iteration: int,
    metric: float,
    key: str,
    extra: dict | None = None,
) -> None:
    import math

    path = os.path.join(checkpoint_dir, f"iter_{iteration:06d}")
    state.write.mode("overwrite").parquet(path)
    manifest = {
        "iteration": iteration,
        # a run of no iterations has no metric; keep the manifest valid JSON
        "metric": metric if math.isfinite(metric) else None,
        "path": path,
        "wall_time": time.time(),
        "partitions": partition_lineage(state, key),
        **(extra or {}),
    }
    tmp = os.path.join(checkpoint_dir, "MANIFEST.json.tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1)
    os.replace(tmp, os.path.join(checkpoint_dir, "MANIFEST.json"))


def read_checkpoint(
    spark: SparkSession, checkpoint_dir: str, expect: dict | None = None,
    key: str = "vid",
) -> tuple[DataFrame, dict] | None:
    """The latest checkpoint's state and manifest, or None if there is none.

    Every ``expect`` key must equal the manifest's value: a checkpoint
    written for another graph or configuration raises ``ValueError``
    instead of resuming from foreign state. The state read back must
    also match the manifest's lineage: its row count and the sum of its
    ``key`` checksums against the totals of the per-partition records
    (totals, because partition ids change when parquet is read back).
    A mismatch, such as a lost part file, raises ``ValueError``; the
    check costs one job, on resume only."""
    mf = os.path.join(checkpoint_dir, "MANIFEST.json")
    if not os.path.exists(mf):
        return None
    with open(mf) as f:
        manifest = json.load(f)
    bad = {k: (manifest.get(k), v) for k, v in (expect or {}).items()
           if manifest.get(k) != v}
    if bad:
        raise ValueError(
            f"checkpoint in {checkpoint_dir} was written for a different "
            f"run; (manifest, current) per field: {bad}")
    state = spark.read.parquet(manifest["path"])
    parts = manifest["partitions"]
    want = (sum(int(p["rows"]) for p in parts),
            sum(int(p["key_checksum"]) for p in parts))
    with aqe_disabled(spark):
        row = state.agg(F.count(F.lit(1)), _key_checksum(key)).first()
    got = (int(row[0]), int(row[1] or 0))
    if got != want:
        raise ValueError(
            f"checkpoint {manifest['path']} does not match its manifest: "
            f"(rows, key checksum) read {got}, written {want}")
    return state, manifest


def scalar(param: str) -> str:
    """SQL for the double bound to the named parameter ``:param``, in a
    form whose generated code is the same for every bound value.

    A double literal is inlined into whole-stage generated code as a
    constant, so a loop that binds a new value each iteration would
    compile the stage afresh each time. An array literal is kept out of
    the code (in the stage's references), and indexing it by a
    non-foldable expression of the ``vid`` column stops constant
    folding from turning it back into a double literal. Bind the value
    as a float through ``spark.sql``'s ``args``, which types it
    DOUBLE."""
    return f"element_at(array(:{param}), CAST(vid * 0 + 1 AS INT))"


def run_loop(
    spark: SparkSession,
    state: DataFrame,
    step: Callable[[DataFrame, int, float | None], DataFrame],
    metric: Column,
    tol: float,
    max_iter: int,
    partitions: int,
    key: str = "vid",
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 10,
    start_iteration: int = 0,
    checkpoint_extra: dict | None = None,
    carry: Column | None = None,
    checkpoint_cols: Sequence[str] | None = None,
) -> LoopResult:
    """Iterate ``state = step(state, i, carried)`` until ``metric < tol``.

    ``step`` must be LAZY (pure plan construction, no actions).
    ``metric`` and ``carry`` are aggregate expressions over the state a
    step returns: the convergence metric, and an optional scalar the
    next step needs (e.g. PageRank's dangling mass). With a ``carry``,
    the input state is materialized once before the loop, with the
    carry observed, so every step gets the carry of the state it reads
    as a float ``carried``; without one, ``carried`` is None. A step
    that puts ``carried`` into its plan should bind it as a
    ``spark.sql`` parameter read through ``scalar``.

    Each iteration is ONE Spark job: an eager ``localCheckpoint`` of the
    step's state with ``metric`` and ``carry`` observed
    (``DataFrame.observe``), so the job that computes and caches the
    state also aggregates them as the rows go by, without an aggregate
    stage of its own. Convergence is checked, and the metric recorded,
    at every iteration; ``iter_secs`` holds each iteration's wall time,
    that job included. Checkpoints (every ``checkpoint_every``
    iterations and at the end) hold the state's ``checkpoint_cols``, or
    all of it. The loop's exchanges run with AQE off and at
    ``partitions`` shuffle partitions (the graph's layout, so they align
    with the persisted structure).
    """
    t0 = time.time()
    history: list[float] = []
    iter_secs: list[float] = []
    metric_value = float("inf")
    carried = None
    aggs = [metric.alias("metric")]
    if carry is not None:
        aggs.append(carry.alias("carry"))

    def materialize(df: DataFrame) -> tuple[DataFrame, dict]:
        # the one job: computes and caches the state, and returns its
        # metric and the next step's carry
        seen = Observation()
        return df.observe(seen, *aggs).localCheckpoint(eager=True), seen.get

    i = start_iteration
    with aqe_disabled(spark), shuffle_partitions_pinned(spark, partitions):
        if carry is not None:
            state, row = materialize(state)
            carried = row["carry"]
        while i < max_iter:
            tc = time.time()
            state, row = materialize(step(state, i, carried))
            carried = row.get("carry")
            i += 1
            # an aggregate over no rows (an empty state) is null
            metric_value = float(row["metric"] or 0.0)
            history.append(metric_value)
            iter_secs.append(time.time() - tc)
            done = metric_value < tol or i >= max_iter
            if checkpoint_dir and (done or i % checkpoint_every == 0):
                write_checkpoint(
                    state.select(*checkpoint_cols) if checkpoint_cols else state,
                    checkpoint_dir, i, metric_value, key, checkpoint_extra)
            if done:
                break
    return LoopResult(state, i, metric_value, time.time() - t0, history,
                      iter_secs)
