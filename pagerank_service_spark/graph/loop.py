"""Shared driver-side iteration harness for the graph algorithms.

Loops are outside Catalyst, so this is the one place the engine
hand-manages physical concerns (SURVEY.md §4):

* **lineage truncation** — each iteration's state DataFrame is
  ``localCheckpoint(eager=True)``'d; without this the plan grows by one
  join per iteration and the optimizer re-analyzes an ever-deeper tree
  (and executors eventually OOM on task binaries). Old checkpoint blocks
  are dereferenced each iteration and reclaimed by Spark's
  ContextCleaner / MEMORY_AND_DISK eviction.
* **AQE pinning** — AQE re-plans (and re-coalesces) every iteration,
  flapping the partitioning the loop relies on; we toggle it off for the
  duration of the loop and restore afterwards. Runtime conf only — the
  relational operators outside loops keep AQE's skew-join handling.
* **resumable checkpoints** — every ``checkpoint_every`` iterations the
  state is also written to reliable storage (parquet) with a JSON
  manifest carrying iteration number, convergence metric, wall time and
  per-partition lineage (rows + key range + checksum per partition), so
  a killed job resumes exactly (north-rule requirement).
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F


@dataclass
class LoopResult:
    state: DataFrame
    iterations: int
    metric: float
    wall_secs: float
    metric_history: list[float] = field(default_factory=list)
    # wall seconds per materialization (one entry per chunk of `chunk`
    # iterations) — lets benches separate steady-state iteration cost
    # from first-iteration JIT/warmup
    chunk_secs: list[float] = field(default_factory=list)


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


def graph_partitions(spark: SparkSession, n_rows: int,
                     rows_per_partition: int = 75_000) -> int:
    """Data-sized partition count for a graph structure.

    Iteration latency is task-overhead-bound for small partitions, so
    partitions are sized to ~75k edges (measured optimum on a 1.2M-edge
    loop: 16 partitions beat both 4 and 64 by ~2x), capped at the
    session's shuffle partitions — which IS the cluster sizing knob, so
    at 10^11 edges the cap binds and partitions grow to the multi-
    million-edge sizes executor memory wants. Floor of 4 avoids
    single-partition skew."""
    conf = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return max(4, min(conf, n_rows // rows_per_partition + 1))


def partition_lineage(df: DataFrame, key: str) -> list[dict]:
    """Per-partition lineage records for the checkpoint manifest."""
    rows = (
        df.groupBy(F.spark_partition_id().alias("pid"))
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.min(key).alias("min_key"),
            F.max(key).alias("max_key"),
            F.sum(F.xxhash64(key).cast("decimal(38,0)")).cast("string").alias(
                "key_checksum"
            ),
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
        # fixed-iteration mode has no metric; keep the manifest valid JSON
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
    spark: SparkSession, checkpoint_dir: str, expect: dict | None = None
) -> tuple[DataFrame, dict] | None:
    """The latest checkpoint's state and manifest, or None if there is none.

    Every ``expect`` key must equal the manifest's value: a checkpoint
    written for another graph or configuration raises ``ValueError``
    instead of resuming from foreign state."""
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
    return spark.read.parquet(manifest["path"]), manifest


def run_loop(
    spark: SparkSession,
    state: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    metric_fn: Callable[[DataFrame], float],
    tol: float,
    max_iter: int,
    key: str = "vid",
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 10,
    start_iteration: int = 0,
    checkpoint_extra: dict | None = None,
    chunk: int = 1,
    metric_every: int = 1,
) -> LoopResult:
    """Iterate ``state = step(state, i)`` until ``metric_fn(state) < tol``.

    ``step`` must be LAZY (pure plan construction, no actions) and return
    a DataFrame containing the metric column(s) ``metric_fn`` reads.

    ``chunk`` chains that many steps into ONE job before materializing
    (localCheckpoint) — the driver-side barrier (job scheduling, stage
    sync, checkpoint write) is a fixed serial cost per materialization,
    so amortizing it over k chained shuffles is what makes the loop's
    wall time scale with cores instead of with iteration count.
    Convergence is checked at chunk boundaries: the loop may overshoot
    convergence by up to chunk-1 iterations (strictly more converged).

    CAUTION: a step that references its input state more than once (the
    PageRank step uses it three times: message join, prev-rank channel,
    dangling semi-join) produces a chained LOGICAL plan of ~refs^chunk
    nodes — execution dedups via exchange reuse, but driver-side
    analysis/codegen does not, so cost explodes past chunk≈3 (measured:
    chunk=3 wins 1.6x at 1.2M edges; chunk=6 is 5x SLOWER; on tiny test
    graphs, where the driver IS the bottleneck, any chunk>1 loses).

    ``metric_every`` runs the convergence job only every k-th
    materialization — the metric is a full extra job per iteration, so
    on fast-converging loops this trades up to k-1 extra (strictly
    convergence-improving) iterations for k-fold fewer metric jobs.

    Job budget (round-6): in convergence mode (tol > 0) the chunk's
    ``localCheckpoint`` is LAZY and the next metric job materializes it
    — one driver job per metric point instead of one per chunk plus one
    per metric point (per-job scheduling latency is the serial floor of
    small-graph loops). Chunks between metric points stay pending as
    LogicalRDD leaves (plan depth per chunk is unchanged) and are
    computed, and their checkpoint blocks written, by that one job.
    Fixed-iteration mode (tol <= 0) keeps the EAGER per-chunk
    materialization: the scaling bench times exactly those per-chunk
    jobs (``chunk_secs``), which laziness would reduce to plan-build
    time. In convergence mode ``chunk_secs`` is therefore lumpy — lazy
    chunks near zero, the metric chunk carrying their work.
    """
    t0 = time.time()
    history: list[float] = []
    chunk_secs: list[float] = []
    metric = float("inf")
    i = start_iteration
    with aqe_disabled(spark):
        while i < max_iter:
            tc = time.time()
            n_steps = min(chunk, max_iter - i)
            new_state = state
            for j in range(n_steps):
                new_state = step(new_state, i + j)
            new_state = new_state.localCheckpoint(eager=(tol <= 0))
            i += n_steps
            run_metric = tol > 0 and (
                (i // max(chunk, 1)) % metric_every == 0 or i >= max_iter
            )
            if run_metric:
                metric = metric_fn(new_state)
                history.append(metric)
            chunk_secs.append(time.time() - tc)
            # tol<=0 = fixed-iteration mode: convergence can never fire,
            # so skip the per-chunk metric job entirely
            state = new_state
            if checkpoint_dir and (
                i % checkpoint_every < n_steps or i >= max_iter
            ):
                write_checkpoint(state, checkpoint_dir, i, metric, key,
                                 checkpoint_extra)
            if metric < tol:
                break
    if checkpoint_dir:
        write_checkpoint(state, checkpoint_dir, i, metric, key, checkpoint_extra)
    return LoopResult(state, i, metric, time.time() - t0, history, chunk_secs)
