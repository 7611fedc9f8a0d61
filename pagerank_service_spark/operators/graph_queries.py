"""Graph algorithms exposed through the ``queries()`` contract.

These run over the customer->supplier interaction graph derived from
the relational tables (see ``extract_edges_relational``). Every kernel
now carries a DuckDB oracle (oracles.py): closure/self-join SQL for
CC/BFS/triangles, and fixed-iteration unrolled SQL for PageRank and
label propagation — the ``queries()`` entries run the engine at the
same fixed iteration count (tol=0), so the driver checks
iteration-for-iteration cross-engine equality. Convergence-to-tol mode
is exercised by the pytest oracles (tests/test_pagerank.py) and the
bench.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession, functions as F

from .. import oracles
from ..registry import FRONT, TAIL, load, op
from .relational import extract_edges_relational

# fixed iteration counts shared by engine + SQL oracle per query
REF_ITERS = 30
STD_ITERS = 25
SYM_ITERS = 20
AGF_ITERS = 15
LP_ITERS = 10


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    return extract_edges_relational(spark, sf_dir).select(
        "src", "dst", F.col("weight").cast("double").alias("weight")
    )


@contextmanager
def _persisted_edges(spark: SparkSession, sf_dir: str) -> Iterator[DataFrame]:
    """``_edges``, persisted for one CC, LP or triangle call: those read
    their input twice (the size dispatch's count, then the kernel), and
    this lineage is a join plus an aggregate. Their results are
    checkpoints, so the input may go when the call returns."""
    e = _edges(spark, sf_dir).persist()
    try:
        yield e
    finally:
        e.unpersist()


def _edges_symbol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-symbol subset (network_util.py:508-527 analogue): the same
    interaction graph restricted to one partition of the fact table."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "N")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy(F.col("o_custkey").alias("src"), F.col("l_suppkey").alias("dst"))
        .agg(F.round(F.sum("l_quantity"), 4).alias("weight"))
        .filter(F.col("weight") > 0)
        .select("src", "dst", F.col("weight").cast("double").alias("weight"))
    )


@op(
    "pagerank_reference",
    survey_ids="§2.9 weighted PageRank (network_util.py:503-724)",
    oracle=oracles.pagerank_reference_sql(REF_ITERS),
)
def pagerank_reference(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..graph.pagerank import pagerank

    res = pagerank(_edges(spark, sf_dir), mode="reference", tol=0.0,
                   max_iter=REF_ITERS)
    return res.ranks.select("vid", F.round("rank", 6).alias("rank"))


@op(
    "pagerank_standard",
    survey_ids="§2.9 damped PageRank (north-rule generic mode)",
    oracle=oracles.pagerank_standard_sql(STD_ITERS),
)
def pagerank_standard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..graph.pagerank import pagerank

    res = pagerank(_edges(spark, sf_dir), mode="standard", tol=0.0,
                   max_iter=STD_ITERS)
    return res.ranks.select("vid", F.round("rank", 6).alias("rank"))


@op(
    "per_symbol_pagerank",
    survey_ids="§2.9 per-symbol PageRank (network_util.py:508-527, "
               "calcalate_util.py:126-133)",
    oracle=oracles.pagerank_reference_sql(SYM_ITERS,
                                          edges_sql=oracles.EDGES_SYMBOL_SQL),
)
def per_symbol_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..graph.pagerank import pagerank

    res = pagerank(_edges_symbol(spark, sf_dir), mode="reference", tol=0.0,
                   max_iter=SYM_ITERS)
    return res.ranks.select("vid", F.round("rank", 6).alias("rank"))


@op(
    "agf_daily",
    survey_ids="§3.1 daily composition: PR -> AGF multiplier cap + "
               "renormalize -> rewards (calcalate_util.py:149-197, "
               "earnings_pr_job.py:89-121)",
    oracle=oracles.agf_daily_sql(AGF_ITERS),
)
def agf_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..graph.pagerank import pagerank

    res = pagerank(_edges(spark, sf_dir), mode="reference", tol=0.0,
                   max_iter=AGF_ITERS)
    c = load(spark, sf_dir, "customer")
    m = c.select(
        F.col("c_custkey").alias("vid"),
        F.when(F.col("c_acctbal") / 1000.0 > 1.5, 1.0)
        .otherwise(F.greatest(F.col("c_acctbal") / 1000.0, F.lit(0.1)))
        .alias("mult"),
    )
    adj = res.ranks.join(m, "vid", "left").select(
        "vid", (F.col("rank") * F.coalesce("mult", F.lit(1.0))).alias("v")
    )
    total = adj.agg(F.sum("v").alias("_t"))
    return (
        adj.join(F.broadcast(total))
        .select(
            "vid",
            F.round(F.col("v") / F.col("_t") * 10000.0, 6).alias("amount"),
        )
        .filter(F.col("amount") > 0)
    )


@op(
    "connected_components",
    survey_ids="§2.9 CC via min-label hash-join propagation",
    oracle=oracles.connected_components_sql(),
)
def connected_components_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..graph.components import connected_components

    with _persisted_edges(spark, sf_dir) as e:
        return connected_components(e).components


@op(
    "connected_components_star",
    survey_ids="§2.9 CC via large-star/small-star edge rewriting "
               "(contracting edge set — the 10^11-edge formulation)",
    priority=TAIL,  # r06 rotation: fresh r05 green row -> rotate out
    oracle=oracles.connected_components_sql(),
)
def connected_components_star_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..graph.components import connected_components_star

    return connected_components_star(_edges(spark, sf_dir)).components


@op(
    "label_propagation",
    survey_ids="§2.9 LP weighted plurality",
    oracle=oracles.label_propagation_sql(LP_ITERS),
)
def label_propagation_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..graph.labelprop import label_propagation

    with _persisted_edges(spark, sf_dir) as e:
        return label_propagation(e, max_iter=LP_ITERS).labels


@op(
    "triangle_count",
    survey_ids="§2.9/J11 degree-ordered triangle counting",
    oracle=oracles.triangle_count_sql(),
)
def triangle_count_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..graph.triangles import triangle_counts

    with _persisted_edges(spark, sf_dir) as e:
        return triangle_counts(e).per_vertex


@op(
    "bfs_distances",
    survey_ids="J10 bounded BFS distance (network_util.py:294-307)",
    oracle=oracles.bfs_distances_sql(),
)
def bfs_distances_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..graph.bfs import bfs_distances

    e = _edges(spark, sf_dir)
    top = e.groupBy("src").agg(F.sum("weight").alias("w")).orderBy(
        F.desc("w"), F.asc("src")
    ).first()
    return bfs_distances(e, [int(top["src"])], max_hops=21, directed=False)


_CUTOFF = "1998-01-01"


@op(
    "contract_lifecycle_edges",
    survey_ids="§3.1 contract lifecycle: additions minus rescissions, "
               "re-priced at the day's deadline (lifecycle.py semantics "
               "— build/remove_transactions + _build_network recompute — "
               "rendered over the relational tables)",
    # r05: green r04 row; rotated FRONT->DEFAULT (still in window)
    oracle=f"""
    WITH removals AS (
      SELECT l_orderkey, l_linenumber FROM lineitem
      WHERE l_returnflag = 'R' AND l_shipdate::DATE <= DATE '{_CUTOFF}'),
    active AS (
      SELECT o.o_custkey, li.l_suppkey, li.l_extendedprice,
             datediff('day', o.o_orderdate::DATE, DATE '{_CUTOFF}') + 2
               AS duration
      FROM orders o JOIN lineitem li ON li.l_orderkey = o.o_orderkey
      WHERE o.o_orderdate::DATE <= DATE '{_CUTOFF}'
        AND NOT EXISTS (SELECT 1 FROM removals r
                        WHERE r.l_orderkey = li.l_orderkey
                          AND r.l_linenumber = li.l_linenumber))
    SELECT o_custkey AS src, l_suppkey AS dst,
           ROUND(SUM(l_extendedprice * LN(duration)), 4) AS weight
    FROM active GROUP BY o_custkey, l_suppkey
    """,
)
def contract_lifecycle_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lifecycle day roll as a driver-checkable relational query:
    lineitems are contracts between customer and supplier, a returned
    lineitem (l_returnflag='R') shipped by the cutoff is a rescission
    (``remove_transactions``), and every still-active contract is
    re-priced with the cutoff-grown duration (``_build_network``'s
    daily S recompute) before collapsing to weighted directed edges.
    The stateful multi-day form of the same semantics lives in
    lifecycle.run_daily_lifecycle (pytest-oracled in
    tests/test_lifecycle.py — hand-computed weights, removals, and
    distance feeding)."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    cutoff = F.lit(_CUTOFF).cast("date")
    # filter on the raw timestamp (date <= D  <=>  ts < D+1 day) so the
    # predicate pushes down to the parquet scan — a cast(col AS date)
    # in the filter would block PushedFilters
    cutoff_excl = F.date_add(cutoff, 1).cast("timestamp")
    removals = li.filter(
        (F.col("l_returnflag") == "R") & (F.col("l_shipdate") < cutoff_excl)
    ).select("l_orderkey", "l_linenumber")
    active = (
        o.filter(F.col("o_orderdate") < cutoff_excl)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(removals, ["l_orderkey", "l_linenumber"], "left_anti")
        .select(
            "o_custkey", "l_suppkey", "l_extendedprice",
            (F.datediff(cutoff, F.col("o_orderdate").cast("date")) + 2)
            .alias("duration"),
        )
    )
    return active.groupBy(
        F.col("o_custkey").alias("src"), F.col("l_suppkey").alias("dst")
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * F.log("duration")), 4)
        .alias("weight")
    )


_N_REPO_FILES = 1000
_FPR = 100
# ground-truth oracle: re-derive the import graph from the generative
# rule of datagen.repos_sql_df (md5-based, engine-independent) — the
# Spark side must recover exactly this via regex extraction +
# dictionary encoding + collapse
_H = "('0x' || substring(md5({x}), 1, 15))::BIGINT"
_REPOS_ORACLE = f"""
WITH files AS (SELECT i FROM generate_series(0, {_N_REPO_FILES - 1}) AS g(i)),
imps AS (
  SELECT i, ({_H.format(x="'t:' || i || ':' || j")}) % {_N_REPO_FILES} AS t
  FROM files,
       UNNEST(generate_series(0, (1 + (({_H.format(x="'k:' || i")}) % 6)) - 1))
         AS jj(j)),
named AS (
  SELECT 'org0/repo' || (i // {_FPR}) || '/src/mod_' ||
           lpad((i % {_FPR})::VARCHAR, 3, '0') || '.py' AS src_file,
         'org0/repo' || (t // {_FPR}) || '/src/mod_' ||
           lpad((t % {_FPR})::VARCHAR, 3, '0') || '.py' AS dst_file
  FROM imps WHERE t <> i)
SELECT src_file, dst_file, COUNT(*)::DOUBLE AS weight
FROM named GROUP BY src_file, dst_file
"""


@op(
    "repos_edge_extraction",
    survey_ids="§1.3 repos -> edges (reader_util.py analogue)",
    oracle=_REPOS_ORACLE,
)
def repos_edge_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full input_hint pipeline on a SQL-reproducible synthetic repos
    table: generate, regex-extract references, dictionary-encode,
    collapse to weighted edges, then map vids back to file names so the
    DuckDB oracle (which re-derives the ground-truth import graph from
    the generative rule) can compare."""
    from ..datagen import repos_sql_df
    from ..extract import build_edges

    repos = repos_sql_df(spark, n_files=_N_REPO_FILES, files_per_repo=_FPR)
    verts, edges = build_edges(repos)
    vs = verts.select(F.col("vid").alias("src"),
                      F.concat_ws("/", "repo", "path").alias("src_file"))
    vd = verts.select(F.col("vid").alias("dst"),
                      F.concat_ws("/", "repo", "path").alias("dst_file"))
    return edges.join(vs, "src").join(vd, "dst").select(
        "src_file", "dst_file", "weight"
    )
