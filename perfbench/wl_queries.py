"""The query suite: one-shot AQE-on plans from ``operators/`` and
``functions/``, run by traced ``zipf_pagerank`` runs for the ``query.*``
layers.

One pass over seeded tables (``tables.py``), always in the order of
``QUERIES``, with no warm-up: a batch job runs each of these plans once
per process, so the first execution (code generation, Python worker
start) is what its user waits for. The order is fixed because cold-start
costs land on whichever query runs first; the seed varies the tables
instead. Each result is collected with ``toPandas()`` inside its span
and afterwards compared with the query's DuckDB ``oracle_sql()`` by the
repository's parity gate (``tools/check_oracle_parity.compare``), which
passes only results equal after the query's own rounding.
"""

from __future__ import annotations

import os
import shutil
import sys

import tables
from harness import ROOT, WORK, Outcome

QUERIES = (
    "q1_pricing_summary", "extract_edges_relational", "range_join_tiers",
    "window_first_order", "netflow_ledger", "minhash_lsh_pairs",
    "simhash_near_dups", "ngram_jaccard_pairs", "cosine_topk_bruteforce",
    "ann_ivf_topk",
)


def run_suite(spark, tracer, seed: int, out: Outcome) -> None:
    """Run and check every query once, each inside a ``query.<name>``
    span; counts each check in ``out`` and adds the row counts to
    ``out.layers``. Call before ``tracer.finish()``."""
    import duckdb
    from pagerank_service_spark.registry import REGISTRY, all_queries

    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check_oracle_parity import compare

    fns = all_queries()
    data = os.path.join(WORK, f"tables-{seed}")
    tables.write_tables(data, seed)
    con = duckdb.connect()
    try:
        got = {}
        for name in QUERIES:
            with tracer.span(f"query.{name}"):
                got[name] = fns[name](spark, data).toPandas()
        for tname in tables.TABLES:
            con.execute(f"CREATE VIEW {tname} AS SELECT * FROM "
                        f"'{os.path.join(data, tname)}.parquet'")
        for name in QUERIES:
            want = con.execute(REGISTRY[name].oracle).fetchdf()
            verdict = compare(name, got[name], want)
            out.check(f"{name}: {verdict}", verdict == "OK")
            out.layers[f"query.{name}.rows"] = len(got[name])
    finally:
        con.close()
        shutil.rmtree(data, ignore_errors=True)


def query_layers(tracer) -> dict[str, float]:
    """``query.<name>.s`` and ``.jobs``; call after ``tracer.finish()``."""
    layers = {}
    for name in QUERIES:
        m = tracer.medians(f"query.{name}")
        layers[f"query.{name}.s"] = m["s"]
        layers[f"query.{name}.jobs"] = m["jobs"]
    return layers
