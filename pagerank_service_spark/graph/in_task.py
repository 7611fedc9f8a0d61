"""Small graphs in one Spark task.

At the sizes ``IN_TASK_MAX_EDGES`` admits, a graph kernel's edge work is
microseconds per round, and on Spark its cost is job scheduling: the
distributed loops submit one or more jobs per round. Below the
threshold, PageRank's preparation (virtual node and row-normalize,
after a collapse job) and its loop, connected components, label
propagation and triangle counting each run their whole computation as
NumPy inside one ``mapInArrow`` task (``run``): one Spark job, however
many rounds.

``IN_TASK_MAX_EDGES`` bounds what one Python worker holds and what one
core computes; it is not a crossover point. Measured near it on a 4-vCPU
VM (``local[4]``): PageRank's kernel holds about 100 B of Arrow and
NumPy arrays per edge and one task was faster at every size tried; at
190k-200k edges the CC, LP and triangle kernels peak at 9, 49 and 48 MB
of NumPy arrays beyond their input (92 MB and 3.7 s for triangles on a
632-clique, 42M triangles), and on a 188k-edge Zipf graph the three
calls took 1.3, 2.7 and 1.3 s in one task against 14, 30 and 21 s
distributed. It sits well below the 471,712 collapsed edges of the
benchmark's ``zipf_pagerank`` graph, so that workload keeps timing the
distributed PageRank loop. Every caller reads it through this module
at call time (``in_task.IN_TASK_MAX_EDGES``, never ``from ...
import``), so a test can patch it to force the distributed path.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from functools import reduce

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Row, functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from .loop import aqe_disabled

# Graphs with at most this many input rows run in one task.
IN_TASK_MAX_EDGES = 200_000

# the columns every ``tagged`` frame has, as the kernel receives them
_IN = pa.schema([("tag", pa.int32()), ("a", pa.int64()), ("b", pa.int64()),
                 ("x", pa.float64())])


def fits(edges: DataFrame) -> bool:
    """Whether ``edges`` has at most ``IN_TASK_MAX_EDGES`` rows: one
    count job (with AQE on, its exchanges would be jobs of their own).
    The count stops at the threshold, so each partition of a large
    input is read no further than ``IN_TASK_MAX_EDGES + 1`` rows."""
    with aqe_disabled(edges.sparkSession):
        return (edges.limit(IN_TASK_MAX_EDGES + 1).count()
                <= IN_TASK_MAX_EDGES)


def tagged(df: DataFrame, tag: int, a: str, b: str | None = None,
           x: str | None = None) -> DataFrame:
    """``df`` as (tag, a, b, x) rows, one part of ``run``'s input."""
    # literal fillers, never nulls: an int64 column with nulls comes out
    # of Arrow as float64, which cannot hold 64-bit hashed vids exactly
    return df.select(
        F.lit(tag).alias("tag"),
        F.col(a).cast("long").alias("a"),
        (F.col(b).cast("long") if b else F.lit(0).cast("long")).alias("b"),
        (F.col(x).cast("double") if x else F.lit(0.0)).alias("x"),
    )


def run(parts: list[DataFrame], kernel: Callable, schema: str) -> DataFrame:
    """Run ``kernel`` once over the union of ``parts`` in one task.

    The ``tagged`` parts are unioned and ``coalesce(1)``'d into a single
    ``mapInArrow`` task, which calls ``kernel(tag, a, b, x)`` with the
    union's columns as NumPy arrays (empty when the input is). For each
    ``(tag, columns)`` pair the kernel yields, the task emits rows of
    ``schema``: its ``tag`` column holds ``tag``, the other columns come
    from ``columns`` (equal-length arrays) and a column left out is
    zeros.

    The output is checkpointed lazily: the caller's first action on it
    is the one job that runs the kernel, and later actions read the
    checkpoint. The kernel travels to the worker by value; one that
    references nothing of this package needs only NumPy and PyArrow
    there."""
    out = to_arrow_schema(StructType.fromDDL(schema))

    def task(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        bs = list(batches)
        t = pa.Table.from_batches(bs) if bs else _IN.empty_table()
        for tag, cols in kernel(*(t.column(c).to_numpy() for c in _IN.names)):
            k = len(next(iter(cols.values())))
            yield pa.RecordBatch.from_arrays(
                [pa.array(np.full(k, tag) if f.name == "tag" else
                          cols.get(f.name, np.zeros(k, f.type.to_pandas_dtype())),
                          f.type) for f in out],
                schema=out)

    spark = parts[0].sparkSession
    # the plan is fixed here, when the lazy checkpoint is built; with AQE
    # on, any exchange in the input's lineage would run as its own job
    with aqe_disabled(spark):
        return (reduce(DataFrame.unionByName, parts).coalesce(1)
                .mapInArrow(task, schema).localCheckpoint(eager=False))


def run_tables(edges: DataFrame, kernel: Callable, schema: str,
               tables: dict[str, tuple[str, ...]],
               x: str | None = None) -> tuple[dict[str, DataFrame], Row]:
    """Run a graph kernel that makes several tables over ``edges`` in
    one task (``run``).

    ``kernel(src, dst, x)`` gets the (src, dst[, x]) columns as NumPy
    arrays and returns ``(arrays, record)``: ``arrays`` maps each name
    of ``tables`` to columns of ``schema`` as equal-length arrays,
    ``record`` maps columns of ``schema`` to single values. Returns each
    table as a DataFrame of its ``tables`` columns, and the record as a
    Row; the call runs the one job that computes them all."""
    names = list(tables)
    record_tag = len(names)

    def tagged_kernel(tag, src, dst, x):
        arrays, record = kernel(src, dst, x)
        for t, name in enumerate(names):
            yield t, arrays[name]
        yield record_tag, {k: [v] for k, v in record.items()}

    out = run([tagged(edges, 0, "src", "dst", x)], tagged_kernel,
              "tag int, " + schema)
    # the one job: runs the kernel and keeps its output as the checkpoint
    (rec,) = out.filter(F.col("tag") == record_tag).collect()
    return ({name: out.filter(F.col("tag") == t).select(*tables[name])
             for t, name in enumerate(names)}, rec)


def run_graph(edges: DataFrame, kernel: Callable, schema: str,
              x: str | None = None) -> tuple[DataFrame, Row]:
    """``run_tables`` for a kernel that makes one table.

    ``kernel(src, dst, x)`` returns ``(rows, record)``: ``rows`` maps
    columns of ``schema`` to equal-length arrays, ``record`` maps them
    to single values (the run's rounds, convergence or total). Returns
    the rows as a DataFrame of ``schema`` and the record as a Row."""

    def one_table(src, dst, x):
        rows, record = kernel(src, dst, x)
        return {"rows": rows}, record

    cols = tuple(StructType.fromDDL(schema).fieldNames())
    tables, rec = run_tables(edges, one_table, schema, {"rows": cols}, x)
    return tables["rows"], rec
