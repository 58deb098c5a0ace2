"""Literal dimension tables as VALUES-backed LocalRelations.

``spark.createDataFrame(rows, schema)`` routes a Python list through an
RDD ``parallelize`` — every consumer then runs a job whose 32 tasks each
spin a (pickle-path) Python worker just to emit a handful of literal
rows. The r16 stage profile measured 0.8–1.1 s PER SUCH JOB at sf0.1
(ii6: four of them, ~3.5 s of a 7.2 s wall — plans/r16 notes), and the
BM25/report/classifier families each reference their literal dims
several times per query.

:func:`local_dim` builds the same table as a SQL ``VALUES`` list
instead: Catalyst folds it to a ``LocalTableScan`` — zero jobs, zero
Python workers, broadcast builds read the rows directly — and explicit
``CAST``s reproduce ``createDataFrame``'s schema exactly. Literal-only
by design: values are escaped, never interpolated user data.

Size bound: the VALUES text is parsed on every call and the rows travel
inside the plan, so the cost grows with the row count while
``createDataFrame``'s stays near one small job. Measured on a 4-core VM
(two-column string/int rows, build + count): 1k rows 0.4 s vs 0.5 s,
10k rows 0.9 s vs 0.5 s, 50k rows 2.2 s vs 0.6 s. Keep it for dims of
at most about a thousand rows; larger tables belong in
``createDataFrame`` or a file.
"""

from __future__ import annotations

import math
from collections.abc import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession


def _sql_literal(v: object) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):  # before int: bool is an int subclass
        return "TRUE" if v else "FALSE"
    if isinstance(v, float) and not math.isfinite(v):
        # repr() gives bare inf/nan, which Spark SQL reads as columns
        raise ValueError(f"local_dim literals must be finite: {v!r}")
    if isinstance(v, (int, float)):
        return repr(v)
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    raise TypeError(f"local_dim literals must be str/int/float/None: {v!r}")


def local_dim(
    spark: SparkSession, rows: Iterable[Sequence[object]], schema: str
) -> DataFrame:
    """``createDataFrame(rows, schema)`` as a constant-folded
    LocalRelation: ``schema`` is the same ``"name type, ..."`` DDL
    string, every column is explicitly CAST so the result schema is
    identical to the createDataFrame form (tests/test_local_dim.py
    pins schema + row equality per shipped dim)."""
    fields = []
    for part in schema.split(","):
        # the split on "," only holds for simple types: decimal(p,s),
        # map<...>, struct<...> and array<...> would mis-split
        bits = part.split(None, 1)
        if len(bits) != 2 or any(ch in part for ch in "()<>"):
            raise ValueError(
                "local_dim takes 'name type' columns of simple types only "
                f"(no decimal(p,s), map<...>, struct<...>): {schema!r}"
            )
        fields.append((bits[0], bits[1].strip()))
    rows = list(rows)
    if not rows:
        # VALUES cannot express zero rows; the cold path keeps the
        # createDataFrame shape (rare: only empty trainer outputs)
        return spark.createDataFrame(rows, schema)
    values = ", ".join(
        "(" + ", ".join(_sql_literal(v) for v in r) + ")" for r in rows
    )
    proj = ", ".join(
        f"CAST(col{i + 1} AS {typ}) AS {name}"
        for i, (name, typ) in enumerate(fields)
    )
    return spark.sql(f"SELECT {proj} FROM VALUES {values}")
