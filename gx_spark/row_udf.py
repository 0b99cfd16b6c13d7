"""The one driver for per-row Python work over payload columns.

Every pandas UDF that maps a row (a payload plus its metadata columns) to
a value or a struct is ``_row_udf(schema, row_fn)``: the audio, image and
video flags structs, the audio gate columns and feature ops, and the
image ops.  The driver ships the row function to the Python workers (the
repo root goes on their sys.path first), nulls a row whose row function
raises ValueError / NotImplementedError / TypeError, takes each output
column's pandas dtype from its Spark type, and names the UDF after the
row function in plans and the Spark UI.
"""

from __future__ import annotations

import os

import pandas as pd

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# what a bad payload raises (decode, or a kernel fed by it): the row is
# nulled instead of failing the task
_ROW_ERRORS = (ValueError, NotImplementedError, TypeError)


def _on_workers(fn, *args):
    """``fn(*args, *call_args)`` as a callable Spark ships to its Python
    workers.  fn and args travel as one cloudpickle blob that is loaded
    only after the repo root is on the worker's sys.path, so kernels and
    row functions resolve even where the worker did not start in the
    repo (the one sys.path edit of gx_spark's workers)."""
    from pyspark import cloudpickle

    blob = cloudpickle.dumps((fn, args))
    repo_root = _REPO_ROOT

    def call(*call_args):
        import pickle
        import sys

        if repo_root not in sys.path:
            sys.path.insert(0, repo_root)
        f, a = pickle.loads(blob)
        return f(*a, *call_args)

    return call


def _pandas_dtype(dt) -> str:
    """Nullable pandas dtype that carries Spark type ``dt`` through Arrow
    (a plain int list with a None would turn float64)."""
    from pyspark.sql.types import BooleanType, DoubleType, IntegerType, LongType

    return {IntegerType: "Int32", LongType: "Int64", DoubleType: "float64",
            BooleanType: "boolean"}.get(type(dt), "object")


def _column(values: list, dtype: str):
    return values if dtype == "object" else pd.array(values, dtype=dtype)


def _num(v, cast=int):
    """``cast(v)``, or ``cast(0)`` for a null cell: pandas hands a UDF a
    null of an int column as NaN, not None."""
    return cast(0) if pd.isna(v) else cast(v)


def _row_udf(schema: str, row_fn):
    """pandas UDF returning ``schema``: ``row_fn(*row)`` over the UDF's
    input columns, named after ``row_fn`` (a partial's function).  A
    struct schema takes dict (or field-ordered tuple) results, a scalar
    schema the value itself."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import DataType, StructType

    dt = DataType.fromDDL(schema)
    fields = ([(f.name, _pandas_dtype(f.dataType)) for f in dt.fields]
              if isinstance(dt, StructType) else None)
    call = _on_workers(_row_frame, row_fn, fields, _pandas_dtype(dt))
    call.__name__ = getattr(row_fn, "func", row_fn).__name__
    return pandas_udf(dt)(call)


def _row_frame(row_fn, fields, dtype, *cols):
    rows = []
    for vals in zip(*cols):
        try:
            rows.append(row_fn(*vals))
        except _ROW_ERRORS:
            rows.append(None)
    if fields is None:
        return pd.Series(_column(rows, dtype))
    names = [k for k, _ in fields]
    rows = [dict(zip(names, r)) if isinstance(r, tuple) else r or {}
            for r in rows]
    return pd.DataFrame({k: _column([r.get(k) for r in rows], d)
                         for k, d in fields}, copy=False)
