"""The one path by which gx_spark's Python code reaches the Spark workers.

Every Python UDF the package builds reaches ``_ship`` before Spark wraps
it: ``_row_udf`` for per-row work over payload columns, and the guarded
``pandas_udf`` / ``map_in_pandas`` entry points for the vectorized UDFs
and the batch-at-a-time passes.  ``_ship`` zips the package and adds the
zip as a py-file include once per SparkContext, so a worker imports
gx_spark from it whatever its working directory or disk.

Every pandas UDF that maps a row (a payload plus its metadata columns) to
a value or a struct is ``_row_udf(schema, row_fn)``: the audio, image and
video flags structs, the audio gate columns and feature ops, and the
image ops.  It nulls a row whose row function raises ValueError /
NotImplementedError / TypeError, takes each output column's pandas dtype
from its Spark type, and names the UDF after the row function in plans
and the Spark UI.
"""

from __future__ import annotations

import os
import threading
import zipfile

import pandas as pd

_ZIP = "gx_spark.zip"
_SHIP_LOCK = threading.Lock()

# what a bad payload raises (decode, or a kernel fed by it): the row is
# nulled instead of failing the task
_ROW_ERRORS = (ValueError, NotImplementedError, TypeError)


def _zip_package(path: str) -> str:
    """Write the package's .py files to the zip ``path`` (the artifact of
    ``spark-submit --py-files`` and of ``_ship``) and return ``path``."""
    pkg = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg)
    with zipfile.ZipFile(path, "w") as z:
        for d, _, files in os.walk(pkg):
            for fn in sorted(files):
                if fn.endswith(".py"):
                    p = os.path.join(d, fn)
                    z.write(p, os.path.relpath(p, root))
    return path


def _ship(sc) -> None:
    """Add the package zip to ``sc``'s Python includes unless one named
    gx_spark.zip is registered already (``--py-files gx_spark.zip``, or
    an earlier call).  Spark copies the includes into a UDF when it wraps
    it, so this runs before the wrap.  The zip lives in the context's
    own temp dir, which goes with the context."""
    with _SHIP_LOCK:
        if _ZIP in sc._python_includes:
            return
        sc.addPyFile(_zip_package(os.path.join(sc._temp_dir, _ZIP)))


def pandas_udf(schema):
    """``pyspark.sql.functions.pandas_udf(schema)`` with the package
    shipped to the workers of the SparkContext (the one Spark itself
    gets or creates when the UDF is applied) first."""
    from pyspark import SparkContext
    from pyspark.sql.functions import pandas_udf as _pandas_udf

    _ship(SparkContext.getOrCreate())
    return _pandas_udf(schema)


def map_in_pandas(df, fn, schema):
    """``df.mapInPandas(fn, schema)`` with the package shipped to the
    workers of ``df``'s SparkContext first."""
    _ship(df.sparkSession.sparkContext)
    return df.mapInPandas(fn, schema)


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
    from pyspark.sql.types import DataType, StructType

    dt = DataType.fromDDL(schema)
    fields = ([(f.name, _pandas_dtype(f.dataType)) for f in dt.fields]
              if isinstance(dt, StructType) else None)
    dtype = _pandas_dtype(dt)

    def call(*cols):
        return _row_frame(row_fn, fields, dtype, *cols)

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
