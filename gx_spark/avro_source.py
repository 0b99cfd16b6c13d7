"""Distributed Avro batch source built on the pure-stdlib OCF codec.

This sandbox's Spark distribution ships avro-core jars but NOT the
`spark-avro` datasource module, so `spark.read.format("avro")` is
unavailable — yet Avro directories are a standard batch input for the
upstream library's Spark engine [GE: execution_engine/
sparkdf_execution_engine.py#get_batch_data_and_markers — reader_method
passes through to any registered DataFrameReader format].  This module
restores the capability Spark-first:

  file list (driver, metadata-only) -> one header read for the schema ->
  a `path string` DataFrame repartitioned to the file count ->
  `mapInPandas` where EACH TASK decodes its own files with
  gx_spark/avro_ocf.py (stdlib zlib/struct — no driver data path, no
  collect).  Parallelism unit = the file, exactly spark-avro's model; at
  10^12-row scale the work distributes with the file count and the driver
  touches one header.

Schema mapping follows the Avro 1.11 spec: primitives, fixed/enum,
arrays, maps, nested records, nullable unions (["null", X]), and the
date / timestamp-millis / timestamp-micros logical types.
"""

from __future__ import annotations

import datetime
import os
from typing import Any, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .avro_ocf import read_ocf
from .row_udf import map_in_pandas


def _is_nullable_union(sch: Any) -> bool:
    return (isinstance(sch, list) and len(sch) == 2
            and "null" in [s if isinstance(s, str) else s.get("type")
                           for s in sch])


def _union_value_branch(sch: list) -> Any:
    for s in sch:
        if not (s == "null" or (isinstance(s, dict)
                                and s.get("type") == "null")):
            return s
    return "null"


def avro_to_spark_type(sch: Any) -> T.DataType:
    """Avro schema (parsed JSON) -> Spark DataType (spec §schemas)."""
    if isinstance(sch, list):                      # union
        if _is_nullable_union(sch):
            return avro_to_spark_type(_union_value_branch(sch))
        raise ValueError(f"avro: unsupported non-nullable union {sch!r}")
    if isinstance(sch, str):
        prim = {
            "boolean": T.BooleanType(), "int": T.IntegerType(),
            "long": T.LongType(), "float": T.FloatType(),
            "double": T.DoubleType(), "bytes": T.BinaryType(),
            "string": T.StringType(), "null": T.NullType(),
        }
        if sch in prim:
            return prim[sch]
        raise ValueError(f"avro: unsupported type {sch!r}")
    t = sch.get("type")
    lt = sch.get("logicalType")
    if lt == "date" and t == "int":
        return T.DateType()
    if lt in ("timestamp-millis", "timestamp-micros") and t == "long":
        return T.TimestampType()
    if lt == "decimal" and t in ("bytes", "fixed"):
        return T.DecimalType(int(sch["precision"]), int(sch.get("scale", 0)))
    if t == "fixed":
        return T.BinaryType()
    if t == "enum":
        return T.StringType()
    if t == "array":
        return T.ArrayType(avro_to_spark_type(sch["items"]))
    if t == "map":
        return T.MapType(T.StringType(), avro_to_spark_type(sch["values"]))
    if t == "record":
        return T.StructType([
            T.StructField(f["name"], avro_to_spark_type(f["type"]),
                          nullable=True)
            for f in sch["fields"]])
    if isinstance(t, (str, list, dict)):
        # wrapped primitive — including UNKNOWN logical types (uuid,
        # time-micros, duration, …): the Avro spec requires readers to
        # fall back to the underlying type, not refuse the file
        return avro_to_spark_type(t)
    raise ValueError(f"avro: unsupported schema {sch!r}")


def _logical_converter(sch: Any, tz: str):
    """Returns a python-value converter for one field (or None when the
    decoded value is already the right shape).  Descends into unions,
    arrays, maps, and records so nested logical types (array<date>, …)
    convert too.  Timestamp arithmetic is integer-exact (timedelta on the
    UTC epoch), never float seconds — float64 loses microseconds at
    current epochs.  Avro timestamps are UTC INSTANTS; Arrow expects
    pandas to carry naive wall-clock in the SESSION time zone (`tz`), so
    the instant is converted to that zone and stripped — symmetric with
    write_avro's localize-then-epoch."""
    if isinstance(sch, list) and _is_nullable_union(sch):
        inner = _logical_converter(_union_value_branch(sch), tz)
        if inner is None:
            return None
        return lambda v: None if v is None else inner(v)
    if isinstance(sch, dict):
        lt, t = sch.get("logicalType"), sch.get("type")
        if lt == "date" and t == "int":
            epoch = datetime.date(1970, 1, 1)
            return lambda v: epoch + datetime.timedelta(days=v)
        if lt in ("timestamp-millis", "timestamp-micros") and t == "long":
            from zoneinfo import ZoneInfo

            unit = (1000 if lt == "timestamp-millis" else 1)
            ep = datetime.datetime(1970, 1, 1,
                                   tzinfo=datetime.timezone.utc)
            zone = ZoneInfo(tz)
            return lambda v: (
                ep + datetime.timedelta(microseconds=v * unit)
            ).astimezone(zone).replace(tzinfo=None)
        if lt == "decimal" and t in ("bytes", "fixed"):
            import decimal

            scale = int(sch.get("scale", 0))
            return lambda v: decimal.Decimal(
                int.from_bytes(v, "big", signed=True)).scaleb(-scale)
        if t == "array":
            inner = _logical_converter(sch["items"], tz)
            if inner is not None:
                return lambda v: None if v is None else [
                    None if e is None else inner(e) for e in v]
        if t == "map":
            inner = _logical_converter(sch["values"], tz)
            if inner is not None:
                return lambda v: None if v is None else {
                    k: (None if x is None else inner(x))
                    for k, x in v.items()}
        if t == "record":
            subs = [(f["name"], _logical_converter(f["type"], tz))
                    for f in sch["fields"]]
            if any(c is not None for _n, c in subs):
                def rec(v):
                    if v is None:
                        return None
                    return {n: (c(v.get(n)) if (c is not None
                                                and v.get(n) is not None)
                                else v.get(n))
                            for n, c in subs}
                return rec
    return None


def _avro_files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    out = []
    for root, _dirs, names in os.walk(path):
        for n in sorted(names):
            if n.endswith(".avro"):
                out.append(os.path.join(root, n))
    if not out:
        raise FileNotFoundError(f"no .avro files under {path}")
    return sorted(out)


def read_avro(spark: SparkSession, path: str,
              n_partitions: int | None = None) -> DataFrame:
    """Read an Avro OCF file or directory as a DataFrame, decoding
    DISTRIBUTED: each task handles its own files via the stdlib codec.
    The driver reads one header for the schema; rows never pass through
    the driver."""
    import pandas as pd

    files = _avro_files(path)
    avro_schema, _head = _read_header_schema(files[0])
    if not (isinstance(avro_schema, dict)
            and avro_schema.get("type") == "record"):
        raise ValueError("avro: top-level schema must be a record")
    spark_schema = avro_to_spark_type(avro_schema)
    tz = spark.conf.get("spark.sql.session.timeZone")
    fields = [(f["name"], _logical_converter(f["type"], tz))
              for f in avro_schema["fields"]]
    names = [n for n, _c in fields]

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            for p in b["path"]:
                _sch, records = read_ocf(p)
                cols: dict[str, list] = {n: [] for n in names}
                for r in records:
                    for n, conv in fields:
                        v = r.get(n)
                        cols[n].append(
                            conv(v) if (conv is not None and v is not None)
                            else v)
                yield pd.DataFrame(cols, columns=names)

    n_parts = n_partitions or min(
        len(files), spark.sparkContext.defaultParallelism)
    paths = spark.createDataFrame([(f,) for f in files], "path string")
    return map_in_pandas(paths.repartition(n_parts), decode, spark_schema)


def _read_header_schema(path: str) -> tuple[Any, bytes]:
    """Read ONLY the OCF header (magic + metadata map + sync) — O(header)
    bytes, not the whole file; the schema probe for a 10^12-row table must
    not decode a data block."""
    import io
    import json

    from .avro_ocf import MAGIC, decode_value

    with open(path, "rb") as f:
        head = f.read(1 << 20)
    if head[:4] != MAGIC:
        raise ValueError(f"avro: bad magic in {path}")
    buf = io.BytesIO(head[4:])
    meta = decode_value(buf, {"type": "map", "values": "bytes"})
    sync = buf.read(16)
    return json.loads(meta["avro.schema"].decode()), sync


# ---------------------------------------------------------------------------
# writer (the sink half of the format pair)
# ---------------------------------------------------------------------------

def spark_to_avro_schema(st: T.StructType, name: str = "row") -> dict:
    """Spark StructType -> Avro record schema.  Every field is written as
    a nullable union (Spark columns are nullable by default); inverse of
    avro_to_spark_type over the shared type surface."""
    def conv(dt: T.DataType, path: str) -> Any:
        if isinstance(dt, T.BooleanType):
            return "boolean"
        if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType)):
            return "int"
        if isinstance(dt, T.LongType):
            return "long"
        if isinstance(dt, T.FloatType):
            return "float"
        if isinstance(dt, T.DoubleType):
            return "double"
        if isinstance(dt, T.BinaryType):
            return "bytes"
        if isinstance(dt, T.StringType):
            return "string"
        if isinstance(dt, T.DateType):
            return {"type": "int", "logicalType": "date"}
        if isinstance(dt, T.TimestampType):
            return {"type": "long", "logicalType": "timestamp-micros"}
        if isinstance(dt, T.DecimalType):
            return {"type": "bytes", "logicalType": "decimal",
                    "precision": dt.precision, "scale": dt.scale}
        if isinstance(dt, T.ArrayType):
            return {"type": "array",
                    "items": ["null", conv(dt.elementType, path + ".item")]}
        if isinstance(dt, T.MapType):
            if not isinstance(dt.keyType, T.StringType):
                raise ValueError("avro maps require string keys")
            return {"type": "map",
                    "values": ["null", conv(dt.valueType, path + ".value")]}
        if isinstance(dt, T.StructType):
            return {"type": "record", "name": path.replace(".", "_"),
                    "fields": [
                        {"name": f.name,
                         "type": ["null", conv(f.dataType,
                                               f"{path}.{f.name}")]}
                        for f in dt.fields]}
        raise ValueError(f"avro writer: unsupported Spark type {dt}")
    return {"type": "record", "name": name, "fields": [
        {"name": f.name, "type": ["null", conv(f.dataType, f.name)]}
        for f in st.fields]}


def _py_converter(dt: T.DataType, tz: str):
    """pandas/Arrow cell -> plain python value the OCF encoder accepts
    (dates -> epoch days, timestamps -> UTC epoch micros, numpy scalars
    -> python, Arrow map cells [(k, v), ...] -> dict).  `tz` is the Spark
    session time zone: Arrow delivers timestamps to pandas as naive
    wall-clock in that zone, so the UTC instant is tz_localize(tz) first
    — writing `.value` of the naive stamp directly would store local
    wall-clock as if it were UTC (spec violation for any session not on
    UTC)."""
    import math

    import numpy as np
    import pandas as pd

    epoch = datetime.date(1970, 1, 1)
    if isinstance(dt, T.DateType):
        return lambda v: (v - epoch).days
    if isinstance(dt, T.TimestampType):
        def ts(v):
            t = pd.Timestamp(v)
            if t.tzinfo is None:
                t = t.tz_localize(tz)
            return t.value // 1000            # ns -> UTC micros
        return ts
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return lambda v: None if (isinstance(v, float)
                                  and math.isnan(v)) else float(v)
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return lambda v: int(v)
    if isinstance(dt, T.BooleanType):
        return lambda v: bool(v)
    if isinstance(dt, T.BinaryType):
        return lambda v: bytes(v)
    if isinstance(dt, T.DecimalType):
        scale = dt.scale
        def dec(v):
            n = int(v.scaleb(scale).to_integral_value())
            return n.to_bytes(max(1, (n.bit_length() + 8) // 8),
                              "big", signed=True)
        return dec
    if isinstance(dt, T.ArrayType):
        inner = _py_converter(dt.elementType, tz)
        return lambda v: [None if e is None else inner(e)
                          for e in (v.tolist() if isinstance(v, np.ndarray)
                                    else list(v))]
    if isinstance(dt, T.MapType):
        inner = _py_converter(dt.valueType, tz)
        def mp(v):
            items = v.items() if isinstance(v, dict) else list(v)
            return {str(k): (None if x is None else inner(x))
                    for k, x in items}
        return mp
    if isinstance(dt, T.StructType):
        subs = [(f.name, _py_converter(f.dataType, tz)) for f in dt.fields]
        def st(v):
            d = v if isinstance(v, dict) else v.asDict(recursive=False)
            return {n: (None if d.get(n) is None else c(d[n]))
                    for n, c in subs}
        return st
    return lambda v: v


def write_avro(df: DataFrame, path: str, codec: str = "null",
               mode: str = "error") -> int:
    """Write a DataFrame as a directory of Avro OCF files, DISTRIBUTED:
    each task encodes its own partition with the stdlib codec and writes
    one `part-<pid>.avro` (atomic temp+rename, so task retries are
    idempotent).  Returns the number of rows written.  Inverse of
    read_avro over the shared type surface — round-trip pinned in
    tests/test_avro_source.py.

    mode: 'error' (default, DataFrameWriter semantics — refuse a target
    that already holds .avro files; a narrower re-write would otherwise
    leave stale wider shards that read back as duplicate rows) or
    'overwrite' (remove the existing .avro files first).

    Timestamps are written as true UTC instants (Avro timestamp-micros):
    Arrow hands pandas wall-clock values in the SESSION time zone, so the
    writer localizes with the session zone before taking epoch micros —
    symmetric with read_avro's conversion back."""
    import pandas as pd

    from .avro_ocf import write_ocf

    if mode not in ("error", "overwrite"):
        raise ValueError(f"mode={mode!r} (use 'error' or 'overwrite')")
    os.makedirs(path, exist_ok=True)
    existing = [n for n in os.listdir(path) if n.endswith(".avro")]
    if existing:
        if mode == "error":
            raise FileExistsError(
                f"{path} already holds {len(existing)} .avro files "
                "(mode='overwrite' to replace)")
        for n in existing:
            os.remove(os.path.join(path, n))
    schema = spark_to_avro_schema(df.schema)
    tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
    fields = [(f.name, _py_converter(f.dataType, tz))
              for f in df.schema.fields]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        records: list[dict] = []
        for b in batches:
            for row in b.itertuples(index=False):
                rec = {}
                for (name, conv), v in zip(fields, row):
                    rec[name] = None if _is_null(v) else conv(v)
                records.append(rec)
        out = os.path.join(path, f"part-{pid:05d}.avro")
        write_ocf(out, schema, records, codec=codec)
        yield pd.DataFrame({"rows": [len(records)]})

    counts = map_in_pandas(df, gen, "rows long").collect()
    return int(sum(r["rows"] for r in counts))


def _is_null(v: Any) -> bool:
    import numpy as np
    import pandas as pd

    if v is None:
        return True
    if isinstance(v, float):
        return v != v
    if isinstance(v, (np.floating,)) and np.isnan(v):
        return True
    return v is pd.NaT
