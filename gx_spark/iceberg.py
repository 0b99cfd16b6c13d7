"""Iceberg-lite: a pure-Python implementation of the Apache Iceberg table
format (v2 metadata layout), spec-faithful in structure, runnable with no
iceberg-spark-runtime jar.

The north rule targets "Iceberg tables of audio clip + transcript pairs"
with resume keyed on "Iceberg snapshot-id + partition lineage".  The
sandbox has no Iceberg jar, so rounds 1-2 emulated snapshots with a
file-listing hash (table_provider.FileTableProvider).  This module closes
that gap for real: it reads and writes the actual on-disk Iceberg layout —

    <location>/metadata/v<N>.metadata.json     table metadata (format v2)
    <location>/metadata/snap-<id>-*.avro       manifest list (Avro OCF)
    <location>/metadata/manifest-*.avro        manifests (Avro OCF)
    <location>/metadata/version-hint.text      current version pointer
    <location>/data/...                        parquet data files

using gx_spark/avro_ocf.py (pure-stdlib Avro codec written from the public
Avro spec) and pyarrow for parquet footers.  Everything is derived from the
published Iceberg spec (https://iceberg.apache.org/spec/); the upstream
great_expectations reference has no table-format layer (reference mount is
empty, SURVEY.md §0).

Supported:
- create / append (each append = a new snapshot, new manifest, new
  manifest list, new metadata version) — atomic via temp+rename
- identity partition specs (hive-layout data dirs, partition tuple recorded
  per data file in the manifest, exactly how identity transforms behave)
- snapshot time travel (snapshot_id= / as_of_ms=) and incremental reads
  (files added in (from_snapshot, to_snapshot])
- manifest-level partition pruning: `plan_files(filter={col: value})`
  selects data files by their manifest partition tuple BEFORE Spark sees
  anything, so a pruned read never opens excluded files — the at-scale
  behavior Iceberg provides on a real cluster
- schema round-trip for the Spark types gx_spark tables use (string, int,
  long, float, double, boolean, binary, timestamp, date, decimal)

Also supported (round 3): metadata-only `add_files`/`create_from_parquet`
migration of existing parquet (manifests point at files in place, no data
rewrite) and v2 row-level deletes of BOTH kinds: positional (parquet
(file_path, pos) keyed on the reader's `_metadata.row_index`) and
equality (content=2 files storing key tuples + field ids, null-safe
matching, strict sequence scoping via era grouping); every scan applies
each delete set through one size-gated join (`_join_delete_set`).

Also supported (round 5): MERGE INTO (`merge_into` — single-snapshot MoR
upsert: an equality-delete manifest + a data manifest committed atomically
at one sequence number, the default 'update'/'insert' mode never scanning
the target), named refs (`create_tag`/`create_branch`/`drop_ref`, readable
via `read(ref=)`, protected from `expire_snapshots`), metadata tables
(`meta_df(spark, 'snapshots'|'history'|'manifests'|'files'|'delete_files'|
'partitions'|'refs')`), branch WRITES (`append(branch=)` — staged commits
main never sees), and `fast_forward` publication — together the substrate
for the write-audit-publish validation gate in gx_spark/wap.py.

Also supported (round 5, late): HIDDEN PARTITIONING — partition_by
accepts "bucket(N, col)" / "truncate(W, col)" / "days(col)" (and
year/month/hour) transform specs; derived values live only in hive dirs
and manifest tuples while source columns stay in the data files, and
source-column partition filters prune files through a driver-side
transform mirror then re-pin rows with a residual predicate; PARTITION
SPEC EVOLUTION (`update_partition_spec`) — metadata-only, old files keep
and prune by the spec they were written under (manifests carry spec
ids), new writes use the new spec, mixed-spec reads stay exact via the
residual, compaction folds everything under the current spec.  Documented
deviation (like the name-mapping one): bucket() uses the repo's md5
idiom over the value's string rendering, NOT murmur3 over type-canonical
bytes, so an external Iceberg reader's bucket pruning would disagree;
time transforms are spec-exact and UTC-anchored.

Intentionally out of scope (documented, not hidden): column-id field
mapping inside parquet (files are written by Spark with names, read back
by name), and catalog integration — on a real cluster the same gx_spark
call sites accept `spark.table("catalog.db.t")` via IcebergTableProvider.

Scale note: planning is metadata-only (Avro manifests list files + stats;
no data I/O), mirroring real Iceberg job planning.  The Spark scan itself
receives an explicit pruned file list; at 10^12 rows the planning cost is
proportional to manifest count, not data size.
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass, field
from typing import Any

from .avro_ocf import read_ocf, write_ocf

try:  # pyarrow is baked into the sandbox; guard anyway for lib-only use
    import pyarrow.parquet as pq
except Exception:  # pragma: no cover
    pq = None


# ---------------------------------------------------------------------------
# Spark <-> Iceberg schema mapping
# ---------------------------------------------------------------------------

_SPARK_TO_ICE = {
    "string": "string",
    "integer": "int",
    "int": "int",
    "long": "long",
    "bigint": "long",
    "float": "float",
    "double": "double",
    "boolean": "boolean",
    "binary": "binary",
    "timestamp": "timestamptz",
    "timestamp_ntz": "timestamp",
    "date": "date",
}

_ICE_TO_SPARK = {
    "string": "string",
    "int": "int",
    "long": "bigint",
    "float": "float",
    "double": "double",
    "boolean": "boolean",
    "binary": "binary",
    "timestamp": "timestamp_ntz",
    "timestamptz": "timestamp",
    "date": "date",
}


def _spark_schema_to_iceberg(spark_schema) -> list[dict]:
    """StructType -> Iceberg schema fields with sequential field ids."""
    fields = []
    for i, f in enumerate(spark_schema.fields, start=1):
        tn = f.dataType.typeName()
        if tn == "decimal":
            ice = f"decimal({f.dataType.precision}, {f.dataType.scale})"
        elif tn in _SPARK_TO_ICE:
            ice = _SPARK_TO_ICE[tn]
        else:
            raise ValueError(f"iceberg-lite: unsupported Spark type {tn!r} for {f.name!r}")
        fields.append(
            {"id": i, "name": f.name, "required": not f.nullable, "type": ice}
        )
    return fields


# ---------------------------------------------------------------------------
# Partition transforms (hidden partitioning).
#
# A `partition_by` entry is either a bare column name (identity) or an
# Iceberg-SQL-style spec: "bucket(N, col)", "truncate(W, col)",
# "years(col)" / "months(col)" / "days(col)" / "hours(col)" (singular
# accepted).  Spec metadata records the spec's transform strings
# (bucket[N], truncate[W], year/month/day/hour) and the conventional
# partition field names (col_bucket, col_trunc, col_day, ...).
#
# Deviation from the Iceberg spec, documented like the name-mapping one:
# bucket() hashes the STRING rendering of the value with the repo's md5
# idiom (int(first 15 hex of md5('gxb:'||value)) % N) instead of
# murmur3_x86_32 over type-canonical bytes — deterministic, identical in
# Spark/DuckDB/Python, but an external Iceberg reader's bucket pruning
# would disagree, so bucket sources are restricted to int/long/string.
# Time transforms are exact per spec and UTC-anchored: day/hour are epoch
# arithmetic; month/year derive from the UTC day, never the session
# timezone.

_TIME_TRANSFORMS = ("year", "month", "day", "hour")


def parse_partition_entry(entry: str) -> dict:
    """'col' | 'bucket(N, col)' | 'truncate(W, col)' | 'days(col)' ... ->
    {source, transform, name}."""
    import re as _re

    e = entry.strip()
    m = _re.fullmatch(r"(\w+)\s*\(\s*([^)]+?)\s*\)", e)
    if not m:
        return {"source": e, "transform": "identity", "name": e}
    fn = m.group(1).lower().rstrip("s")  # days -> day, buckets -> bucket
    args = [a.strip() for a in m.group(2).split(",")]
    if fn == "bucket":
        if len(args) != 2 or not args[0].isdigit() or int(args[0]) < 1:
            raise ValueError(f"bad bucket spec {entry!r}: bucket(N, col)")
        return {"source": args[1], "transform": f"bucket[{args[0]}]",
                "name": f"{args[1]}_bucket"}
    if fn == "truncate":
        if len(args) != 2 or not args[0].isdigit() or int(args[0]) < 1:
            raise ValueError(f"bad truncate spec {entry!r}: truncate(W, col)")
        return {"source": args[1], "transform": f"truncate[{args[0]}]",
                "name": f"{args[1]}_trunc"}
    if fn in _TIME_TRANSFORMS:
        if len(args) != 1:
            raise ValueError(f"bad {fn} spec {entry!r}: {fn}s(col)")
        return {"source": args[0], "transform": fn,
                "name": f"{args[0]}_{fn}"}
    raise ValueError(f"unknown partition transform in {entry!r}")


def _transform_result_type(transform: str, src_type: str) -> str:
    if transform == "identity" or transform.startswith("truncate["):
        return src_type
    return "int"  # bucket[N] and all time transforms


def _check_transform_source(transform: str, source: str, src_type: str):
    base = src_type.split("(")[0]
    if transform.startswith("bucket[") and base not in ("int", "long",
                                                        "string"):
        raise ValueError(
            f"bucket() source {source!r} must be int/long/string "
            f"(md5-idiom bucket hashes the string rendering), got {src_type}")
    if transform.startswith("truncate[") and base not in ("int", "long",
                                                          "string"):
        raise ValueError(
            f"truncate() source {source!r} must be int/long/string, "
            f"got {src_type}")
    if transform in _TIME_TRANSFORMS and base not in ("date", "timestamp",
                                                      "timestamptz"):
        raise ValueError(
            f"{transform}() source {source!r} must be date/timestamp, "
            f"got {src_type}")
    if transform == "hour" and base == "date":
        # as in the Iceberg spec: hour is finer than the source's
        # granularity — and unix_timestamp(date) would be session-tz
        # dependent on the write side while the planning mirror is UTC
        raise ValueError(
            f"hour() source {source!r} must be a timestamp, not a date")


def transform_expr(transform: str, source: str, src_type: str):
    """The transform as a Spark Column over the source column — used by
    the partitioned write (hidden partition values are derived, never
    stored in data files) and by nothing else."""
    from pyspark.sql import functions as F

    c = F.col(source)
    if transform == "identity":
        return c
    if transform.startswith("bucket["):
        n = int(transform[7:-1])
        h = F.conv(
            F.substring(
                F.md5(F.concat(F.lit("gxb:"), c.cast("string"))), 1, 15),
            16, 10).cast("long")
        return (h % n).cast("int")
    if transform.startswith("truncate["):
        w = int(transform[9:-1])
        if src_type == "string":
            return F.substring(c, 1, w)
        return (c - ((c % w) + w) % w).cast(src_type)
    base = src_type.split("(")[0]
    if base == "date":
        day = F.datediff(c, F.lit("1970-01-01").cast("date"))
    else:
        # TimestampType is an internal UTC instant; unix_timestamp reads
        # it directly, so the day index is UTC no matter the session tz
        day = F.floor(F.unix_timestamp(c) / 86400).cast("int")
    if transform == "hour":
        return F.floor(F.unix_timestamp(c) / 3600).cast("int")
    if transform == "day":
        return day.cast("int")
    d = F.date_add(F.lit("1970-01-01").cast("date"), day)
    if transform == "month":
        return ((F.year(d) - 1970) * 12 + F.month(d) - 1).cast("int")
    if transform == "year":
        return (F.year(d) - 1970).cast("int")
    raise ValueError(f"unknown transform {transform!r}")


def transform_sql(transform: str, source: str, src_type: str) -> str:
    """The transform as a Spark SQL expression string over the source
    column — for building row predicates equivalent to a partition tuple
    (checkpoint partition lineage over transform-partitioned tables)."""
    base = src_type.split("(")[0]
    if transform == "identity":
        return source
    if transform.startswith("bucket["):
        n = int(transform[7:-1])
        return (f"cast(conv(substring(md5(concat('gxb:', "
                f"cast({source} as string))), 1, 15), 16, 10) as bigint) "
                f"% {n}")
    if transform.startswith("truncate["):
        w = int(transform[9:-1])
        if base == "string":
            return f"substring({source}, 1, {w})"
        return f"{source} - (({source} % {w}) + {w}) % {w}"
    if base == "date":
        day = f"datediff({source}, date'1970-01-01')"
    else:
        day = f"cast(floor(unix_timestamp({source}) / 86400) as int)"
    if transform == "hour":
        return f"cast(floor(unix_timestamp({source}) / 3600) as int)"
    if transform == "day":
        return day
    d = f"date_add(date'1970-01-01', {day})"
    if transform == "month":
        return f"(year({d}) - 1970) * 12 + month({d}) - 1"
    if transform == "year":
        return f"year({d}) - 1970"
    raise ValueError(f"unknown transform {transform!r}")


def transform_value(transform: str, value):
    """Driver-side mirror of transform_expr for metadata-only planning:
    partition_filter={source_col: value} prunes by comparing
    transform_value(v) against each file's recorded partition tuple.

    Datetime filter values must be timezone-aware: Spark anchors a NAIVE
    datetime literal to the session timezone while this mirror has no
    session, so accepting one would prune with a different instant than
    the residual row predicate re-pins with — silent row loss.  `date`
    values are calendar days (timezone-free) and always fine."""
    import datetime as _dt
    import hashlib as _hashlib

    if value is None:
        return None
    if transform == "identity":
        return value
    if transform.startswith("bucket["):
        n = int(transform[7:-1])
        h = int(_hashlib.md5(f"gxb:{value}".encode()).hexdigest()[:15], 16)
        return h % n
    if transform.startswith("truncate["):
        w = int(transform[9:-1])
        if isinstance(value, str):
            return value[:w]
        return value - (value % w)  # python floor-mod == ((x%w)+w)%w
    if isinstance(value, _dt.datetime):
        if value.tzinfo is None:
            raise ValueError(
                f"{transform}() filter value must be timezone-aware "
                "(Spark would anchor a naive literal to the session "
                "timezone; pass tzinfo=timezone.utc or a date)")
        epoch = value.timestamp()
    elif isinstance(value, _dt.date):
        epoch = (value - _dt.date(1970, 1, 1)).days * 86400
    else:
        raise ValueError(f"{transform}() filter value must be date/datetime")
    if transform == "hour":
        return int(epoch // 3600)
    day = int(epoch // 86400)
    if transform == "day":
        return day
    d = _dt.date(1970, 1, 1) + _dt.timedelta(days=day)
    if transform == "month":
        return (d.year - 1970) * 12 + d.month - 1
    if transform == "year":
        return d.year - 1970
    raise ValueError(f"unknown transform {transform!r}")


def _build_spec_fields(fields: list[dict], partition_by: list[str],
                       first_field_id: int) -> list[dict]:
    """Validated partition-spec fields from user entries (shared by
    create and update_partition_spec)."""
    by_name = {f["name"]: f for f in fields}
    spec_fields: list[dict] = []
    for i, entry in enumerate(partition_by):
        p = parse_partition_entry(entry)
        if p["source"] not in by_name:
            raise ValueError(
                f"partition column {p['source']!r} not in schema")
        src = by_name[p["source"]]
        _check_transform_source(p["transform"], p["source"], src["type"])
        if p["transform"] != "identity" and p["name"] in by_name:
            raise ValueError(
                f"partition field name {p['name']!r} collides with a "
                f"data column; rename the column or the transform source")
        if any(sf["name"] == p["name"] for sf in spec_fields):
            raise ValueError(
                f"duplicate partition field name {p['name']!r} "
                f"(two transforms of the same kind on one source "
                f"derive the same name)")
        spec_fields.append(
            {"name": p["name"], "transform": p["transform"],
             "source-id": src["id"], "field-id": first_field_id + i})
    return spec_fields


def _arrow_schema_to_iceberg(arrow_schema, partition_by: list[str]) -> list[dict]:
    """pyarrow Schema -> Iceberg schema fields, for building table metadata
    from parquet footers alone (no SparkSession — the add_files migration
    path runs in plain Python before spark-submit launches)."""
    _ARROW_TO_ICE = {
        "string": "string", "large_string": "string",
        "int32": "int", "int64": "long",
        "float": "float", "double": "double", "bool": "boolean",
        "binary": "binary", "large_binary": "binary",
        "date32[day]": "date",
    }
    fields = []
    names = set(arrow_schema.names)
    for c in partition_by:
        src = parse_partition_entry(c)["source"]
        if src not in names:
            raise ValueError(f"partition column {src!r} not in parquet schema")
    for i, f in enumerate(arrow_schema, start=1):
        tn = str(f.type)
        if tn.startswith("timestamp"):
            ice = "timestamptz" if getattr(f.type, "tz", None) else "timestamp"
        elif tn.startswith("decimal"):
            ice = tn.replace("decimal128", "decimal").replace("decimal64", "decimal")
        elif tn in _ARROW_TO_ICE:
            ice = _ARROW_TO_ICE[tn]
        else:
            raise ValueError(f"iceberg-lite: unsupported arrow type {tn!r} for {f.name!r}")
        fields.append({"id": i, "name": f.name, "required": not f.nullable, "type": ice})
    return fields


def iceberg_fields_to_spark_ddl(fields: list[dict]) -> str:
    parts = []
    for f in fields:
        t = f["type"]
        if isinstance(t, str) and t.startswith("decimal"):
            sp = t.replace(" ", "")
        else:
            sp = _ICE_TO_SPARK.get(t)
            if sp is None:
                raise ValueError(f"iceberg-lite: unsupported Iceberg type {t!r}")
        parts.append(f"`{f['name']}` {sp}")
    return ", ".join(parts)


# ---------------------------------------------------------------------------
# Avro schemas for manifest + manifest list (structural subset of the spec's
# schemas: the required fields with their spec names & field-id metadata)
# ---------------------------------------------------------------------------

def _partition_avro_fields(partition_cols: list[tuple[str, str]]) -> list[dict]:
    # identity transforms: partition value has the source column's type
    ice_to_avro = {
        "string": "string", "int": "int", "long": "long", "float": "float",
        "double": "double", "boolean": "boolean", "date": "int",
        "timestamp": "long", "binary": "bytes",
    }
    out = []
    for i, (name, ice_type) in enumerate(partition_cols):
        avro_t = ice_to_avro.get(ice_type, "string")
        out.append({"name": name, "type": ["null", avro_t], "default": None,
                    "field-id": 1000 + i})
    return out


def _manifest_entry_schema(partition_cols: list[tuple[str, str]]) -> dict:
    return {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int", "field-id": 0},
            {"name": "snapshot_id", "type": ["null", "long"], "default": None,
             "field-id": 1},
            {"name": "sequence_number", "type": ["null", "long"], "default": None,
             "field-id": 3},
            {
                "name": "data_file",
                "field-id": 2,
                "type": {
                    "type": "record",
                    "name": "r2",
                    "fields": [
                        {"name": "content", "type": "int", "field-id": 134},
                        {"name": "file_path", "type": "string", "field-id": 100},
                        {"name": "file_format", "type": "string", "field-id": 101},
                        {
                            "name": "partition",
                            "field-id": 102,
                            "type": {
                                "type": "record",
                                "name": "r102",
                                "fields": _partition_avro_fields(partition_cols),
                            },
                        },
                        {"name": "record_count", "type": "long", "field-id": 103},
                        {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
                        {"name": "equality_ids",
                         "type": ["null", {"type": "array", "items": "int"}],
                         "default": None, "field-id": 135},
                        # per-column min/max from the parquet footers (the
                        # spec's lower_bounds/upper_bounds, JSON-encoded
                        # by column name in iceberg-lite) — enables
                        # manifest-level data skipping on value predicates
                        {"name": "gx_bounds", "type": ["null", "string"],
                         "default": None, "field-id": 136},
                    ],
                },
            },
        ],
    }


_MANIFEST_LIST_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long", "field-id": 516},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        {"name": "added_files_count", "type": "int", "field-id": 504},
        {"name": "existing_files_count", "type": "int", "field-id": 505},
        {"name": "deleted_files_count", "type": "int", "field-id": 506},
        {"name": "added_rows_count", "type": "long", "field-id": 512},
        {"name": "existing_rows_count", "type": "long", "field-id": 513},
        {"name": "deleted_rows_count", "type": "long", "field-id": 514},
    ],
}


@dataclass
class DataFileInfo:
    file_path: str
    record_count: int
    file_size_in_bytes: int
    partition: dict[str, Any] = field(default_factory=dict)
    snapshot_id: int = 0
    sequence_number: int = 0
    content: int = 0  # 0 data, 1 position deletes, 2 equality deletes
    equality_ids: list[int] | None = None
    bounds: dict[str, list] | None = None  # col -> [min, max] from footers
    spec_id: int = 0  # partition spec the file was written under


# delete sets whose files (manifest sizes) sum below this are broadcast
_BROADCAST_DELETES_BYTES = 64 * 1024 * 1024


# ---------------------------------------------------------------------------
# the table
# ---------------------------------------------------------------------------

class IcebergLiteTable:
    """Read/write handle on an Iceberg-layout table directory."""

    def __init__(self, location: str) -> None:
        self.location = os.path.abspath(location)
        self.meta_dir = os.path.join(self.location, "metadata")
        self.data_dir = os.path.join(self.location, "data")
        self._meta: dict | None = None

    # -- metadata plumbing --------------------------------------------------

    def _current_version(self) -> int:
        hint = os.path.join(self.meta_dir, "version-hint.text")
        if not os.path.exists(hint):
            raise FileNotFoundError(f"not an iceberg table: {self.location}")
        with open(hint) as f:
            return int(f.read().strip())

    @property
    def metadata(self) -> dict:
        if self._meta is None:
            v = self._current_version()
            with open(os.path.join(self.meta_dir, f"v{v}.metadata.json")) as f:
                self._meta = json.load(f)
        return self._meta

    def refresh(self) -> "IcebergLiteTable":
        self._meta = None
        return self

    def _write_metadata(self, meta: dict, version: int) -> None:
        os.makedirs(self.meta_dir, exist_ok=True)
        path = os.path.join(self.meta_dir, f"v{version}.metadata.json")
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f, indent=1)
        os.replace(tmp, path)
        hint = os.path.join(self.meta_dir, "version-hint.text")
        with open(hint + ".tmp", "w") as f:
            f.write(str(version))
        os.replace(hint + ".tmp", hint)
        self._meta = meta

    # -- public surface -----------------------------------------------------

    @classmethod
    def exists(cls, location: str) -> bool:
        return os.path.exists(os.path.join(location, "metadata", "version-hint.text"))

    @classmethod
    def create(cls, location: str, spark_schema, partition_by: list[str] | None = None,
               now_ms: int = 0) -> "IcebergLiteTable":
        return cls._create_with_fields(
            location, _spark_schema_to_iceberg(spark_schema), partition_by, now_ms)

    @classmethod
    def create_from_parquet(cls, location: str, source_dir: str,
                            partition_by: list[str] | None = None,
                            now_ms: int = 0) -> "IcebergLiteTable":
        """Create an Iceberg-lite table whose schema comes from a parquet
        footer under `source_dir`, then `add_files`-import every parquet
        file there — the no-SparkSession migration path (schema read +
        manifest build are pure pyarrow footer work, O(#files), zero data
        bytes moved).  Idempotent entry point for tooling: if `location`
        already exists it is returned as-is."""
        if cls.exists(location):
            t = cls(location)
            # self-heal: if the imported files were regenerated under a new
            # layout, the old manifests dangle — rebuild the import
            if all(os.path.exists(f.file_path) for f in t.plan_files()):
                return t
            import shutil

            shutil.rmtree(t.meta_dir)
        if pq is None:  # pragma: no cover
            raise RuntimeError("pyarrow required for iceberg-lite create_from_parquet")
        sample = None
        if os.path.isfile(source_dir):
            sample = source_dir
        else:
            for root, _, files in sorted(os.walk(source_dir)):
                for fn in sorted(files):
                    if fn.endswith(".parquet"):
                        sample = os.path.join(root, fn)
                        break
                if sample:
                    break
        if sample is None:
            raise ValueError(f"no parquet files under {source_dir}")
        fields = _arrow_schema_to_iceberg(
            pq.ParquetFile(sample).schema_arrow, partition_by or [])
        t = cls._create_with_fields(location, fields, partition_by, now_ms)
        t.add_files(source_dir, now_ms=now_ms + 1)
        return t.refresh()

    @classmethod
    def _create_with_fields(cls, location: str, fields: list[dict],
                            partition_by: list[str] | None,
                            now_ms: int) -> "IcebergLiteTable":
        t = cls(location)
        if cls.exists(location):
            raise FileExistsError(f"iceberg table already exists at {location}")
        spec_fields = _build_spec_fields(fields, partition_by or [], 1000)
        meta = {
            "format-version": 2,
            "table-uuid": str(uuid.uuid5(uuid.NAMESPACE_URL, location)),
            "location": t.location,
            "last-sequence-number": 0,
            "last-updated-ms": now_ms,
            "last-column-id": fields[-1]["id"],
            "current-schema-id": 0,
            "schemas": [{"type": "struct", "schema-id": 0, "fields": fields}],
            "default-spec-id": 0,
            "partition-specs": [{"spec-id": 0, "fields": spec_fields}],
            "last-partition-id": 999 + len(spec_fields),
            "default-sort-order-id": 0,
            "sort-orders": [{"order-id": 0, "fields": []}],
            "properties": {"write.format.default": "parquet"},
            "current-snapshot-id": -1,
            "snapshots": [],
            "snapshot-log": [],
            "metadata-log": [],
            "refs": {},
        }
        t._write_metadata(meta, 1)
        os.makedirs(t.data_dir, exist_ok=True)
        return t

    @property
    def partition_fields(self) -> list[dict]:
        """Resolved DEFAULT partition spec: one dict per field with
        partition-field name, transform, source column name/type, and the
        partition VALUE type (int for bucket/time transforms, the source
        type for identity/truncate)."""
        return self.partition_fields_for(None)

    def partition_fields_for(self, spec_id: int | None) -> list[dict]:
        """Resolved partition spec by id (None = default spec) — files
        written before an update_partition_spec keep their own spec, and
        planning prunes each file by the spec it was written under."""
        meta = self.metadata
        schema = meta["schemas"][meta["current-schema-id"]]
        by_id = {f["id"]: f for f in schema["fields"]}
        if spec_id is None:
            spec_id = meta["default-spec-id"]
        spec = next((s for s in meta["partition-specs"]
                     if s["spec-id"] == spec_id), None)
        if spec is None:
            raise ValueError(f"unknown partition spec id {spec_id}")
        out = []
        for pf in spec["fields"]:
            src = by_id.get(pf["source-id"])
            if src is None:
                # source column dropped after this (non-default) spec was
                # retired: the field can't prune anything anymore
                continue
            out.append({
                "name": pf["name"],
                "transform": pf.get("transform", "identity"),
                "source_name": src["name"],
                "source_type": src["type"],
                "value_type": _transform_result_type(
                    pf.get("transform", "identity"), src["type"]),
            })
        return out

    @property
    def partition_cols(self) -> list[tuple[str, str]]:
        """(partition field name, partition VALUE type) pairs — what
        manifest tuples and hive dir segments are keyed/typed by."""
        return [(p["name"], p["value_type"]) for p in self.partition_fields]

    @property
    def partition_source_names(self) -> list[str]:
        return [p["source_name"] for p in self.partition_fields]

    @property
    def schema_fields(self) -> list[dict]:
        meta = self.metadata
        return meta["schemas"][meta["current-schema-id"]]["fields"]

    def snapshots(self) -> list[dict]:
        return list(self.metadata["snapshots"])

    def current_snapshot_id(self) -> int | None:
        sid = self.metadata["current-snapshot-id"]
        return None if sid == -1 else sid

    @property
    def refs(self) -> dict[str, dict]:
        """Named refs (Iceberg's branches and tags): {name: {'snapshot-id',
        'type'}}.  'main' is implicit — it always tracks the current
        snapshot (maintained at every commit)."""
        out = dict(self.metadata.get("refs") or {})
        cur = self.current_snapshot_id()
        if cur is not None:
            out.setdefault("main", {"snapshot-id": cur, "type": "branch"})
        return out

    def create_tag(self, name: str, snapshot_id: int | None = None) -> None:
        """Pin a named TAG to a snapshot (current if omitted) — Iceberg's
        `ALTER TABLE .. CREATE TAG`.  Tagged snapshots are protected from
        expire_snapshots; readers address them with read(ref=name)."""
        self._set_ref(name, snapshot_id, "tag")

    def create_branch(self, name: str, snapshot_id: int | None = None) -> None:
        """Create a named BRANCH at a snapshot (current if omitted).
        Branches are readable (read(ref=name)), writable
        (append(..., branch=name) — the ref advances, main doesn't see
        staged work), expiry-protected together with their unpublished
        ancestors, and publishable via fast_forward()."""
        self._set_ref(name, snapshot_id, "branch")

    def _set_ref(self, name: str, snapshot_id: int | None, kind: str) -> None:
        if name == "main":
            raise ValueError("'main' is implicit and cannot be redefined")
        meta = dict(self.metadata)
        sid = snapshot_id if snapshot_id is not None else (
            self.current_snapshot_id())
        if sid is None:
            raise ValueError("cannot create a ref on an empty table")
        if not any(s["snapshot-id"] == sid for s in meta["snapshots"]):
            raise ValueError(f"unknown snapshot id {sid}")
        refs = dict(meta.get("refs") or {})
        if name in refs:
            raise ValueError(f"ref {name!r} already exists")
        refs[name] = {"snapshot-id": sid, "type": kind}
        meta["refs"] = refs
        self._write_metadata(meta, self._current_version() + 1)

    def drop_ref(self, name: str) -> None:
        if name == "main":
            raise ValueError("cannot drop the implicit main branch")
        meta = dict(self.metadata)
        refs = dict(meta.get("refs") or {})
        if name not in refs:
            raise ValueError(f"no such ref {name!r}")
        del refs[name]
        meta["refs"] = refs
        self._write_metadata(meta, self._current_version() + 1)

    def fast_forward(self, to_ref: str, from_ref: str) -> int:
        """Fast-forward `to_ref` to `from_ref`'s head (Iceberg's
        `system.fast_forward` procedure — the publish step of
        write-audit-publish).  Requires `to_ref`'s head to be an ancestor
        of `from_ref`'s head; a diverged target raises (the caller must
        re-stage), which is exactly the spec's fast-forward-only
        guarantee — no merge commits, no rewritten history.

        Fast-forwarding "main" publishes the staged snapshots: the
        current-snapshot-id moves to the branch head and every staged
        snapshot along the path joins the snapshot-log (time travel and
        incremental reads then see them like any committed history).
        Returns the new head snapshot id."""
        meta = dict(self.metadata)
        refs = dict(meta.get("refs") or {})
        src = refs.get(from_ref)
        if src is None:
            raise ValueError(f"no such ref {from_ref!r}")
        if src.get("type") != "branch":
            raise ValueError(f"ref {from_ref!r} is a tag, not a branch")
        src_head = src["snapshot-id"]
        if to_ref == "main":
            tgt_head = (meta["current-snapshot-id"]
                        if meta["current-snapshot-id"] != -1 else None)
        else:
            tgt = refs.get(to_ref)
            if tgt is None:
                raise ValueError(f"no such ref {to_ref!r}")
            if tgt.get("type") != "branch":
                raise ValueError(f"ref {to_ref!r} is a tag, not a branch")
            tgt_head = tgt["snapshot-id"]
        by_id = {s["snapshot-id"]: s for s in meta["snapshots"]}
        path: list[dict] = []
        sid: int | None = src_head
        while sid is not None and sid != tgt_head:
            snap = by_id.get(sid)
            if snap is None:
                raise ValueError(
                    f"cannot fast-forward {to_ref!r}: its head {tgt_head} "
                    f"is not an ancestor of {from_ref!r}'s head {src_head}")
            path.append(snap)
            sid = snap.get("parent-snapshot-id")
        if sid is None and tgt_head is not None:
            raise ValueError(
                f"cannot fast-forward {to_ref!r}: its head {tgt_head} "
                f"is not an ancestor of {from_ref!r}'s head {src_head}")
        if to_ref == "main":
            meta["snapshot-log"] = meta["snapshot-log"] + [
                {"timestamp-ms": s["timestamp-ms"],
                 "snapshot-id": s["snapshot-id"]}
                for s in reversed(path)]
            meta["current-snapshot-id"] = src_head
            refs["main"] = {"snapshot-id": src_head, "type": "branch"}
        else:
            refs[to_ref] = {"snapshot-id": src_head, "type": "branch"}
        meta["refs"] = refs
        self._write_metadata(meta, self._current_version() + 1)
        return src_head

    def _resolve_snapshot(self, snapshot_id: int | None = None,
                          as_of_ms: int | None = None,
                          ref: str | None = None) -> dict | None:
        snaps = self.metadata["snapshots"]
        if not snaps:
            return None
        if ref is not None:
            if snapshot_id is not None or as_of_ms is not None:
                raise ValueError("ref= excludes snapshot_id=/as_of_ms=")
            r = self.refs.get(ref)
            if r is None:
                raise ValueError(f"no such ref {ref!r}")
            snapshot_id = r["snapshot-id"]
        if snapshot_id is not None:
            for s in snaps:
                if s["snapshot-id"] == snapshot_id:
                    return s
            raise ValueError(f"unknown snapshot id {snapshot_id}")
        if as_of_ms is not None:
            eligible = [s for s in snaps if s["timestamp-ms"] <= as_of_ms]
            if not eligible:
                raise ValueError(f"no snapshot at or before {as_of_ms}")
            return max(eligible, key=lambda s: s["timestamp-ms"])
        cur = self.metadata["current-snapshot-id"]
        if cur == -1:
            # snapshots exist but none published to main yet (staged
            # branch commits on an otherwise-empty table)
            return None
        return next(s for s in snaps if s["snapshot-id"] == cur)

    # -- append -------------------------------------------------------------

    def append(self, df, now_ms: int | None = None,
               sort_by: list[str] | None = None,
               operation_id: str | None = None,
               branch: str | None = None) -> int:
        """Write df as parquet data files and commit one new snapshot.
        Returns the new snapshot id (deterministic: derived from the table
        uuid + sequence number, so tests and resumed jobs are reproducible).

        sort_by: range-cluster the write on these columns (Iceberg's
        write.sort-order): each output file then covers a narrow value
        range, which is what makes the manifest min/max bounds actually
        prune on value_filter reads — unsorted writes give every file
        near-global bounds and data skipping never fires.

        operation_id: idempotency token recorded in the snapshot summary —
        an append whose operation_id already committed is a NO-OP returning
        the existing snapshot id.  This is what makes at-least-once
        callers (foreachBatch retries/restarts in streaming.py) exactly-
        once at the table: a replayed micro-batch finds its own earlier
        commit instead of appending duplicate rows.

        branch: commit to a named BRANCH instead of main (Iceberg's
        `toBranch` / write-audit-publish staging).  The branch is created
        at the current main head if absent; main's current-snapshot-id and
        snapshot-log are untouched, so readers of the table see nothing
        until `fast_forward("main", branch)` publishes the staged history.
        """
        if pq is None:  # pragma: no cover
            raise RuntimeError("pyarrow required for iceberg-lite appends")
        if operation_id is not None:
            for snap in self.metadata["snapshots"]:
                if snap.get("summary", {}).get("operation-id") == operation_id:
                    return int(snap["snapshot-id"])
        meta, seq, snap_id, now_ms = self._begin(now_ms)
        entries = self._write_data_files(df, snap_id, seq, sort_by=sort_by)
        return self._commit_entries(meta, entries, snap_id, seq, now_ms,
                                    operation="append",
                                    operation_id=operation_id, branch=branch)

    def _write_data_files(self, df, snap_id: int, seq: int,
                          sort_by: list[str] | None = None) -> list[dict]:
        """Write df as the data files of a not-yet-committed snapshot and
        return their manifest entries (shared by append and merge_into).

        Data files land in hive layout under data/snap-<id>/ — Spark's
        native partitioned write (scales with the cluster; no driver data
        path).  Manifest entries come from the written files' footers
        (record counts from parquet metadata — no data read) plus the
        dir-encoded partition tuples."""
        pcols = self.partition_cols
        df, pnames = self._with_partition_columns(df)
        out_dir = os.path.join(self.data_dir, f"snap-{snap_id}")
        if sort_by:
            n = df.sparkSession.conf.get("spark.sql.shuffle.partitions")
            df = (df.repartitionByRange(int(n), *sort_by)
                  .sortWithinPartitions(*sort_by))
        # overwrite, not error: the snap-dir is uniquely owned by this
        # not-yet-committed sequence number, and a crashed earlier attempt
        # (data written, metadata commit not reached) leaves the same dir
        # behind — the retry must be able to redo it
        writer = df.write.mode("overwrite")
        if pnames:
            writer = writer.partitionBy(*pnames)
        writer.parquet(out_dir)
        return self._scan_dir_entries(out_dir, pcols, snap_id, seq)

    def _with_partition_columns(self, df):
        """Derive hidden-partition value columns for a partitioned write.
        Identity fields partition directly on the source column (Spark
        moves it into the hive dir, read() restores it via basePath);
        transform fields get a derived column named after the partition
        field, which Spark likewise lifts into the dir — the SOURCE column
        stays in the data file, which is exactly the spec's hidden
        partitioning (query columns never leave the data).  Returns
        (df, partitionBy names)."""
        pnames = []
        for p in self.partition_fields:
            if p["transform"] == "identity":
                pnames.append(p["source_name"])
                continue
            if p["name"] in df.columns:
                raise ValueError(
                    f"column {p['name']!r} collides with the derived "
                    f"partition field of {p['transform']} on "
                    f"{p['source_name']!r}")
            df = df.withColumn(
                p["name"],
                transform_expr(p["transform"], p["source_name"],
                               p["source_type"]))
            pnames.append(p["name"])
        return df, pnames

    def _scan_dir_entries(self, d: str, pcols, snap_id: int, seq: int) -> list[dict]:
        """Manifest entries for every parquet file under `d`: record counts
        from the parquet footers (no data read), partition tuples from any
        hive-style key=value path segments below `d`.  A single .parquet
        file path is accepted as a one-file source."""
        entries = []
        if os.path.isfile(d):
            walk = [(os.path.dirname(d), [], [os.path.basename(d)])]
            d = os.path.dirname(d)
        else:
            walk = os.walk(d)
        for root, _, files in walk:
            for fn in sorted(files):
                if not fn.endswith(".parquet"):
                    continue
                p = os.path.join(root, fn)
                rel = os.path.relpath(root, d)
                part: dict[str, Any] = {}
                if rel != ".":
                    for piece in rel.split(os.sep):
                        k, _, v = piece.partition("=")
                        part[k] = _decode_hive_value(v, dict(pcols).get(k, "string"))
                pnames = [c for c, _ in pcols]
                entries.append({
                    "status": 1,  # ADDED
                    "snapshot_id": snap_id,
                    "sequence_number": seq,
                    "data_file": {
                        "content": 0,  # DATA
                        "file_path": p,
                        "file_format": "PARQUET",
                        "partition": {c: part.get(c) for c in pnames},
                        "record_count": pq.ParquetFile(p).metadata.num_rows,
                        "file_size_in_bytes": os.path.getsize(p),
                        "equality_ids": None,
                        "gx_bounds": _footer_bounds(p),
                    },
                })
        return entries

    def _scan_nonempty_entries(self, d: str, snap_id: int, seq: int) -> list[dict]:
        """Manifest entries for the non-empty parquet files under `d`;
        zero-record part files (empty shuffle partitions of a fanned-out
        delete write) are unlinked so nothing unreferenced is left for
        expire_snapshots to miss."""
        entries = []
        for e in self._scan_dir_entries(d, [], snap_id, seq):
            if e["data_file"]["record_count"] > 0:
                entries.append(e)
            else:
                try:
                    os.unlink(e["data_file"]["file_path"])
                except OSError:  # pragma: no cover
                    pass
        return entries

    def add_files(self, source_dir: str, now_ms: int | None = None) -> int:
        """Metadata-only import of existing parquet files — the migration
        path, mirroring Iceberg's `add_files` procedure: commits a snapshot
        whose manifest points at the files IN PLACE.  No byte of data is
        rewritten, so importing a multi-TB table is O(#files) footer reads.

        Hive-style `key=value` dirs under `source_dir` become partition
        tuples when they match the table's partition spec.  For flat
        sources the table should be unpartitioned (all schema columns live
        in the files)."""
        if pq is None:  # pragma: no cover
            raise RuntimeError("pyarrow required for iceberg-lite add_files")
        meta, seq, snap_id, now_ms = self._begin(now_ms)
        entries = self._scan_dir_entries(os.path.abspath(source_dir),
                                         self.partition_cols, snap_id, seq)
        if not entries:
            raise ValueError(f"no parquet files under {source_dir}")
        return self._commit_entries(meta, entries, snap_id, seq, now_ms,
                                    operation="add-files")

    # -- schema evolution ---------------------------------------------------

    def _evolve_schema(self, mutate) -> None:
        """Commit a new schema version (metadata-only, no snapshot):
        copy the current schema, apply `mutate(fields)`, append it with a
        fresh schema-id and point current-schema-id at it."""
        meta = dict(self.metadata)
        cur = meta["schemas"][meta["current-schema-id"]]
        fields = [dict(f) for f in cur["fields"]]
        mutate(fields)
        new_schema = {"type": "struct", "schema-id": len(meta["schemas"]),
                      "fields": fields}
        meta = dict(meta)
        meta["schemas"] = meta["schemas"] + [new_schema]
        meta["current-schema-id"] = new_schema["schema-id"]
        meta["last-column-id"] = max(
            (f["id"] for f in fields), default=meta["last-column-id"])
        self._write_metadata(meta, self._current_version() + 1)

    def update_partition_spec(self, partition_by: list[str]) -> int:
        """Partition spec evolution (metadata-only, no snapshot, no data
        rewrite — the Iceberg headline next to hidden partitioning):
        future writes lay out and record the NEW spec's tuples, while
        every already-written file keeps the spec it was written under.
        Planning prunes each file by its own spec (manifests carry the
        spec id), so a source-column filter cuts new files at the new
        granularity and old files at theirs; reads of mixed-spec tables
        stay exact because the source columns live in the data files and
        non-identity filters re-pin rows.  Accepts the same entries as
        create(): bare columns and bucket/truncate/time transform specs.

        Returns the new spec id."""
        meta = dict(self.metadata)
        fields = meta["schemas"][meta["current-schema-id"]]["fields"]
        first_id = meta.get("last-partition-id", 999) + 1
        spec_fields = _build_spec_fields(fields, partition_by, first_id)
        # reuse a matching existing spec (spec-sameness = same transform
        # over the same source, in order) — repeated idempotent calls and
        # evolve-back-to-a-previous-layout must not grow partition-specs
        shape = [(f["transform"], f["source-id"]) for f in spec_fields]
        for s in meta["partition-specs"]:
            if [(f.get("transform", "identity"), f["source-id"])
                    for f in s["fields"]] == shape:
                if meta["default-spec-id"] != s["spec-id"]:
                    meta["default-spec-id"] = s["spec-id"]
                    self._write_metadata(meta, self._current_version() + 1)
                return s["spec-id"]
        new_spec = {"spec-id": len(meta["partition-specs"]),
                    "fields": spec_fields}
        meta["partition-specs"] = meta["partition-specs"] + [new_spec]
        meta["default-spec-id"] = new_spec["spec-id"]
        meta["last-partition-id"] = max(
            (f["field-id"] for f in spec_fields), default=first_id - 1)
        self._write_metadata(meta, self._current_version() + 1)
        return new_spec["spec-id"]

    def add_column(self, name: str, ice_type: str) -> None:
        """Add an optional column (Iceberg schema evolution).  Existing
        data files don't have it; reads null-fill (the spec's default-value
        semantics for new optional fields).  Metadata-only — no snapshot,
        no data rewrite."""
        def mutate(fields):
            if any(f["name"] == name for f in fields):
                raise ValueError(f"column {name!r} already exists")
            if (ice_type not in _ICE_TO_SPARK
                    and not str(ice_type).startswith("decimal")):
                raise ValueError(f"unsupported iceberg type {ice_type!r}")
            fields.append({"id": self.metadata["last-column-id"] + 1,
                           "name": name, "required": False, "type": ice_type})
        self._evolve_schema(mutate)

    def rename_column(self, old: str, new: str) -> None:
        """Rename a column; the field id is stable (spec semantics).  Files
        are written/read by NAME in iceberg-lite (no field-id mapping in
        parquet — documented limitation), so the previous name is kept on
        the field and aliased at read for pre-rename files."""
        def mutate(fields):
            if any(f["name"] == new for f in fields):
                raise ValueError(f"column {new!r} already exists")
            for f in fields:
                if f["name"] == old:
                    prev = f.get("gx-previous-names", [])
                    f["gx-previous-names"] = prev + [old]
                    f["name"] = new
                    return
            raise ValueError(f"no column {old!r}")
        self._evolve_schema(mutate)

    def drop_column(self, name: str) -> None:
        """Drop a column from the current schema; old files keep the bytes
        (immutably), reads simply stop projecting it.  Partition source
        columns can't be dropped."""
        if name in self.partition_source_names:
            raise ValueError(f"cannot drop partition column {name!r}")
        def mutate(fields):
            for i, f in enumerate(fields):
                if f["name"] == name:
                    del fields[i]
                    if not fields:
                        raise ValueError("cannot drop the last column")
                    return
            raise ValueError(f"no column {name!r}")
        self._evolve_schema(mutate)

    def _begin(self, now_ms: int | None) -> tuple[dict, int, int, int]:
        """Start a commit: next sequence number + deterministic snapshot id
        (derived from table uuid + seq, so tests and resumed jobs are
        reproducible)."""
        meta = dict(self.metadata)
        seq = meta["last-sequence-number"] + 1
        snap_id = int.from_bytes(
            uuid.uuid5(uuid.NAMESPACE_URL, f"{meta['table-uuid']}#{seq}").bytes[:8],
            "big",
        ) >> 1  # positive long
        if now_ms is None:
            now_ms = meta["last-updated-ms"] + 1
        return meta, seq, snap_id, now_ms

    def delete(self, spark, condition: str, now_ms: int | None = None) -> int | None:
        """Positional row-level delete (Iceberg v2 delete files): rows
        visible at the CURRENT snapshot matching `condition` (a Spark SQL
        predicate) are recorded as (file_path, pos) pairs in parquet
        delete files and committed under a content=1 (deletes) manifest.
        No data file is rewritten — readers apply the deletes as an
        anti-join (see read()).  Positions come from the parquet reader's
        `_metadata.row_index`, so the whole delete scan is distributed;
        nothing rows through the driver.  Returns the new snapshot id, or
        None if no visible row matched.

        Spec notes (https://iceberg.apache.org/spec/#position-delete-files):
        files are sorted by (file_path, pos); a delete file written at
        sequence s applies to data files with sequence <= s — and since a
        position delete can only name files that existed when it was
        written, applying the whole delete set of a snapshot to its whole
        data set is equivalent, which is what read() does.

        The commit writes MULTIPLE delete files — matches are hash
        partitioned by source data-file group (the spec allows any number
        of delete files per commit, each registered in the content=1
        manifest), so a DELETE matching 10^9 rows sorts and writes in
        parallel instead of funnelling through one task.  All positions of
        a given data file land in the same delete file, keeping each file
        internally sorted by (file_path, pos) as the spec requires."""
        files = self.plan_files()
        if not files:
            return None
        from pyspark.sql import functions as F

        meta, seq, snap_id, now_ms = self._begin(now_ms)
        matches = (
            self._read_planned(spark, files, keep_position=True)
            .filter(condition)
            .select(F.col("_gx_file_path").alias("file_path"),
                    F.col("_gx_pos").alias("pos"))
        )
        out_dir = os.path.join(self.data_dir, f"deletes-{snap_id}")
        n_parts = max(1, min(len(files), spark.sparkContext.defaultParallelism))
        (matches.repartition(n_parts, "file_path")
         .sortWithinPartitions("file_path", "pos")
         .write.mode("error").parquet(out_dir))
        entries = self._scan_nonempty_entries(out_dir, snap_id, seq)
        n_deleted = sum(e["data_file"]["record_count"] for e in entries)
        if n_deleted == 0:
            import shutil

            shutil.rmtree(out_dir, ignore_errors=True)
            return None
        pnames = [c for c, _ in self.partition_cols]
        for e in entries:
            e["data_file"]["content"] = 1  # POSITION_DELETES
            e["data_file"]["partition"] = {c: None for c in pnames}
        return self._commit_entries(meta, entries, snap_id, seq, now_ms,
                                    operation="delete", content=1)

    def equality_delete(self, spark, keys_df,
                        columns: list[str] | None = None,
                        now_ms: int | None = None) -> int | None:
        """Equality delete (Iceberg v2 content=2 delete files): every row
        whose `columns` tuple matches a row of `keys_df` is deleted — from
        data files STRICTLY OLDER than this commit only (sequence scoping
        per the spec: an equality delete at sequence s applies to data
        files with sequence < s, so rows re-inserted later survive).
        The delete files store the distinct key tuples as parquet plus the
        columns' field ids (`equality_ids`), so the mapping survives
        renames.  Matching is null-safe (<=>), mirroring Iceberg.
        Returns the new snapshot id, or None for an empty key set.

        Keys are hash partitioned by the key columns, so a commit writes
        one delete file per non-empty partition (the spec allows any
        number per commit) — a billion-key delete distributes the
        distinct + write instead of sorting in a single task.  Readers
        join all files of one commit as ONE delete set (one anti-join,
        broadcast below the size gate), so commit fan-out never
        multiplies join count."""
        meta, seq, snap_id, now_ms = self._begin(now_ms)
        entries = self._write_eq_delete_files(spark, keys_df, columns,
                                              snap_id, seq)
        if not entries:
            return None
        return self._commit_entries(meta, entries, snap_id, seq, now_ms,
                                    operation="delete", content=1)

    def _write_eq_delete_files(self, spark, keys_df,
                               columns: list[str] | None,
                               snap_id: int, seq: int) -> list[dict]:
        """Write the content=2 equality-delete files of a not-yet-committed
        snapshot and return their manifest entries (shared by
        equality_delete and merge_into).  Returns [] for an empty key set
        (the dir is cleaned up)."""
        columns = columns or list(keys_df.columns)
        by_name = {f["name"]: f for f in self.schema_fields}
        for c in columns:
            if c not in by_name:
                raise ValueError(f"no column {c!r} in table schema")
        out_dir = os.path.join(self.data_dir, f"eqdeletes-{snap_id}")
        keys = keys_df.select(*columns).repartition(
            max(1, spark.sparkContext.defaultParallelism), *columns).distinct()
        # overwrite, not error: see _write_data_files — the dir is uniquely
        # owned by this uncommitted sequence; a crashed attempt may have
        # left it behind and the retry must redo it
        keys.write.mode("overwrite").parquet(out_dir)
        entries = self._scan_nonempty_entries(out_dir, snap_id, seq)
        if sum(e["data_file"]["record_count"] for e in entries) == 0:
            import shutil

            shutil.rmtree(out_dir, ignore_errors=True)
            return []
        pnames = [c for c, _ in self.partition_cols]
        for e in entries:
            e["data_file"]["content"] = 2  # EQUALITY_DELETES
            e["data_file"]["partition"] = {c: None for c in pnames}
            e["data_file"]["equality_ids"] = [by_name[c]["id"] for c in columns]
        return entries

    def merge_into(self, spark, source_df, on: list[str],
                   when_matched: str = "update",
                   when_not_matched: str = "insert",
                   now_ms: int | None = None,
                   operation_id: str | None = None,
                   branch: str | None = None) -> int | None:
        """MERGE INTO (Iceberg's row-level merge-on-read upsert): apply
        `source_df` to the table keyed on the `on` columns, in ONE atomic
        commit — a single 'overwrite' snapshot carrying an equality-delete
        manifest and a data manifest at the same sequence number, so the
        merge's own inserts survive its own deletes (eq deletes apply
        strictly below their sequence).  No existing data file is ever
        rewritten; matched rows are masked by content=2 delete files and
        replacements appended, exactly the Flink/Spark MoR upsert shape.

        when_matched: 'update' (replace the row with the source row),
        'delete', or 'none'.  when_not_matched: 'insert' or 'none'.

        The default upsert ('update'/'insert') NEVER SCANS THE TARGET:
        every source key is written as an equality delete (keys absent
        from the table delete nothing) and every source row appended —
        pure source-sized work plus metadata, the property that makes
        continuous CDC ingestion into a 10^12-row table feasible.  Modes
        that must distinguish matched from unmatched ('none'/'insert'
        insert-if-absent, 'update'/'none' update-only, 'delete'+'insert')
        do ONE column-pruned scan of the target's key columns and a
        broadcast-friendly semi/anti join against the (small) source.

        operation_id: idempotency token, as in append() — a replayed merge
        whose operation_id already committed is a no-op returning the
        existing snapshot id (the checkpoint/resume contract).

        branch: stage the merge on a named branch, as in append(branch=)
        — matched/unmatched clauses resolve against the branch head, main
        never sees the result until fast_forward() publishes it.  This is
        what lets a CDC upsert run through the write-audit-publish gate.

        Returns the new snapshot id, or None if the merge is a no-op
        (e.g. empty source)."""
        if when_matched not in ("update", "delete", "none"):
            raise ValueError(f"when_matched={when_matched!r}")
        if when_not_matched not in ("insert", "none"):
            raise ValueError(f"when_not_matched={when_not_matched!r}")
        if when_matched == "none" and when_not_matched == "none":
            raise ValueError("merge with no active clause")
        by_name = {f["name"]: f for f in self.schema_fields}
        for c in on:
            if c not in by_name:
                raise ValueError(f"merge key {c!r} not in table schema")
            if c not in source_df.columns:
                raise ValueError(f"merge key {c!r} not in source")
        if operation_id is not None:
            for snap in self.metadata["snapshots"]:
                if snap.get("summary", {}).get("operation-id") == operation_id:
                    return int(snap["snapshot-id"])

        inserts_need_full_row = (
            when_not_matched == "insert" or when_matched == "update")
        if inserts_need_full_row:
            missing = [f["name"] for f in self.schema_fields
                       if f["name"] not in source_df.columns]
            if missing:
                raise ValueError(f"source missing table columns {missing}")
            src_full = source_df.select(
                *[f["name"] for f in self.schema_fields])

        # matched/unmatched split — only when a clause is asymmetric.
        # The key scan is column-pruned to the `on` columns (Catalyst
        # prunes the parquet scan) and deduplicated before the join.
        tgt_keys = None
        if ((when_matched == "update" and when_not_matched == "none")
                or when_matched == "none"
                or (when_matched == "delete" and when_not_matched == "insert")):
            # when merging onto a branch, matched/unmatched resolve
            # against the BRANCH head (falling back to main where the
            # branch doesn't exist yet — it forks from main at commit)
            ref = branch if branch is not None and branch in (
                self.metadata.get("refs") or {}) else None
            tgt_keys = self.read(spark, ref=ref).select(*on).distinct()

        delete_keys = None
        insert_df = None
        if when_matched == "update":
            if when_not_matched == "insert":      # classic upsert
                delete_keys = source_df.select(*on)
                insert_df = src_full
            else:                                 # update-only
                matched = src_full.join(tgt_keys, on, "left_semi")
                delete_keys = matched.select(*on)
                insert_df = matched
        elif when_matched == "delete":
            delete_keys = source_df.select(*on)
            if when_not_matched == "insert":
                insert_df = src_full.join(tgt_keys, on, "left_anti")
        else:                                     # insert-if-absent
            insert_df = src_full.join(tgt_keys, on, "left_anti")

        meta, seq, snap_id, now_ms = self._begin(now_ms)
        groups: list[tuple[list[dict], int]] = []
        if delete_keys is not None:
            del_entries = self._write_eq_delete_files(
                spark, delete_keys, on, snap_id, seq)
            if del_entries:
                groups.append((del_entries, 1))
        if insert_df is not None:
            data_entries = self._write_data_files(insert_df, snap_id, seq)
            if sum(e["data_file"]["record_count"] for e in data_entries):
                groups.append((data_entries, 0))
            else:
                import shutil

                shutil.rmtree(os.path.join(self.data_dir, f"snap-{snap_id}"),
                              ignore_errors=True)
        if not groups:
            return None
        return self._commit_manifest_groups(
            meta, groups, snap_id, seq, now_ms, operation="overwrite",
            operation_id=operation_id, branch=branch)

    def rewrite_data_files(self, spark, target_files: int | None = None,
                           now_ms: int | None = None) -> int | None:
        """Compaction (Iceberg's rewrite_data_files maintenance action):
        reads the current snapshot (position deletes folded in), writes a
        fresh set of data files, and commits a REPLACE snapshot whose
        manifest lists only the new files.  Old files stay on disk for
        time travel; accumulated delete files stop applying (the replace
        snapshot's manifest list carries no delete manifests).  This is
        the standing answer to the small-file problem at scale: scan cost
        is O(#files) footers, so periodic compaction keeps planning and
        read parallelism healthy.

        target_files coalesces the rewrite (per partition dir when the
        table is partitioned); default keeps Spark's natural output."""
        files = self.plan_files()
        if not files:
            return None
        df = self.read(spark)
        meta, seq, snap_id, now_ms = self._begin(now_ms)
        pcols = self.partition_cols
        df, pnames = self._with_partition_columns(df)
        out_dir = os.path.join(self.data_dir, f"snap-{snap_id}")
        if target_files:
            df = (df.repartition(target_files, *pnames) if pnames
                  else df.coalesce(target_files))
        writer = df.write.mode("error")
        if pnames:
            writer = writer.partitionBy(*pnames)
        writer.parquet(out_dir)
        entries = self._scan_dir_entries(out_dir, pcols, snap_id, seq)
        return self._commit_entries(meta, entries, snap_id, seq, now_ms,
                                    operation="replace", replace=True)

    def rewrite_manifests(self, now_ms: int | None = None) -> dict:
        """Metadata-only manifest consolidation (Iceberg's
        rewrite_manifests maintenance action): the current snapshot's
        manifests — one per historical commit, because every commit
        carries its predecessors' manifests forward — fold into ONE
        manifest per (content kind, partition spec), committed as a
        'replace' snapshot.  Scan planning reads O(#manifests) OCF files
        before it prunes a single data file, so a table with 10^4 commits
        pays 10^4 metadata reads per query until this runs; after it, one
        per spec.  No data file moves or is rewritten.

        Per-entry snapshot_id and sequence_number are PRESERVED (status
        flips to 0 = EXISTING, the spec's marker for carried-forward
        entries): incremental reads, changelog provenance, and
        equality-delete sequence scoping all key on the per-entry
        numbers, so consolidation is invisible to them — plan_files
        prunes entries by their own sequence, and the consolidated
        manifest's min_sequence_number keeps the manifest-level fast path
        conservative.  The 'replace' snapshot is silent in changes(),
        exactly like data compaction: no logical change.

        Returns {"manifests_before", "manifests_after", "entries"}."""
        snap = self._resolve_snapshot()
        if snap is None:
            return {"manifests_before": 0, "manifests_after": 0,
                    "entries": 0}
        _, manifests = read_ocf(snap["manifest-list"])
        groups: dict[tuple[int, int], list[dict]] = {}
        group_rows: dict[tuple[int, int], list[dict]] = {}
        for m in manifests:
            _, entries = read_ocf(m["manifest_path"])
            key = (m.get("content", 0), m.get("partition_spec_id", 0))
            group_rows.setdefault(key, []).append(m)
            for e in entries:
                if e["status"] == 2:  # DELETED: drop tombstones entirely
                    continue
                groups.setdefault(key, []).append({
                    "status": 0,  # EXISTING (carried forward, not added)
                    "snapshot_id": e.get("snapshot_id"),
                    "sequence_number": (e.get("sequence_number")
                                        or m["sequence_number"]),
                    "data_file": e["data_file"],
                })
        n_entries = sum(len(v) for v in groups.values())
        # decide which groups actually consolidate BEFORE writing anything
        # (a no-op call must not strand manifest files on disk): a group
        # is rewritable only if it spans >1 manifest AND every stored
        # partition key is still typable by the current schema — a spec
        # field whose SOURCE column was dropped can't be re-encoded
        # losslessly, so its manifests are carried forward untouched
        pcols_by_spec: dict[int, list[tuple[str, str]]] = {}
        rewritable: set[tuple[int, int]] = set()
        for key, entries in groups.items():
            content, spec_id = key
            if spec_id not in pcols_by_spec:
                pcols_by_spec[spec_id] = [
                    (p["name"], p["value_type"])
                    for p in self.partition_fields_for(spec_id)]
            stored = set()
            for e in entries:
                stored.update((e["data_file"].get("partition") or {}))
            if (len(group_rows[key]) > 1
                    and stored <= {n for n, _ in pcols_by_spec[spec_id]}):
                rewritable.add(key)
        if not rewritable:
            return {"manifests_before": len(manifests),
                    "manifests_after": len(manifests), "entries": n_entries}
        meta, seq, snap_id, now_ms = self._begin(now_ms)
        new_manifests = []
        for gi, ((content, spec_id), entries) in enumerate(sorted(
                groups.items())):
            if (content, spec_id) not in rewritable:
                new_manifests.extend(group_rows[(content, spec_id)])
                continue
            pcols = pcols_by_spec[spec_id]
            man_path = os.path.join(self.meta_dir,
                                    f"manifest-{snap_id}-{gi}.avro")
            write_ocf(man_path, _manifest_entry_schema(pcols), entries,
                      extra_meta={"schema": json.dumps(
                          meta["schemas"][meta["current-schema-id"]]).encode(),
                          "partition-spec-id": str(spec_id).encode(),
                          "content": b"deletes" if content else b"data"})
            new_manifests.append({
                "manifest_path": man_path,
                "manifest_length": os.path.getsize(man_path),
                "partition_spec_id": spec_id,
                "content": content,
                "sequence_number": seq,
                "min_sequence_number": min(
                    e["sequence_number"] for e in entries),
                "added_snapshot_id": snap_id,
                "added_files_count": 0,
                "existing_files_count": len(entries),
                "deleted_files_count": 0,
                "added_rows_count": 0,
                "existing_rows_count": sum(
                    e["data_file"]["record_count"] for e in entries),
                "deleted_rows_count": 0,
            })
        self._finalize_snapshot(
            meta, new_manifests, snap_id, seq, now_ms,
            {"operation": "replace",
             "rewritten-manifests": str(len(manifests)),
             "added-manifests": str(len(new_manifests))})
        return {"manifests_before": len(manifests),
                "manifests_after": len(new_manifests), "entries": n_entries}

    def rollback_to_snapshot(self, snapshot_id: int) -> int:
        """Move main BACK to an ancestor snapshot (Iceberg's
        `rollback_to_snapshot` maintenance procedure — the undo for a bad
        publish).  Pure metadata: the rolled-past snapshots stay on disk
        (re-readable by id, expirable later unless a ref protects them);
        the next commit forks from the restored state.  The target must
        be an ancestor of the current snapshot — rolling "back" to an
        unrelated snapshot would silently rewrite history, so it raises.

        Returns the restored snapshot id."""
        meta = dict(self.metadata)
        by_id = {s["snapshot-id"]: s for s in meta["snapshots"]}
        if snapshot_id not in by_id:
            raise ValueError(f"unknown snapshot id {snapshot_id}")
        sid = (meta["current-snapshot-id"]
               if meta["current-snapshot-id"] != -1 else None)
        while sid is not None and sid != snapshot_id:
            sid = by_id.get(sid, {}).get("parent-snapshot-id")
        if sid != snapshot_id:
            raise ValueError(
                f"snapshot {snapshot_id} is not an ancestor of the "
                "current snapshot — rollback_to_snapshot only rewinds "
                "main's own history")
        now_ms = meta["last-updated-ms"] + 1
        meta["current-snapshot-id"] = snapshot_id
        meta["last-updated-ms"] = now_ms
        # the log records the rollback as a new history event (real
        # Iceberg's snapshot-log does the same — history is append-only
        # even when the table state moves backwards)
        meta["snapshot-log"] = meta["snapshot-log"] + [
            {"timestamp-ms": now_ms, "snapshot-id": snapshot_id}]
        refs = dict(meta.get("refs") or {})
        refs["main"] = {"snapshot-id": snapshot_id, "type": "branch"}
        meta["refs"] = refs
        self._write_metadata(meta, self._current_version() + 1)
        return snapshot_id

    def expire_snapshots(self, keep_last: int = 1,
                         older_than_ms: int | None = None) -> dict:
        """Maintenance: expire old snapshots (Iceberg's expire_snapshots).
        Metadata keeps the surviving snapshots; manifest lists, manifests,
        and data/delete files referenced ONLY by expired snapshots are
        deleted from disk.  Because every commit's manifest list carries
        the prior manifests forward, files still reachable from any
        surviving snapshot are always retained — what actually gets
        reclaimed is pre-compaction/pre-replace garbage, which is the
        at-scale point: bounded metadata and storage under continuous
        appends + compaction.  Files OUTSIDE the table location
        (add_files imports) are never deleted.

        keep_last: keep the most recent N snapshots (the current one is
        always kept).  older_than_ms: expire only snapshots with commit
        timestamp strictly below this (still keeping the current)."""
        meta = dict(self.metadata)
        snaps = meta["snapshots"]
        current = meta["current-snapshot-id"]
        # keep_last / older_than_ms govern MAIN's published history (the
        # ancestor chain of the current snapshot); snapshots outside it —
        # orphaned stages whose branch/tag ref was dropped — are garbage
        # unless a surviving ref protects them below
        by_id_all = {s["snapshot-id"]: s for s in snaps}
        main_chain: list[dict] = []
        sid = current if current != -1 else None
        while sid is not None and sid in by_id_all:
            main_chain.append(by_id_all[sid])
            sid = by_id_all[sid].get("parent-snapshot-id")
        main_chain.reverse()  # oldest -> newest
        if older_than_ms is not None:
            keep = [s for s in main_chain
                    if s["timestamp-ms"] >= older_than_ms
                    or s["snapshot-id"] == current]
        else:
            keep = main_chain[-max(keep_last, 1):]
        # named tags/branches protect their snapshots from expiry; a
        # branch (other than the implicit main, whose history keep_last/
        # older_than_ms already governs) also protects its ANCESTORS —
        # unpublished staged history must survive maintenance, or a later
        # fast_forward would publish dangling snapshots
        ref_ids: set[int] = set()
        for name, r in (meta.get("refs") or {}).items():
            sid = r["snapshot-id"]
            if r.get("type") == "branch" and name != "main":
                while (sid is not None and sid in by_id_all
                       and sid not in ref_ids):
                    ref_ids.add(sid)
                    sid = by_id_all[sid].get("parent-snapshot-id")
            else:
                ref_ids.add(sid)
        kept_set = {s["snapshot-id"] for s in keep}
        keep = [s for s in snaps
                if s["snapshot-id"] in kept_set or s["snapshot-id"] in ref_ids]
        keep_ids = {s["snapshot-id"] for s in keep}
        expired = [s for s in snaps if s["snapshot-id"] not in keep_ids]
        stats = {"expired_snapshots": len(expired), "deleted_data_files": 0,
                 "deleted_manifests": 0, "deleted_manifest_lists": 0}
        if not expired:
            return stats
        # all comparisons on realpaths: a table opened through a symlink
        # alias of its location must reclaim exactly what the real-path
        # open would (manifests store real paths)
        real_location = os.path.realpath(self.location)
        referenced: set[str] = set()
        kept_manifests: set[str] = set()
        kept_lists = {os.path.realpath(s["manifest-list"]) for s in keep}
        for s in keep:
            _, manifests = read_ocf(s["manifest-list"])
            for m in manifests:
                kept_manifests.add(os.path.realpath(m["manifest_path"]))
                _, entries = read_ocf(m["manifest_path"])
                for e in entries:
                    referenced.add(
                        os.path.realpath(e["data_file"]["file_path"]))
        for s in expired:
            lst = s["manifest-list"]
            if os.path.realpath(lst) in kept_lists or not os.path.exists(lst):
                continue
            _, manifests = read_ocf(lst)
            for m in manifests:
                mp = m["manifest_path"]
                if (os.path.realpath(mp) in kept_manifests
                        or not os.path.exists(mp)):
                    continue
                _, entries = read_ocf(mp)
                for e in entries:
                    p = e["data_file"]["file_path"]
                    rp = os.path.realpath(p)
                    if (rp not in referenced and os.path.exists(p)
                            and rp.startswith(real_location + os.sep)):
                        os.remove(p)
                        stats["deleted_data_files"] += 1
                        self._prune_empty_dirs(os.path.dirname(p))
                os.remove(mp)
                stats["deleted_manifests"] += 1
            os.remove(lst)
            stats["deleted_manifest_lists"] += 1
        meta["snapshots"] = keep
        meta["snapshot-log"] = [x for x in meta["snapshot-log"]
                                if x["snapshot-id"] in keep_ids]
        self._write_metadata(meta, self._current_version() + 1)
        return stats

    def remove_orphan_files(self, older_than_ms: int | None = None,
                            dry_run: bool = False) -> list[str]:
        """Maintenance: delete files under the table location that no
        snapshot references (Iceberg's remove_orphan_files procedure) —
        the debris of crashed writes: data/delete parquet laid down by a
        task whose commit never happened, half-written manifests, stray
        .tmp files.  expire_snapshots reclaims files that WERE committed
        and then aged out; this reclaims files that never made it into
        any commit.

        The referenced set is every surviving snapshot's manifest list,
        every manifest those lists name, every data/delete file those
        manifests name (staged branch snapshots are in `snapshots`, so
        unpublished WAP work is protected), plus the metadata.json
        version log and the version hint.

        `older_than_ms` is the in-flight-write guard, exactly as in the
        Iceberg procedure: only files whose mtime is strictly below it
        are eligible (default: 3 days before now — a concurrent writer's
        just-written, not-yet-committed files must not be swept).  Pass
        `dry_run=True` to list without deleting.  Returns the orphan
        paths (deleted, or would-be-deleted under dry_run).

        Safety rails for a destructive sweep: paths are compared by
        os.path.realpath on BOTH sides, so opening the table through a
        symlinked alias of its location cannot make every committed file
        look unreferenced; if the table has committed files but NOT ONE
        referenced file was seen during the walk, the sweep refuses
        outright (path-scheme mismatch — deleting would destroy the
        table); and files that vanish mid-walk (a concurrent writer
        cleaning its own temp output) are skipped, not crashed on."""
        import time

        if older_than_ms is None:
            older_than_ms = int((time.time() - 3 * 86400) * 1000)
        referenced: set[str] = set()
        for s in self.metadata["snapshots"]:
            lst = s["manifest-list"]
            referenced.add(os.path.realpath(lst))
            if not os.path.exists(lst):
                continue
            _, manifests = read_ocf(lst)
            for m in manifests:
                mp = m["manifest_path"]
                rp = os.path.realpath(mp)
                if rp in referenced:
                    continue  # carried forward by many snapshots: read once
                referenced.add(rp)
                if not os.path.exists(mp):
                    continue
                _, entries = read_ocf(mp)
                for e in entries:
                    referenced.add(
                        os.path.realpath(e["data_file"]["file_path"]))
        orphans: list[str] = []
        seen_referenced = 0
        for root in (self.data_dir, self.meta_dir):
            if not os.path.isdir(root):
                continue
            for d, _sub, names in os.walk(root):
                for name in names:
                    if name.startswith((".", "_")):
                        # HiddenPathFilter semantics, as in Iceberg's own
                        # procedure: Hadoop sidecars (_SUCCESS, .crc) and
                        # dotfiles are never candidates
                        continue
                    p = os.path.join(d, name)
                    if os.path.realpath(p) in referenced:
                        seen_referenced += 1
                        continue
                    if root is self.meta_dir and (
                            name == "version-hint.text"
                            or (name.startswith("v")
                                and name.endswith(".metadata.json"))):
                        continue  # the version log is never an orphan
                    try:
                        if os.path.getmtime(p) * 1000 >= older_than_ms:
                            continue  # in-flight-write guard
                    except FileNotFoundError:
                        continue  # vanished mid-walk: someone else's file
                    orphans.append(p)
        if dry_run:
            return sorted(orphans)  # list-only: never raises, never deletes
        if orphans and referenced and seen_referenced == 0:
            raise RuntimeError(
                "remove_orphan_files refusing to delete: the walk saw "
                "NONE of the table's referenced files — the location "
                "path scheme does not match the manifests (alias/mount "
                "mismatch?); a sweep here would destroy the table")
        if not dry_run:
            for p in orphans:
                try:
                    os.remove(p)
                except FileNotFoundError:
                    continue
                self._prune_empty_dirs(os.path.dirname(p))
        return sorted(orphans)

    def _prune_empty_dirs(self, d: str) -> None:
        """Remove now-empty dirs up to (not including) data_dir.
        Realpath-normalized so it works when the table was opened
        through a symlink alias but the path came from a manifest."""
        prefix = os.path.realpath(self.data_dir) + os.sep
        d = os.path.realpath(d)
        while (d.startswith(prefix) and os.path.isdir(d)
               and not os.listdir(d)):
            os.rmdir(d)
            d = os.path.dirname(d)

    def _commit_entries(self, meta: dict, entries: list[dict], snap_id: int,
                        seq: int, now_ms: int, operation: str,
                        content: int = 0, replace: bool = False,
                        operation_id: str | None = None,
                        branch: str | None = None) -> int:
        return self._commit_manifest_groups(
            meta, [(entries, content)], snap_id, seq, now_ms, operation,
            replace=replace, operation_id=operation_id, branch=branch)

    def _commit_manifest_groups(self, meta: dict,
                                groups: list[tuple[list[dict], int]],
                                snap_id: int, seq: int, now_ms: int,
                                operation: str, replace: bool = False,
                                operation_id: str | None = None,
                                branch: str | None = None) -> int:
        """Commit ONE snapshot carrying any number of manifests — e.g.
        merge_into's (equality-delete manifest, data manifest) pair, which
        the spec models as a single 'overwrite' snapshot.  `groups` is a
        list of (manifest entries, manifest content) where content 0 =
        data, 1 = deletes; every group commits at the SAME sequence
        number, which is what makes a merge's inserts survive its own
        equality deletes (eq deletes apply strictly below their
        sequence).

        branch: commit on a named branch instead of main — the snapshot's
        parent and carried-forward manifests come from the BRANCH head
        (forked at current main if the branch doesn't exist yet), the
        branch ref advances, and main's current-snapshot-id/snapshot-log
        stay untouched.  Sequence numbers remain table-global, exactly as
        in the Iceberg spec."""
        pcols = self.partition_cols
        if branch == "main":
            branch = None
        branch_head: int | None = None
        if branch is not None:
            if replace:
                raise ValueError("replace commits target main only")
            existing = (meta.get("refs") or {}).get(branch)
            if existing is not None and existing.get("type") != "branch":
                raise ValueError(f"ref {branch!r} is a tag, not a branch")
            branch_head = (existing["snapshot-id"] if existing is not None
                           else (meta["current-snapshot-id"]
                                 if meta["current-snapshot-id"] != -1
                                 else None))
        summary: dict[str, str] = {"operation": operation}
        if operation_id:
            summary["operation-id"] = operation_id
        new_manifests = []
        for gi, (entries, content) in enumerate(groups):
            total_rows = sum(e["data_file"]["record_count"] for e in entries)
            man_path = os.path.join(self.meta_dir,
                                    f"manifest-{snap_id}-{gi}.avro")
            spec_id = meta.get("default-spec-id", 0)
            write_ocf(man_path, _manifest_entry_schema(pcols), entries,
                      extra_meta={"schema": json.dumps(
                          meta["schemas"][meta["current-schema-id"]]).encode(),
                          "partition-spec-id": str(spec_id).encode(),
                          "content": b"deletes" if content else b"data"})
            new_manifests.append({
                "manifest_path": man_path,
                "manifest_length": os.path.getsize(man_path),
                "partition_spec_id": spec_id,
                "content": content,
                "sequence_number": seq,
                "min_sequence_number": seq,
                "added_snapshot_id": snap_id,
                "added_files_count": len(entries),
                "existing_files_count": 0,
                "deleted_files_count": 0,
                "added_rows_count": total_rows,
                "existing_rows_count": 0,
                "deleted_rows_count": 0,
            })
            if content:
                kind = ("equality" if entries[0]["data_file"]["content"] == 2
                        else "position")
                summary["added-delete-files"] = str(len(entries))
                summary[f"added-{kind}-deletes"] = str(total_rows)
            else:
                summary["added-data-files"] = str(len(entries))
                summary["added-records"] = str(total_rows)
        prev_manifests = []
        if not replace:
            if branch is not None:
                if branch_head is not None:
                    _, prev_manifests = read_ocf(
                        self._resolve_snapshot(snapshot_id=branch_head)
                        ["manifest-list"])
            elif meta["current-snapshot-id"] != -1:
                # guard on main's HEAD, not the snapshots list — staged
                # branch commits populate `snapshots` while main is
                # still empty (_resolve_snapshot() returns None then)
                _, prev_manifests = read_ocf(
                    self._resolve_snapshot()["manifest-list"])
        return self._finalize_snapshot(
            meta, new_manifests + prev_manifests, snap_id, seq, now_ms,
            summary, branch=branch, branch_head=branch_head)

    def _finalize_snapshot(self, meta: dict, manifest_rows: list[dict],
                           snap_id: int, seq: int, now_ms: int,
                           summary: dict, branch: str | None = None,
                           branch_head: int | None = None) -> int:
        """Shared commit tail: write the manifest list, append the
        snapshot record, advance sequence/refs/log, persist metadata.
        Used by every commit path (_commit_manifest_groups,
        rewrite_manifests) so bookkeeping can never diverge."""
        list_path = os.path.join(self.meta_dir, f"snap-{snap_id}-1-manifest-list.avro")
        write_ocf(list_path, _MANIFEST_LIST_SCHEMA, manifest_rows)
        parent = (branch_head if branch is not None
                  else (meta["current-snapshot-id"]
                        if meta["current-snapshot-id"] != -1 else None))
        snap = {
            "snapshot-id": snap_id,
            "parent-snapshot-id": parent,
            "sequence-number": seq,
            "timestamp-ms": now_ms,
            "manifest-list": list_path,
            "summary": summary,
            "schema-id": meta["current-schema-id"],
        }
        meta["snapshots"] = meta["snapshots"] + [snap]
        meta["last-sequence-number"] = seq
        meta["last-updated-ms"] = now_ms
        refs = dict(meta.get("refs") or {})
        if branch is not None:
            # branch commit: only the branch ref advances — main's
            # current-snapshot-id and snapshot-log never see staged work
            refs[branch] = {"snapshot-id": snap_id, "type": "branch"}
        else:
            meta["snapshot-log"] = meta["snapshot-log"] + [
                {"timestamp-ms": now_ms, "snapshot-id": snap_id}]
            meta["current-snapshot-id"] = snap_id
            # the main branch ref tracks the current snapshot (Iceberg's
            # implicit main branch); named tags/branches are never moved
            refs["main"] = {"snapshot-id": snap_id, "type": "branch"}
        meta["refs"] = refs
        self._write_metadata(meta, self._current_version() + 1)
        return snap_id

    # -- metadata tables ------------------------------------------------

    def meta_df(self, spark, name: str, snapshot_id: int | None = None,
                ref: str | None = None):
        """Metadata tables (Iceberg's `table$snapshots` family) as Spark
        DataFrames: 'snapshots', 'history', 'manifests', 'files',
        'delete_files', 'partitions', 'refs'.  Timestamps are exposed as
        epoch-millis longs (committed_at_ms) to keep results timezone-
        stable.  Rows are built from the same driver-side manifest
        planning read() already does — metadata is per-FILE, orders of
        magnitude smaller than data, the same asymmetry real Iceberg's
        metadata tables rely on."""
        from pyspark.sql import functions as F

        meta = self.metadata
        if name == "snapshots":
            rows = [(s["timestamp-ms"], s["snapshot-id"],
                     s.get("parent-snapshot-id"), s["sequence-number"],
                     s["summary"].get("operation"),
                     {k: str(v) for k, v in s["summary"].items()
                      if k != "operation"})
                    for s in meta["snapshots"]]
            return spark.createDataFrame(rows, (
                "committed_at_ms long, snapshot_id long, parent_id long, "
                "sequence_number long, operation string, "
                "summary map<string,string>"))
        if name == "history":
            ancestors: set[int] = set()
            by_id = {s["snapshot-id"]: s for s in meta["snapshots"]}
            cur = meta["current-snapshot-id"]
            while cur in by_id:
                ancestors.add(cur)
                cur = by_id[cur].get("parent-snapshot-id")
            rows = [(h["timestamp-ms"], h["snapshot-id"],
                     by_id.get(h["snapshot-id"], {}).get("parent-snapshot-id"),
                     h["snapshot-id"] in ancestors)
                    for h in meta["snapshot-log"]]
            return spark.createDataFrame(rows, (
                "made_current_at_ms long, snapshot_id long, parent_id long, "
                "is_current_ancestor boolean"))
        if name == "manifests":
            snap = self._resolve_snapshot(snapshot_id, ref=ref)
            manifests = [] if snap is None else read_ocf(
                snap["manifest-list"])[1]
            rows = [(m["manifest_path"], m["manifest_length"],
                     m["partition_spec_id"], m.get("content", 0),
                     m["sequence_number"], m["added_snapshot_id"],
                     m["added_files_count"], m["added_rows_count"])
                    for m in manifests]
            return spark.createDataFrame(rows, (
                "path string, length long, partition_spec_id int, "
                "content int, sequence_number long, added_snapshot_id long, "
                "added_files_count int, added_rows_count long"))
        if name in ("files", "delete_files", "partitions"):
            plan = (self.plan_files(snapshot_id, ref=ref)
                    if name != "delete_files"
                    else self.plan_delete_files(snapshot_id, ref=ref))
            rows = [(f.content, f.file_path, "PARQUET", f.record_count,
                     f.file_size_in_bytes,
                     {k: (None if v is None else str(v))
                      for k, v in (f.partition or {}).items()},
                     f.sequence_number)
                    for f in plan]
            df = spark.createDataFrame(rows, (
                "content int, file_path string, file_format string, "
                "record_count long, file_size_in_bytes long, "
                "partition map<string,string>, sequence_number long"))
            if name != "partitions":
                return df
            return (df.groupBy("partition")
                    .agg(F.sum("record_count").alias("record_count"),
                         F.count(F.lit(1)).alias("file_count")))
        if name == "refs":
            rows = [(n, r["type"], r["snapshot-id"])
                    for n, r in sorted(self.refs.items())]
            return spark.createDataFrame(rows, (
                "name string, type string, snapshot_id long"))
        raise ValueError(f"unknown metadata table {name!r}")

    # -- scan planning ------------------------------------------------------

    def plan_files(
        self,
        snapshot_id: int | None = None,
        as_of_ms: int | None = None,
        partition_filter: dict[str, Any] | None = None,
        added_after_snapshot_id: int | None = None,
        value_filter: dict[str, tuple] | None = None,
        ref: str | None = None,
    ) -> list[DataFileInfo]:
        """Metadata-only scan planning: resolve snapshot -> manifest list ->
        manifests -> data files, pruning whole files by their partition
        tuple.  `added_after_snapshot_id` gives incremental reads (only
        files whose sequence number is beyond that snapshot's).

        `value_filter={col: (lo, hi)}` (either end None for open) prunes
        files whose manifest column bounds (parquet-footer min/max recorded
        at commit — the spec's lower/upper bounds) cannot overlap the
        range: Iceberg data skipping, before Spark sees a file name.
        Files without recorded bounds for the column are kept.

        `ref=` addresses a named tag/branch (see create_tag)."""
        resolved_cache: dict[int, dict[str, Any]] = {}

        def resolved_filter(sid: int) -> dict[str, Any]:
            # each file prunes by the spec it was written under: a
            # source-column filter resolves through THAT spec's
            # transforms (spec evolution leaves mixed-spec manifests)
            if sid not in resolved_cache:
                resolved_cache[sid] = self._resolve_partition_filter(
                    partition_filter, spec_id=sid)[0]
            return resolved_cache[sid]

        snap = self._resolve_snapshot(snapshot_id, as_of_ms, ref)
        if snap is None:
            return []
        min_seq = None
        if added_after_snapshot_id is not None:
            base = self._resolve_snapshot(added_after_snapshot_id)
            min_seq = base["sequence-number"]
        _, manifests = read_ocf(snap["manifest-list"])
        out: list[DataFileInfo] = []
        for m in manifests:
            if m.get("content", 0) != 0:
                continue  # delete manifests planned by plan_delete_files
            if min_seq is not None and m["sequence_number"] <= min_seq:
                continue  # manifest-level pruning for incremental reads
            _, entries = read_ocf(m["manifest_path"])
            for e in entries:
                if e["status"] == 2:  # DELETED
                    continue
                if min_seq is not None and (
                        e.get("sequence_number")
                        or m["sequence_number"]) <= min_seq:
                    # entry-level pruning: a consolidated manifest
                    # (rewrite_manifests) carries entries of MANY commits
                    # under one new manifest sequence — each entry still
                    # prunes by its own number, so incremental reads stay
                    # exact after consolidation
                    continue
                dfile = e["data_file"]
                part = dfile.get("partition") or {}
                if partition_filter and any(
                    k in part and part[k] != v
                    for k, v in resolved_filter(
                        m.get("partition_spec_id", 0)).items()
                ):
                    continue
                bounds = (json.loads(dfile["gx_bounds"])
                          if dfile.get("gx_bounds") else None)
                if value_filter and bounds and any(
                    (lo is not None and c in bounds and bounds[c][1] < lo)
                    or (hi is not None and c in bounds and bounds[c][0] > hi)
                    for c, (lo, hi) in value_filter.items()
                ):
                    continue
                out.append(DataFileInfo(
                    file_path=dfile["file_path"],
                    record_count=dfile["record_count"],
                    file_size_in_bytes=dfile["file_size_in_bytes"],
                    partition=part,
                    snapshot_id=e.get("snapshot_id") or 0,
                    sequence_number=e.get("sequence_number")
                    or m["sequence_number"],
                    bounds=bounds,
                    spec_id=m.get("partition_spec_id", 0),
                ))
        return out

    def plan_delete_files(
        self,
        snapshot_id: int | None = None,
        as_of_ms: int | None = None,
        ref: str | None = None,
    ) -> list[DataFileInfo]:
        """Delete files (content=1 manifests) in the resolved snapshot —
        both kinds, distinguished by DataFileInfo.content: 1 = position
        deletes (apply to data files with sequence <= theirs; path-keyed,
        so applying globally is equivalent), 2 = equality deletes (apply
        to data files with sequence STRICTLY below theirs; read() does the
        era grouping)."""
        snap = self._resolve_snapshot(snapshot_id, as_of_ms, ref)
        if snap is None:
            return []
        _, manifests = read_ocf(snap["manifest-list"])
        out: list[DataFileInfo] = []
        for m in manifests:
            if m.get("content", 0) != 1:
                continue
            _, entries = read_ocf(m["manifest_path"])
            for e in entries:
                if e["status"] == 2:
                    continue
                dfile = e["data_file"]
                out.append(DataFileInfo(
                    file_path=dfile["file_path"],
                    record_count=dfile["record_count"],
                    file_size_in_bytes=dfile["file_size_in_bytes"],
                    partition=dfile.get("partition") or {},
                    snapshot_id=e.get("snapshot_id") or 0,
                    sequence_number=e.get("sequence_number")
                    or m["sequence_number"],
                    content=dfile.get("content", 1),
                    equality_ids=dfile.get("equality_ids"),
                ))
        return out

    def read(
        self,
        spark,
        snapshot_id: int | None = None,
        as_of_ms: int | None = None,
        partition_filter: dict[str, Any] | None = None,
        added_after_snapshot_id: int | None = None,
        value_filter: dict[str, tuple] | None = None,
        ref: str | None = None,
    ):
        """Spark DataFrame over the planned files.  Partition columns are
        restored from the hive dirs via basePath (grouped per snapshot dir —
        Spark allows one basePath per read).  Deletes present in the
        resolved snapshot apply as one left_anti join per delete set,
        broadcast under the size gate (a map-side filter, never a shuffle
        of the data side) and left to AQE above it.
        `value_filter={col: (lo, hi)}` both PRUNES files via the manifest
        column bounds (data skipping — excluded files are never opened)
        and applies the equivalent row filter, so semantics are exactly
        BETWEEN."""
        residual: dict[str, Any] = {}
        if partition_filter:
            # a raw derived-name key (e.g. 'k_bucket') can't be row-level
            # re-pinned, so on a mixed-spec table (where eras lacking the
            # field would sail through pruning) it cannot give an exact
            # row set — refuse instead of silently returning wrong rows;
            # filter by the SOURCE column instead.  plan_files stays
            # available for pruning-only use of raw keys.
            data_cols = {f["name"] for f in self.schema_fields}
            if len(self.metadata["partition-specs"]) > 1:
                bad = [k for k in partition_filter if k not in data_cols]
                if bad:
                    raise ValueError(
                        f"partition_filter keys {bad} are raw partition "
                        f"field names; on a spec-evolved table filter by "
                        f"the source column for an exact read")
            # plan_files resolves the raw filter itself for pruning;
            # read() only needs the residual row predicates
            residual = self._residual_predicates(partition_filter)
        files = self.plan_files(snapshot_id, as_of_ms, partition_filter,
                                added_after_snapshot_id, value_filter, ref)
        ddl = iceberg_fields_to_spark_ddl(self.schema_fields)
        if not files:
            return spark.createDataFrame([], ddl)
        df = self._read_planned(spark, files, snapshot_id, as_of_ms, ref)
        from pyspark.sql import functions as F

        for col, v in residual.items():
            # a transform filter prunes FILES exactly but a bucket/day
            # still holds other source values: re-pin the rows
            df = df.filter(F.col(col) == F.lit(v))
        if value_filter:
            return self._apply_value_filter(df, value_filter)
        return df

    def changes(self, spark, from_snapshot_id: int | None = None,
                to_snapshot_id: int | None = None, net: bool = False,
                ref: str | None = None):
        """Changelog (CDC) read — Iceberg's `create_changelog_view` /
        `table_changes`: every row inserted or deleted by each commit on
        the main ancestry between `from_snapshot_id` (EXCLUSIVE; None =
        from table creation) and `to_snapshot_id` (inclusive; None =
        current — or pass `ref=` to use a named tag/branch head, the
        write-audit-publish reviewer's view: the staged slice on an audit
        branch reads as CDC events BEFORE fast_forward publishes it; with
        from_snapshot_id = main's head, exactly the staged commits show),
        as a DataFrame in the table's CURRENT schema plus
        `_change_type` ('insert'|'delete'), `_commit_snapshot_id`, and
        `_change_ordinal` (commit order within the range, oldest = 0).

        Per-commit decomposition, never a full-table diff:

        - inserts of snapshot S = rows of the data files whose manifest
          entry carries S's snapshot id — a scan of exactly the files S
          added (appends, add_files imports, and merge_into's data leg);
        - position deletes of S = the REFERENCED data files read with row
          positions as visible at S's parent (prior deletes applied via
          the planned read, so a pair aimed at an already-dead row emits
          nothing), semi-joined against S's (file_path, pos) pairs;
        - equality deletes of S = rows visible at S's parent semi-joined
          null-safely against the key tuples (sequence scoping is free —
          every parent-visible file is strictly older than S).

        'replace' snapshots (rewrite_data_files compaction) move bytes,
        not rows: they are skipped, exactly as Iceberg's changelog skips
        them, so compaction inside the range emits nothing.  A merge_into
        'overwrite' snapshot emits its matched old rows as deletes and its
        source rows as inserts (same snapshot id, same ordinal).

        `net=True` collapses the multiset of changes per row VALUE: a row
        inserted then deleted inside the range (or vice versa) disappears,
        and |#inserts - #deletes| copies of the survivor remain — the
        net-changes view; per-commit provenance columns are dropped
        because a netted row no longer belongs to one commit.

        Scale notes: each commit's legs read only that commit's added
        files plus, for deletes, the files its delete keys reference (all
        other files are never opened); both delete legs join through the
        helper read() uses, so pairs and keys ride broadcast joins below
        its size gate.  The parent-visible read behind an equality-delete
        commit scans files older than the delete — the same cost real Iceberg
        changelog planning pays, because finding WHICH rows a key killed
        requires looking at them."""
        from functools import reduce

        from pyspark.sql import functions as F

        meta_cols = ("_change_type string, _commit_snapshot_id long, "
                     "_change_ordinal int")
        base_ddl = iceberg_fields_to_spark_ddl(self.schema_fields)
        names = [f["name"] for f in self.schema_fields]
        empty_ddl = base_ddl + ", " + meta_cols

        snaps = {s["snapshot-id"]: s for s in self.snapshots()}
        head = self._resolve_snapshot(to_snapshot_id, ref=ref)
        if head is None:
            out = spark.createDataFrame([], empty_ddl)
            return out.drop("_commit_snapshot_id", "_change_ordinal") \
                if net else out
        chain: list[dict] = []
        cur: dict | None = head
        while cur is not None and cur["snapshot-id"] != from_snapshot_id:
            chain.append(cur)
            parent = cur.get("parent-snapshot-id")
            cur = snaps.get(parent) if parent is not None else None
        if from_snapshot_id is not None and (
                cur is None or cur["snapshot-id"] != from_snapshot_id):
            raise ValueError(
                f"snapshot {from_snapshot_id} is not an ancestor of "
                f"{head['snapshot-id']}")
        chain.reverse()  # oldest first

        legs = []
        ordinal = -1
        for snap in chain:
            op = (snap.get("summary") or {}).get("operation")
            if op == "replace":
                continue  # compaction: bytes moved, no logical change
            ordinal += 1
            sid = snap["snapshot-id"]
            parent = snap.get("parent-snapshot-id")

            def stamp(df, change_type, _sid=sid, _ord=ordinal):
                return df.select(
                    *names,
                    F.lit(change_type).alias("_change_type"),
                    F.lit(_sid).cast("long").alias("_commit_snapshot_id"),
                    F.lit(_ord).cast("int").alias("_change_ordinal"))

            added = [f for f in self.plan_files(snapshot_id=sid)
                     if f.snapshot_id == sid]
            if added:
                legs.append(stamp(
                    self._files_df(spark, added).select(*names), "insert"))

            dels = [d for d in self.plan_delete_files(snapshot_id=sid)
                    if d.snapshot_id == sid]
            pos = [d for d in dels if d.content != 2]
            eqs = [d for d in dels if d.content == 2]
            if (pos or eqs) and parent is None:
                continue  # deletes need a parent; none can exist without
            if pos:
                # referenced data files straight from the (small, local)
                # delete parquets via one pyarrow column read — no extra
                # Spark job, no second scan of the delete files.  Stored
                # paths are the reader's `_metadata.file_path` URI
                # (file:/...); manifests hold plain paths — normalize.
                paths: set[str] = set()
                for d in pos:
                    # .unique() dedups in Arrow (paths are dictionary-
                    # encoded, ~#files distinct) BEFORE materializing
                    # Python strings — a 10^9-row delete commit must not
                    # explode one string per deleted ROW on the driver
                    paths.update(pq.read_table(
                        d.file_path, columns=["file_path"]
                    ).column("file_path").unique().to_pylist())
                paths = {p.removeprefix("file:") for p in paths}
                targets = [f for f in self.plan_files(snapshot_id=parent)
                           if f.file_path in paths]
                if targets:
                    visible = self._read_planned(
                        spark, targets, snapshot_id=parent,
                        keep_position=True)
                    legs.append(stamp(self._join_delete_set(
                        spark, visible, pos, "left_semi"), "delete"))
            if eqs:
                groups: dict[tuple, list[DataFileInfo]] = {}
                for d in eqs:
                    groups.setdefault(tuple(d.equality_ids or []),
                                      []).append(d)
                parent_rows = self.read(spark, snapshot_id=parent)
                for _, dfiles in sorted(groups.items()):
                    legs.append(stamp(self._join_delete_set(
                        spark, parent_rows, dfiles, "left_semi"), "delete"))

        if not legs:
            out = spark.createDataFrame([], empty_ddl)
        else:
            out = reduce(lambda a, b: a.unionByName(b), legs)
        if not net:
            return out
        # net mode: multiset difference per row value — |ins - del| copies
        # of the survivor, typed by the sign; provenance columns dropped
        signed = out.withColumn(
            "_d", F.when(F.col("_change_type") == "insert",
                         F.lit(1)).otherwise(F.lit(-1)))
        netted = (signed.groupBy(*names)
                  .agg(F.sum("_d").alias("_net"))
                  .filter(F.col("_net") != 0))
        return (netted
                .withColumn("_change_type",
                            F.when(F.col("_net") > 0, F.lit("insert"))
                            .otherwise(F.lit("delete")))
                .withColumn("_copy", F.explode(
                    F.sequence(F.lit(1), F.abs(F.col("_net")))))
                .select(*names, "_change_type"))

    def _resolve_partition_filter(
        self, partition_filter: dict[str, Any], spec_id: int | None = None,
    ) -> tuple[dict[str, Any], dict[str, Any]]:
        """Translate a user partition filter into (pruning dict keyed by
        PARTITION FIELD name, residual row predicates) under ONE spec.  A
        key may be a partition field name (value compared raw) or a
        transform's SOURCE column (value pushed through transform_value
        for file pruning — hidden partitioning's query-by-source-column
        UX; EVERY transform of the source prunes, so multi-field specs
        get the intersection).  Source-column keys on non-identity
        transforms also yield a residual equality, because a bucket/day
        prunes files exactly but doesn't pin rows.  Keys unknown to THIS
        spec are dropped — they must prune nothing here, even if an
        older spec's tuples happen to carry the same key name (e.g. an
        identity field whose source column was later dropped)."""
        fields = self.partition_fields_for(spec_id)
        by_pname = {p["name"]: p for p in fields}
        by_source: dict[str, list[dict]] = {}
        for p in fields:
            by_source.setdefault(p["source_name"], []).append(p)
        resolved: dict[str, Any] = {}
        residual: dict[str, Any] = {}
        for k, v in partition_filter.items():
            if k in by_pname:
                resolved[k] = v
            elif k in by_source:
                needs_residual = False
                for p in by_source[k]:
                    resolved[p["name"]] = transform_value(p["transform"], v)
                    needs_residual |= p["transform"] != "identity"
                if needs_residual:
                    residual[k] = v
        return resolved, residual

    def _residual_predicates(
        self, partition_filter: dict[str, Any],
    ) -> dict[str, Any]:
        """Row predicates read() must re-apply after file pruning: a
        source-column key needs one unless EVERY spec in the table pins
        it with an identity field — under spec evolution, files written
        before a column was partitioned-on (or partitioned only through
        a bucket/day) survive pruning with other source values aboard.
        Keys that aren't a data column (raw derived names like k_bucket)
        can't be row-filtered and stay pruning-only."""
        data_cols = {f["name"] for f in self.schema_fields}
        per_spec = [self.partition_fields_for(s["spec-id"])
                    for s in self.metadata["partition-specs"]]
        residual: dict[str, Any] = {}
        for k, v in partition_filter.items():
            if k not in data_cols:
                continue
            known = any(p["source_name"] == k
                        for fields in per_spec for p in fields)
            pinned_everywhere = all(
                any(p["source_name"] == k and p["transform"] == "identity"
                    for p in fields)
                for fields in per_spec)
            if known and not pinned_everywhere:
                residual[k] = v
        return residual

    @staticmethod
    def _apply_value_filter(df, value_filter: dict[str, tuple]):
        from pyspark.sql import functions as F

        for c, (lo, hi) in value_filter.items():
            if lo is not None:
                df = df.filter(F.col(c) >= lo)
            if hi is not None:
                df = df.filter(F.col(c) <= hi)
        return df

    def _read_planned(self, spark, files, snapshot_id=None, as_of_ms=None,
                      ref=None, keep_position=False):
        out_cols = [f["name"] for f in self.schema_fields]
        if keep_position:
            out_cols = out_cols + ["_gx_file_path", "_gx_pos"]
        dels = self.plan_delete_files(snapshot_id, as_of_ms, ref)
        if not dels:
            return self._files_df(
                spark, files, with_position=keep_position).select(*out_cols)
        from functools import reduce

        pos = [d for d in dels if d.content != 2]
        # Sequence scoping: an equality delete applies only to data files
        # STRICTLY older than it.  Group data files into eras by their
        # applicable delete sets so each era gets exactly the anti-joins
        # the spec prescribes (#eras <= #eq-delete commits + 1, so the
        # plan stays bounded).  A commit may carry MANY delete files
        # (written partitioned); all files sharing a (sequence,
        # equality_ids) group form ONE delete set, so commit fan-out never
        # multiplies join count.
        groups: dict[tuple, list[DataFileInfo]] = {}
        for d in dels:
            if d.content == 2:
                gk = (d.sequence_number, tuple(d.equality_ids or []))
                groups.setdefault(gk, []).append(d)
        eras: dict[tuple, list[DataFileInfo]] = {}
        for f in files:
            key = tuple(sorted(gk for gk in groups
                               if gk[0] > f.sequence_number))
            eras.setdefault(key, []).append(f)
        parts = []
        for key in sorted(eras):
            part = self._files_df(spark, eras[key],
                                  with_position=bool(pos) or keep_position)
            for gk in key:
                part = self._join_delete_set(spark, part, groups[gk],
                                             "left_anti")
            parts.append(part)
        df = reduce(lambda a, b: a.unionByName(b), parts)
        if pos:
            df = self._join_delete_set(spark, df, pos, "left_anti")
        return df.select(*out_cols)

    def _join_delete_set(self, spark, df, dfiles: list[DataFileInfo],
                         how: str):
        """`df` joined (`how` = "left_anti" | "left_semi") against ONE
        delete set: one equality group's files (key tuples matched
        null-safely) or position-delete files (matched on `_gx_file_path`
        / `_gx_pos`).  Broadcast below _BROADCAST_DELETES_BYTES, else left
        to AQE: an explicit hint never falls back, even when it OOMs."""
        from pyspark.sql import functions as F

        dset = spark.read.parquet(*[d.file_path for d in dfiles])
        if dfiles[0].content == 2:
            # stored under the key names at write time: rename by position
            # onto the current names (the field ids survive renames)
            names = [self._field_name(i) for i in dfiles[0].equality_ids]
            dset = dset.toDF(*names)
            conds = [df[c].eqNullSafe(dset[c]) for c in names]
        else:
            # renamed so a user column called file_path/pos can't collide
            dset = dset.select(F.col("file_path").alias("_gx_dpath"),
                               F.col("pos").alias("_gx_dpos"))
            conds = [df["_gx_file_path"] == dset["_gx_dpath"],
                     df["_gx_pos"] == dset["_gx_dpos"]]
        size = sum(d.file_size_in_bytes for d in dfiles)
        if size < _BROADCAST_DELETES_BYTES:
            dset = F.broadcast(dset)
        return df.join(dset, conds, how)

    def _field_name(self, field_id: int) -> str:
        for f in self.schema_fields:
            if f["id"] == field_id:
                return f["name"]
        raise ValueError(f"no field with id {field_id}")

    def _files_df(self, spark, files: list[DataFileInfo],
                  with_position: bool = False):
        """DataFrame over concrete data files; with_position adds
        `_gx_file_path` / `_gx_pos` from the parquet reader's hidden
        `_metadata` column (file URI + row index within the file) — the
        coordinates Iceberg position deletes are keyed on."""
        from functools import reduce

        from pyspark.sql import functions as F

        groups: dict[str, list[str]] = {}
        for f in files:
            base = os.path.dirname(f.file_path)
            if f.file_path.startswith(self.data_dir + os.sep):
                # internal: basePath = .../data/snap-<id> (the dir the
                # partition dirs hang off)
                while os.path.dirname(base) != self.data_dir:
                    base = os.path.dirname(base)
                    if base == "/":
                        raise ValueError(f"file outside table data dir: {f.file_path}")
            else:
                # imported via add_files: basePath = the dir above any
                # hive key=value segments (flat sources: the parent dir)
                while "=" in os.path.basename(base):
                    base = os.path.dirname(base)
            groups.setdefault(base, []).append(f.file_path)
        parts = []
        for base, paths in sorted(groups.items()):
            p = spark.read.option("basePath", base).parquet(*paths)
            if with_position:
                p = p.withColumns({
                    "_gx_file_path": F.col("_metadata.file_path"),
                    "_gx_pos": F.col("_metadata.row_index"),
                })
            parts.append(self._align_to_schema(p))
        return reduce(lambda a, b: a.unionByName(b), parts)

    def _align_to_schema(self, df):
        """Project a file group onto the CURRENT schema: pre-rename columns
        aliased to their new name, columns added after the files were
        written null-filled with their declared type, dropped columns
        projected out (schema-evolution read semantics)."""
        from pyspark.sql import functions as F

        have = set(df.columns)
        cols = []
        for f in self.schema_fields:
            t = f["type"]
            sp = (str(t).replace(" ", "") if str(t).startswith("decimal")
                  else _ICE_TO_SPARK[t])
            if f["name"] in have:
                cols.append(F.col(f["name"]))
            else:
                src = next((p for p in reversed(f.get("gx-previous-names", []))
                            if p in have), None)
                cols.append(F.col(src).alias(f["name"]) if src
                            else F.lit(None).cast(sp).alias(f["name"]))
        cols += [F.col(c) for c in df.columns if c.startswith("_gx_")]
        return df.select(*cols)


def _footer_bounds(path: str) -> str | None:
    """Per-column [min, max] from the parquet footer row-group statistics
    (no data read) — JSON string for the manifest's gx_bounds field.
    Binary and unstatted columns are skipped; a file with no stats at all
    gets null (and is then never pruned)."""
    try:
        md = pq.ParquetFile(path).metadata
    except Exception:  # pragma: no cover
        return None
    mins: dict[str, Any] = {}
    maxs: dict[str, Any] = {}
    for rg in range(md.num_row_groups):
        row = md.row_group(rg)
        for ci in range(row.num_columns):
            col = row.column(ci)
            st = col.statistics
            name = col.path_in_schema
            if st is None or not st.has_min_max or "." in name:
                mins[name] = maxs[name] = None
                continue
            lo, hi = st.min, st.max
            if isinstance(lo, bytes):
                mins[name] = maxs[name] = None
                continue
            if name not in mins or mins[name] is None:
                if name in mins:
                    continue  # a previous row group lacked stats: unusable
                mins[name], maxs[name] = lo, hi
            else:
                mins[name] = min(mins[name], lo)
                maxs[name] = max(maxs[name], hi)
    out = {c: [mins[c], maxs[c]] for c in mins
           if mins[c] is not None and maxs[c] is not None
           and isinstance(mins[c], (int, float, str, bool))}
    return json.dumps(out, default=str) if out else None


def _decode_hive_value(v: str, ice_type: str) -> Any:
    from urllib.parse import unquote

    v = unquote(v)
    if v == "__HIVE_DEFAULT_PARTITION__":
        return None
    if ice_type in ("int", "long", "date"):
        return int(v)
    if ice_type in ("float", "double"):
        return float(v)
    if ice_type == "boolean":
        return v.lower() == "true"
    return v
