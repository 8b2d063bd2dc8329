"""Schema model: dimensions (key columns) + values (non-key columns).

Re-creates the reference's schema system (reference: src/schema.rs:11-25
— Dimension{name, chunk_size}, Value{name}, Schema{dimensions, values})
as a Spark StructType factory plus chunk-column derivation.

Differences from the reference, by design (SURVEY.md §1.7):
- the reference has exactly one scalar type, u64 (src/lib.rs:27); we
  default to LongType but allow any Spark atomic type per column —
  the engine's semantics (keyed upsert, ordered scan, snapshot
  visibility) don't depend on the cell type.
- chunk_size routes rows to blocks in the reference
  (src/schema.rs:28-38 get_chunk_key); here it derives Hive partition
  columns ``__chunk_<dim> = floor(dim / chunk_size)`` so Catalyst's
  partition pruning replaces block zone maps for key-range queries.
- the reference supports N value columns in its schema but physically
  collapses them onto one grid slot (src/block.rs:45-49); we support N
  value columns properly (documented deviation, SURVEY.md §7.4.6).
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import types as T

# Reserved metadata column names (never valid as user column names).
TXN_COL = "__txn"
SEQ_COL = "__seq"
CHUNK_PREFIX = "__chunk_"

SCHEMA_FILENAME = "schema.json"  # reference: storage.rs:21

_TYPE_MAP: dict[str, T.DataType] = {
    "long": T.LongType(),
    "int": T.IntegerType(),
    "double": T.DoubleType(),
    "float": T.FloatType(),
    "string": T.StringType(),
    "timestamp": T.TimestampType(),
    "date": T.DateType(),
    "boolean": T.BooleanType(),
    "binary": T.BinaryType(),
    "decimal(20,0)": T.DecimalType(20, 0),  # u64 escape hatch (SURVEY §7.4.5)
}


# Chunking is integer floor-division arithmetic shared between write
# routing and read pruning — only exact integral types qualify.
_CHUNKABLE_TYPES = {"long", "int", "decimal(20,0)"}


def _dtype(name: str) -> T.DataType:
    try:
        return _TYPE_MAP[name]
    except KeyError:
        raise ValueError(f"unsupported column type {name!r}; one of {sorted(_TYPE_MAP)}")


@dataclass(frozen=True)
class Dimension:
    """A key column. ``chunk_size`` is the physical partition width
    (reference: src/schema.rs:11-14); 0/None disables chunking for
    this axis (e.g. low-cardinality dims that are already selective).

    ``bloom=True`` writes a parquet bloom filter for the column in
    every segment file — point lookups (``query_points``) on dims that
    are NOT leading in the sort order can then skip row groups that
    min/max stats alone cannot (high-cardinality keys interleaved
    across the file). Costs ~1 byte/distinct value of file space.
    """

    name: str
    chunk_size: int = 0
    type: str = "long"
    bloom: bool = False

    @property
    def chunk_col(self) -> str:
        return CHUNK_PREFIX + self.name


@dataclass(frozen=True)
class Value:
    """A non-key column (reference: src/schema.rs:17-19)."""

    name: str
    type: str = "long"


@dataclass
class Schema:
    """Table schema, persisted as ``schema.json`` in the database
    directory, mirroring the reference (src/schema.rs:40-55,
    src/storage.rs:21).

    The reference's schema is immutable after create (README.md:131);
    here the VALUE set may grow (``Database.add_value_column``) —
    ``epoch`` counts evolutions, and any epoch > 0 makes scans merge
    parquet footers so segments written before the new column existed
    read it as null. Dimensions stay immutable: they are the physical
    key (chunk routing, sort order, dedup identity) — changing them
    means rewriting the store.
    """

    dimensions: list[Dimension] = field(default_factory=list)
    values: list[Value] = field(default_factory=list)
    epoch: int = 0

    def __post_init__(self) -> None:
        names = [d.name for d in self.dimensions] + [v.name for v in self.values]
        if not self.dimensions:
            raise ValueError("schema needs at least one dimension")
        if len(set(names)) != len(names):
            raise ValueError(f"duplicate column names in {names}")
        for n in names:
            if n.startswith("__"):
                raise ValueError(f"column name {n!r} is reserved (no '__' prefix)")
        for d in self.dimensions:
            if d.chunk_size and d.type not in _CHUNKABLE_TYPES:
                raise ValueError(
                    f"dimension {d.name!r}: chunk_size requires an integral "
                    f"type (one of {sorted(_CHUNKABLE_TYPES)}), got {d.type!r}"
                )
            if d.chunk_size < 0:
                raise ValueError(f"dimension {d.name!r}: chunk_size must be >= 0")

    # ---- names ------------------------------------------------------
    @property
    def dim_names(self) -> list[str]:
        return [d.name for d in self.dimensions]

    @property
    def value_names(self) -> list[str]:
        return [v.name for v in self.values]

    @property
    def column_names(self) -> list[str]:
        return self.dim_names + self.value_names

    @property
    def chunked_dims(self) -> list[Dimension]:
        return [d for d in self.dimensions if d.chunk_size]

    @property
    def chunk_cols(self) -> list[str]:
        return [d.chunk_col for d in self.chunked_dims]

    # ---- Spark types ------------------------------------------------
    def spark_schema(self) -> T.StructType:
        """User-visible row schema: dims non-null, values nullable
        (reference: dimension coordinates are never null, value cells
        are Option<Datum> — src/block.rs:10)."""
        fields = [T.StructField(d.name, _dtype(d.type), False) for d in self.dimensions]
        fields += [T.StructField(v.name, _dtype(v.type), True) for v in self.values]
        return T.StructType(fields)

    def staging_schema(self) -> T.StructType:
        """Row schema + per-row write sequence used for within-txn
        last-write-wins (reference upserts in place, src/block.rs:45-49;
        we resolve at read time by (txn, seq) — SURVEY §7.4.4)."""
        return T.StructType(
            list(self.spark_schema().fields)
            + [T.StructField(SEQ_COL, T.LongType(), False)]
        )

    # ---- persistence ------------------------------------------------
    def to_json(self) -> str:
        return json.dumps(
            {
                "dimensions": [
                    {
                        "name": d.name,
                        "chunk_size": d.chunk_size,
                        "type": d.type,
                        "bloom": d.bloom,
                    }
                    for d in self.dimensions
                ],
                "values": [{"name": v.name, "type": v.type} for v in self.values],
                "epoch": self.epoch,
            },
            indent=2,
        )

    @classmethod
    def from_json(cls, text: str) -> "Schema":
        obj = json.loads(text)
        return cls(
            dimensions=[Dimension(**d) for d in obj["dimensions"]],
            values=[Value(**v) for v in obj["values"]],
            epoch=obj.get("epoch", 0),
        )

    def save(self, path: str) -> None:
        # Same durability discipline as manifest.publish: fsync the
        # file AND the directory entry. Schema evolution must not be
        # weaker-durable than the commits that follow it — a crash that
        # kept a later commit but lost the schema rename would silently
        # hide the evolved column from every scan.
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            f.write(self.to_json())
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)
        from matdb_spark.manifest import _fsync_dir

        _fsync_dir(os.path.dirname(os.path.abspath(path)))

    @classmethod
    def load(cls, path: str) -> "Schema":
        with open(path) as f:
            return cls.from_json(f.read())


@contextmanager
def _locked(path: str):
    """Hold an exclusive O_CREAT|O_EXCL claim on ``path`` + ".lock" (the
    txn-reservation discipline, manifest.reserve_txn_id). A holder that
    crashed leaves a stale lock, stolen once 60 s old (evolution itself
    is a sub-second critical section); a waiter gives up after 90 s,
    by which time any crashed holder's lock has been stolen."""
    lock = path + ".lock"
    deadline = time.monotonic() + 90.0
    while True:
        try:
            os.close(os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY))
            break
        except FileExistsError:
            try:
                if time.time() - os.path.getmtime(lock) > 60.0:
                    os.unlink(lock)
                    continue
            except OSError:
                continue  # lock vanished between the claim and the stat
            if time.monotonic() > deadline:
                raise TimeoutError(f"schema evolution lock busy for 90s: {lock}")
            time.sleep(0.05)
    try:
        yield
    finally:
        try:
            os.unlink(lock)
        except FileNotFoundError:
            pass


def with_values(sch: Schema, new, exist_ok: bool = True) -> Schema:
    """``sch`` with the value columns ``new`` ((name, type) pairs)
    appended, one epoch per added column. A column ``sch`` already has
    is an error unless ``exist_ok``; then the same type is a no-op and
    a differing type a conflict."""
    have = {c.name: c.type for c in list(sch.dimensions) + list(sch.values)}
    values = list(sch.values)
    for name, typ in new:
        cur = have.get(name)
        if cur is None:
            values.append(Value(name, typ))
            have[name] = typ
        elif not exist_ok:
            raise ValueError(f"column {name!r} already exists")
        elif cur != typ:
            raise ValueError(
                f"concurrent schema evolution conflict: column "
                f"{name!r} exists as {cur}, writer wants {typ}"
            )
    added = len(values) - len(sch.values)
    return Schema(list(sch.dimensions), values, sch.epoch + added) if added else sch


def evolve(db_path: str, new, exist_ok: bool = True) -> Schema:
    """Add the value columns ``new`` to the store's ``schema.json`` and
    return the schema now on disk: a read-modify-write under the
    schema lock, so two handles or writers evolving one store
    serialize and neither loses the other's column, however stale the
    schema each of them holds (``with_values`` for ``exist_ok``)."""
    path = os.path.join(db_path, SCHEMA_FILENAME)
    with _locked(path):
        sch = Schema.load(path)
        out = with_values(sch, new, exist_ok)
        if out is not sch:
            out.save(path)
    return out
