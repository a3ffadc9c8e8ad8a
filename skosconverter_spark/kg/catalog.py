"""Catalog seam: where stage outputs commit and how commits are named.

The north-rule deployment writes stage outputs as Iceberg table commits
and resumes by comparing input SNAPSHOT IDs; this sandbox has plain
parquet. ``StageRunner`` therefore talks to ``ParquetCatalogAdapter``
and never to the storage layer directly, so swapping parquet → Iceberg
is an adapter change, not a pipeline rewrite. The adapter runs the
Iceberg HadoopCatalog commit protocol (apache/iceberg
core/src/.../hadoop/HadoopTableOperations.java) on a plain filesystem:

==================  ================================  =====================
concern             local layout, per stage <base>    Iceberg table
==================  ================================  =====================
stage output        <base>/snap-<v>/ immutable        table commit
                    zstd parquet, one per write       (snapshot)
commit record       <base>/_MANIFEST.json, replaced   metadata JSON +
                    atomically (temp file, rename)    pointer swap
parent snapshot     "parent_snapshot_id" in the       parent snapshot id
                    commit record (lineage)
input fingerprint   count:hash-sum of the input       input snapshot id
per-part lineage    (file, rows) from the parquet     manifest-file row
                    footers, read once at write       counts
partitioned sink    write.partitionBy(...)            partitioned table
schema              "schema" in the commit record     table schema
==================  ================================  =====================

An adapter exposes five operations (committed_fingerprint, write, read,
partition_rows, commit); everything else in kg/pipeline.py is
adapter-agnostic. No Iceberg adapter ships: it needs the Iceberg runtime
on the session, which an offline build cannot have.

``write`` stages a new snapshot directory and, from the footers, its
per-file row counts; ``commit`` makes it current by replacing the commit
record, which names the snapshot and its parent (the snapshot it
replaces). Until then the snapshot is in flight: only the adapter
instance that wrote it reads it, and a crash leaves an orphan no other
instance resolves. ``read`` and ``partition_rows`` resolve the same
snapshot: this instance's in-flight write, else the commit.

Reads plan from the commit record, not from the data: ``write`` notes
the schema a read-back will have (``read_back_schema``: every field
nullable, partition columns last) and ``read`` passes it to
``spark.read.schema(...)``, so a read runs no schema-inference job. A
record without a schema or a snapshot id (written by an older layout),
or one that does not parse, counts as uncommitted: the stage recomputes.

Retention: at commit, every ``snap-<k>`` with ``k`` below the new
commit's parent is deleted, so a stage holds at most two committed
snapshots, and so is every other directory in the stage root (an older
layout's ``data/`` and ``metrics/``); files are left alone. A DataFrame
read from a stage stays readable through the next recompute of that
stage and fails after the one after it.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass, field
from pathlib import Path

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType

# zstd ≈ 2× smaller than snappy on text-heavy stages → half the bytes
# through the shared checkpoint store; decode cost is amortized across
# executors
CODEC = "zstd"


def _nullable(t: DataType) -> DataType:
    if isinstance(t, StructType):
        return StructType(
            [StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in t.fields]
        )
    if isinstance(t, ArrayType):
        return ArrayType(_nullable(t.elementType), True)
    if isinstance(t, MapType):
        return MapType(_nullable(t.keyType), _nullable(t.valueType), True)
    return t


def read_back_schema(df: DataFrame, partition_by: tuple[str, ...] = ()) -> StructType:
    """The schema ``spark.read.parquet`` infers for ``df`` written with
    ``partition_by``: file sources read every field (nested ones too) as
    nullable, and partition columns come last, in partition order."""
    fields = {f.name: f for f in _nullable(df.schema).fields}
    order = [n for n in fields if n not in partition_by] + list(partition_by)
    return StructType([fields[n] for n in order])


def file_rows(files: list) -> list[tuple[int, int]]:
    """(write_partition_id, rows) per ``[file, rows]`` entry of a snapshot."""
    return [(int(Path(f).name.split("-")[1]), int(n)) for f, n in files]


def _snapshot_ids(base: Path) -> list[int]:
    return [int(p.name[5:]) for p in base.glob("snap-*") if p.name[5:].isdigit()]


@dataclass
class ParquetCatalogAdapter:
    """Stage persistence on a plain filesystem: immutable parquet
    snapshots, an atomically replaced JSON commit record, footer row
    counts as the lineage source."""

    # snapshots this instance wrote and has not committed (base -> entry
    # shaped like a commit record's snapshot fields): the writer reads
    # its own write back before commit() publishes it
    _inflight: dict = field(default_factory=dict, init=False)

    def committed(self, base: Path) -> dict | None:
        """The commit record at ``base``, or None if there is none."""
        try:
            record = json.loads((base / "_MANIFEST.json").read_text())
        except (FileNotFoundError, ValueError):
            return None
        return record if {"schema", "snapshot_id"} <= record.keys() else None

    def committed_fingerprint(self, base: Path) -> str | None:
        """The input fingerprint of the current commit at ``base``, or
        None if never committed. Asking starts a new attempt at the
        stage, so a write of this instance whose commit failed is
        forgotten: a resume then serves the committed snapshot."""
        self._inflight.pop(str(base), None)
        record = self.committed(base)
        return record["input_fingerprint"] if record else None

    def write(self, df: DataFrame, base: Path, partition_by: tuple[str, ...] = ()) -> None:
        v = max(_snapshot_ids(base), default=0) + 1
        snap = base / f"snap-{v}"
        w = df.write.mode("overwrite").option("compression", CODEC)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(str(snap))
        # rglob, not glob: a partitioned write lands its part files under
        # key=value/ subdirectories
        self._inflight[str(base)] = {
            "snapshot_id": v,
            "schema": read_back_schema(df, partition_by).jsonValue(),
            "files": [
                [str(f.relative_to(snap)), pq.ParquetFile(f).metadata.num_rows]
                for f in sorted(snap.rglob("part-*.parquet"))
            ],
        }

    def _current(self, base: Path) -> dict:
        """This instance's in-flight write at ``base``, else the commit."""
        snap = self._inflight.get(str(base)) or self.committed(base)
        if snap is None:
            raise FileNotFoundError(f"no committed stage at {base}")
        return snap

    def read(self, spark: SparkSession, base: Path) -> DataFrame:
        snap = self._current(base)
        schema = StructType.fromJson(snap["schema"])
        return spark.read.schema(schema).parquet(str(base / f"snap-{snap['snapshot_id']}"))

    def partition_rows(self, base: Path) -> list[tuple[int, int]]:
        """(write_partition_id, rows) per output file of the in-flight
        write, else of the committed snapshot: recorded from the footers
        at write time, so no Spark job and no second scan."""
        return file_rows(self._current(base)["files"])

    def commit(
        self, base: Path, stage: str, input_fingerprint: str, rows: int, wall_ms: int
    ) -> None:
        snap = self._inflight.pop(str(base))
        parent = self.committed(base) or {}
        record = {
            "stage": stage,
            "input_fingerprint": input_fingerprint,
            "rows": rows,
            "wall_ms": wall_ms,
            **snap,
            "parent_snapshot_id": parent.get("snapshot_id"),
        }
        tmp = base / f"_MANIFEST.json.{snap['snapshot_id']}.tmp"
        tmp.write_text(json.dumps(record, indent=2))
        os.replace(tmp, base / "_MANIFEST.json")  # the atomic swap IS the commit
        # retention: keep the new snapshot and its parent, drop the rest
        # below the parent (older commits and crash orphans) and every
        # directory that is no snapshot (an older layout's data/ and
        # metrics/). Files stay: another writer's manifest temp file may
        # be among them.
        floor = parent.get("snapshot_id") or 0
        for p in base.iterdir():
            k = p.name[5:]
            stale = int(k) < floor if p.name.startswith("snap-") and k.isdigit() else p.is_dir()
            if stale:
                shutil.rmtree(p, ignore_errors=True)
