"""Catalog seam: where stage outputs commit and how commits are named.

The north-rule deployment writes stage outputs as Iceberg table commits
and resumes by comparing input SNAPSHOT IDs; this sandbox has plain
parquet. ``StageRunner`` therefore talks to a ``CatalogAdapter`` and
never to the storage layer directly, so swapping parquet → Iceberg is
an adapter change, not a pipeline rewrite:

==================  ============================  =========================
concern             ParquetCatalogAdapter          Iceberg table (production)
==================  ============================  =========================
stage output        <base>/data parquet files      table commit (snapshot)
commit record       <base>/_MANIFEST.json          snapshot summary props
input fingerprint   count:hash-sum of the input    input table snapshot id
per-part lineage    parquet FOOTER row counts      manifest-file row counts
partitioned sink    write.partitionBy(...)         partitioned + bucketed
                                                   table spec
schema              "schema" in _MANIFEST.json     table schema in the
                                                   metadata JSON
==================  ============================  =========================

An adapter exposes five operations (committed_fingerprint, write, read,
partition_rows, commit); everything else in kg/pipeline.py is
adapter-agnostic. No Iceberg adapter ships: it needs the Iceberg runtime
on the session, which an offline build cannot have.

Reads plan from the commit record, not from the data: ``write`` notes
the schema a read-back will have (``read_back_schema``: every field
nullable, partition columns last) and ``read`` passes it to
``spark.read.schema(...)``, so a read runs no schema-inference job. A
commit record without a schema (written before schemas were recorded)
counts as uncommitted: the stage recomputes once.

``SnapshotCatalogAdapter`` sits between the two columns: it runs on a
plain filesystem (no Iceberg jars) but implements the Iceberg
HadoopCatalog COMMIT PROTOCOL faithfully — immutable snapshot data
directories, versioned metadata JSON carrying summary properties and
manifest entries, and a version-hint pointer swap as the atomic commit.
It exists so the "stage = table commit, resume = snapshot comparison,
lineage = manifest entries" claims are exercised by running tests, not
asserted: a crash between write and commit leaves an orphan snapshot
invisible to resume (exactly Iceberg's semantics), and committed
snapshots stay readable by id after later commits (time travel).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType


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


@dataclass
class ParquetCatalogAdapter:
    """Stage persistence on a plain filesystem: parquet data + a JSON
    manifest as the commit record, footers as the lineage source."""

    # zstd ≈ 2× smaller than snappy on text-heavy stages → half the bytes
    # through the shared checkpoint store; decode cost is amortized
    # across executors
    codec: str = "zstd"
    # read-back schemas of writes not yet committed (base -> schema): the
    # writer reads its own write back before commit() records the schema
    _pending: dict = field(default_factory=dict)

    def _manifest(self, base: Path) -> dict | None:
        """The commit record, or None if absent or written before
        schemas were recorded."""
        manifest = base / "_MANIFEST.json"
        if not manifest.exists():
            return None
        record = json.loads(manifest.read_text())
        return record if "schema" in record else None

    def committed_fingerprint(self, base: Path) -> str | None:
        """The input fingerprint recorded by the last commit at this
        location, or None if never committed."""
        record = self._manifest(base)
        return record["input_fingerprint"] if record else None

    def write(self, df: DataFrame, base: Path, partition_by: tuple[str, ...] = ()) -> None:
        # withdraw the previous commit record before its rows are
        # overwritten: a crash before commit() must leave no manifest
        # vouching for data it did not describe
        (base / "_MANIFEST.json").unlink(missing_ok=True)
        w = df.write.mode("overwrite").option("compression", self.codec)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(str(base / "data"))
        self._pending[str(base)] = read_back_schema(df, partition_by)

    def read(self, spark: SparkSession, base: Path) -> DataFrame:
        schema = self._pending.get(str(base))
        if schema is None:
            record = self._manifest(base)
            if record is None:
                raise FileNotFoundError(f"no committed stage at {base}")
            schema = StructType.fromJson(record["schema"])
        return spark.read.schema(schema).parquet(str(base / "data"))

    def partition_rows(self, base: Path) -> list[tuple[int, int]]:
        """(write_partition_id, rows) per output file, from parquet
        footers only — the Iceberg-manifest analogue: metadata reads,
        no Spark job, no second scan of the stage output."""
        import pyarrow.parquet as pq

        out = []
        # rglob, not glob: a partitioned write (partition_by=...) lands
        # files under key=value/ subdirectories, which a flat glob
        # silently reports as zero files
        for f in sorted((base / "data").rglob("part-*.parquet")):
            out.append(
                (int(f.name.split("-")[1]), pq.ParquetFile(f).metadata.num_rows)
            )
        return out

    def commit(
        self, base: Path, stage: str, input_fingerprint: str, rows: int, wall_ms: int
    ) -> None:
        manifest = base / "_MANIFEST.json"
        manifest.parent.mkdir(parents=True, exist_ok=True)
        manifest.write_text(
            json.dumps(
                {
                    "stage": stage,
                    "input_fingerprint": input_fingerprint,
                    "rows": rows,
                    "wall_ms": wall_ms,
                    "schema": self._pending.pop(str(base)).jsonValue(),
                },
                indent=2,
            )
        )


@dataclass
class SnapshotCatalogAdapter:
    """Iceberg HadoopCatalog commit protocol on a plain filesystem.

    Layout per stage table (mirrors iceberg's HadoopTableOperations,
    apache/iceberg core/src/.../hadoop/HadoopTableOperations.java):

    - ``<base>/snap-<v>/``          immutable snapshot data (parquet)
    - ``<base>/metadata/v<v>.json`` snapshot metadata: id, parent id,
      manifest entries [(file, record_count)], summary properties
    - ``<base>/metadata/version-hint.text``  the current-version pointer;
      REWRITING IT IS THE COMMIT — until then the new snapshot is an
      orphan no reader resolves (crash-safe by construction)

    ``write`` stages a new snapshot + pending metadata; ``commit``
    stamps the input fingerprint into the summary and swings the hint.
    ``committed_fingerprint`` resolves ONLY through the hint, so an
    uncommitted write never satisfies resume. ``read`` accepts an
    explicit ``snapshot_id`` for time travel over committed snapshots.
    ``partition_rows`` serves lineage from the manifest entries recorded
    at write time — metadata-only, like Iceberg's manifest scan."""

    codec: str = "zstd"
    # snapshots this adapter instance has written but not yet committed
    # (base -> version): a writer sees its own in-flight snapshot, every
    # other reader — including a restart after a crash — resolves only
    # through the committed version hint, so orphans are invisible
    _inflight: dict = field(default_factory=dict)

    _COMMIT_PROP = "skosconverter.input_fingerprint"

    def _meta_dir(self, base: Path) -> Path:
        return base / "metadata"

    def _versions(self, base: Path) -> list[int]:
        md = self._meta_dir(base)
        if not md.exists():
            return []
        return sorted(
            int(p.stem[1:]) for p in md.glob("v*.json") if p.stem[1:].isdigit()
        )

    def _current_version(self, base: Path) -> int | None:
        hint = self._meta_dir(base) / "version-hint.text"
        if not hint.exists():
            return None
        return int(hint.read_text().strip())

    def _load_meta(self, base: Path, version: int) -> dict:
        return json.loads((self._meta_dir(base) / f"v{version}.json").read_text())

    def committed_fingerprint(self, base: Path) -> str | None:
        v = self._current_version(base)
        if v is None:
            return None
        meta = self._load_meta(base, v)
        # metadata without a schema predates schema-carrying reads
        return meta["summary"].get(self._COMMIT_PROP) if "schema" in meta else None

    def write(self, df: DataFrame, base: Path, partition_by: tuple[str, ...] = ()) -> None:
        versions = self._versions(base)
        v = (versions[-1] + 1) if versions else 1
        snap = base / f"snap-{v}"
        w = df.write.mode("overwrite").option("compression", self.codec)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(str(snap))
        import pyarrow.parquet as pq

        # rglob, not glob: partitioned writes land part files under
        # key=value/ subdirectories; a flat glob recorded an empty
        # manifest for them (lineage silently reported zero files)
        manifest = [
            [f.name, pq.ParquetFile(f).metadata.num_rows]
            for f in sorted(snap.rglob("part-*.parquet"))
        ]
        if partition_by and not manifest:
            raise RuntimeError(
                f"partitioned write at {snap} produced no part files"
            )
        md = self._meta_dir(base)
        md.mkdir(parents=True, exist_ok=True)
        (md / f"v{v}.json").write_text(
            json.dumps(
                {
                    "snapshot_id": v,
                    # the committed snapshot this write was staged
                    # against; commit() re-stamps it at the pointer swap
                    "parent_snapshot_id": self._current_version(base),
                    "manifest": manifest,
                    "schema": read_back_schema(df, partition_by).jsonValue(),
                    "summary": {},
                },
                indent=2,
            )
        )
        self._inflight[str(base)] = v

    def _committed_chain(self, base: Path) -> set[int]:
        chain: set[int] = set()
        v = self._current_version(base)
        while v is not None and v not in chain:
            chain.add(v)
            v = self._load_meta(base, v)["parent_snapshot_id"]
        return chain

    def _resolve(self, base: Path, snapshot_id: int | None) -> int:
        if snapshot_id is not None:
            # time travel is over COMMITTED snapshots: the committed chain
            # (hint -> parent -> ...) plus this instance's own in-flight
            # write. A crash orphan is on no chain, whatever its id —
            # including one numbered below a later commit
            committed = self._current_version(base)
            if snapshot_id != self._inflight.get(str(base)) and (
                snapshot_id not in self._committed_chain(base)
            ):
                raise ValueError(
                    f"snapshot {snapshot_id} at {base} is not committed "
                    f"(current version: {committed})"
                )
            return snapshot_id
        v = self._inflight.get(str(base), self._current_version(base))
        if v is None:
            raise FileNotFoundError(f"no committed snapshot at {base}")
        return v

    def read(
        self, spark: SparkSession, base: Path, snapshot_id: int | None = None
    ) -> DataFrame:
        v = self._resolve(base, snapshot_id)
        meta = self._load_meta(base, v)
        if "schema" not in meta:
            raise ValueError(f"snapshot {v} at {base} records no schema: not committed")
        return spark.read.schema(StructType.fromJson(meta["schema"])).parquet(
            str(base / f"snap-{v}")
        )

    def partition_rows(self, base: Path) -> list[tuple[int, int]]:
        v = self._resolve(base, None)
        return [
            (int(name.split("-")[1]), int(rows))
            for name, rows in self._load_meta(base, v)["manifest"]
        ]

    def commit(
        self, base: Path, stage: str, input_fingerprint: str, rows: int, wall_ms: int
    ) -> None:
        # commit THIS instance's in-flight snapshot, not whatever
        # metadata file is newest on disk — two adapters interleaving
        # write() on one table would otherwise commit each other's
        # snapshot under the wrong fingerprint
        v = self._inflight.get(str(base), None)
        if v is None:
            v = self._versions(base)[-1]
        meta_path = self._meta_dir(base) / f"v{v}.json"
        meta = json.loads(meta_path.read_text())
        # the parent is the version this commit replaces, so walking
        # parents from the hint visits committed snapshots only
        prev = self._current_version(base)
        if prev != v:
            meta["parent_snapshot_id"] = prev
        meta["summary"] = {
            self._COMMIT_PROP: input_fingerprint,
            "stage": stage,
            "total-records": rows,
            "wall-ms": wall_ms,
        }
        meta_path.write_text(json.dumps(meta, indent=2))
        hint = self._meta_dir(base) / "version-hint.text"
        tmp = hint.with_suffix(".text.tmp")
        tmp.write_text(str(v))
        tmp.replace(hint)  # the atomic pointer swap IS the commit
        self._inflight.pop(str(base), None)
