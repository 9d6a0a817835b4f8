"""Iceberg-style table catalog: parquet data + JSON snapshot manifests
+ a CATALOG-LEVEL version pointer for atomic multi-table transactions.

The sandbox has no Iceberg runtime jar (SURVEY.md §7.0), so the Iceberg
*contract* is implemented as a layout: every table is a directory of
immutable parquet files plus a chain of snapshot manifests listing the
live files.  The source of truth for "current" is a single catalog-level
version file mapping every table to its live snapshot — committed by
writing the new version JSON and then ``os.replace``-ing one pointer.
That single pointer is what makes MULTI-table commits atomic: the
resumable builder appends data tables AND their checkpoint/lineage/
metrics ledger rows in one ``Transaction``, so a crash at any instant
leaves either none of it visible or all of it (the crash window the
round-1 ADVICE flagged — data committed without its checkpoint row,
duplicated on resume — cannot exist).  This mirrors Iceberg's REST
catalog multi-table transaction semantics.  Swapping in a real Iceberg
catalog is a config change: nothing outside this module touches the
filesystem layout.

Layout:
    <root>/<table>/data/<uuid>-<n>.parquet ...
    <root>/<table>/snapshots/v<N>.json   {files, schema, parent, ...}
    <root>/_catalog/v<M>.json            {tables: {name: snapshot N}, ...}
    <root>/_current                      "v<M>" (atomically replaced)

Orphan data files from an uncommitted transaction are unreachable (no
manifest references them) and harmless — Iceberg's orphan-file cleanup
is the production analogue.

Driver-sized rows never launch a Spark job.  Ledger rows
(checkpoints/lineage/metrics, stream commits, index segments,
tombstones) and one-row tables (stats) already live on the driver, so
``append_rows``/``write_rows`` write them with pyarrow straight into
``<table>/data/``, under createDataFrame's contract (same row verifier,
same ``toInternal`` conversion, Arrow types from ``to_arrow_schema``).
Small tables are read back the same way: ``read_rows`` returns the
rows ``read(...).collect()`` would, from the live files of the current
snapshot.  Spark reads the driver-written files like its own, so a
table may mix both writers (a build resumed on an older catalog).
"""

from __future__ import annotations

import contextlib
import fcntl
import json
import os
import shutil
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (StructType, TimestampType, _create_converter,
                               _make_type_verifier)


# Layout contracts: tables whose scan pruning depends on file-level
# sort order (row-group min/max stats).  ``compact`` preserves these —
# a round-robin repartition would silently turn every pruned scan into
# a full scan after the first maintenance cycle.
TABLE_SORT: dict = {
    "index": ("shard", "term", "chunk"),
    "postings": ("term", "doc_id"),
    "positions": ("term", "doc_id"),
    "dictionary": ("term",),
    "rdictionary": ("rterm",),
}


class CommitConflict(RuntimeError):
    """A catalog/table version file already exists — a concurrent writer
    not holding the commit lock (or a crashed foreign writer) raced us.
    The committing transaction is NOT applied; retry it against the new
    catalog state."""


class LegacyCatalogLayout(RuntimeError):
    """The directory holds per-table ``<table>/_current`` pointers from
    the pre-r2 layout but no catalog-level ``_current``.  Refusing to
    silently treat committed data as an empty catalog."""


def _write_json_excl(path: str, rec: dict) -> None:
    """Create `path` with the full JSON atomically, failing if it already
    exists (os.link is atomic and O_EXCL-like even over NFS): a version
    file can never be half-written under its final name, and two writers
    can never both claim the same version number."""
    tmp = f"{path}.tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump(rec, f)
    try:
        os.link(tmp, path)
    except FileExistsError:
        raise CommitConflict(f"version file {path} already exists — "
                             "concurrent writer without the commit lock?")
    finally:
        os.unlink(tmp)


def _row_schema(schema) -> StructType:
    """createDataFrame's ``schema`` argument: a StructType or a DDL
    string such as ``"pid int, status string"``."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    if not isinstance(schema, StructType):
        raise TypeError(f"row schema must be a struct, got {schema!r}")
    return schema


def _rows_to_arrow(rows: list, schema: StructType) -> pa.Table:
    """``rows`` as an Arrow table, converted exactly as
    ``spark.createDataFrame(rows, schema)`` converts them: every row is
    verified first (a wrong type or a None in a non-nullable field
    raises before anything is written), then mapped through
    ``StructType.toInternal`` — so a naive datetime is read as local
    time, as createDataFrame reads it — into ``to_arrow_schema`` types
    (timestamps as ``timestamp[us, UTC]``)."""
    verify = _make_type_verifier(schema)
    for row in rows:
        verify(row)
    convert = _create_converter(schema)
    internal = [schema.toInternal(convert(row)) for row in rows]
    arrow = to_arrow_schema(schema)
    return pa.Table.from_arrays(
        [pa.array([r[i] for r in internal], type=f.type)
         for i, f in enumerate(arrow)], schema=arrow)


def _gc_orphan_versions(vdir: str, committed: int | None) -> list[str]:
    """Remove v<N>.json files above the COMMITTED version (round-3
    ADVICE, medium): a writer that crashed between creating its version
    file and the pointer swap leaves an orphan that is invisible to
    readers but would make every later create-exclusive claim of that
    version number raise ``CommitConflict`` forever — the catalog state
    never advanced, so retrying cannot help.  Under the commit flock no
    other in-contract writer can be mid-commit, so any file above the
    committed version is such an orphan and is safe to collect.  (A
    writer that bypasses the lock is out of contract; it is still
    detected probabilistically by the create-exclusive link, whose
    residual race window is now the microseconds inside this critical
    section rather than forever.)  Returns the collected paths."""
    if committed is None:
        committed = -1
    removed = []
    if not os.path.isdir(vdir):
        return removed
    for name in os.listdir(vdir):
        if not (name.startswith("v") and name.endswith(".json")):
            continue
        try:
            version = int(name[1:-5])
        except ValueError:
            continue
        if version > committed:
            path = os.path.join(vdir, name)
            with contextlib.suppress(OSError):
                os.unlink(path)
                removed.append(path)
    return removed


class Transaction:
    """Stages writes to any number of tables; ``commit`` makes them all
    visible in ONE atomic catalog-pointer swap."""

    def __init__(self, catalog: "Catalog"):
        self.catalog = catalog
        self._pending: list = []      # (table, mode, files, schema_json)
        self._done = False

    def write(self, df: DataFrame, table: str) -> "Transaction":
        files = self.catalog._materialize(df, table)
        self._pending.append((table, "overwrite", files, df.schema.json()))
        return self

    def append(self, df: DataFrame, table: str) -> "Transaction":
        files = self.catalog._materialize(df, table)
        self._pending.append((table, "append", files, df.schema.json()))
        return self

    def append_rows(self, spark: SparkSession, table: str, rows: list,
                    schema: StructType) -> "Transaction":
        """Append driver-sized rows, written on the driver (no Spark
        job); ``schema`` is a StructType or a DDL string, as for
        ``spark.createDataFrame``."""
        return self._stage_rows(table, rows, schema, "append")

    def write_rows(self, spark: SparkSession, table: str, rows: list,
                   schema: StructType) -> "Transaction":
        """Overwrite twin of ``append_rows`` (one-row tables: stats,
        a rewritten index_segments)."""
        return self._stage_rows(table, rows, schema, "overwrite")

    def _stage_rows(self, table: str, rows: list, schema,
                    mode: str) -> "Transaction":
        schema = _row_schema(schema)
        files = self.catalog._write_rows(table, rows, schema)
        self._pending.append((table, mode, files, schema.json()))
        return self

    def commit(self) -> dict:
        """Publish all staged writes as ONE new catalog version.

        Concurrency control (round-2 ADVICE): commits serialize on an
        exclusive flock over ``<root>/_commit.lock``; the parent version
        is (re-)read UNDER the lock, so a transaction started from an
        older state rebases automatically — two concurrent writers (e.g.
        a batch builder and a streaming updater on the same catalog)
        produce versions N+1 and N+2, never a lost update.  Data files
        were already staged lock-free (`_materialize`); only the tiny
        manifest writes happen inside the critical section.  Version
        files are additionally created create-exclusive, so a foreign
        writer that bypasses the lock raises ``CommitConflict`` instead
        of silently clobbering a manifest; orphan version files left by
        a writer that CRASHED between its version-file write and the
        pointer swap are garbage-collected under the lock before the
        version is claimed, so that crash window is self-healing rather
        than wedging every later commit (round-3 ADVICE).  flock scopes
        to one host —
        the production analogue is an Iceberg REST catalog's
        compare-and-swap, which this layout maps onto directly.
        """
        assert not self._done, "transaction already committed"
        cat = self.catalog
        with cat._commit_lock():
            parent = cat._catalog_current()
            tables = dict(parent["tables"]) if parent else {}
            for table, mode, files, schema_json in self._pending:
                snap_parent = cat._table_snapshot(table, tables.get(table))
                base = (snap_parent["files"]
                        if (mode == "append" and snap_parent) else [])
                snap = cat._write_table_snapshot(
                    table, base + files, schema_json, snap_parent, mode)
                tables[table] = snap["version"]
            self._done = True
            return cat._commit_catalog(tables, parent)


class Catalog:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # ---- paths ----
    def _tdir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _cdir(self) -> str:
        return os.path.join(self.root, "_catalog")

    def _pointer(self) -> str:
        return os.path.join(self.root, "_current")

    # ---- catalog-level versioning ----
    @contextlib.contextmanager
    def _commit_lock(self):
        """Exclusive host-wide commit lock (see Transaction.commit).
        A fresh fd per acquisition: flock is fd-scoped, so concurrent
        threads of one process serialize just like separate processes."""
        fd = os.open(os.path.join(self.root, "_commit.lock"),
                     os.O_CREAT | os.O_WRONLY, 0o644)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            yield
        finally:
            fcntl.flock(fd, fcntl.LOCK_UN)
            os.close(fd)

    def _catalog_current(self) -> dict | None:
        ptr = self._pointer()
        if not os.path.exists(ptr):
            legacy = [
                d for d in (os.listdir(self.root)
                            if os.path.isdir(self.root) else [])
                if os.path.isfile(os.path.join(self.root, d, "_current"))
            ]
            if legacy:
                raise LegacyCatalogLayout(
                    f"{self.root} holds per-table _current pointers "
                    f"({sorted(legacy)}) but no catalog-level _current: "
                    "this catalog was written by the pre-multi-table-"
                    "transaction layout.  Rebuild it, or migrate each "
                    "<table>/_current into a v0 catalog record — refusing "
                    "to read committed data as an empty catalog.")
            return None
        with open(ptr) as f:
            v = f.read().strip()
        with open(os.path.join(self._cdir(), v + ".json")) as f:
            return json.load(f)

    def _commit_catalog(self, tables: dict, parent: dict | None) -> dict:
        """Only called under ``_commit_lock`` (Transaction.commit, drop):
        orphan version files from crashed commits are collected before
        the new version is claimed, so a crash between the version-file
        write and the pointer swap is self-healing (round-3 ADVICE)."""
        os.makedirs(self._cdir(), exist_ok=True)
        _gc_orphan_versions(self._cdir(), parent["version"] if parent else None)
        version = (parent["version"] + 1) if parent else 0
        rec = {
            "version": version,
            "catalog_id": uuid.uuid4().hex,
            "parent_id": parent["catalog_id"] if parent else None,
            "tables": tables,
            "committed_at": time.time(),
        }
        # create-exclusive: claims version number N or raises CommitConflict
        _write_json_excl(os.path.join(self._cdir(), f"v{version}.json"), rec)
        # the ONE atomic swap — readers see the old or the new catalog
        # state in full, never a torn multi-table commit
        ptmp = self._pointer() + f".tmp-{rec['catalog_id']}"
        with open(ptmp, "w") as f:
            f.write(f"v{version}")
        os.replace(ptmp, self._pointer())
        return rec

    # ---- table snapshot bookkeeping ----
    def _table_snapshot(self, table: str, version: int | None) -> dict | None:
        if version is None:
            return None
        path = os.path.join(self._tdir(table), "snapshots", f"v{version}.json")
        with open(path) as f:
            return json.load(f)

    def _write_table_snapshot(self, table: str, files: list,
                              schema_json: str, parent: dict | None,
                              operation: str) -> dict:
        sdir = os.path.join(self._tdir(table), "snapshots")
        os.makedirs(sdir, exist_ok=True)
        # under the commit lock: collect crashed-commit orphans above the
        # committed snapshot before claiming the next version number
        _gc_orphan_versions(sdir, parent["version"] if parent else None)
        version = (parent["version"] + 1) if parent else 0
        snap = {
            "version": version,
            "snapshot_id": uuid.uuid4().hex,
            "parent_id": parent["snapshot_id"] if parent else None,
            "operation": operation,
            "files": sorted(files),
            "schema": schema_json,
            "committed_at": time.time(),
        }
        _write_json_excl(os.path.join(sdir, f"v{version}.json"), snap)
        return snap

    def current_snapshot(self, table: str) -> dict | None:
        cat = self._catalog_current()
        if cat is None:
            return None
        return self._table_snapshot(table, cat["tables"].get(table))

    def snapshots(self, record: dict | None) -> dict:
        """{table: snapshot} of one catalog record (``_catalog_current``
        or ``catalog_record``): every table as of the same commit, so a
        reader holding it never mixes two commits."""
        if record is None:
            return {}
        return {t: self._table_snapshot(t, v)
                for t, v in record["tables"].items()}

    def table_exists(self, table: str) -> bool:
        return self.current_snapshot(table) is not None

    # ---- time travel ----
    def catalog_record(self, version: int) -> dict:
        """The committed catalog record at ``version`` — Iceberg
        time-travel at the catalog level, so a multi-table transaction
        is consistent in the past too (docs and postings travel
        together, never a torn pair).  Only versions at or below the
        committed pointer are readable: a higher v<N>.json on disk is a
        crashed writer's orphan (never published, collected at the next
        commit) and must not be served as history."""
        cur = self._catalog_current()
        if cur is None or version > cur["version"]:
            raise FileNotFoundError(
                f"catalog version {version} was never committed "
                f"(current: {cur['version'] if cur else 'none'})")
        path = os.path.join(self._cdir(), f"v{version}.json")
        try:
            with open(path) as f:
                return json.load(f)
        except FileNotFoundError:
            raise FileNotFoundError(
                f"catalog version {version} has been expired — "
                "expire_snapshots trades old time travel for manifest "
                "cleanup (same trade as Iceberg)")

    def read_at(self, spark: SparkSession, table: str,
                catalog_version: int) -> DataFrame:
        """Read ``table`` as of a past catalog version (time travel).
        Raises FileNotFoundError if the version was never committed,
        has been expired, or the table did not exist in it; raises
        nothing spurious for vacuumed data ONLY because vacuum removes
        files no retained snapshot references — expire before vacuum,
        exactly the Iceberg maintenance order."""
        rec = self.catalog_record(catalog_version)
        v = rec["tables"].get(table)
        if v is None:
            raise FileNotFoundError(
                f"table {table} did not exist at catalog v{catalog_version}")
        try:
            snap = self._table_snapshot(table, v)
        except FileNotFoundError:
            raise FileNotFoundError(
                f"table {table}'s snapshot v{v} (catalog "
                f"v{catalog_version}) has been expired — "
                "expire_snapshots trades old time travel for manifest "
                "cleanup, the same trade Iceberg makes")
        return self.read(spark, table, snap)

    def diff(self, spark: SparkSession, table: str, v_old: int,
             v_new: int, key_cols: list) -> DataFrame:
        """Row-level diff of ``table`` between two catalog versions —
        the audit question time travel exists to answer (what did the
        takedown purge remove? what did last night's drain add?).
        Returns one row per changed key with a ``change`` column of
        ``added`` / ``removed`` (keys present in both versions are
        unchanged by definition here: data files are immutable, a key
        only changes by remove+add).  Two anti-joins over the two
        snapshots' scans — each prunes to the key columns at the
        parquet reader, and at 100 TB the join shuffles keys, never
        payloads."""
        old = self.read_at(spark, table, v_old).select(*key_cols)
        new = self.read_at(spark, table, v_new).select(*key_cols)
        from pyspark.sql import functions as _F
        added = new.join(old, key_cols, "left_anti") \
            .withColumn("change", _F.lit("added"))
        removed = old.join(new, key_cols, "left_anti") \
            .withColumn("change", _F.lit("removed"))
        return added.unionByName(removed)

    # ---- write paths ----
    def _materialize(self, df: DataFrame, table: str) -> list:
        """Write df to new immutable parquet files; returns relative paths.
        Files are unreachable until a catalog commit references them."""
        staging = os.path.join(self._tdir(table), "data",
                               f"stage-{uuid.uuid4().hex}")
        df.write.mode("overwrite").parquet(staging)
        final = []
        ddir = os.path.join(self._tdir(table), "data")
        for name in sorted(os.listdir(staging)):
            if not name.endswith(".parquet"):
                continue
            tgt = f"{uuid.uuid4().hex}-{name}"
            os.replace(os.path.join(staging, name), os.path.join(ddir, tgt))
            final.append(os.path.join("data", tgt))
        shutil.rmtree(staging, ignore_errors=True)
        return final

    def _write_rows(self, table: str, rows: list, schema: StructType) -> list:
        """Driver-side twin of ``_materialize`` for driver-sized rows:
        one parquet file written with pyarrow, staged under a temporary
        name and renamed into ``data/``; no rows, no file.  Returns the
        relative paths."""
        data = _rows_to_arrow(rows, schema)
        if not rows:
            return []
        ddir = os.path.join(self._tdir(table), "data")
        os.makedirs(ddir, exist_ok=True)
        name = f"{uuid.uuid4().hex}-rows.parquet"
        staging = os.path.join(ddir, f"stage-{uuid.uuid4().hex}")
        pq.write_table(data, staging)
        os.replace(staging, os.path.join(ddir, name))
        return [os.path.join("data", name)]

    def transaction(self) -> Transaction:
        return Transaction(self)

    def write(self, df: DataFrame, table: str, mode: str = "overwrite") -> dict:
        """Commit df as a new snapshot (a single-table transaction).
        Returns the table's new snapshot record."""
        txn = self.transaction()
        (txn.append if mode == "append" else txn.write)(df, table)
        txn.commit()
        return self.current_snapshot(table)

    def append(self, df: DataFrame, table: str) -> dict:
        return self.write(df, table, mode="append")

    def append_rows(self, spark: SparkSession, table: str, rows: list,
                    schema: StructType) -> dict:
        self.transaction().append_rows(spark, table, rows, schema).commit()
        return self.current_snapshot(table)

    # ---- read path ----
    def read(self, spark: SparkSession, table: str,
             snapshot: dict | None = None) -> DataFrame:
        snap = snapshot or self.current_snapshot(table)
        if snap is None:
            raise FileNotFoundError(f"table {table} has no committed snapshot")
        schema = StructType.fromJson(json.loads(snap["schema"]))
        if not snap["files"]:
            return spark.createDataFrame([], schema)
        return spark.read.schema(schema).parquet(*self.files(table, snap))

    def files(self, table: str, snapshot: dict) -> list:
        """Absolute paths of a table snapshot's live data files."""
        return [os.path.join(self._tdir(table), f) for f in snapshot["files"]]

    def read_rows(self, table: str, columns: list | None = None,
                  snapshot: dict | None = None) -> list:
        """The rows of a small flat table (ledgers, stats, segments,
        tombstones) in ``snapshot`` (default: the current one), read on
        the driver with pyarrow — no Spark job.  Returns the Rows
        ``read(...).select(*columns).collect()`` would (Spark's
        ``fromInternal`` conversion: timestamps come back as naive local
        datetimes), in file order."""
        snap = snapshot or self.current_snapshot(table)
        if snap is None:
            raise FileNotFoundError(f"table {table} has no committed snapshot")
        schema = StructType.fromJson(json.loads(snap["schema"]))
        if columns is not None:
            schema = StructType([schema[c] for c in columns])
        cols: list = [[] for _ in schema.fields]
        for path in self.files(table, snap):
            data = pq.read_table(path, columns=schema.names)
            for out, field in zip(cols, schema.fields):
                col = data.column(field.name)
                if isinstance(field.dataType, TimestampType):
                    # internal value: epoch microseconds (Spark's own
                    # files hold INT96 nanoseconds, ours UTC micros)
                    col = col.cast(pa.timestamp("us")).cast(pa.int64())
                out.extend(col.to_pylist())
        return [schema.fromInternal(vals) for vals in zip(*cols)]

    def history(self, table: str) -> list:
        sdir = os.path.join(self._tdir(table), "snapshots")
        if not os.path.isdir(sdir):
            return []
        out = []
        for name in sorted(os.listdir(sdir)):
            if name.endswith(".json"):
                with open(os.path.join(sdir, name)) as f:
                    out.append(json.load(f))
        return sorted(out, key=lambda s: s["version"])

    def drop(self, table: str) -> None:
        with self._commit_lock():
            cat = self._catalog_current()
            if cat and table in cat["tables"]:
                tables = dict(cat["tables"])
                del tables[table]
                self._commit_catalog(tables, cat)
        shutil.rmtree(self._tdir(table), ignore_errors=True)

    # ---- snapshot maintenance (compact / expire / vacuum) ----
    def compact(self, spark: SparkSession, table: str,
                target_file_bytes: int = 128 << 20,
                snapshot: dict | None = None,
                sort_cols: tuple | None = None) -> dict:
        """Rewrite the table's current snapshot into right-sized files
        and commit the rewrite as a ``compact`` operation — same rows,
        fewer files.  The streaming paths commit one file set per
        micro-batch, so a long-running incremental index accretes the
        classic small-files problem; compaction is the maintenance job
        that keeps scan task counts sane (one task per ~target bytes,
        not one per micro-batch).

        Optimistic concurrency: the rewrite runs lock-free from a fixed
        snapshot; under the commit lock the table must STILL be at that
        snapshot, otherwise a writer landed mid-rewrite and the staged
        files are unlinked and ``CommitConflict`` raised (retry re-reads
        the new state) — a lost-update of the interleaved append is
        impossible.  Mirrors Iceberg's rewrite-files validation."""
        snap = snapshot or self.current_snapshot(table)
        if snap is None:
            raise FileNotFoundError(f"table {table} has no committed snapshot")
        if not snap["files"]:
            return snap
        total = sum(os.path.getsize(os.path.join(self._tdir(table), f))
                    for f in snap["files"])
        nfiles = max(1, -(-total // target_file_bytes))
        df = self.read(spark, table, snap)
        # preserve the table's layout contract (TABLE_SORT): pruned
        # scans depend on file-level sort; a round-robin repartition
        # would quietly defeat them after the first compaction
        sort_cols = sort_cols if sort_cols is not None \
            else TABLE_SORT.get(table)
        if sort_cols and set(sort_cols) <= set(df.columns):
            df = df.repartitionByRange(nfiles, *sort_cols) \
                .sortWithinPartitions(*sort_cols)
        else:
            df = df.repartition(nfiles)
        files = self._materialize(df, table)
        with self._commit_lock():
            cat = self._catalog_current()
            if not cat or cat["tables"].get(table) != snap["version"]:
                for f in files:
                    with contextlib.suppress(OSError):
                        os.unlink(os.path.join(self._tdir(table), f))
                raise CommitConflict(
                    f"table {table} moved past v{snap['version']} during "
                    "compaction; staged rewrite discarded — retry against "
                    "the current snapshot")
            new = self._write_table_snapshot(
                table, files, snap["schema"], snap, "compact")
            tables = dict(cat["tables"])
            tables[table] = new["version"]
            self._commit_catalog(tables, cat)
            return new

    def expire_snapshots(self, table: str, keep_last: int = 1) -> list:
        """Drop snapshot manifests older than the newest ``keep_last``
        (the committed snapshot is always retained).  Returns expired
        version numbers.  Data files those snapshots referenced become
        unreferenced and are reclaimed by ``vacuum``; catalog versions
        older than the expiry can no longer time-travel this table —
        the same trade Iceberg's expire_snapshots makes."""
        with self._commit_lock():
            cat = self._catalog_current()
            cur = cat["tables"].get(table) if cat else None
            hist = self.history(table)
            keep = {s["version"] for s in hist[-keep_last:]} if keep_last \
                else set()
            if cur is not None:
                keep.add(cur)
            expired = []
            sdir = os.path.join(self._tdir(table), "snapshots")
            for s in hist:
                if s["version"] not in keep:
                    with contextlib.suppress(OSError):
                        os.unlink(os.path.join(sdir, f"v{s['version']}.json"))
                        expired.append(s["version"])
            return expired

    def vacuum(self, table: str, grace_seconds: float = 86400.0) -> list:
        """Delete data files referenced by NO retained snapshot, plus
        staging directories left by crashed writers.  Only entries
        whose mtime is at least ``grace_seconds`` old are touched:
        ``_materialize`` stages files lock-free BEFORE its transaction
        commits, so a freshly-written unreferenced file may belong to
        an in-flight commit — the grace window (Iceberg's
        remove-orphan-files default is 3 days) makes vacuum safe to run
        beside live writers.  Returns the removed relative paths."""
        with self._commit_lock():
            referenced: set = set()
            for s in self.history(table):
                referenced.update(s["files"])
            ddir = os.path.join(self._tdir(table), "data")
            if not os.path.isdir(ddir):
                return []
            removed, now = [], time.time()
            for name in sorted(os.listdir(ddir)):
                rel = os.path.join("data", name)
                path = os.path.join(ddir, name)
                if rel in referenced:
                    continue
                with contextlib.suppress(OSError):
                    if now - os.path.getmtime(path) < grace_seconds:
                        continue
                    if os.path.isdir(path):
                        shutil.rmtree(path, ignore_errors=True)
                    else:
                        os.unlink(path)
                    removed.append(rel)
            return removed
