"""Persistent warehouse catalog — tables survive process restarts.

The reference's storage is a DuckDB database file: tables created by
one server process exist for the next, and ATTACH adds further
catalogs (/root/reference/docs/ducklake.md:1-50; ATTACH gate
admin_command_guard.cpp:291-294). Spark's in-memory catalog
(``spark.sql.catalogImplementation=in-memory``) forgets every table at
process exit while the warehouse directory keeps the data — the worst
of both: data without metadata, and LOCATION_ALREADY_EXISTS on the
next same-name write.

``WarehouseCatalog`` closes that gap the lakehouse way: a JSON
manifest (``_catalog.json`` in the warehouse dir) records every
engine-managed table (schema DDL, location, format, bucket spec).  On
engine start ``reattach_all`` re-registers manifest tables as external
tables over their existing files — bucketed layouts re-attach with
their CLUSTERED BY spec and stay shuffle-free, generalizing
operators/scale._reattach_bucketed. On a real deployment the same
seam is where Hive Metastore / Delta / Iceberg / Unity plug in; the
manifest is the minimal self-contained stand-in (it IS the DuckLake
idea: catalog state in a tiny transactional store next to parquet).

Writes go through ``record``/``forget`` (Engine calls them after
ingest/DDL/DML); ``prepare_write`` clears stale directories that have
neither catalog nor manifest entries (crash leftovers) so saveAsTable
cannot trip over them.

The full deviation matrix — what the snapshot emulation guarantees vs
real DuckDB transactions, what ``VERSION AS OF`` promises, and what a
Delta/Iceberg swap at this seam would add — lives in
docs/transactions_and_lakehouse.md.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import tempfile
import threading
import time
from dataclasses import dataclass

from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession
from pyspark.sql.types import StructType, _parse_datatype_json_string

_IDENT_RE = re.compile(r"^[A-Za-z_][\w.]*$")

#: entry fields an upsert does not compare: the archive history it
#: keeps and the time of the write
_UNCOMPARED_FIELDS = ("versions", "recorded_at")


def warehouse_dir(spark: SparkSession) -> str:
    return spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse").removeprefix("file:")


@dataclass(frozen=True)
class TableMetadata:
    """A table's or view's entry in a session catalog."""

    table_type: str  # MANAGED, EXTERNAL or VIEW
    temporary: bool
    schema: StructType
    location: str  # without the file: scheme; "" for a view
    provider: str
    view_text: str
    #: num_buckets, bucket_columns, sort_columns; None when unbucketed
    buckets: dict | None


def _column_list(text: str) -> list[str]:
    """``[`a`, `b`]`` → ``["a", "b"]``."""
    return [c.strip(" `") for c in text.strip("[]").split(",")
            if c.strip(" `")]


def _identifier(state, table: str):
    """``table`` as a JVM ``TableIdentifier`` of the session catalog."""
    parts = table.split(".")
    if len(parts) == 3 and parts[0].lower() == "spark_catalog":
        table = ".".join(parts[1:])
    return state.sqlParser().parseTableIdentifier(table)


def drop_cached_relation(spark: SparkSession, table: str) -> None:
    """Drop ``spark``'s relation-cache entry for ``table``
    (``SessionCatalog.refreshTable``), so the session's next read
    resolves the table and lists its files anew. Unlike
    ``catalog.refreshTable`` it resolves nothing and lists no file."""
    state = spark._jsparkSession.sessionState()
    state.catalog().refreshTable(_identifier(state, table))


def table_metadata(spark: SparkSession, table: str) -> TableMetadata | None:
    """What ``spark``'s catalog holds for ``table`` (a temp view first,
    as SQL resolves names), or None when it holds no such name.

    One ``SessionCatalog.getTempViewOrPermanentTableMetadata`` lookup:
    no statement is parsed or analyzed, no relation is resolved and no
    file is listed. The fields are those ``DESCRIBE FORMATTED`` prints,
    read from the same map (``CatalogTable.toLinkedHashMap``)."""
    state = spark._jsparkSession.sessionState()
    try:
        meta = state.catalog().getTempViewOrPermanentTableMetadata(
            _identifier(state, table))
    except AnalysisException:
        return None
    d: dict[str, str] = {}
    for item in meta.toLinkedHashMap().mkString("\x1e").split("\x1e"):
        key, _, value = item.partition(" -> ")
        d[key] = value.strip()
    buckets = None
    if d.get("Num Buckets"):
        buckets = {"num_buckets": int(d["Num Buckets"]),
                   "bucket_columns": _column_list(d.get("Bucket Columns", "")),
                   "sort_columns": _column_list(d.get("Sort Columns", ""))}
    return TableMetadata(
        table_type=d.get("Type", "").upper(),
        # a temp view's identifier carries no catalog
        temporary="Catalog" not in d,
        schema=_parse_datatype_json_string(meta.schema().json()),
        location=d.get("Location", "").removeprefix("file:"),
        provider=d.get("Provider", ""),
        view_text=d.get("View Text", ""),
        buckets=buckets)


class WarehouseCatalog:
    """JSON-manifest table registry over the Spark warehouse dir."""

    #: commit files kept behind the latest snapshot before pruning
    _COMMIT_KEEP = 32
    #: snapshot (and prune) every N commits
    _SNAPSHOT_EVERY = 16

    def __init__(self, spark: SparkSession, manifest_path: str | None = None):
        self.dir = warehouse_dir(spark)
        self.manifest_path = manifest_path or os.path.join(
            self.dir, "_catalog.json")
        self.commits_dir = os.path.join(
            os.path.dirname(self.manifest_path), "_commits")
        self._lock = threading.Lock()

    # --- manifest IO: optimistic-concurrency commit log ---------------
    #
    # Multi-writer safety the Delta-log way: every mutation is a new
    # ``_commits/NNNNNNNN.json`` holding the full post-image, created
    # ATOMICALLY (hard-link of a fully-written temp file — link(2)
    # fails with EEXIST if another writer won the sequence number, and
    # a linked file is complete by construction, so readers never see
    # partial JSON). The loser re-reads the new state, re-applies its
    # mutation, and retries at seq+1 — optimistic CAS, no lock file,
    # no lost updates across processes. ``_catalog.json`` becomes the
    # periodic checkpoint (same role as Delta's _last_checkpoint):
    # every _SNAPSHOT_EVERY commits the winner also writes the
    # snapshot and prunes commits older than seq - _COMMIT_KEEP.
    # A real Delta/Iceberg deployment replaces exactly this block with
    # the format's own commit protocol — the seam is _mutate().

    def _read_json(self, path: str) -> tuple[dict[str, dict], int] | None:
        try:
            with open(path, encoding="utf-8") as f:
                data = json.load(f)
            return data.get("tables", {}), int(data.get("seq", 0))
        except (OSError, json.JSONDecodeError, ValueError):
            return None

    def _state(self) -> tuple[dict[str, dict], int]:
        """Current (tables, seq): the highest readable commit, or the
        snapshot when it is newer (commits pruned) or none exist."""
        best: tuple[dict[str, dict], int] | None = None
        try:
            names = sorted(
                (n for n in os.listdir(self.commits_dir)
                 if n.endswith(".json")), reverse=True)
        except OSError:
            names = []
        for n in names:
            got = self._read_json(os.path.join(self.commits_dir, n))
            if got is not None:
                best = got
                break
        snap = self._read_json(self.manifest_path)
        if snap is not None and (best is None or snap[1] > best[1]):
            best = snap
        return best if best is not None else ({}, 0)

    def _load(self) -> dict[str, dict]:
        return self._state()[0]

    def _write_snapshot(self, tables: dict[str, dict], seq: int) -> None:
        os.makedirs(os.path.dirname(self.manifest_path), exist_ok=True)
        fd, tmp = tempfile.mkstemp(
            dir=os.path.dirname(self.manifest_path), suffix=".json")
        with os.fdopen(fd, "w", encoding="utf-8") as f:
            json.dump({"version": 1, "seq": seq, "tables": tables}, f,
                      indent=1)
        os.replace(tmp, self.manifest_path)

    def _mutate(self, fn) -> dict[str, dict] | None:
        """Apply ``fn(tables) -> tables | None`` under optimistic CAS.

        ``fn`` must be a pure function of its argument (it re-runs on
        conflict against the fresh state). Returning None aborts with
        no commit. Returns the committed post-image (or None)."""
        os.makedirs(self.commits_dir, exist_ok=True)
        for attempt in range(256):
            tables, seq = self._state()
            new = fn({k: dict(v) for k, v in tables.items()})
            if new is None:
                return None
            payload = {"version": 1, "seq": seq + 1, "tables": new}
            fd, tmp = tempfile.mkstemp(
                dir=self.commits_dir, suffix=".tmp")
            with os.fdopen(fd, "w", encoding="utf-8") as f:
                json.dump(payload, f, indent=1)
            commit = os.path.join(self.commits_dir, f"{seq + 1:08d}.json")
            try:
                os.link(tmp, commit)
            except FileExistsError:
                os.unlink(tmp)
                time.sleep(min(0.1, 0.002 * (attempt + 1)))
                continue
            os.unlink(tmp)
            if (seq + 1) % self._SNAPSHOT_EVERY == 0:
                self._checkpoint(new, seq + 1)
            return new
        raise RuntimeError(
            "warehouse manifest commit contention: 256 CAS attempts lost")

    def _checkpoint(self, tables: dict[str, dict], seq: int) -> None:
        """Write the snapshot and prune commits far enough behind it
        that no in-flight reader can still need them."""
        try:
            self._write_snapshot(tables, seq)
            floor = seq - self._COMMIT_KEEP
            for n in os.listdir(self.commits_dir):
                if n.endswith(".json") and int(n.split(".")[0]) < floor:
                    try:
                        os.unlink(os.path.join(self.commits_dir, n))
                    except OSError:
                        pass
        except (OSError, ValueError):
            pass

    def tables(self) -> dict[str, dict]:
        with self._lock:
            return self._load()

    def checkpoint_now(self) -> int:
        """Force a snapshot+prune of the commit log (the CHECKPOINT
        statement's analog of DuckDB's WAL flush). Returns the
        checkpointed sequence number."""
        with self._lock:
            tables, seq = self._state()
            self._checkpoint(tables, seq)
            return seq

    def upsert_entry(self, name: str, entry: dict) -> None:
        """Low-level manifest upsert (the CAS-protected write path —
        ``record`` builds the entry from a live table and lands here).
        Preserves any snapshot-version history already recorded. An
        entry that matches the recorded one in everything but its
        ``recorded_at`` time writes no commit."""
        def _apply(tables: dict[str, dict]) -> dict[str, dict] | None:
            prior = tables.get(name, {})
            e = dict(entry)
            if prior.get("versions"):
                e["versions"] = prior["versions"]

            def fields(x: dict) -> dict:
                return {k: v for k, v in x.items()
                        if k not in _UNCOMPARED_FIELDS}

            if name in tables and fields(prior) == fields(e):
                return None
            tables[name] = e
            return tables

        with self._lock:
            self._mutate(_apply)

    def record(self, spark: SparkSession, table: str) -> None:
        """Upsert a table's manifest entry from the table's metadata as
        the write left it (``table_metadata``); a name the catalog no
        longer has (e.g. a DROP that already ran) is forgotten, and a
        temp view is skipped. An unchanged entry writes no commit."""
        if not _IDENT_RE.match(table or ""):
            return
        name = table.split(".")[-1].lower()
        try:
            meta = table_metadata(spark, table)
        except Exception:
            return
        if meta is None:
            self.forget(table)
            return
        if meta.temporary:
            return  # temp views have no files to persist
        if meta.table_type == "VIEW" or meta.view_text:
            # persistent VIEW: the in-memory catalog forgets the
            # definition at exit — the manifest carries it (the
            # reference keeps views in its database file)
            entry: dict[str, object] = {
                "type": "view", "view_text": meta.view_text}
        elif not meta.location:
            return
        else:
            entry = {
                "schema": ", ".join(
                    f"`{f.name}` {f.dataType.simpleString()}"
                    for f in meta.schema.fields),
                "location": meta.location,
                "format": (meta.provider or "parquet").lower(),
                **(meta.buckets or {}),
            }
        entry["recorded_at"] = time.time()
        self.upsert_entry(name, entry)

    def forget(self, table: str) -> None:
        name = table.split(".")[-1].lower()

        def _apply(tables):
            return tables if tables.pop(name, None) is not None else None

        with self._lock:
            self._mutate(_apply)
            # a dropped table's archive must not collide with a future
            # same-name table's version numbering
            shutil.rmtree(os.path.join(self.dir, "_versions", name),
                          ignore_errors=True)

    # --- restart paths ------------------------------------------------

    def reattach_all(self, spark: SparkSession) -> list[str]:
        """Re-register manifest tables missing from the in-memory
        catalog as external tables over their surviving files. Entries
        whose files are gone are dropped from the manifest."""
        attached: list[str] = []
        gone: list[str] = []
        views: list[tuple[str, str]] = []
        with self._lock:
            tables = self._load()
            for name, entry in list(tables.items()):
                if entry.get("type") == "view":
                    # recreated AFTER tables so definitions over
                    # re-attached tables resolve
                    views.append((name, entry.get("view_text", "")))
                    continue
                loc = entry.get("location")
                if not loc or not os.path.exists(loc):
                    gone.append(name)
                    continue
                try:
                    if spark.catalog.tableExists(name):
                        continue
                    clause = ""
                    if entry.get("num_buckets"):
                        bcols = ", ".join(entry["bucket_columns"])
                        scols = ", ".join(
                            entry.get("sort_columns") or entry["bucket_columns"])
                        clause = (
                            f" CLUSTERED BY ({bcols}) SORTED BY ({scols})"
                            f" INTO {entry['num_buckets']} BUCKETS")
                    spark.sql(
                        f"CREATE TABLE {name} ({entry['schema']})"
                        f" USING {entry.get('format', 'parquet')}{clause}"
                        f" LOCATION '{loc}'")
                    # drop any stale file-status cache for the path
                    # (files may have been rewritten since this JVM
                    # last listed them)
                    spark.catalog.refreshTable(name)
                    attached.append(name)
                except Exception:
                    continue
            for name, text in views:
                if not text:
                    continue
                try:
                    if not spark.catalog.tableExists(name):
                        spark.sql(
                            f"CREATE OR REPLACE VIEW {name} AS {text}")
                        attached.append(name)
                except Exception:
                    # definition referencing a table that no longer
                    # exists — leave the manifest entry; it resolves
                    # once the table returns
                    continue
            if gone:
                def _prune(tables):
                    pruned = False
                    for name in gone:
                        entry = tables.get(name)
                        loc = (entry or {}).get("location")
                        if entry is not None and (
                                not loc or not os.path.exists(loc)):
                            tables.pop(name)
                            pruned = True
                    return tables if pruned else None

                self._mutate(_prune)
        return attached

    def prepare_write(self, spark: SparkSession, table: str,
                      overwrite: bool = False) -> TableMetadata | None:
        """Pre-saveAsTable conflict resolution; returns the table's
        metadata as the write will find it (None when the name is free).

        - A warehouse directory with neither a catalog entry nor a
          manifest entry is a crash leftover — removed, so the write
          cannot hit LOCATION_ALREADY_EXISTS.
        - With ``overwrite=True``, a re-attached EXTERNAL table living
          inside the warehouse dir is dropped and its files cleared:
          ``saveAsTable(overwrite)`` drops an external table WITHOUT
          deleting its files, then collides with them creating the
          managed replacement at the same default location."""
        name = table.split(".")[-1].lower()
        try:
            meta = table_metadata(spark, table)
        except Exception:
            return None
        if "/" in table or not _IDENT_RE.match(table or ""):
            return meta
        if meta is not None:
            if not overwrite:
                return meta
            location = meta.location
            is_ours = os.path.realpath(location).startswith(
                os.path.realpath(self.dir) + os.sep) if location else False
            if meta.table_type == "EXTERNAL" and is_ours:
                try:
                    spark.sql(f"DROP TABLE IF EXISTS {table}")
                except Exception:
                    return meta
                shutil.rmtree(location, ignore_errors=True)
                return None
            return meta
        with self._lock:
            if name in self._load():
                return None  # reattachable — let the caller's mode decide
        stale = os.path.join(self.dir, name)
        if os.path.isdir(stale):
            shutil.rmtree(stale, ignore_errors=True)
        return None

    # --- snapshots / time travel --------------------------------------
    #
    # The DuckLake idea carried one step further: destructive writes
    # archive the table's current files as an immutable version, and
    # ``SELECT … FROM t VERSION AS OF n`` reads the archive. The local
    # form copies files (small warehouse); a Delta/Iceberg deployment
    # keeps immutable data files and snapshots are manifest pointers —
    # zero copy. The SEAM (snapshot before mutate, resolve version to
    # a path) is identical either way.

    def snapshot(self, spark: SparkSession, table: str) -> int | None:
        """Archive ``table``'s current files; returns the new version
        number (1-based), or None when the table has no files."""
        name = table.split(".")[-1].lower()
        if not _IDENT_RE.match(table or ""):
            return None
        try:
            meta = table_metadata(spark, table)
        except Exception:
            return None
        # a first write has nothing to archive
        location = meta.location if meta is not None else ""
        if not location or not os.path.isdir(location):
            return None
        committed_v: list[int] = []

        def _apply(tables):
            # runs inside the CAS loop: version numbers re-derive from
            # the FRESH state on every retry, so two concurrent
            # snapshotters cannot claim the same version
            entry = tables.setdefault(name, {})
            versions = entry.setdefault("versions", [])
            v = len(versions) + 1
            vpath = os.path.join(self.dir, "_versions", name, f"v{v}")
            os.makedirs(os.path.dirname(vpath), exist_ok=True)
            shutil.copytree(location, vpath, dirs_exist_ok=True,
                            ignore=shutil.ignore_patterns("_*", ".*"))
            versions.append(
                {"version": v, "path": vpath, "at": time.time()})
            committed_v[:] = [v]
            return tables

        with self._lock:
            self._mutate(_apply)
            return committed_v[0] if committed_v else None

    def versions(self, table: str) -> list[dict]:
        name = table.split(".")[-1].lower()
        with self._lock:
            return list(self._load().get(name, {}).get("versions", []))

    def version_path(self, table: str, version: int) -> str:
        """Path of an archived version; raises KeyError when absent."""
        for v in self.versions(table):
            if v["version"] == version:
                return v["path"]
        raise KeyError(
            f"table {table!r} has no archived version {version}")

    def version_path_at(self, table: str, ts_epoch: float) -> str | None:
        """Delta-style ``TIMESTAMP AS OF`` resolution: each archive
        captures the table state just BEFORE the mutation that
        committed at its ``at`` time, so the state that was current
        at ``ts_epoch`` is the EARLIEST archive committed after it.
        Returns None when no archive postdates the timestamp — the
        live table already is the as-of state."""
        after = [v for v in self.versions(table) if v.get("at", 0) > ts_epoch]
        if not after:
            return None
        return min(after, key=lambda v: v["at"])["path"]
