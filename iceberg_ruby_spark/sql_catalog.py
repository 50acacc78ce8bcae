"""SQL catalog backend — namespaces and table pointers in a SQL database,
matching the reference's SQL backend surface (``lib/iceberg/sql_catalog.rb:
2-12``: uri, warehouse, name, properties; sqlite/postgres via sqlx in
``ext/iceberg/src/catalog.rs:170-186``).  This implementation ships the
sqlite profile on the stdlib driver; the SQL statements are portable, so a
DB-API connection factory for another engine can be dropped in.

Protocol (the same split Iceberg's JDBC catalog uses):

- the DATABASE holds the registry — namespace rows, table rows, and each
  table's current metadata VERSION pointer;
- metadata/manifest/data FILES stay on FileIO storage under the table
  location, written exactly like FsTableOps (``v{N}.json`` + manifests),
  so a table is freely re-registerable between FS/SQL/REST catalogs.

Commits compare-and-swap the version pointer::

    UPDATE iceberg_tables SET version = N+1
     WHERE catalog = ? AND ns = ? AND name = ? AND version = N

zero rows updated → a concurrent committer won → ``FileExistsError``, which
the optimistic retry loops in ``table.py`` already handle.
"""

from __future__ import annotations

import json
import os
import sqlite3
import threading
from typing import Any, Optional

from iceberg_ruby_spark.catalog import Catalog, Ident, _norm_ident
from iceberg_ruby_spark.errors import (
    InvalidDataError,
    NamespaceAlreadyExistsError,
    NoSuchNamespaceError,
    NoSuchTableError,
    TableAlreadyExistsError,
)

_SCHEMA = [
    """CREATE TABLE IF NOT EXISTS iceberg_namespaces (
        catalog TEXT NOT NULL,
        ns TEXT NOT NULL,
        properties TEXT NOT NULL DEFAULT '{}',
        PRIMARY KEY (catalog, ns)
    )""",
    """CREATE TABLE IF NOT EXISTS iceberg_tables (
        catalog TEXT NOT NULL,
        ns TEXT NOT NULL,
        name TEXT NOT NULL,
        location TEXT NOT NULL,
        version INTEGER NOT NULL,
        PRIMARY KEY (catalog, ns, name)
    )""",
]

_NS_SEP = "\x1f"


class _Db:
    """One sqlite file, serialized writes (sqlite locks the file anyway;
    the Python-side lock keeps commit CAS + error mapping race-free within
    this process)."""

    def __init__(self, path: str):
        self.path = path
        self.lock = threading.Lock()
        with self.connect() as conn:
            for ddl in _SCHEMA:
                conn.execute(ddl)

    def connect(self) -> sqlite3.Connection:
        conn = sqlite3.connect(self.path, timeout=30)
        conn.isolation_level = None  # autocommit; explicit BEGIN when needed
        return conn


def _parse_uri(uri: str) -> str:
    """'sqlite:///abs/db.sqlite' / 'sqlite://rel.db' / 'sqlite:rel.db' /
    bare path → file path.  sqlx's rule: strip ``sqlite://``, else
    ``sqlite:``; whatever remains is the path, so ``sqlite:///abs`` keeps
    its leading ``/`` and stays absolute."""
    for prefix in ("sqlite://", "sqlite:"):
        if uri.startswith(prefix):
            return uri[len(prefix):]
    if "://" in uri:
        raise InvalidDataError(
            f"unsupported SQL catalog uri (sqlite profile only): {uri!r}"
        )
    return uri


class SqlTableOps:
    """FsTableOps file layout + SQL version pointer with CAS commits."""

    def __init__(self, db: _Db, catalog_name: str, parts: list[str], location: str, io):
        from iceberg_ruby_spark.io import LocalFileIO
        from iceberg_ruby_spark.table import FsTableOps

        self.db = db
        self.catalog_name = catalog_name
        self.parts = list(parts)
        self.location = location
        self.io = io or LocalFileIO()
        self.metadata_dir = os.path.join(location, "metadata")
        self.data_dir = os.path.join(location, "data")
        # file-plane helpers (manifest read/write, rel/abs mapping)
        self._fs = FsTableOps(location, io=self.io)

    def _key(self) -> tuple[str, str, str]:
        return (self.catalog_name, _NS_SEP.join(self.parts[:-1]), self.parts[-1])

    def _row(self) -> Optional[tuple[str, int]]:
        with self.db.connect() as conn:
            cur = conn.execute(
                "SELECT location, version FROM iceberg_tables "
                "WHERE catalog = ? AND ns = ? AND name = ?",
                self._key(),
            )
            row = cur.fetchone()
        return row

    def exists(self) -> bool:
        return self._row() is not None

    def current_version(self) -> int:
        row = self._row()
        if row is None:
            raise NoSuchTableError(f"table does not exist: {'.'.join(self.parts)}")
        return int(row[1])

    def load(self, version: Optional[int] = None):
        from iceberg_ruby_spark.table import TableMetadata

        v = version if version is not None else self.current_version()
        path = os.path.join(self.metadata_dir, f"v{v}.json")
        return TableMetadata(json.loads(self.io.read(path)), v, path)

    def commit(self, base_version: Optional[int], new_meta: dict[str, Any]):
        from iceberg_ruby_spark.table import TableMetadata

        new_version = (base_version or 0) + 1
        path = os.path.join(self.metadata_dir, f"v{new_version}.json")
        # metadata file first (conditional create blocks same-version racers
        # even before the SQL CAS), then swing the pointer
        self.io.write_atomic(path, json.dumps(new_meta, indent=1), overwrite=False)
        cat, ns, name = self._key()
        with self.db.lock, self.db.connect() as conn:
            if base_version in (None, 0):
                try:
                    conn.execute(
                        "INSERT INTO iceberg_tables "
                        "(catalog, ns, name, location, version) VALUES (?,?,?,?,?)",
                        (cat, ns, name, self.location, new_version),
                    )
                except sqlite3.IntegrityError:
                    raise FileExistsError(f"table row exists: {'.'.join(self.parts)}")
            else:
                cur = conn.execute(
                    "UPDATE iceberg_tables SET version = ? "
                    "WHERE catalog = ? AND ns = ? AND name = ? AND version = ?",
                    (new_version, cat, ns, name, base_version),
                )
                if cur.rowcount == 0:
                    raise FileExistsError(
                        f"version CAS lost: {'.'.join(self.parts)} @ v{base_version}"
                    )
        # advisory version-hint alongside the files so the table dir is a
        # valid FS-layout table too (re-registerable into an FS catalog)
        self.io.replace(
            os.path.join(self.metadata_dir, "version-hint.text"), str(new_version)
        )
        return TableMetadata(new_meta, new_version, path)

    # file-plane passthroughs
    def _rel(self, p: str) -> str:
        return self._fs._rel(p)

    def _abs(self, p: str) -> str:
        return self._fs._abs(p)

    def write_manifest(
        self,
        snapshot_id: int,
        entries: list[dict[str, Any]],
        ctx: Any = None,
        base_list: Optional[str] = None,
    ) -> str:
        return self._fs.write_manifest(snapshot_id, entries, ctx=ctx, base_list=base_list)

    def read_manifest(self, manifest_list: str) -> list[dict[str, Any]]:
        return self._fs.read_manifest(manifest_list)

    def read_manifest_filtered(
        self, manifest_list: str, trees, allow_mor: bool = False
    ):
        return self._fs.read_manifest_filtered(
            manifest_list, trees, allow_mor=allow_mor
        )

    def read_manifest_delta(self, end_list: str, start_list: str):
        return self._fs.read_manifest_delta(end_list, start_list)


class SqlCatalog(Catalog):
    """Catalog registry in a SQL database (reference
    ``lib/iceberg/sql_catalog.rb``); files under ``warehouse``."""

    def __init__(
        self,
        uri: str,
        warehouse: Optional[str] = None,
        name: str = "main",
        properties: Optional[dict[str, str]] = None,
        namespace: Optional[Ident] = None,
        spark=None,
        io=None,
    ):
        import tempfile

        self._tmp = None
        if warehouse is None:
            self._tmp = tempfile.mkdtemp(prefix="iceberg_ruby_spark_sql_wh_")
            warehouse = self._tmp
        db_path = _parse_uri(uri)
        os.makedirs(os.path.dirname(os.path.abspath(db_path)), exist_ok=True)
        self.db = _Db(db_path)
        self.properties = dict(properties or {})
        super().__init__(warehouse, namespace=namespace, spark=spark, name=name, io=io)

    # -- seam --------------------------------------------------------------
    def _table_ops(self, location: str, parts: Optional[list[str]] = None):
        if parts is None:
            rel = os.path.relpath(os.path.abspath(location), self.warehouse)
            parts = rel.split(os.sep)
        return SqlTableOps(self.db, self.name, parts, location, self.io)

    def _table_location(self, ident: Ident) -> tuple[list[str], str]:
        parts = self._with_namespace(ident)
        with self.db.connect() as conn:
            row = conn.execute(
                "SELECT location FROM iceberg_tables "
                "WHERE catalog = ? AND ns = ? AND name = ?",
                (self.name, _NS_SEP.join(parts[:-1]), parts[-1]),
            ).fetchone()
        if row:
            return parts, row[0]
        return parts, os.path.join(self.warehouse, *parts)

    # -- namespaces --------------------------------------------------------
    def create_namespace(self, ns, properties=None, if_not_exists=False) -> None:
        parts = _norm_ident(ns)
        key = _NS_SEP.join(parts)
        with self.db.lock, self.db.connect() as conn:
            if len(parts) > 1:
                parent = conn.execute(
                    "SELECT 1 FROM iceberg_namespaces WHERE catalog = ? AND ns = ?",
                    (self.name, _NS_SEP.join(parts[:-1])),
                ).fetchone()
                if parent is None:
                    raise NoSuchNamespaceError(
                        f"parent namespace does not exist: {'.'.join(parts[:-1])}"
                    )
            try:
                conn.execute(
                    "INSERT INTO iceberg_namespaces (catalog, ns, properties) "
                    "VALUES (?,?,?)",
                    (self.name, key, json.dumps(properties or {})),
                )
            except sqlite3.IntegrityError:
                if if_not_exists:
                    return
                raise NamespaceAlreadyExistsError(
                    f"namespace already exists: {'.'.join(parts)}"
                )

    def list_namespaces(self, parent=None) -> list[list[str]]:
        base = _norm_ident(parent) if parent else []
        if base and not self.namespace_exists(base):
            raise NoSuchNamespaceError(f"namespace does not exist: {'.'.join(base)}")
        with self.db.connect() as conn:
            rows = conn.execute(
                "SELECT ns FROM iceberg_namespaces WHERE catalog = ?", (self.name,)
            ).fetchall()
        out = []
        for (key,) in rows:
            levels = key.split(_NS_SEP)
            if len(levels) == len(base) + 1 and levels[: len(base)] == base:
                out.append(levels)
        return sorted(out)

    def namespace_exists(self, ns) -> bool:
        try:
            parts = _norm_ident(ns)
        except InvalidDataError:
            return False
        with self.db.connect() as conn:
            row = conn.execute(
                "SELECT 1 FROM iceberg_namespaces WHERE catalog = ? AND ns = ?",
                (self.name, _NS_SEP.join(parts)),
            ).fetchone()
        return row is not None

    def namespace_properties(self, ns) -> dict[str, str]:
        parts = _norm_ident(ns)
        with self.db.connect() as conn:
            row = conn.execute(
                "SELECT properties FROM iceberg_namespaces "
                "WHERE catalog = ? AND ns = ?",
                (self.name, _NS_SEP.join(parts)),
            ).fetchone()
        if row is None:
            raise NoSuchNamespaceError(f"namespace does not exist: {'.'.join(parts)}")
        return json.loads(row[0])

    def update_namespace(self, ns, properties) -> None:
        parts = _norm_ident(ns)
        with self.db.lock, self.db.connect() as conn:
            cur = conn.execute(
                "UPDATE iceberg_namespaces SET properties = ? "
                "WHERE catalog = ? AND ns = ?",
                (json.dumps(properties), self.name, _NS_SEP.join(parts)),
            )
            if cur.rowcount == 0:
                raise NoSuchNamespaceError(
                    f"namespace does not exist: {'.'.join(parts)}"
                )

    def drop_namespace(self, ns, if_exists=False) -> None:
        parts = _norm_ident(ns)
        key = _NS_SEP.join(parts)
        with self.db.lock, self.db.connect() as conn:
            row = conn.execute(
                "SELECT 1 FROM iceberg_namespaces WHERE catalog = ? AND ns = ?",
                (self.name, key),
            ).fetchone()
            if row is None:
                if if_exists:
                    return
                raise NoSuchNamespaceError(
                    f"namespace does not exist: {'.'.join(parts)}"
                )
            child = conn.execute(
                "SELECT 1 FROM iceberg_namespaces "
                "WHERE catalog = ? AND ns LIKE ? LIMIT 1",
                (self.name, key + _NS_SEP + "%"),
            ).fetchone()
            tbl = conn.execute(
                "SELECT 1 FROM iceberg_tables WHERE catalog = ? AND ns = ? LIMIT 1",
                (self.name, key),
            ).fetchone()
            if child or tbl:
                raise InvalidDataError(f"namespace is not empty: {'.'.join(parts)}")
            conn.execute(
                "DELETE FROM iceberg_namespaces WHERE catalog = ? AND ns = ?",
                (self.name, key),
            )

    # -- tables ------------------------------------------------------------
    def list_tables(self, ns=None) -> list[list[str]]:
        if ns is None:
            if not self.default_namespace:
                raise InvalidDataError(
                    "no namespace given and no default namespace set"
                )
            parts = self.default_namespace
        else:
            parts = _norm_ident(ns)
        if not self.namespace_exists(parts):
            raise NoSuchNamespaceError(f"namespace does not exist: {'.'.join(parts)}")
        with self.db.connect() as conn:
            rows = conn.execute(
                "SELECT name FROM iceberg_tables WHERE catalog = ? AND ns = ? "
                "ORDER BY name",
                (self.name, _NS_SEP.join(parts)),
            ).fetchall()
        return [[*parts, r[0]] for r in rows]

    def drop_table(self, ident, if_exists=False) -> None:
        parts = self._with_namespace(ident)
        with self.db.lock, self.db.connect() as conn:
            cur = conn.execute(
                "DELETE FROM iceberg_tables WHERE catalog = ? AND ns = ? AND name = ?",
                (self.name, _NS_SEP.join(parts[:-1]), parts[-1]),
            )
        if cur.rowcount == 0 and not if_exists:
            raise NoSuchTableError(f"table does not exist: {'.'.join(parts)}")

    def purge_table(self, ident) -> None:
        parts, loc = self._table_location(ident)
        if not self.table_exists(parts):
            raise NoSuchTableError(f"table does not exist: {'.'.join(parts)}")
        self.drop_table(parts)
        self.io.delete_prefix(loc)

    def rename_table(self, old, new) -> None:
        old_parts = self._with_namespace(old)
        new_parts = self._with_namespace(new)
        if not self.namespace_exists(new_parts[:-1]):
            raise NoSuchNamespaceError(
                f"namespace does not exist: {'.'.join(new_parts[:-1])}"
            )
        with self.db.lock, self.db.connect() as conn:
            dst = conn.execute(
                "SELECT 1 FROM iceberg_tables WHERE catalog = ? AND ns = ? AND name = ?",
                (self.name, _NS_SEP.join(new_parts[:-1]), new_parts[-1]),
            ).fetchone()
            if dst is not None:
                raise TableAlreadyExistsError(
                    f"table already exists: {'.'.join(new_parts)}"
                )
            cur = conn.execute(
                "UPDATE iceberg_tables SET ns = ?, name = ? "
                "WHERE catalog = ? AND ns = ? AND name = ?",
                (
                    _NS_SEP.join(new_parts[:-1]),
                    new_parts[-1],
                    self.name,
                    _NS_SEP.join(old_parts[:-1]),
                    old_parts[-1],
                ),
            )
            if cur.rowcount == 0:
                raise NoSuchTableError(f"table does not exist: {'.'.join(old_parts)}")

    def register_table(self, ident, metadata_location: str):
        """Attach an existing FS-layout table by pointer row (no copy)."""
        from iceberg_ruby_spark.table import FsTableOps

        parts = self._with_namespace(ident)
        if self.table_exists(parts):
            raise TableAlreadyExistsError(f"table already exists: {'.'.join(parts)}")
        src = metadata_location
        if src.endswith(".json"):
            src = os.path.dirname(os.path.dirname(src))
        src = os.path.abspath(src)
        fs_ops = FsTableOps(src, io=self.io)
        if not fs_ops.exists():
            raise NoSuchTableError(f"no table metadata at {metadata_location}")
        with self.db.lock, self.db.connect() as conn:
            try:
                conn.execute(
                    "INSERT INTO iceberg_tables (catalog, ns, name, location, version) "
                    "VALUES (?,?,?,?,?)",
                    (
                        self.name,
                        _NS_SEP.join(parts[:-1]),
                        parts[-1],
                        src,
                        fs_ops.current_version(),
                    ),
                )
            except sqlite3.IntegrityError:
                raise TableAlreadyExistsError(
                    f"table already exists: {'.'.join(parts)}"
                )
        return self.load_table(parts)
