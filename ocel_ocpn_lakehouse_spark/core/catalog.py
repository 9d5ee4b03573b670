"""Warehouse catalog: namespaces + tables as directories.

Reference analog: PyIceberg SQL catalog over a file:// warehouse
(catalogs/local.yaml:1-4, loaded at ingest/production_bootstrap.py:19-30),
namespaces 'ocel'/'ocpn' created at production_bootstrap.py:610-620.
Here a namespace is a directory and a table is ``<ns>/<name>/`` with a
metadata/ subdir; existence = presence of a version hint.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import types as T

from . import metadata as meta
from .spec import TableSpec
from .table import Table


class Catalog:
    def __init__(self, warehouse: str):
        self.warehouse = os.path.abspath(warehouse)
        os.makedirs(self.warehouse, exist_ok=True)

    def _root(self, identifier: str) -> str:
        ns, _, name = identifier.rpartition(".")
        parts = ([ns] if ns else []) + [name]
        return os.path.join(self.warehouse, *parts)

    def table_exists(self, identifier: str) -> bool:
        return meta.current_version(self._root(identifier)) is not None

    def create_table(
        self,
        identifier: str,
        schema: T.StructType,
        spec: TableSpec | None = None,
    ) -> Table:
        root = self._root(identifier)
        if self.table_exists(identifier):
            raise FileExistsError(f"table {identifier} already exists")
        spec = spec or TableSpec()
        os.makedirs(root, exist_ok=True)
        md = meta.TableMetadata(
            table_uuid=uuid.uuid4().hex,
            location=root,
            schema_json=schema.json(),
            schema_fields=[{"id": i + 1, "name": f.name} for i, f in enumerate(schema.fields)],
            partition_spec=spec.partition_spec.to_list(),
            sort_order=spec.sort_order.to_list(),
            properties=spec.merged_properties(),
        )
        meta.commit_metadata(root, md, 0)
        return Table(root, md)

    def load_table(self, identifier: str) -> Table:
        root = self._root(identifier)
        return Table(root, meta.load_metadata(root))

    def drop_table(self, identifier: str) -> None:
        import shutil

        shutil.rmtree(self._root(identifier), ignore_errors=True)

    def list_tables(self, ns: str) -> list[str]:
        base = os.path.join(self.warehouse, ns)
        if not os.path.isdir(base):
            return []
        return sorted(
            f"{ns}.{d}"
            for d in os.listdir(base)
            if meta.current_version(os.path.join(base, d)) is not None
        )

    def list_namespaces(self) -> list[str]:
        return sorted(
            d
            for d in os.listdir(self.warehouse)
            if not d.startswith("_") and os.path.isdir(os.path.join(self.warehouse, d))
        )

    def register_views(self, spark) -> dict[str, str]:
        """SQL switchover: every table in the warehouse becomes a Spark
        temp view backed by the lakehouse data source (manifest-pruned
        scans with pushed-filter residuals), named ``<ns>_<table>``.
        Returns {identifier: view name}.

        Snapshot semantics: each view is PINNED to the table's current
        snapshot at registration (the reader carries an explicit
        ``snapshot-id``, so re-planning per query cannot drift to a newer
        commit) — every query over it is consistent, immune to concurrent
        commits (the same isolation a long-running report wants). Re-run
        ``register_views`` to advance all views to the current snapshots
        (cheap: metadata-only re-plan). A table with no snapshot yet
        registers unpinned and reads empty until re-registered."""
        from ..sources.table_source import register_lakehouse_source

        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
        register_lakehouse_source(spark)
        out: dict[str, str] = {}
        for ns in self.list_namespaces():
            for ident in self.list_tables(ns):
                view = ident.replace(".", "_")
                table = self.load_table(ident)
                reader = spark.read.format("lakehouse")
                snap = table.current_snapshot()
                if snap is not None:
                    reader = reader.option("snapshot-id", snap.snapshot_id)
                reader.load(table.root).createOrReplaceTempView(view)
                out[ident] = view
        return out
