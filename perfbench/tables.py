"""Byte and file accounting for a native table's directory tree."""

from __future__ import annotations

import os

from perfbench.gen import tree_bytes


class TableDir:
    """Accounting around one ``IcebergNativeTable`` location."""

    def __init__(self, table):
        self.table = table
        self.location = table.location

    def written_bytes(self) -> tuple[int, int]:
        """(data bytes, metadata bytes) under the location.  Table files
        are immutable, so the growth between two calls is what was
        created in between."""
        data = tree_bytes(os.path.join(self.location, "data"))[1]
        meta = tree_bytes(os.path.join(self.location, "metadata"))[1]
        return data, meta

    def total_bytes(self) -> int:
        return tree_bytes(self.location)[1]

    def reachable_bytes(self) -> int:
        """Bytes the current snapshot references: its metadata file,
        manifest list, manifests, data and delete files."""
        from iceberg_examples_spark.sources.iceberg_native import _strip_scheme

        t = self.table
        meta, snap, data, pos_del, eq_del = t._plan()
        md = os.path.join(t.meta_dir, f"v{t._current_version()}.metadata.json")
        total = os.path.getsize(md)
        if snap is None:
            return total
        total += os.path.getsize(_strip_scheme(snap["manifest-list"]))
        total += sum(os.path.getsize(_strip_scheme(m["manifest_path"])) for m in t._manifests(snap))
        total += sum(os.path.getsize(f["path"]) for f in data + pos_del + eq_del)
        return total

    def gauges(self) -> dict:
        t = self.table
        return {
            "data_files": t.count_files(0),
            "delete_files": t.count_files((1, 2)),
            "manifests": t.count_manifests(),
            "snapshots": t.count_snapshots(),
        }

