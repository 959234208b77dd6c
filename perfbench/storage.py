"""What the program wrote to disk, read from the files themselves.

Both the engine's ParquetStateStore and the ResourceStore lay tables out as
``{root}/{table}/v{n}/*.parquet``; a commit creates one new version
directory. Rows and bytes written are read from the parquet footers of the
version directories that appeared across a call.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq


def version_dirs(root: str) -> set[str]:
    out = set()
    if not os.path.isdir(root):
        return out
    for table in os.listdir(root):
        tdir = os.path.join(root, table)
        if not os.path.isdir(tdir):
            continue
        for name in os.listdir(tdir):
            if name.startswith("v") and name[1:].isdigit():
                out.add(os.path.join(tdir, name))
    return out


def footer_stats(dirs) -> tuple[int, int]:
    """(rows, bytes) over the parquet files of ``dirs``."""
    rows = size = 0
    for d in dirs:
        try:
            names = os.listdir(d)
        except FileNotFoundError:  # already garbage-collected
            continue
        for name in names:
            if name.endswith(".parquet"):
                path = os.path.join(d, name)
                try:
                    rows += pq.read_metadata(path).num_rows
                    size += os.path.getsize(path)
                except FileNotFoundError:
                    continue
    return rows, size


class WriteProbe:
    """Rows and bytes committed under ``root`` between start() and stop()."""

    def __init__(self, root: str, enabled: bool):
        self.root = root
        self.enabled = enabled
        self._before: set[str] = set()

    def start(self) -> None:
        if self.enabled:
            self._before = version_dirs(self.root)

    def stop(self) -> tuple[int, int]:
        if not self.enabled:
            return 0, 0
        return footer_stats(version_dirs(self.root) - self._before)


def tree_bytes(root: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(root):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, name))
            except FileNotFoundError:
                continue
    return total
