"""Byte accounting of parquet files on disk."""

from __future__ import annotations

import os


def dir_bytes(path: str, suffix: str = ".parquet") -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files if f.endswith(suffix))
    return total


class DataFileLedger:
    """Bytes of every data file the engine wrote under a table, counted by
    walking its data directory after each commit, before expiry can remove
    them."""

    def __init__(self, table_root: str):
        self.data_dir = os.path.join(table_root, "data")
        self.seen: dict[str, int] = {}

    def walk(self) -> None:
        for d, _, files in os.walk(self.data_dir):
            for f in files:
                p = os.path.join(d, f)
                if f.endswith(".parquet") and p not in self.seen:
                    self.seen[p] = os.path.getsize(p)

    @property
    def bytes(self) -> int:
        return sum(self.seen.values())
