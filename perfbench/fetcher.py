"""The Fetcher the ``ingest_files`` workload hands to the engine.

Kept apart from ``ingest_gen`` because it subclasses the engine's
``Fetcher``: importing it imports the engine, which belongs inside the
set-up timer. Worker tasks unpickle it by reference to this module.
"""

from __future__ import annotations

import os

from data_ingestion_poc_spark.ingest.pipeline import Fetcher

from perfbench.ingest_gen import HOST_RE


class TreeFetcher(Fetcher):
    """Serves the generated tree. ``stat`` reports the server's declared
    size, which differs from the file for the injected bad-size entries."""

    def __init__(self, roots: dict[str, str], declared_sizes: dict[str, int]):
        self.roots = roots
        self.declared_sizes = declared_sizes

    def _local(self, server: str, remote_path: str) -> str:
        return self.roots[HOST_RE.match(server).group(1)] + remote_path

    def stat(self, server: str, remote_path: str) -> tuple[int, int]:
        st = os.stat(self._local(server, remote_path))
        key = f"{server}|{remote_path}"
        return self.declared_sizes.get(key, st.st_size), int(st.st_mtime)

    def read(self, server: str, remote_path: str) -> bytes:
        with open(self._local(server, remote_path), "rb") as f:
            return f.read()
