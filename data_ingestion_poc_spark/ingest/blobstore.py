"""Blob-store seam: the reference's Azure upload client behind a protocol.

The reference's actual sink is a blob-per-object Azure upload with a
metadata map, a store-level duplicate probe, and a post-upload size
verify (child.py:160-221):

  - upload_file stats the local file, builds the blob path
    ``{server_folder}/{file_type}/{file_name}`` (child.py:171-172),
  - probes ``get_blob_properties`` and, when the existing blob's
    metadata ``file_size`` AND ``modified_time`` both match, diverts to
    a suffixed name instead of silently overwriting (child.py:176-191),
  - uploads with ``overwrite=True`` and metadata
    ``{creation_time, modified_time, file_size}`` (child.py:196-208),
  - re-fetches properties and fails on a size mismatch (child.py:211-218).

This module ports that CONTRACT behind a ``BlobStore`` protocol (the
``Fetcher``/``ftp_fixture`` precedent: real protocol object, swappable
backend). ``LocalBlobStore`` is the local backend, and the one behind
the pipeline's blob sink (``pipeline.write_blob_sink``) — bytes land as
files, the metadata map as a JSON sidecar under ``_meta/`` so properties
round-trip exactly like blob metadata. ``AzureBlobStore`` is
the literal SDK client, import-guarded like ``netfetch.CurlFetcher``
because the ``azure-storage-blob`` package is absent in this
environment; a deployment with the wheel installs it and nothing else
changes.

Determinism deviation (documented, same as ``dedup_against_sink`` A16):
the reference suffixes duplicate names with wall-clock
``int(time.time())`` (child.py:186) — non-idempotent across retries.
The engine suffixes with the record's ``modified_time`` so a retried
task produces the identical blob path.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame


def blob_path_for(server_folder: str, file_type: str, file_name: str) -> str:
    """child.py:171-172's layout: {server_folder}/{file_type}/{name}."""
    return f"{server_folder}/{file_type}/{file_name}"


def dup_suffixed(file_name: str, modified_time: int) -> str:
    """Duplicate-divert name: {base}_{mtime}{ext} (deterministic stand-in
    for child.py:186's {base}_{unix_now}{ext})."""
    base, dot, ext = file_name.rpartition(".")
    if not dot:
        return f"{file_name}_{modified_time}"
    return f"{base}_{modified_time}.{ext}"


class BlobStore:
    """Protocol mirroring the slice of the Azure BlobClient surface the
    reference sink uses: a properties probe and an overwriting upload."""

    def get_properties(self, blob_path: str) -> dict | None:
        """None if the blob does not exist, else
        {'size': int, 'metadata': dict[str, str]} (child.py:176-180)."""
        raise NotImplementedError

    def upload(
        self, blob_path: str, data: bytes, metadata: dict[str, str]
    ) -> None:
        """Upload with overwrite=True + metadata map (child.py:196-208)."""
        raise NotImplementedError


class LocalBlobStore(BlobStore):
    """Filesystem-backed store: blob bytes at {root}/{blob_path}, the
    metadata map as a JSON sidecar at {root}/_meta/{blob_path}.json —
    properties are store-derived (size from the data file) plus the
    uploaded metadata, exactly the shape get_blob_properties returns."""

    def __init__(self, root: str):
        self.root = root

    def _data(self, blob_path: str) -> str:
        return os.path.join(self.root, blob_path)

    def _meta(self, blob_path: str) -> str:
        return os.path.join(self.root, "_meta", blob_path + ".json")

    def get_properties(self, blob_path: str) -> dict | None:
        p = self._data(blob_path)
        if not os.path.exists(p):
            return None
        meta: dict[str, str] = {}
        try:
            with open(self._meta(blob_path)) as f:
                loaded = json.load(f)
            if isinstance(loaded, dict):
                meta = loaded
        except (OSError, ValueError):
            # missing OR truncated/corrupt sidecar degrades to empty
            # metadata — the probe then reads as "not a duplicate" and
            # the record re-uploads fresh (safe); JSONDecodeError is a
            # ValueError, and a crash here would fail the whole task
            pass
        return {"size": os.path.getsize(p), "metadata": meta}

    def upload(
        self, blob_path: str, data: bytes, metadata: dict[str, str]
    ) -> None:
        p = self._data(blob_path)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(p, "wb") as f:  # overwrite=True semantics
            f.write(data)
        m = self._meta(blob_path)
        os.makedirs(os.path.dirname(m), exist_ok=True)
        with open(m, "w") as f:
            json.dump(metadata, f)


class AzureBlobStore(BlobStore):
    """The literal SDK client (child.py:160-221), import-guarded like
    netfetch.CurlFetcher: azure-storage-blob is not installed in this
    environment, so constructing this raises ImportError; with the wheel
    present it is the drop-in production backend for upload_records."""

    def __init__(self, connection_string: str, container: str):
        try:
            from azure.storage.blob import (  # type: ignore
                BlobServiceClient,
                ContentSettings,
            )
        except ImportError as e:  # pragma: no cover - env has no SDK
            raise ImportError(
                "azure-storage-blob is not installed; use LocalBlobStore "
                "or install the SDK"
            ) from e
        self._content_settings = ContentSettings(
            content_type="application/octet-stream"
        )
        self._svc = BlobServiceClient.from_connection_string(
            connection_string
        )
        self._container = container

    def get_properties(self, blob_path: str) -> dict | None:  # pragma: no cover
        bc = self._svc.get_blob_client(self._container, blob_path)
        try:
            props = bc.get_blob_properties()
        except Exception:
            return None
        return {"size": props.size, "metadata": dict(props.metadata or {})}

    def upload(
        self, blob_path: str, data: bytes, metadata: dict[str, str]
    ) -> None:  # pragma: no cover - env has no SDK
        bc = self._svc.get_blob_client(self._container, blob_path)
        bc.upload_blob(
            data,
            content_settings=self._content_settings,
            metadata=metadata,
            overwrite=True,
        )


UPLOAD_RESULT_SCHEMA = (
    "server_folder string, file_type string, file_name string, "
    "length bigint, modified_time bigint, blob_path string, "
    "action string, props_match boolean"
)


def upload_records(
    df: DataFrame, store_factory, policy: str = "overwrite"
) -> DataFrame:
    """Blob-per-record upload through the store seam, executor-side.

    Each task builds ITS OWN store client from ``store_factory`` (a
    picklable zero-arg callable — the Fetcher-seam convention, one
    client per partition like the reference's one child process per
    server) and ships its partition's blobs directly: no collect, no
    driver round-trip.

    Store-level duplicate handling (child.py:176-191): a blob at the
    target path whose metadata file_size AND modified_time both equal
    the incoming record's is a DUPLICATE —
      policy='overwrite': upload anyway (action 'uploaded'; child.py's
        behavior when the metadata differs, useful for backfills),
      policy='skip': do not upload (action 'skipped'; the scrap
        variant's A17 semantics at the store level),
      policy='rename': divert to dup_suffixed (action 'renamed';
        child.py:183-188 with the deterministic suffix).
    A missing or metadata-mismatched blob is always uploaded fresh. Under
    'overwrite' the pre-upload probe is not made: its answer is unused.

    Records are hash-partitioned on their blob path first, so all
    records that share a path land in one task. Every uploaded (or
    skipped-into) path is re-probed after the task's last upload, and
    ``props_match`` asserts the stored size equals the record length AND
    the stored modified_time metadata equals the record's —
    child.py:211-218's integrity check, distributed. A record whose
    object another record overwrote therefore always fails.

    Lazy: uploads happen in one mapInPandas stage when the returned frame
    is acted on, and again each time it is.

    Returns one result row per record: bounded by the manifest (one row
    per object, the sink_state shape), never by data bytes.
    """
    if policy not in ("overwrite", "skip", "rename"):
        raise ValueError(f"unknown blob policy {policy!r}")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        store = store_factory()
        out = []
        for pdf in batches:
            for r in pdf.to_dict("records"):
                content = bytes(r["content"] or b"")
                path = blob_path_for(
                    r["server_folder"], r["file_type"], r["file_name"]
                )
                meta = {
                    # creation_time: the record's mtime stands in —
                    # os.path.getctime of a just-downloaded temp file is
                    # its write time, which IS the transfer of mtime.
                    "creation_time": str(int(r["modified_time"])),
                    "modified_time": str(int(r["modified_time"])),
                    "file_size": str(len(content)),
                }
                dup = False
                if policy != "overwrite":
                    existing = store.get_properties(path)
                    dup = existing is not None and (
                        existing["metadata"].get("file_size")
                        == meta["file_size"]
                        and existing["metadata"].get("modified_time")
                        == meta["modified_time"]
                    )
                if dup and policy == "skip":
                    action = "skipped"
                elif dup and policy == "rename":
                    path = blob_path_for(
                        r["server_folder"],
                        r["file_type"],
                        dup_suffixed(r["file_name"], int(r["modified_time"])),
                    )
                    store.upload(path, content, meta)
                    action = "renamed"
                else:
                    store.upload(path, content, meta)
                    action = "uploaded"
                out.append(
                    {
                        "server_folder": r["server_folder"],
                        "file_type": r["file_type"],
                        "file_name": r["file_name"],
                        "length": int(r["length"]),
                        "modified_time": int(r["modified_time"]),
                        "blob_path": path,
                        "action": action,
                    }
                )
        # re-probe after ALL of this task's uploads: the task holds every
        # record of its blob paths, so a record whose object another
        # record overwrote fails. Verify against the RECORD's length field
        # (child.py:211-218's contract), not len(content): a truncated
        # fetch then fails the audit instead of passing trivially.
        for row in out:
            after = store.get_properties(row["blob_path"])
            row["props_match"] = bool(
                after is not None
                and after["size"] == row["length"]
                and after["metadata"].get("modified_time")
                == str(row["modified_time"])
            )
        if out:
            yield pd.DataFrame(out)

    cols = [
        "server_folder", "file_type", "file_name",
        "length", "modified_time", "content",
    ]
    return (
        df.select(*cols)
        .repartition("server_folder", "file_type", "file_name")
        .mapInPandas(run, schema=UPLOAD_RESULT_SCHEMA)
    )
