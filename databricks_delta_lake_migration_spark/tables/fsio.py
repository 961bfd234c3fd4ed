"""Filesystem seam for the log-table format's driver-side metadata I/O.

Every driver-side metadata operation LogTable performs (staged-file
promotion, vacuum deletes, clone copies) goes through this interface
instead of ``os`` directly, and so does every commit-log access —
listing, commit, checkpoint read and write, pruning — made by the log
reader in ``log.py`` that LogTable and the streaming source share. The
format therefore ports to an object store by swapping one class:

==================  ===============================================
operation           object-store mapping (S3/GCS/ABFS)
==================  ===============================================
``listdir``         LIST with prefix (log dir is one prefix)
``put_if_absent``   conditional PUT (``If-None-Match: *`` /
                    ``x-ms-blob-if-none-match``) — the optimistic-
                    concurrency commit primitive; S3 has supported
                    this natively since 2024, GCS/ABFS always have
``write_text``      PUT (single-object writes are already atomic)
``rename``          server-side COPY + DELETE (staged data files are
                    immutable, so non-atomic rename is safe: the
                    commit that references them lands afterwards via
                    ``put_if_absent``)
``delete``/`walk`   DELETE / LIST with prefix
==================  ===============================================

Data-plane writes (executor parquet output) already go through Spark's
Hadoop FileSystem layer and need no changes.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from collections.abc import Iterator


class FileSystem:
    """Driver-side metadata filesystem. The base class IS the local
    implementation; subclass and override for remote stores."""

    # ---- reads -------------------------------------------------------

    def isdir(self, path: str) -> bool:
        return os.path.isdir(path)

    def listdir(self, path: str) -> list[str]:
        return os.listdir(path)

    def read_text(self, path: str) -> str:
        with open(path) as fh:
            return fh.read()

    def read_json(self, path: str) -> dict:
        return json.loads(self.read_text(path))

    def walk_files(self, root: str) -> Iterator[tuple[str, str]]:
        """Yield (dirpath, filename) for every file under root."""
        for dirpath, _, names in os.walk(root):
            for n in names:
                yield dirpath, n

    def size(self, path: str) -> int:
        return os.path.getsize(path)

    # ---- writes ------------------------------------------------------

    def makedirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def write_text(self, path: str, text: str) -> None:
        """Atomic overwrite (readers never see a partial object)."""
        tmp = path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            fh.write(text)
        os.replace(tmp, path)

    def put_if_absent(self, path: str, text: str) -> bool:
        """Create-exclusive write — the commit-protocol primitive.
        Returns False (and writes nothing) when ``path`` already
        exists: optimistic concurrency control without a lock service.
        Local impl: write-aside + hard link (atomic, fails on
        existing); object stores: conditional PUT."""
        tmp = path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            fh.write(text)
        try:
            os.link(tmp, path)
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)
        return True

    def rename(self, src: str, dst: str) -> None:
        os.rename(src, dst)

    def copy(self, src: str, dst: str) -> None:
        shutil.copy2(src, dst)

    def mtime(self, path: str) -> float:
        return os.path.getmtime(path)

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def delete(self, path: str) -> None:
        os.unlink(path)

    def delete_tree(self, path: str) -> None:
        shutil.rmtree(path, ignore_errors=True)


LOCAL_FS = FileSystem()
