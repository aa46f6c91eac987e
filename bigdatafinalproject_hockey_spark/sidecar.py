"""The one on-disk store for data the registry derives from its inputs.

Two kinds of entry, both under ``ROOT`` (``$TMPDIR/spark-graft``;
``TMPDIR`` is the only control):

- ``cached(name, inputs, version, build)`` holds data that is a pure
  function of input files: staged layouts, bucketed ingests, fitted
  codebooks. The key is the name, the build's version and a
  fingerprint of every input part file (absolute path, size,
  ``st_mtime_ns``), so a refreshed input or a changed build gets a
  new entry and an old one is never served. ``build`` writes into a
  private directory that is published with one ``os.rename``, the
  rule of Spark SQL's output committer: readers see a complete entry
  or none. Entries are never evicted; deleting ``ROOT`` reclaims them.
- ``scratch(name)`` is a fresh directory per call, for queries that
  write and then read back. Each caller keeps its own files, so a
  later call cannot rewrite the data under an earlier caller's lazy
  reader. A process's scratch directories sit under one per-process
  directory that is removed at interpreter exit.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import tempfile
import threading
from typing import Callable

from bigdatafinalproject_hockey_spark.catalog import file_version

ROOT = os.path.join(tempfile.gettempdir(), "spark-graft")

_lock = threading.Lock()
_process_dir: str | None = None


def _key(name: str, inputs: list[str], version: str) -> str:
    h = hashlib.sha256(version.encode())
    for path in inputs:
        for part, size, mtime in file_version(path):
            h.update(f"\0{part}\0{size}\0{mtime}".encode())
    return f"{name}_{h.hexdigest()[:16]}"


def cached(
    name: str, inputs: list[str], version: str, build: Callable[[str], None]
) -> str:
    """Directory holding ``build``'s output for the current ``inputs``.

    ``inputs`` are parquet tables (a file or a directory of part
    files). ``version`` names what ``build`` produces: change it
    whenever ``build``'s output changes for the same inputs (new
    layout, new columns, new parameters), or the old entry is served.

    On a miss, ``build(tmpdir)`` fills a private directory under
    ``ROOT``, which is then renamed to the key. If another caller
    published the key first, this build is discarded and the
    published entry returned. A ``build`` that raises publishes
    nothing.
    """
    final = os.path.join(ROOT, _key(name, inputs, version))
    if os.path.isdir(final):
        return final
    os.makedirs(ROOT, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f".build-{os.path.basename(final)}-", dir=ROOT)
    try:
        build(tmp)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    try:
        os.rename(tmp, final)
    except OSError:
        # another caller published the key first: serve its entry
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.isdir(final):
            raise
    return final


def scratch(name: str) -> str:
    """A new, empty directory that no other call is given."""
    global _process_dir
    with _lock:
        if _process_dir is None:
            os.makedirs(ROOT, exist_ok=True)
            _process_dir = tempfile.mkdtemp(
                prefix=f"scratch-{os.getpid()}-", dir=ROOT
            )
            atexit.register(shutil.rmtree, _process_dir, True)
    return tempfile.mkdtemp(prefix=f"{name}-", dir=_process_dir)
