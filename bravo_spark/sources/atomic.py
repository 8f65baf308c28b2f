"""One local-file commit for every writer that replaces a file in place:
temp name, fsync, rename, directory fsync. Readers see the old file or
the complete new one, never a torn write."""

from __future__ import annotations

import os
import uuid
from contextlib import contextmanager, suppress


@contextmanager
def atomic_write(path: str, mode: str = "wb"):
    """Yield an open temp file beside ``path``; on a clean exit fsync it,
    rename it over ``path`` and fsync the directory. On an exception the
    temp file is removed and ``path`` is untouched. The hidden
    ``.<name>.<hex>.tmp`` name keeps it out of Hadoop and Spark listings."""
    d, name = os.path.split(os.path.abspath(path))
    tmp = os.path.join(d, f".{name}.{uuid.uuid4().hex[:12]}.tmp")
    try:
        with open(tmp, mode) as f:
            yield f
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)
    except BaseException:
        with suppress(FileNotFoundError):
            os.remove(tmp)
        raise
    fd = os.open(d, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)
