"""Counts the file bytes Spark's Python workers read, for traced runs.

Python imports ``sitecustomize`` at start-up from the first ``PYTHONPATH``
directory that has one. ``run.py --trace 1`` puts this directory on the
``PYTHONPATH`` the JVM hands to its Python workers and sets two variables:

- ``PERFBENCH_IO_ROOT``: only files under this directory are counted;
- ``PERFBENCH_IO_LOG``: a directory; each process appends one line per
  counted file, the bytes read from it, to ``<log>/<pid>`` when it closes
  the file.

A binary read-mode ``open`` of a file under the root returns a wrapper that
counts what ``read`` and ``readinto`` return; every other ``open`` is left
alone. Without both variables this module does nothing.
"""

import builtins
import os

_ROOT = os.environ.get("PERFBENCH_IO_ROOT")
_LOG = os.environ.get("PERFBENCH_IO_LOG")
_open = builtins.open


class _CountedFile:
    def __init__(self, f):
        self._f = f
        self._read = 0

    def read(self, *args):
        data = self._f.read(*args)
        self._read += len(data)
        return data

    def readinto(self, buf):
        n = self._f.readinto(buf)
        self._read += n or 0
        return n

    def close(self):
        if not self._f.closed:
            self._f.close()
            with _open(os.path.join(_LOG, str(os.getpid())), "a") as log:
                log.write(f"{self._read}\n")

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()

    def __getattr__(self, name):
        return getattr(self._f, name)


def _counting_open(file, mode="r", *args, **kwargs):
    f = _open(file, mode, *args, **kwargs)
    if (
        isinstance(file, str) and "r" in mode and "b" in mode
        and os.path.abspath(file).startswith(_ROOT)
    ):
        return _CountedFile(f)
    return f


if _ROOT and _LOG:
    builtins.open = _counting_open
