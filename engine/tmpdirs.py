"""Process-scoped scratch directories for operators that materialize
intermediate files (sink roundtrips, state tables, streaming
sources/checkpoints, stored indexes).

The rule: a fixture derived from a corpus file (replay batches, a
partitioned copy, a stored index) goes through
``engine.tables.fixture_dir``, which builds it in a scratch dir once per
file identity; per-call scratch goes through ``scratch_dir``. This is the
only engine module that picks a temp location: no other module calls
``gettempdir()``, builds a fixed ``/tmp`` path, or calls ``mkdtemp``
without a ``dir=`` inside a directory it already owns
(``tests/test_corpus_memo.py::test_scratch_location_decided_only_in_tmpdirs``).

``scratch_dir(prefix)`` is a drop-in mkdtemp, so every call gets its own
directory: a plan a key returned stays readable after the key runs again
(``tests/test_catalogops.py::test_plan_stays_readable_after_rerun``).
Dirs live for the PROCESS lifetime — required, because operators return
LAZY DataFrames that resolve their files at execution time, so removal
any earlier than exit could break a plan the caller hasn't collected yet —
and one atexit sweep removes everything. The one exception is a dir that
no returned plan can read: ``drop_scratch`` removes it at once (a
finished stream's checkpoint, ``engine.streaming.run_stream``).
Everything else goes in the sweep
(``test_scratch_dirs_removed_at_process_exit``). Scratch dirs are
per-process by construction (mkdtemp), so exit-time removal cannot race
another process.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

_SCRATCH: list[str] = []


def scratch_dir(prefix: str) -> str:
    """mkdtemp registered for one process-exit rmtree."""
    d = tempfile.mkdtemp(prefix=prefix)
    _SCRATCH.append(d)
    return d


# A Unix socket path holds at most 107 bytes (sun_path, less its NUL).
# Spark names each Python worker socket "<dir>/.<uuid4>.sock", 43 bytes
# past its directory.
_SUN_PATH = 107
_SOCKET_NAME = 43


def socket_dir() -> str:
    """Scratch dir for Spark's Python worker sockets, short enough that
    every socket path in it fits sun_path: in the temp dir when that is
    short enough, else under /tmp. Removed at exit like every scratch dir."""
    prefix = "sg-sock-"
    base = tempfile.gettempdir()
    # mkdtemp appends 8 random characters to the prefix
    if len(os.path.join(base, prefix + "x" * 8)) + _SOCKET_NAME > _SUN_PATH:
        base = "/tmp"
    d = tempfile.mkdtemp(prefix=prefix, dir=base)
    _SCRATCH.append(d)
    return d


def drop_scratch(d: str) -> None:
    """Remove a scratch dir now, for a caller that knows no plan reads it."""
    _SCRATCH.remove(d)
    shutil.rmtree(d, ignore_errors=True)


@atexit.register
def _cleanup_scratch() -> None:
    for d in _SCRATCH:
        shutil.rmtree(d, ignore_errors=True)
