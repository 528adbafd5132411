"""The one optimistic-commit seam every table format shares.

SnapshotTable, Delta, Iceberg and Hudi all commit the same way: stage
data files, then CLAIM the next log entry (``_log/<v>.json``,
``_delta_log/<v>.json``, ``metadata/v<N>.metadata.json``,
``.hoodie/<instant>.<action>``) put-if-absent; a loser reads what raced
and either rebases onto it or raises its format's conflict.

* :func:`claim` stages the entry in a unique temp file beside it and
  hard-links it to the final name (POSIX ``link`` fails with EEXIST
  when the name is taken; object stores run the same protocol through
  a conditional put). An entry appears whole or not at all — a writer
  dying mid-write leaves at most a ``.tmp-*`` file no reader lists.
* :func:`optimistic_commit` is the bounded attempt loop. Each format
  supplies only its attempt body (refresh, build, claim); on a lost
  claim the body raises its own conflict, or cleans up its attempt and
  returns :class:`Retry`. After :data:`COMMIT_ATTEMPTS` straight
  retries the last one's error is raised, so a livelock surfaces.

Conflict rules stay with the formats, as predicates at the call sites.
Driver-side file I/O only: the seam never runs a Spark job.
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Callable
from typing import IO

#: straight lost claims before a commit gives up (every format)
COMMIT_ATTEMPTS = 10


def claim(path: str, write: Callable[[IO[str]], object]) -> bool:
    """Create ``path`` holding the text ``write(f)`` puts in ``f``, only
    if it does not exist yet. True when this call created it; False when
    another writer had (its bytes untouched). The temp file never
    outlives the call."""
    tmp = os.path.join(os.path.dirname(path), f".tmp-{uuid.uuid4().hex}")
    try:
        with open(tmp, "w") as f:
            write(f)
        try:
            os.link(tmp, path)
        except FileExistsError:
            return False
        return True
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)


class Retry:
    """An attempt lost its claim to a commuting commit and cleaned up;
    ``error`` is raised if it was the last allowed attempt."""

    __slots__ = ("error",)

    def __init__(self, error: Exception):
        self.error = error


def optimistic_commit(attempt: Callable[[], object]):
    """Run ``attempt()`` until it returns anything but a :class:`Retry`
    (returned) or raises; after :data:`COMMIT_ATTEMPTS` retries, raise
    the last retry's error."""
    for _attempt in range(COMMIT_ATTEMPTS):
        out = attempt()
        if not isinstance(out, Retry):
            return out
    raise out.error
