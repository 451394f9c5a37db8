"""Crash-safe directory swap: the one on-disk commit of every epoch
fold and of the parquet repair executor.

A writer stages its new image at ``<live>_next`` (``stage``), then
commits it with ``promote``: park the live dir at ``<live>_prev``,
rename the staged dir to ``<live>``, drop the parked one. Renames are
atomic on a local/posix fs, and files the staged image hardlinks
from the parked one survive the drop.

A crash can stop the sequence at any step. ``committed`` repairs what
it leaves: with ``<live>`` missing and ``<live>_prev`` present (a crash
between park and promote), the parked image is the last committed one
and is renamed back. Rolling back is always right: the epoch marker
(``_EPOCH``) lives inside the dir, so the old image carries the old
marker and the replayed epoch folds once more. A stale ``_next`` is
cleared by the next ``stage``; a stale ``_prev`` beside a live dir by
the next ``promote``.

On an object store the same commit becomes a table-format transaction
(Delta/Iceberg); callers' staging and marker logic carry over."""

from __future__ import annotations

import os
import shutil

MARKER = "_EPOCH"


def committed(live: str) -> str | None:
    """``live`` after rolling back an interrupted promote, or ``None``
    when nothing was ever committed."""
    back = live + "_prev"
    if not os.path.exists(live) and os.path.exists(back):
        os.rename(back, live)
    return live if os.path.exists(live) else None


def stage(live: str) -> str:
    """An empty staging path for the next image of ``live``."""
    staged = live + "_next"
    shutil.rmtree(staged, ignore_errors=True)
    return staged


def promote(live: str, staged: str, marker: str | None = None) -> None:
    """Commit ``staged`` as ``live``: park, promote, drop. ``marker``,
    when given, is written inside the staged dir first, so data and
    marker commit by the same rename."""
    if marker is not None:
        with open(os.path.join(staged, MARKER), "w") as f:
            f.write(marker)
    back = live + "_prev"
    # roll back first: after a crash between park and promote, ``back``
    # is the only committed image and must not be cleared below
    if committed(live) is not None:
        shutil.rmtree(back, ignore_errors=True)
        os.rename(live, back)
    os.rename(staged, live)
    shutil.rmtree(back, ignore_errors=True)


def marker(live: str) -> str | None:
    """The epoch marker of the committed image of ``live``."""
    d = committed(live)
    if d is None:
        return None
    try:
        with open(os.path.join(d, MARKER)) as f:
            return f.read().strip()
    except OSError:
        return None
