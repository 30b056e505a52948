"""The one crash-recoverable commit for every table the engine rewrites.

A writer calls :func:`recover` first, writes the table's complete next
state to the fixed sibling :func:`next_path` (``<path>__next``), then
:func:`swap` renames ``<path>`` -> ``<path>__old`` and ``__next`` ->
``<path>`` (the commit point) and removes ``__old``. Fixed names make
the state after a crash decidable from the listing alone:

    (a) after __next is written   <path> + __next  -> drop __next (old rows)
    (b) between the two renames   __old + __next   -> restore __next (new)
    (c) before __old is removed   <path> + __old   -> drop __old (new rows)

:func:`recover` must never run between the ``__next`` write and the
swap. Readers that can run before the next writer call it too. Pointer,
marker and single-file appends commit through :func:`write_text_atomic`.
Every rename goes through :func:`_rename`, the protocol's one fault
point.
"""

from __future__ import annotations

import os
import shutil


def _rename(src: str, dst: str) -> None:
    os.replace(src, dst)  # atomic on POSIX; fails onto a non-empty dir


def next_path(path: str) -> str:
    return path + "__next"


def swap(path: str) -> None:
    """Commit ``next_path(path)`` as ``path`` (a new table when ``path``
    does not exist yet)."""
    old = path + "__old"
    if os.path.isdir(path):
        _rename(path, old)
    _rename(next_path(path), path)
    shutil.rmtree(old, ignore_errors=True)


def recover(path: str) -> None:
    """Heal ``path`` after a crash anywhere inside a commit. A missing
    target is restored from ``__next`` when its write completed (Spark's
    ``_SUCCESS`` marker; a first write that crashed mid-write must not
    be served), else from ``__old``; leftover siblings are dropped."""
    nxt, old = next_path(path), path + "__old"
    if not os.path.isdir(path):
        if os.path.exists(os.path.join(nxt, "_SUCCESS")):
            _rename(nxt, path)
        elif os.path.isdir(old):
            _rename(old, path)
    for p in (nxt, old):
        shutil.rmtree(p, ignore_errors=True)


def write_text_atomic(path: str, data: str | bytes) -> None:
    """Replace the file ``path`` with ``data`` (text or bytes): readers
    see the old content or the new, never a partial file. The temp
    file's name starts with ``.``, which Spark's listing skips, so one
    a crash leaves behind in a table directory is never read as data."""
    head, tail = os.path.split(path)
    tmp = os.path.join(head, f".{tail}.tmp")
    with open(tmp, "wb" if isinstance(data, bytes) else "w") as f:
        f.write(data)
    _rename(tmp, path)
