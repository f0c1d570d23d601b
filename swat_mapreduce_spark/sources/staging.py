"""Staged fixtures: read-only parquet a query writes once per process
and then reuses (the sentinel-padded event replay, the corpus LSH
index, the probe stream's batch files).

Each fixture lives in its own temporary directory, removed at exit.
``clear_staged`` forgets them all, so the next use builds afresh;
bench calls it before each query, so a query's recorded work includes
the fixtures it uses whatever ran before it.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from typing import Callable

_STAGED: dict[tuple[str, str], str] = {}


def staged_dir(name: str, sf_dir: str, build: Callable[[str], None]) -> str:
    """The directory of fixture ``name`` for ``sf_dir``: on first use
    in this process (or after ``clear_staged``) a fresh temporary
    directory that ``build(root)`` fills, afterwards the same one."""
    root = _STAGED.get((name, sf_dir))
    if root is not None and os.path.isdir(root):
        return root
    root = tempfile.mkdtemp(prefix=f"swat_{name}_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    build(root)
    _STAGED[(name, sf_dir)] = root
    return root


def clear_staged() -> None:
    """Delete every staged fixture; the next use of each builds it."""
    for root in _STAGED.values():
        shutil.rmtree(root, ignore_errors=True)
    _STAGED.clear()
