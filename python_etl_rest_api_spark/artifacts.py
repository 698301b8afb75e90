"""Build-once store for per-corpus disk artifacts.

Some catalog entries serve from an artifact derived from their corpus:
the shared ANN index, the incremental-dedup band index, the ORC and
JSONL rewrites, the bucketed layout. Each is built once per
(kind, sf_dir) per process and every later call serves from it, so a
sweep, a bench loop or a REST service pays the corpus-sized build once.
The testdata corpora are immutable, so an artifact cannot go stale
within a process; a ``valid`` check covers state that lives outside the
directory (catalog tables that die with their session).

``build_once(kind, sf_dir, build, valid=, drop=)``:

- one lock per key: concurrent callers of one key build it once, and a
  slow build never blocks another key;
- ``build(path)`` gets a fresh ``mkdtemp`` directory (mode 0700), writes
  the artifact under it and returns what the serving entry needs;
- if ``build`` raises, the store calls ``drop(path)``, removes the
  directory and stores nothing, so the next call builds afresh;
- if ``valid(path)`` is False for a stored artifact, the store drops and
  removes it and builds again in a fresh directory;
- every artifact directory is removed at interpreter exit.

``drop(path)`` undoes what ``build`` registered outside ``path``
(catalog tables); it is best-effort, and its errors are swallowed so the
directory is removed regardless.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile
import threading
import time
from dataclasses import dataclass
from typing import Any, Callable

# kind -> the catalog entry that serves from it (bench.py times each
# kind's build and warm serve through this entry)
KINDS = {
    "ann_index": "sim_ann_index_srp_serve",
    "band_index": "dedup_incremental_index",
    "orc_orders": "source_orc_roundtrip",
    "jsonl_events": "source_json_roundtrip",
    "bucketed_layout": "layout_bucketed_join",
}


@dataclass
class _Slot:
    path: str
    value: Any
    drop: Callable[[str], None] | None
    build_s: float


_SLOTS: dict[tuple[str, str], _Slot] = {}
_KEY_LOCKS: dict[tuple[str, str], threading.Lock] = {}
_LOCK = threading.Lock()  # guards _KEY_LOCKS


def _key_lock(key: tuple[str, str]) -> threading.Lock:
    with _LOCK:
        return _KEY_LOCKS.setdefault(key, threading.Lock())


def _discard(path: str, drop: Callable[[str], None] | None) -> None:
    if drop is not None:
        try:
            drop(path)
        except Exception:
            pass
    shutil.rmtree(path, ignore_errors=True)


def build_once(kind: str, sf_dir: str, build: Callable[[str], Any], *,
               valid: Callable[[str], bool] | None = None,
               drop: Callable[[str], None] | None = None) -> Any:
    """The artifact ``kind`` of corpus ``sf_dir``: built by
    ``build(path)`` on first use (or after ``valid`` rejects the stored
    one), then served from the store. Returns ``build``'s value."""
    key = (kind, sf_dir)
    with _key_lock(key):
        slot = _SLOTS.get(key)
        if slot is not None and valid is not None and not valid(slot.path):
            del _SLOTS[key]
            _discard(slot.path, slot.drop)
            slot = None
        if slot is None:
            path = tempfile.mkdtemp(prefix=f"{kind}_")
            t0 = time.perf_counter()
            try:
                value = build(path)
            except BaseException:
                _discard(path, drop)
                raise
            slot = _SLOTS[key] = _Slot(path, value, drop,
                                       time.perf_counter() - t0)
        return slot.value


def build_seconds(kind: str, sf_dir: str) -> float | None:
    """Wall seconds the stored artifact took to build (None if none)."""
    slot = _SLOTS.get((kind, sf_dir))
    return None if slot is None else slot.build_s


def reset(kind: str, sf_dir: str) -> None:
    """Drop and remove the stored artifact, so the next call builds."""
    key = (kind, sf_dir)
    with _key_lock(key):
        slot = _SLOTS.pop(key, None)
        if slot is not None:
            _discard(slot.path, slot.drop)


@atexit.register
def _remove_all() -> None:
    for slot in list(_SLOTS.values()):
        shutil.rmtree(slot.path, ignore_errors=True)
