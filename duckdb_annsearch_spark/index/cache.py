"""Process-level graph-index cache for executor python workers.

The reference keeps a global named-index registry
(``/root/reference/rust_lib/src/index_manager.rs:59-147``, a ``DashMap`` of
loaded indexes).  In Spark, each python worker process is long-lived across
tasks, so a module-level dict keyed by (artifact_path, mtime) gives the same
"load once, probe many" behavior; the mtime key invalidates after rebuilds.
On a real cluster the artifact path would be an object-store prefix fetched
once per executor.
"""

from __future__ import annotations

import os
from collections import OrderedDict
from typing import Any

# LRU-bounded: a worker that serves many shards/indexes over its lifetime
# must not accumulate every graph it ever touched (each entry can be a
# full in-memory graph).
_MAX_ENTRIES = 4
_CACHE: OrderedDict[tuple[str, float], Any] = OrderedDict()


def _dir_mtime(path: str) -> float:
    latest = os.path.getmtime(path)
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                latest = max(latest, os.path.getmtime(os.path.join(root, f)))
            except OSError:
                pass
    return latest


def get_or_load(path: str, loader) -> Any:
    key = (path, _dir_mtime(path))
    hit = _CACHE.get(key)
    if hit is None:
        # drop stale versions of the same path
        for k in [k for k in _CACHE if k[0] == path]:
            del _CACHE[k]
        hit = loader(path)
        _CACHE[key] = hit
        while len(_CACHE) > _MAX_ENTRIES:
            _CACHE.popitem(last=False)  # evict least-recently used
    else:
        _CACHE.move_to_end(key)
    return hit
