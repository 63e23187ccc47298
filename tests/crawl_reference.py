"""An independent reference walk for crawl tests: plain ``os.scandir`` +
``os.lstat``, level by level, with the reference's semantics (every entry
emitted; a real directory descended unless its name is excluded; symlinks
never followed; a root descended whenever it is a real directory)."""

from __future__ import annotations

import os
import stat


def reference_walk(root, exclude=(b".snapshot",)) -> dict[bytes, tuple[os.stat_result, int]]:
    """``{path: (lstat result, depth below root)}`` for every entry a crawl
    of ``root`` must emit, the root itself at depth 0."""
    root = os.fsencode(root)
    st = os.lstat(root)
    out = {root: (st, 0)}
    frontier = [root] if stat.S_ISDIR(st.st_mode) else []
    level = 0
    while frontier:
        level += 1
        nxt = []
        for d in frontier:
            for entry in os.scandir(d):
                st = os.lstat(entry.path)
                out[entry.path] = (st, level)
                if stat.S_ISDIR(st.st_mode) and entry.name not in exclude:
                    nxt.append(entry.path)
        frontier = nxt
    return out
