#!/usr/bin/env python
"""Crawl-plane shape probes (r13 verdict item 7): the 1M-entry rate is
hot-page-cache and shallow (depth <= 3), so this tool records the two
missing datapoints beside it, in the reference's metric vocabulary
(entries/sec — storcrawl.py:503-505 definitions):

- COLD-cache 1M-entry crawl (drops the page cache via
  /proc/sys/vm/drop_caches when writable, else reports hot-only) plus a
  paired hot re-run in the same session;
- a 10k-DEEP chain (build: tools snippet in the r14 notes; 1-char dir
  names, created with relative mkdirs so the chain extends PAST the
  PATH_MAX wall at ~level 2030): exercises the driver split, which follows
  a chain level by level (up to ``walker.MAX_DRIVER_SCANS`` scandirs), and
  the graceful ENAMETOOLONG wall — the crawl must terminate and emit
  exactly the OS-reachable prefix;
- a 100k-WIDE fan-out dir: one directory holding 100k files + 1k
  subdirs, the single-scandir-stream skew case.

Each shape carries a parity check against an independent os.scandir
reference walk (same semantics: lstat, never follow symlinks).

Usage: python tools/bench_crawl_shapes.py [--out FILE]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_TREE_1M = "/root/repo/.localdata/crawltree1m"
_CHAIN = "/root/repo/.localdata/crawlchain10k"
_WIDE = "/root/repo/.localdata/crawlwide100k"


def _ref_walk_count(root: str) -> int:
    """Independent reference walk: every entry reachable via absolute-path
    scandir (the crawl's own access method), root excluded (the crawl
    emits a root row; callers add 1)."""
    n = 0
    stack = [root]
    while stack:
        d = stack.pop()
        try:
            it = os.scandir(d)
        except OSError:
            continue
        with it:
            for e in it:
                n += 1
                try:
                    if e.is_dir(follow_symlinks=False):
                        stack.append(e.path)
                except OSError:
                    pass
    return n


def _drop_caches() -> bool:
    try:
        os.sync()
        with open("/proc/sys/vm/drop_caches", "w") as fh:
            fh.write("3\n")
        return True
    except OSError:
        return False


def _crawl_once(spark, tree: str):
    from storage_crawler_spark.config import CrawlConfig
    from storage_crawler_spark.crawl import crawl

    t0 = time.monotonic()
    res = crawl(spark, CrawlConfig(dirs=[tree]))
    n = res.files.count()
    dt = time.monotonic() - t0
    return n, dt, res.summary


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    from storage_crawler_spark.session import build_session

    spark = build_session(app_name="bench-crawl-shapes")
    spark.range(1000).selectExpr("sum(id)").collect()  # warm JVM/workers

    out: dict = {"metric": "crawl_shape_probes", "unit": "entries/sec"}

    # --- deep chain ------------------------------------------------------
    if os.path.isdir(_CHAIN):
        ref = _ref_walk_count(_CHAIN)
        n, dt, summary = _crawl_once(spark, _CHAIN)
        out["chain10k"] = {
            "tree": _CHAIN,
            "ref_walk_entries": ref,
            "entries_walked": n,
            "parity": n == ref + 1,  # + the root row
            "crawl_sec": round(dt, 2),
            "walk_rate": round(n / dt, 1),
            "depth": summary["depth"],
            "note": "chain extends past PATH_MAX; crawl must wall "
            "gracefully at the same entry the reference walk does",
        }
        print("chain10k:", out["chain10k"], file=sys.stderr)

    # --- wide fan-out ----------------------------------------------------
    if os.path.isdir(_WIDE):
        ref = _ref_walk_count(_WIDE)
        n, dt, summary = _crawl_once(spark, _WIDE)
        out["wide100k"] = {
            "tree": _WIDE,
            "ref_walk_entries": ref,
            "entries_walked": n,
            "parity": n == ref + 1,
            "crawl_sec": round(dt, 2),
            "walk_rate": round(n / dt, 1),
        }
        print("wide100k:", out["wide100k"], file=sys.stderr)

    # --- 1M tree: cold then hot -----------------------------------------
    if os.path.isdir(_TREE_1M):
        cold_ok = _drop_caches()
        n, dt, _ = _crawl_once(spark, _TREE_1M)
        key = "tree1m_cold" if cold_ok else "tree1m_first"
        out[key] = {
            "tree": _TREE_1M,
            "cache_dropped": cold_ok,
            "entries_walked": n,
            "crawl_sec": round(dt, 2),
            "walk_rate": round(n / dt, 1),
        }
        n2, dt2, _ = _crawl_once(spark, _TREE_1M)
        out["tree1m_hot"] = {
            "entries_walked": n2,
            "crawl_sec": round(dt2, 2),
            "walk_rate": round(n2 / dt2, 1),
        }
        print(key, out[key], "hot", out["tree1m_hot"], file=sys.stderr)

    line = json.dumps(out)
    print(line)
    if args.out:
        with open(args.out, "w") as fh:
            fh.write(line + "\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
