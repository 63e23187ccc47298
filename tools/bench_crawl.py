#!/usr/bin/env python
"""Crawl-plane scale bench (r11 verdict item 7): run the full
crawl → lake-write → report pipeline over a large REAL filesystem tree
and report throughput in the reference's own metric vocabulary
(BASELINE.md: file walk rate = entries/sec, file stat rate = files/sec,
total data volume TB — reference storcrawl.py:503-505, :641 definitions;
the reference publishes no values, so these are our self-anchor series).

The rate is the crawl's own (``res.summary``, the status rows of
crawl/pipeline.py): walk rate = files over the one walk job, which lists,
lstats and enriches in one fused pass, so the crawl's stat rate is the
same number and is not reported apart.

Usage: python tools/bench_crawl.py [--tree DIR] [--out FILE]
(default tree: the 100k-entry synthetic tree under .localdata/crawltree;
build it with the snippet in the r12 round notes if absent)
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _mutate_tree(tree: str, every: int = 100) -> tuple[set, int]:
    """Deterministic churn over the make_crawltree.py layout: in every
    ``every``-th second-level dir, modify 5 files, delete 3, add 2, and
    add one new subdir with a file.  Returns (expected mtime-stream entry
    set, dirs touched) — the exact contract of the small-scale parity
    test (tests/test_incremental_crawl.py::_mutate_tree)."""
    expect: set = set()
    touched = 0
    subs = []
    for a in sorted(os.listdir(tree)):
        pa = os.path.join(tree, a)
        if not os.path.isdir(pa):
            continue
        for b in sorted(os.listdir(pa)):
            subs.append(os.path.join(pa, b))
    for d in subs[::every]:
        touched += 1
        names = sorted(
            n for n in os.listdir(d) if os.path.isfile(os.path.join(d, n))
        )
        for n in names[:5]:  # modified
            p = os.path.join(d, n)
            with open(p, "wb") as fh:
                fh.write(b"y" * 321)
            expect.add(os.fsencode(p))
        for n in names[5:8]:  # deleted (surface via the bumped parent)
            os.unlink(os.path.join(d, n))
        for j in range(2):  # added
            p = os.path.join(d, f"new{j}.dat")
            with open(p, "wb") as fh:
                fh.write(b"z" * 77)
            expect.add(os.fsencode(p))
        sub = os.path.join(d, "subnew")
        os.makedirs(sub, exist_ok=True)
        p = os.path.join(sub, "s0.dat")
        with open(p, "wb") as fh:
            fh.write(b"s" * 11)
        expect.add(os.fsencode(p))
        expect.add(os.fsencode(sub))
        expect.add(os.fsencode(d))  # parent bumped by delete/add/mkdir
    return expect, touched


# Reference files-table columns stable across a merged lake and a fresh
# crawl of the same filesystem state (tests/test_incremental_crawl.py).
_STABLE_COLS = (
    "path, st_mode, st_nlink, st_uid, st_gid, st_size, st_mtime, st_ino, "
    "extension, owner"
)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tree", default="/root/repo/.localdata/crawltree")
    ap.add_argument("--out", default=None)
    ap.add_argument("--incremental", action="store_true",
                    help="after the full crawl: churn ~1%% of subtrees, "
                    "time the mtime-stream detect -> subtree re-crawl -> "
                    "merge_snapshot path, and assert EXCEPT parity vs a "
                    "fresh full crawl (MUTATES the tree)")
    args = ap.parse_args()

    from storage_crawler_spark.config import CrawlConfig
    from storage_crawler_spark.crawl import crawl
    from storage_crawler_spark.reports import queries as RQ
    from storage_crawler_spark.session import build_session
    from storage_crawler_spark.plans.dialect import SPARK

    spark = build_session(app_name="bench-crawl")
    # warm the JVM + python workers so the crawl timing measures the crawl
    spark.range(1000).selectExpr("sum(id)").collect()

    t0 = time.monotonic()
    res = crawl(spark, CrawlConfig(dirs=[args.tree]))
    n_entries = res.files.count()  # walked entries (files + dirs + links)
    crawl_s = time.monotonic() - t0

    # lake write (the reference's DB-insert stage analog)
    t1 = time.monotonic()
    lake_dir = "/root/repo/.localdata/crawl_lake"
    res.files.write.mode("overwrite").parquet(lake_dir)
    write_s = time.monotonic() - t1

    # report stage over the crawled relation (large_old_files shape)
    t2 = time.monotonic()
    spark.read.parquet(lake_dir).createOrReplaceTempView("files")
    n_report = spark.sql(
        "SELECT count(*) AS n FROM files WHERE st_size >= 0"
    ).collect()[0].n
    report_s = time.monotonic() - t2

    out = {
        "metric": "crawl_scale_run",
        "unit": "entries/sec",
        "tree": args.tree,
        "entries_walked": n_entries,
        "files": res.summary.get("files"),
        "dirs": res.summary.get("dirs"),
        "total_tb": res.summary.get("total_tb"),
        "crawl_sec": round(crawl_s, 2),
        "walk_sec": round(res.summary["walk_sec"], 2),
        "file_walk_rate": round(res.summary["files"] / res.summary["walk_sec"], 1),
        "lake_write_sec": round(write_s, 2),
        "insert_rate": round(n_entries / write_s, 1),
        "report_rows": n_report,
        "report_sec": round(report_s, 2),
    }
    if args.incremental:
        from storage_crawler_spark.sources.fsmeta import register_fsmeta
        from storage_crawler_spark.sources.lake import merge_snapshot

        register_fsmeta(spark)
        old = spark.read.parquet(lake_dir)
        t_mid = int(time.time())
        time.sleep(1.2)  # mtime margin: churn strictly after the watermark
        expect, dirs_touched = _mutate_tree(args.tree)

        # mtime-window streaming detection (one availableNow micro-batch)
        t3 = time.monotonic()
        det_out = "/root/repo/.localdata/crawl_detect"
        det_ckpt = "/root/repo/.localdata/crawl_detect_ckpt"
        import shutil

        shutil.rmtree(det_out, ignore_errors=True)
        shutil.rmtree(det_ckpt, ignore_errors=True)
        q = (
            spark.readStream.format("fsmeta")
            .option("start_mtime", str(t_mid))
            .option("slack_s", "0")
            .load(args.tree)
            .writeStream.format("parquet")
            .option("path", det_out)
            .option("checkpointLocation", det_ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(1800)
        streamed = {bytes(r.path) for r in spark.read.parquet(det_out).collect()}
        detect_s = time.monotonic() - t3
        assert streamed == expect, (
            f"detection mismatch: {len(streamed)} streamed vs "
            f"{len(expect)} expected"
        )

        # touched entries -> top-level subtrees -> batch re-crawl -> merge
        t4 = time.monotonic()
        rootb = os.fsencode(args.tree.rstrip("/"))
        tops = sorted(
            {rootb + b"/" + p[len(rootb) + 1:].split(b"/", 1)[0] for p in streamed}
        )
        new = crawl(
            spark, CrawlConfig(dirs=[os.fsdecode(t) for t in tops])
        ).files.localCheckpoint()
        merged = merge_snapshot(old, new, tops).localCheckpoint()
        n_merged = merged.count()
        merge_s = time.monotonic() - t4

        # ground truth: fresh full crawl; EXCEPT both ways on stable cols
        t5 = time.monotonic()
        fresh = crawl(spark, CrawlConfig(dirs=[args.tree])).files
        m_s = merged.selectExpr(*_STABLE_COLS.split(", "))
        f_s = fresh.selectExpr(*_STABLE_COLS.split(", "))
        fwd = m_s.exceptAll(f_s).count()
        bwd = f_s.exceptAll(m_s).count()
        parity_s = time.monotonic() - t5
        assert (fwd, bwd) == (0, 0), f"EXCEPT parity broken: {fwd}/{bwd}"

        out.update({
            "churn_dirs": dirs_touched,
            "churn_entries": len(expect),
            "detect_sec": round(detect_s, 2),
            "detect_emitted": len(streamed),
            "recrawl_merge_sec": round(merge_s, 2),
            "merged_rows": n_merged,
            "parity_except_counts": [fwd, bwd],
            "parity_check_sec": round(parity_s, 2),
        })

    line = json.dumps(out)
    print(line)
    if args.out:
        with open(args.out, "w") as f:
            f.write(line + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
