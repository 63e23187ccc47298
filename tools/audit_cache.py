#!/usr/bin/env python
"""Audit that every _persist_view relation is actually consumed from cache.

Measured on Spark 4.1.2: when a persisted relation's own plan contains a
WITH (most dialect generators do) AND a downstream query references the
view from inside another WITH, the analyzer's CTE merge renumbers CTE ids,
the canonicalized subtree no longer equals the cached plan, and the
relation silently recomputes per reference — exactly the recompute the
persist was added to prevent.  Plain FROM/subquery references always hit,
as do CTE-free cached plans in any position.  (Repro pinned in
tests/test_round10_additions.py::
test_cached_cte_view_inside_outer_with_is_not_replaced_probe.)

For each registry entry this tool counts every ``DataFrame.persist`` the
builder makes (through ``_persist_view`` or on a handle), builds the entry,
and compares the persists still live at its return against
InMemoryTableScan occurrences in the executed plan.  Entries that persist
but never scan cache are the bug class; they print as LOST.  A persist the
builder released before returning is build-scoped and not counted.
"""

from __future__ import annotations

import argparse
import sys

sys.path.insert(0, __import__("os").path.dirname(__import__("os").path.dirname(__import__("os").path.abspath(__file__))))


def _cached(df) -> bool:
    level = df.storageLevel
    return level.useMemory or level.useDisk


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("--only", default=None)
    args = ap.parse_args()

    # the session's DataFrame class (pyspark.sql.DataFrame is its abstract
    # parent; the classic class overrides persist)
    from pyspark.sql.classic.dataframe import DataFrame

    from storage_crawler_spark.plans import registry
    from storage_crawler_spark.session import build_session

    spark = build_session(master="local[4]", shuffle_partitions=4)

    persisted: list[DataFrame] = []
    checkpointed: list[str] = []
    real_df_persist = DataFrame.persist
    real_ckpt = registry._checkpoint_view

    def tracking_df_persist(self, *args, **kwargs):
        persisted.append(self)
        return real_df_persist(self, *args, **kwargs)

    def tracking_ckpt(df, name):
        checkpointed.append(name)
        return real_ckpt(df, name)

    DataFrame.persist = tracking_df_persist
    registry._checkpoint_view = tracking_ckpt

    names = list(registry.QUERIES) if not args.only else args.only.split(",")
    lost, ok, nopersist, skipped = [], [], [], []
    for name in names:
        persisted.clear()
        checkpointed.clear()
        spec = registry.QUERIES[name]
        try:
            df = spec.builder(spark, args.sf)
            plan = df._jdf.queryExecution().executedPlan().toString()
            # a persist the builder released itself is build-scoped; read
            # before clearCache wipes the state
            n_persist = sum(1 for pdf in persisted if _cached(pdf))
        except Exception as exc:  # noqa: BLE001
            skipped.append((name, str(exc).splitlines()[0][:100]))
            continue
        finally:
            spark.catalog.clearCache()
        n_imts = plan.count("InMemoryTableScan")
        n_ckpt = len(checkpointed)
        n_rdd = plan.count("Scan ExistingRDD")
        if n_ckpt and n_rdd == 0:
            lost.append((name, n_ckpt))
            print(f"LOST {name}: {n_ckpt} checkpointed view(s), 0 ExistingRDD scans")
        elif n_persist == 0 and n_ckpt == 0:
            nopersist.append(name)
        elif n_persist and n_imts == 0:
            lost.append((name, n_persist))
            print(f"LOST {name}: {n_persist} persisted relation(s), 0 InMemoryTableScan")
        else:
            ok.append((name, n_persist, n_imts))
            print(
                f"ok   {name}: {n_persist} persisted / {n_imts} cache scans, "
                f"{n_ckpt} checkpointed / {n_rdd} rdd scans"
            )
    print(
        f"\n{len(ok)} entries consume their persists from cache, "
        f"{len(lost)} LOSE the cache, {len(nopersist)} persist nothing, "
        f"{len(skipped)} skipped"
    )
    for name, err in skipped:
        print(f"skip {name}: {err}")
    spark.stop()
    return 1 if lost else 0


if __name__ == "__main__":
    sys.exit(main())
