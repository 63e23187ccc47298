"""The workloads, one per plane of the engine.

Each is a closed loop with one caller.  A workload prepares its seeded
input (untimed, cached), warms up, then runs timed passes.  Every call
into a layer sits inside a ``tracer.span`` named ``<layer>.<call>``; the
layers are the package's modules.  Outputs are checked after each pass,
outside the timed region.

* ``crawl_tree``  — crawl, functions, sources (write) and a sliver of reports.
* ``registry_ops`` — plans and operators, with no crawl and no lake.
"""

from __future__ import annotations

import os

import checks
import gen
import measure

LAKE_TAG = "bench"


class _Recorder:
    """Stands in for a DataFrame passed to ``reports.render`` and keeps the
    rows the renderer streams, so the rendered result can be checked
    without running the query a second time."""

    def __init__(self, df):
        self._df = df
        self.streamed: list | None = None

    def __getattr__(self, name):
        return getattr(self._df, name)

    def toLocalIterator(self, *args, **kwargs):  # noqa: N802 — DataFrame API
        self.streamed = []
        for row in self._df.toLocalIterator(*args, **kwargs):
            self.streamed.append(row)
            yield row

    def rows(self) -> list:
        """The rendered rows; collected again (outside any timing) only if
        the renderer did not stream them."""
        return self.streamed if self.streamed is not None else self._df.collect()


def render(tr, df) -> _Recorder:
    """Render ``df`` as CSV through the CLI's renderer."""
    from storage_crawler_spark.reports.render import to_csv_lines

    rec = _Recorder(df)
    with tr.span("reports.render") as sp:
        "\n".join(to_csv_lines(rec))
    if sp is not None:
        sp["df"] = df
    return rec


class Workload:
    name = ""

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.cache = os.path.join(work, "cache")

    def prepare(self) -> float:
        """Generate the seeded inputs; returns seconds spent."""
        return 0.0

    def reset(self, spark) -> None:
        """Untimed work before each pass."""

    def run_pass(self, spark, tr) -> dict:
        raise NotImplementedError

    def check(self, spark, out: dict) -> tuple[int, list[str]]:
        """(operations attempted, problems) for one pass's output."""
        raise NotImplementedError

    def entries(self, out: dict) -> int:
        raise NotImplementedError

    def probe(self, spark, tr, out: dict) -> dict[str, float]:
        """Traced-run-only measurements after the traced pass ``out``;
        returns the per-layer numbers only the workload knows."""
        return {}


# --------------------------------------------------------------------------
# crawl_tree
# --------------------------------------------------------------------------

class CrawlTree(Workload):
    """crawl.crawl -> sources.write_crawl -> reports.status_brief."""

    name = "crawl_tree"

    def prepare(self) -> float:
        self.tree, gen_s = gen.make_tree(self.cache, self.seed)
        self.lake = os.path.join(self.work, "lake-crawl")
        return gen_s

    def reset(self, spark) -> None:
        from storage_crawler_spark.sources import drop_tag

        drop_tag(self.lake, LAKE_TAG)

    def run_pass(self, spark, tr) -> dict:
        from storage_crawler_spark.config import CrawlConfig
        from storage_crawler_spark.crawl import crawl
        from storage_crawler_spark.reports import status_brief
        from storage_crawler_spark.sources import read_status, write_crawl

        cfg = CrawlConfig(
            dirs=[os.path.join(self.tree, "root")],
            owners=os.path.join(self.tree, "owners.txt"),
            tag=LAKE_TAG,
        )
        with tr.span("crawl.crawl"):
            res = crawl(spark, cfg)
        with tr.span("sources.write_crawl"):
            write_crawl(res, self.lake, tag=LAKE_TAG)
        with tr.span("sources.read_status"):
            status = read_status(spark, self.lake, LAKE_TAG)
        with tr.span("reports.status_brief"):
            brief = render(tr, status_brief(status))
        return {"result": res, "brief": brief}

    def _owners(self) -> dict[bytes, str]:
        from storage_crawler_spark.functions.owners import parse_owners_file

        with open(os.path.join(self.tree, "owners.txt")) as fh:
            return parse_owners_file(fh)

    def entries(self, out: dict) -> int:
        return int(out["result"].summary["files"])

    def check(self, spark, out: dict) -> tuple[int, list[str]]:
        import duckdb
        import pyarrow.parquet as pq

        tag_dir = os.path.join(self.lake, f"storcrawl_{LAKE_TAG}")
        table = pq.read_table(
            os.path.join(tag_dir, "files"), columns=["path", "extension", "owner", "st_size"]
        ).to_pydict()
        with open(os.path.join(self.tree, "manifest.bin"), "rb") as fh:
            manifest = gen.parse_manifest(fh.read())
        root = os.path.join(self.tree, "root").encode()
        problems = checks.check_crawl(table, manifest, root, self._owners())
        if self.entries(out) != len(table["path"]):
            problems.append(f"write: {len(table['path'])} rows, crawl counted {self.entries(out)}")
        con = duckdb.connect()
        want = con.execute(
            "SELECT date_trunc('second', time), status, value, units "
            f"FROM read_parquet('{tag_dir}/status/*.parquet') s "
            "WHERE id IN (SELECT max(id) FROM read_parquet("
            f"'{tag_dir}/status/*.parquet') GROUP BY status)"
        ).fetchall()
        con.close()
        rows = [tuple(r) for r in out["brief"].rows()]
        problems += checks.check_rows(rows, want, "status_brief")
        problems += checks.check_order(rows, lambda r: r[0], "status_brief")
        return 3, problems

    def probe(self, spark, tr, out: dict) -> dict[str, float]:
        """functions.enrich: the crawl's three derived columns over the
        crawled paths, forced by an aggregate the plan cannot prune; plus
        the crawl's own counts and the size of what the pass wrote."""
        from pyspark.sql import functions as F

        from storage_crawler_spark.functions import extension_col, mode_bits_col, owner_col

        owners = self._owners()
        paths = out["result"].files.select("path", "st_ino")
        with tr.span("functions.enrich") as sp:
            df = paths.select(
                extension_col(F.col("path")).alias("e"),
                owner_col(spark, F.col("path"), owners).alias("o"),
                mode_bits_col(F.col("st_ino")).alias("m"),
            ).agg(F.count("e"), F.count("o"), F.max("m"))
            df.collect()
        sp["df"] = df
        summary = out["result"].summary
        written, n_files = measure.dir_bytes(
            os.path.join(self.lake, f"storcrawl_{LAKE_TAG}", "files"))
        return {
            "crawl.levels": summary["depth"],
            "crawl.entries": summary["files"],
            "sources.write_bytes": written,
            "sources.files_written": n_files,
        }


# --------------------------------------------------------------------------
# registry_ops
# --------------------------------------------------------------------------

# A copy of the repository's fixed sf0.01 tables (TESTDATA.md: seed 42,
# read-only), so the benchmark reads nothing outside its checkout.  The
# seed does not change them.
TABLES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")


def registry_entries() -> list[str]:
    """bench.py's 9 headline entries.  Its tier-2 entries are left out: one
    pass over them costs more than the whole run budget allows."""
    from storage_crawler_spark.plans.registry import headline_queries

    return list(headline_queries())


class RegistryOps(Workload):
    """The registry entries that bench.py names, over the fixed tables."""

    name = "registry_ops"
    # The engine's process-global fit memos (the k-means fit memo and the
    # shared kNN edges) are filled only by tier-2 entries.
    isolation = ("the 9 headline entries use no fit memo, so no timed pass can "
                 "reuse one filled by an earlier pass; warm-up runs on the timed tables")

    def prepare(self) -> float:
        self.names = registry_entries()
        self.sf_dir = TABLES
        self._expected = None
        return 0.0

    def run_pass(self, spark, tr) -> dict:
        from storage_crawler_spark.plans.registry import QUERIES

        out = {}
        for name in self.names:
            spark.catalog.clearCache()  # each entry pays its own persists
            with tr.span(f"ops.{name}"):
                try:
                    with tr.span("plans.build") as sp:
                        c0 = measure.tree_cpu_seconds() if sp is not None else 0.0
                        df = QUERIES[name].builder(spark, self.sf_dir)
                        if sp is not None:
                            sp["cpu_s"] = measure.tree_cpu_seconds() - c0
                    with tr.span("operators.action") as sp:
                        rows = df.collect()
                    if sp is not None:
                        sp["df"] = df
                    out[name] = (rows, df.columns)
                except Exception as exc:  # noqa: BLE001 — a failed entry is a failed operation
                    out[name] = exc
        spark.catalog.clearCache()
        return out

    def entries(self, out: dict) -> int:
        return len(self.names)

    def expected(self) -> dict:
        """Oracle answers: each entry's DuckDB oracle over the same tables,
        hashed with tools/check_oracle.py's normalisation."""
        if self._expected is not None:
            return self._expected
        import duckdb

        from storage_crawler_spark.plans.registry import QUERIES
        from storage_crawler_spark.plans.views import BASE_TABLES
        from tools.check_oracle import value_hash

        con = duckdb.connect()
        for t in BASE_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
        self._expected = {}
        for name in self.names:
            tbl = con.execute(QUERIES[name].oracle).fetch_arrow_table()
            rows = [tuple(tbl.column(i)[r].as_py() for i in range(tbl.num_columns))
                    for r in range(tbl.num_rows)]
            self._expected[name] = {"rows": len(rows), "hash": value_hash(rows, tbl.column_names)}
        con.close()
        return self._expected

    def check(self, spark, out: dict) -> tuple[int, list[str]]:
        exp = self.expected()
        problems = []
        for name in self.names:
            got = out[name]
            if isinstance(got, Exception):
                problems.append(f"{name}: {type(got).__name__}: {str(got)[:200]}")
            else:
                problems += checks.check_registry(name, got[0], got[1], exp[name])
        return len(self.names), problems


WORKLOADS = {w.name: w for w in (CrawlTree, RegistryOps)}
