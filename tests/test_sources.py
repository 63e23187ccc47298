"""Sources/sinks tests: lake round-trip, JDBC DDL parity, binaryFile scan."""

from __future__ import annotations

import os

import pytest

from storage_crawler_spark.config import CrawlConfig
from storage_crawler_spark.crawl import crawl
from storage_crawler_spark.sources import (
    drop_tag,
    files_table_ddl,
    list_tags,
    read_binary_tree,
    read_files,
    read_status,
    reporting_user_ddl,
    schema_lifecycle_ddl,
    status_table_ddl,
    write_crawl,
)


@pytest.fixture()
def small_tree(tmp_path):
    (tmp_path / "a").mkdir()
    (tmp_path / "a" / "x.txt").write_text("hello")
    (tmp_path / "a" / "y.tar.gz").write_bytes(b"\x00\x01")
    (tmp_path / "b").mkdir()
    (tmp_path / "b" / "z").write_text("no extension")
    return str(tmp_path)


def test_lake_round_trip(spark, small_tree, tmp_path):
    lake_root = str(tmp_path / "lake")
    result = crawl(spark, CrawlConfig(dirs=[small_tree]))
    write_crawl(result, lake_root, tag="t1", target_partitions=2)

    files = read_files(spark, lake_root, "t1")
    assert files.count() == result.files.count()
    assert set(files.columns) == set(result.files.columns)
    # paths survive byte-exact
    orig = sorted(r.path for r in result.files.select("path").collect())
    back = sorted(r.path for r in files.select("path").collect())
    assert orig == back

    status = read_status(spark, lake_root, "t1")
    assert status.filter("status = 'begin'").count() == 1

    assert list_tags(lake_root) == ["t1"]
    assert drop_tag(lake_root, "t1") is True
    assert list_tags(lake_root) == []
    assert drop_tag(lake_root, "t1") is False


def test_lake_append_status(spark, small_tree, tmp_path):
    from storage_crawler_spark.reports import status_brief

    lake_root = str(tmp_path / "lake")
    first = crawl(spark, CrawlConfig(dirs=[small_tree]))
    write_crawl(first, lake_root, tag="t2", target_partitions=1)
    result = crawl(spark, CrawlConfig(dirs=[small_tree]))
    write_crawl(result, lake_root, tag="t2", target_partitions=1)  # re-run
    # files overwritten, status appended (append-only event log)
    assert read_files(spark, lake_root, "t2").count() == result.files.count()
    status = read_status(spark, lake_root, "t2")
    assert status.filter("status = 'begin'").count() == 2
    # ids continue across appends (the reference's SERIAL key), so the
    # latest-per-status report sees one row per status, from the re-run
    n = result.status.count()
    assert status.select("id").distinct().count() == status.count() == 2 * n
    brief = sorted(tuple(r) for r in status_brief(status).collect())
    assert len(brief) == n
    assert brief == sorted(tuple(r) for r in status_brief(result.status).collect())


def test_append_status_reads_ids_from_footers(spark, tmp_path):
    """Appending to an existing tag continues its ids with the largest id
    read from the parquet footers: the append runs only its write job."""
    import uuid

    from storage_crawler_spark.crawl.pipeline import status_rows
    from storage_crawler_spark.sources.lake import append_status

    lake_root = str(tmp_path / "lake")
    events = [(1.0, "begin", None, "event"), (2.0, "end", None, "event")]
    append_status(status_rows(spark, events), lake_root, "ft")
    sc = spark.sparkContext
    group = f"append-{uuid.uuid4().hex}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        append_status(status_rows(spark, events), lake_root, "ft")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1  # the write
    ids = sorted(r.id for r in read_status(spark, lake_root, "ft").collect())
    assert ids == [0, 1, 2, 3]


def test_jdbc_ddl_parity():
    ddl = files_table_ddl("mytag")
    assert ddl.startswith("CREATE TABLE storcrawl_mytag.files")
    # reference column types survive the StructType rendering
    for fragment in (
        "id SERIAL",
        "path bytea NOT NULL",
        "extension bytea",
        "st_mode bit(19) NOT NULL",
        "st_dev text",
        "st_size bigint",
        "insert_time timestamp with time zone NOT NULL",
        "owner text",
    ):
        assert fragment in ddl, f"missing: {fragment}"

    sddl = status_table_ddl("mytag")
    assert "storcrawl_mytag.status" in sddl and "id SERIAL" in sddl

    seq = schema_lifecycle_ddl("mytag")
    assert seq[0] == "DROP SCHEMA IF EXISTS storcrawl_mytag CASCADE"
    assert seq[1] == "CREATE SCHEMA storcrawl_mytag"

    grants = reporting_user_ddl("mytag", "report_user", "pw")
    assert any(g.startswith("CREATE USER report_user") for g in grants)
    assert any("GRANT SELECT ON ALL TABLES" in g for g in grants)


def test_merge_snapshot_subtree_recrawl(spark, tmp_path):
    """merge_snapshot(old, recrawl(subtree)) must equal a fresh full crawl
    after the filesystem changed: updates update, new files appear, deleted
    files disappear, untouched subtrees pass through; out-of-scope rows in
    the new snapshot are rejected."""
    from storage_crawler_spark.sources.lake import merge_snapshot

    root = tmp_path / "tree"
    (root / "hot").mkdir(parents=True)
    (root / "cold").mkdir()
    (root / "hot" / "a.txt").write_text("v1")
    (root / "hot" / "gone.txt").write_text("x")
    (root / "cold" / "keep.txt").write_text("keep")

    old = crawl(spark, CrawlConfig(dirs=[str(root)])).files.localCheckpoint()

    (root / "hot" / "a.txt").write_text("v2-longer")  # changed
    (root / "hot" / "gone.txt").unlink()  # deleted
    (root / "hot" / "new.txt").write_text("brand new")  # added

    hot = str(root / "hot")
    new = crawl(spark, CrawlConfig(dirs=[hot])).files.localCheckpoint()
    merged = merge_snapshot(old, new, [hot.encode()])

    fresh = crawl(spark, CrawlConfig(dirs=[str(root)])).files
    got = {bytes(r.path): r.st_size for r in merged.collect()}
    want = {bytes(r.path): r.st_size for r in fresh.collect()}
    assert got == want

    with pytest.raises(ValueError, match="outside the re-crawled roots"):
        merge_snapshot(old, new, [str(root / "cold").encode()])


def test_snapshot_diff_added_removed_changed(spark, tmp_path):
    """Diff of two crawls reports exactly the churn: added/removed/changed
    with size deltas; untouched paths never appear."""
    import time

    from storage_crawler_spark.sources.lake import snapshot_diff

    root = tmp_path / "t"
    root.mkdir()
    (root / "stay.txt").write_text("same")
    (root / "grow.txt").write_text("aa")
    (root / "die.txt").write_text("bye")

    old = crawl(spark, CrawlConfig(dirs=[str(root)])).files.localCheckpoint()
    time.sleep(1.1)  # mtime resolution: the change must tick the clock
    (root / "grow.txt").write_text("aaaaaaaa")
    (root / "die.txt").unlink()
    (root / "born.txt").write_text("hello!")
    new = crawl(spark, CrawlConfig(dirs=[str(root)])).files

    rows = {bytes(r.path): r for r in snapshot_diff(old, new).collect()}
    b = lambda name: str(root / name).encode()  # noqa: E731
    assert set(rows) >= {b("grow.txt"), b("die.txt"), b("born.txt")}
    assert b("stay.txt") not in rows
    assert rows[b("grow.txt")].status == "changed" and rows[b("grow.txt")].size_delta == 6
    assert rows[b("die.txt")].status == "removed" and rows[b("die.txt")].size_delta == -3
    assert rows[b("born.txt")].status == "added" and rows[b("born.txt")].size_delta == 6


def test_jdbc_write_round_trip_embedded_derby(spark, small_tree, tmp_path):
    """Runtime verification of the JDBC sink mechanics (executor-parallel
    batched INSERTs, type mapping, schema-qualified table) against the
    embedded Derby database Spark ships for its metastore — no server
    needed.  Postgres-specific DDL stays covered by test_jdbc_ddl_parity;
    this proves the DataFrameWriter.jdbc data path actually executes."""
    import glob

    from storage_crawler_spark.sources.jdbc import write_files_jdbc

    if not glob.glob("/opt/spark/jars/derby*.jar"):
        pytest.skip("no embedded Derby on the Spark classpath")

    res = crawl(spark, CrawlConfig(dirs=[small_tree]))
    url = f"jdbc:derby:{tmp_path}/derbydb;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    write_files_jdbc(res.files, url, tag="jt", properties=props)

    back = spark.read.jdbc(url, "storcrawl_jt.files", properties=props)
    assert back.count() == res.files.count()
    want = {bytes(r.path): r.st_size for r in res.files.collect()}
    got = {bytes(r.path): r.st_size for r in back.collect()}
    assert got == want  # byte-faithful paths + sizes through JDBC and back


def test_binary_files_scan(spark, small_tree):
    df = read_binary_tree(spark, small_tree, recursive=True)
    rows = {bytes(r.path).decode(): r for r in df.collect()}
    # only regular files (binaryFile hides directories)
    names = {os.path.basename(p) for p in rows}
    assert names == {"x.txt", "y.tar.gz", "z"}
    x = next(r for p, r in rows.items() if p.endswith("x.txt"))
    assert bytes(x.content) == b"hello"
    assert x.st_size == 5

    # column pruning path: no content column requested
    no_content = read_binary_tree(spark, small_tree, with_content=False)
    assert "content" not in no_content.columns
    assert no_content.count() == 3

    # glob filter pushdown
    only_txt = read_binary_tree(spark, small_tree, glob="*.txt")
    assert only_txt.count() == 1


# -- fsmeta Python Data Source (sources/fsmeta.py) --------------------------


@pytest.fixture()
def fsmeta_tree(tmp_path):
    """Deeper tree than small_tree so the planner's BFS actually expands a
    spine (regression: expanded spine dirs must still emit their own rows)."""
    root = tmp_path / "tree"
    (root / "a" / "b" / "c").mkdir(parents=True)
    (root / ".snapshot" / "hidden").mkdir(parents=True)
    (root / "d").mkdir()
    for i in range(5):
        (root / "a" / f"f{i}.txt").write_text("x" * (i * 1000))
    (root / "a" / "b" / "c" / "deep.tar.gz").write_text("y" * 5000)
    os.symlink(str(root / "a"), str(root / "link_to_a"))
    bad = os.fsdecode(str(root).encode() + b"/\xff\xfebad")
    os.mkdir(bad)
    with open(os.path.join(bad, "nm"), "w") as fh:
        fh.write("z")
    return str(root)


def test_fsmeta_matches_crawl_pipeline(spark, fsmeta_tree):
    from storage_crawler_spark.sources.fsmeta import register_fsmeta

    register_fsmeta(spark)
    # partitions > subtree count forces full BFS expansion of the spine
    df = spark.read.format("fsmeta").option("partitions", "16").load(fsmeta_tree)
    rows = df.collect()
    paths = sorted(bytes(r.path) for r in rows)

    res = crawl(spark, CrawlConfig(dirs=[fsmeta_tree]))
    crawled = {bytes(r.path): r for r in res.files.collect()}
    assert paths == sorted(crawled)  # same entry set as the crawl plane
    # ...and the same record per entry: both planes build rows with the
    # walker's row builders (st_atime left out: scanning reads dirs)
    for r in rows:
        c = crawled[bytes(r.path)]
        assert int(c.st_mode, 2) == r.st_mode_int, r.path
        assert c.st_dev == str(r.st_dev), r.path
        for col in ("st_ino", "st_nlink", "st_uid", "st_gid", "st_size", "st_mtime", "st_ctime"):
            assert c[col] == r[col], (r.path, col)

    by_path = {bytes(r.path): r for r in rows}
    snap = next(p for p in paths if p.endswith(b"/.snapshot"))
    assert by_path[snap].is_dir  # excluded dir emitted...
    assert not any(b"hidden" in p for p in paths)  # ...but not descended
    assert sum(1 for r in rows if r.is_symlink) == 1  # symlink emitted, not followed
    assert any(b"\xff\xfebad/nm" in p for p in paths)  # non-UTF-8 fidelity


def test_fsmeta_filter_pushdown(spark, fsmeta_tree):
    from storage_crawler_spark.sources.fsmeta import register_fsmeta

    register_fsmeta(spark)
    df = spark.read.format("fsmeta").load(fsmeta_tree)
    flt = df.filter("st_size >= 3000 AND NOT is_dir AND NOT is_symlink")
    names = sorted(os.path.basename(bytes(r.path)).decode() for r in flt.collect())
    assert names == ["deep.tar.gz", "f3.txt", "f4.txt"]
    # the size comparison was consumed by the source: the post-scan Filter
    # node must not re-evaluate st_size
    plan = flt._jdf.queryExecution().executedPlan().toString()
    filter_lines = [l for l in plan.splitlines() if "Filter " in l]
    assert filter_lines and all("st_size" not in l for l in filter_lines)


def test_fsmeta_pushfilters_split():
    from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual, StringStartsWith

    from storage_crawler_spark.sources.fsmeta import FsMetaReader

    r = FsMetaReader({"path": "/tmp"})
    leftover = list(
        r.pushFilters(
            [
                GreaterThanOrEqual(("st_size",), 100),   # pushable
                EqualTo(("is_dir",), False),             # pushable
                StringStartsWith(("error",), "x"),       # not pushable
                EqualTo(("path",), b"/tmp/a"),           # not pushable (binary col)
            ]
        )
    )
    assert len(leftover) == 2
    assert {c for c, _, _ in r.pushed} == {"st_size", "is_dir"}
    # predicate compiles and rejects NULL stat cells
    pred = r._row_pred()
    null_rec = (b"/p", False, False) + (None,) * 10 + ("err",)
    assert not pred(null_rec)


def test_fsmeta_unreadable_root(spark):
    from storage_crawler_spark.sources.fsmeta import register_fsmeta

    register_fsmeta(spark)
    df = spark.read.format("fsmeta").load("/nonexistent_fsmeta_root")
    rows = df.collect()
    assert len(rows) == 1 and rows[0].error is not None
    assert rows[0].st_size is None


def test_fsmeta_streaming_incremental(spark, tmp_path):
    import time

    from storage_crawler_spark.sources.fsmeta import register_fsmeta

    register_fsmeta(spark)
    root = tmp_path / "tree"
    (root / "a").mkdir(parents=True)
    for i in range(3):
        (root / "a" / f"f{i}.txt").write_text("x" * 100)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def run_batch():
        s = spark.readStream.format("fsmeta").load(str(root))
        q = (
            s.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    time.sleep(2.2)  # age the writes past the 2 s watermark slack
    run_batch()
    assert spark.read.parquet(out).count() == 5  # root, a, f0..f2

    (root / "a" / "new.txt").write_text("y")
    time.sleep(2.2)
    run_batch()
    rows = spark.read.parquet(out).collect()
    names = sorted(os.path.basename(bytes(r.path)).decode() for r in rows)
    # batch 2 emits exactly the changed entries: new.txt and its parent dir
    # (whose mtime the create bumped) — nothing else is re-emitted
    assert names.count("new.txt") == 1
    assert names.count("a") == 2
    assert names.count("f0.txt") == 1
    assert len(rows) == 7


def test_snapshot_diff_null_stat_rows(spark):
    """lstat-error rows (all-null st_*) must classify by PRESENCE, not stat
    nullness: a path in both snapshots with null size is not 'added'; a
    null→value stat transition is 'changed'; null→null is 'same' (dropped)."""
    from storage_crawler_spark.sources.lake import snapshot_diff

    schema = "path BINARY, st_size LONG, st_mtime LONG"
    old = spark.createDataFrame(
        [
            (b"/t/errboth", None, None),   # lstat failed in both crawls
            (b"/t/errold", None, None),    # stat appeared in new crawl
            (b"/t/errnew", 7, 1000),       # stat disappeared in new crawl
            (b"/t/plain", 5, 1000),        # unchanged control
        ],
        schema,
    )
    new = spark.createDataFrame(
        [
            (b"/t/errboth", None, None),
            (b"/t/errold", 9, 2000),
            (b"/t/errnew", None, None),
            (b"/t/plain", 5, 1000),
            (b"/t/fresh", None, None),     # genuinely added, stat failed
        ],
        schema,
    )
    rows = {bytes(r.path): r for r in snapshot_diff(old, new).collect()}
    assert {p: r.status for p, r in rows.items()} == {
        b"/t/errold": "changed",
        b"/t/errnew": "changed",
        b"/t/fresh": "added",
    }


def test_ingest_formats_round_trip_adversarial_text(spark, tmp_path):
    """JSONL and CSV ingestion must be byte-faithful on the texts that break
    naive readers: embedded newlines, the delimiter, double quotes,
    backslashes, unicode, the empty string, and NULL — with empty-vs-NULL
    preserved as distinct states (the default ""-as-NULL CSV convention
    would corrupt the empty text)."""
    import pandas as pd

    from storage_crawler_spark.sources.ingest import (
        fidelity_fingerprint,
        read_documents_csv,
        read_documents_jsonl,
        read_documents_orc,
    )

    texts = [
        "plain words",
        "comma, inside",
        'quote " inside',
        "new\nline",
        "back\\slash",
        "tab\tinside",
        "unicode é 日本 🙂",
        "",            # empty string — must NOT become NULL
        None,          # NULL — must NOT become ''
        '"',
        "\n",
    ]
    rows = [
        (i, t, ["en", "fr", None][i % 3], f"s{i%2}", len(t) if t is not None else None)
        for i, t in enumerate(texts)
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source", "n_chars"])
    # a None in n_chars floats the column in pandas; the real table is int64
    pdf["n_chars"] = pdf["n_chars"].astype("Int64")
    sf_dir = tmp_path / "adv"
    sf_dir.mkdir()
    pdf.to_parquet(str(sf_dir / "documents.parquet"), index=False)

    base = {
        r.doc_id: r.text
        for r in spark.read.parquet(str(sf_dir / "documents.parquet")).collect()
    }
    for reader in (read_documents_jsonl, read_documents_csv, read_documents_orc):
        got = {r.doc_id: r.text for r in reader(spark, str(sf_dir)).collect()}
        assert got == base, reader.__name__

    # and the registry-facing fingerprint agrees across formats
    def rows(df):
        return sorted(
            (tuple(r) for r in df.collect()),
            key=lambda t: (t[0] is not None, t[0] or ""),
        )

    fp_parquet = rows(
        fidelity_fingerprint(spark.read.parquet(str(sf_dir / "documents.parquet")))
    )
    for reader in (read_documents_jsonl, read_documents_csv, read_documents_orc):
        assert rows(fidelity_fingerprint(reader(spark, str(sf_dir)))) == fp_parquet, reader.__name__


def test_registry_path_projections_read_non_utf8_paths(spark, tmp_path):
    """lake_snapshot_diff and fsmeta_scan project BINARY paths to strings;
    a non-UTF-8 byte becomes U+FFFD instead of failing the query."""
    from storage_crawler_spark.plans.registry import _fsmeta_names, _snapshot_diff_rows
    from storage_crawler_spark.sources.fsmeta import register_fsmeta

    schema = "path BINARY, st_size LONG, st_mtime LONG"
    old = spark.createDataFrame([(b"/t/\xff.bin", 1, 10)], schema)
    new = spark.createDataFrame([(b"/t/\xff.bin", 2, 10)], schema)
    rows = _snapshot_diff_rows(old, new).collect()
    assert [(r.path_str, r.status, r.size_delta) for r in rows] == [("/t/�.bin", "changed", 1)]

    with open(bytes(tmp_path) + b"/\xff.bin", "wb") as fh:
        fh.write(b"abc")
    register_fsmeta(spark)
    listing = spark.read.format("fsmeta").load(str(tmp_path))
    assert [tuple(r) for r in _fsmeta_names(listing).collect()] == [("�.bin", 3)]
