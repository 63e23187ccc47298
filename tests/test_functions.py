"""Unit parity for the byte-level scalar functions (SURVEY.md §5.1)."""

from __future__ import annotations

import pytest

from storage_crawler_spark.functions.owners import find_owner, parse_owners_file
from storage_crawler_spark.functions.paths import find_extension, pg_escape_bytea


# Expected values derived from the reference semantics (storcrawl.py:259-268):
# scan i in range(-min(len,7), len) returning path[i+1:] at the first dot.
@pytest.mark.parametrize(
    "path,expected",
    [
        (b"/a/b/file.txt", b"txt"),
        (b"/a/b/file.tar.gz", b"tar.gz"),  # dot at -7 wins
        (b"/a/b/archive.tarball", b"tarball"),  # tail has no dot; fall-through finds '.'
        (b"no_dot_here", None),
        (b"/a.dir/noext", b"dir/noext"),  # fall-through quirk
        # trailing dot: the negative scan can't see it (path[-1:0] is empty);
        # the positive rescan finds it and returns the empty suffix
        (b"/a/b/x.", b""),
        (b".hidden", b"hidden"),
        (b"a.b", b"b"),  # short path: chrs = len
        (b"", None),
        (b"/d/.hidden.conf", b"conf"),  # first dot within the last 7 bytes is '.conf''s
    ],
)
def test_find_extension_matches_reference_semantics(path, expected):
    # independently recompute with a literal transcription of the semantics
    def ref(path, L=6):
        if not path:
            return None
        chrs = min(len(path), L + 1)
        for i in range(-chrs, len(path)):
            if path[i : i + 1] == b".":
                return path[i + 1 :]
        return None

    assert ref(path) == expected  # guard: our expectation is itself right
    assert find_extension(path) == expected


def test_find_extension_respects_length_knob():
    assert find_extension(b"file.abcdefgh", extension_length=6) == b"abcdefgh"
    # tail of 3+1 bytes has no dot; fall-through rescans from the start
    assert find_extension(b"file.abcdefgh", extension_length=3) == b"abcdefgh"
    assert find_extension(b"nodot", extension_length=3) is None


def test_pg_escape_bytea():
    assert pg_escape_bytea(b"plain/ascii_1.txt") == "plain/ascii_1.txt"
    assert pg_escape_bytea(b"back\\slash") == "back\\\\slash"
    assert pg_escape_bytea(b"caf\xe9") == "caf\\351"
    assert pg_escape_bytea(b"\x00\x1f\x7f") == "\\000\\037\\177"
    assert pg_escape_bytea(None) is None


def test_parse_owners_first_wins_and_skiplist():
    lines = [
        "alice=/data/a:/data/b",
        "bob=/data/b:/data/c",  # /data/b duplicate → alice keeps it
        "carol=Nothing:/data/d",  # Nothing is in SKIP_LIST
        "",
    ]
    owners = parse_owners_file(lines)
    assert owners[b"/data/a"] == "alice"
    assert owners[b"/data/b"] == "alice"
    assert owners[b"/data/c"] == "bob"
    assert owners[b"/data/d"] == "carol"
    assert b"Nothing" not in owners


def test_find_owner_deepest_ancestor_wins():
    owners = {b"/data": "root_owner", b"/data/proj": "deep_owner"}
    assert find_owner(b"/data/proj/sub/file.txt", owners) == "deep_owner"
    assert find_owner(b"/data/other/file.txt", owners) == "root_owner"
    assert find_owner(b"/elsewhere/x", owners) is None
    assert find_owner(b"/data/proj", owners) == "deep_owner"  # path itself checked first
    assert find_owner(b"/", {b"/": "slash"}) == "slash"
    assert find_owner(b"/x", {}) is None


def test_spark_extension_and_escape_cols(spark):
    from pyspark.sql import functions as F

    from storage_crawler_spark.functions.paths import extension_col, mode_bits_col, pg_escape_col

    rows = [(b"/a/b/file.tar.gz",), (b"no_dot",), (b"/a.dir/noext",), (b"caf\xe9.dat",)]
    df = spark.createDataFrame(rows, "path binary")
    out = (
        df.withColumn("ext", extension_col(F.col("path")))
        .withColumn("esc", pg_escape_col(F.col("path")))
        .collect()
    )
    got = {bytes(r.path): (bytes(r.ext) if r.ext is not None else None, r.esc) for r in out}
    assert got[b"/a/b/file.tar.gz"][0] == b"tar.gz"
    assert got[b"no_dot"][0] is None
    assert got[b"/a.dir/noext"][0] == b"dir/noext"
    assert got[b"caf\xe9.dat"] == (b"dat", "caf\\351.dat")

    mode = spark.createDataFrame([(0o100644,)], "m long").select(
        mode_bits_col(F.col("m")).alias("bits")
    )
    assert mode.first().bits == "{0:019b}".format(0o100644)


def test_owner_join_deepest_match(spark):
    """Regression: matched ancestors must rank before unmatched ones — the
    deepest ancestor (the path itself) is rarely in the dim, and must not
    win rank 1 with a NULL owner."""
    from storage_crawler_spark.functions.owners import find_owner, owner_join

    rows = [
        (1, b"/data/src3/doc_9"),
        (2, b"/data/v1.0/src1/doc_2"),
        (3, b"/archive/src2/x"),
        (4, b"/other/y"),
        (5, b"/data/src3/\xff.bin"),  # not UTF-8
    ]
    owners = {b"/data/src3": "own_src3", b"/data": "datakeeper", b"/archive": "archivist"}
    files = spark.createDataFrame(rows, "id LONG, path BINARY")
    dim = spark.createDataFrame(list(owners.items()), "dir BINARY, owner STRING")
    out = {r.id: r.owner for r in owner_join(files, dim).collect()}
    assert out == {1: "own_src3", 2: "datakeeper", 3: "archivist", 4: None, 5: "own_src3"}
    assert out == {i: find_owner(p, owners) for i, p in rows}
