"""Folder-owner dimension: parsing + deepest-ancestor lookup.

The reference loads an ``owner=dir1:dir2:...`` map file into a dict and, for
every statted path, walks ``dirname()`` upward returning the first (deepest)
mapped ancestor (storcrawl.py:219-256).  Both crawls call ``find_owner``
inside the walker kernel (``crawl.walker``), with the small owner map
(thousands of dirs) in the kernel's closure: O(depth) dict probes per path,
no shuffle, no second pass.  Two column functions remain for ad-hoc
DataFrames of paths:

1. **Broadcast dict + pandas UDF** (`owner_col`) — broadcast the map once
   and do the same upward walk per path in an Arrow-vectorized batch.
2. **Pure-DataFrame longest-prefix join** (`owner_join`) — explode each path
   into its ancestor prefixes, broadcast-join against the dimension, keep the
   longest matching prefix per path.  Fully declarative (Catalyst prunes and
   broadcasts), kept as the semantics oracle for ``find_owner`` and for the
   case of an owner dimension too large to broadcast.
"""

from __future__ import annotations

import os
from typing import Iterable

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

# Entries the reference hard-skips while parsing (storcrawl.py:223).
SKIP_LIST = (b"Nothing", b"netapp->thorium-a.fhcrc.org")


def parse_owners_file(lines: Iterable[str]) -> dict[bytes, str]:
    """Parse ``owner=dir1:dir2:...`` lines; first mapping of a dir wins
    (duplicate dirs are logged-and-ignored in the reference,
    storcrawl.py:238-241)."""
    owners: dict[bytes, str] = {}
    for raw_line in lines:
        line = raw_line.strip()
        if not line:
            continue
        owner, _, dirs = line.partition("=")
        if not dirs:
            continue
        for d in dirs.split(":"):
            key = d.encode()
            if key in SKIP_LIST or key in owners:
                continue
            owners[key] = owner
    return owners


def find_owner(path: bytes | None, owners: dict[bytes, str]) -> str | None:
    """Deepest mapped ancestor wins; the path itself is checked first, then
    each ``dirname`` up to ``/`` (behavior of storcrawl.py:245-256)."""
    if path is None or not owners:
        return None
    cur = path
    while True:
        hit = owners.get(cur)
        if hit is not None:
            return hit
        if cur in (b"/", b"", b"."):
            return None
        nxt = os.path.dirname(cur)
        if nxt == cur:
            return None
        cur = nxt


def owner_col(spark: SparkSession, path: Column, owners: dict[bytes, str]) -> Column:
    """Ancestor-walk owner lookup as a vectorized pandas UDF over a broadcast
    of the (small) owner map."""
    if not owners:
        return F.lit(None).cast(StringType())
    bc = spark.sparkContext.broadcast(owners)

    @F.pandas_udf(StringType())
    def _owner(paths: pd.Series) -> pd.Series:
        mapping = bc.value
        return paths.map(lambda p: find_owner(p, mapping))

    return _owner(path)


def read_owners_df(spark: SparkSession, owners_path: str) -> DataFrame:
    """Owners file → 2-column dimension DataFrame (dir BINARY, owner STRING).

    Declarative equivalent of the reference's init_owners: read lines, split
    on the first '=', explode the ':'-separated dir list, drop SKIP_LIST
    entries, keep the first mapping per dir (file order)."""
    lines = spark.read.text(owners_path)
    parsed = (
        lines.withColumn("line", F.trim("value"))
        .filter((F.length("line") > 0) & F.col("line").contains("="))
        .withColumn("owner", F.substring_index("line", "=", 1))
        .withColumn("dirs", F.expr("substring(line, length(substring_index(line, '=', 1)) + 2)"))
        .withColumn("dir_str", F.explode(F.split("dirs", ":")))
        .withColumn("dir", F.encode("dir_str", "UTF-8"))
        .withColumn("file_order", F.monotonically_increasing_id())
    )
    skip = [F.lit(s) for s in SKIP_LIST]
    parsed = parsed.filter(~F.col("dir").isin(*skip) if skip else F.lit(True))
    # first mapping wins on duplicates
    from pyspark.sql import Window

    w = Window.partitionBy("dir").orderBy("file_order")
    return (
        parsed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("dir", "owner")
    )


def owner_join(files: DataFrame, owners_dim: DataFrame, path_col: str = "path") -> DataFrame:
    """Longest-prefix (deepest-ancestor) join, fully declarative.

    Explodes each path into its ancestor chain (explode factor = path depth,
    bounded ~20), broadcast-joins the owner dimension (broadcast hash join —
    the join itself moves no fact rows), then collapses back to one row per
    path with a ``max_by(owner, (matched, depth))`` argmax aggregate.

    Matched ancestors rank before unmatched ones (otherwise the deepest
    ancestor — the path itself, rarely in the dim — would always win with a
    NULL owner); among matches the deepest wins; a path with no match at all
    keeps NULL owner (left-join semantics).

    Scale shape: the argmax is an algebraic aggregate, so it partial-combines
    map-side — the depth× explode factor collapses BEFORE the one shuffle,
    which then carries ~|files| pre-aggregated rows and needs no
    per-partition sort (round 1 used a ``row_number`` window here: same
    answer, but a full shuffle+sort of the exploded fact).  ``files`` must
    not already contain an ``owner`` column.

    Row preservation is strict left-join semantics: the collapse groups on
    a per-input-row key (NOT the path), so NULL paths and duplicate paths
    each keep their own output row with NULL/looked-up owner — grouping on
    the path collapsed duplicates and merged all NULL paths into one row,
    and ``explode`` (vs ``explode_outer``) dropped NULL paths entirely
    (both found by the randomized registry-entry parity sweep).

    Determinism precondition: ``__row_id`` comes from
    ``monotonically_increasing_id``, which is only stable when the upstream
    ``files`` plan is deterministic.  If ``files`` arrives through a shuffle
    with indeterminate row order (e.g. a repartition of a non-ordered
    relation), a task retry can re-key rows mid-aggregation.  Safe for the
    parquet-scan callers in this repo; pass a deterministic plan (scan,
    filtered scan, or a sorted relation) or pre-materialize otherwise.

    Paths are raw bytes and need not be UTF-8.  The ancestors are cut at
    the path's ``/`` bytes: ISO-8859-1 maps every byte to one character
    and back, so splitting the Latin-1 string at ``/`` and re-encoding
    yields the exact byte prefixes the dim is matched against."""
    decoded = files.withColumn("__row_id", F.monotonically_increasing_id()).withColumn(
        "__path_str", F.decode(F.col(path_col), "ISO-8859-1")
    )
    with_ancestors = decoded.withColumn(
        "__anc",
        F.explode_outer(
            F.expr(
                """
                transform(
                  sequence(1, size(split(__path_str, '/'))),
                  i -> case when i = 1 then '/'
                            else array_join(slice(split(__path_str, '/'), 1, i), '/')
                       end
                )
                """
            )
        ),
    ).withColumn("__anc_bytes", F.encode("__anc", "ISO-8859-1"))
    joined = with_ancestors.join(
        F.broadcast(owners_dim.withColumnRenamed("dir", "__dir")),
        F.col("__anc_bytes") == F.col("__dir"),
        "left",
    )
    rank = F.struct(
        F.col("__dir").isNotNull().cast("int").alias("matched"),
        F.length("__anc").alias("depth"),
    )
    return (
        joined.groupBy("__row_id")
        .agg(
            F.max_by(F.col("owner"), rank).alias("owner"),
            *[F.first(c).alias(c) for c in files.columns],
        )
        .select(*files.columns, "owner")
    )
