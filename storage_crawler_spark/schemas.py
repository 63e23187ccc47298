"""Fixed StructType schemas for the engine's canonical tables.

Mirrors the reference's declared DDL (storcrawl.py:132-164) with the
normalized ``status`` model chosen in SURVEY.md §1.3: the reference's crawler
writes a jsonb blob its own reporter cannot query, so our canonical status
table is the normalized row shape the report queries need, with the raw
payload preserved as a JSON string column.
"""

from __future__ import annotations

from pyspark.sql import types as T

# One row per filesystem entry (files, dirs, symlinks — the walker emits
# every entry; reference behavior at storcrawl.py:473).
FILES_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("insert_time", T.TimestampType(), False),
        # Paths are bytes, not text: filesystems permit non-UTF-8 names
        # (reference stores bytea, storcrawl.py:137-138).
        T.StructField("path", T.BinaryType(), False),
        T.StructField("extension", T.BinaryType(), True),
        # 19-char '0'/'1' encoding of st_mode (reference bit(19),
        # storcrawl.py:361: "{0:019b}".format).
        T.StructField("st_mode", T.StringType(), False),
        T.StructField("st_ino", T.LongType(), True),
        T.StructField("st_dev", T.StringType(), True),
        T.StructField("st_nlink", T.IntegerType(), True),
        T.StructField("st_uid", T.LongType(), True),
        T.StructField("st_gid", T.LongType(), True),
        T.StructField("st_size", T.LongType(), True),
        # Epoch seconds, truncated toward zero (storcrawl.py:368-370).
        T.StructField("st_atime", T.LongType(), True),
        T.StructField("st_mtime", T.LongType(), True),
        T.StructField("st_ctime", T.LongType(), True),
        T.StructField("owner", T.StringType(), True),
    ]
)

# Intermediate schema produced by the walk+stat stage before id/insert_time
# are stamped (the in-flight record of storcrawl.py:440, columnar).
ENTRY_SCHEMA = T.StructType(
    [
        T.StructField("path", T.BinaryType(), False),
        T.StructField("is_dir", T.BooleanType(), False),
        T.StructField("is_symlink", T.BooleanType(), False),
        T.StructField("st_mode_int", T.LongType(), True),
        T.StructField("st_ino", T.LongType(), True),
        T.StructField("st_dev", T.LongType(), True),
        T.StructField("st_nlink", T.IntegerType(), True),
        T.StructField("st_uid", T.LongType(), True),
        T.StructField("st_gid", T.LongType(), True),
        T.StructField("st_size", T.LongType(), True),
        T.StructField("st_atime", T.LongType(), True),
        T.StructField("st_mtime", T.LongType(), True),
        T.StructField("st_ctime", T.LongType(), True),
        # NULL stat columns + error string on lstat failure: we deliberately
        # FIX the reference defect where a failed lstat silently reuses the
        # previous record's stat struct (storcrawl.py:427-440).
        T.StructField("error", T.StringType(), True),
    ]
)

# Normalized status/metrics log (SURVEY.md §1.3 design decision; column set
# from README.md:59-66, the shape report.py:118-159 actually queries).
STATUS_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("time", T.TimestampType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("units", T.StringType(), True),
        # Raw payload for fidelity with the crawler's jsonb entry
        # (storcrawl.py:157-159).
        T.StructField("entry", T.StringType(), True),
    ]
)
