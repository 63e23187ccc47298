"""Path-derived scalar functions with byte-faithful reference semantics.

The reference derives an *extension* from each path with a quirky scan
(storcrawl.py:259-268) and renders ``bytea`` values with PostgreSQL's
``ENCODE(x, 'escape')`` in its report output (report.py:182).  Both are
re-implemented here from the observed behavior:

``find_extension(path, L=6)`` — scan ``i in range(-min(len, L+1), len)``
for a dot; return everything after it.  Consequences we reproduce exactly:

* the first dot within the last ``L+1`` bytes wins ("file.tar.gz" → "tar.gz");
* a dot at the very LAST byte is invisible to the negative scan
  (``path[-1:0]`` is empty), so it is only found by the positive rescan and
  yields an empty (b"") extension;
* if the tail has no dot the scan falls through to positive indices and
  rescans the whole path from the start, so a dotted *directory* component
  yields nonsense like "/a.dir/noext" → "dir/noext";
* no dot anywhere → None.

Both crawls call ``find_extension`` inside the walker kernel, on the path
bytes it already holds (``crawl.walker``).  ``extension_col`` wraps it as a
vectorized pandas UDF column for ad-hoc DataFrames of paths, and
`extension_sql_case` in plans/ mirrors the same semantics as a pure
Catalyst expression for clean-ASCII paths.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, StringType


def find_extension(path: bytes | None, extension_length: int = 6) -> bytes | None:
    """Byte-faithful extension derivation (behavior of storcrawl.py:259-268)."""
    if path is None:
        return None
    chrs = min(len(path), extension_length + 1)
    for i in range(-chrs, len(path)):
        if path[i : i + 1] == b".":
            return path[i + 1 :]
    return None


def pg_escape_bytea(raw: bytes | None) -> str | None:
    """PostgreSQL ``ENCODE(bytea, 'escape')``: printable ASCII passes through,
    backslash doubles, everything else becomes ``\\nnn`` octal (report.py:182
    relies on this rendering for path/extension columns)."""
    if raw is None:
        return None
    out = []
    for b in raw:
        if b == 0x5C:  # backslash
            out.append("\\\\")
        elif 0x20 <= b <= 0x7E:
            out.append(chr(b))
        else:
            out.append("\\%03o" % b)
    return "".join(out)


@F.pandas_udf(BinaryType())
def extension_udf(paths: pd.Series) -> pd.Series:
    return paths.map(lambda p: find_extension(p, 6))


def extension_col(path: Column) -> Column:
    """Extension as a Column (Arrow-vectorized pandas UDF over binary paths,
    the default extension length of 6)."""
    return extension_udf(path)


@F.pandas_udf(StringType())
def pg_escape_udf(raw: pd.Series) -> pd.Series:
    return raw.map(pg_escape_bytea)


def pg_escape_col(raw: Column) -> Column:
    """``ENCODE(bytea,'escape')`` as a Column.  ``F.decode(c,'UTF-8')`` only
    matches for clean printable-ASCII values; this UDF is exact for any bytes."""
    return pg_escape_udf(raw)


def path_str_col(path: Column) -> Column:
    """A BINARY path as a string for string operations: bytes that are not
    UTF-8 become U+FFFD, where ``F.decode`` raises MALFORMED_CHARACTER_CODING."""
    return F.make_valid_utf8(path.cast("string"))


def mode_bits_col(st_mode_int: Column) -> Column:
    """st_mode → 19-char '0'/'1' string, the reference's bit(19) encoding
    ("{0:019b}".format(st_mode), storcrawl.py:361) — pure Catalyst expression,
    stays inside whole-stage codegen."""
    return F.lpad(F.bin(st_mode_int), 19, "0")
