"""Output checks, kept free of Spark so tests can drive them directly.

Each ``check_*`` returns a list of problems; an empty list means the
operation's output is correct.  Expected values never come from the code
under test, except the two pure per-path functions (``find_extension``,
``find_owner``) that the crawl's columnar UDFs must agree with.
"""

from __future__ import annotations

import datetime as _dt
import decimal


def canon(v) -> str:
    """One cell as text, comparable across Spark rows, DuckDB rows and
    Python-built rows.  Floats keep 12 significant digits, because an
    average may differ in the last place between engines."""
    if v is None:
        return "None"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        return f"{v:.12g}"
    if isinstance(v, decimal.Decimal):
        return f"Decimal:{v}"
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "b:" + bytes(v).hex()
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat(" ")
    return str(v)


def canon_rows(rows) -> list[tuple[str, ...]]:
    return sorted(tuple(canon(v) for v in row) for row in rows)


def check_rows(got, want, what: str) -> list[str]:
    """Same multiset of rows, cells compared through :func:`canon`."""
    g, w = canon_rows(got), canon_rows(want)
    if len(g) != len(w):
        return [f"{what}: {len(g)} rows, expected {len(w)}"]
    for a, b in zip(g, w):
        if a != b:
            return [f"{what}: row {a} differs from expected {b}"]
    return []


def check_order(rows, key, what: str, descending: bool = False) -> list[str]:
    keys = [key(r) for r in rows]
    pairs = zip(keys, keys[1:])
    bad = any((a < b) if descending else (a > b) for a, b in pairs)
    return [f"{what}: rows out of order"] if bad else []


# --------------------------------------------------------------------------
# crawl_tree
# --------------------------------------------------------------------------


def check_crawl(
    lake: dict[str, list],
    manifest: dict[bytes, tuple[str, int]],
    root: bytes,
    owners: dict[bytes, str],
) -> list[str]:
    """Compare the written ``files`` table (column lists) with the
    generator's manifest: the exact path set, no ``.snapshot`` children,
    the symlinked directory not descended, sizes of regular files, and the
    extension and owner of every row."""
    from storage_crawler_spark.functions.owners import find_owner
    from storage_crawler_spark.functions.paths import find_extension

    problems = []
    want = {root: ("dir", 0)}
    want.update({root + b"/" + p: v for p, v in manifest.items()})
    paths = [bytes(p) for p in lake["path"]]
    if len(paths) != len(want):
        problems.append(f"crawl: {len(paths)} rows, expected {len(want)}")
    got = set(paths)
    if len(got) != len(paths):
        problems.append("crawl: duplicate paths")
    missing, extra = len(set(want) - got), len(got - set(want))
    if missing or extra:
        problems.append(f"crawl: {missing} paths missing, {extra} unexpected")
    links = [p for p, (k, _) in want.items() if k == "link"]
    if any(b"/.snapshot/" in p for p in got):
        problems.append("crawl: .snapshot children were crawled")
    if any(p.startswith(lk + b"/") for lk in links for p in got):
        problems.append("crawl: a symlinked directory was descended")
    bad_ext = bad_owner = bad_size = 0
    for p, ext, owner, size in zip(paths, lake["extension"], lake["owner"], lake["st_size"]):
        if (bytes(ext) if ext is not None else None) != find_extension(p, 6):
            bad_ext += 1
        if owner != find_owner(p, owners):
            bad_owner += 1
        kind, want_size = want.get(p, ("dir", 0))
        if kind == "file" and size != want_size:
            bad_size += 1
    for n, what in ((bad_ext, "extension"), (bad_owner, "owner"), (bad_size, "st_size")):
        if n:
            problems.append(f"crawl: {n} rows with a wrong {what}")
    return problems


# --------------------------------------------------------------------------
# registry_ops
# --------------------------------------------------------------------------


def check_registry(name: str, rows, cols, expected: dict) -> list[str]:
    """``expected`` holds ``rows`` and, for entries with a DuckDB oracle,
    the oracle's ``hash`` under tools/check_oracle.py's normalisation."""
    if len(rows) != expected["rows"]:
        return [f"{name}: {len(rows)} rows, expected {expected['rows']}"]
    if "hash" in expected:
        from tools.check_oracle import value_hash

        got = value_hash([tuple(r) for r in rows], list(cols))
        if got != expected["hash"]:
            return [f"{name}: value hash {got}, oracle {expected['hash']}"]
    return []
