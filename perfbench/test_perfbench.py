"""Tests of the benchmark's own machinery (no Spark session needed).

    python -m pytest perfbench -q
"""

from __future__ import annotations

import datetime as dt
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402
import gen  # noqa: E402
import measure  # noqa: E402

SMALL_TREE = dict(gen.TREE_SHAPE, tops=4, dirs=8, files_max=20, wide=30, chain=5, snapshot=3)


def test_same_seed_gives_byte_identical_manifest():
    a = gen.tree_manifest(7, SMALL_TREE)
    assert a == gen.tree_manifest(7, SMALL_TREE)
    assert a != gen.tree_manifest(8, SMALL_TREE)


def test_entry_count_depends_on_shape_not_seed():
    counts = {len(gen.tree_manifest(s, SMALL_TREE).splitlines()) for s in range(5)}
    assert len(counts) == 1


def test_generated_tree_matches_manifest(tmp_path):
    tree, _ = gen.make_tree(str(tmp_path), 3, SMALL_TREE)
    root = os.path.join(tree, "root").encode()
    found = {}
    for dirpath, dirnames, filenames in os.walk(root):
        if os.path.basename(dirpath) == b".snapshot":
            dirnames[:] = []
        for name in dirnames + filenames:
            p = os.path.join(dirpath, name)
            found[p[len(root) + 1:]] = "link" if os.path.islink(p) else (
                "dir" if os.path.isdir(p) else "file")
    with open(os.path.join(tree, "manifest.bin"), "rb") as fh:
        manifest = gen.parse_manifest(fh.read())
    assert found == {p: k for p, (k, _) in manifest.items()}


def _span(i, parent, start, end):
    return {"id": i, "name": f"l{i}.x", "layer": f"l{i}", "parent": parent,
            "start": start, "end": end}


def test_self_times_subtract_child_coverage():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 6.0),  # overlaps span 1: covered once
        _span(3, 2, 4.0, 5.0),
        _span(4, 0, 8.0, 12.0),  # runs past its parent: clipped
    ]
    st = measure.self_times(spans)
    assert st == pytest.approx({0: 10.0 - 5.0 - 2.0, 1: 3.0, 2: 2.0, 3: 1.0, 4: 4.0})
    assert [s["id"] for s in measure.subtree(spans, 2)] == [2, 3]


def test_self_times_of_sequential_spans_sum_to_the_root():
    spans = [_span(0, None, 0.0, 10.0), _span(1, 0, 1.0, 4.0), _span(2, 1, 2.0, 3.0),
             _span(3, 0, 5.0, 9.5)]
    st = measure.self_times(spans)
    assert st == pytest.approx({0: 2.5, 1: 2.0, 2: 1.0, 3: 4.5})
    assert sum(st.values()) == pytest.approx(10.0)
    layers = measure.layer_self_times(spans)
    assert layers == pytest.approx({"l0": 2.5, "l1": 2.0, "l2": 1.0, "l3": 4.5})


# --------------------------------------------------------------------------
# every output check fails once its expected value is perturbed
# --------------------------------------------------------------------------


def _crawl_case():
    manifest = gen.parse_manifest(gen.tree_manifest(5, SMALL_TREE))
    recs, _, owners_text = gen.tree_spec(5, SMALL_TREE)
    root = b"/crawl/top"
    from storage_crawler_spark.functions.owners import find_owner, parse_owners_file
    from storage_crawler_spark.functions.paths import find_extension

    owners = parse_owners_file(owners_text.replace("@ROOT@", root.decode()).splitlines())
    paths = [root] + [root + b"/" + p for p in manifest]
    lake = {
        "path": paths,
        "extension": [find_extension(p, 6) for p in paths],
        "owner": [find_owner(p, owners) for p in paths],
        "st_size": [manifest.get(p[len(root) + 1:], ("dir", 0))[1] for p in paths],
    }
    return lake, manifest, root, owners


def test_crawl_check_passes_on_exact_output():
    lake, manifest, root, owners = _crawl_case()
    assert checks.check_crawl(lake, manifest, root, owners) == []


@pytest.mark.parametrize("perturb", ["drop", "snapshot", "link", "extension", "owner", "size"])
def test_crawl_check_fails_when_expected_is_perturbed(perturb):
    lake, manifest, root, owners = _crawl_case()
    files = [p for p, (k, s) in manifest.items() if k == "file"]
    if perturb == "drop":
        del manifest[files[0]]
    elif perturb == "snapshot":
        snap = next(p for p in manifest if p.endswith(b"/.snapshot"))
        manifest[snap + b"/hourly"] = ("dir", 0)
    elif perturb == "link":
        link = next(p for p, (k, _) in manifest.items() if k == "link")
        manifest[link + b"/x"] = ("file", 0)
        lake["path"].append(root + b"/" + link + b"/x")
        for col in ("extension", "owner", "st_size"):
            lake[col].append(None if col != "st_size" else 0)
    elif perturb == "extension":
        lake["extension"][1] = b"zzz"
    elif perturb == "owner":
        owners = {k: v + "x" for k, v in owners.items()}
    elif perturb == "size":
        k, s = manifest[files[0]]
        manifest[files[0]] = (k, s + 1)
    assert checks.check_crawl(lake, manifest, root, owners)


def test_row_checks_fail_when_expected_is_perturbed():
    t = dt.datetime(2024, 1, 1, 0, 0, 1)
    got = [(t, "end", 1.0, "files"), (t, "begin", None, "event")]
    assert checks.check_rows(got, list(reversed(got)), "x") == []
    assert checks.check_rows(got, [got[0], (t, "begin", 0.0, "event")], "x")
    assert checks.check_rows(got, got[:1], "x")
    assert checks.check_order([(1,), (2,)], lambda r: r[0], "x") == []
    assert checks.check_order([(2,), (1,)], lambda r: r[0], "x")
    assert checks.check_order([(2,), (1,)], lambda r: r[0], "x", descending=True) == []


def test_registry_check_fails_when_expected_is_perturbed():
    from tools.check_oracle import value_hash

    rows, cols = [(1, "a"), (2, "b")], ["k", "v"]
    good = {"rows": 2, "hash": value_hash(rows, cols)}
    assert checks.check_registry("e", rows, cols, good) == []
    assert checks.check_registry("e", rows, cols, dict(good, rows=3))
    assert checks.check_registry("e", rows, cols, dict(good, hash="0" * 16))
