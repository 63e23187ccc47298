"""CLI round-trip: crawl a tree into a lake, run every report action."""

from __future__ import annotations

import json
import os

import pytest

from storage_crawler_spark.cli import REPORT_ACTIONS, main


@pytest.fixture(scope="module")
def crawled_lake(tmp_path_factory, spark):
    tree = tmp_path_factory.mktemp("tree")
    (tree / "sub").mkdir()
    (tree / "sub" / "a.txt").write_text("alpha")
    (tree / "b.tar.gz").write_bytes(b"beta")
    # a file name that is not valid UTF-8 (crawled paths are raw bytes)
    (tree / os.fsdecode(b"\xff.txt")).write_bytes(b"gamma")
    lake = tmp_path_factory.mktemp("lake")
    rc = main(["crawl", "--dir", str(tree), "--tag", "t", "--lake", str(lake)])
    assert rc == 0
    return str(lake)


def test_cli_list(capsys):
    assert main(["list"]) == 0
    out = capsys.readouterr().out
    assert "tpch_q1_pricing_summary" in out and "oracle" in out


@pytest.mark.parametrize("action", REPORT_ACTIONS)
def test_cli_report_actions(crawled_lake, action, capsys):
    rc = main(["report", action, "--tag", "t", "--lake", crawled_lake])
    assert rc == 0
    out = capsys.readouterr().out
    assert out.strip(), f"no output for {action}"
    if action.startswith("status"):
        assert "status" in out.splitlines()[0]


def test_cli_report_json(crawled_lake, capsys):
    rc = main(["report", "status-events", "--tag", "t", "--lake", crawled_lake, "--format", "json"])
    assert rc == 0
    doc = json.loads(capsys.readouterr().out)
    assert isinstance(doc, list) and len(doc) >= 2  # begin + end events


def test_cli_query(capsys):
    rc = main(["query", "tpch_q6_revenue", "--sf-dir", "/root/testdata/sf0.001"])
    assert rc == 0
    lines = capsys.readouterr().out.strip().splitlines()
    assert lines[0] == "revenue,n_rows"
    assert len(lines) == 2
