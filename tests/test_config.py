"""Config layering precedence: defaults ← rc files ← env ← explicit kwargs
(the reference's configargparse stack, storcrawl.py:16-51)."""

from __future__ import annotations

import storage_crawler_spark.config as config_mod
from storage_crawler_spark.config import CrawlConfig, parse_rc


def test_parse_rc_formats():
    vals = parse_rc(
        """
# site defaults
tag = nightly
extension-length: 8
exclude = [.snapshot, .git]
dir = /data/a
dir = /data/b
walkers = 9
unknown_key = ignored
; another comment
"""
    )
    assert vals == {
        "tag": "nightly",
        "extension_length": 8,
        "exclude": [".snapshot", ".git"],
        "dirs": ["/data/a", "/data/b"],
        "walkers": 9,
    }


def _write(tmp_path, name, text):
    p = tmp_path / name
    p.write_text(text)
    return str(p)


def test_layering_precedence(tmp_path, monkeypatch):
    etc = _write(tmp_path, "etc_rc", "tag = from_etc\nwalkers = 2\nupdate = 10\n")
    home = _write(tmp_path, "home_rc", "tag = from_home\nstaters = 7\n")
    monkeypatch.setattr(config_mod, "CONFIG_FILES", (etc, home, str(tmp_path / "missing_rc")))
    for var in list(__import__("os").environ):
        if var.startswith("STORCRAWL_"):
            monkeypatch.delenv(var)

    # later file overrides earlier; non-conflicting keys merge
    cfg = CrawlConfig.from_env()
    assert cfg.tag == "from_home"
    assert cfg.walkers == 2
    # the reference's staters/update knobs have no analog: ignored
    assert not hasattr(cfg, "staters") and not hasattr(cfg, "update_interval")
    assert parse_rc("staters = 7\nupdate = 10\ninjects = 2\ntimeout = 5\n") == {}

    # env beats files
    monkeypatch.setenv("STORCRAWL_TAG", "from_env")
    monkeypatch.setenv("STORCRAWL_EXCLUDE", ".snapshot,.cache")
    cfg = CrawlConfig.from_env()
    assert cfg.tag == "from_env"
    assert cfg.exclude == [".snapshot", ".cache"]

    # explicit kwargs (CLI flags) beat env
    cfg = CrawlConfig.from_env(tag="from_flag")
    assert cfg.tag == "from_flag"

    # STORCRAWL_CONFIG_FILE names an extra file overriding the default ones
    extra = _write(tmp_path, "extra_rc", "walkers = 31\n")
    monkeypatch.setenv("STORCRAWL_CONFIG_FILE", extra)
    cfg = CrawlConfig.from_env()
    assert cfg.walkers == 31


def test_defaults_without_any_source(tmp_path, monkeypatch):
    monkeypatch.setattr(config_mod, "CONFIG_FILES", (str(tmp_path / "nope"),))
    for var in list(__import__("os").environ):
        if var.startswith("STORCRAWL_"):
            monkeypatch.delenv(var)
    cfg = CrawlConfig.from_env()
    assert cfg.tag == "crawl" and cfg.exclude == [".snapshot"] and cfg.walkers == 4


def test_from_env_rejects_unknown_override():
    import pytest

    with pytest.raises(TypeError, match="unexpected keyword argument 'logfil'"):
        CrawlConfig.from_env(logfil="/tmp/x.log")
