"""Crawl/report configuration, mirroring the reference's layered config
(configargparse defaults ← config files ← STORCRAWL_* env ← CLI flags,
storcrawl.py:16-51).  We keep the same knob names and defaults.

Layering order (lowest to highest precedence), matching configargparse:

1. dataclass defaults;
2. site config files ``/etc/storcrawlrc``, ``~/storcrawlrc``,
   ``~/.storcrawlrc`` (later files override earlier ones), plus an explicit
   file named by ``STORCRAWL_CONFIG_FILE`` (overrides the default files);
3. ``STORCRAWL_*`` environment variables;
4. explicit keyword overrides (the CLI-flag analog).

File format is configargparse's: ``key = value`` (or ``key: value``) lines,
``#``/``;`` comments; keys use the long option names (``-`` or ``_``
spelled); the [+]-style list options ``dir`` and ``exclude`` accept either a
``[a, b]`` list literal, a comma-separated string, or repeated keys
(accumulating in file order).
"""

from __future__ import annotations

import dataclasses
import os
from dataclasses import dataclass, field

# The reference's default_config_files (storcrawl.py:16).
CONFIG_FILES = ("/etc/storcrawlrc", "~/storcrawlrc", "~/.storcrawlrc")

# file/env option name → (config field, parser)
_LIST_KEYS = {"dir": "dirs", "exclude": "exclude"}
_SCALAR_KEYS = {
    "tag": ("tag", str),
    "owners": ("owners", str),
    "extension_length": ("extension_length", int),
    "walkers": ("walkers", int),
}


def _split_list(value: str) -> list[str]:
    v = value.strip()
    if v.startswith("[") and v.endswith("]"):
        v = v[1:-1]
    return [p.strip() for p in v.split(",") if p.strip()]


def parse_rc(text: str) -> dict[str, object]:
    """Parse one rc file's text into {field: value} (unknown keys ignored —
    the reference's db*, log*, staters, injects, update and timeout options
    have no analog here)."""
    out: dict[str, object] = {}
    for raw in text.splitlines():
        line = raw.strip()
        if not line or line[0] in "#;":
            continue
        if "=" in line:
            key, _, value = line.partition("=")
        elif ":" in line:
            key, _, value = line.partition(":")
        else:
            continue
        key = key.strip().lower().replace("-", "_")
        value = value.strip()
        if key in _LIST_KEYS:
            fieldname = _LIST_KEYS[key]
            prev = out.get(fieldname)
            items = _split_list(value)
            out[fieldname] = (prev + items) if isinstance(prev, list) else items
        elif key in _SCALAR_KEYS:
            fieldname, cast = _SCALAR_KEYS[key]
            out[fieldname] = cast(value)
    return out


def _layered_file_values(env: dict[str, str]) -> dict[str, object]:
    merged: dict[str, object] = {}
    paths = [os.path.expanduser(p) for p in CONFIG_FILES]
    explicit = env.get("STORCRAWL_CONFIG_FILE")
    if explicit:
        paths.append(os.path.expanduser(explicit))
    for path in paths:
        try:
            with open(path, "r", encoding="utf-8") as fh:
                merged.update(parse_rc(fh.read()))
        except OSError:
            continue
    return merged


@dataclass
class CrawlConfig:
    dirs: list[str] = field(default_factory=list)
    tag: str = "crawl"
    owners: str | None = None
    # default exclusion matches the reference (storcrawl.py:39)
    exclude: list[str] = field(default_factory=lambda: [".snapshot"])
    extension_length: int = 6  # storcrawl.py:27
    walkers: int = 4  # storcrawl.py:41
    # Rotating-file crawl log (the reference derives logfile from the tag,
    # storcrawl.py:60; here it is opt-in).  None disables file logging.
    logfile: str | None = None

    @classmethod
    def from_env(cls, **overrides) -> "CrawlConfig":
        """defaults ← rc files ← STORCRAWL_* env ← explicit kwargs."""
        env = dict(os.environ)
        cfg = cls()
        for fieldname, value in _layered_file_values(env).items():
            setattr(cfg, fieldname, value)
        if "STORCRAWL_EXTENSION_LENGTH" in env:
            cfg.extension_length = int(env["STORCRAWL_EXTENSION_LENGTH"])
        if "STORCRAWL_EXCLUDE" in env:
            cfg.exclude = _split_list(env["STORCRAWL_EXCLUDE"])
        if "STORCRAWL_DIR" in env:
            cfg.dirs = _split_list(env["STORCRAWL_DIR"])
        if "STORCRAWL_TAG" in env:
            cfg.tag = env["STORCRAWL_TAG"]
        if "STORCRAWL_OWNERS" in env:
            cfg.owners = env["STORCRAWL_OWNERS"]
        if "STORCRAWL_WALKERS" in env:
            cfg.walkers = int(env["STORCRAWL_WALKERS"])
        if "STORCRAWL_LOGFILE" in env:
            cfg.logfile = env["STORCRAWL_LOGFILE"]
        # Reject unknown kwargs the way cls(**overrides) would: a typo like
        # logfil=... must not silently grow a dead attribute.
        valid = {f.name for f in dataclasses.fields(cls)}
        for key, value in overrides.items():
            if key not in valid:
                raise TypeError(
                    f"CrawlConfig.from_env() got an unexpected keyword argument {key!r}"
                )
            setattr(cfg, key, value)
        return cfg
