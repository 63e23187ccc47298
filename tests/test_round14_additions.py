"""Round-14 fixtures: the r13 ADVICE items, each pinned — the winnow
defaults hoisted to shared constants, the minipg jar registered for
executors, and the _DRIVER_WINDOW_R12 deletion (covered by
test_registry_window's existing single-window contract)."""

from __future__ import annotations

import pytest
from crawl_reference import reference_walk


# ---------------------------------------------------------------------------
# ADVICE: winnow defaults shared between gen_winnow_fk / gen_winnow_pairs
# and the fk_rel guard — the guard must track the signature defaults, not
# a hardcoded tuple.
# ---------------------------------------------------------------------------


def test_winnow_guard_tracks_signature_defaults():
    import inspect

    from storage_crawler_spark.operators import dedup

    fk_sig = inspect.signature(dedup.gen_winnow_fk)
    pairs_sig = inspect.signature(dedup.gen_winnow_pairs)
    expected = (dedup.WINNOW_K, dedup.WINNOW_W, dedup.WINNOW_DF_CAP)
    assert (
        fk_sig.parameters["k"].default,
        fk_sig.parameters["w"].default,
        fk_sig.parameters["df_cap"].default,
    ) == expected
    assert (
        pairs_sig.parameters["k"].default,
        pairs_sig.parameters["w"].default,
        pairs_sig.parameters["df_cap"].default,
    ) == expected
    # Passing exactly the shared build configuration alongside fk_rel is
    # accepted; anything else is rejected.
    sql = dedup.gen_winnow_pairs(
        __import__(
            "storage_crawler_spark.plans.dialect", fromlist=["DUCK"]
        ).DUCK,
        k=dedup.WINNOW_K,
        w=dedup.WINNOW_W,
        df_cap=dedup.WINNOW_DF_CAP,
        fk_rel="prebuilt_fk",
    )
    assert "prebuilt_fk" in sql
    with pytest.raises(ValueError):
        dedup.gen_winnow_pairs(
            __import__(
                "storage_crawler_spark.plans.dialect", fromlist=["DUCK"]
            ).DUCK,
            df_cap=dedup.WINNOW_DF_CAP + 1,
            fk_rel="prebuilt_fk",
        )


# ---------------------------------------------------------------------------
# ADVICE: the vendored minipg jar must reach executors (spark.jars), not
# only the driver classloader (spark.driver.extraClassPath) — on a
# non-local master the JDBC read/write tasks load the driver class
# executor-side.
# ---------------------------------------------------------------------------


def test_session_registers_minipg_for_executors(spark):
    import os

    import storage_crawler_spark.session as sess

    jar = os.path.join(
        os.path.dirname(os.path.dirname(sess.__file__)),
        "vendor",
        "minipg",
        "minipg.jar",
    )
    if not os.path.exists(jar):
        pytest.skip("vendored minipg.jar not built")
    conf = spark.sparkContext.getConf()
    assert jar in (conf.get("spark.driver.extraClassPath", "") or "")
    assert jar in (conf.get("spark.jars", "") or "")


# ---------------------------------------------------------------------------
# r14 determinism audit: the remaining display-only trunc6(avg(double))
# sites become order-free lattice means (plans/dialect.avg_lattice) at a
# per-site scale.  These tests pin (a) the helper's exact-integer
# contract against a Python recomputation, (b) the rewritten cohesion
# algebra against brute-force pairwise cosine, and (c) hand-computable
# entry values on the lattice.
# ---------------------------------------------------------------------------

import math

import duckdb
import pandas as pd

from storage_crawler_spark.plans.dialect import DUCK, avg_lattice


def _duck(sql: str, **views: pd.DataFrame):
    con = duckdb.connect()
    for name, df in views.items():
        con.register(name, df)
    return con.execute(sql).fetch_arrow_table().to_pydict()


def _lattice_mean(values, p):
    """The exact arithmetic avg_lattice promises: floor each row onto the
    10^-p lattice, integer sum, one late division, trunc6."""
    total = sum(math.floor(v * (10.0**p)) for v in values)
    mean = total / (len(values) * (10.0**p))
    return math.floor(mean * 1e6) / 1e6


def test_avg_lattice_matches_exact_integer_recomputation():
    vals = [0.1234567891234, -2.718281828, 3.1e-7, 1999.5, 0.0]
    df = pd.DataFrame({"x": vals})
    for p in (6, 9, 12):
        got = _duck(
            f"SELECT {avg_lattice(DUCK, 'x', p)} AS m FROM t", t=df
        )["m"][0]
        assert got == _lattice_mean(vals, p), p


def test_avg_lattice_is_row_order_invariant():
    # adversarial: values whose raw double sum depends on order near a
    # 1e-6 grid line; the lattice mean must be bit-identical under any
    # permutation because the accumulator is an integer
    import random

    rng = random.Random(257)
    vals = [rng.uniform(-50, 50) for _ in range(400)]
    base = None
    for seed in range(5):
        perm = vals[:]
        random.Random(seed).shuffle(perm)
        got = _duck(
            f"SELECT {avg_lattice(DUCK, 'x', 9)} AS m FROM t",
            t=pd.DataFrame({"x": perm}),
        )["m"][0]
        base = got if base is None else base
        assert got == base


def test_avg_lattice_small_statistics_not_zeroed():
    # the int8 mean_sq_err regime: values ~1e-5 would all floor to 0 on
    # the 1e-6 display grid's own lattice at p=6 is fine (1e-5 > 1e-6),
    # but ~1e-8 values need p=12 — the reason the audit is per-site
    vals = [3.7e-8, 4.1e-8, 2.9e-8]
    got6 = _duck(f"SELECT {avg_lattice(DUCK, 'x', 6)} AS m FROM t",
                 t=pd.DataFrame({"x": vals}))["m"][0]
    got12 = _duck(f"SELECT {avg_lattice(DUCK, 'x', 12)} AS m FROM t",
                  t=pd.DataFrame({"x": vals}))["m"][0]
    assert got6 == 0.0
    assert got12 == 0.0  # still below the 1e-6 DISPLAY grid...
    # ...but the lattice preserved the sum: check the pre-display mean
    import math as _m

    total12 = sum(_m.floor(v * 1e12) for v in vals)
    assert total12 > 0  # p=12 kept the statistic; p=6 floored it away


def test_label_cohesion_lattice_matches_bruteforce_pairwise():
    from storage_crawler_spark.operators import similarity

    vecs = [
        [1.0, 0.5, -0.25, 0.125],
        [0.9, 0.6, -0.2, 0.1],
        [-0.3, 1.1, 0.7, -0.5],
        [0.05, -0.02, 0.99, 0.4],
    ]
    emb = pd.DataFrame(
        {"vec_id": range(4), "embedding": [list(map(float, v)) for v in vecs],
         "label": [0] * 4}
    )
    got = _duck(similarity.gen_label_cohesion(DUCK), embeddings=emb)
    # brute force: mean pairwise cosine of unit-normalized vectors
    units = []
    for v in vecs:
        nrm = math.sqrt(sum(x * x for x in v))
        units.append([x / nrm for x in v])
    n = len(units)
    s = 0.0
    for i in range(n):
        for j in range(n):
            if i != j:
                s += sum(a * b for a, b in zip(units[i], units[j]))
    want = s / (n * (n - 1))
    assert got["n_vecs"] == [4]
    # two-hop lattice error bound ~3e-12*dims plus trunc6 floor
    assert abs(got["mean_pairwise_cos"][0] - want) < 2e-6


def test_label_cohesion_singleton_label_null():
    from storage_crawler_spark.operators import similarity

    emb = pd.DataFrame(
        {"vec_id": [0, 1, 2],
         "embedding": [[1.0, 0.0], [0.0, 1.0], [1.0, 1.0]],
         "label": [0, 0, 1]}
    )
    got = _duck(similarity.gen_label_cohesion(DUCK), embeddings=emb)
    by_label = dict(zip(got["label"], got["mean_pairwise_cos"]))
    assert by_label[1] is None  # singleton: no pairs
    assert abs(by_label[0] - 0.0) < 2e-6  # orthogonal pair


def test_readability_mean_on_lattice():
    from storage_crawler_spark.operators import text as text_ops

    docs = pd.DataFrame(
        {
            "doc_id": [0, 1],
            "text": ["The cat sat on the mat.", "Incomprehensibility notwithstanding."],
            "lang": ["en", "en"],
            "source": ["s", "s"],
            "n_chars": [23, 36],
        }
    )
    got = _duck(text_ops.gen_readability(DUCK), documents=docs)
    # per-doc FRE, then the p=9 lattice mean
    def fre(text):
        import re

        w = len(re.findall(r"[A-Za-z]+", text))
        s = max(len(re.findall(r"[.!?]+", text)), 1)
        syl = len(re.findall(r"[aeiouyAEIOUY]+", text))
        return 206.835 - 1.015 * (w / s) - 84.6 * (syl / w)

    want = _lattice_mean([fre(t) for t in docs["text"]], 9)
    assert got["avg_fre"] == [want]
    # shares of 0/1 indicators stay exact rationals
    assert got["hard_share"][0] in (0.0, 0.5, 1.0)


# ---------------------------------------------------------------------------
# Deep and funnel-shaped trees: the crawl's split-and-walk must match an
# independent level-by-level reference walk (tests/crawl_reference.py).
# ---------------------------------------------------------------------------


def _make_chain(base, depth, excluded_at=None):
    import os

    p = str(base)
    for i in range(depth):
        name = ".snapshot" if i == excluded_at else f"d{i}"
        p = os.path.join(p, name)
        os.mkdir(p)
        with open(os.path.join(p, f"f{i}.txt"), "wb") as fh:
            fh.write(b"x" * (i % 7))
    return p


def test_deep_chain_crawl_matches_bfs(spark, tmp_path):
    from storage_crawler_spark.config import CrawlConfig
    from storage_crawler_spark.crawl import crawl

    root = tmp_path / "chain"
    root.mkdir()
    _make_chain(root, 150)

    deep = crawl(spark, CrawlConfig(dirs=[str(root)]))
    deep_paths = {bytes(r.path) for r in deep.files.collect()}
    # 150 dirs + 150 files + the root row
    assert len(deep_paths) == 301
    assert deep.summary["files"] == 301

    bfs = reference_walk(root)
    assert deep_paths == set(bfs)
    # f149.txt, inside the 150th dir, is the deepest entry
    assert deep.summary["depth"] == max(level for _, level in bfs.values()) == 151


def test_deep_chain_exclusion_still_gates_descent(spark, tmp_path):
    """An excluded dir name inside a chain must be emitted but NOT
    descended."""
    from storage_crawler_spark.config import CrawlConfig
    from storage_crawler_spark.crawl import crawl

    root = tmp_path / "chainx"
    root.mkdir()
    _make_chain(root, 30, excluded_at=10)

    res = crawl(spark, CrawlConfig(dirs=[str(root)]))
    paths = {bytes(r.path) for r in res.files.collect()}
    # levels 0..9 fully walked (dir+file each), the .snapshot dir at level
    # 10 is emitted, its sibling file too... the chain nests INSIDE the
    # excluded dir, so everything below it is invisible
    snap = [p for p in paths if p.endswith(b".snapshot")]
    assert len(snap) == 1
    below = [p for p in paths if b".snapshot/" in p]
    assert below == []
    # root + 10 full levels (d0..d9: dir+file) + the excluded dir row
    assert len(paths) == 1 + 20 + 1


def test_deep_chain_widening_hands_fanout_back(spark, tmp_path):
    """A chain that fans out wide below must still be fully crawled: the
    driver's split follows the chain down and hands the fan-out to the
    tasks."""
    import os

    from storage_crawler_spark.config import CrawlConfig
    from storage_crawler_spark.crawl import crawl

    root = tmp_path / "funnel"
    root.mkdir()
    tip = _make_chain(root, 12)
    for i in range(600):  # fan-out well past the split target
        d = os.path.join(tip, f"w{i:03d}")
        os.mkdir(d)
        with open(os.path.join(d, "leaf.dat"), "wb") as fh:
            fh.write(b"y")

    res = crawl(spark, CrawlConfig(dirs=[str(root)]))
    paths = {bytes(r.path) for r in res.files.collect()}
    # root + 12*(dir+file) + 600 wide dirs + 600 leaves
    assert len(paths) == 1 + 24 + 1200
    assert paths == set(reference_walk(root))
