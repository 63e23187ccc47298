"""Round-12 fixtures: the trained-cell kNN-graph candidate stage (the r11
verdict's one scale anti-pattern), the du-forecast DECIMAL(38,0) overflow
posture, and byte-accurate column-stats string widths (r11 ADVICE), each
planted / Python-replication-derived per the house contract."""

from __future__ import annotations

import math

import duckdb
import pandas as pd
import pytest

from storage_crawler_spark.plans.dialect import DUCK, SPARK


def _duck(sql: str, **views: pd.DataFrame):
    con = duckdb.connect()
    for name, df in views.items():
        con.register(name, df)
    return con.execute(sql).fetch_arrow_table().to_pydict()


def _trunc6(x: float) -> float:
    return math.floor(x * 1_000_000) / 1_000_000


# ---------------------------------------------------------------------------
# gen_du_forecast: DECIMAL(38,0) accumulators (r11 ADVICE).  Plant a root
# whose Σxy exceeds 2^63 — the old BIGINT sum wrapped silently on non-ANSI
# Spark while DuckDB raised; both engines must now agree with exact-integer
# Python OLS.
# ---------------------------------------------------------------------------

_N_BUCKETS = 400
_ADD_PER_BUCKET = 50_000_000_000_000  # 50 TB per bucket -> y_max = 2e16


def _big_files() -> pd.DataFrame:
    rows = [
        (f"/bigroot/f{i}.dat", 1_000_000 + 60 * i, _ADD_PER_BUCKET)
        for i in range(_N_BUCKETS)
    ]
    return pd.DataFrame(
        {
            "path": [r[0] for r in rows],
            "insert_epoch": pd.array([r[1] for r in rows], dtype="int64"),
            "st_size": pd.array([r[2] for r in rows], dtype="int64"),
        }
    )


def _py_ols_forecast():
    """Exact-integer replication (Python bigints never wrap)."""
    n = _N_BUCKETS
    xs = list(range(n))
    ys = [(i + 1) * _ADD_PER_BUCKET for i in range(n)]
    sx, sy = sum(xs), sum(ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    sxx = sum(x * x for x in xs)
    num, den = n * sxy - sx * sy, n * sxx - sx * sx
    assert sxy > 2**63, "fixture must exceed the old BIGINT accumulator"
    assert max(x * y for x, y in zip(xs, ys)) < 2**63, (
        "per-term products must stay inside the documented BIGINT bound"
    )
    slope = _trunc6(float(num) / float(den))
    doubles = _trunc6(float(ys[-1]) * float(den) / float(num))
    return slope, doubles, ys[-1]


def test_du_forecast_survives_bigint_overflow_duck():
    from storage_crawler_spark.reports.usage import gen_du_forecast

    slope, doubles, cur = _py_ols_forecast()
    got = _duck(gen_du_forecast(DUCK), files=_big_files())
    assert list(got["root"]) == ["bigroot"]
    assert got["n_buckets"] == [_N_BUCKETS]
    assert got["cur_bytes"] == [cur]
    assert got["slope_bytes_per_interval"] == [slope]
    assert got["intervals_to_double"] == [doubles]


def test_du_forecast_survives_bigint_overflow_spark(spark):
    from storage_crawler_spark.reports.usage import gen_du_forecast

    slope, doubles, cur = _py_ols_forecast()
    spark.createDataFrame(_big_files()).createOrReplaceTempView("files")
    row = spark.sql(gen_du_forecast(SPARK)).collect()
    assert len(row) == 1
    r = row[0]
    assert (r.root, r.n_buckets, r.cur_bytes) == ("bigroot", _N_BUCKETS, cur)
    # the old BIGINT Σxy wrapped negative here -> NULL/garbage slope
    assert r.slope_bytes_per_interval == slope
    assert r.intervals_to_double == doubles


# ---------------------------------------------------------------------------
# gen_column_stats: avg_width counts UTF-8 BYTES (r11 ADVICE — length()
# counts characters in both engines and underestimates non-ASCII widths).
# ---------------------------------------------------------------------------


def _tiny_lineitem() -> pd.DataFrame:
    flags = ["A", "Ré", "N中文"]  # 1, 3, 7 UTF-8 bytes
    n = len(flags)
    return pd.DataFrame(
        {
            "l_orderkey": pd.array(range(n), dtype="int64"),
            "l_partkey": pd.array(range(n), dtype="int64"),
            "l_suppkey": pd.array(range(n), dtype="int64"),
            "l_linenumber": pd.array([1] * n, dtype="int32"),
            "l_quantity": [1.0] * n,
            "l_extendedprice": [10.0] * n,
            "l_discount": [0.0] * n,
            "l_tax": [0.0] * n,
            "l_returnflag": flags,
            "l_linestatus": ["O"] * n,
            "l_shipdate": pd.to_datetime(["1995-01-01"] * n),
            "l_commitdate": pd.to_datetime(["1995-01-01"] * n),
            "l_receiptdate": pd.to_datetime(["1995-01-01"] * n),
            "l_shipinstruct": ["NONE"] * n,
            "l_shipmode": ["AIR"] * n,
            "l_comment": ["c"] * n,
        }
    )


def test_column_stats_string_width_counts_utf8_bytes(spark):
    from storage_crawler_spark.sources.lake import gen_column_stats

    li = _tiny_lineitem()
    want_width = _trunc6(sum(len(f.encode()) for f in li["l_returnflag"]) / 3)
    assert want_width == _trunc6((1 + 3 + 7) / 3)  # chars would give 6/3

    got_d = _duck(gen_column_stats(DUCK), lineitem=li)
    d_width = dict(zip(got_d["col_name"], got_d["avg_width"]))["l_returnflag"]
    assert d_width == want_width

    spark.createDataFrame(li).createOrReplaceTempView("lineitem")
    s_rows = spark.sql(gen_column_stats(SPARK)).collect()
    s_width = {r.col_name: r.avg_width for r in s_rows}["l_returnflag"]
    assert s_width == want_width


# ---------------------------------------------------------------------------
# Trained-cell kNN-graph candidates (r12): blocking key = lattice k-means
# cell + residual-sign refinement.  Planted two-cluster store -> edges stay
# cluster-local; engine builder (driver fit + checkpointed cells/topm) is
# bit-identical to the unrolled oracle chain.
# ---------------------------------------------------------------------------


def _two_cluster_embeddings(n_per: int = 12, dim: int = 6) -> pd.DataFrame:
    """Two tight, well-separated clusters around +e1 and -e1 with small
    deterministic jitter in the later coordinates."""
    rows = []
    for i in range(2 * n_per):
        sgn = 1.0 if i < n_per else -1.0
        v = [sgn] + [0.01 * ((i * 7 + j * 13) % 11 - 5) for j in range(dim - 1)]
        rows.append(v)
    return pd.DataFrame(
        {
            "vec_id": pd.array(range(2 * n_per), dtype="int64"),
            "embedding": rows,
            "label": pd.array([0] * (2 * n_per), dtype="Int32"),
        }
    )


def test_knn_edges_candidates_stay_cell_local():
    """k=2 trained cells on a two-cluster store: every surviving edge
    connects vectors of the same planted cluster (the centroids land on
    the clusters, so the candidate join never crosses them)."""
    from storage_crawler_spark.operators.cluster import gen_knn_edges

    emb = _two_cluster_embeddings()
    got = _duck(
        "SELECT a, b FROM (" + gen_knn_edges(DUCK, m=3, k=2, res_bits=0) + ") x",
        embeddings=emb,
    )
    assert len(got["a"]) > 0
    for a, b in zip(got["a"], got["b"]):
        assert (a < 12) == (b < 12), f"cross-cluster edge {a}-{b}"


def test_knn_residual_sign_splits_cell_near_evenly():
    """k=1 cell + 1 residual bit: the centroid is the coordinate-wise
    mean, so the first residual coordinate splits the store close to
    50/50 — the balance argument for the refinement (raw sign buckets
    skew with corpus correlation; residual signs cannot)."""
    from storage_crawler_spark.operators.cluster import _knn_cells_sql

    emb = _two_cluster_embeddings()
    got = _duck(
        f"WITH {_knn_cells_sql(DUCK, k=1, iters=2, res_bits=1, cell_target=8)} "
        "SELECT cell, count(*) AS n FROM g GROUP BY cell ORDER BY cell",
        embeddings=emb,
    )
    assert list(got["cell"]) == [0, 1]
    assert list(got["n"]) == [12, 12]


def test_knn_edges_lattice_engine_matches_oracle(spark, tmp_path):
    """The Spark engine path (driver Lloyd fit, literal-centroid assign,
    residual-sign cells, checkpointed topm) produces the exact edge set of
    the unrolled DuckDB chain on a jittered planted store."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from storage_crawler_spark.operators.cluster import (
        gen_knn_edges,
        knn_edges_lattice,
    )
    from storage_crawler_spark.plans import views as V

    vecs = [
        [((i + 3) * (j + 7) * 104729) % 997 / 997.0 - 0.5 for j in range(8)]
        for i in range(80)
    ]
    tbl = pa.table(
        {
            "vec_id": pa.array(range(80), type=pa.int64()),
            "embedding": pa.array(
                [[float(pd.Series([x], dtype="float32")[0]) for x in v] for v in vecs],
                type=pa.list_(pa.float32()),
            ),
            "label": pa.array([0] * 80, type=pa.int32()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "embeddings.parquet"))
    V.register_base_tables(spark, str(tmp_path), ("embeddings",))
    got = (
        knn_edges_lattice(spark, m=4)
        .toPandas()
        .sort_values(["a", "b"])
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{tmp_path}/embeddings.parquet'"
    )
    want = (
        con.execute(
            "SELECT a, b FROM (" + gen_knn_edges(DUCK, m=4) + ") x ORDER BY a, b"
        ).fetchdf()
    )
    assert len(got) >= 4
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_knn_edges_lattice_empty_store_returns_empty(spark, tmp_path):
    """Empty store: the fit cannot run; the engine path returns the true
    (empty) edge set instead of raising — the empty battery contract for
    the graph entries (the oracle chain also yields zero rows)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from storage_crawler_spark.operators.cluster import knn_edges_lattice
    from storage_crawler_spark.plans import views as V

    tbl = pa.table(
        {
            "vec_id": pa.array([], type=pa.int64()),
            "embedding": pa.array([], type=pa.list_(pa.float32())),
            "label": pa.array([], type=pa.int32()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "embeddings.parquet"))
    V.register_base_tables(spark, str(tmp_path), ("embeddings",))
    out = knn_edges_lattice(spark, m=4)
    assert out.columns == ["a", "b"]
    assert out.count() == 0


# ---------------------------------------------------------------------------
# Bounded-model-state runtime guards (r11 verdict item 3): every driver-loop
# collect now asserts its bound loudly.  Each test shrinks the ceiling via
# the module-level name the operator actually calls, proving the guard is
# WIRED on the real path (not just that the helper can raise).
# ---------------------------------------------------------------------------


def test_check_model_state_contract():
    from storage_crawler_spark.operators import (
        MODEL_STATE_MAX_CELLS,
        check_model_state,
    )

    check_model_state(MODEL_STATE_MAX_CELLS, "at-the-bound")  # inclusive
    with pytest.raises(ValueError, match="over-the-bound"):
        check_model_state(MODEL_STATE_MAX_CELLS + 1, "over-the-bound")
    with pytest.raises(ValueError, match="tiny"):
        check_model_state(5, "tiny", limit=4)


def _tiny_limit(n_cells, what, limit=None):
    from storage_crawler_spark.operators import check_model_state

    return check_model_state(n_cells, what, limit=1)


@pytest.fixture()
def sf0001_views(spark):
    from storage_crawler_spark.plans import views as V

    V.register_base_tables(
        spark, "/root/testdata/sf0.001", ("events", "embeddings")
    )
    return spark


@pytest.mark.parametrize(
    "entry", ["sim_kmeans_lattice", "sim_knn_kcore", "sim_knn_link_predict"]
)
def test_kmeans_lattice_guard_wired(spark, sf_dir, monkeypatch, entry):
    """The fit's guard reaches the caller of every entry built on it —
    the kNN-graph entries must not turn it into an empty edge set."""
    from storage_crawler_spark.operators import kmeans
    from storage_crawler_spark.plans import registry

    monkeypatch.setattr(kmeans, "check_model_state", _tiny_limit)
    with pytest.raises(ValueError, match="kmeans_fit_lattice"):
        registry.get_query(entry).builder(spark, sf_dir).collect()


def test_pq_fit_guard_wired(sf0001_views, monkeypatch):
    from storage_crawler_spark.operators import pq

    monkeypatch.setattr(pq, "check_model_state", _tiny_limit)
    with pytest.raises(ValueError, match="pq_fit_lattice"):
        pq.pq_fit_lattice(sf0001_views)


def test_hits_guard_wired(sf0001_views, monkeypatch):
    from storage_crawler_spark.operators import analytics

    monkeypatch.setattr(analytics, "check_model_state", _tiny_limit)
    with pytest.raises(ValueError, match="hits_events"):
        analytics.hits_events(sf0001_views)


def test_pagerank_guard_wired(sf0001_views, monkeypatch):
    from storage_crawler_spark.operators import analytics

    monkeypatch.setattr(analytics, "check_model_state", _tiny_limit)
    with pytest.raises(ValueError, match="pagerank_events"):
        analytics.pagerank_events(sf0001_views)


def test_mmr_guard_wired(spark, monkeypatch):
    from storage_crawler_spark.operators import similarity

    monkeypatch.setattr(similarity, "check_model_state", _tiny_limit)
    with pytest.raises(ValueError, match="mmr_rerank"):
        similarity.mmr_rerank(spark, "/root/testdata/sf0.001")


def test_knn_adaptive_cell_ladder_twins_agree():
    """The SQL CASE ladder and its Python twin pick identical pw = 2^b at
    every boundary (exact-integer compares on count(*) — the mechanism
    that lets the cell count scale with N while the SQL stays static)."""
    from storage_crawler_spark.operators.cluster import (
        _knn_pw_case,
        _knn_pw_py,
    )

    con = duckdb.connect()
    k, tgt, bits = 8, 64, 6
    for n in [0, 1, 511, 512, 513, 1024, 1025, 2000, 16384, 16385, 10**7]:
        case = _knn_pw_case(str(n), k, tgt, bits)
        sql_pw = con.execute(f"SELECT {case}").fetchone()[0]
        assert sql_pw == _knn_pw_py(n, k, tgt, bits), n
    # cap respected: astronomically large n still yields 2^res_bits
    assert _knn_pw_py(10**12, k, tgt, bits) == 64
    # population contract: smallest b with n <= k*tgt*2^b
    for n in [1, 512, 513, 5000, 16500]:
        pw = _knn_pw_py(n, k, tgt, bits)
        assert n <= k * tgt * pw or pw == 64
        if pw > 1:
            assert n > k * tgt * (pw // 2)


# ---------------------------------------------------------------------------
# money_double (r12, found by the sf1.0 tier): once a DECIMAL sum's integer
# units pass 2^53, Spark's BigDecimal→double (one rounding) and DuckDB's
# int128→double→/10^s (two roundings) diverge by 1 ULP.  The exact-BIGINT
# detour must agree across engines AND with Python's correctly-rounded
# reference at magnitudes both below and above the 2^53 line.
# ---------------------------------------------------------------------------


def _money_lineitem(n: int, price: float) -> pd.DataFrame:
    li = _tiny_lineitem()
    rep = pd.concat([li] * (n // 3 + 1), ignore_index=True).head(n).copy()
    rep["l_orderkey"] = pd.array(range(n), dtype="int64")
    rep["l_extendedprice"] = price
    rep["l_discount"] = 0.0
    rep["l_tax"] = 0.0
    rep["l_returnflag"] = "A"
    rep["l_linestatus"] = "F"
    return rep


@pytest.mark.parametrize("n,price", [(100, 123.45), (3000, 3333333333333.33)])
def test_money_double_cross_engine_above_2pow53(spark, n, price):
    from storage_crawler_spark.plans.dialect import money_double

    sql = (
        f"SELECT {money_double('sum(CAST(l_extendedprice AS DECIMAL(18,2)))')}"
        " AS s FROM lineitem"
    )
    li = _money_lineitem(n, price)
    # exact integer cents in Python, then ONE fixed double reconstruction
    cents = n * round(price * 100)
    want = float(cents) / 100.0
    got_d = _duck(sql, lineitem=li)["s"][0]
    spark.createDataFrame(li).createOrReplaceTempView("lineitem")
    got_s = spark.sql(sql).collect()[0].s
    assert got_d == got_s == want
    if n == 3000:
        assert cents > 2**53  # the regime where the old CAST diverged


# ---------------------------------------------------------------------------
# text_pack_greedy at scale (r12): the DuckDB recursive-CTE oracle is O(n²)
# (it re-joins the chunk relation per step — CPU-hours at sf1.0's 80k
# chunks) while the Spark path is linear, so the oracle compare caps at the
# <= sf0.1 tiers and AT-SCALE verification pins the greedy CONTRACT:
# budget bound, per-bin fill telescoping, row preservation.
# ---------------------------------------------------------------------------


def test_pack_greedy_contract_at_scale(spark):
    from pyspark.sql import functions as F

    from storage_crawler_spark.operators.packing import pack_greedy

    budget = 256
    n = 200_000
    chunks = spark.range(n).select(
        (F.col("id") / 8).cast("long").alias("doc_id"),
        (F.col("id") % 8).alias("chunk_no"),
        # deterministic sizes 1..96, plus a sprinkle of over-budget chunks
        # (the "a huge chunk gets its own bin" clause)
        F.when(F.col("id") % 9973 == 0, F.lit(300))
        .otherwise((F.col("id") * 37 % 96) + 1)
        .cast("long")
        .alias("n_chunk_tokens"),
    )
    packed = pack_greedy(chunks, token_budget=budget, n_partitions=16)
    packed.persist()
    assert packed.count() == n  # every chunk lands in exactly one bin
    bins = packed.groupBy("bin_id").agg(
        F.sum("n_chunk_tokens").alias("tot"),
        F.max("bin_fill").alias("max_fill"),
        F.count(F.lit(1)).alias("n_chunks"),
    )
    # fill telescopes: the bin's max running fill equals its token total
    assert bins.filter("max_fill <> tot").count() == 0
    # budget bound: only single-chunk bins may exceed the budget
    over = bins.filter(f"tot > {budget}")
    assert over.filter("n_chunks > 1").count() == 0
    assert over.count() > 0  # the planted 300-token chunks exercised it
    packed.unpersist()
