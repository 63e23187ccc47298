"""Round-14 OPTIMIZATION parity pins: every Arrow/NumPy fast path added
this round must be bit-identical to the SQL form it replaced.  Each test
computes BOTH forms in one session and compares rows exactly — the oracle
gate then re-proves the same equality against DuckDB per entry, but these
tests localize a future break to the specific fast path.

Edge corpus: unicode (multi-byte, astral), single-space runs (empty
tokens), texts at/below the winnow length floor, NULL text — the shapes
the fuzz waves historically used to catch engine drift.
"""

from __future__ import annotations

import pyarrow as pa
import pytest

from storage_crawler_spark.plans.dialect import SPARK as D


EDGE_DOCS = [
    (1, "the quick brown fox jumps over the lazy dog the quick brown fox", "en", "web"),
    (2, "the  quick   brown fox " * 4, "en", "web"),          # empty tokens, trailing space
    (3, "短い非アスキー文字列のテスト、ハッシュは коде пойнт 単位で", "ja", "web"),
    (4, "emoji 🙂 and astral 𝔘𝔫𝔦𝔠𝔬𝔡𝔢 𝕤𝕝𝕚𝕔𝕖𝕤 here 🙂 again", "en", "web"),
    (5, "exactly11ch", "en", "web"),                            # == k + w - 1 chars
    (6, "tenchars!!", "en", "web"),                             # below the winnow floor
    (7, "", "en", "web"),                                       # empty text
    (8, None, "en", "web"),                                     # NULL text
    (9, "a b", "fr", "web"),                                    # < 3 tokens (shingle fallback)
    (10, "x" * 200, "en", "web"),                               # degenerate repeat
]


@pytest.fixture(scope="module")
def edge_docs_view(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("edge") / "documents.parquet")
    tbl = pa.table(
        {
            "doc_id": pa.array([r[0] for r in EDGE_DOCS], pa.int64()),
            "text": pa.array([r[1] for r in EDGE_DOCS], pa.string()),
            "lang": pa.array([r[2] for r in EDGE_DOCS], pa.string()),
            "source": pa.array([r[3] for r in EDGE_DOCS], pa.string()),
            "n_chars": pa.array(
                [len(r[1]) if r[1] is not None else None for r in EDGE_DOCS], pa.int64()
            ),
        }
    )
    import pyarrow.parquet as pq

    pq.write_table(tbl, path)
    spark.read.parquet(path).createOrReplaceTempView("_r14_edge_docs")
    return "_r14_edge_docs"


def _rows(df, sort_cols):
    return [tuple(r) for r in df.orderBy(*sort_cols).collect()]


def _register_docs(spark, sf_dir):
    from storage_crawler_spark.plans import views as V

    V.register_base_tables(spark, sf_dir, ("documents",))


# -- winnow ----------------------------------------------------------------


@pytest.mark.parametrize("src_kind", ["sf", "edge"])
def test_winnow_rel_fastpath_matches_sql(spark, sf_dir, edge_docs_view, src_kind):
    from storage_crawler_spark.operators import fastpath, text

    if src_kind == "sf":
        _register_docs(spark, sf_dir)
        src = "documents"
    else:
        src = edge_docs_view
    sql_df = spark.sql(text.gen_winnow_rel(D, src=src))
    fast_df = fastpath.winnow_rel(spark.table(src))
    assert fast_df.schema == sql_df.schema
    a = _rows(sql_df.selectExpr("doc_id", "n_grams", "fps"), ["doc_id"])
    b = _rows(fast_df.selectExpr("doc_id", "n_grams", "fps"), ["doc_id"])
    assert a == b  # including element ORDER inside fps (array_distinct order)


@pytest.mark.parametrize("src_kind", ["sf", "edge"])
def test_winnow_fp_rows_matches_exploded_rel(spark, sf_dir, edge_docs_view, src_kind):
    from storage_crawler_spark.operators import fastpath

    if src_kind == "sf":
        _register_docs(spark, sf_dir)
        src = "documents"
    else:
        src = edge_docs_view
    rel = fastpath.winnow_rel(spark.table(src))
    rel.createOrReplaceTempView("_t14_wrel")
    exploded = spark.sql(
        f"SELECT doc_id, fp FROM _t14_wrel {D.lateral_explode('fps', 'fp')}"
    )
    rows = fastpath.winnow_fp_rows(spark.table(src))
    assert rows.schema == exploded.schema
    assert _rows(exploded, ["doc_id", "fp"]) == _rows(rows, ["doc_id", "fp"])


# -- minhash ---------------------------------------------------------------


@pytest.mark.parametrize("src_kind", ["sf", "edge"])
def test_minhash_sigs_fastpath_matches_sql(spark, sf_dir, edge_docs_view, src_kind):
    from storage_crawler_spark.operators import dedup, fastpath

    if src_kind == "sf":
        _register_docs(spark, sf_dir)
        src = "documents"
    else:
        src = edge_docs_view
    sql_df = spark.sql(dedup.gen_minhash_sigs(D, src=src))
    fast_df = fastpath.minhash_sigs(spark.table(src))
    assert [f.name for f in fast_df.schema.fields] == [f.name for f in sql_df.schema.fields]
    a = _rows(sql_df, ["doc_id"])
    b = _rows(fast_df, ["doc_id"])
    assert a == b


@pytest.mark.parametrize("src_kind", ["sf", "edge"])
def test_minhash_bands_explode_matches_union(spark, sf_dir, edge_docs_view, src_kind):
    """gen_minhash_bands' Spark posexplode form emits the SAME (doc_id,
    band_id, band_key) multiset as the r13 4-way UNION ALL it replaced
    (which the DuckDB oracle branch still renders verbatim)."""
    from storage_crawler_spark.operators import dedup, fastpath

    if src_kind == "sf":
        _register_docs(spark, sf_dir)
        src = "documents"
    else:
        src = edge_docs_view
    sigs = fastpath.minhash_sigs(spark.table(src))
    sigs.createOrReplaceTempView("_r14_bands_sigs")
    explode_df = spark.sql(dedup.gen_minhash_bands(D, "_r14_bands_sigs"))
    union_sql = "\nUNION ALL\n".join(
        "SELECT doc_id, {b} AS band_id, {key} AS band_key FROM _r14_bands_sigs".format(
            b=band,
            key=D.md5_utf8(
                "concat_ws('|', %s)"
                % ", ".join(
                    f"m{band * dedup.ROWS_PER_BAND + r}" for r in range(dedup.ROWS_PER_BAND)
                )
            ),
        )
        for band in range(dedup.N_BANDS)
    )
    union_df = spark.sql(union_sql)
    assert explode_df.schema == union_df.schema
    a = _rows(explode_df, ["doc_id", "band_id", "band_key"])
    b = _rows(union_df, ["doc_id", "band_id", "band_key"])
    assert a == b


# -- containment prep ------------------------------------------------------


@pytest.mark.parametrize("src_kind", ["sf", "edge"])
def test_containment_prep_fastpath_matches_sql(spark, sf_dir, edge_docs_view, src_kind):
    """The shingle STRING relation must match the SQL form exactly (it
    keys the df/prefix machinery); n_sh likewise.  The hash column is
    engine-local by the token_hash64 contract — pinned instead via the
    oracle gate on the containment entry itself."""
    from storage_crawler_spark.operators import fastpath
    from storage_crawler_spark.operators.dedup import _shingles

    if src_kind == "sf":
        _register_docs(spark, sf_dir)
        src = "documents"
    else:
        src = edge_docs_view
    base = fastpath.containment_prep(spark.table(src))
    base.createOrReplaceTempView("_t14_cont_base")
    sql_shingles = spark.sql(
        f"SELECT doc_id, {D.adistinct(_shingles(D))} AS shingles "
        f"FROM (SELECT doc_id, text, {D.split('text')} AS toks FROM {src}) s0"
    )
    a = _rows(sql_shingles, ["doc_id"])
    b = _rows(base.select("doc_id", "shingles"), ["doc_id"])
    assert a == b
    # n_sh == size of the hashed distinct-shingle set, exactly as SQL's
    ns = {r.doc_id: r.n_sh for r in base.select("doc_id", "n_sh").collect()}
    for doc_id, shingles in a:
        assert ns[doc_id] == len(shingles)


# -- jaccard prep ----------------------------------------------------------


def test_jaccard_prep_fastpath_same_pairs(spark, sf_dir):
    """The token hash is engine-local (only intersection cardinalities
    reach the output), so parity is on the FINAL pair relation: the old
    xxhash64 SQL prep and the md5-48 fast path must induce identical
    (doc_a, doc_b, jaccard) rows."""
    from storage_crawler_spark.operators import dedup, fastpath

    _register_docs(spark, sf_dir)
    spark.sql(dedup.gen_jaccard_prep(D, src="documents")).createOrReplaceTempView(
        "_t14_prep_sql"
    )
    old_ranked = spark.sql(dedup.gen_jaccard_ranked(D, "_t14_prep_sql", src="documents"))
    old_ranked.createOrReplaceTempView("_t14_ranked_sql")
    old = spark.sql(dedup.gen_jaccard_pairs(D, ranked_rel="_t14_ranked_sql"))

    fastpath.jaccard_prep(spark.table("documents")).createOrReplaceTempView("_t14_prep_fast")
    new_ranked = spark.sql(dedup.gen_jaccard_ranked(D, "_t14_prep_fast", src="documents"))
    new_ranked.createOrReplaceTempView("_t14_ranked_fast")
    new = spark.sql(dedup.gen_jaccard_pairs(D, ranked_rel="_t14_ranked_fast"))

    assert _rows(old, ["doc_a", "doc_b"]) == _rows(new, ["doc_a", "doc_b"])


def test_jaccard_prefix_filter_is_pure_pruning(spark, sf_dir):
    """The arrays_overlap prefix pre-test (SSJoin lemma) must not change
    the pair set: with and without prefix_col, identical rows."""
    from storage_crawler_spark.operators import dedup, fastpath

    _register_docs(spark, sf_dir)
    fastpath.jaccard_prep(spark.table("documents")).createOrReplaceTempView("_t14_pf_prep")
    ranked = spark.sql(dedup.gen_jaccard_ranked(D, "_t14_pf_prep", src="documents"))
    ranked.persist()
    ranked.createOrReplaceTempView("_t14_pf_ranked")
    plain = spark.sql(dedup.gen_jaccard_pairs(D, ranked_rel="_t14_pf_ranked"))
    pruned = spark.sql(
        dedup.gen_jaccard_pairs(D, ranked_rel="_t14_pf_ranked", prefix_col="pref")
    )
    assert _rows(plain, ["doc_a", "doc_b"]) == _rows(pruned, ["doc_a", "doc_b"])
    ranked.unpersist()


def test_jaccard_prefix_filter_guards(spark):
    """A threshold below the prep's prefix θ must be rejected loudly (a
    shorter-than-needed prefix would prune TRUE pairs), as must an
    oracle-dialect request."""
    from storage_crawler_spark.operators import dedup
    from storage_crawler_spark.plans.dialect import DUCK

    with pytest.raises(ValueError, match="prune true pairs"):
        dedup.gen_jaccard_pairs(D, threshold=0.3, ranked_rel="r", prefix_col="pref")
    with pytest.raises(ValueError, match="Spark engine-path"):
        dedup.gen_jaccard_pairs(DUCK, ranked_rel="r", prefix_col="pref")


def test_jaccard_prep_fastpath_meta_columns(spark, sf_dir):
    from storage_crawler_spark.operators import dedup, fastpath

    _register_docs(spark, sf_dir)
    sql_df = spark.sql(dedup.gen_jaccard_prep(D, src="documents")).selectExpr(
        "doc_id", "lang", "n_chars", "n_toks"
    )
    fast_df = fastpath.jaccard_prep(spark.table("documents")).selectExpr(
        "doc_id", "lang", "n_chars", "n_toks"
    )
    assert fast_df.schema == sql_df.schema
    assert _rows(sql_df, ["doc_id"]) == _rows(fast_df, ["doc_id"])


# -- lattice assignment ----------------------------------------------------


def _lattice_v(spark, sf_dir):
    from storage_crawler_spark.operators.kmeans import _km_lattice_sql
    from pyspark.sql import functions as F

    from storage_crawler_spark.plans import views as V

    V.register_base_tables(spark, sf_dir, ("embeddings",))
    return spark.sql(_km_lattice_sql(D)).repartition(4).localCheckpoint()


def _sql_assign(v, centroids):
    from pyspark.sql import functions as F

    arrs = [
        "array(" + ", ".join(f"CAST({c} AS BIGINT)" for c in cent) + ")"
        for cent in centroids
    ]
    dists = "array(" + ", ".join(
        f"aggregate(zip_with(qarr, {a}, (u, v) -> (u - v) * (u - v)), "
        f"CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        for a in arrs
    ) + ")"
    return v.withColumn("__d", F.expr(dists)).withColumn(
        "cid", (F.expr("array_position(__d, array_min(__d))") - 1).cast("long")
    ).drop("__d")


def test_lattice_assign_matches_sql_fold(spark, sf_dir):
    from storage_crawler_spark.operators.kmeans import lattice_assign

    v = _lattice_v(spark, sf_dir)
    init = [list(r.qarr) for r in v.orderBy("vec_id").limit(5).select("qarr").collect()]
    a = _rows(_sql_assign(v, init).select("vec_id", "cid"), ["vec_id"])
    b = _rows(lattice_assign(v, init).select("vec_id", "cid"), ["vec_id"])
    assert a == b


def test_knn_topm_fastpath_matches_sql(spark, sf_dir):
    """_knn_topm_fast (grouped NumPy Gram + local top-m) vs gen_knn_topm
    (SQL candidate join + window) over the SAME cells relation."""
    from storage_crawler_spark.operators import cluster
    from storage_crawler_spark.operators.kmeans import kmeans_fit_lattice

    _ = sf_dir
    from storage_crawler_spark.plans import views as V

    V.register_base_tables(spark, sf_dir, ("embeddings",))
    centroids, _sizes, v = kmeans_fit_lattice(spark, k=4, iters=cluster.KNN_ITERS)
    pw = cluster._knn_pw_py(v.count(), 4, cluster.KNN_CELL_TARGET, cluster.KNN_RES_BITS)
    g = cluster._knn_cells_fast(v, centroids, cluster.KNN_RES_BITS, pw)
    g.localCheckpoint().createOrReplaceTempView("_t14_cells")
    sql_topm = spark.sql(cluster.gen_knn_topm(D, m=3, cells_rel="_t14_cells"))
    fast_topm = cluster._knn_topm_fast(spark.table("_t14_cells"), 3)
    assert sorted(map(tuple, sql_topm.collect())) == sorted(map(tuple, fast_topm.collect()))


def test_knn_cells_fast_matches_sql_chain(spark, sf_dir):
    """The NumPy cell-assignment stage vs the SQL expression chain it
    replaced (dists fold -> argmin -> residual sign -> norm -> filter)."""
    from pyspark.sql import functions as F

    from storage_crawler_spark.operators import cluster
    from storage_crawler_spark.operators.kmeans import kmeans_fit_lattice
    from storage_crawler_spark.plans import views as V

    V.register_base_tables(spark, sf_dir, ("embeddings",))
    centroids, _sizes, v = kmeans_fit_lattice(spark, k=4, iters=cluster.KNN_ITERS)
    pw = cluster._knn_pw_py(v.count(), 4, cluster.KNN_CELL_TARGET, cluster.KNN_RES_BITS)

    arrs = [
        "array(" + ", ".join(f"CAST({c} AS BIGINT)" for c in cent) + ")"
        for cent in centroids
    ]
    dists = "array(" + ", ".join(
        f"aggregate(zip_with(qarr, {a}, (u, v) -> (u - v) * (u - v)), "
        f"CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        for a in arrs
    ) + ")"
    cents = "array(" + ", ".join(arrs) + ")"
    sgn = cluster._knn_res_sign(D, "qarr", "carr", cluster.KNN_RES_BITS)
    sql_g = (
        v.withColumn("__d", F.expr(dists))
        .withColumn("cid", (F.expr("array_position(__d, array_min(__d))") - 1).cast("long"))
        .withColumn("carr", F.expr(f"element_at({cents}, CAST(cid + 1 AS INT))"))
        .withColumn(
            "cell",
            F.expr(f"CAST(cid * {1 << cluster.KNN_RES_BITS} + ({sgn} % {pw}) AS BIGINT)"),
        )
        .withColumn(
            "qn",
            F.expr(
                "sqrt(CAST(aggregate(zip_with(qarr, qarr, (u, v) -> u * v), "
                "CAST(0 AS BIGINT), (acc, x) -> acc + x) AS DOUBLE))"
            ),
        )
        .filter(F.col("qn") > 0)
        .select("vec_id", "qarr", "cell", "qn")
    )
    fast_g = cluster._knn_cells_fast(v, centroids, cluster.KNN_RES_BITS, pw)
    a = _rows(sql_g, ["vec_id"])
    b = _rows(fast_g, ["vec_id"])
    assert a == b  # includes the qn DOUBLE bit-for-bit


def test_pq_assign_stats_matches_join_window(spark, sf_dir):
    """_pq_assign_stats partials vs the broadcast-join + row_number
    assignment they replaced — identical (sub, cid, pos, s, n) totals."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from storage_crawler_spark.operators import pq as pqm
    from storage_crawler_spark.plans import views as V

    V.register_base_tables(spark, sf_dir, ("embeddings",))
    pv, vs, dim = pqm._pq_lattice_vs(spark, pqm.PQ_M)
    init = pv.orderBy("vec_id").limit(pqm.PQ_KSUB).select("vec_id").collect()
    init_ids = [r.vec_id for r in init]
    seed = {
        (r.sub, init_ids.index(r.vec_id)): [int(x) for x in r.sarr]
        for r in vs.filter(F.col("vec_id").isin(init_ids)).collect()
    }
    books = [[seed[(s, c)] for c in range(len(init_ids))] for s in range(pqm.PQ_M)]

    fast = (
        pqm._pq_assign_stats(vs, books)
        .groupBy("sub", "cid", "pos")
        .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
    )

    rows = []
    for s, book in enumerate(books):
        for c, cent in enumerate(book):
            rows.append((s, c, cent))
    bdf = spark.createDataFrame(rows, "sub long, cid long, carr array<bigint>")
    dist = (
        "aggregate(zip_with(sarr, carr, (u, v) -> (u - v) * (u - v)), "
        "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )
    w = Window.partitionBy("sub", "vec_id").orderBy(F.expr(dist), "cid")
    assigned = (
        vs.join(F.broadcast(bdf), "sub")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select("sub", "vec_id", "sarr", "cid")
    )
    sql_stats = (
        assigned.select("sub", "cid", F.posexplode("sarr").alias("pos", "val"))
        .groupBy("sub", "cid", "pos")
        .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("n"))
    )
    key = ["sub", "cid", "pos"]
    assert _rows(sql_stats, key) == _rows(fast, key)


# -- winnow fk window form (round-2 change) --------------------------------


@pytest.mark.parametrize("src_kind", ["sf", "edge"])
def test_winnow_fk_window_form_matches_join_form(spark, sf_dir, edge_docs_view, src_kind):
    """gen_winnow_fk's rows_rel branch (window df count, one exchange)
    must keep exactly the rows of the groupBy+join form it replaced."""
    from storage_crawler_spark.operators import dedup, fastpath

    if src_kind == "sf":
        _register_docs(spark, sf_dir)
        src = "documents"
    else:
        src = edge_docs_view
    rows = fastpath.winnow_fp_rows(spark.table(src))
    rows.createOrReplaceTempView("_t14_wfk_rows")
    cap = dedup.WINNOW_DF_CAP
    join_form = spark.sql(
        f"""
        WITH fp_rel AS (SELECT doc_id, fp FROM _t14_wfk_rows),
        kept AS (SELECT fp FROM fp_rel GROUP BY fp HAVING count(*) <= {cap})
        SELECT f.doc_id, f.fp FROM fp_rel f JOIN kept ON f.fp = kept.fp
        """
    )
    window_form = spark.sql(dedup.gen_winnow_fk(D, rows_rel="_t14_wfk_rows"))
    assert window_form.schema == join_form.schema
    assert _rows(join_form, ["doc_id", "fp"]) == _rows(window_form, ["doc_id", "fp"])


# -- chunked jaccard pair stage (round-2 change) ---------------------------


@pytest.mark.parametrize("src_kind", ["sf", "edge"])
@pytest.mark.parametrize("thr", [0.5, 0.3])
def test_jaccard_pairs_blocked_matches_sql(spark, sf_dir, edge_docs_view, src_kind, thr):
    """fastpath.jaccard_pairs_blocked (per-(lang, rank-chunk) grouped
    Arrow stage, reduceat-vectorized intersections) must reproduce the
    SQL rank-window join's pair relation row-for-row at both the dedup
    threshold (0.5) and the histogram floor (0.3)."""
    from storage_crawler_spark.operators import dedup, fastpath

    if src_kind == "sf":
        _register_docs(spark, sf_dir)
        src = "documents"
    else:
        src = edge_docs_view
    fastpath.jaccard_prep(spark.table(src)).createOrReplaceTempView("_t14_jb_prep")
    ranked = spark.sql(dedup.gen_jaccard_ranked(D, "_t14_jb_prep", src=src))
    ranked.persist()
    ranked.createOrReplaceTempView("_t14_jb_ranked")
    sql_pairs = spark.sql(
        dedup.gen_jaccard_pairs(D, threshold=thr, ranked_rel="_t14_jb_ranked")
    )
    fast_pairs = fastpath.jaccard_pairs_blocked(ranked, threshold=thr)
    assert fast_pairs.schema == sql_pairs.schema
    assert _rows(sql_pairs, ["doc_a", "doc_b"]) == _rows(fast_pairs, ["doc_a", "doc_b"])
    ranked.unpersist()


def test_jaccard_pairs_rel_guards():
    """pairs_rel is Spark-engine-only on both consumers."""
    from storage_crawler_spark.operators import dedup
    from storage_crawler_spark.plans.dialect import DUCK

    with pytest.raises(ValueError, match="Spark engine-path"):
        dedup.gen_threshold_histogram(DUCK, pairs_rel="_p")
    with pytest.raises(ValueError, match="Spark engine-path"):
        dedup.gen_lsh_quality(DUCK, pairs_rel="_p")


# -- source overlap kept-set form (round-2 change) -------------------------


@pytest.fixture(scope="module")
def multisrc_docs_view(spark, tmp_path_factory):
    """Edge corpus with VARIED sources (plus a NULL source) so the
    overlap matrix actually has pairs to disagree on."""
    path = str(tmp_path_factory.mktemp("msrc") / "documents.parquet")
    srcs = ["web", "books", "code", None]
    rows = [(i, t, lang, srcs[i % 4]) for i, t, lang, _ in EDGE_DOCS]
    # mirrored feeds: same text under two different sources
    rows += [(100, EDGE_DOCS[0][1], "en", "books"), (101, EDGE_DOCS[0][1], "en", "code")]
    tbl = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "lang": pa.array([r[2] for r in rows], pa.string()),
            "source": pa.array([r[3] for r in rows], pa.string()),
        }
    )
    import pyarrow.parquet as pq

    pq.write_table(tbl, path)
    spark.read.parquet(path).createOrReplaceTempView("_r14_msrc_docs")
    return "_r14_msrc_docs"


def test_source_gram_rows_matches_sql_distinct(spark, multisrc_docs_view):
    """fastpath.source_gram_rows == the (source, ngram) projection of
    SELECT DISTINCT doc_id, source, ngram over gen_token_ngrams —
    row multiset equality (the downstream consumes only counts/sets)."""
    from storage_crawler_spark.operators import fastpath, text

    sql_rows = spark.sql(
        "SELECT source, ngram FROM (SELECT DISTINCT doc_id, source, ngram FROM ("
        + text.gen_token_ngrams(D, passthrough=("source",), src=multisrc_docs_view)
        + ") g WHERE source IS NOT NULL) t"
    )
    fast = fastpath.source_gram_rows(spark.table(multisrc_docs_view))
    assert fast.schema == sql_rows.schema
    assert sorted(map(tuple, sql_rows.collect())) == sorted(map(tuple, fast.collect()))


@pytest.mark.parametrize("src_kind", ["sf", "edge"])
def test_source_overlap_kept_form_matches_inline(spark, sf_dir, multisrc_docs_view, src_kind):
    """The kept-set engine path (one ngram groupBy + source-set explodes,
    no self-join) must reproduce the inline CTE chain's matrix exactly."""
    from storage_crawler_spark.operators import fastpath, text

    if src_kind == "sf":
        _register_docs(spark, sf_dir)
        src = "documents"
        inline = spark.sql(text.gen_source_overlap(D))
    else:
        src = multisrc_docs_view
        grams = spark.sql(text.gen_token_ngrams(D, passthrough=("source",), src=src))
        grams.createOrReplaceTempView("_t14_srcov_grams")
        inline = spark.sql(text.gen_source_overlap(D, gram_rel="_t14_srcov_grams"))
    fastpath.source_gram_rows(spark.table(src)).createOrReplaceTempView("_t14_srcov_rows")
    kept = spark.sql(
        "SELECT collect_set(source) AS srcs FROM _t14_srcov_rows "
        f"GROUP BY ngram HAVING count(*) <= {text.SOURCE_OVERLAP_MAX_DF}"
    )
    kept.createOrReplaceTempView("_t14_srcov_kept")
    fast = spark.sql(text.gen_source_overlap(D, kept_rel="_t14_srcov_kept"))
    # nullability flags differ (collect_set/explode lineage vs scan); the
    # oracle gate and this test compare names, types and VALUES
    assert [(f.name, f.dataType) for f in fast.schema] == [
        (f.name, f.dataType) for f in inline.schema
    ]
    assert _rows(inline, ["source_a", "source_b"]) == _rows(fast, ["source_a", "source_b"])


def test_source_overlap_kept_rel_guard():
    from storage_crawler_spark.operators import text
    from storage_crawler_spark.plans.dialect import DUCK

    with pytest.raises(ValueError, match="Spark engine-path"):
        text.gen_source_overlap(DUCK, kept_rel="_k")


@pytest.mark.parametrize("src_kind", ["sf", "edge"])
def test_containment_hash_keyed_candidates_same_pairs(
    spark, sf_dir, edge_docs_view, src_kind
):
    """Round-2 containment change: the candidate pipeline (df / prefix /
    candidate joins) keys on the int64 shingle HASH instead of the shingle
    string.  The prefix-filter theorem holds for ANY fixed global element
    order, so the output pair relation must be identical; verification
    (hs-intersection vs n_sh) is shared between both forms."""
    from storage_crawler_spark.operators import dedup, fastpath

    if src_kind == "sf":
        _register_docs(spark, sf_dir)
        src = "documents"
    else:
        src = edge_docs_view

    base = fastpath.containment_prep(spark.table(src))
    base.createOrReplaceTempView("_t14_cont_b")
    spark.sql("SELECT doc_id, hs, n_sh FROM _t14_cont_b").createOrReplaceTempView(
        "_t14_cont_pr"
    )

    out = {}
    for form, expr in (
        ("string", "shingles"),
        ("hash", D.adistinct("hs")),
    ):
        lat = D.lateral_explode(expr, "shingle")
        spark.sql(
            f"SELECT doc_id, shingle FROM _t14_cont_b {lat}"
        ).createOrReplaceTempView("_t14_cont_sh")
        df = spark.sql(
            dedup.gen_containment_pairs(
                D, sh_rel="_t14_cont_sh", prep_rel="_t14_cont_pr"
            )
        )
        out[form] = sorted(map(tuple, df.collect()))
    assert out["string"] == out["hash"]


# -- phash -------------------------------------------------------------------


@pytest.mark.parametrize("src_kind", ["sf", "edge"])
def test_phash_rel_fastpath_matches_sql(spark, sf_dir, src_kind):
    """The NumPy separable-DCT fast path must be bit-identical to the SQL
    fold form: same <64-byte exclusion, same byte plane (UTF-8 bytes 1..64,
    including a slice that splits a multibyte sequence), same rank-32 AC
    median split and bit packing.  Integer arithmetic is exact in both
    (|F| < 2^48), so equality is exact, not approximate."""
    import pyarrow as _pa
    import pyarrow.parquet as _pq

    from storage_crawler_spark.operators import fastpath, multimodal

    if src_kind == "sf":
        _register_docs(spark, sf_dir)
    else:
        # boundary corpus: exactly-64-byte payload, 63 bytes (excluded),
        # multibyte char split AT byte 64, astral plane, NULL/empty text
        rows = [
            (1, "a" * 64),                    # uniform plane: phash == 0
            (2, "a" * 63),                    # one byte short: excluded
            (3, "a" * 32 + "z" * 32),         # structured plane
            (4, "x" * 63 + "é" + "tail"),     # 2-byte char split at byte 64
            (5, "𝔘" * 20),                    # astral: 4-byte units, 80 bytes
            (6, ""),                          # empty: excluded
            (7, None),                        # NULL: excluded
            (8, "".join(chr(33 + i) for i in range(64)) * 2),  # ramp, long
        ]
        tbl = _pa.table(
            {
                "doc_id": _pa.array([r[0] for r in rows], _pa.int64()),
                "text": _pa.array([r[1] for r in rows], _pa.string()),
                "lang": _pa.array(["en"] * len(rows), _pa.string()),
                "source": _pa.array(["web"] * len(rows), _pa.string()),
                "n_chars": _pa.array(
                    [len(r[1]) if r[1] is not None else None for r in rows],
                    _pa.int64(),
                ),
            }
        )
        import tempfile, os as _os

        d = tempfile.mkdtemp(prefix="phash_edge")
        path = _os.path.join(d, "documents.parquet")
        _pq.write_table(tbl, path)
        spark.read.parquet(path).createOrReplaceTempView("documents")

    sql_df = spark.sql(multimodal.gen_phash(D))
    fast_df = fastpath.phash_rel(spark.table("documents")).orderBy("doc_id")
    assert [f.name for f in fast_df.schema.fields] == [
        f.name for f in sql_df.schema.fields
    ]
    a = _rows(sql_df, ["doc_id"])
    b = _rows(fast_df, ["doc_id"])
    assert a and a == b
    if src_kind == "edge":
        ids = [r[0] for r in a]
        assert ids == [1, 3, 4, 5, 8]         # exclusion boundary exact
        assert a[0][1] == 0 and a[0][2] == 0  # uniform plane: no bit set


# -- rake ---------------------------------------------------------------


@pytest.mark.parametrize("src_kind", ["sf", "edge"])
def test_rake_window_form_matches_join_form(spark, sf_dir, edge_docs_view, src_kind):
    """The r14 Spark-side rake restructure (island length as a count(*)
    window on cand, long islands filtered BEFORE any join, wstat a direct
    groupBy, phrase+score folded into one (doc_id, isl) aggregate after
    the single token join) must emit exactly the rows of the reference
    join-based form — the DuckDB oracle formulation, rendered here with
    Spark's dialect.  Output order included (same ORDER BY + tie-break)."""
    from storage_crawler_spark.operators import text

    if src_kind == "sf":
        _register_docs(spark, sf_dir)
        src = "documents"
    else:
        src = edge_docs_view
    new_sql = text.gen_rake_keywords(D, src=src)
    assert "candk" in new_sql  # the restructured form is what ships
    # reference formulation: the pre-r14 cand×ph join chain, byte-for-byte
    # the shape the DuckDB oracle still runs (see gen_rake_keywords' else
    # branch), rendered for Spark
    head, _, _ = new_sql.partition("candk AS (")
    phrase = D.ajoin(D.agg_arr_by("pos", "token"), " ")
    ws = D.idiv("(1000000 * deg)", "freq")
    ref_sql = f"""{head}
ph AS (
  SELECT doc_id, isl, {phrase} AS phrase,
         CAST(count(*) AS BIGINT) AS n_words
  FROM cand GROUP BY doc_id, isl
  HAVING count(*) <= 4
),
wstat AS (
  SELECT c.token, CAST(count(*) AS BIGINT) AS freq,
         CAST(sum(p.n_words) AS BIGINT) AS deg
  FROM cand c JOIN ph p ON c.doc_id = p.doc_id AND c.isl = p.isl
  GROUP BY c.token
),
wsc AS (
  SELECT token, CAST({ws} AS BIGINT) AS ws FROM wstat
),
psc AS (
  SELECT p.doc_id, p.isl, p.phrase, p.n_words,
         CAST(sum(w.ws) AS BIGINT) AS score
  FROM ph p
  JOIN cand c ON c.doc_id = p.doc_id AND c.isl = p.isl
  JOIN wsc w ON w.token = c.token
  GROUP BY p.doc_id, p.isl, p.phrase, p.n_words
)
SELECT phrase, max(n_words) AS n_words,
       CAST(count(*) AS BIGINT) AS n_occurrences,
       {D.trunc6('(CAST(max(score) AS DOUBLE) / 1000000)')} AS rake_score
FROM psc
GROUP BY phrase
ORDER BY max(score) DESC, phrase
LIMIT 40"""
    a = [tuple(r) for r in spark.sql(ref_sql).collect()]
    b = [tuple(r) for r in spark.sql(new_sql).collect()]
    assert a and a == b
