"""Product quantization (PQ) over the embeddings table — the memory-compression
tier of the similarity stack (Jégou et al. 2011, public): each vector is cut
into ``m`` subvectors, each subvector is vector-quantized against its own
``ksub``-centroid codebook (trained with the distributed Lloyd's machinery in
operators/kmeans.py), and the stored representation shrinks from ``dim``
float32s to ``m`` small codes — 32× at dim=64/m=8/float32 (one byte-sized
code replaces eight 4-byte floats per subspace).  At 100 TB of embeddings
this is the difference between an index that fits executor memory and one
that doesn't.

Spark-first shape:

- **Train** — ``m`` independent Lloyd's fits, each over the subvector slice
  (a map-only projection of the corpus); per-fit driver state is
  ksub × (dim/m) floats, total m × ksub × (dim/m) = ``dim × ksub`` — a few
  KB regardless of corpus size.
- **Encode** — ONE map-only Catalyst projection: per subspace an argmin over
  ksub literal-centroid distance folds (the same expression family as
  kmeans.assign_clusters), emitting ``codes: array<int>``.  No UDF, no
  shuffle; at scale this is a streaming re-write of the embedding column.
- **ADC query** (asymmetric distance computation) — the query stays
  UN-quantized: a per-(subspace, code) lookup table of exact
  query-subvector-to-centroid distances is built driver-side (m × ksub
  doubles) and baked into a literal array-of-arrays; each row's distance
  estimate is an ``aggregate`` fold indexing the LUT by its codes — map-only,
  then TakeOrderedAndProject.  Scanning COMPRESSED codes instead of raw
  vectors is the entire point: the hot loop reads m small ints per row.
- **Determinism** — kmeans_fit is deterministic (first-k init, tie-break to
  the lower centroid id, fixed iterations), so codebooks, codes, and ADC
  rankings are rerun-stable: the driver's rows-only check is meaningful.

The iterative fit is not SQL-expressible for the DuckDB oracle, so the
registry entries are rows-only; accuracy is covered by the measured recall
probe (:func:`pq_recall`) and the clustered-corpus pytest, mirroring the
trained-IVF precedent (sim_ivf_trained_topk).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from storage_crawler_spark.operators import check_model_state
from storage_crawler_spark.operators.fastpath import lattice_parts
from storage_crawler_spark.operators.kmeans import kmeans_fit, load_vectors


def _dist2(vec_expr: str, centroid: list[float]) -> str:
    """Squared L2 distance from ``vec_expr`` to a literal centroid."""
    arr = "array(" + ", ".join(f"CAST({c!r} AS DOUBLE)" for c in centroid) + ")"
    return (
        f"aggregate(zip_with({vec_expr}, {arr}, (u, v) -> (u - v) * (u - v)), "
        f"CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )


def _subspace_dims(dim: int, m: int) -> int:
    if dim % m != 0:
        raise ValueError(
            f"embedding dim {dim} is not divisible by m={m} subspaces; "
            f"pick m from the divisors of {dim}"
        )
    return dim // m


def pq_fit(
    vectors: DataFrame, dim: int, m: int = 8, ksub: int = 16, iters: int = 4
) -> list[list[list[float]]]:
    """Train the ``m`` codebooks; returns codebooks[s] = ksub × (dim/m)
    centroid lists.  Each subspace fit sees only its slice — a map-only
    projection — and runs the shared distributed Lloyd's loop."""
    dsub = _subspace_dims(dim, m)
    codebooks = []
    for s in range(m):
        sub = vectors.select(
            "vec_id", F.expr(f"slice(ev, {s * dsub + 1}, {dsub})").alias("ev")
        )
        codebooks.append(kmeans_fit(sub, k=ksub, iters=iters))
    return codebooks


def pq_encode(vectors: DataFrame, codebooks: list[list[list[float]]]) -> DataFrame:
    """vectors(vec_id, label, ev) → (vec_id, label, codes array<int>); one
    map-only projection, argmin per subspace with ties to the lower code
    (array_position returns the FIRST index of the min)."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    code_exprs = []
    for s in range(m):
        sub = f"slice(ev, {s * dsub + 1}, {dsub})"
        dists = "array(" + ", ".join(_dist2(sub, c) for c in codebooks[s]) + ")"
        code_exprs.append(
            f"CAST(array_position({dists}, array_min({dists})) - 1 AS INT)"
        )
    codes = "array(" + ", ".join(code_exprs) + ")"
    return vectors.select("vec_id", "label", F.expr(codes).alias("codes"))


def _adc_lut(q_ev: list[float], codebooks: list[list[list[float]]]) -> list[list[float]]:
    """Exact squared distances from each query SUBvector to every centroid
    of its subspace — the ADC lookup table (m × ksub doubles)."""
    dsub = len(codebooks[0][0])
    lut = []
    for s, book in enumerate(codebooks):
        q_sub = q_ev[s * dsub : (s + 1) * dsub]
        lut.append(
            [sum((u - v) * (u - v) for u, v in zip(q_sub, c)) for c in book]
        )
    return lut


def pq_adc_topk(
    spark,
    sf_dir: str,
    query_vec_id: int = 0,
    k: int = 10,
    m: int = 8,
    ksub: int = 16,
    iters: int = 3,
) -> DataFrame:
    """Approximate k-nearest-neighbours of ``query_vec_id`` by PQ/ADC:
    (vec_id, label, est_d2) ranked by estimated squared L2 distance.

    The scan reads only the codes column; the LUT fold is
    ``sum_s lut[s][codes[s]]`` — m literal-array lookups per row inside
    whole-stage codegen, fused to TakeOrderedAndProject."""
    vectors = load_vectors(spark, sf_dir)
    vectors.persist()
    try:
        first = vectors.select(F.size("ev").alias("d")).limit(1).collect()
        if not first:
            raise ValueError("empty embeddings table")
        dim = first[0].d
        codebooks = pq_fit(vectors, dim, m=m, ksub=ksub, iters=iters)
        codes = pq_encode(vectors, codebooks)
        q_row = vectors.filter(F.col("vec_id") == query_vec_id).select("ev").collect()
        if not q_row:
            raise ValueError(f"query_vec_id={query_vec_id} not found")
        lut = _adc_lut(list(q_row[0].ev), codebooks)
        lut_lit = (
            "array("
            + ", ".join(
                "array(" + ", ".join(f"CAST({d!r} AS DOUBLE)" for d in row) + ")"
                for row in lut
            )
            + ")"
        )
        est = (
            f"aggregate(sequence(1, {m}), CAST(0.0 AS DOUBLE), (acc, s) -> "
            f"acc + element_at(element_at({lut_lit}, s), element_at(codes, s) + 1))"
        )
        return (
            codes.filter(F.col("vec_id") != query_vec_id)
            .select("vec_id", "label", F.round(F.expr(est), 6).alias("est_d2"))
            .orderBy("est_d2", "vec_id")
            .limit(k)
        )
    finally:
        vectors.unpersist()


def pq_recall(
    spark,
    sf_dir: str,
    query_vec_id: int = 0,
    k: int = 10,
    m: int = 8,
    ksub: int = 16,
    iters: int = 3,
) -> DataFrame:
    """Recall@k of the PQ/ADC ranking against the exact squared-L2 top-k —
    the measured-accuracy contract of the compressed tier (same shape as
    gen_ivf_recall / gen_rp_lsh_recall, driver-composed because the fit is
    iterative).  One row: k, n_hits, recall."""
    vectors = load_vectors(spark, sf_dir)
    q_row = vectors.filter(F.col("vec_id") == query_vec_id).select("ev").collect()
    if not q_row:
        raise ValueError(f"query_vec_id={query_vec_id} not found")
    q_arr = (
        "array(" + ", ".join(f"CAST({v!r} AS DOUBLE)" for v in q_row[0].ev) + ")"
    )
    exact_d2 = (
        f"aggregate(zip_with(ev, {q_arr}, (u, v) -> (u - v) * (u - v)), "
        f"CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )
    exact = (
        vectors.filter(F.col("vec_id") != query_vec_id)
        .select("vec_id", F.expr(exact_d2).alias("d2"))
        .orderBy("d2", "vec_id")
        .limit(k)
    )
    approx = pq_adc_topk(spark, sf_dir, query_vec_id, k, m, ksub, iters)
    hits = exact.join(approx, "vec_id").count()
    return spark.createDataFrame(
        [(k, hits, round(hits / k, 6))], "k int, n_hits int, recall double"
    )


# ---------------------------------------------------------------------------
# integer-lattice PQ: the oracle-gated compressed tier (round 9)
# ---------------------------------------------------------------------------
#
# Same upgrade as the trained-IVF entry: coordinates quantize to the 1/2^16
# lattice, every subspace codebook trains with exact BIGINT arithmetic
# (sums + truncating-div updates), codes and the ADC estimate are pure
# integers — so the ENTIRE compressed tier (train -> encode -> ADC rank ->
# recall) is verified across engines by one unrolled CTE chain.  All m
# subspaces train in ONE chain keyed by ``sub`` (the per-subspace relations
# are the same CTEs with one extra key column); the init ids are the global
# ksub lowest vec_ids, shared across subspaces (every subspace sees every
# vector, so the per-subspace "k lowest" sets coincide by construction).

PQ_Q = 65536
PQ_M = 8
PQ_KSUB = 16
PQ_ITERS = 3


def _pq_sgn_div_py(x: int, n: int) -> int:
    return -((-x) // n) if x < 0 else x // n


def pq_lattice_ctes(
    d, m: int = PQ_M, ksub: int = PQ_KSUB, iters: int = PQ_ITERS
) -> tuple[str, str, str, str]:
    """Unrolled chain for the subspace-keyed lattice PQ fit: returns
    (ctes, final codebook relation ``pkm{iters}`` (sub, cid, carr), final
    code relation ``pa{iters}`` (sub, vec_id, cid), the sliced vector
    relation ``vs`` (vec_id, label, sub, sarr)).  Vectors whose dimension
    is not the store maximum or not divisible by ``m`` are excluded (a
    PQ codebook is only defined on a uniform layout; the engine path
    raises on the same condition)."""
    from storage_crawler_spark.operators.similarity import _sgn_div

    mat = " MATERIALIZED" if d.name == "duck" else ""
    ev = "transform(embedding, x -> CAST(x AS DOUBLE))" if d.name == "spark" \
        else "CAST(embedding AS DOUBLE[])"
    q = d.transform("ev", "x", f"CAST(floor(x * {PQ_Q}.0e0) AS BIGINT)")
    dist = d.reduce_bigint(d.zip_sub_sq("vs.sarr", "c.carr"), "acc + CAST(x AS BIGINT)")
    parts = [
        f"""pv0 AS (
  SELECT vec_id, label, {q} AS qarr FROM
  (SELECT vec_id, label, {ev} AS ev FROM embeddings
   WHERE embedding IS NOT NULL AND {d.size(d.cast_double_arr('embedding'))} >= 1) t
)""",
        f"psz AS (SELECT max({d.size('qarr')}) AS mx FROM pv0)",
        f"""pv AS{mat} (
  SELECT pv0.* FROM pv0 CROSS JOIN psz
  WHERE {d.size('qarr')} = psz.mx AND psz.mx % {m} = 0
)""",
        # one row per (vector, subspace) with the dsub-dim slice
        f"""vs AS{mat} (
  SELECT vec_id, label, CAST(sub AS BIGINT) AS sub,
         {d.aslice('qarr', f"sub * {d.idiv('n', str(m))} + 1", d.idiv('n', str(m)))} AS sarr
  FROM (SELECT vec_id, label, qarr, {d.size('qarr')} AS n FROM pv) b
  {d.lateral_seq('0', str(m - 1), 'sub')}
)""",
        f"pi0 AS (SELECT vec_id FROM pv ORDER BY vec_id LIMIT {ksub})",
        f"pia AS (SELECT {d.agg_arr_by('vec_id', 'vec_id')} AS ids FROM pi0)",
        f"""pkm0 AS (
  SELECT vs.sub, CAST(x.i - 1 AS BIGINT) AS cid, vs.sarr AS carr
  FROM (
    SELECT i, {d.elem('ids', 'i')} AS vid
    FROM (SELECT ids FROM pia WHERE {d.size('ids')} >= 1) y
    {d.lateral_seq('1', d.size('ids'), 'i')}
  ) x
  JOIN vs ON vs.vec_id = x.vid
)""",
    ]
    lat_dim = d.lateral_seq("1", d.size("sarr"), "i")
    for t in range(1, iters + 1):
        p = t - 1
        parts.append(
            f"""pa{t} AS{mat} (
  SELECT sub, vec_id, sarr, cid FROM (
    SELECT vs.sub, vs.vec_id, vs.sarr, c.cid,
           row_number() OVER (PARTITION BY vs.sub, vs.vec_id
                              ORDER BY {dist}, c.cid) AS rnk
    FROM vs JOIN pkm{p} c ON vs.sub = c.sub
  ) r WHERE rnk = 1
)"""
        )
        parts.append(
            f"pn{t} AS (SELECT sub, cid, CAST(count(*) AS BIGINT) AS n "
            f"FROM pa{t} GROUP BY sub, cid)"
        )
        parts.append(
            f"""ps{t} AS (
  SELECT sub, cid, i AS dim, CAST(sum({d.elem('sarr', 'i')}) AS BIGINT) AS s
  FROM pa{t}
  {lat_dim}
  GROUP BY sub, cid, i
)"""
        )
        parts.append(
            f"""pc{t} AS (
  SELECT s.sub, s.cid, {d.agg_arr_by('s.dim', _sgn_div(d, 's.s', 'n.n'))} AS carr
  FROM ps{t} s JOIN pn{t} n ON s.sub = n.sub AND s.cid = n.cid
  GROUP BY s.sub, s.cid
)"""
        )
        parts.append(
            f"""pkm{t} AS{mat} (
  SELECT p.sub, p.cid, coalesce(nc.carr, p.carr) AS carr
  FROM pkm{p} p LEFT JOIN pc{t} nc ON p.sub = nc.sub AND p.cid = nc.cid
)"""
        )
    # the CODES are the encode against the FINAL codebook (one more argmin
    # pass — pa{iters} is the last UPDATE's input assignment, one codebook
    # behind; the engine path encodes against the trained books, so the
    # oracle must too)
    parts.append(
        f"""pa_fin AS{mat} (
  SELECT sub, vec_id, sarr, cid FROM (
    SELECT vs.sub, vs.vec_id, vs.sarr, c.cid,
           row_number() OVER (PARTITION BY vs.sub, vs.vec_id
                              ORDER BY {dist}, c.cid) AS rnk
    FROM vs JOIN pkm{iters} c ON vs.sub = c.sub
  ) r WHERE rnk = 1
)"""
    )
    return ",\n".join(parts), f"pkm{iters}", "pa_fin", "vs"


def gen_pq_lattice_topk(
    d, query_vec_id: int = 0, k: int = 10,
    m: int = PQ_M, ksub: int = PQ_KSUB, iters: int = PQ_ITERS,
) -> str:
    """Oracle-gated PQ/ADC top-k: (vec_id, label, est_d2) ranked by the
    exact-integer ADC estimate — LUT = per-(subspace, code) squared
    distance from the UN-quantized (lattice) query subvector to the
    trained centroid, estimate = the sum of each vector's m LUT cells.
    Codes are the final assignment relation; the rank fuses to
    TakeOrderedAndProject (no window)."""
    ctes, km, a, vs = pq_lattice_ctes(d, m, ksub, iters)
    ld = d.reduce_bigint(d.zip_sub_sq("c.carr", "q.sarr"), "acc + CAST(x AS BIGINT)")
    return f"""
WITH {ctes},
q AS (SELECT sub, sarr FROM {vs} WHERE vec_id = {query_vec_id}),
lut AS (
  SELECT c.sub, c.cid, CAST({ld} AS BIGINT) AS ld
  FROM {km} c JOIN q ON c.sub = q.sub
),
est AS (
  SELECT a.vec_id, CAST(sum(l.ld) AS BIGINT) AS est_d2
  FROM {a} a JOIN lut l ON a.sub = l.sub AND a.cid = l.cid
  WHERE a.vec_id <> {query_vec_id}
  GROUP BY a.vec_id
)
SELECT e.vec_id, CAST(lb.label AS INT) AS label, e.est_d2
FROM est e
JOIN (SELECT DISTINCT vec_id, label FROM pv) lb ON e.vec_id = lb.vec_id
ORDER BY e.est_d2, e.vec_id
LIMIT {k}
""".strip()


def gen_pq_lattice_recall(
    d, query_vec_id: int = 0, k: int = 10,
    m: int = PQ_M, ksub: int = PQ_KSUB, iters: int = PQ_ITERS,
) -> str:
    """Recall@k of the lattice PQ/ADC ranking against the exact integer
    squared-L2 top-k — the measured-accuracy contract, now itself
    oracle-gated (both the approximate AND the exact tier are integer-
    deterministic, so n_hits is a hash-exact scalar)."""
    approx = gen_pq_lattice_topk(d, query_vec_id, k, m, ksub, iters)
    exd = d.reduce_bigint(d.zip_sub_sq("pv.qarr", "qq.qarr"), "acc + CAST(x AS BIGINT)")
    # the exact tier re-derives the lattice store (standalone statement)
    ev = "transform(embedding, x -> CAST(x AS DOUBLE))" if d.name == "spark" \
        else "CAST(embedding AS DOUBLE[])"
    qz = d.transform("ev", "x", f"CAST(floor(x * {PQ_Q}.0e0) AS BIGINT)")
    return f"""
WITH ax AS (
{approx}
),
xv AS (
  SELECT vec_id, {qz} AS qarr FROM
  (SELECT vec_id, {ev} AS ev FROM embeddings WHERE embedding IS NOT NULL) t
),
ex AS (
  SELECT pv.vec_id
  FROM xv pv CROSS JOIN (SELECT qarr FROM xv WHERE vec_id = {query_vec_id}) qq
  WHERE pv.vec_id <> {query_vec_id}
  ORDER BY {exd}, pv.vec_id
  LIMIT {k}
)
SELECT {k} AS k, CAST(count(*) AS BIGINT) AS n_hits,
       {d.trunc6(f"CAST(count(*) AS DOUBLE) / {k}")} AS recall
FROM ax JOIN ex ON ax.vec_id = ex.vec_id
""".strip()


def _pq_lattice_vs(spark, m: int):
    """(vec_id, label, sub, sarr) lattice slice relation + the uniform
    dimension (raises on a non-uniform or non-divisible store — the
    engine-side loud twin of the chain's exclusion filter)."""
    from storage_crawler_spark.plans.dialect import SPARK

    ev = "transform(embedding, x -> CAST(x AS DOUBLE))"
    qz = SPARK.transform("ev", "x", f"CAST(floor(x * {PQ_Q}.0e0) AS BIGINT)")
    pv = spark.sql(
        f"SELECT vec_id, label, {qz} AS qarr FROM "
        f"(SELECT vec_id, label, {ev} AS ev FROM embeddings "
        f" WHERE embedding IS NOT NULL AND size(embedding) >= 1) t"
    )
    dims = [r.d for r in pv.select(F.size("qarr").alias("d")).distinct().collect()]
    if not dims:
        raise ValueError("cannot fit PQ on an empty vector set")
    dim = max(dims)
    _subspace_dims(dim, m)
    # repartition BEFORE the checkpoint: the store is one parquet file, so
    # the checkpointed RDD would otherwise pin the whole corpus in ONE
    # partition and every downstream pass (fit rounds, encode, ADC scan)
    # would run single-threaded (measured: the sf0.1 ADC scan ran as one
    # 10 s task).  Map-only downstream + order-free BIGINT aggregates, so
    # values are partitioning-independent.
    # r15 (guide §2.2): partition count is scale-adaptive (rows / target
    # batch size, capped at defaultParallelism) — a 2000-row store split
    # 32 ways paid ~32 Arrow task setups per fit round for ~60-row
    # batches; see fastpath.lattice_parts.
    n = lattice_parts(spark, spark.table("embeddings").count())
    pv = pv.filter(F.size("qarr") == dim).repartition(n).localCheckpoint()
    dsub = dim // m
    vs = pv.select(
        "vec_id",
        "label",
        F.explode(F.array(*[F.lit(s) for s in range(m)])).alias("sub"),
        "qarr",
    ).select(
        "vec_id",
        "label",
        F.col("sub").cast("long").alias("sub"),
        F.expr(f"slice(qarr, sub * {dsub} + 1, {dsub})").alias("sarr"),
    ).localCheckpoint()
    return pv, vs, dim


def _d2_unrolled(arr: str, base: int, cent: list[int]) -> str:
    """Codegen-friendly integer squared distance to a LITERAL centroid:
    explicit ``element_at`` arithmetic instead of ``aggregate(zip_with(
    ...))`` higher-order folds, which Catalyst INTERPRETS per element
    (measured r11, sf0.1: the interpreted encode+ADC was ~6.3s of
    sim_pq_topk's 9.6s; the unrolled form whole-stage-compiles).  Values
    are exactly the fold's: same BIGINT terms, same order."""
    terms = []
    for i, c in enumerate(cent):
        t = f"(element_at({arr}, {base + i + 1}) - CAST({int(c)} AS BIGINT))"
        terms.append(f"{t} * {t}")
    return "(" + " + ".join(terms) + ")"


def _pq_assign_stats(vs, books):
    """Per-batch partial (sub, cid, pos, s, n) coordinate sums of the
    NumPy PQ assignment — see the pq_fit_lattice loop comment for the
    exactness contract.  ``books`` is the rectangular per-sub codebook
    list; consumers groupBy(sub, cid, pos) and sum the partials."""
    B = np.asarray(books, dtype=np.int64)  # (m, nc, dsub)

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            S = np.stack(pdf["sarr"].to_numpy()).astype(np.int64, copy=False)
            sub = pdf["sub"].to_numpy()
            subs_o, cids_o, poss_o, ss_o, ns_o = [], [], [], [], []
            for s in np.unique(sub):
                msk = sub == s
                Xs = S[msk]
                d2 = ((Xs[:, None, :] - B[s][None, :, :]) ** 2).sum(axis=2)
                cid = d2.argmin(axis=1)
                for c in np.unique(cid):
                    sel = Xs[cid == c]
                    sums = sel.sum(axis=0, dtype=np.int64)
                    dsub = sel.shape[1]
                    subs_o.extend([int(s)] * dsub)
                    cids_o.extend([int(c)] * dsub)
                    poss_o.extend(range(dsub))
                    ss_o.extend(int(x) for x in sums)
                    ns_o.extend([sel.shape[0]] * dsub)
            yield pd.DataFrame(
                {
                    "sub": pd.Series(subs_o, dtype="int64"),
                    "cid": pd.Series(cids_o, dtype="int64"),
                    "pos": pd.Series(poss_o, dtype="int32"),
                    "s": pd.Series(ss_o, dtype="int64"),
                    "n": pd.Series(ns_o, dtype="int64"),
                }
            )

    return vs.select("sub", "sarr").mapInPandas(
        gen, "sub long, cid long, pos int, s long, n long"
    )


def pq_fit_lattice(spark, m: int = PQ_M, ksub: int = PQ_KSUB, iters: int = PQ_ITERS):
    """Spark ENGINE path of the lattice PQ fit: ONE distributed loop over
    the (vector × subspace) slice relation — assignment joins the m·ksub
    codebook rows (a broadcast), coordinate sums partial-combine per
    (sub, cid, dim), updates divide once on the driver.  Bit-identical to
    :func:`pq_lattice_ctes` by construction.  Returns (pv, vs,
    codebooks[s][c] = int list).

    r11 note: a map-only literal-argmin rewrite of this loop was measured
    and REJECTED — planting m·ksub unrolled centroid expressions per
    iteration ballooned the task binary (janino 64 KB method abort in the
    fused form; executor heap OOM deserializing the per-sub-branch form).
    The fit is ~2.7s of sim_pq_topk's 9.6s at sf0.1; the encode/ADC scan
    was the real hot spot and is unrolled instead (see
    :func:`_d2_unrolled` / :func:`pq_lattice_topk`)."""
    pv, vs, dim = _pq_lattice_vs(spark, m)
    # bounded-model-state contract (r12): the codebook tensor is
    # m x ksub x (dim/m) = ksub x dim cells of driver state per round
    check_model_state(ksub * dim, "pq_fit_lattice (codebook tensor)")
    init = pv.orderBy("vec_id").limit(ksub).select("vec_id").collect()
    init_ids = [r.vec_id for r in init]
    seed = {
        (r.sub, init_ids.index(r.vec_id)): [int(x) for x in r.sarr]
        for r in vs.filter(F.col("vec_id").isin(init_ids)).collect()
    }
    books = [
        [seed[(s, c)] for c in range(len(init_ids))] for s in range(m)
    ]
    for _ in range(iters):
        # r14 optimization: the per-round assignment is a NumPy int64
        # argmin per Arrow batch against the (m × ksub × dsub) codebook
        # tensor, with the coordinate sums partial-combined in the same
        # Python stage — replaces the broadcast-join + interpreted
        # HOF-fold + PARTITION BY (sub, vec_id) row_number window (the
        # measured majority of the fit's CPU).  Bit-identical: exact
        # int64 == BIGINT, np.argmin first occurrence == the window's
        # (dist, cid) lowest-cid tie-break; _pq_lattice_vs pins every
        # sarr to dsub elements, so no ragged-store guard is needed.
        stats = (
            _pq_assign_stats(vs, books)
            .groupBy("sub", "cid", "pos")
            .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
            .collect()
        )
        by_key: dict[tuple[int, int], dict[int, tuple[int, int]]] = {}
        for r in stats:
            by_key.setdefault((int(r.sub), int(r.cid)), {})[int(r.pos)] = (
                int(r.s), int(r.n),
            )
        for (s, c), poses in by_key.items():
            books[s][c] = [
                _pq_sgn_div_py(poses[i][0], poses[i][1]) for i in range(len(poses))
            ]
    return pv, vs, books


def pq_lattice_topk(
    spark, query_vec_id: int = 0, k: int = 10,
    m: int = PQ_M, ksub: int = PQ_KSUB, iters: int = PQ_ITERS,
) -> DataFrame:
    """Engine path of :func:`gen_pq_lattice_topk`: encode + ADC in ONE
    Arrow-vectorized pandas UDF — per batch, numpy int64 computes every
    (vector, sub) argmin against the (m, ksub, dsub) codebook tensor and
    folds the query LUT, bit-identical to the SQL chain (exact integer
    arithmetic; ``np.argmin`` first-min == the chain's lowest-cid
    tie-break) — then fused top-k.

    r11 measurement note: this replaced the ``aggregate(zip_with(...))``
    literal-codebook expression, which Catalyst INTERPRETS per element
    (~6.3s of the 9.6s sf0.1 wall); a codegen'd unrolled-arithmetic
    rewrite was ALSO measured and rejected (janino 64 KB abort fused,
    slower + task-binary bloat split per sub).  The numpy batch form is
    the vectorized path the house UDF rules prefer when built-ins can't
    express the op efficiently."""
    pv, vs, books = pq_fit_lattice(spark, m, ksub, iters)
    q_rows = {
        int(r.sub): [int(x) for x in r.sarr]
        for r in vs.filter(F.col("vec_id") == query_vec_id).collect()
    }
    if not q_rows:
        raise ValueError(f"query_vec_id={query_vec_id} not found")
    dsub = len(books[0][0])
    lut = [
        [sum((u - v) * (u - v) for u, v in zip(q_rows[s], c)) for c in books[s]]
        for s in range(m)
    ]
    books_np = np.asarray(books, dtype=np.int64)  # (m, ksub, dsub)
    lut_np = np.asarray(lut, dtype=np.int64)      # (m, ksub)

    @F.pandas_udf("long")
    def _adc_est(qarrs: pd.Series) -> pd.Series:
        x = np.stack(qarrs.to_numpy())  # (n, dim) int64
        est = np.zeros(len(x), dtype=np.int64)
        for s in range(m):
            sl = x[:, s * dsub : (s + 1) * dsub]
            d = ((sl[:, None, :] - books_np[s][None, :, :]) ** 2).sum(axis=2)
            est += lut_np[s][np.argmin(d, axis=1)]
        return pd.Series(est)

    return (
        pv.filter(F.col("vec_id") != query_vec_id)
        .select(
            "vec_id",
            F.col("label").cast("int").alias("label"),
            _adc_est(F.col("qarr").cast("array<long>")).alias("est_d2"),
        )
        .orderBy("est_d2", "vec_id")
        .limit(k)
    )


def pq_lattice_recall(
    spark, query_vec_id: int = 0, k: int = 10,
    m: int = PQ_M, ksub: int = PQ_KSUB, iters: int = PQ_ITERS,
) -> DataFrame:
    """Engine path of :func:`gen_pq_lattice_recall`: integer-exact top-k
    vs the lattice ADC ranking, one scalar row."""
    approx = pq_lattice_topk(spark, query_vec_id, k, m, ksub, iters)
    from storage_crawler_spark.plans.dialect import SPARK

    ev = "transform(embedding, x -> CAST(x AS DOUBLE))"
    qz = SPARK.transform("ev", "x", f"CAST(floor(x * {PQ_Q}.0e0) AS BIGINT)")
    xv = spark.sql(
        f"SELECT vec_id, {qz} AS qarr FROM "
        f"(SELECT vec_id, {ev} AS ev FROM embeddings WHERE embedding IS NOT NULL) t"
    )
    q_row = xv.filter(F.col("vec_id") == query_vec_id).select("qarr").collect()
    if not q_row:
        raise ValueError(f"query_vec_id={query_vec_id} not found")
    exd = _d2_unrolled("qarr", 0, [int(x) for x in q_row[0].qarr])
    exact = (
        xv.filter(F.col("vec_id") != query_vec_id)
        .select("vec_id", F.expr(exd).alias("d2"))
        .orderBy("d2", "vec_id")
        .limit(k)
    )
    hits = exact.join(approx, "vec_id").count()
    return spark.createDataFrame(
        [(k, hits, __import__("math").floor(hits / k * 1e6) / 1e6)],
        "k int, n_hits long, recall double",
    )
