"""Distributed Lloyd's k-means over the embeddings table — the trained
coarse quantizer that upgrades the IVF similarity tier from sign-pattern
buckets (operators/similarity.py) to real learned centroids.

Spark-first shape (the one that holds at 100 TB):

- **Assign** is a map: centroids are a k×dim literal broadcast into a
  Catalyst expression (k is small by construction — a coarse quantizer is
  k ≈ √n partitions, not n), argmin of squared distance per row.  No UDF:
  the distance unrolls into `aggregate(zip_with(...))` folds.
- **Update** explodes assigned vectors to (cluster, dim_pos, value) rows and
  mean-aggregates per (cluster, dim_pos): one shuffle of n·dim skinny rows,
  partial-aggregated map-side, then k×dim means — kilobytes — collect to
  the driver for the next round's broadcast.  This is the canonical
  distributed k-means data flow (MLlib's KMeans does the same dance with a
  denser accumulator).
- **Determinism**: init = the k lowest vec_ids' vectors; ties in argmin
  break toward the lower cluster id; fixed iteration count.  Same input ⇒
  same model, so downstream entries are driver-checkable (rows-only: the
  iteration is not SQL-expressible for the DuckDB oracle).

An empty cluster keeps its previous centroid (standard Lloyd's fallback).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from storage_crawler_spark.operators import check_model_state
from storage_crawler_spark.operators.fastpath import lattice_parts


def _dist2_expr(centroid: list[float]) -> str:
    """Squared L2 distance from ``ev`` to a literal centroid, as one fold."""
    arr = "array(" + ", ".join(f"CAST({c!r} AS DOUBLE)" for c in centroid) + ")"
    return (
        f"aggregate(zip_with(ev, {arr}, (u, v) -> (u - v) * (u - v)), "
        f"CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )


def assign_clusters(vectors: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """vectors(vec_id, ev) + literal centroids → (vec_id, ev, cluster);
    nearest centroid by squared L2, ties → lowest cluster id
    (array_position returns the FIRST index of the min)."""
    dists = "array(" + ", ".join(_dist2_expr(c) for c in centroids) + ")"
    return vectors.withColumn("__d", F.expr(dists)).withColumn(
        "cluster", (F.expr("array_position(__d, array_min(__d))") - 1).cast("int")
    ).drop("__d")


def farthest_first_init(vectors: DataFrame, k: int) -> list[list[float]]:
    """Deterministic k-means++-style seeding: start from the lowest vec_id,
    then repeatedly take the vector FARTHEST (max squared distance to its
    nearest chosen centroid; ties → lowest vec_id).  Farthest-first is the
    derandomized k-means++ (the 2-approximation for the k-center objective)
    — seeds spread across the data instead of the first k rows, which can
    all share one true cluster and strand Lloyd's in a poor local minimum.

    Each of the k-1 rounds is one distributed argmax over a map-only
    distance expression (TakeOrderedAndProject, one row to the driver);
    total driver state is k×dim floats.  Fully deterministic ⇒ downstream
    rows-only driver checks stay reproducible.
    """
    first = vectors.orderBy("vec_id").limit(1).select("ev").collect()
    if not first:
        raise ValueError("cannot seed k-means from an empty vector set")
    chosen: list[list[float]] = [list(first[0].ev)]
    while len(chosen) < k:
        min_d2 = "least(" + ", ".join(_dist2_expr(c) for c in chosen) + ")" \
            if len(chosen) > 1 else _dist2_expr(chosen[0])
        far = (
            vectors.select("vec_id", "ev", F.expr(min_d2).alias("d2"))
            .orderBy(F.col("d2").desc(), "vec_id")
            .limit(1)
            .collect()
        )
        if far[0].d2 == 0.0:
            # every remaining vector coincides with a chosen seed: fewer
            # than k distinct points exist.  Return the distinct seeds
            # (matching the 'first' init, which also returns < k when the
            # corpus is smaller) instead of silently duplicating centroids.
            break
        chosen.append(list(far[0].ev))
    return chosen


def kmeans_fit(
    vectors: DataFrame, k: int = 8, iters: int = 5, init: str = "first"
) -> list[list[float]]:
    """Lloyd's iterations; returns the k×dim centroid list.

    ``vectors`` needs (vec_id, ev: array<double>).  The per-iteration
    driver state is k×dim floats; everything heavy stays distributed.
    ``init``: 'first' (the k lowest vec_ids — one job, the default) or
    'farthest' (deterministic spread seeding above).  Measured on the
    synthetic embeddings the two converge to equal inertia (uniform-ish
    data has no bad seeds to avoid), so the cheap init stays default;
    'farthest' is for genuinely clustered corpora, where first-k seeds
    can all land in one true cluster.
    """
    if init == "farthest":
        centroids = farthest_first_init(vectors, k)
    else:
        init_rows = vectors.orderBy("vec_id").limit(k).select("ev").collect()
        centroids = [list(r.ev) for r in init_rows]
    if not centroids:
        # an empty store must fail LOUDLY here, not as an unresolvable
        # array_position over a zero-arm distance array three calls later
        # (empty-input battery catch); same contract as the farthest init
        raise ValueError("cannot fit k-means on an empty vector set")
    # bounded-model-state contract (r12): k x dim driver state per round
    check_model_state(k * len(centroids[0]), "kmeans_fit (k x dim centroids)")
    for _ in range(iters):
        assigned = assign_clusters(vectors, centroids)
        means = (
            assigned.select("cluster", F.posexplode("ev").alias("pos", "val"))
            .groupBy("cluster", "pos")
            .agg(F.avg("val").alias("m"))
            .collect()
        )
        new = [list(c) for c in centroids]  # empty cluster → keep previous
        by_cluster: dict[int, dict[int, float]] = {}
        for r in means:
            by_cluster.setdefault(r.cluster, {})[r.pos] = r.m
        for cid, poses in by_cluster.items():
            new[cid] = [poses[i] for i in range(len(poses))]
        centroids = new
    return centroids


def inertia(vectors: DataFrame, centroids: list[list[float]]) -> float:
    """Sum of squared distances to assigned centroids (the Lloyd's
    objective; must be non-increasing over iterations)."""
    assigned = assign_clusters(vectors, centroids)
    dist_cases = "CASE cluster " + " ".join(
        f"WHEN {i} THEN {_dist2_expr(c)}" for i, c in enumerate(centroids)
    ) + " END"
    return assigned.select(F.expr(dist_cases).alias("d2")).agg(F.sum("d2")).collect()[0][0]


def load_vectors(spark, sf_dir: str) -> DataFrame:
    from storage_crawler_spark.plans.views import read_parquet

    return (
        read_parquet(spark, f"{sf_dir}/embeddings.parquet")
        .select(
            "vec_id",
            "label",
            F.expr("transform(embedding, v -> CAST(v AS DOUBLE))").alias("ev"),
        )
    )


def ivf_trained_topk(spark, sf_dir: str, query_vec_id: int = 0, k_neighbours: int = 10,
                     k_clusters: int = 8, iters: int = 3, nprobe: int = 2) -> DataFrame:
    """IVF top-k with TRAINED centroids: fit the coarse quantizer, assign
    the corpus, probe the ``nprobe`` clusters whose centroids are nearest
    the query (multi-probe — the standard IVF recall lever: true
    neighbours of a query near a cell boundary live in the adjacent cell,
    which single-probe misses structurally).

    The centroids are driver-held (k×dim floats), so probe selection is a
    driver-side argsort and reaches the plan as a pushed-down
    ``cluster IN (...)`` filter — no join for candidate selection at all;
    the only join is broadcasting the single query row for the cosine.
    ``nprobe = k_clusters`` degenerates to exact brute force (every cell
    probed), which is the property the recall test pins.  The plan shape
    after training matches the sign-bucket variant (bucket filter +
    map-only cosine + TakeOrderedAndProject); training cost amortizes over
    every query served from the index."""
    vectors = load_vectors(spark, sf_dir)
    vectors.persist()
    centroids = kmeans_fit(vectors, k=k_clusters, iters=iters)
    assigned = assign_clusters(vectors, centroids)
    norms = assigned.withColumn(
        "nrm", F.expr("sqrt(aggregate(zip_with(ev, ev, (u, v) -> u * v), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x))")
    )
    # probe selection: the query vector is one row (O(dim) to the driver),
    # centroid distances are a python-side argsort over k scalars
    q_row = vectors.filter(F.col("vec_id") == query_vec_id).select("ev").collect()
    if not q_row:
        raise ValueError(f"query_vec_id={query_vec_id} not found")
    q_ev = list(q_row[0].ev)
    if not any(q_ev):
        raise ValueError(f"query_vec_id={query_vec_id} is the zero vector; cosine undefined")
    d2 = [
        (sum((u - v) * (u - v) for u, v in zip(q_ev, c)), i)
        for i, c in enumerate(centroids)
    ]
    probes = [i for _, i in sorted(d2)[: max(1, min(nprobe, k_clusters))]]
    q = norms.filter(F.col("vec_id") == query_vec_id).select(
        F.col("ev").alias("q_ev"), F.col("nrm").alias("q_nrm")
    )
    cos = "aggregate(zip_with(ev, q_ev, (u, v) -> u * v), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x) / (nrm * q_nrm)"
    return (
        # nrm > 0: a zero-norm corpus vector would throw ANSI DIVIDE_BY_ZERO
        norms.filter((F.col("nrm") > 0) & F.col("cluster").isin(probes))
        .join(F.broadcast(q))
        .filter(F.col("vec_id") != query_vec_id)
        .select("vec_id", "label", F.round(F.expr(cos), 4).alias("cosine"))
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(k_neighbours)
    )


# ---------------------------------------------------------------------------
# integer-lattice k-means: the oracle-gated fit (round 9)
# ---------------------------------------------------------------------------
#
# The float Lloyd's fit above stays the pragmatic engine path; this lattice
# variant trades float means for exact BIGINT arithmetic so the WHOLE
# iterative fit is oracle-checkable — the PageRank/PCA discipline applied to
# clustering: coordinates quantize to the 1/2^16 lattice (|x| < 8 keeps
# |xq| < 2^19; squared diffs < 2^40, x 64 dims < 2^46 — far inside BIGINT),
# centroid updates are truncating signed division of exact coordinate sums,
# init is the k lowest vec_ids, argmin ties break to the lowest cluster id,
# and the iteration count is fixed.  Same input => same model, in BOTH
# engines, bit for bit.

KM_Q = 65536
KM_K = 8
KM_ITERS = 4


def _km_sgn_div_py(x: int, n: int) -> int:
    """Truncating signed integer division (matches similarity._sgn_div)."""
    return -((-x) // n) if x < 0 else x // n


def _km_lattice_sql(d) -> str:
    """(vec_id, label, qarr BIGINT-array) lattice projection of the
    embedding store — the shared input of the lattice fit, the oracle
    chain, and the trained-IVF probe."""
    ev = "transform(embedding, x -> CAST(x AS DOUBLE))" if d.name == "spark" \
        else "CAST(embedding AS DOUBLE[])"
    q = d.transform("ev", "x", f"CAST(floor(x * {KM_Q}.0e0) AS BIGINT)")
    return (
        f"SELECT vec_id, label, {q} AS qarr FROM "
        f"(SELECT vec_id, label, {ev} AS ev FROM embeddings "
        f" WHERE embedding IS NOT NULL AND {d.size(d.cast_double_arr('embedding'))} >= 1) t"
    )


def kmeans_lattice_ctes(d, k: int = KM_K, iters: int = KM_ITERS) -> tuple[str, str, str]:
    """Unrolled CTE chain for the lattice fit: returns (ctes, final
    centroid relation ``km{iters}`` with (cid, carr), final assignment
    relation ``a{iters}`` with (vec_id, label, qarr, cid)).

    Per iteration: distances are exact integer folds against the previous
    centroid relation (k-row cross join — a broadcast at any scale), the
    argmin is a PARTITION-BY-vec window over k rows per vector, coordinate
    sums partial-combine per (cid, dim), and the update divides ONCE
    (truncating signed div).  Empty clusters keep their previous centroid
    (Lloyd's fallback, relationally a LEFT JOIN coalesce).  DuckDB
    materializes the multiply-referenced relations (pca_cte_base trap);
    the Spark engine path is the distributed loop
    :func:`kmeans_fit_lattice` — this chain is the ORACLE formulation.
    """
    from storage_crawler_spark.operators.similarity import _sgn_div

    mat = " MATERIALIZED" if d.name == "duck" else ""
    dist = d.reduce_bigint(d.zip_sub_sq("v.qarr", "c.carr"), "acc + CAST(x AS BIGINT)")
    parts = [f"v AS{mat} (\n{_km_lattice_sql(d)}\n)"]
    # init: the k lowest vec_ids, cid = position in that order (ordered-
    # array + positional explode — no unpartitioned window)
    parts.append(f"i0 AS (SELECT vec_id, qarr FROM v ORDER BY vec_id LIMIT {k})")
    parts.append(f"ia AS (SELECT {d.agg_arr_by('vec_id', 'vec_id')} AS ids FROM i0)")
    parts.append(
        f"""km0 AS (
  SELECT CAST(x.i - 1 AS BIGINT) AS cid, i0.qarr AS carr
  FROM (
    SELECT i, {d.elem('ids', 'i')} AS vid
    FROM (SELECT ids FROM ia WHERE {d.size('ids')} >= 1) y
    {d.lateral_seq('1', d.size('ids'), 'i')}
  ) x
  JOIN i0 ON i0.vec_id = x.vid
)"""
    )
    lat_dim = d.lateral_seq("1", d.size("qarr"), "i")
    for t in range(1, iters + 1):
        p = t - 1
        parts.append(
            f"""a{t} AS{mat} (
  SELECT vec_id, label, qarr, cid FROM (
    SELECT v.vec_id, v.label, v.qarr, c.cid,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {dist}, c.cid) AS rnk
    FROM v CROSS JOIN km{p} c
  ) r WHERE rnk = 1
)"""
        )
        parts.append(
            f"n{t} AS (SELECT cid, CAST(count(*) AS BIGINT) AS n FROM a{t} GROUP BY cid)"
        )
        parts.append(
            f"""s{t} AS (
  SELECT cid, i AS dim, CAST(sum({d.elem('qarr', 'i')}) AS BIGINT) AS s
  FROM a{t}
  {lat_dim}
  GROUP BY cid, i
)"""
        )
        parts.append(
            f"""nc{t} AS (
  SELECT s.cid, {d.agg_arr_by('s.dim', _sgn_div(d, 's.s', 'n.n'))} AS carr
  FROM s{t} s JOIN n{t} n ON s.cid = n.cid
  GROUP BY s.cid
)"""
        )
        parts.append(
            f"""km{t} AS{mat} (
  SELECT p.cid, coalesce(nc.carr, p.carr) AS carr
  FROM km{p} p LEFT JOIN nc{t} nc ON p.cid = nc.cid
)"""
        )
    # final assignment against the FINAL centroids (a{iters} is the last
    # UPDATE's input, one centroid set behind — consumers that read
    # cluster membership must see the partition the trained model induces,
    # which is also what the engine paths compute)
    parts.append(
        f"""a_fin AS{mat} (
  SELECT vec_id, label, qarr, cid FROM (
    SELECT v.vec_id, v.label, v.qarr, c.cid,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {dist}, c.cid) AS rnk
    FROM v CROSS JOIN km{iters} c
  ) r WHERE rnk = 1
)"""
    )
    return ",\n".join(parts), f"km{iters}", "a_fin"


def gen_kmeans_lattice(d, k: int = KM_K, iters: int = KM_ITERS) -> str:
    """Oracle-gated k-means fit artifact: the final lattice centroids,
    one row per (cluster, dimension) with the coordinate value plus the
    cluster's size in the last update — the ENTIRE Lloyd's iteration
    verified across engines, not just asserted (the first iterative
    CLUSTERING fit in the registry with a full oracle; PageRank/PCA/Holt
    established the unrolled-chain pattern for graph/spectral/forecast
    fits)."""
    ctes, km, a = kmeans_lattice_ctes(d, k, iters)
    return f"""
WITH {ctes}
SELECT e.cid, e.dim, e.c, coalesce(n.n, 0) AS n_assigned
FROM (
  SELECT km.cid, CAST(i AS BIGINT) AS dim, {d.elem('km.carr', 'i')} AS c
  FROM {km} km
  {d.lateral_seq('1', d.size('km.carr'), 'i')}
) e
LEFT JOIN (SELECT cid, CAST(count(*) AS BIGINT) AS n FROM {a} GROUP BY cid) n
  ON e.cid = n.cid
ORDER BY e.cid, e.dim
""".strip()


def lattice_assign(v: DataFrame, centroids: list[list[int]], out_col: str = "cid") -> DataFrame:
    """``v`` + ``out_col``: nearest-centroid id by exact integer squared
    L2, computed per Arrow batch with NumPy int64 instead of the
    ``aggregate(zip_with(...))`` fold + ``array_position(array_min(...))``
    expression, which Catalyst INTERPRETS per element (measured r14:
    ~6 µs/element — the dominant CPU of every lattice-fit consumer).

    Bit-identical to the SQL form: BIGINT arithmetic == int64 (documented
    bounds keep |coord| < 2^19, d² < 2^46), and ``np.argmin`` first
    occurrence == the fold's lowest-cid tie-break.  Every qarr must have
    ``len(centroids[0])`` elements — :func:`kmeans_fit_lattice` checks
    this once on the relation it returns."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    C = np.asarray(centroids, dtype=np.int64)
    schema = StructType(v.schema.fields + [StructField(out_col, LongType())])

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                pdf[out_col] = pd.Series([], dtype="int64")
                yield pdf
                continue
            X = np.stack(pdf["qarr"].to_numpy()).astype(np.int64, copy=False)
            d2 = np.empty((len(X), len(C)), dtype=np.int64)
            for j in range(len(C)):
                diff = X - C[j]
                d2[:, j] = np.einsum("nd,nd->n", diff, diff)
            pdf = pdf.copy()
            pdf[out_col] = d2.argmin(axis=1).astype(np.int64)
            yield pdf

    return v.mapInPandas(gen, schema)


def _lattice_assign_stats(v: DataFrame, centroids: list[list[int]]) -> DataFrame:
    """Per-batch partial (cid, pos, s, n) coordinate sums of the NumPy
    assignment — the map-side-combined twin of the fit loop's
    ``posexplode + groupBy`` (k×dim rows per BATCH cross the shuffle
    instead of n×dim rows; guide §2.3 'aggregate before you shuffle').
    Consumers ``groupBy(cid, pos).agg(sum(s), sum(n))`` for the exact
    order-free BIGINT totals."""
    import numpy as np
    import pandas as pd

    C = np.asarray(centroids, dtype=np.int64)

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf["qarr"].to_numpy()).astype(np.int64, copy=False)
            d2 = np.empty((len(X), len(C)), dtype=np.int64)
            for j in range(len(C)):
                diff = X - C[j]
                d2[:, j] = np.einsum("nd,nd->n", diff, diff)
            cid = d2.argmin(axis=1)
            cids, poss, ss, ns = [], [], [], []
            for c in np.unique(cid):
                sel = X[cid == c]
                s = sel.sum(axis=0, dtype=np.int64)
                dim = sel.shape[1]
                cids.extend([int(c)] * dim)
                poss.extend(range(dim))
                ss.extend(int(x) for x in s)
                ns.extend([sel.shape[0]] * dim)
            yield pd.DataFrame(
                {
                    "cid": pd.Series(cids, dtype="int64"),
                    "pos": pd.Series(poss, dtype="int32"),
                    "s": pd.Series(ss, dtype="int64"),
                    "n": pd.Series(ns, dtype="int64"),
                }
            )

    return v.select("qarr").mapInPandas(gen, "cid long, pos int, s long, n long")


class EmptyVectorSetError(ValueError):
    """The lattice store holds no vectors, so there is nothing to fit."""


def kmeans_fit_lattice(spark, k: int = KM_K, iters: int = KM_ITERS):
    """Spark ENGINE path of the lattice fit: the distributed Lloyd's loop
    with exact-integer arithmetic — assignment is the NumPy kernel of
    :func:`lattice_assign` against the integer centroids, coordinate sums
    partial-combine (BIGINT sums are order-free, unlike the float fit's
    avg), and the k×dim model state collects to the driver per round (the
    k-means contract).  Bit-identical to :func:`kmeans_lattice_ctes`'s
    unrolled chain by construction.

    Returns ``(centroids, sizes, v)``: the final centroids
    (list[list[int]]), the cluster sizes they induce (dict), and ``v``,
    the checkpointed (vec_id, label, qarr) lattice relation the fit ran
    on — consumers assign against this handle.

    Raises :class:`EmptyVectorSetError` on a store with no vectors, and
    ``ValueError`` on a ragged store (vectors of different dimensions),
    which the NumPy assignment cannot score."""
    from storage_crawler_spark.plans.dialect import SPARK

    # repartition BEFORE the checkpoint: one parquet file would pin the
    # whole store in a single partition, single-threading every Lloyd's
    # round and the semantic-dedup cell self-join (pq.py lesson).  The
    # init is ORDER BY vec_id LIMIT k and round aggregates are order-free
    # BIGINT sums, so the fit is partitioning-independent.
    # r15 (guide §2.2): the partition count is SCALE-ADAPTIVE — derived
    # from the store's row count (parquet-footer count job, metadata-cheap)
    # instead of a flat defaultParallelism.  A small store split 32 ways
    # pays ~32 Arrow task setups PER ROUND for ~60-row batches (measured:
    # the sf0.1 fit's per-round CPU is task overhead, not compute); a
    # large store still fans out to every core via the defaultParallelism
    # ceiling.
    v = (
        spark.sql(_km_lattice_sql(SPARK))
        .repartition(
            lattice_parts(spark, spark.table("embeddings").count())
        )
        .localCheckpoint()
    )
    init = v.orderBy("vec_id").limit(k).select("qarr").collect()
    if not init:
        raise EmptyVectorSetError("cannot fit k-means on an empty vector set")
    dims = v.agg(F.min(F.size("qarr")), F.max(F.size("qarr"))).first()
    if dims[0] != dims[1]:
        raise ValueError(
            f"kmeans_fit_lattice: ragged embedding store — vector dims "
            f"range from {dims[0]} to {dims[1]}; the lattice fit needs "
            f"one dimension"
        )
    centroids = [list(r.qarr) for r in init]
    # bounded-model-state contract (r12): k x dim driver state per round
    check_model_state(
        k * len(centroids[0]), "kmeans_fit_lattice (k x dim centroids)"
    )
    # the per-round assignment is a NumPy int64 argmin per Arrow batch
    # (bit-identical to the oracle's integer fold — see lattice_assign);
    # the round's coordinate sums partial-combine inside the same Python
    # stage (k×dim rows per batch cross the shuffle instead of n×dim
    # posexploded rows).
    for _ in range(iters):
        stats = (
            _lattice_assign_stats(v, centroids)
            .groupBy("cid", "pos")
            .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
            .collect()
        )
        by_c: dict[int, dict[int, tuple[int, int]]] = {}
        for r in stats:
            by_c.setdefault(int(r.cid), {})[int(r.pos)] = (int(r.s), int(r.n))
        new = [list(c) for c in centroids]
        for cid, poses in by_c.items():
            new[cid] = [
                _km_sgn_div_py(poses[i][0], poses[i][1]) for i in range(len(poses))
            ]
        centroids = new
    # final sizes = the partition the TRAINED model induces (one more
    # distributed assignment count — mirrors the oracle chain's a_fin)
    fin = lattice_assign(v, centroids).groupBy("cid").count().collect()
    sizes = {int(r.cid): int(r["count"]) for r in fin}
    return centroids, sizes, v


def kmeans_lattice_artifact(spark, k: int = KM_K, iters: int = KM_ITERS) -> DataFrame:
    """Engine-path builder for the ``sim_kmeans_lattice`` entry: run the
    distributed lattice fit, then emit the same flat (cid, dim, c,
    n_assigned) relation the oracle chain produces."""
    centroids, sizes, _ = kmeans_fit_lattice(spark, k, iters)
    rows = [
        (cid, dim + 1, int(c), int(sizes.get(cid, 0)))
        for cid, cent in enumerate(centroids)
        for dim, c in enumerate(cent)
    ]
    return spark.createDataFrame(
        rows, "cid long, dim long, c long, n_assigned long"
    ).orderBy("cid", "dim")


def gen_ivf_lattice_topk(
    d, query_vec_id: int = 0, k_neighbours: int = 10, nprobe: int = 2,
    k: int = KM_K, iters: int = KM_ITERS,
) -> str:
    """Trained-IVF top-k, fully oracle-gated: probe the ``nprobe``
    clusters whose LATTICE centroids are nearest the query (exact integer
    distances; probes picked by ORDER BY + LIMIT — no window), then rank
    the probed cells' members by exact integer dot product with the query
    (the batch-kNN lattice contract), fused top-k.  The entire path —
    Lloyd's fit, assignment, probe selection, ranking — is now verified
    across engines, upgrading the float-IVF entry's rows-only posture."""
    ctes, km, a = kmeans_lattice_ctes(d, k, iters)
    distq = d.reduce_bigint(d.zip_sub_sq("c.carr", "q.qarr"), "acc + CAST(x AS BIGINT)")
    dot = d.reduce_bigint(d.zip_mul("a.qarr", "q.qarr"), "acc + CAST(x AS BIGINT)")
    return f"""
WITH {ctes},
q AS (SELECT qarr FROM v WHERE vec_id = {query_vec_id}),
pr AS (
  SELECT c.cid FROM {km} c CROSS JOIN q
  ORDER BY {distq}, c.cid
  LIMIT {nprobe}
)
SELECT a.vec_id, CAST(a.label AS INT) AS label, CAST({dot} AS BIGINT) AS dot
FROM {a} a
JOIN pr ON a.cid = pr.cid
CROSS JOIN q
WHERE a.vec_id <> {query_vec_id}
ORDER BY {dot} DESC, a.vec_id
LIMIT {k_neighbours}
""".strip()


def ivf_lattice_topk(
    spark, query_vec_id: int = 0, k_neighbours: int = 10, nprobe: int = 2,
    k: int = KM_K, iters: int = KM_ITERS,
) -> DataFrame:
    """Spark ENGINE path of :func:`gen_ivf_lattice_topk`: distributed
    lattice fit (k×dim driver model state), NumPy assignment against the
    fit's integer centroids, probe selection a driver-side argsort over k
    integer scalars reaching the plan as a pushed ``cid IN (...)`` filter,
    integer-dot ranking fused into TakeOrderedAndProject."""
    centroids, _, v = kmeans_fit_lattice(spark, k, iters)
    assigned = lattice_assign(v, centroids)
    q_row = v.filter(F.col("vec_id") == query_vec_id).select("qarr").collect()
    if not q_row:
        raise ValueError(f"query_vec_id={query_vec_id} not found")
    qarr = [int(x) for x in q_row[0].qarr]
    pd2 = sorted(
        (sum((u - v) * (u - v) for u, v in zip(qarr, cent)), cid)
        for cid, cent in enumerate(centroids)
    )
    probes = [cid for _, cid in pd2[: max(1, min(nprobe, len(centroids)))]]
    qlit = "array(" + ", ".join(f"CAST({x} AS BIGINT)" for x in qarr) + ")"
    dot = (
        f"aggregate(zip_with(qarr, {qlit}, (u, v) -> u * v), "
        f"CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )
    return (
        assigned.filter(F.col("cid").isin(probes))
        .filter(F.col("vec_id") != query_vec_id)
        .select(
            "vec_id",
            F.col("label").cast("int").alias("label"),
            F.expr(dot).cast("long").alias("dot"),
        )
        .orderBy(F.col("dot").desc(), "vec_id")
        .limit(k_neighbours)
    )


# ---------------------------------------------------------------------------
# semantic dedup (SemDeDup) on the lattice quantizer (round 9)
# ---------------------------------------------------------------------------
#
# SemDeDup (Abbas et al. 2023): cluster the embedding store with a coarse
# quantizer, then search for near-identical pairs ONLY within each cluster
# — the all-pairs O(n²) cosine scan collapses to Σ|cell|², which is the
# entire reason semantic dedup runs at corpus scale.  Re-expressed here on
# the integer lattice so the WHOLE path — the Lloyd's fit, the assignment,
# and the pair scan — is oracle-checkable: a pair is a duplicate when its
# exact integer squared L2 distance on the 1/2^16 lattice is at most
# ``SEM_T`` (chosen from the measured pair-distance distribution of the
# synthetic store: ~0.1% of all pairs qualify, so the within-cell scan
# yields a bounded manifest at every SF).
#
# 100 TB posture: the only quadratic term is per-cell; k is the knob — a
# coarse quantizer targets |cell| ≈ n/k rows, so k grows with the corpus
# (k ≈ n/10⁴ keeps cells constant-sized) and the per-cell scan is a
# shuffle-free hash-join on cid.  Nothing all-pairs ever executes.
#
# r12 note: k is STRUCTURAL (a LIMIT — it cannot be data-dependent
# cross-engine), so the kNN-graph plane's adaptive residual-sign ladder
# (operators/cluster.py `_knn_pw_case`: cells ∝ N with static SQL) is the
# shipped escape hatch when a fixed k binds.  It is deliberately NOT
# composed here: SemDeDup's published contract is cluster-local search
# within the TRAINED partition, and residual-sign subcells would split
# near-duplicate pairs straddling a subcell boundary — an additional
# recall loss the manifest's consumers have no way to see.  At extreme
# scale raise k (and see the kNN plane for the measured ladder numbers:
# 1.3-1.7x wall for 10x data vs 60x for a fixed grid).

SEM_T = 5_300_000_000


def gen_semantic_dedup(d, k: int = KM_K, iters: int = KM_ITERS,
                       thr: int = SEM_T) -> str:
    """Oracle-gated SemDeDup manifest: within-cluster pairs of the trained
    lattice partition whose exact integer d² is ≤ ``thr``; the lower
    vec_id is the keeper (SemDeDup keeps one representative per duplicate
    group).  Composes :func:`kmeans_lattice_ctes` — the fit itself is
    re-verified by every pair the scan emits."""
    ctes, _, a = kmeans_lattice_ctes(d, k, iters)
    d2 = d.reduce_bigint(d.zip_sub_sq("a.qarr", "b.qarr"), "acc + CAST(x AS BIGINT)")
    return f"""
WITH {ctes}
SELECT a.vec_id AS keep_id, b.vec_id AS drop_id, a.cid,
       CAST({d2} AS BIGINT) AS d2,
       CAST(CASE WHEN a.label = b.label THEN 1 ELSE 0 END AS BIGINT) AS same_label
FROM {a} a JOIN {a} b ON a.cid = b.cid AND a.vec_id < b.vec_id
WHERE {d2} <= {thr}
ORDER BY keep_id, drop_id
""".strip()


def semantic_dedup(spark, sf_dir: str, k: int = KM_K, iters: int = KM_ITERS,
                   thr: int = SEM_T) -> DataFrame:
    """Spark ENGINE path of :func:`gen_semantic_dedup`: distributed lattice
    fit (k×dim BIGINT driver state), NumPy assignment against the fit's
    integer centroids, then ONE shuffle on cid co-locating each cell for
    a per-cell NumPy pair scan; the d² and threshold run inside the cell
    — no candidate pair ever leaves its cell's partition.

    Registers its own ``embeddings`` base table (like the sibling engine
    paths), so it is callable outside the registry builder."""
    from storage_crawler_spark.plans import views as V

    V.register_base_tables(spark, sf_dir, ("embeddings",))
    centroids, _, v = kmeans_fit_lattice(spark, k, iters)
    assigned = lattice_assign(v, centroids)
    # r14 optimization: the cell-local pair scan runs as one NumPy stage
    # per cell (groupBy(cid).applyInPandas) — exact int64 d² via the
    # |a|²+|b|²−2a·b Gram identity instead of an interpreted 64-element
    # fold per candidate pair.  Values are bit-identical (all-integer);
    # NULL labels compare unequal in pandas (NaN != NaN) exactly like the
    # oracle's CASE WHEN.  One shuffle on cid; no pair row ever leaves
    # its cell's partition (the SemDeDup posture unchanged).
    import numpy as np
    import pandas as pd

    thr_i = int(thr)

    def _cell_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        X = np.stack(pdf["qarr"].to_numpy()).astype(np.int64, copy=False)
        ids = pdf["vec_id"].to_numpy()
        labels = pdf["label"].to_numpy()
        cid = int(pdf["cid"].iloc[0])
        G = X @ X.T
        sq = np.diag(G)
        d2 = sq[:, None] + sq[None, :] - 2 * G
        iu, ju = np.triu_indices(len(ids), k=1)
        # canonicalize by vec_id order (row order within the group is
        # partition-dependent; the PAIR set is not)
        a_ids, b_ids = ids[iu], ids[ju]
        swap = a_ids > b_ids
        keep = np.where(swap, b_ids, a_ids)
        drop = np.where(swap, a_ids, b_ids)
        dd = d2[iu, ju]
        m = dd <= thr_i
        la, lb = labels[iu][m], labels[ju][m]
        same = np.array(
            [1 if (x is not None and y is not None and not (x != x) and not (y != y) and x == y) else 0
             for x, y in zip(la, lb)],
            dtype=np.int64,
        )
        return pd.DataFrame(
            {
                "keep_id": keep[m].astype(np.int64),
                "drop_id": drop[m].astype(np.int64),
                "cid": np.full(int(m.sum()), cid, dtype=np.int64),
                "d2": dd[m].astype(np.int64),
                "same_label": same,
            }
        )

    return (
        assigned.select("vec_id", "label", "qarr", "cid")
        .groupBy("cid")
        .applyInPandas(
            _cell_pairs,
            "keep_id long, drop_id long, cid long, d2 long, same_label long",
        )
        .orderBy("keep_id", "drop_id")
    )
