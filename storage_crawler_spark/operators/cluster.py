"""Near-duplicate cluster assignment: connected components over a pair
graph (SURVEY.md §2.9 — the step a real dedup pipeline runs AFTER pair
generation: group transitively-linked near-dups, keep one canonical doc).

The reference engine has no graph operator (its dedup surface stops at
pairs); this is the LLM-data-pipeline extension.  Semantics: component id =
min doc_id reachable through the pair graph; every document is a node
(singletons form their own component); keeper = the component's min-id doc.
Fully deterministic, so it is oracle-checked against a DuckDB recursive-CTE
transitive closure over the same pair SQL.

Spark-first shape: iterative min-label propagation on DataFrames —
    labels ← min(labels, min over neighbours' labels)   until fixpoint
— plus a **pointer-doubling shortcut** each round (label ← label of label,
the PRAM pointer-jumping step): the propagation moves the minimum one hop
per round, the shortcut then halves every label chain, so rounds needed
drop from O(diameter) to O(log diameter) — a 10M-node adversarial chain
converges in ~25 rounds instead of 10M (the large-star/small-star bound,
without its edge-set rewriting).  Each round is one equi-join shuffle
(edges ⋈ labels on src), one groupBy(doc_id) min, and one self-join on
(component = doc_id) — all partial-aggregable, no windows, no collects
except the O(1) convergence scalar.  Both steps only ever replace a label
by the label of a *reachable* node and never increase it, so labels stay
monotone non-increasing within the component and ``sum(component)``
remains a convergence witness: equal sums ⇒ fixpoint, and the fixpoint of
the propagation step is exactly min-reachable-id per component.
``max_iter`` stays as a loud backstop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from storage_crawler_spark.plans.dialect import Dialect
from storage_crawler_spark.operators.dedup import gen_minhash_pairs
from storage_crawler_spark.operators.kmeans import KM_K


def connected_components(
    edges: DataFrame,
    nodes: DataFrame,
    max_iter: int = 30,
    shortcut: bool = True,
) -> DataFrame:
    """(doc_id, component, cluster_size, is_keeper) for every node.

    ``edges``: columns doc_a, doc_b (undirected pairs).  ``nodes``: column
    doc_id (the full population — nodes without edges become singleton
    components).  Deterministic: component = min reachable doc_id.

    With the pointer-doubling shortcut (default) convergence takes
    O(log diameter) + 1 rounds; ``max_iter`` must exceed that by one —
    convergence is only *confirmed* by a round that observes no label
    change, so labels that stabilize exactly at round ``max_iter`` still
    raise.  The default cap of 30 therefore covers any graph a physical
    dataset can produce (2^28 node chains); pass ``shortcut=False`` for
    the plain one-hop propagation (rounds = diameter + 1).
    """
    sym = edges.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(edges.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
    # Materialize the edge list once — it is re-joined every round.
    sym = sym.localCheckpoint(eager=True)

    labels = nodes.select("doc_id", F.col("doc_id").alias("component"))
    prev_sum = None
    converged = False
    for _ in range(max_iter):
        prop = sym.join(labels, sym.src == labels.doc_id).select(
            F.col("dst").alias("doc_id"), "component"
        )
        labels = (
            labels.unionByName(prop)
            .groupBy("doc_id")
            .agg(F.min("component").alias("component"))
        )
        if shortcut:
            # Pointer jumping: component ← component's own label.  Every
            # label is a node id (mins over node ids), so the inner
            # self-join is total; chains of stale labels halve per round.
            labels = (
                labels.alias("l")
                .join(
                    labels.select(
                        F.col("doc_id").alias("p_id"), F.col("component").alias("p_comp")
                    ),
                    F.col("l.component") == F.col("p_id"),
                )
                .select(F.col("l.doc_id").alias("doc_id"), F.col("p_comp").alias("component"))
            )
        # Flatten lineage per round; the loop otherwise stacks joins into
        # one unboundedly deep plan.
        labels = labels.localCheckpoint(eager=True)
        cur_sum = labels.agg(F.sum("component")).collect()[0][0]
        if cur_sum == prev_sum:  # monotone labels: equal sum ⇒ no change
            converged = True
            break
        prev_sum = cur_sum
    if not converged:
        # A silent exit here would hand back wrong component ids for any
        # graph needing more rounds.  Fail loudly; the confirming round
        # must observe no change, so size max_iter >= rounds-to-fixpoint
        # + 1 (log2(diameter) + 2 with shortcut, diameter + 1 without).
        raise RuntimeError(
            f"connected_components could not confirm convergence within "
            f"max_iter={max_iter} rounds; raise max_iter (the final round "
            "must observe no change)"
        )

    sizes = labels.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return labels.join(sizes, "component").select(
        "doc_id",
        "component",
        "cluster_size",
        (F.col("doc_id") == F.col("component")).cast("int").alias("is_keeper"),
    )


# Registry-default dispatch (r5-r7 carry-over item, closed r8): min-label
# pointer-doubling stays the default BELOW this edge count, the
# large-star/small-star rewrite takes over above it.  Rationale: the
# propagation path re-joins the FULL edge list against the label relation
# every round, so its per-round cost never shrinks — fine while the edge
# list fits comfortably in the cluster's shuffle budget, and it converges
# in fewer rounds on the shallow, small graphs a near-dup threshold
# actually produces.  The star path's edge relation CONTRACTS toward the
# star forest each round and its round bound depends only on log(n), never
# on diameter, so it wins exactly when the edge list itself is the cost —
# big graphs.  10M edges ≈ a few hundred MB symmetrized: well inside one
# round's shuffle at test/cluster scale either way, so the constant is a
# conservative crossover, not a tuned one; both paths are pytest-proven
# label-identical, so the dispatch can never change results.
_STAR_EDGE_THRESHOLD = 10_000_000


def connected_components_auto(
    edges: DataFrame, nodes: DataFrame, star_threshold: int = _STAR_EDGE_THRESHOLD
) -> DataFrame:
    """Size-dispatched connected components: pointer-doubling propagation
    below ``star_threshold`` edges, alternating large-star/small-star at or
    above it.  Identical output contract either way (component = min
    reachable doc_id; singletons included).  The edge relation is
    checkpointed before counting — both downstream paths re-join it every
    round, so the count is not a wasted materialization."""
    edges = edges.localCheckpoint(eager=True)
    if edges.count() >= star_threshold:
        return connected_components_star(edges, nodes)
    return connected_components(edges, nodes)


def build_minhash_clusters(spark: SparkSession, d: Dialect, sigs_rel: str) -> DataFrame:
    """Cluster assignment over the minhash-LSH pair graph (Spark path)."""
    pairs = spark.sql(gen_minhash_pairs(d, sigs_rel=sigs_rel))
    nodes = spark.table("documents").select("doc_id")
    return connected_components_auto(pairs.select("doc_a", "doc_b"), nodes)


def gen_cluster_oracle(d: Dialect) -> str:
    """DuckDB oracle: recursive-CTE transitive closure → min-label
    components over the SAME pair SQL the Spark path consumes.  Closure
    size is O(nodes·cluster_size) — fine at oracle scale, never run on
    Spark (the iterative propagation above is the engine path)."""
    return f"""
WITH RECURSIVE
pairs AS (
{gen_minhash_pairs(d)}
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach(node, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.node
),
comp AS (SELECT node AS doc_id, min(lbl) AS component FROM reach GROUP BY node)
SELECT c.doc_id, c.component, s.cluster_size,
       CAST(c.doc_id = c.component AS INT) AS is_keeper
FROM comp c
JOIN (SELECT component, count(*) AS cluster_size FROM comp GROUP BY component) s
  ON c.component = s.component
""".strip()


def build_minhash_cluster_keepers(spark: SparkSession, d: Dialect, sigs_rel: str) -> DataFrame:
    """Quality-aware canonical selection: per near-dup cluster, keep the
    HIGHEST-quality document (ties → lowest doc_id) — what a production
    dedup actually retains, vs. the min-id keeper of the plain assignment.

    Spark shape: the component labels come from the same iterative
    propagation; the keeper is a ``max_by(doc_id, (quality, -doc_id))``
    argmax — algebraic, partial-aggregated map-side, one shuffle on
    component.  No window, no sort."""
    from storage_crawler_spark.operators.text import gen_quality_score

    pairs = spark.sql(gen_minhash_pairs(d, sigs_rel=sigs_rel))
    nodes = spark.table("documents").select("doc_id")
    cc = connected_components_auto(pairs.select("doc_a", "doc_b"), nodes)
    quality = spark.sql(gen_quality_score(d)).select("doc_id", "quality_score")
    rank = F.struct(F.col("quality_score"), (-F.col("doc_id")).alias("neg_id"))
    return (
        cc.join(quality, "doc_id")
        .groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            F.max_by(F.col("doc_id"), rank).alias("keeper_doc_id"),
            F.max(F.col("quality_score")).alias("keeper_quality"),
        )
        .select("component", "cluster_size", "keeper_doc_id", "keeper_quality")
    )


def gen_cluster_keepers_oracle(d: Dialect) -> str:
    """Oracle: recursive-closure components + quality argmax via window."""
    from storage_crawler_spark.operators.text import gen_quality_score

    return f"""
WITH RECURSIVE
pairs AS (
{gen_minhash_pairs(d)}
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach(node, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.node
),
comp AS (SELECT node AS doc_id, min(lbl) AS component FROM reach GROUP BY node),
q AS (
{gen_quality_score(d)}
),
ranked AS (
  SELECT c.component, c.doc_id, q.quality_score,
         row_number() OVER (PARTITION BY c.component
                            ORDER BY q.quality_score DESC, c.doc_id) AS rn,
         count(*) OVER (PARTITION BY c.component) AS cluster_size
  FROM comp c JOIN q ON q.doc_id = c.doc_id
)
SELECT component, cluster_size, doc_id AS keeper_doc_id, quality_score AS keeper_quality
FROM ranked WHERE rn = 1
""".strip()


def _star_round(edges: DataFrame, large: bool) -> DataFrame:
    """One large-star or small-star rewrite (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14 — public algorithm).

    ``edges`` is the symmetric neighbor relation (src, dst).  Per node u,
    m = min(N(u) ∪ {u}); large-star rewires every LARGER neighbor to m,
    small-star rewires every not-larger neighbor (and u itself) to m.
    Both emit (v, m) pairs; self-loops are dropped and the output is
    re-symmetrized by the caller.  Each round is a partial-combining
    groupBy(src).min + one equi-join of the edge list against that
    per-node min — two shuffles, and unlike label propagation the EDGE
    RELATION ITSELF CONTRACTS toward star form, so later rounds join
    strictly less data (the property that matters on a 100 TB pair graph;
    min-label propagation re-joins the full edge list every round).
    """
    mins = edges.groupBy("src").agg(F.least(F.min("dst"), F.col("src")).alias("m"))
    joined = edges.join(mins, "src")
    if large:
        out = joined.filter(F.col("dst") > F.col("src")).select(
            F.col("dst").alias("a"), F.col("m").alias("b")
        )
    else:
        out = (
            joined.filter(F.col("dst") <= F.col("src"))
            .select(F.col("dst").alias("a"), F.col("m").alias("b"))
            .unionByName(
                mins.select(F.col("src").alias("a"), F.col("m").alias("b"))
            )
        )
    return out.filter(F.col("a") != F.col("b")).distinct()


def connected_components_star(
    edges: DataFrame,
    nodes: DataFrame,
    max_iter: int = 50,
) -> DataFrame:
    """Alternating large-star/small-star connected components — the scale
    path for graphs where min-label propagation's full-edge-list re-join
    per round dominates.  Same output contract as
    :func:`connected_components`: (doc_id, component, cluster_size,
    is_keeper), component = min reachable doc_id, singletons included.

    Convergence is structural, not diameter-bound: the alternating
    rewrites reach a star forest in O(log^2 n) rounds REGARDLESS of
    diameter (a 2^50-node chain converges in tens of rounds), and the
    fixpoint test is exact set equality of the canonical edge relation
    (one anti-join each way), not a hash witness — ``max_iter`` is a loud
    backstop exactly like the propagation path, but its bound depends
    only on log(n), never on graph shape.

    At the fixpoint every remaining edge is (member, component-min), so
    labels fall out of the edge relation directly — no closure pass.
    """

    def _sym(df: DataFrame) -> DataFrame:
        return df.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionByName(
            df.select(F.col("b").alias("src"), F.col("a").alias("dst"))
        )

    cur = (
        edges.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    converged = cur.isEmpty()
    for _ in range(max_iter):
        if converged:
            break
        nxt = _star_round(_sym(_star_round(_sym(cur), large=True)), large=False)
        nxt = nxt.localCheckpoint(eager=True)  # flatten lineage per round
        # exact fixpoint: canonical edge sets equal (both distinct already)
        if nxt.exceptAll(cur).isEmpty() and cur.exceptAll(nxt).isEmpty():
            converged = True
        cur = nxt
    if not converged:
        raise RuntimeError(
            f"connected_components_star did not reach a star-forest fixpoint "
            f"within max_iter={max_iter} rounds; raise max_iter"
        )

    # star forest: every edge is (larger member a, component min b)
    member_labels = cur.groupBy("a").agg(F.min("b").alias("component")).select(
        F.col("a").alias("doc_id"), "component"
    )
    labels = (
        nodes.select("doc_id")
        .join(member_labels, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).alias("component"),
        )
    )
    sizes = labels.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return labels.join(sizes, "component").select(
        "doc_id",
        "component",
        "cluster_size",
        (F.col("doc_id") == F.col("component")).cast("int").alias("is_keeper"),
    )


def build_semantic_clusters(spark: SparkSession) -> DataFrame:
    """SemDeDup-style semantic dedup clusters (Abbas et al. 2023): connected
    components over the embedding-cosine near-dup pair graph, keeper = min
    vec_id per component.  The vector-space analogue of the minhash
    clusters above — same iterative engine path, pair generation swapped
    for :func:`~storage_crawler_spark.operators.similarity.gen_embedding_near_dup`
    (sign-bucket LSH blocking, so the edge list is bounded and the CC input
    never materializes cross-bucket pairs).  Zero-norm (failed-embedding)
    vectors have no edges by construction and come out as singletons.

    Output: vec_id, component, cluster_size, is_keeper.
    """
    from storage_crawler_spark.operators.similarity import gen_embedding_near_dup
    from storage_crawler_spark.plans.dialect import SPARK

    pairs = spark.sql(gen_embedding_near_dup(SPARK)).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    nodes = spark.table("embeddings").select(F.col("vec_id").alias("doc_id"))
    return connected_components_auto(pairs, nodes).select(
        F.col("doc_id").alias("vec_id"), "component", "cluster_size", "is_keeper"
    )


def gen_semantic_cluster_oracle(d: Dialect) -> str:
    """DuckDB oracle for :func:`build_semantic_clusters`: recursive-CTE
    closure over the SAME embedding near-dup pair SQL."""
    from storage_crawler_spark.operators.similarity import gen_embedding_near_dup

    return f"""
WITH RECURSIVE
pairs AS (
{gen_embedding_near_dup(d)}
),
edges AS (
  SELECT vec_a AS a, vec_b AS b FROM pairs
  UNION
  SELECT vec_b, vec_a FROM pairs
),
reach(node, lbl) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.node
),
comp AS (SELECT node AS vec_id, min(lbl) AS component FROM reach GROUP BY node)
SELECT c.vec_id, c.component, s.cluster_size,
       CAST(c.vec_id = c.component AS INT) AS is_keeper
FROM comp c
JOIN (SELECT component, count(*) AS cluster_size FROM comp GROUP BY component) s
  ON c.component = s.component
""".strip()


def gen_cluster_sizes_oracle(d: Dialect) -> str:
    """DuckDB oracle for the cluster-size histogram: the closure oracle's
    component relation re-aggregated to (cluster_size → n_clusters,
    n_docs).  The histogram is the dedup-health readout: a long tail of
    2-doc clusters is normal near-dup noise; a giant component screams
    boilerplate or a broken banding."""
    inner = gen_cluster_oracle(d)
    return f"""
SELECT cluster_size,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(cluster_size * count(*) AS BIGINT) AS n_docs
FROM (
  SELECT component, CAST(max(cluster_size) AS BIGINT) AS cluster_size
  FROM (
{inner}
  ) a
  GROUP BY component
) c
GROUP BY cluster_size
ORDER BY cluster_size
""".strip()


KNN_Q = 1_000_000  # cosine lattice for the kNN-graph edge ranking
KNN_ITERS = 2      # Lloyd's rounds for the trained blocking key (cells move
                   # little after two rounds; the key only needs locality)
KNN_RES_BITS = 6   # residual-sign refinement CAP: cells <= k * 2^bits
KNN_CELL_TARGET = 64  # per-cell population the adaptive ladder aims for


def _knn_res_sign(d: Dialect, qarr: str, carr: str, bits: int) -> str:
    """Residual-sign refinement of a trained cell: the sign pattern of
    (vector − its centroid) over the first ``bits`` coordinates.  Unlike
    raw sign buckets (skewed — corpus coordinates correlate), residual
    coordinates are near-centered within a cell BY CONSTRUCTION (the
    lattice centroid is the truncated coordinate-wise mean), so each bit
    splits its cell close to 50/50 — a balanced 2^bits subdivision on
    top of the trained quantizer, all exact BIGINT compares."""
    if bits <= 0:
        return "0"
    terms = " + ".join(
        f"(CASE WHEN {d.elem(qarr, str(i + 1))} - {d.elem(carr, str(i + 1))} >= 0"
        f" THEN {1 << i} ELSE 0 END)"
        for i in range(bits)
    )
    return f"({terms})"


def _knn_pw_case(n_expr: str, k: int, cell_target: int, res_bits: int) -> str:
    """SQL integer ladder choosing how many residual-sign bits to KEEP
    from the store's row count ``n_expr``: the smallest b with
    n ≤ k·cell_target·2^b (i.e. expected per-cell population ≤
    cell_target), capped at ``res_bits``.  Returns the CASE expression for
    pw = 2^b — the modulus that masks the residual sign down to its low b
    bits.  Exact integer compares on count(*), so both engines pick the
    SAME b at any N: the cell count ADAPTS to the data without the SQL's
    structure depending on it (a LIMIT-style data dependence would not be
    expressible cross-engine)."""
    whens = "\n       ".join(
        f"WHEN {n_expr} > {k * cell_target * (1 << (b - 1))} THEN {1 << b}"
        for b in range(max(res_bits, 0), 0, -1)
    )
    if not whens:
        return "1"
    return f"(CASE {whens} ELSE 1 END)"


def _knn_pw_py(n: int, k: int, cell_target: int, res_bits: int) -> int:
    """Python twin of :func:`_knn_pw_case` for the Spark engine path —
    same exact-integer ladder, so engine and oracle agree bit-for-bit."""
    for b in range(max(res_bits, 0), 0, -1):
        if n > k * cell_target * (1 << (b - 1)):
            return 1 << b
    return 1


def _knn_cells_sql(
    d: Dialect, k: int, iters: int, res_bits: int,
    cell_target: int = KNN_CELL_TARGET,
) -> str:
    """Self-contained (vec_id, qarr, cell, qn) relation: the lattice
    k-means fit (unrolled Lloyd chain — the oracle formulation; the Spark
    engine path is :func:`knn_edges_lattice`'s distributed fit), final
    assignment, ADAPTIVE residual-sign refinement (the `_knn_pw_case`
    ladder keeps per-cell population ≈ cell_target as N grows), and the
    per-vector L2 norm on the integer lattice.  Zero-norm vectors are
    dropped (cosine undefined — the _norm_cte contract)."""
    from storage_crawler_spark.operators.kmeans import kmeans_lattice_ctes

    ctes, km, a_fin = kmeans_lattice_ctes(d, k, iters)
    qq = d.reduce_bigint(d.zip_mul("a.qarr", "a.qarr"), "acc + CAST(x AS BIGINT)")
    pw = _knn_pw_case("knc.n", k, cell_target, res_bits)
    cell = (
        f"a.cid * {1 << max(res_bits, 0)}"
        f" + ({_knn_res_sign(d, 'a.qarr', 'c.carr', res_bits)} % {pw})"
    )
    return f"""{ctes},
knc AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v),
g AS (
  SELECT * FROM (
    SELECT a.vec_id, a.qarr, CAST({cell} AS BIGINT) AS cell,
           sqrt(CAST({qq} AS DOUBLE)) AS qn
    FROM {a_fin} a JOIN {km} c ON a.cid = c.cid CROSS JOIN knc
  ) gn WHERE qn > 0
)"""


def gen_knn_topm(
    d: Dialect,
    m: int = 8,
    k: int = KM_K,
    iters: int = KNN_ITERS,
    res_bits: int = KNN_RES_BITS,
    cells_rel: str | None = None,
    cell_target: int = KNN_CELL_TARGET,
) -> str:
    """Directed top-``m`` half of the mutual-kNN construction: each
    vector's ``m`` nearest cell-mates by exact lattice cosine.  Split out
    so the Spark engine path can CHECKPOINT this |V|·m-row relation once
    — the mutual INTERSECT references it twice, and under CTE inlining an
    un-persisted topm would run the candidate join (the expensive stage)
    twice."""
    head = (
        f"g AS (SELECT vec_id, qarr, cell, qn FROM {cells_rel})"
        if cells_rel
        else _knn_cells_sql(d, k, iters, res_bits, cell_target)
    )
    dotq = d.reduce_bigint(d.zip_mul("a.qarr", "b.qarr"), "acc + CAST(x AS BIGINT)")
    simq = (
        f"CAST(floor(CAST({dotq} AS DOUBLE) / (a.qn * b.qn) * {KNN_Q}.0e0) AS BIGINT)"
    )
    return f"""
WITH {head},
cand AS (
  SELECT a.vec_id AS src, b.vec_id AS dst, {simq} AS simq
  FROM g a JOIN g b ON a.cell = b.cell AND a.vec_id <> b.vec_id
)
SELECT src, dst FROM (
  SELECT src, dst,
         row_number() OVER (PARTITION BY src ORDER BY simq DESC, dst) AS rn
  FROM cand
) r WHERE rn <= {m}
""".strip()


def gen_knn_edges(
    d: Dialect,
    m: int = 8,
    k: int = KM_K,
    iters: int = KNN_ITERS,
    res_bits: int = KNN_RES_BITS,
    cells_rel: str | None = None,
    cell_target: int = KNN_CELL_TARGET,
) -> str:
    """MUTUAL-kNN similarity graph over the embedding store: each
    vector's top-``m`` lattice-cosine neighbours WITHIN ITS TRAINED CELL,
    kept only where BOTH endpoints list each other (the mutual
    construction standard in density clustering: it prunes asymmetric
    hub links, which is what gives the graph a non-flat degree spectrum
    for the k-core to bite on — the union variant floors every degree at
    m and the peel either keeps all or cascades to empty, measured).
    Both directions are emitted, so degree is ``count(*) GROUP BY a``.

    Candidate generation (r12 — closes the r11 verdict's one scale-killer,
    60× at the 10× probe): the blocking key is the TRAINED lattice-k-means
    cell (the :mod:`kmeans` Lloyd fit, ``k`` cells) refined by up to
    ``res_bits`` residual-sign bits — near-balanced because residuals are
    centered per coordinate within a cell.  The number of bits KEPT is
    chosen by the `_knn_pw_case` integer ladder from count(*), so the cell
    count ADAPTS: per-cell population stays ≈ ``cell_target`` from 500
    vectors to k·2^res_bits·cell_target (512·64 ≈ 32k at the defaults),
    identical in both engines because the ladder is exact-integer CASE
    compares on the same count.  The fixed sign bucket this replaces had a
    CONSTANT 16 cells with corpus-correlated skew, so per-bucket
    population — and the bucket-local all-pairs join — grew quadratically
    with N (measured 60× at the 10× probe; 1.5× with the adaptive cells).
    Beyond the ladder's cap, ``k`` is the knob: raise it ∝ N (it is
    structural — a LIMIT — so it cannot be data-dependent cross-engine).

    Ranking compares on the exact floor(cos·KNN_Q) BIGINT lattice (BIGINT
    dot of the qarr lattice vectors — exact — over sqrt norms, one double
    rounding step) with a dst tie-break, so the edge set is
    engine-identical.  100 TB shape: the candidate join keys on the cell
    (shuffle on cell; fan-out bounded by cell population), the top-m is a
    PARTITION BY src window, and the mutual filter is one exchange on the
    edge key (INTERSECT of the two orientations).
    """
    topm = gen_knn_topm(d, m=m, k=k, iters=iters, res_bits=res_bits,
                        cells_rel=cells_rel, cell_target=cell_target)
    mat = " MATERIALIZED" if d.name == "duck" else ""
    return f"""
WITH topm AS{mat} (
{topm}
)
SELECT src AS a, dst AS b FROM topm
INTERSECT
SELECT dst AS a, src AS b FROM topm
""".strip()


def knn_edges_lattice(
    spark,
    m: int = 8,
    k: int = KM_K,
    iters: int = KNN_ITERS,
    res_bits: int = KNN_RES_BITS,
    cell_target: int = KNN_CELL_TARGET,
):
    """Spark ENGINE path of :func:`gen_knn_edges`: distributed lattice
    fit (k×dim driver model state — the k-means contract), then one NumPy
    stage for assignment + residual-sign cell refinement and one grouped
    NumPy stage for the cell-local top-m.  Bit-identical to the unrolled
    oracle chain by construction (the ivf_lattice_topk parity pattern).

    Checkpoints the directed topm relation: the mutual INTERSECT
    references it twice, and without the checkpoint the top-m stage runs
    twice.  Returns the symmetric (a, b) edge DataFrame; callers
    checkpoint it if they reference it repeatedly.

    Empty store: the fit cannot run (no init rows), and the true edge set
    is empty — return it without raising so the empty-input battery and
    the oracle (whose unrolled chain yields zero rows) agree.  Every other
    fit error (model-state bound, ragged store) propagates."""
    from storage_crawler_spark.operators.kmeans import (
        EmptyVectorSetError,
        kmeans_fit_lattice,
    )

    try:
        centroids, _, v = kmeans_fit_lattice(spark, k, iters)
    except EmptyVectorSetError:
        return spark.createDataFrame([], "a long, b long")
    # adaptive cell ladder (oracle twin: _knn_pw_case over knc.n) — the
    # count reads the checkpointed lattice relation, one cheap job
    pw = _knn_pw_py(v.count(), k, cell_target, res_bits)
    # assignment + residual-sign cell + norm in ONE NumPy batch stage
    # (bit-identical to the oracle's SQL chain — exact int64
    # distance/dot, np.sqrt == IEEE sqrt of the same double, argmin
    # first-occurrence == lowest-cid tie-break)
    g = _knn_cells_fast(v, centroids, res_bits, pw)
    # a src's candidates all live in its own cell, so the candidate scan
    # and the per-src top-m run as ONE grouped NumPy stage per cell, with
    # no window exchange (simq is op-for-op the SQL float chain)
    topm = _knn_topm_fast(g, m).localCheckpoint()
    return topm.select(F.col("src").alias("a"), F.col("dst").alias("b")).intersect(
        topm.select(F.col("dst").alias("a"), F.col("src").alias("b"))
    )


def _knn_cells_fast(v, centroids, res_bits: int, pw: int):
    """NumPy twin of the knn cell-assignment chain: (vec_id, qarr, cell,
    qn) per Arrow batch.  See :func:`knn_edges_lattice` for the exactness
    argument; requires a dim-uniform store (checked by the fit)."""
    import numpy as np
    import pandas as pd

    C = np.asarray(centroids, dtype=np.int64)
    bits = max(res_bits, 0)
    powers = (1 << np.arange(bits, dtype=np.int64)) if bits else None
    mult = 1 << bits

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
            if bits:
                res = X[:, :bits] - C[cid][:, :bits]
                sgn = ((res >= 0).astype(np.int64) * powers[None, :]).sum(axis=1)
            else:
                sgn = np.zeros(len(X), dtype=np.int64)
            cell = cid * mult + (sgn % pw)
            qn = np.sqrt(np.einsum("nd,nd->n", X, X).astype(np.float64))
            keep = qn > 0
            out = pdf.loc[keep, ["vec_id", "qarr"]].copy()
            out["cell"] = cell[keep]
            out["qn"] = qn[keep]
            yield out

    return v.select("vec_id", "qarr").mapInPandas(
        gen, "vec_id bigint, qarr array<bigint>, cell bigint, qn double"
    )


def _knn_topm_fast(g, m: int):
    """NumPy twin of :func:`gen_knn_topm` over a cells relation: per cell
    group, exact int64 Gram dot products, simq = floor(double(dot) /
    (qn_a·qn_b) · KNN_Q) as int64 (op-for-op the SQL float chain), then
    each src's top-``m`` by (simq DESC, dst ASC) — row_number() semantics
    without the window exchange."""
    import numpy as np
    import pandas as pd

    q = float(KNN_Q)

    def topm_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"src": pd.Series([], dtype="int64"),
                                 "dst": pd.Series([], dtype="int64")})
        X = np.stack(pdf["qarr"].to_numpy()).astype(np.int64, copy=False)
        ids = pdf["vec_id"].to_numpy()
        qn = pdf["qn"].to_numpy(dtype=np.float64)
        dot = X @ X.T
        sim = np.floor(dot.astype(np.float64) / np.outer(qn, qn) * q).astype(np.int64)
        srcs: list[np.ndarray] = []
        dsts: list[np.ndarray] = []
        take = min(m, n - 1)
        for i in range(n):
            cand = np.delete(np.arange(n), i)
            order = np.lexsort((ids[cand], -sim[i, cand]))[:take]
            chosen = cand[order]
            srcs.append(np.full(len(chosen), ids[i], dtype=np.int64))
            dsts.append(ids[chosen].astype(np.int64))
        return pd.DataFrame(
            {"src": np.concatenate(srcs), "dst": np.concatenate(dsts)}
        )

    return g.groupBy("cell").applyInPandas(topm_cell, "src bigint, dst bigint")


def gen_kcore_peeled(
    d: Dialect,
    kcore: int = 4,
    rounds: int = 6,
    m: int = 8,
    edges_rel: str | None = None,
    k: int = KM_K,
    iters: int = KNN_ITERS,
    res_bits: int = KNN_RES_BITS,
    cell_target: int = KNN_CELL_TARGET,
) -> str:
    """The peel chain alone: surviving (a, b) edges after ``rounds``
    degree-peel rounds over the mutual-kNN graph (see
    :func:`gen_knn_kcore` for semantics).  Split out so the Spark
    builder can persist the peeled relation ONCE — the final projection
    references it twice (degree rows + the 1-row convergence min), and
    an un-persisted chain would run twice under CTE inlining."""
    mat = " MATERIALIZED" if d.name == "duck" else ""
    if edges_rel:
        parts = [f"e0 AS (SELECT a, b FROM {edges_rel})"]
    else:
        parts = [f"e0 AS{mat} (\n{gen_knn_edges(d, m=m, k=k, iters=iters, res_bits=res_bits, cell_target=cell_target)}\n)"]
    for t in range(1, rounds + 1):
        p = t - 1
        # single reference of e{p} per round (two PARTITION-BY degree
        # windows instead of a degree agg + two semi-joins): the analyzed
        # plan grows LINEARLY in rounds where the join form doubles per
        # round (Spark inlines CTEs — 2^rounds subtree copies, measured
        # as an analysis-time blowup on the MMR chain)
        parts.append(
            f"""e{t} AS{mat} (
  SELECT a, b FROM (
    SELECT a, b,
           count(*) OVER (PARTITION BY a) AS da,
           count(*) OVER (PARTITION BY b) AS db
    FROM e{p}
  ) x WHERE da >= {kcore} AND db >= {kcore}
)"""
        )
    ctes = ",\n".join(parts)
    return f"WITH {ctes}\nSELECT a, b FROM e{rounds}"


def gen_knn_kcore(
    d: Dialect,
    kcore: int = 4,
    rounds: int = 6,
    m: int = 8,
    edges_rel: str | None = None,
    peeled_rel: str | None = None,
    k: int = KM_K,
    iters: int = KNN_ITERS,
    res_bits: int = KNN_RES_BITS,
    cell_target: int = KNN_CELL_TARGET,
) -> str:
    """k-core of the kNN similarity graph: the maximal subgraph where
    every member keeps >= ``kcore`` neighbours AFTER everyone below the
    bar is removed — the density filter that separates vectors sitting
    in genuinely dense semantic regions from hub-adjacent stragglers
    (SemDeDup keeps one per near-dup cluster; the k-core keeps the
    regions worth sampling MORE from).

    Peeling is ``rounds`` unrolled batch rounds (fixed-sweep discipline,
    like the LPA communities): each round recomputes degrees over the
    surviving edge set and drops nodes under the bar; a converged round
    is a no-op, so extra rounds never change a converged answer.
    ``converged`` = 1 iff the NEXT round would be a no-op — i.e. every
    surviving degree is already >= ``kcore``, so the output IS the true
    k-core (0 means raise ``rounds``).  That test reads the SAME final
    degree aggregate the output emits (one 1-row min cross-joined back),
    so the convergence check adds zero extra passes — the count-compare
    alternative references the peel chain twice and doubles the whole
    plan under CTE inlining (measured: 34 -> 17 shuffles in the audit).

    100 TB shape: every round is one pass with two PARTITION-BY degree
    windows (shuffle on a then b, no global sort, no driver state); the
    edge relation is persisted once by the Spark builder (``edges_rel``).
    """
    mat = " MATERIALIZED" if d.name == "duck" else ""
    if peeled_rel:
        peeled = f"pl AS (SELECT a, b FROM {peeled_rel})"
    else:
        peeled = (
            f"pl AS{mat} (\n"
            + gen_kcore_peeled(d, kcore=kcore, rounds=rounds, m=m, edges_rel=edges_rel,
                               k=k, iters=iters, res_bits=res_bits,
                               cell_target=cell_target)
            + "\n)"
        )
    return f"""WITH {peeled},
deg AS{mat} (
  SELECT a AS vec_id, CAST(count(*) AS BIGINT) AS degree
  FROM pl GROUP BY a
),
cv AS (
  SELECT CASE WHEN min(degree) >= {kcore} THEN 1 ELSE 0 END AS converged
  FROM deg
)
SELECT d.vec_id, d.degree, CAST(cv.converged AS BIGINT) AS converged
FROM deg d CROSS JOIN cv
ORDER BY vec_id
""".strip()


def gen_graph_2hop_topk(
    d: Dialect,
    query_vec_id: int = 0,
    k: int = 10,
    m: int = 8,
    edges_rel: str | None = None,
    cells_k: int = KM_K,
    iters: int = KNN_ITERS,
    res_bits: int = KNN_RES_BITS,
    cell_target: int = KNN_CELL_TARGET,
) -> str:
    """Graph-ANN serving probe over the mutual-kNN graph — the navigable-
    neighborhood hop of the NSW/HNSW family (Malkov & Yashunin 2018),
    restricted to the exact TWO-HOP frontier so the whole search stays
    relational and oracle-checkable: candidates = the query's graph
    neighbours plus their neighbours (fan-out bounded by m + m², never a
    corpus scan), re-ranked EXACTLY on the floor(cos·KNN_Q) BIGINT
    lattice, top-``k`` with vec_id tie-breaks.  ``exact_rank`` LEFT-joins
    the brute-force top-k — the audit side a serving deployment skips —
    so graph-vs-exact agreement (and every miss, as a NULL) is part of
    the output, the recall evidence for the graph route.

    100 TB shape: the hop expansion is two equi-joins on the edge key of
    a relation bounded by |V|·m; the rerank joins ≤ m + m² candidate rows
    back to the vector store on vec_id; the 1-row query relation is the
    allowlisted broadcast; the only corpus-wide work is the audit-side
    exact top-k (fused TakeOrderedAndProject).  The Spark builder passes
    a CHECKPOINTED ``edges_rel`` (the k-core pattern: edge columns are
    computed through the bucket join and the relation is referenced
    twice in the hop chain)."""
    from storage_crawler_spark.operators.similarity import _norm_cte

    mat = " MATERIALIZED" if d.name == "duck" else ""
    e_cte = (
        f"e AS (SELECT a, b FROM {edges_rel})"
        if edges_rel
        else f"e AS{mat} (\n{gen_knn_edges(d, m=m, k=cells_k, iters=iters, res_bits=res_bits, cell_target=cell_target)}\n)"
    )
    simq = (
        f"CAST(floor((({d.dot('b.ev', 'q.ev')}) / (b.nrm * q.nrm))"
        f" * {KNN_Q}.0e0) AS BIGINT)"
    )
    return f"""
WITH {e_cte},
{_norm_cte(d)},
q AS (SELECT ev, nrm FROM v WHERE vec_id = {query_vec_id}),
hop1 AS (SELECT b AS vid FROM e WHERE a = {query_vec_id}),
hop2 AS (
  SELECT e.b AS vid FROM e JOIN hop1 h ON e.a = h.vid
  WHERE e.b <> {query_vec_id}
),
cand AS (
  SELECT vid, CAST(min(hop) AS BIGINT) AS hop FROM (
    SELECT vid, 1 AS hop FROM hop1
    UNION ALL
    SELECT vid, 2 AS hop FROM hop2
  ) u GROUP BY vid
),
ranked AS (
  SELECT vec_id, simq, hop FROM (
    SELECT b.vec_id, {simq} AS simq, c.hop
    FROM cand c JOIN v b ON b.vec_id = c.vid CROSS JOIN q
    ORDER BY simq DESC, vec_id LIMIT {k}
  ) t
),
exact AS (
  SELECT vec_id, rn FROM (
    SELECT vec_id, row_number() OVER (ORDER BY simq_x DESC, vec_id) AS rn FROM (
      SELECT b.vec_id, {simq} AS simq_x
      FROM v b CROSS JOIN q WHERE b.vec_id <> {query_vec_id}
      ORDER BY simq_x DESC, vec_id LIMIT {k}
    ) s
  ) r
)
SELECT r.vec_id, r.simq, r.hop, CAST(x.rn AS BIGINT) AS exact_rank
FROM ranked r LEFT JOIN exact x ON r.vec_id = x.vec_id
ORDER BY r.simq DESC, r.vec_id
""".strip()


def gen_knn_clustering_coeff(
    d: Dialect, m: int = 8, edges_rel: str | None = None,
    k: int = KM_K, iters: int = KNN_ITERS, res_bits: int = KNN_RES_BITS,
    cell_target: int = KNN_CELL_TARGET,
) -> str:
    """Local clustering coefficient over the mutual-kNN graph: per node,
    the fraction of its neighbour pairs that are themselves connected
    (triangles / wedges) — the manifold-density audit that separates
    vectors on a coherent local patch (cc → 1) from bridge points whose
    neighbours disagree with each other (cc → 0); with the k-core it
    completes the similarity-graph plane (SemDeDup prunes copies, the
    k-core keeps dense regions, cc grades HOW internally consistent a
    region is).

    Counting: the edge relation is symmetric, so triangles at node v are
    pairs of neighbours (b, c) with b < c and edge {b, c} present — one
    two-hop equi-join plus an edge-membership semi-join, each shuffle
    keyed on a node id.  Degree is bounded by the mutual-kNN ``m``, so
    the wedge relation is O(n·m²) — never quadratic in n.  All counts
    exact BIGINTs; cc is one late division, trunc6 for display, and the
    output ordering is on vec_id alone (no float in the order).
    """
    if edges_rel:
        e0 = f"e0 AS (SELECT a, b FROM {edges_rel})"
    else:
        mat = " MATERIALIZED" if d.name == "duck" else ""
        e0 = f"e0 AS{mat} (\n{gen_knn_edges(d, m=m, k=k, iters=iters, res_bits=res_bits, cell_target=cell_target)}\n)"
    return f"""
WITH {e0},
deg AS (
  SELECT a AS v, CAST(count(*) AS BIGINT) AS degree FROM e0 GROUP BY a
),
wedge AS (
  SELECT x.a AS v, x.b AS nb, y.b AS nc
  FROM e0 x JOIN e0 y ON x.a = y.a AND x.b < y.b
),
tri AS (
  SELECT w.v, CAST(count(*) AS BIGINT) AS n_tri
  FROM wedge w JOIN e0 e ON w.nb = e.a AND w.nc = e.b
  GROUP BY w.v
)
SELECT d0.v AS vec_id, d0.degree,
       CAST(coalesce(t.n_tri, 0) AS BIGINT) AS n_triangles,
       {d.trunc6('CASE WHEN d0.degree >= 2 THEN '
                  'CAST(2 * coalesce(t.n_tri, 0) AS DOUBLE) '
                  '/ (d0.degree * (d0.degree - 1)) ELSE 0.0e0 END')} AS clustering_coeff
FROM deg d0 LEFT JOIN tri t ON d0.v = t.v
ORDER BY vec_id
""".strip()


def gen_knn_link_predict(
    d: Dialect, k: int = 20, m: int = 8, edges_rel: str | None = None,
    cells_k: int = KM_K, iters: int = KNN_ITERS, res_bits: int = KNN_RES_BITS,
    cell_target: int = KNN_CELL_TARGET,
) -> str:
    """Link prediction over the mutual-kNN graph (Liben-Nowell &
    Kleinberg 2003, "The Link Prediction Problem for Social Networks",
    public): the top-``k`` NON-adjacent vector pairs most likely to be
    true neighbours, scored by common-neighbour count with the Jaccard
    neighbourhood overlap as tie-break — the graph-native "you probably
    missed this duplicate/near-neighbour" signal that densifies an ANN
    graph after construction (candidate edges for the next refinement
    round) without touching the embedding store at all.

    Ranking is exact and engine-identical: primary key common_n DESC;
    within equal common_n the Jaccard cn/(deg_x+deg_y−cn) is a strictly
    decreasing function of deg_x+deg_y, so ordering by the INTEGER degree
    sum ascending realizes the Jaccard order with no float comparison
    (the jaccard column itself is display-only trunc6).

    100 TB shape: the wedge join (e1.a = e2.a) fans out Σ_w deg(w)² ≤
    |V|·m² on the bounded-degree edge relation — never a corpus scan;
    the existing-edge anti-join and the two degree joins key on vec ids;
    top-k fuses to TakeOrderedAndProject.  The Spark builder passes a
    CHECKPOINTED ``edges_rel`` (the k-core pattern — edge columns are
    computed through the bucket join and referenced four times here)."""
    mat = " MATERIALIZED" if d.name == "duck" else ""
    e_cte = (
        f"e AS (SELECT a, b FROM {edges_rel})"
        if edges_rel
        else f"e AS{mat} (\n{gen_knn_edges(d, m=m, k=cells_k, iters=iters, res_bits=res_bits, cell_target=cell_target)}\n)"
    )
    jac = "CAST(n.common_n AS DOUBLE) / (dx.deg + dy.deg - n.common_n)"
    return f"""
WITH {e_cte},
deg AS (SELECT a AS vid, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY a),
cn AS (
  SELECT e1.b AS x, e2.b AS y, CAST(count(*) AS BIGINT) AS common_n
  FROM e e1 JOIN e e2 ON e1.a = e2.a AND e1.b < e2.b
  GROUP BY e1.b, e2.b
),
nonedge AS (
  SELECT c.x, c.y, c.common_n
  FROM cn c LEFT JOIN e ON e.a = c.x AND e.b = c.y
  WHERE e.a IS NULL
)
SELECT n.x, n.y, n.common_n,
       dx.deg AS deg_x, dy.deg AS deg_y,
       {d.trunc6(jac)} AS jaccard
FROM nonedge n
JOIN deg dx ON dx.vid = n.x
JOIN deg dy ON dy.vid = n.y
ORDER BY n.common_n DESC, dx.deg + dy.deg, n.x, n.y
LIMIT {k}
""".strip()
