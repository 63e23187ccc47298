"""Arrow-vectorized engine-path twins of the hottest interpreted SQL map
stages (r14 optimization round, guide §4.2: let Spark do distribution and
shuffles, hand per-batch compute to native/vectorized code).

Each function returns a DataFrame with the EXACT schema and values of the
SQL relation it replaces — pinned by tests that compare against the SQL
form row-for-row (tests/test_round14_optimization.py) and by the DuckDB
oracle gate on every consuming entry.  The SQL generators stay the oracle
formulation; these are Spark ENGINE paths only.

Input contract: engine twins take and return DataFrames (the caller owns
registration, partitioning and materialization of its inputs); only the
SQL generators in the dialect modules take relation names.  :func:`spread`
is the one input-partitioning policy the builders apply before a twin.

Why this is the right boundary (guide §4.1/§4.2): Catalyst INTERPRETS
higher-order array lambdas per element (measured r11: ~6 µs/element for
``aggregate(zip_with(...))`` folds), and per-position ``md5`` over a
``transform(sequence(...))`` pays the same interpretation tax on top of
the digest.  A pandas/Arrow batch crossing the boundary once and running
hashlib/NumPy per batch is 10-40× cheaper per element, and the columns
shipped are exactly the ones the function needs (project-before-the-hop,
guide §4.1).

Exactness contracts relied on (each asserted by the parity tests):

- ``substr(text, i, k)`` (Spark: code points) == Python ``text[i-1:i+k-1]``;
  ``length(text)`` == ``len(text)`` (both count code points).
- ``CAST(conv(substr(md5(encode(s,'utf-8')),1,12),16,10) AS BIGINT)`` ==
  ``int.from_bytes(hashlib.md5(s.encode()).digest()[:6], 'big')`` (first
  12 hex chars are the first 6 digest bytes; 48 bits, sign-safe).
- ``array_distinct`` keeps first-occurrence order == ``np.unique`` indices
  re-sorted (or ``dict.fromkeys`` for object rows).
- ``split(text, ' ')`` (Java regex split, limit -1: keeps leading /
  interior / trailing empty strings) == Python ``text.split(' ')``.
- Integer lattice arithmetic (BIGINT) == NumPy int64 exactly (all bounds
  documented at the SQL sites keep every product/sum far below 2^63).
- ``array_position(__d, array_min(__d))`` (first index of the min) ==
  ``np.argmin`` (first occurrence).
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from storage_crawler_spark.operators.dedup import MINHASH_P, MINHASH_PERMS

WINNOW_OUT_SCHEMA = "doc_id bigint, n_grams int, fps array<bigint>"
MINHASH_OUT_SCHEMA = "doc_id bigint, " + ", ".join(
    f"m{i} bigint" for i in range(len(MINHASH_PERMS))
)


def spread(df: DataFrame) -> DataFrame:
    """Round-robin ``df`` over ``defaultParallelism`` partitions.  The
    documents source may be ONE parquet file (one scan partition), and a
    Python map stage inherits its input's partitioning, so without this
    the whole twin runs as a single task however many cores exist.
    Values never depend on it: every twin is per-row or order-free."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


# NumPy/Arrow batch stages want thousands of rows per task before the
# per-task Arrow setup amortizes; below that, extra tasks are pure
# scheduling + serialization overhead (guide §2.2 "fewer, larger tasks").
LATTICE_ROWS_PER_TASK = 4096


def lattice_parts(spark, n_rows: int) -> int:
    """Scale-adaptive partition count for the lattice relations: enough
    partitions to keep every core busy on a big store (ceiling =
    defaultParallelism), but never more than one task per
    ``LATTICE_ROWS_PER_TASK`` rows on a small one."""
    want = -(-int(n_rows) // LATTICE_ROWS_PER_TASK) if n_rows > 0 else 1
    return max(1, min(spark.sparkContext.defaultParallelism, want))


def _winnow_batches(k: int, w: int):
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        md5 = hashlib.md5
        swv = np.lib.stride_tricks.sliding_window_view
        for pdf in batches:
            ids: list[int] = []
            ngs: list[int] = []
            fpss: list[list[int]] = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                # caller's WHERE guarantees text is not NULL and
                # len(text) >= k + w - 1, so n >= w and the window view
                # below is never empty
                n = len(text) - k + 1
                hs = np.empty(n, dtype=np.int64)
                if text.isascii():
                    b = text.encode()
                    for i in range(n):
                        hs[i] = int.from_bytes(md5(b[i : i + k]).digest()[:6], "big")
                else:
                    for i in range(n):
                        hs[i] = int.from_bytes(
                            md5(text[i : i + k].encode("utf-8")).digest()[:6], "big"
                        )
                mins = swv(hs, w).min(axis=1)
                _, first = np.unique(mins, return_index=True)
                fps = mins[np.sort(first)]
                ids.append(doc_id)
                ngs.append(n)
                fpss.append(fps.tolist())
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "n_grams": pd.Series(ngs, dtype="int32"),
                    "fps": fpss,
                }
            )

    return gen


def winnow_rel(docs: DataFrame, k: int = 8, w: int = 4) -> DataFrame:
    """Engine twin of :func:`text.gen_winnow_rel`: (doc_id, n_grams, fps)
    winnowed-fingerprint relation, computed per Arrow batch (one md5 per
    k-gram in hashlib + one NumPy sliding-window min) instead of per
    interpreted SQL lambda element.  Values and schema are bit-identical
    to the SQL form (parity-tested); the WHERE stays in SQL so the filter
    pushes into the parquet scan."""
    base = docs.where(f"text IS NOT NULL AND length(text) >= {k + w - 1}").select(
        "doc_id", "text"
    )
    return base.mapInPandas(_winnow_batches(k, w), WINNOW_OUT_SCHEMA)


def _minhash_batches():
    perms_a = np.array([a for a, _ in MINHASH_PERMS], dtype=np.int64)
    perms_b = np.array([b for _, b in MINHASH_PERMS], dtype=np.int64)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        md5 = hashlib.md5
        n_perm = len(perms_a)
        for pdf in batches:
            ids: list[int] = []
            mins = np.empty((len(pdf), n_perm), dtype=object)
            for r, (doc_id, text) in enumerate(zip(pdf["doc_id"], pdf["text"])):
                ids.append(doc_id)
                if text is None:
                    mins[r, :] = None  # SQL: NULL toks -> NULL signature
                    continue
                toks = text.split(" ")
                if len(toks) >= 3:
                    shingles = [
                        f"{toks[i]} {toks[i + 1]} {toks[i + 2]}"
                        for i in range(len(toks) - 2)
                    ]
                else:
                    shingles = [text]
                # adistinct: first-occurrence order (min() is order-free,
                # but dedup before hashing mirrors the SQL's md5 volume cut)
                hs = np.fromiter(
                    (
                        int.from_bytes(md5(s.encode("utf-8")).digest()[:6], "big")
                        for s in dict.fromkeys(shingles)
                    ),
                    dtype=np.int64,
                )
                # (a*h + b) % P per permutation; h < 2^48, a < 2^15 so the
                # product stays far under 2^63 — exact int64, same as BIGINT
                sig = ((hs[None, :] * perms_a[:, None]) + perms_b[:, None]) % MINHASH_P
                mins[r, :] = sig.min(axis=1)
            out = {"doc_id": pd.Series(ids, dtype="int64")}
            for j in range(n_perm):
                out[f"m{j}"] = pd.Series(mins[:, j])
            yield pd.DataFrame(out)

    return gen


# θ the jaccard-prep prefix column is built for: prefix = the first
# n - ceil(θ·n) + 1 of the ASCENDING-sorted hash set.  SSJoin lemma
# (Chaudhuri/Ganti/Kaushik 2006): under any global total order, two sets
# with overlap >= α must share an element within their (size − α + 1)-
# prefixes; a qualifying pair at threshold θ' >= θ has overlap
# α >= ceil(θ·|x|) on each side, so these prefixes are long enough and
# the arrays_overlap pre-test can never reject a qualifying pair.
JACCARD_PREF_THETA = 0.5


def _jaccard_prep_batches():
    import math

    theta = JACCARD_PREF_THETA

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        md5 = hashlib.md5
        for pdf in batches:
            hs_out: list[list[int] | None] = []
            nt_out: list[int | None] = []
            pref_out: list[list[int] | None] = []
            for text in pdf["text"]:
                if text is None:
                    hs_out.append(None)
                    nt_out.append(None)
                    pref_out.append(None)
                    continue
                toks = dict.fromkeys(text.split(" "))
                hs = [
                    int.from_bytes(md5(t.encode("utf-8")).digest()[:6], "big") for t in toks
                ]
                n = len(hs)
                hs_out.append(hs)
                nt_out.append(n)
                pref_out.append(sorted(hs)[: n - math.ceil(theta * n) + 1])
            out = pdf[["doc_id", "lang", "n_chars"]].copy()
            out["hs"] = hs_out
            out["n_toks"] = pd.Series(nt_out, dtype="Int32")
            out["pref"] = pref_out
            yield out

    return gen


def jaccard_prep(docs: DataFrame) -> DataFrame:
    """Engine twin of :func:`dedup.gen_jaccard_prep`: per-document hashed
    distinct token set + set size.  The token hash is ENGINE-LOCAL by the
    documented token_hash64 contract (only intersection CARDINALITIES
    reach any output), and this path uses the md5-48 construction — the
    very hash the DuckDB oracle side uses — so cross-engine collision
    behaviour is identical by construction rather than merely negligible.
    Tokenization replicates ``split(text, ' ')`` (Java limit -1: empties
    kept) == ``str.split(' ')``; distinct keeps first-occurrence order.

    Adds a ``pref`` column the SQL prep does not have: the sorted
    JACCARD_PREF_THETA prefix for the pair join's arrays_overlap
    pre-filter (exact pruning — see the lemma note above; consumers that
    cannot use it simply ignore the column)."""
    base = docs.select("doc_id", "lang", "n_chars", "text")
    return base.mapInPandas(
        _jaccard_prep_batches(),
        "doc_id bigint, lang string, n_chars bigint, hs array<bigint>, "
        "n_toks int, pref array<bigint>",
    )


def _winnow_rows_batches(k: int, w: int):
    inner = _winnow_batches(k, w)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in inner(batches):
            if len(pdf) == 0:
                continue
            counts = pdf["fps"].map(len).to_numpy()
            yield pd.DataFrame(
                {
                    "doc_id": np.repeat(pdf["doc_id"].to_numpy(), counts),
                    "fp": np.concatenate(pdf["fps"].to_numpy())
                    if counts.sum()
                    else np.array([], dtype=np.int64),
                }
            )

    return gen


def winnow_fp_rows(docs: DataFrame, k: int = 8, w: int = 4) -> DataFrame:
    """Exploded (doc_id, fp) winnow rows, flattened INSIDE the Python
    stage — the pair builder's shape.  Equivalent to exploding
    :func:`winnow_rel`'s fps array, but no array column ever exists:
    reading array<bigint> cells back out of the block-cache for a LATERAL
    VIEW boxes every element per reference (the fk relation reads the
    winnow relation twice), which profiling showed dominating the
    dedup_winnow_pairs CPU after the hash fast path landed."""
    base = docs.where(f"text IS NOT NULL AND length(text) >= {k + w - 1}").select(
        "doc_id", "text"
    )
    return base.mapInPandas(_winnow_rows_batches(k, w), "doc_id bigint, fp bigint")


def jaccard_pairs_blocked(
    ranked: DataFrame,
    threshold: float = 0.5,
    length_window: int = 60,
    block_cap: int = 512,
) -> DataFrame:
    """Engine twin of :func:`dedup.gen_jaccard_pairs` over a ranked prep
    relation: the rank-window candidate join + per-pair ``array_intersect``
    collapse into ONE grouped Arrow stage per (lang, rank-chunk).

    Shape argument (guide §3/§4.2): the SQL form expands the probe side
    across ~9 rank-bucket offsets, meets ~n·(cap+width) candidates on the
    (lang, bucket) equi-key, and evaluates the window/size predicates plus
    an interpreted set intersection per surviving pair inside the join.
    Here each (lang, chunk) group holds its ``block_cap`` primaries plus
    the next chunk's docs (2× row expansion instead of ~9×), candidate
    enumeration and the length/size-ratio filters vectorize in NumPy, and
    only surviving candidates pay a set intersection — with the group
    count ~n/cap, per-group pandas overhead is amortized over ~10^4 pairs
    (the winnow experiment showed per-KEY grouping drowning in it).

    Exactness vs the SQL form (parity-pinned; oracle-gated per consumer):

    - pair universe: a pair with ``0 < b.rnk − a.rnk <= cap`` has its
      lower-rank doc primary in exactly one chunk g and its upper-rank doc
      present there (primary of g, or the secondary copy of chunk g+1), so
      each qualifying pair is generated exactly once;
    - docs with NULL hs / n_toks / n_chars / lang can never appear in a
      SQL pair (every predicate evaluates NULL), so the upfront WHERE
      drops them without changing the result — and keeps NULL langs from
      meeting inside a shared group key, which the SQL join's
      ``a.lang = b.lang`` would reject;
    - ``least(n_toks) >= θ·greatest(n_toks)`` runs as the identical IEEE
      double comparison (int64 → float64 promotion, the same θ literal);
    - the intersection cardinality over distinct int64 token hashes, the
      integer threshold predicate ``1e6·i >= thr6·(an+bn−i)``, and the
      display score ``double(idiv(1e6·i, u))/1e6`` are exact integer /
      op-for-op float replicas of the SQL chain.
    """
    from pyspark.sql import functions as F

    thr6 = int(round(threshold * 1_000_000))
    assert abs(thr6 / 1_000_000 - threshold) < 1e-12, "threshold finer than 1e-6"
    theta = float(threshold)
    cap = int(block_cap)
    win = int(length_window)

    base = (
        ranked.where(
            "hs IS NOT NULL AND n_toks IS NOT NULL AND n_chars IS NOT NULL "
            "AND lang IS NOT NULL"
        )
        .select("doc_id", "lang", "n_chars", "n_toks", "hs", "rnk")
    )
    g = F.expr(f"CAST((rnk - 1) DIV {cap} AS BIGINT)")
    prim = base.withColumn("g", g).withColumn("prim", F.lit(True))
    sec = (
        base.withColumn("g", g - F.lit(1))
        .withColumn("prim", F.lit(False))
        .where("g >= 0")
    )
    both = prim.unionByName(sec)

    def chunk_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        order = np.argsort(pdf["rnk"].to_numpy(), kind="stable")
        rnk = pdf["rnk"].to_numpy()[order].astype(np.int64, copy=False)
        ids = pdf["doc_id"].to_numpy()[order].astype(np.int64, copy=False)
        nch = pdf["n_chars"].to_numpy()[order].astype(np.int64, copy=False)
        ntk = pdf["n_toks"].to_numpy()[order].astype(np.int64, copy=False)
        hss = pdf["hs"].to_numpy()[order]
        isp = pdf["prim"].to_numpy()[order]
        n = len(rnk)
        empty = pd.DataFrame(
            {
                "doc_a": pd.Series([], dtype="int64"),
                "doc_b": pd.Series([], dtype="int64"),
                "jaccard": pd.Series([], dtype="float64"),
            }
        )
        if n < 2:
            return empty
        # rank-sorted => the chunk's primaries precede its secondaries
        n_prim = int(isp.sum())
        his = np.searchsorted(rnk, rnk + cap, side="right")
        # per-doc token hashes, concatenated in rank order: a primary's
        # candidate range (i, his[i]) is CONTIGUOUS here, so one
        # np.add.reduceat over a membership mask computes every candidate
        # intersection cardinality without a per-pair loop (hs is distinct
        # per doc, so the per-doc mask sum IS |a.hs ∩ b.hs|; n_toks is by
        # construction len(hs), which keeps the offsets exact).
        concat = (
            np.concatenate(hss[:n].tolist())
            if n
            else np.array([], dtype=np.int64)
        )
        offsets = np.concatenate(([0], np.cumsum(ntk)))
        vocab, tok_ids = np.unique(concat, return_inverse=True)
        member = np.zeros(len(vocab), dtype=np.int64)
        parts_a: list[np.ndarray] = []
        parts_b: list[np.ndarray] = []
        parts_i: list[np.ndarray] = []
        for i in range(n_prim):
            jlo, jhi = i + 1, int(his[i])
            if jhi <= jlo:
                continue
            my = tok_ids[offsets[i] : offsets[i + 1]]
            member[my] = 1
            seg = tok_ids[offsets[jlo] : offsets[jhi]]
            bounds = (offsets[jlo:jhi] - offsets[jlo]).astype(np.int64)
            icnt = np.add.reduceat(member[seg], bounds)
            member[my] = 0
            parts_a.append(np.full(jhi - jlo, i, dtype=np.int64))
            parts_b.append(np.arange(jlo, jhi, dtype=np.int64))
            parts_i.append(icnt)
        if not parts_a:
            return empty
        ai = np.concatenate(parts_a)
        bj = np.concatenate(parts_b)
        icnt = np.concatenate(parts_i)
        # the SQL join's predicates, vectorized over every rank-window
        # candidate (identical IEEE double comparison for the θ ratio;
        # exact int64 for the threshold test and the display score)
        keep = np.abs(nch[ai] - nch[bj]) <= win
        mn = np.minimum(ntk[ai], ntk[bj]).astype(np.float64)
        mx = np.maximum(ntk[ai], ntk[bj]).astype(np.float64)
        keep &= mn >= theta * mx
        u = ntk[ai] + ntk[bj] - icnt
        keep &= 1_000_000 * icnt >= thr6 * u
        ai, bj, icnt, u = ai[keep], bj[keep], icnt[keep], u[keep]
        if len(ai) == 0:
            return empty
        jac = ((1_000_000 * icnt) // u).astype(np.float64) / 1e6
        return pd.DataFrame(
            {
                "doc_a": np.minimum(ids[ai], ids[bj]),
                "doc_b": np.maximum(ids[ai], ids[bj]),
                "jaccard": jac,
            }
        )

    return both.groupBy("lang", "g").applyInPandas(
        chunk_pairs, "doc_a bigint, doc_b bigint, jaccard double"
    )


def winnow_pair_partials(fk: DataFrame, n_chunks: int | None = None) -> DataFrame:
    """Pre-combined (doc_a, doc_b, cnt) pair partials over the df-capped
    winnow fingerprint relation — the Arrow replacement of the fp-keyed
    pair SELF-join's candidate generation (r15; the r14 verdict's
    "cap-before-the-Python-boundary" shape).

    The df cap stays a JVM window over ONE exchange (gen_winnow_fk's
    rows_rel form): at sf0.1 it drops 87% of the fp rows natively, so only
    the surviving ~13% ever cross the Arrow boundary — the r14 experiment
    that folded the cap INTO the Python stage paid the crossing for every
    boilerplate row and lost.  Here each (fp % n_chunks) chunk group holds
    every row of its fps (fp is md5-48-uniform, so chunks balance), pair
    enumeration per fp vectorizes in NumPy (one triu_indices gather per
    DISTINCT group size, never per fp), and same-chunk duplicates combine
    before emission (guide §2.3 "aggregate before you shuffle").

    Exactness vs ``fk a JOIN fk b ON a.fp = b.fp AND a.doc_id < b.doc_id``
    + ``GROUP BY doc_a, doc_b``: (doc_id, fp) is unique in fk (winnow fps
    are per-doc distinct) and fp is never NULL, so the join's row multiset
    is exactly {unordered doc pairs within one fp group}; every fp lives
    in exactly one chunk, so each such pair is generated exactly once per
    shared fp; summing cnt over chunks is count(*) over the join.  Sorted
    doc_ids within a group make doc_a < doc_b structural.

    ``n_chunks`` defaults to the scale-adaptive count: one chunk per ~8k
    kept rows, at least the core count.  That runs a count job over
    ``fk``, which is cheap when ``fk`` is checkpointed, as the builder's
    is; the chunk count never changes the result."""
    from pyspark.sql import functions as F

    if n_chunks is None:
        n_chunks = max(fk.sparkSession.sparkContext.defaultParallelism, fk.count() // 8192 + 1)
    rows = fk.select(
        "doc_id", "fp", F.pmod("fp", F.lit(int(n_chunks))).alias("g")
    )

    def chunk_partials(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "doc_a": pd.Series([], dtype="int64"),
                "doc_b": pd.Series([], dtype="int64"),
                "cnt": pd.Series([], dtype="int64"),
            }
        )
        n = len(pdf)
        if n < 2:
            return empty
        fp = pdf["fp"].to_numpy()
        ids = pdf["doc_id"].to_numpy()
        order = np.lexsort((ids, fp))
        fp = fp[order]
        ids = ids[order]
        starts = np.concatenate(([0], np.nonzero(fp[1:] != fp[:-1])[0] + 1))
        lens = np.diff(np.concatenate((starts, [n])))
        pa_parts: list[np.ndarray] = []
        pb_parts: list[np.ndarray] = []
        for m in np.unique(lens):
            if m < 2:
                continue
            s = starts[lens == m]  # all groups of size m, stacked
            block = ids[(s[:, None] + np.arange(m)[None, :])]  # (n_grp, m)
            iu, ju = np.triu_indices(m, 1)
            pa_parts.append(block[:, iu].ravel())
            pb_parts.append(block[:, ju].ravel())
        if not pa_parts:
            return empty
        pairs = np.stack(
            (np.concatenate(pa_parts), np.concatenate(pb_parts)), axis=1
        )
        uniq, cnt = np.unique(pairs, axis=0, return_counts=True)
        return pd.DataFrame(
            {
                "doc_a": uniq[:, 0],
                "doc_b": uniq[:, 1],
                "cnt": cnt.astype(np.int64),
            }
        )

    return rows.groupBy("g").applyInPandas(
        chunk_partials, "doc_a bigint, doc_b bigint, cnt bigint"
    )


def _containment_batches():
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        md5 = hashlib.md5
        for pdf in batches:
            ids: list[int] = []
            shs: list[list[str | None]] = []
            hss: list[list[int | None]] = []
            ns: list[int] = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if text is None:
                    # SQL: split(NULL) -> NULL toks, CASE falls through to
                    # array(text) = [NULL]; distinct keeps it; hash(NULL)=NULL
                    shingles: list[str | None] = [None]
                    hs: list[int | None] = [None]
                else:
                    toks = text.split(" ")
                    if len(toks) >= 3:
                        raw = [
                            f"{toks[i]} {toks[i + 1]} {toks[i + 2]}"
                            for i in range(len(toks) - 2)
                        ]
                    else:
                        raw = [text]
                    shingles = list(dict.fromkeys(raw))
                    hs = [
                        int.from_bytes(md5(s.encode("utf-8")).digest()[:6], "big")
                        for s in shingles
                    ]
                ids.append(doc_id)
                shs.append(shingles)
                hss.append(hs)
                ns.append(len(hs))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "shingles": shs,
                    "hs": hss,
                    "n_sh": pd.Series(ns, dtype="Int32"),
                }
            )

    return gen


def containment_prep(docs: DataFrame) -> DataFrame:
    """Shared base of the containment-pair entry: (doc_id, shingles,
    hs, n_sh) in ONE Python pass per document — the SQL form computed the
    tokenize+3-shingle map TWICE (once for the exploded string relation,
    once for the hashed prep) plus an interpreted per-shingle hash.
    Shingle strings replicate ``_shingles`` exactly; the hash is the
    engine-local md5-48 (the oracle's own construction — containment
    output depends only on intersection cardinalities)."""
    base = docs.select("doc_id", "text")
    return base.mapInPandas(
        _containment_batches(),
        "doc_id bigint, shingles array<string>, hs array<bigint>, n_sh int",
    )


def minhash_sigs(docs: DataFrame) -> DataFrame:
    """Engine twin of :func:`dedup.gen_minhash_sigs`: per-document minhash
    signature (m0..m15 BIGINT) via hashlib md5 over distinct 3-shingles +
    one vectorized (a·h+b) mod P min per permutation.  Bit-identical to
    the SQL form (parity-tested; hash values CROSS the output, so the md5
    construction is mandatory and replicated exactly)."""
    return docs.select("doc_id", "text").mapInPandas(_minhash_batches(), MINHASH_OUT_SCHEMA)


def _source_gram_batches(n: int):
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            srcs: list[str] = []
            grams: list[str] = []
            for source, txt in zip(pdf["source"], pdf["text"]):
                toks = txt.split(" ")
                m = len(toks) - n + 1
                if m <= 0:
                    continue
                # dict.fromkeys == per-doc DISTINCT with a deterministic
                # (first-occurrence) order; downstream is order-insensitive
                gs = dict.fromkeys(
                    " ".join(toks[i : i + n]) for i in range(m)
                )
                srcs.extend([source] * len(gs))
                grams.extend(gs)
            yield pd.DataFrame(
                {
                    "source": pd.Series(srcs, dtype=object),
                    "ngram": pd.Series(grams, dtype=object),
                }
            )

    return gen


def source_gram_rows(docs: DataFrame, n: int = 5) -> DataFrame:
    """One (source, ngram) row per (document, DISTINCT token n-gram) —
    the projection of ``SELECT DISTINCT doc_id, source, ngram`` over
    :func:`text.gen_token_ngrams` (passthrough source, NULL sources
    dropped) that :func:`text.gen_source_overlap` actually consumes:
    ``count(*)`` per ngram IS that relation's n_docs (doc_id is unique
    per input row here, one source per doc), and ``collect_set(source)``
    IS its distinct source set.

    Exactness: tokenization is ``split(text, ' ')`` == ``str.split(' ')``
    (limit -1, empties kept — the pinned contract above); the gram string
    is ``array_join(slice(toks, gi+1, n), ' ')`` == ``' '.join(...)``;
    docs with fewer than ``n`` tokens (including NULL text: size -1)
    produce nothing in both forms."""
    base = docs.where("text IS NOT NULL AND source IS NOT NULL").select("source", "text")
    return base.mapInPandas(_source_gram_batches(n), "source string, ngram string")


PHASH_OUT_SCHEMA = "doc_id bigint, phash bigint, n_bits_set bigint"


def _phash_batches():
    # import here, not at module top: multimodal imports nothing from
    # fastpath, but keeping the constant's single source of truth there
    # means the basis can never drift between the SQL and Arrow forms
    from storage_crawler_spark.operators.multimodal import _DCT_C

    C = np.array(_DCT_C, dtype=np.int64)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            B = len(pdf)
            P = np.empty((B, 8, 8), dtype=np.int64)
            for i, t in enumerate(pdf["text"]):
                # first 64 BYTES of the UTF-8 encoding as unsigned ints ==
                # the SQL barr built from hex12_to_bigint over
                # substr(lower(hex(encode(text,'utf-8'))), 2i-1, 2);
                # the caller's WHERE guarantees >= 64 bytes exist
                P[i] = np.frombuffer(
                    t.encode("utf-8")[:64], dtype=np.uint8
                ).reshape(8, 8)
            # separable 2-D DCT, exact int64:
            #   g[u*8+y] = sum_x P[y,x] * C[u,x]   (row pass)
            #   F[u*8+v] = sum_y g[u*8+y] * C[v,y] (column pass)
            # == einsum("ux,byx,vy->buv"); integer adds/multiplies only,
            # |F| <= 255*4096^2*64 < 2^48 so int64 is exact and the SQL
            # fold's association order is immaterial
            F = np.einsum("ux,byx,vy->buv", C, P, C, optimize=True)
            ac = F.reshape(B, 64)[:, 1:]
            # rank-32 order statistic (1-indexed 32nd smallest of the 63
            # AC values) == element_at(array_sort(ac), 32)
            med = np.sort(ac, axis=1)[:, 31]
            bits = ac > med[:, None]
            pows = np.left_shift(np.int64(1), np.arange(63, dtype=np.int64))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "phash": pd.Series((bits * pows).sum(axis=1), dtype="int64"),
                    "n_bits_set": pd.Series(bits.sum(axis=1), dtype="int64"),
                }
            )

    return gen


def phash_rel(docs: DataFrame) -> DataFrame:
    """Engine twin of :func:`multimodal.gen_phash` (before the final ORDER
    BY): (doc_id, phash, n_bits_set) via one exact-int64 NumPy separable
    DCT per Arrow batch instead of the interpreted 2x512-multiply SQL
    folds (~1.9 ms/doc interpreted; the whole sf0.1 corpus is ~70 ms
    vectorized).  Bit-identical by the exactness contracts above
    (parity-tested on all SF corpora + a multibyte/boundary edge corpus).

    The WHERE stays in SQL so the NOT NULL filter reaches the parquet
    scan; ``octet_length(encode(text,'utf-8')) >= 64`` replicates the SQL
    form's byte-length guard exactly."""
    base = docs.where(
        "text IS NOT NULL AND octet_length(encode(text, 'utf-8')) >= 64"
    ).select("doc_id", "text")
    return base.mapInPandas(_phash_batches(), PHASH_OUT_SCHEMA)
