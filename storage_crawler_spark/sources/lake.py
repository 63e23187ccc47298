"""Parquet lake sink: the engine's primary storage layout.

The reference keeps one PostgreSQL schema per crawl run
(``storcrawl_<tag>``, storcrawl.py:59/:103) holding ``files`` + ``status``.
The lake mirrors that namespace as a directory layout:

    <root>/storcrawl_<tag>/files/    (Parquet, range-partitioned by path)
    <root>/storcrawl_<tag>/status/   (Parquet, append-only)

Scale design (the 100 TB shape):

- **Range partition by path** before writing: lexicographically contiguous
  subtrees land in the same files, so Parquet min/max column stats prune
  subtree-scoped queries (``path LIKE '/data/x/%'``) to a handful of files
  — the lake-native analog of an index on path.  Range partitioning also
  avoids the small-files problem a ``partitionBy(top_dir)`` layout hits on
  skewed trees (one huge partition per heavy top-level dir, thousands of
  tiny ones elsewhere).
- **Append-only status**: each crawl/report run appends normalized metric
  rows through :func:`append_status`, which continues the tag's ``id``
  sequence as the reference's SERIAL key does (:func:`append_with_ids`,
  which the incremental crawl's ``files`` appends use too); readers
  aggregate (latest-per-key by max id, B8) instead of updating in place.
- ``drop_tag`` + overwrite mode reproduce the reference's destructive
  re-create semantics (DROP SCHEMA … CASCADE, storcrawl.py:97-131).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from storage_crawler_spark.crawl.pipeline import CrawlResult
from storage_crawler_spark.plans.views import parquet_column_max


def _tag_dir(root: str, tag: str) -> str:
    return os.path.join(root, f"storcrawl_{tag}")


def write_crawl(
    result: CrawlResult,
    root: str,
    tag: str = "crawl",
    mode: str = "overwrite",
    target_partitions: int | None = None,
) -> str:
    """Persist a crawl result under ``<root>/storcrawl_<tag>/``.

    ``target_partitions`` sizes the files table's output files; default is
    the session's shuffle parallelism.  Returns the tag directory.
    """
    tag_dir = _tag_dir(root, tag)
    files = result.files
    n = target_partitions or files.sparkSession.conf.get("spark.sql.shuffle.partitions")
    (
        files.repartitionByRange(int(n), "path")
        .sortWithinPartitions("path")
        .write.mode(mode)
        .parquet(os.path.join(tag_dir, "files"))
    )
    append_status(result.status, root, tag)
    return tag_dir


def append_with_ids(df: DataFrame, path: str) -> None:
    """Append ``df`` to the parquet table at ``path`` with its non-negative
    ``id`` column shifted past the largest id there, as the reference's
    SERIAL continues.  The largest id is read from the parquet footers
    (``views.parquet_column_max``), so only the write runs a Spark job.
    Appends do not coordinate: one writer per table at a time."""
    if os.path.isdir(path):
        top = parquet_column_max(path, "id")
        if top is not None:
            df = df.withColumn("id", F.col("id") + (top + 1))
    df.write.mode("append").parquet(path)


def append_status(status: DataFrame, root: str, tag: str = "crawl") -> None:
    """Append STATUS_SCHEMA rows to a tag's ``status``, ids continued (the
    latest-per-status report keys on them)."""
    append_with_ids(status, os.path.join(_tag_dir(root, tag), "status"))


def write_bucketed(
    df: DataFrame,
    table: str,
    keys: list[str],
    n_buckets: int = 8,
    path: str | None = None,
    mode: str = "overwrite",
    sorted_by_key: bool = True,
) -> None:
    """Bucketed (hash-partitioned-at-rest) catalog table for co-located joins.

    Two tables bucketed by the same keys into the same bucket count join
    WITHOUT a shuffle — each bucket pair is joined in place.  At 100 TB
    this is the standing answer for the fact↔fact joins that would
    otherwise shuffle the big side every query (e.g. files↔files across
    crawl tags, lineitem↔orders).  ``sorted_by_key`` additionally persists
    sort order so the sort-merge join skips its sort.
    """
    writer = df.write.mode(mode).format("parquet").bucketBy(n_buckets, *keys)
    if sorted_by_key:
        writer = writer.sortBy(*keys)
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def merge_snapshot(old_files: DataFrame, new_files: DataFrame, recrawled_roots: list[bytes]) -> DataFrame:
    """Merge a subtree re-crawl into an existing files table: rows under any
    re-crawled root are REPLACED by the new snapshot (deletions disappear,
    changes update), everything else is kept.  This is the incremental
    maintenance op a real deployment runs instead of full re-crawls.

    Spark shape: the "delete" side is a prefix predicate, not a join — each
    old row is kept iff its path is outside every re-crawled subtree.  With
    the lake's files table range-partitioned by path (write_crawl), the
    prefix predicates align with parquet min/max path stats, so the scan
    prunes to the files that overlap the re-crawled ranges plus pass-through
    copies of the rest: no shuffle at any size.  (An equi-join formulation
    would shuffle the whole table on path.)

    The caller re-crawls ``recrawled_roots`` (byte paths, as stored) into
    ``new_files``; out-of-scope rows in new_files are rejected loudly rather
    than silently merged.
    """
    def under_any_root(col):
        # binary-safe prefix test (Column.startswith is string-only)
        preds = []
        for r in recrawled_roots:
            pfx = bytes(r) + b"/"
            preds.append((col == F.lit(bytes(r))) | (F.substring(col, 1, len(pfx)) == F.lit(pfx)))
        out = preds[0]
        for p in preds[1:]:
            out = out | p
        return out

    stray = new_files.filter(~under_any_root(F.col("path"))).limit(1).collect()
    if stray:
        raise ValueError(
            f"new_files contains rows outside the re-crawled roots, e.g. {bytes(stray[0].path)!r}"
        )
    kept = old_files.filter(~under_any_root(F.col("path")))
    return kept.unionByName(new_files)


def snapshot_diff(old_files: DataFrame, new_files: DataFrame) -> DataFrame:
    """Diff two crawl snapshots by path: one row per path that was added,
    removed, or changed (size or mtime), with the size delta.

    The storage-admin question ("what grew since last week?") as one
    full-outer equi-join on path.  Scale shape: both sides come out of the
    lake range-partitioned and sorted by path (write_crawl), so Catalyst
    plans a sort-merge join whose sort is already satisfied after the
    exchange; with both tags bucketed by path (write_bucketed) the exchange
    disappears too.  Unchanged paths are filtered out AFTER the join —
    they never leave the join stage (the filter sits in the same codegen
    span), so the output is just the churn, not the corpus.

    Presence is tracked with explicit markers, not stat-column nullness:
    real crawls emit lstat-error rows whose st_* columns are all NULL
    (walker ``lstat_row`` on a failed lstat), so a path present in both
    snapshots with a NULL size must not read as "added".  Change detection
    is null-safe (``IS DISTINCT FROM``): NULL→value and value→NULL stat
    transitions count as "changed", NULL→NULL counts as "same".
    """
    o = old_files.select(
        F.col("path"),
        F.col("st_size").alias("old_size"),
        F.col("st_mtime").alias("old_mtime"),
        F.lit(True).alias("in_old"),
    )
    n = new_files.select(
        F.col("path"),
        F.col("st_size").alias("new_size"),
        F.col("st_mtime").alias("new_mtime"),
        F.lit(True).alias("in_new"),
    )
    j = o.join(n, "path", "full_outer")
    status = (
        F.when(F.col("in_old").isNull(), F.lit("added"))
        .when(F.col("in_new").isNull(), F.lit("removed"))
        .when(
            ~F.col("old_size").eqNullSafe(F.col("new_size"))
            | ~F.col("old_mtime").eqNullSafe(F.col("new_mtime")),
            F.lit("changed"),
        )
        .otherwise(F.lit("same"))
    )
    return (
        j.withColumn("status", status)
        .filter(F.col("status") != "same")
        .withColumn(
            "size_delta",
            F.coalesce(F.col("new_size"), F.lit(0)) - F.coalesce(F.col("old_size"), F.lit(0)),
        )
        .select("path", "status", "old_size", "new_size", "size_delta")
    )


def read_files(spark: SparkSession, root: str, tag: str = "crawl") -> DataFrame:
    return spark.read.parquet(os.path.join(_tag_dir(root, tag), "files"))


def read_status(spark: SparkSession, root: str, tag: str = "crawl") -> DataFrame:
    return spark.read.parquet(os.path.join(_tag_dir(root, tag), "status"))


def list_tags(root: str) -> list[str]:
    """Crawl tags present under the lake root (schema namespaces, B2 analog)."""
    if not os.path.isdir(root):
        return []
    return sorted(
        d[len("storcrawl_"):]
        for d in os.listdir(root)
        if d.startswith("storcrawl_") and os.path.isdir(os.path.join(root, d))
    )


def drop_tag(root: str, tag: str) -> bool:
    """DROP SCHEMA … CASCADE analog (storcrawl.py:97-101): remove a tag's
    entire namespace.  Returns whether anything existed."""
    tag_dir = _tag_dir(root, tag)
    existed = os.path.isdir(tag_dir)
    if existed:
        shutil.rmtree(tag_dir)
    return existed


def gen_compaction_plan(d, target_bytes: int = 8 << 20) -> str:
    """Small-file compaction PLAN over the ``files`` relation: within each
    top-level root, files are packed in deterministic path order into
    output groups of ~``target_bytes`` (running-sum bin assignment — the
    same windowed-prefix-sum shape as text packing, applied to lake
    maintenance).  The plan is what a compaction job executes with a
    repartition-by-(root, bin) + per-task concatenation; emitting the plan
    as a relation makes the maintenance decision auditable before any
    rewrite runs.

    One window per root (shuffle on the root key, sort by path) over a
    narrow (root, path, size) projection, then one partial-combining
    aggregate.  All window-sum outputs CAST to BIGINT (the round-4 DuckDB
    HUGEINT driver-hash trap lives exactly here), and each root's FIRST
    file coalesces its empty-frame prefix sum to 0 (both engines yield
    NULL over the empty ROWS frame, which would put one file per root
    into a NULL bin).
    """
    root = d.elem(d.split("path", "/"), "2")
    bin_id = d.idiv("cum_before", str(target_bytes))
    fill = d.trunc6(f"CAST(sum(st_size) AS DOUBLE) / {target_bytes}")
    return f"""
SELECT root, CAST({d.idiv('cum_before', str(target_bytes))} AS BIGINT) AS bin_id,
       CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(st_size) AS BIGINT) AS total_bytes,
       {fill} AS fill_ratio
FROM (
  SELECT root, st_size,
         CAST(coalesce(sum(st_size) OVER (PARTITION BY root ORDER BY path
                                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS BIGINT) AS cum_before
  FROM (SELECT {root} AS root, path, st_size FROM files) f
) w
GROUP BY root, {bin_id}
ORDER BY root, bin_id
""".strip()


def _twopass_ntile(
    d,
    src: str,
    cols: str,
    key: str,
    n_tiles: int,
    p: str,
    nb: int = 64,
    bounds: tuple[int, int] | None = None,
    n_rel: str | None = None,
) -> tuple[str, str]:
    """CTE chain reproducing ``ntile(n_tiles) OVER (ORDER BY key,
    event_id)`` EXACTLY — same tile for every row — with no unpartitioned
    window: rows range-bucket on the key (``nb`` equal-width buckets from
    one min/max probe), rank under a PARTITIONED window, add the
    theta-join bucket offsets (≤``nb``+1 rows), and map the global rank to
    its tile with the closed-form ntile arithmetic (first ``N mod n``
    tiles get ``ceil(N/n)`` rows, the rest ``floor(N/n)`` — the SQL
    standard's definition).  Equal keys share a range bucket, so the
    (key, event_id) tie order is entirely intra-partition.

    Returns (cte_sql, out_name); the out relation carries ``cols`` plus
    ``tile`` (1-based).  The q=0 small-N case (fewer rows than tiles)
    takes the first CASE branch for every row; the else-branch divisor is
    nullif-guarded so no engine evaluates a division by zero eagerly.

    ``bounds`` supplies STATIC key bounds (known domains like a byte
    bucket or a Morton value) — the min/max probe aggregate and its cross
    join disappear, saving a full pass per chain.  ``n_rel`` names a
    shared 1-row ``(n)`` count relation when several chains tile the same
    source (the count is source-wide, not chain-specific).
    """
    ceil1 = d.idiv("(grank + q)", "(q + 1)")
    ceil2 = d.idiv("(grank - (q + 1) * rem + q - 1)", "nullif(q, 0)")
    # DuckDB re-explodes multiply-referenced CTEs ({p}_r feeds both the
    # bucket counts and the rank join) — materialize (pca_cte_base trap)
    mat = " MATERIALIZED" if d.name == "duck" else ""
    parts = []
    if bounds is None:
        parts.append(
            f"""{p}_b AS (
  SELECT CAST(min({key}) AS BIGINT) AS kmin,
         ({d.idiv(f'(max({key}) - min({key}))', str(nb))} + 1) AS w
  FROM {src}
)"""
        )
        parts.append(
            f"""{p}_r AS{mat} (
  SELECT {cols}, {key} AS k_{p}, {d.idiv(f'({key} - {p}_b.kmin)', f'{p}_b.w')} AS pk
  FROM {src} CROSS JOIN {p}_b
)"""
        )
    else:
        lo, hi = bounds
        w = (hi - lo) // nb + 1
        parts.append(
            f"""{p}_r AS{mat} (
  SELECT {cols}, {key} AS k_{p}, {d.idiv(f'({key} - {lo})', str(w))} AS pk
  FROM {src}
)"""
        )
    parts.append(f"{p}_c AS (SELECT pk, CAST(count(*) AS BIGINT) AS c FROM {p}_r GROUP BY pk)")
    parts.append(
        f"""{p}_o AS (
  SELECT a.pk, CAST(coalesce(sum(b.c), 0) AS BIGINT) AS off
  FROM {p}_c a LEFT JOIN {p}_c b ON b.pk < a.pk
  GROUP BY a.pk
)"""
    )
    t_rel = n_rel if n_rel else f"{p}_t"
    if not n_rel:
        parts.append(f"{p}_t AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM {p}_c)")
    parts.append(
        f"""{p}_g AS (
  SELECT r.*, o.off + row_number() OVER (PARTITION BY r.pk
                                         ORDER BY r.k_{p}, r.event_id) AS grank,
         {d.idiv('t.n', str(n_tiles))} AS q, t.n % {n_tiles} AS rem
  FROM {p}_r r JOIN {p}_o o ON r.pk = o.pk CROSS JOIN {t_rel} t
)"""
    )
    parts.append(
        f"""{p}_out AS (
  SELECT {cols},
         CAST(CASE WHEN grank <= (q + 1) * rem THEN {ceil1}
              ELSE rem + {ceil2} END AS BIGINT) AS tile
  FROM {p}_g
)"""
    )
    return ",\n".join(parts), f"{p}_out"


def gen_zorder_z(d, buckets: int = 256, base_rel: str | None = None) -> str:
    """Standalone SELECT producing the ``z`` relation (event_id, u8, t8,
    zval): the Morton inputs of :func:`gen_zorder_layout`.  The Spark
    builder persists base first (``base_rel``) — the t8 two-pass chain
    references it three times and Spark inlines CTEs — then persists this
    relation, which the three layout chains reference twice each."""
    es = d.epoch_s_events("ts")
    u8 = f"CAST({d.md5_key48('user_id', 'zu')} % {buckets} AS BIGINT)"
    ubit = d.shl("(" + d.shr("u8", "x") + ") % 2", "2 * x + 1")
    tbit = d.shl("(" + d.shr("t8", "x") + ") % 2", "2 * x")
    interleave = d.reduce_bigint(d.seq("0", "7"), f"acc + {ubit} + {tbit}")
    mat = " MATERIALIZED" if d.name == "duck" else ""
    if base_rel:
        base_cte = f"base AS (SELECT event_id, u8, es FROM {base_rel})"
    else:
        base_cte = f"""base AS{mat} (
  SELECT event_id, {u8} AS u8, {es} AS es FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
)"""
    tcte, tout = _twopass_ntile(d, "base", "event_id, u8", "es", buckets, "nt")
    return f"""
WITH {base_cte},
{tcte},
tb AS (SELECT event_id, u8, tile - 1 AS t8 FROM {tout})
SELECT event_id, u8, t8, {interleave} AS zval FROM tb
""".strip()


def gen_zorder_base(d, buckets: int = 256) -> str:
    """The pruned (event_id, u8, es) projection the Spark builder persists
    ahead of :func:`gen_zorder_z`."""
    es = d.epoch_s_events("ts")
    u8 = f"CAST({d.md5_key48('user_id', 'zu')} % {buckets} AS BIGINT)"
    return (
        f"SELECT event_id, {u8} AS u8, {es} AS es FROM events "
        f"WHERE user_id IS NOT NULL AND ts IS NOT NULL"
    )


def gen_zorder_layout(
    d, n_files: int = 64, buckets: int = 256, z_rel: str | None = None
) -> str:
    """Z-ORDER (Morton-curve) file-layout audit over the events stream:
    bucket the two query dimensions (user hash, time rank) to 8 bits each,
    interleave the bits into a Morton z-value, pack events into
    ``n_files`` files three ways — z-order, time-linear, user-linear —
    and report each layout's min-max pruning cost: the expected number of
    files a single-bucket predicate on EACH dimension must scan (the
    per-file [min,max] interval coverage, i.e. exactly what parquet
    row-group / Iceberg file pruning sees).

    This is the data-layout decision a 100 TB lake makes once and pays for
    on every query: a time-linear layout prunes time slices to ~1 file but
    makes user point-queries scan everything; z-order bounds BOTH at
    ~sqrt(n_files).  The audit emits the three costs side by side so the
    trade-off is a number, not folklore.

    Determinism: both bucketings are total-order ntiles keyed by
    (value, event_id); the interleave is an integer fold (deterministic in
    both engines).  Every ntile runs as the TWO-PASS partitioned form
    (:func:`_twopass_ntile` — range buckets, partitioned ranks, theta-join
    offsets, closed-form tile arithmetic), so no single-partition sort
    exists at any scale while the tile assignment stays bit-identical to
    SQL ``ntile``; the z-value construction is the part a writer reuses
    verbatim via ``repartitionByRange(zval)``.

    NULL user_id/ts rows are dropped at the scan (NULL ordering diverges
    between engines — Spark NULLS FIRST, DuckDB NULLS LAST — and a layout
    audit over unkeyed rows is meaningless; r7 ADVICE).  The Spark
    builder persists base and z via ``z_rel`` (each is referenced by
    several chains and Spark inlines CTEs — the oracle materializes
    instead); passing ``z_rel`` swaps the whole derivation for the
    persisted relation.
    """
    mat = " MATERIALIZED" if d.name == "duck" else ""
    if z_rel:
        z_cte = f"z AS (SELECT event_id, u8, t8, zval FROM {z_rel})"
    else:
        z_cte = f"z AS{mat} (\n{gen_zorder_z(d, buckets)}\n)"
    # static domains (byte buckets, Morton range) kill the min/max probes;
    # the three chains share ONE row count of z
    zcte, zout = _twopass_ntile(
        d, "z", "event_id, u8, t8", "zval", n_files, "zf",
        bounds=(0, buckets * buckets - 1), n_rel="zn",
    )
    lcte, lout = _twopass_ntile(
        d, "z", "event_id, u8, t8", "t8", n_files, "tf",
        bounds=(0, buckets - 1), n_rel="zn",
    )
    ucte, uout = _twopass_ntile(
        d, "z", "event_id, u8, t8", "u8", n_files, "uf",
        bounds=(0, buckets - 1), n_rel="zn",
    )
    return f"""
WITH {z_cte},
zn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM z),
{zcte},
{lcte},
{ucte},
layouts AS (
  SELECT 'zorder' AS layout, u8, t8, tile AS file_id FROM {zout}
  UNION ALL
  SELECT 'time_linear' AS layout, u8, t8, tile AS file_id FROM {lout}
  UNION ALL
  SELECT 'user_linear' AS layout, u8, t8, tile AS file_id FROM {uout}
),
file_stats AS (
  SELECT layout, file_id,
         min(t8) AS tmin, max(t8) AS tmax,
         min(u8) AS umin, max(u8) AS umax
  FROM layouts GROUP BY layout, file_id
)
SELECT layout,
       CAST(count(*) AS BIGINT) AS n_files,
       {d.trunc6(f"CAST(sum(tmax - tmin + 1) AS DOUBLE) / {buckets}.0e0")} AS avg_files_per_time_slice,
       {d.trunc6(f"CAST(sum(umax - umin + 1) AS DOUBLE) / {buckets}.0e0")} AS avg_files_per_user_slice
FROM file_stats
GROUP BY layout
ORDER BY layout
""".strip()


def gen_manifest_rel(d, modulus: int = 7, files_rel: str = "files") -> str:
    """Live-snapshot MANIFEST relation: the path set the current table
    version still references (a Delta `_last_checkpoint` / Iceberg
    manifest-list, re-expressed as a relation).  Deterministic dereference
    predicate: every ``id % modulus == 0`` file has been dropped from the
    snapshot.  The modulus is COPRIME with the path-shape residues (the
    files view routes ids by mod 3/5), so orphans land in every root — a
    multiple of 3 would never orphan an /archive file (the URL-tier
    residue-coupling lesson)."""
    return f"SELECT path FROM {files_rel} WHERE id % {modulus} <> 0"


def gen_vacuum_plan(
    d,
    as_of_epoch: int = 1_700_500_000,
    retention_s: int = 400_000,
    modulus: int = 7,
    files_rel: str = "files",
    manifest_rel: str | None = None,
) -> str:
    """VACUUM plan over the ``files`` relation: per top-level root, which
    unreferenced files a vacuum run may delete NOW and which it must
    retain — the third leg of the lake-maintenance triad beside the
    compaction plan and the z-order layout.  Deleting an unreferenced
    file younger than the retention window breaks in-flight readers (the
    Delta VACUUM contract: never remove files a snapshot started before
    the dereference could still be reading), so the plan splits orphans
    into vacuum-now vs retained-young and the job executes only the
    former.

    The "no longer referenced" set is a real MANIFEST ANTI-JOIN (r11 —
    previously an inline modulus predicate): the storage listing is LEFT-
    joined against :func:`gen_manifest_rel` on path and a NULL probe marks
    the orphan, exactly the plan a Delta/Iceberg VACUUM runs against the
    live snapshot's file list.  Age compares ``st_mtime`` against the
    fixture's frozen as-of instant, never NOW() (oracle reproducibility).

    100 TB shape: one scan of the storage listing + one equi anti-join on
    path against the manifest — broadcast when the manifest fits (a Delta
    checkpoint parquet typically does), AQE picks shuffle otherwise — then
    one partial-combining aggregate on the small root key.  The Spark
    builder passes a CHECKPOINTED ``files``/manifest pair: path is a
    COMPUTED string column of the files view, so the inline join key would
    re-substitute the whole view chain under pushdown (the URL-tier
    lesson).
    """
    root = d.elem(d.split("path", "/"), "2")
    man = manifest_rel or f"(\n{gen_manifest_rel(d, modulus, files_rel)}\n)"
    old = f"(st_mtime <= {as_of_epoch} - {retention_s})"
    return f"""
SELECT root,
       CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(orphan) AS BIGINT) AS n_orphans,
       CAST(sum(CASE WHEN orphan = 1 AND {old} THEN 1 ELSE 0 END) AS BIGINT) AS n_vacuum_now,
       CAST(sum(CASE WHEN orphan = 1 AND NOT {old} THEN 1 ELSE 0 END) AS BIGINT) AS n_retained_young,
       CAST(sum(CASE WHEN orphan = 1 AND {old} THEN st_size ELSE 0 END) AS BIGINT) AS bytes_reclaimable
FROM (
  SELECT f.root, f.st_mtime, f.st_size,
         CASE WHEN m.path IS NULL THEN 1 ELSE 0 END AS orphan
  FROM (SELECT {root} AS root, path, st_mtime, st_size FROM {files_rel}) f
  LEFT JOIN {man} m ON f.path = m.path
) j
GROUP BY root
ORDER BY root
""".strip()


def gen_file_tiles(d, n_files: int = 64) -> str:
    """Time-linear file tiling of the events stream — the write-path
    relation the skipping audit consumes: (event_id, epoch_s, cents,
    tile).  Ingest-ordered packing via the exact two-pass ntile (no
    unpartitioned window); money as DECIMAL-cents BIGINTs."""
    es = d.epoch_s_events("ts")
    ncte, nout = _twopass_ntile(
        d, "e", "event_id, epoch_s, cents", "epoch_s", n_files, "fs"
    )
    return f"""
WITH e AS (
  SELECT event_id, CAST({es} AS BIGINT) AS epoch_s,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
),
{ncte}
SELECT event_id, epoch_s, cents, tile FROM {nout}
""".strip()


def gen_file_skipping(d, n_files: int = 64, tiles_rel: str | None = None) -> str:
    """Zone-map data-skipping audit — the fourth leg of the lake-
    maintenance plane: given the per-file [min,max] column statistics a
    Delta/Iceberg/parquet footer keeps ("zone maps"), how many files does
    each representative predicate actually skip, and how many scans are
    FALSE POSITIVES (the zone-map interval overlaps the predicate but the
    file contains no matching row)?  Skip ratio is the number a 100 TB
    lake tunes layout against; the false-positive column is the zone-
    map's bluntness made visible — a time-linear layout prunes time
    slices near-perfectly and mid-range value slices almost not at all,
    because every file's value interval spans most of the domain.

    Files come from :func:`gen_file_tiles` (ingest order — the layout a
    lake gets by default; the z-order entry audits the alternatives).
    Predicates are a constant VALUES relation of per-mille spans (a mid
    10% slice and a top 1% slice per dimension) anchored to the corpus
    min/max by one 1-row scalar aggregate, so the audit is scale-
    invariant: the same four predicates mean the same thing at sf0.001
    and at 100 TB.

    Output per predicate: files scanned vs matching, false-positive
    scans, rows matched, and the skip ratio.  100 TB shape: one tiling
    pass (the write path a lake already pays), then the scan decision
    runs on the per-file STATS relation (n_files rows — the manifest,
    not the data) plus one corpus pass for the ground truth; the
    constant 4-row predicate relation broadcasts everywhere.  The Spark
    builder passes ``tiles_rel`` (a CHECKPOINTED tiles relation): the
    tile id is a computed column consumed by both the stats and the
    truth chains — the CTE-inlining trap this module documents.
    """
    tiles = tiles_rel or f"(\n{gen_file_tiles(d, n_files)}\n)"
    return f"""
WITH t AS (SELECT event_id, epoch_s, cents, tile FROM {tiles}),
fstats AS (
  SELECT tile AS file_id,
         min(epoch_s) AS tmin, max(epoch_s) AS tmax,
         min(cents) AS vmin, max(cents) AS vmax,
         CAST(count(*) AS BIGINT) AS n_rows
  FROM t GROUP BY tile
),
span AS (
  SELECT min(epoch_s) AS t0, max(epoch_s) AS t1,
         min(cents) AS v0, max(cents) AS v1
  FROM t
),
preds AS (
  SELECT pv.pred_id, pv.dim,
         CASE WHEN pv.dim = 'time' THEN s.t0 + {d.idiv('(s.t1 - s.t0) * pv.lo_pm', '1000')}
              ELSE s.v0 + {d.idiv('(s.v1 - s.v0) * pv.lo_pm', '1000')} END AS lo,
         CASE WHEN pv.dim = 'time' THEN s.t0 + {d.idiv('(s.t1 - s.t0) * pv.hi_pm', '1000')}
              ELSE s.v0 + {d.idiv('(s.v1 - s.v0) * pv.hi_pm', '1000')} END AS hi
  FROM (VALUES (1, 'time', 450, 550), (2, 'time', 990, 1000),
               (3, 'value', 450, 550), (4, 'value', 990, 1000))
       AS pv(pred_id, dim, lo_pm, hi_pm)
  CROSS JOIN span s
),
scans AS (
  SELECT p.pred_id, p.dim,
         CAST(count(*) AS BIGINT) AS n_files,
         CAST(sum(CASE WHEN p.lo <= (CASE WHEN p.dim = 'time' THEN f.tmax ELSE f.vmax END)
                        AND p.hi >= (CASE WHEN p.dim = 'time' THEN f.tmin ELSE f.vmin END)
                  THEN 1 ELSE 0 END) AS BIGINT) AS files_scanned
  FROM fstats f CROSS JOIN preds p
  GROUP BY p.pred_id, p.dim
),
truth AS (
  SELECT p.pred_id,
         CAST(count(*) AS BIGINT) AS rows_matched,
         CAST(count(DISTINCT r.tile) AS BIGINT) AS files_matching
  FROM t r CROSS JOIN preds p
  WHERE (CASE WHEN p.dim = 'time' THEN r.epoch_s ELSE r.cents END)
        BETWEEN p.lo AND p.hi
  GROUP BY p.pred_id
)
SELECT s.pred_id, s.dim, s.n_files, s.files_scanned,
       CAST(coalesce(t2.files_matching, 0) AS BIGINT) AS files_matching,
       CAST(s.files_scanned - coalesce(t2.files_matching, 0) AS BIGINT) AS false_positive_scans,
       CAST(coalesce(t2.rows_matched, 0) AS BIGINT) AS rows_matched,
       {d.trunc6('1.0e0 - CAST(s.files_scanned AS DOUBLE) / s.n_files')} AS skip_ratio
FROM scans s LEFT JOIN truth t2 ON s.pred_id = t2.pred_id
ORDER BY s.pred_id
""".strip()


def gen_column_stats(d) -> str:
    """ANALYZE-style per-column statistics for the lineitem table — the
    fifth leg of the lake-maintenance plane: the statistics relation a
    cost-based optimizer (Spark CBO / Iceberg `ANALYZE TABLE ... COMPUTE
    STATISTICS FOR COLUMNS`) consumes for join reordering and broadcast
    decisions.  Per column: row count, NULL count/fraction, EXACT distinct
    count, numeric min/max (ship dates as DATE-epoch seconds — no raw
    timestamps in outputs, the house rule), string min/max, and average
    width in UTF-8 BYTES (the row-size estimate joins/aggregations are
    costed by; numeric widths are the physical fixed widths; string width
    via the dialect byte_len — length() counts characters and diverges
    across engines on non-ASCII text, r11 ADVICE).

    Shape: a UNION ALL of per-column single-aggregate branches — each
    branch's parquet scan is pruned to ONE column and its distinct
    aggregate partial-combines on that column alone, all branches
    pipelining in parallel.  Measured against the one-pass multi-distinct
    form (a single SELECT with 11 count(DISTINCT)s): Spark plans that as
    a 12-way Expand of the full row stream — 20s vs 4s at sf0.1 — so the
    per-column union IS the better plan at any scale, exactly the shape
    Spark's own ANALYZE runs per column.  At extreme scale swap the exact
    NDVs for the deterministic HLL sketch (operators/sketches.py) column
    by column — the output contract is unchanged.
    """
    es = d.epoch_s_date("l_shipdate")
    num_cols = [
        ("l_orderkey", "l_orderkey", 8),
        ("l_partkey", "l_partkey", 8),
        ("l_suppkey", "l_suppkey", 8),
        ("l_linenumber", "l_linenumber", 4),
        ("l_quantity", "l_quantity", 8),
        ("l_extendedprice", "l_extendedprice", 8),
        ("l_discount", "l_discount", 8),
        ("l_tax", "l_tax", 8),
        ("l_shipdate", es, 8),
    ]
    str_cols = ["l_returnflag", "l_linestatus"]
    branches = []
    for i, (name, expr, w) in enumerate(num_cols):
        branches.append(f"""SELECT {i + 1} AS col_id, '{name}' AS col_name,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(*) - count({expr}) AS BIGINT) AS null_count,
       CASE WHEN count(*) = 0 THEN NULL
            ELSE {d.trunc6(f'CAST(count(*) - count({expr}) AS DOUBLE) / count(*)')}
       END AS null_frac,
       CAST(count(DISTINCT {expr}) AS BIGINT) AS ndv,
       CAST(min({expr}) AS DOUBLE) AS min_num,
       CAST(max({expr}) AS DOUBLE) AS max_num,
       CAST(NULL AS STRING) AS min_str,
       CAST(NULL AS STRING) AS max_str,
       CAST({w} AS DOUBLE) AS avg_width
FROM lineitem""")
    for i, name in enumerate(str_cols):
        branches.append(f"""SELECT {len(num_cols) + i + 1} AS col_id, '{name}' AS col_name,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(*) - count({name}) AS BIGINT) AS null_count,
       CASE WHEN count(*) = 0 THEN NULL
            ELSE {d.trunc6(f'CAST(count(*) - count({name}) AS DOUBLE) / count(*)')}
       END AS null_frac,
       CAST(count(DISTINCT {name}) AS BIGINT) AS ndv,
       CAST(NULL AS DOUBLE) AS min_num,
       CAST(NULL AS DOUBLE) AS max_num,
       min({name}) AS min_str,
       max({name}) AS max_str,
       {d.trunc6(f'CAST(sum({d.byte_len(name)}) AS DOUBLE) / nullif(count({name}), 0)')} AS avg_width
FROM lineitem""")
    union = "\nUNION ALL\n".join(branches)
    return f"""
SELECT col_name, n_rows, null_count, null_frac, ndv,
       min_num, max_num, min_str, max_str, avg_width
FROM (
{union}
) u
ORDER BY col_id
""".strip()


def gen_column_stats_hll(d) -> str:
    """Sketch-swapped :func:`gen_column_stats` (r12, verdict item 9 — the
    swap the base entry's docstring promises for extreme scale): the exact
    per-column count(DISTINCT) — the one aggregate whose state grows with
    column cardinality — is replaced by the deterministic HLL NDV estimate
    (operators/sketches.gen_hll_ndv, 64 registers per column, state
    constant in the data).  Everything else (counts, null fractions) stays
    exact; min/max/width are dropped — this is the NDV leg, the other legs
    are already bounded-state in the exact entry.

    Hash-input canonicalization: ints/strings hash as-is; DOUBLE money/
    quantity columns go through an exact cent lattice (floor(x·100 + 0.5)
    — engines disagree on double→string scientific-notation thresholds,
    and TPC-H columns carry exactly 2 decimals so the lattice is
    injective); ship dates hash their epoch-seconds BIGINT.

    Shape: per-column branch = one exact count pass CROSS JOIN one 64-row
    register aggregate, column-pruned like the exact entry's union; the
    estimate is engine-identical (the HLL exactness argument), so the
    entry stays value-hash-gated despite being approximate."""
    from storage_crawler_spark.operators.sketches import gen_hll_ndv

    cols = _colstats_hll_cols(d)
    branches = []
    for i, (name, key) in enumerate(cols):
        hll = gen_hll_ndv(d, key, "lineitem", f"colndv_{name}")
        branches.append(f"""SELECT {i + 1} AS col_id, '{name}' AS col_name,
       s.n_rows, s.null_count, s.null_frac,
       h.n_registers_hit, h.distinct_est AS ndv_est
FROM (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         CAST(count(*) - count({name}) AS BIGINT) AS null_count,
         CASE WHEN count(*) = 0 THEN NULL
              ELSE {d.trunc6(f'CAST(count(*) - count({name}) AS DOUBLE) / count(*)')}
         END AS null_frac
  FROM lineitem
) s CROSS JOIN (
{hll}
) h""")
    union = "\nUNION ALL\n".join(branches)
    return f"""
SELECT col_name, n_rows, null_count, null_frac, n_registers_hit, ndv_est
FROM (
{union}
) u
ORDER BY col_id
""".strip()


def _colstats_hll_cols(d) -> list[tuple[str, str]]:
    """The 11 lineitem (name, canonicalized-STRING-key) pairs shared by
    both HLL column-stats forms — one definition so the A/B variants hash
    identical keys by construction."""
    es = d.epoch_s_date("l_shipdate")
    cents = "CAST(floor({c} * 100 + 0.5e0) AS BIGINT)"
    return [
        ("l_orderkey", "CAST(l_orderkey AS STRING)"),
        ("l_partkey", "CAST(l_partkey AS STRING)"),
        ("l_suppkey", "CAST(l_suppkey AS STRING)"),
        ("l_linenumber", "CAST(l_linenumber AS STRING)"),
        ("l_quantity", f"CAST({cents.format(c='l_quantity')} AS STRING)"),
        ("l_extendedprice", f"CAST({cents.format(c='l_extendedprice')} AS STRING)"),
        ("l_discount", f"CAST({cents.format(c='l_discount')} AS STRING)"),
        ("l_tax", f"CAST({cents.format(c='l_tax')} AS STRING)"),
        ("l_shipdate", f"CAST({es} AS STRING)"),
        ("l_returnflag", "l_returnflag"),
        ("l_linestatus", "l_linestatus"),
    ]


def gen_column_stats_hll_batched(d) -> str:
    """ONE-SCAN form of :func:`gen_column_stats_hll` (r13, r12 verdict
    item 5's A/B): all 11 columns' HLL observations come out of a single
    lineitem pass as packed BIGINTs
    ``col_id·2^22 + bucket·2^16 + rho`` (−1 for a NULL key), exploded and
    register-aggregated ONCE — versus the union form's 22 single-column
    scans / 33 shuffles, whose per-JOB overhead was the steepest surviving
    10× ratio (3.94×, BENCH_r12_scaleprobe).  NOT the rejected 12-way
    Expand: there is no multi-distinct — the explode stream is 11 packed
    BIGINTs per row and the one exchange carries ≤ 11·64 register rows per
    map task after partial max/count combine.

    Value-identical to the union form by construction: same per-column
    seeds and canonicalized keys (:func:`_colstats_hll_cols`), same
    md5-48 split, same register algebra, same estimate formula — so the
    two forms are interchangeable under the oracle hash gate and the A/B
    is a pure plan comparison (pinned by
    tests/test_round13_additions.py::test_colstats_hll_forms_identical).

    A/B RESULT (r13, Spark local[32], warm JVM, best of 2): the UNION
    form wins at both scales — sf0.1: 3.46 s vs 11.33 s batched; sf1.0
    (10×): 10.59 s vs 29.41 s batched (union's own 10× ratio 3.06×,
    sublinear).  The 11-wide explode stream (66 M packed rows at sf1.0)
    plus its exchange costs ~3× more than 22 column-pruned scans whose
    per-job overhead the r12 probe flagged; per-job overhead is a
    local-mode artifact the data-side explode cannot beat.  The union
    form therefore STAYS the registry entry; this variant is kept as the
    measured alternative for a future many-more-columns regime (per-job
    overhead grows with column count, the explode stream doesn't).

    Layers: key projection (NULL-safe — DuckDB's concat IGNORES NULLs, so
    the md5 key must be CASE-gated on the raw key, matching gen_hll_ndv's
    pre-hash filter) → rest = h >> 6 → packed array → explode → ONE
    (col, bucket) aggregate computing max(rho) AND the non-null count →
    per-col fold (n_hit, harmonic sum, n_nonnull) → estimate, LEFT-joined
    from the column-spec VALUES so an all-NULL column still reports a row
    (estimate 0 — the empty-input contract, r12 ADVICE)."""
    from storage_crawler_spark.operators.sketches import HLL_ALPHA, HLL_M

    m = HLL_M
    cols = _colstats_hll_cols(d)
    # NULL-safe 48-bit keys, one per column
    hsel = ",\n         ".join(
        f"CASE WHEN ({key}) IS NULL THEN CAST(NULL AS BIGINT) "
        f"ELSE {d.md5_key48(key, seed=f'colndv_{name}')} END AS h{i}"
        for i, (name, key) in enumerate(cols, start=1)
    )
    rsel = ",\n         ".join(
        f"h{i}, {d.shr(f'h{i}', '6')} AS r{i}" for i in range(1, len(cols) + 1)
    )

    def bitlen(r: str) -> str:
        return "(CASE " + " ".join(
            f"WHEN {r} >= {1 << (b - 1)} THEN {b}" for b in range(42, 0, -1)
        ) + " ELSE 0 END)"

    packed = ", ".join(
        f"CASE WHEN h{i} IS NULL THEN CAST(-1 AS BIGINT) "
        f"ELSE CAST({i * (1 << 22)} + (h{i} % {m}) * {1 << 16} "
        f"+ (43 - {bitlen(f'r{i}')}) AS BIGINT) END"
        for i in range(1, len(cols) + 1)
    )
    arr = f"array({packed})" if d.name == "spark" else f"[{packed}]"
    lat = d.lateral_explode(arr, "p")
    spec = ", ".join(
        f"({i}, '{name}')" for i, (name, _) in enumerate(cols, start=1)
    )
    est = (
        f"CASE WHEN v > 0 AND raw_est <= 2.5 * {m} "
        f"THEN {m} * ln(CAST({m} AS DOUBLE) / v) ELSE raw_est END"
    )
    return f"""
WITH hkeys AS (
  SELECT {hsel}
  FROM lineitem
),
rests AS (
  SELECT {rsel}
  FROM hkeys
),
obs AS (
  SELECT p FROM rests
  {lat}
),
regs AS (
  SELECT col_id, bucket, max(rho) AS mrho, CAST(count(*) AS BIGINT) AS n_obs
  FROM (
    SELECT {d.shr('p', '22')} AS col_id,
           {d.shr('p', '16')} % {m} AS bucket,
           p % {1 << 16} AS rho
    FROM obs WHERE p >= 0
  ) unpacked
  GROUP BY col_id, bucket
),
percol AS (
  SELECT col_id,
         CAST(count(*) AS BIGINT) AS n_hit,
         sum(power(2.0, -mrho)) AS harm_hit,
         CAST(sum(n_obs) AS BIGINT) AS n_nonnull
  FROM regs GROUP BY col_id
),
est AS (
  SELECT col_id, n_hit, n_nonnull,
         {HLL_ALPHA} * {m} * {m} / (harm_hit + ({m} - n_hit)) AS raw_est,
         CAST({m} - n_hit AS BIGINT) AS v
  FROM percol
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM lineitem),
spec(col_id, col_name) AS (VALUES {spec})
SELECT s.col_name,
       t.n_rows,
       t.n_rows - coalesce(e.n_nonnull, 0) AS null_count,
       CASE WHEN t.n_rows = 0 THEN NULL
            ELSE {d.trunc6("CAST(t.n_rows - coalesce(e.n_nonnull, 0) AS DOUBLE) / t.n_rows")}
       END AS null_frac,
       coalesce(e.n_hit, 0) AS n_registers_hit,
       coalesce({d.trunc6(est)}, CAST(0 AS DOUBLE)) AS ndv_est
FROM spec s CROSS JOIN tot t
LEFT JOIN est e ON e.col_id = s.col_id
ORDER BY s.col_id
""".strip()
