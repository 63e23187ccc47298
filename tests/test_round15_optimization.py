"""Round-15 OPTIMIZATION parity pins.

Every change this round is a Spark-ENGINE-path restructure whose values
must be identical to the form it replaced; each test computes BOTH forms
in one session and compares rows exactly (the oracle gate then re-proves
the same equality against DuckDB per entry).

Changes pinned here:
- fastpath.winnow_pair_partials: the fp-keyed pair SELF-join of
  dedup_winnow_pairs replaced by a chunked Arrow pair stage over the
  df-capped (checkpointed) fingerprint relation.
- fastpath.lattice_parts: scale-adaptive partition counts for the lattice
  fit relations (values are partitioning-independent; the pin is the
  bounds contract).
- fastpath.spread before the simhash / minhash / jaccard-prep / winnow
  pandas-UDF stages (pure parallelism; values must not move).
"""

from __future__ import annotations

import pytest

from storage_crawler_spark.plans.dialect import DUCK, SPARK as D


def _register_docs(spark, sf_dir):
    from storage_crawler_spark.plans import views as V

    V.register_base_tables(spark, sf_dir, ("documents",))


def _rows(df, sort_cols):
    return [tuple(r) for r in df.orderBy(*sort_cols).collect()]


@pytest.mark.parametrize("n_chunks", [1, 3, 64])
def test_winnow_pair_partials_matches_self_join(spark, sf_dir, n_chunks):
    """sum(cnt) over the chunked Arrow pair partials == count(*) over the
    fp-keyed self-join, for chunk counts below/at/above the fp-group
    count (1 chunk = every fp in one group; 64 > distinct fps mod base)."""
    from storage_crawler_spark.operators import dedup, fastpath

    _register_docs(spark, sf_dir)
    wn = fastpath.winnow_fp_rows(fastpath.spread(spark.table("documents")))
    wn.createOrReplaceTempView("_r15_winnow_rows")
    fk = spark.sql(dedup.gen_winnow_fk(D, rows_rel="_r15_winnow_rows")).localCheckpoint()
    fk.createOrReplaceTempView("_r15_winnow_fk")

    join_form = spark.sql(dedup.gen_winnow_pairs(D, fk_rel="_r15_winnow_fk"))
    fastpath.winnow_pair_partials(fk, n_chunks).createOrReplaceTempView(
        "_r15_pair_partials"
    )
    arrow_form = spark.sql(
        dedup.gen_winnow_pairs(
            D, fk_rel="_r15_winnow_fk", pair_partials_rel="_r15_pair_partials"
        )
    )
    a = _rows(join_form, ["doc_a", "doc_b"])
    b = _rows(arrow_form, ["doc_a", "doc_b"])
    assert a == b and len(a) > 0


def test_winnow_pair_partials_guards():
    """The partials path is Spark-engine-only and requires the shared fk
    relation — both misuses must raise, not silently diverge."""
    from storage_crawler_spark.operators import dedup

    with pytest.raises(ValueError, match="ENGINE"):
        dedup.gen_winnow_pairs(DUCK, fk_rel="x", pair_partials_rel="y")
    with pytest.raises(ValueError, match="fk_rel"):
        dedup.gen_winnow_pairs(D, pair_partials_rel="y")


def test_lattice_parts_bounds(spark):
    """Scale-adaptive partition count: >=1 always, 1 while the store is
    below one batch target, capped at defaultParallelism for huge stores."""
    from storage_crawler_spark.operators.fastpath import (
        LATTICE_ROWS_PER_TASK,
        lattice_parts,
    )

    par = spark.sparkContext.defaultParallelism
    assert lattice_parts(spark, 0) == 1
    assert lattice_parts(spark, 1) == 1
    assert lattice_parts(spark, LATTICE_ROWS_PER_TASK) == 1
    assert lattice_parts(spark, LATTICE_ROWS_PER_TASK + 1) == min(par, 2)
    assert lattice_parts(spark, 10**12) == par


def test_simhash_pairs_invariant_under_input_repartition(spark, sf_dir):
    """The simhash builder now repartitions its (possibly single-file)
    input before the pandas-UDF fingerprint stage; the pair set must be
    byte-identical to the unrepartitioned form."""
    from storage_crawler_spark.operators.fastpath import spread
    from storage_crawler_spark.operators.simhash import simhash_near_dups

    _register_docs(spark, sf_dir)
    docs = spark.table("documents")
    base = _rows(simhash_near_dups(docs, max_hamming=7), ["doc_a", "doc_b"])
    rep = _rows(simhash_near_dups(spread(docs), max_hamming=7), ["doc_a", "doc_b"])
    assert base == rep and len(base) > 0


@pytest.mark.parametrize("twin", ["minhash_sigs", "jaccard_prep", "winnow_fp_rows"])
def test_twin_invariant_under_spread(spark, sf_dir, twin):
    """The builders feed these engine twins fastpath.spread(documents);
    every output row must be byte-identical to the unspread form."""
    from storage_crawler_spark.operators import fastpath

    _register_docs(spark, sf_dir)
    docs = spark.table("documents")
    fn = getattr(fastpath, twin)
    base = sorted(map(tuple, fn(docs).collect()))
    spread = sorted(map(tuple, fn(fastpath.spread(docs)).collect()))
    assert base == spread and len(base) > 0
