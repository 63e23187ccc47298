"""The lattice k-means family answers from the store it is given, not from
process state: a store rewritten in place is refitted, and a ragged store
(vectors of different dimensions) raises one named error from every entry
built on the fit instead of a result that silently differs from the
oracle."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from parity_util import assert_parity

from storage_crawler_spark.plans import registry

LATTICE_ENTRIES = (
    "sim_kmeans_lattice",
    "sim_ivf_trained_topk",
    "dedup_semantic",
    "sim_knn_kcore",
    "sim_knn_clustering_coeff",
    "sim_graph_2hop_topk",
    "sim_knn_link_predict",
)


def _write_store(base: pa.Table, emb: list, path: str) -> None:
    """Write ``base`` with its embedding column replaced by ``emb``."""
    col = base.schema.get_field_index("embedding")
    pq.write_table(
        base.set_column(col, "embedding", pa.array(emb, type=base.schema.field(col).type)),
        path,
    )


def _oracle_rows(entry: str, path: str) -> list[tuple]:
    import duckdb

    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{path}'")
    return con.execute(registry.get_query(entry).oracle).fetchall()


def test_rewritten_store_is_refitted(spark, sf_dir, tmp_path):
    """Rewrite the store at the same path inside one session: after
    ``refreshByPath`` both the fit artifact and a kNN-graph entry must
    match the oracle on the NEW contents."""
    base = pq.read_table(f"{sf_dir}/embeddings.parquet")
    path = str(tmp_path / "embeddings.parquet")
    pq.write_table(base, path)
    entries = ("sim_kmeans_lattice", "sim_knn_kcore")
    before = {}
    for entry in entries:
        spec = registry.get_query(entry)
        assert_parity(spec.builder(spark, str(tmp_path)), spec.oracle,
                      {"embeddings": path}, entry)
        before[entry] = _oracle_rows(entry, path)

    # same ids and labels, vectors reversed against vec_id: the init
    # centroids (lowest vec_ids) and so the whole fit change
    _write_store(base, base.column("embedding").to_pylist()[::-1], path)
    spark.catalog.refreshByPath(path)
    for entry in entries:
        assert _oracle_rows(entry, path) != before[entry], entry
        spec = registry.get_query(entry)
        assert_parity(spec.builder(spark, str(tmp_path)), spec.oracle,
                      {"embeddings": path}, entry)


@pytest.fixture(scope="module")
def ragged_sf_dir(sf_dir, tmp_path_factory):
    """The test store with every 7th vector cut to 63 dimensions."""
    base = pq.read_table(f"{sf_dir}/embeddings.parquet")
    emb = [
        v[:63] if i % 7 == 0 and v is not None else v
        for i, v in enumerate(base.column("embedding").to_pylist())
    ]
    d = tmp_path_factory.mktemp("ragged")
    _write_store(base, emb, str(d / "embeddings.parquet"))
    return str(d)


@pytest.mark.parametrize("entry", LATTICE_ENTRIES)
def test_ragged_store_raises_named_error(spark, ragged_sf_dir, entry):
    with pytest.raises(
        ValueError, match=r"kmeans_fit_lattice: ragged .* from 63 to 64"
    ):
        registry.get_query(entry).builder(spark, ragged_sf_dir).collect()
