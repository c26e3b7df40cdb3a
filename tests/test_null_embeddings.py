"""A NULL embedding is not a vector.

The fixture is sf0.001's embeddings with every ``vec_id % 7 = 3``
embedding set to NULL (71 of 500 rows). Every registered query that
reads the embedding vector lineages (the quantized, anisotropic and
k-means inputs) must drop those rows the way its DuckDB oracle does:
no Python worker may see a NULL vector, and the rows must equal the
oracle's.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR
from tests.oracle import assert_matches_oracle

_LINEAGE_MODULES = {
    "mapreduceapp_spark.operators.similarity",
    "mapreduceapp_spark.operators.clustering",
    "mapreduceapp_spark.operators.ann_index",
}


def _lineage_queries() -> list[str]:
    from mapreduceapp_spark.plans.registry import all_queries, get_query

    all_queries()  # loads every operator module
    return sorted(
        name
        for name, builder in all_queries().items()
        if builder.__module__ in _LINEAGE_MODULES
        and "embeddings" in (get_query(name).oracle or "")
    )


@pytest.fixture(scope="module")
def null_sf_dir(tmp_path_factory) -> str:
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(f"{SF_DIR}/embeddings.parquet")
    i = t.schema.get_field_index("embedding")
    hole = pa.array([v % 7 == 3 for v in t["vec_id"].to_pylist()])
    emb = pc.if_else(hole, pa.scalar(None, t.schema.field(i).type), t["embedding"])
    out = tmp_path_factory.mktemp("null_embeddings")
    pq.write_table(t.set_column(i, "embedding", emb), out / "embeddings.parquet")
    return str(out)


def test_fixture_holds_the_planted_nulls(null_sf_dir):
    import pyarrow.parquet as pq

    t = pq.read_table(f"{null_sf_dir}/embeddings.parquet")
    nulls = {v for v, e in zip(t["vec_id"].to_pylist(), t["embedding"].to_pylist())
             if e is None}
    assert nulls == {v for v in t["vec_id"].to_pylist() if v % 7 == 3}
    assert len(nulls) == 71


@pytest.mark.parametrize("name", _lineage_queries())
def test_null_embeddings_are_dropped_like_the_oracle(spark, null_sf_dir, name):
    assert_matches_oracle(spark, name, null_sf_dir)
