"""The exact-kNN scoring stage lives in one module, queries/knn_shared.py,
and ranks ties the way its DuckDB twin does."""

from __future__ import annotations

import ast
import pathlib

from pyspark.sql import functions as F

from nats_stream_processor_spark import registry
from nats_stream_processor_spark.operators.similarity import EMBED_DIM
from nats_stream_processor_spark.queries import knn_shared as ks

QUERIES = pathlib.Path(ks.__file__).resolve().parent

# The vector frame's norm and the candidate join's self-exclusion, as
# ast.unparse renders them.
STAGE_SOURCES = ("sim.norm(F.col('demb'))",
                 "F.col('vec_id') != F.col('query_id')")


def test_neighbour_scoring_is_built_only_in_knn_shared():
    """No query module rebuilds the vector frame or the self-excluding
    candidate join: both go through knn_shared's builders."""
    found = set()
    for path in sorted(QUERIES.glob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, (ast.Call, ast.Compare)) and \
                    ast.unparse(node) in STAGE_SOURCES:
                found.add((path.name, ast.unparse(node)))
    assert found == {("knn_shared.py", s) for s in STAGE_SOURCES}


def _vec(*head: float) -> list[float]:
    return [*head] + [0.0] * (EMBED_DIM - len(head))


def test_exact_top_k_ties_go_to_the_lower_neighbor_id(spark):
    """Corpus vectors 20 and 21 sit at exactly the same cosine to query 0,
    on the rank-5/6 boundary: the exact top-k keeps 20, as the oracle's
    ORDER BY cosine DESC, neighbor_id does over the same rows."""
    import duckdb

    rows = [(21, _vec(1.0, 0.0, 1.0)), (20, _vec(1.0, 0.0, 0.0, 1.0)),
            (0, _vec(1.0))]
    rows += [(10 + i, _vec(1.0, 0.1 * (i + 1))) for i in range(4)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    n = ks.vectors(emb)
    got = [tuple(r) for r in ks.exact_top_k(
        ks.query_side(n.filter(F.col("vec_id") < 10)), n)
        .orderBy("query_id", "rn").collect()]

    con = duckdb.connect()
    con.execute("CREATE TABLE embeddings "
                "(vec_id BIGINT, embedding FLOAT[], label INT)")
    con.executemany("INSERT INTO embeddings VALUES (?, ?, 0)", rows)
    want = con.sql(registry.REGISTRY["sim_cosine_topk"].oracle).fetchall()

    assert [r[1] for r in got] == [10, 11, 12, 13, 20]
    assert got[3][2] > got[4][2]
    assert got == [tuple(r) for r in want]
