"""``graph.components`` against a pure-Python union-find, in both of
its regimes, plus the edge-frame invariant labelprop relies on."""

from __future__ import annotations

import hashlib
import random

import pytest
from conftest import SF_ORACLE, SF_SMOKE
from pyspark.sql import functions as F
from pyspark.sql import types as T
from union_find import union_find_labels

from twitter_etl_spark.queries import graph


def _graph(base: int, stride: int) -> list:
    """Pairs over sparse ids ``base + stride * k``: a 200-node path in
    shuffled id order (deeper than any fixed round cap), a 25-clique
    (dense, so star rounds shrink its edge count), a 12-cycle, a
    15-leaf star, self-loops on isolated ids and on a path node, and
    every path edge repeated reversed."""
    rng = random.Random(7)
    ids = [base + stride * k for k in rng.sample(range(2000), 260)]
    path, clique, cycle, star = ids[:200], ids[200:225], ids[225:237], ids[237:253]
    pairs = [(path[i], path[i + 1]) for i in range(199)]
    pairs += [(b, a) for a, b in pairs]
    pairs += [(a, b) for i, a in enumerate(clique) for b in clique[i + 1:]]
    pairs += [(cycle[i], cycle[(i + 1) % 12]) for i in range(12)]
    pairs += [(star[0], leaf) for leaf in star[1:]]
    pairs += [(x, x) for x in ids[253:]] + [(path[57], path[57])]
    return pairs


def _md5_hex(x: int) -> str:
    return hashlib.md5(str(x).encode()).hexdigest()


@pytest.mark.parametrize(
    "id_type, base, stride, to_id",
    [
        (T.IntegerType(), 1_000_003, 7_919, int),
        (T.LongType(), 10**12 + 39, 10**9 + 7, int),
        # the curation rollup's near-dup keep-list passes md5 hex ids
        (T.StringType(), 1, 1, _md5_hex),
    ],
)
def test_components_matches_union_find(
    spark, monkeypatch, id_type, base, stride, to_id
):
    """Same labels as union-find with the default gate (one local
    finish, no star round) and with gate 0 (star rounds on Spark to
    convergence, no local finish); the output columns keep the
    input's id type, and no pairs give no rows."""
    pairs = [(to_id(u), to_id(v)) for u, v in _graph(base, stride)]
    want = union_find_labels(pairs)
    schema = T.StructType([T.StructField("u", id_type), T.StructField("v", id_type)])
    df = spark.createDataFrame(pairs, schema)
    n_distinct = len(set(pairs))
    empty = graph.components(df.limit(0))
    assert empty.isEmpty() and empty.schema["cluster_id"].dataType == id_type

    calls = {"local": [], "star": 0}
    local, small_star = graph._local_labels, graph._small_star

    def spy_local(t):
        calls["local"].append(t.num_rows)
        return local(t)

    def spy_star(e):
        calls["star"] += 1
        return small_star(e)

    monkeypatch.setattr(graph, "_local_labels", spy_local)
    monkeypatch.setattr(graph, "_small_star", spy_star)
    for gate in (graph._LOCAL_MAX_PAIRS, 0):
        calls["local"], calls["star"] = [], 0
        monkeypatch.setattr(graph, "_LOCAL_MAX_PAIRS", gate)
        out = graph.components(df)
        assert out.schema["node"].dataType == id_type
        assert out.schema["cluster_id"].dataType == id_type
        got = {r["node"]: r["cluster_id"] for r in out.collect()}
        assert got == want, gate
        if gate == 0:
            assert calls["local"] == [] and calls["star"] > 0
        else:
            assert calls == {"local": [n_distinct], "star": 0}


def test_labelprop_edges_are_distinct(spark):
    """``q_graph_labelprop`` computes round 1 in closed form (every
    vote count is 1, so the argmax is min(neighbor)); that holds only
    while ``graph._edges`` yields each undirected edge once, as a < b.
    Then the symmetric directed frame has no duplicate rows."""
    for sf in (SF_SMOKE, SF_ORACLE):
        e = graph._edges(spark, sf)
        d = e.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionAll(
            e.select(F.col("b").alias("src"), F.col("a").alias("dst"))
        )
        row = d.agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("src", "dst").alias("n_distinct"),
        ).first()
        assert row["n"] > 0
        assert row["n"] == row["n_distinct"], sf
        assert e.where(F.col("a") >= F.col("b")).isEmpty(), sf
