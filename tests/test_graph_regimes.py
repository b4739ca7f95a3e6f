"""``q_graph_labelprop`` and ``q_graph_ppr`` in both regimes: the
NumPy finish below ``graph._LOCAL_MAX_PAIRS`` edges (every fixture)
and the Spark rounds above it (forced here with gate 0). Both must
give the DuckDB oracle's answer with the same schema, and a
hand-built graph pins the tie rules against pure-Python replicas."""

from __future__ import annotations

from collections import Counter, defaultdict

import pytest
from conftest import SF_SMOKE
from pyspark.sql import types as T

from twitter_etl_spark.harness import compare_query, duckdb_connect
from twitter_etl_spark.queries import ALL_ORACLES, graph

_LOCAL = {"q_graph_labelprop": "_local_labelprop", "q_graph_ppr": "_local_ppr"}
#: the module's gate, read before any test patches it
_GATE = graph._LOCAL_MAX_PAIRS


def _run_both_gates(spark, monkeypatch, name, run):
    """``run()`` at the default gate and at gate 0, with a spy on the
    query's NumPy finish: [(gate, run's result, output schema)].
    Checks which path ran: below the gate the finish gets the whole
    edge table once and the plan holds no join; at gate 0 the finish
    never runs and the plan holds the Spark rounds' joins."""
    calls = []
    local = getattr(graph, _LOCAL[name])

    def spy(t):
        calls.append(t.num_rows)
        return local(t)

    monkeypatch.setattr(graph, _LOCAL[name], spy)
    out = []
    for gate in (_GATE, 0):
        calls.clear()
        monkeypatch.setattr(graph, "_LOCAL_MAX_PAIRS", gate)
        df = getattr(graph, name)(spark, SF_SMOKE)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        if gate:
            assert len(calls) == 1 and calls[0] > 0 and "Join" not in plan
        else:
            assert calls == [] and "Join" in plan
        out.append((gate, run(df), df.schema))
    assert out[0][2] == out[1][2]
    return out


@pytest.fixture(scope="module")
def con():
    c = duckdb_connect(SF_SMOKE)
    yield c
    c.close()


@pytest.mark.parametrize("name", sorted(_LOCAL))
def test_both_regimes_match_oracle(spark, monkeypatch, con, name):
    """Both regimes hash-match the oracle at sf0.001 and return the
    same schema, nullability included."""
    for gate, problems, schema in _run_both_gates(
        spark,
        monkeypatch,
        name,
        lambda df: compare_query(
            spark, con, name, lambda s, sf: df, ALL_ORACLES[name], SF_SMOKE
        ),
    ):
        assert not problems, (gate, problems)
    want = {
        "q_graph_labelprop": [
            ("community", T.LongType(), True),
            ("n_members", T.LongType(), False),
            ("min_member", T.LongType(), True),
            ("max_member", T.LongType(), True),
        ],
        "q_graph_ppr": [
            ("node", T.LongType(), True),
            ("rank_fp", T.LongType(), False),
        ],
    }[name]
    assert [(f.name, f.dataType, f.nullable) for f in schema] == want


def _labelprop_replica(edges) -> list:
    """Every round from the identity labelling, by counting votes:
    (community report rows, number of tied top votes after round 1,
    where every vote count is 1)."""
    nbr = defaultdict(list)
    for a, b in edges:
        nbr[a].append(b)
        nbr[b].append(a)
    lbl = {v: v for v in nbr}
    ties = 0
    for i in range(graph.LP_ITERS):
        new = {}
        for v, ns in nbr.items():
            votes = Counter(lbl[u] for u in ns)
            top = max(votes.values())
            ties += i > 0 and sum(c == top for c in votes.values()) > 1
            new[v] = min(lab for lab, c in votes.items() if c == top)
        lbl = new
    members = defaultdict(list)
    for v, lab in lbl.items():
        members[lab].append(v)
    rows = sorted((c, len(m), min(m), max(m)) for c, m in members.items())
    return rows, ties


def _ppr_replica(edges) -> list:
    """The exact integer recurrence over dicts: ranks are kept for
    every node some ranked node reached, plus the seeds."""
    sym = list(edges) + [(b, a) for a, b in edges]
    deg: dict = Counter(s for s, _ in sym)
    seeds = sorted(deg, key=lambda n: (-deg[n], n))[: graph._PPR_SEEDS]
    seed_base = graph.PR_SCALE // graph._PPR_SEEDS
    teleport = (15 * seed_base) // 100
    ranks = {s: seed_base for s in seeds}
    for _ in range(graph._PPR_ITERS):
        spread: dict = {}
        for s, d in sym:
            if s in ranks:
                spread[d] = spread.get(d, 0) + ranks[s] // deg[s]
        nxt = {n: (85 * c) // 100 for n, c in spread.items()}
        for s in seeds:
            nxt[s] = nxt.get(s, 0) + teleport
        ranks = nxt
    return sorted(ranks.items(), key=lambda kv: (-kv[1], kv[0]))[:20]


def _hand_graph() -> list:
    """Five 3-leaf stars (hub degrees 4, 3, 3, 3, 3: three of the four
    degree-3 hubs are seeds, picked by smallest id), a 2-edge tail off
    the degree-4 hub, and a separate 7-cycle whose middle rounds have
    tied label votes. Ids are sparse int64 and not in structure
    order."""
    ids = [10**12 + 7919 * k for k in (50, 10, 40, 20, 30, 7, 8)]
    hubs, (t1, t2) = ids[:5], ids[5:]
    leaf = iter(10**12 + 7919 * k for k in range(100, 200))
    edges = [(h, next(leaf)) for h in hubs for _ in range(3)]
    edges += [(hubs[1], t1), (t1, t2)]
    cycle = [10**12 + 7919 * k for k in (64, 61, 66, 60, 65, 63, 62)]
    edges += [(cycle[i], cycle[(i + 1) % 7]) for i in range(7)]
    return [(min(a, b), max(a, b)) for a, b in edges]


def test_hand_built_graph_ties_and_zero_ranks(spark, monkeypatch):
    """Tied label votes go to the smallest label, seed degree ties to
    the smallest id, and a graph with fewer than 20 ranked nodes
    reports all of them, zero ranks included (a small ``PR_SCALE``
    makes some contributions floor to 0)."""
    edges = _hand_graph()
    schema = T.StructType(
        [T.StructField("a", T.LongType()), T.StructField("b", T.LongType())]
    )
    df = spark.createDataFrame(edges, schema)
    monkeypatch.setattr(graph, "_edges", lambda spark, sf_dir: df)
    monkeypatch.setattr(graph, "PR_SCALE", 400)

    lp_want, ties = _labelprop_replica(edges)
    assert ties > 0
    for gate, got, _ in _run_both_gates(
        spark, monkeypatch, "q_graph_labelprop", lambda d: sorted(map(tuple, d.collect()))
    ):
        assert got == lp_want, gate

    ppr_want = _ppr_replica(edges)
    assert len(ppr_want) < 20 and ppr_want[-1][1] == 0 and ppr_want[0][1] > 0
    for gate, got, _ in _run_both_gates(
        spark, monkeypatch, "q_graph_ppr", lambda d: list(map(tuple, d.collect()))
    ):
        assert got == ppr_want, gate
