"""Property-based PYMK invariants (SURVEY §5): on random small graphs the
Spark implementation must agree with a direct pure-Python evaluation of
the Gremlin semantics (neptune_recommend_bizcard.py:59-65), including the
bag-multiplicity subtleties (SURVEY R1).

hypothesis generates edge lists; settings keep Spark round-trips bounded.
"""

from __future__ import annotations

from collections import Counter

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark import (
    graph as G,
)

pytestmark = pytest.mark.usefixtures("spark")

N_USERS = 8

edges_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=N_USERS - 1),
        st.integers(min_value=0, max_value=N_USERS - 1),
    ).filter(lambda p: p[0] != p[1]),
    min_size=0,
    max_size=20,
    unique=True,  # at most one directed edge per (src,dst) — O32/O33
)


def _python_pymk(edge_list, user, limit=100):
    """Reference evaluation: both() bag semantics, aggregate-set without."""
    bi = edge_list + [(d, s) for (s, d) in edge_list]
    adj = {}
    for s, d in bi:
        adj.setdefault(s, []).append(d)
    friends_bag = adj.get(user, [])
    friends_set = set(friends_bag)
    cand = Counter()
    for f in friends_bag:
        for c in adj.get(f, []):
            if c != user and c not in friends_set:
                cand[c] += 1
    ranked = sorted(cand.items(), key=lambda kv: (-kv[1], kv[0]))[:limit]
    return [(c, float(n)) for c, n in ranked]


def _spark_graph(spark, edge_list):
    v = spark.createDataFrame(
        [(i, f"user_{i}", f"user_{i}") for i in range(N_USERS)],
        ["id", "name", "_name"],
    )
    if edge_list:
        e = spark.createDataFrame(
            [(s, d, 1.0) for s, d in edge_list], ["src", "dst", "weight"]
        )
    else:
        e = spark.createDataFrame([], "src long, dst long, weight double")
    return v, e


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(edge_list=edges_strategy, user=st.integers(min_value=0, max_value=N_USERS - 1))
def test_pymk_matches_reference_semantics(spark, edge_list, user):
    v, e = _spark_graph(spark, edge_list)
    got = [
        (r.id, r.score)
        for r in G.pymk(v, e, f"user_{user}", limit=100).collect()
    ]
    want = _python_pymk(edge_list, user)
    assert got == want

    ids = {c for c, _ in got}
    bi = set(edge_list) | {(d, s) for (s, d) in edge_list}
    friends = {d for (s, d) in bi if s == user}
    assert user not in ids, "self must never be recommended (O38f)"
    assert not (ids & friends), "direct friends must never be recommended (O38g)"


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(edge_list=edges_strategy, user=st.integers(min_value=0, max_value=N_USERS - 1))
def test_pymk_invariant_under_edge_flip(spark, edge_list, user):
    """both() makes traversal undirected — flipping every stored edge
    direction must not change any recommendation or score (the
    symmetrized bag E ∪ rev(E) is identical either way)."""
    v, e1 = _spark_graph(spark, edge_list)
    _, e2 = _spark_graph(spark, [(d, s) for (s, d) in edge_list])
    r1 = [(r.id, r.score) for r in G.pymk(v, e1, f"user_{user}", 100).collect()]
    r2 = [(r.id, r.score) for r in G.pymk(v, e2, f"user_{user}", 100).collect()]
    assert r1 == r2


def test_pymk_all_whale_salting_is_physical_only(spark, monkeypatch):
    """The whale-salted 2-hop join (pkg/graph/pymk._hop2_pairs) is a
    physical rewrite: on a graph with a genuine celebrity vertex the
    salted plan must be row-identical to the plain join AND match the
    per-user pure-Python reference. cap=2 forces the hub (and any ring
    vertex of degree 3) through the salted path; cap=10^9 disables it."""
    import importlib

    # the package re-exports the function ``pymk``, which shadows the
    # submodule attribute — fetch the module itself to patch its constants
    M = importlib.import_module(
        "social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.graph.pymk"
    )

    n = 24  # hub 0 → everyone, sparse ring so non-friend candidates exist
    edge_list = [(0, i) for i in range(1, n)] + [
        (i, i + 1) for i in range(1, n - 1, 3)
    ]
    e = spark.createDataFrame(
        [(s, d, 1.0) for s, d in edge_list], ["src", "dst", "weight"]
    )

    monkeypatch.setattr(M, "WHALE_DEGREE_CAP", 10**9)
    got_plain = sorted(map(tuple, M.pymk_all(e, limit=100).collect()))
    monkeypatch.setattr(M, "WHALE_DEGREE_CAP", 2)
    monkeypatch.setattr(M, "SALT_R", 4)
    got_salted = sorted(map(tuple, M.pymk_all(e, limit=100).collect()))
    assert got_plain == got_salted
    assert got_plain, "fixture must actually produce recommendations"

    want = sorted(
        (u, c, s, r + 1)
        for u in range(n)
        for r, (c, s) in enumerate(_python_pymk(edge_list, u))
    )
    assert got_plain == want


def test_whale_split_routes_whale_keys(spark):
    """VERDICT r3 item 8: prove the salted 2-hop path actually EXECUTES
    and routes whale keys — not just that pymk_all's end result matches.

    (a) Plan: with a whale present the hop2 plan carries the salt
    replication (Generate/explode of the salt sequence) and the
    normal/whale union. (b) Data: with the cap at 0 EVERY middle vertex
    is a whale, the normal branch is empty by construction, and the
    salted branch ALONE must reproduce the plain join's full bag —
    routing and correctness in one assertion."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.graph.model import (
        symmetrize,
    )
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.graph.pymk import (
        _hop2_pairs,
        _hop2_pairs_plain,
    )
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.plans.audit import (
        physical_plan,
    )

    n = 24  # hub 0 → everyone + sparse ring (same fixture as above)
    edge_list = [(0, i) for i in range(1, n)] + [
        (i, i + 1) for i in range(1, n - 1, 3)
    ]
    e = spark.createDataFrame(
        [(s, d, 1.0) for s, d in edge_list], ["src", "dst", "weight"]
    )
    bi = symmetrize(e)

    salted = _hop2_pairs(bi, whale_degree_cap=2, salt_r=4)
    plan = physical_plan(salted)
    assert "Union" in plan, plan
    assert "explode(sequence(0" in plan or "Generate" in plan, plan

    plain = sorted(map(tuple, _hop2_pairs_plain(bi).collect()))
    assert plain, "fixture must produce 2-hop pairs"
    got = sorted(map(tuple, salted.collect()))
    assert got == plain

    # cap=0: every middle vertex is a whale → the normal branch is empty
    # and the salted branch alone must carry the entire bag.
    all_whale = sorted(
        map(tuple, _hop2_pairs(bi, whale_degree_cap=0, salt_r=4).collect())
    )
    assert all_whale == plain


def test_pymk_reciprocal_pair_double_counts(spark):
    """SURVEY R1: u—f stored in BOTH directions yields the 2-hop candidate
    twice (two paths through f). Bag semantics must be replicated, not
    'optimized' away."""
    edge_list = [(0, 1), (1, 0), (1, 2)]
    v, e = _spark_graph(spark, edge_list)
    got = {r.id: r.score for r in G.pymk(v, e, "user_0", 10).collect()}
    # paths: 0→1(knows fwd)→2 and 0→1(knows rev)→2 ⇒ score 2.0
    assert got == {2: 2.0}
