"""PYMK — People You May Know, the reference's flagship query (O38).

Gremlin original (neptune_recommend_bizcard.py:56-73)::

    g.V().hasLabel('person').has('_name', user.lower()).as_('person')
     .both('knows').aggregate('friends')
     .both('knows')
     .where(P.neq('person')).where(P.without('friends'))
     .groupCount().by('id')
     .order(Scope.local).by(Column.values, Order.decr)
     [:limit]  →  valueMap hydration + score = float(path count)

Spark decomposition (SURVEY §2.4 O38a–k): filter → symmetrized self-join
chain → anti-join → groupBy-count → top-k → hydration join. The score is
the NUMBER OF 2-HOP PATHS (bag semantics — a candidate reachable through
k distinct friends, or twice through one reciprocal friend pair, scores k).

Tie order: the reference leaves equal-score order unspecified (Gremlin map
ordering); we declare the total order (score desc, id asc) — SURVEY R4.

Scale design:
- Single-user PYMK: the user row and the hop-1 friend bag are tiny →
  broadcast to both hop joins and the anti-join; the only shuffle is the
  final groupBy on candidate id (AQE-coalesced). The big edge table is
  never shuffled.
- All-users PYMK: one big self-join of the symmetrized edges, shuffle-
  partitioned on the join key; friend-pair anti-join reuses the same key;
  per-user top-k via window. Skewed (celebrity) vertices are split by
  AQE skew-join; the window partitions by user, not globally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..pinned import memo, pinned, pinned_keys
from .model import pinned_bi


def _v(vertices: DataFrame) -> DataFrame:
    """The vertex relation, pinned once per corpus: it serves the start-
    vertex point lookup AND the hydration join, and (for the bizcard
    graph) is itself the output of the whole parse pipeline — without
    pinning, every PYMK call re-runs that derivation per consumer."""
    (pv,) = pinned(
        ("graph_v", vertices.semanticHash()), lambda: (vertices,)
    )
    return pv


#: Cap on the driver-side friend side-collection: below it the hop-1
#: friend bag inlines into the plan as literal weights (the Gremlin
#: traversal's ``aggregate('friends')`` IS a driver-held side collection,
#: neptune_recommend_bizcard.py:59); above it — the celebrity-user case a
#: 100 TB graph will hit — the distributed broadcast-join plan runs
#: instead. InSet lowers the literal membership test to an O(1) hash
#: probe, so the scoring plan is one filter+aggregate pass over the
#: edge table: a single shuffle, no broadcast builds at all.
FRIEND_SIDE_COLLECT_CAP = 2_000


def pymk_scored(
    vertices: DataFrame, edges: DataFrame, user_name: str, limit: int = 10
) -> DataFrame:
    """O38a-j: the scored top-``limit`` candidate ids for one user —
    (cand_id, score) under the declared order — before hydration.

    Physical strategy (runtime-adaptive, like the whale probe below):
    when the all-users batch pin is live, read the user's rows from it
    (``_pymk_served_from_pin``); otherwise collect the start vertex and
    its hop-1 bag when small (two point lookups against the pinned
    relations) and score with literal weights, or fall back to the
    broadcast-join plan for large bags and ambiguous names. All three
    produce identical rows — the equivalences are pinned in tests."""
    bi = pinned_bi(edges)

    # O38a/b: case-insensitive start-vertex lookup via the _name property
    # — a point lookup against the pinned vertex relation, MEMOIZED per
    # (corpus, name) with the vertex pin as declared parent (the lookup
    # result is a ≤2-element scalar derived from that pin; caching it
    # makes the pin-served path below a single Spark job). Repeated
    # serves of the same user — the reference's per-key Redis GET — pay
    # zero lookup jobs after the first.
    me_rows = memo(
        ("pymk_me", vertices.semanticHash(), user_name.lower()),
        lambda: [
            r["me_id"]
            for r in _v(vertices)
            .filter(F.col("_name") == user_name.lower())
            .select(F.col("id").alias("me_id"))
            .limit(2)
            .collect()
        ],
        parent=("graph_v", vertices.semanticHash()),
    )
    if len(me_rows) == 1:
        me_id = me_rows[0]
        served = _pymk_served_from_pin(edges, me_id, limit)
        if served is not None:
            return served
        friend_rows = (
            bi.filter(F.col("src") == F.lit(me_id))
            .select("dst")
            .limit(FRIEND_SIDE_COLLECT_CAP + 1)
            .collect()
        )
        if len(friend_rows) <= FRIEND_SIDE_COLLECT_CAP:
            return _pymk_scored_literal(
                bi, me_id, [r["dst"] for r in friend_rows], limit
            )

    return _pymk_scored_distributed(bi, vertices, user_name, limit)


def _pymk_served_from_pin(
    edges: DataFrame, me_id, limit: int
) -> DataFrame | None:
    """Serve one user's (cand_id, score) from the LIVE pinned all-users
    recommendation table, if there is one — the Redis read path of the
    reference (neptune_recommend_bizcard.py:91-94): the per-snapshot
    batch is the cache fill, the per-user filter is the GET. Returns
    None when no suitable pin is live (never triggers the batch build
    for a point query) or the request is deeper than the pin; the rank
    filter makes the served rows bit-identical to the live traversal —
    both are the same bag-count relation under the same (score desc,
    id asc) cut, an equivalence the property suite pins."""
    if int(limit) > PYMK_PIN_LIMIT:
        return None
    key = _pymk_all_pin_key(edges)
    if key not in pinned_keys():
        return None
    (rec,) = pinned(key, lambda: (_ for _ in ()).throw(AssertionError))
    # ≤limit rows survive the filters: coalesce(1) + a local sort IS the
    # total order, without orderBy's range-sampling pre-job — the read
    # stays one single-task job over the stats-pruned cached scan.
    return (
        rec.filter(F.col("user_id") == F.lit(me_id))
        .filter(F.col("rank") <= int(limit))
        .select(F.col("id").alias("cand_id"), "score")
        .coalesce(1)
        .sortWithinPartitions(F.desc("score"), F.asc("cand_id"))
    )


def _pymk_scored_literal(
    bi: DataFrame, me_id, friend_bag: list, limit: int
) -> DataFrame:
    """Single-shuffle PYMK: hop-1 bag as literal weights. score(cand) =
    Σ_{f ∈ bag} mult(f) · #edges(f→cand), excluding self and the friend
    set — exactly the bag semantics of the join plan."""
    if not friend_bag:
        return bi.select(
            F.col("dst").alias("cand_id"), F.lit(0.0).alias("score")
        ).limit(0)
    from collections import Counter

    weights = Counter(friend_bag)
    ids = sorted(weights)
    # Weight lookup as a CASE chain of InSet probes over the (few)
    # distinct multiplicity buckets — NOT a literal map: element_at on a
    # map literal linear-scans its entries per row, which at bag size B
    # puts an O(B) probe inside the edge scan. InSet is a hash probe.
    by_w: dict[int, list] = {}
    for fid, wv in weights.items():
        by_w.setdefault(wv, []).append(fid)
    buckets = sorted(by_w.items(), key=lambda kv: (-len(kv[1]), kv[0]))
    default_w = buckets[0][0]
    w_col = None
    for wv, fids in buckets[1:]:
        cond = F.col("src").isin(sorted(fids))
        w_col = (
            F.when(cond, F.lit(wv)) if w_col is None else w_col.when(cond, F.lit(wv))
        )
    w_col = F.lit(default_w) if w_col is None else w_col.otherwise(F.lit(default_w))
    return (
        bi.filter(F.col("src").isin(ids))
        .filter(F.col("dst") != F.lit(me_id))  # O38f: exclude self
        .filter(~F.col("dst").isin(ids))  # O38g: exclude the friend set
        .select(F.col("dst").alias("cand_id"), w_col.alias("w"))
        .groupBy("cand_id")
        .agg(F.sum("w").cast("double").alias("score"))
        .orderBy(F.desc("score"), F.asc("cand_id"))
        .limit(limit)
    )


def _pymk_scored_distributed(
    bi: DataFrame, vertices: DataFrame, user_name: str, limit: int
) -> DataFrame:
    """The broadcast-join plan: for hop-1 bags too large to inline (or
    ambiguous start vertices — duplicate ``_name`` matches traverse all,
    with per-path self-exclusion only the join form expresses).

    The broadcasts are bounded by the start vertex's degree (one user's
    hop-1 bag) — tens of MB even for a multimillion-degree whale; the
    edge table itself is never shuffled in this plan."""
    me = (
        vertices.filter(F.col("_name") == user_name.lower())
        .select(F.col("id").alias("me_id"))
    )

    # O38c: hop 1, bag semantics.
    friends = (
        bi.join(F.broadcast(me), bi["src"] == me["me_id"])
        .select("me_id", F.col("dst").alias("friend_id"))
    )
    # O38d: the side-collected friend *set* (used by `without`).
    friends_set = friends.select("friend_id").distinct()

    # O38e: hop 2 from the friend *bag* — path multiplicity preserved.
    hop2 = (
        bi.join(F.broadcast(friends), bi["src"] == friends["friend_id"])
        .select("me_id", F.col("dst").alias("cand_id"))
    )

    # O38f: exclude self. O38h: path count (aggregate before the friend
    # anti-join — exclusion is per-candidate, so counting first shrinks
    # the anti-join input). O38g: exclude existing friends. O38i-j:
    # declared total order → top-k.
    return (
        hop2.filter(F.col("cand_id") != F.col("me_id"))
        .groupBy("cand_id")
        .agg(F.count(F.lit(1)).cast("double").alias("score"))
        .join(
            F.broadcast(friends_set),
            F.col("cand_id") == friends_set["friend_id"],
            "left_anti",
        )
        .orderBy(F.desc("score"), F.asc("cand_id"))
        .limit(limit)
    )


def pymk(
    vertices: DataFrame, edges: DataFrame, user_name: str, limit: int = 10
) -> DataFrame:
    """O38 for a single user; returns (id, name, score) ordered by
    (score desc, id asc), limit rows.

    Hydration (O36) returns vertex props minus ``id``/underscore-prefixed
    (neptune_recommend_bizcard.py:70); we additionally keep ``id`` as the
    deterministic row identity (documented refinement, SURVEY R4).

    ``pymk_scored`` picks the pin-served or the live plan; only the
    hydration join below differs from ``pymk_hydrated``."""
    scored = pymk_scored(vertices, edges, user_name, limit)

    # O38k / O36: hydrate candidate ids from the vertex table. Renamed
    # projection avoids self-join ambiguity (scored descends from vertices).
    props = _v(vertices).select(
        F.col("id").alias("v_id"), F.col("name").alias("v_name")
    )
    return (
        scored.join(props, scored["cand_id"] == props["v_id"])
        .select(
            F.col("v_id").alias("id"),
            F.col("v_name").alias("name"),
            F.col("score"),
        )
        .orderBy(F.desc("score"), F.asc("id"))
    )


def pymk_hydrated(
    vertices: DataFrame, edges: DataFrame, user_name: str, limit: int = 10
) -> DataFrame:
    """O38 with the reference's FULL valueMap response shape
    (neptune_recommend_bizcard.py:69-72; README.md:184-199): every vertex
    property minus ``id``/underscore-prefixed, each list-wrapped
    (``"name": ["Bar Lee"]`` — TinkerPop valueMap() returns multi-valued
    props; Neptune stores single cardinality here, so each list has one
    element), plus ``score`` as a plain double. ``id`` is retained as the
    deterministic row identity (SURVEY R4 refinement)."""
    from .queries import hydrate_valuemap

    scored = pymk_scored(vertices, edges, user_name, limit)
    return hydrate_valuemap(scored, _v(vertices), id_col="cand_id").orderBy(
        F.desc("score"), F.asc("id")
    )


#: Whale threshold: hop-key degrees above this get a salted (replicated)
#: join so one celebrity vertex's deg² expansion spreads over SALT_R
#: reducers instead of landing on one. 10k² = 100M rows from a single
#: join key is where a lone task stops finishing with its peers.
WHALE_DEGREE_CAP = 10_000
SALT_R = 16

def _has_whales(bi: DataFrame, memo_key: tuple, cap: int) -> bool:
    """Memo of "does this edge relation have any whale vertex" — one cheap
    degree-aggregate probe per (corpus, cap), mirroring how AQE consults
    runtime statistics before picking a physical strategy. Cached through
    the pinned registry's scalar memo so the corpus-swap release path
    invalidates it with the pinned ``bi`` view it describes."""

    def _probe() -> bool:
        deg = bi.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        return deg.filter(F.col("deg") > cap).limit(1).count() > 0

    # ``memo_key`` IS the pinned key of the ``bi`` view the probe reads —
    # declaring it as parent gives the probe precise eviction when that
    # corpus is released (pinned.py memo-dependency tracking).
    return bool(memo(("has_whales", memo_key, cap), _probe, parent=memo_key))


def _hop2_pairs_plain(bi: DataFrame) -> DataFrame:
    """The unsplit 2-hop self-join — the right physical plan when no join
    key exceeds the whale cap (the anti/semi/union scaffolding of the
    salted form costs several extra passes over ``bi`` for nothing)."""
    a = bi.select(F.col("src").alias("user_id"), F.col("dst").alias("friend_id"))
    b = bi.select(F.col("src").alias("friend_id2"), F.col("dst").alias("cand_id"))
    return a.join(b, a["friend_id"] == b["friend_id2"]).select(
        "user_id", "cand_id"
    )


def _hop2_pairs(bi: DataFrame, whale_degree_cap: int, salt_r: int) -> DataFrame:
    """All 2-hop (user_id, cand_id) bag rows from the symmetrized edges —
    the self-join on the middle (friend) vertex, with celebrity-degree
    mitigation that EXECUTES, not prose:

    Join keys whose degree exceeds ``whale_degree_cap`` (the whales) are
    routed through a salted join — the a-side gets a deterministic salt
    from the *other* end of its edge, the b-side is replicated
    ``salt_r``× — so one whale's deg² output is produced by ``salt_r``
    tasks instead of one. Normal keys take the plain join. Output rows
    are identical either way (replication only co-partitions; every
    (a,b) edge pair still meets exactly once), so the aggregate —
    and the oracle — are unchanged.

    AQE's skew-join split handles moderate skew on its own; the explicit
    salt covers the regime AQE cannot: a SINGLE key too big for one task,
    which at 100 TB is every celebrity vertex."""
    a = bi.select(F.col("src").alias("user_id"), F.col("dst").alias("friend_id"))
    b = bi.select(F.col("src").alias("friend_id2"), F.col("dst").alias("cand_id"))

    deg = bi.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    whales = deg.filter(F.col("deg") > whale_degree_cap).select(
        F.col("src").alias("whale_id")
    )

    a_n = a.join(
        F.broadcast(whales), a["friend_id"] == F.col("whale_id"), "left_anti"
    )
    b_n = b.join(
        F.broadcast(whales), b["friend_id2"] == F.col("whale_id"), "left_anti"
    )
    hop2_normal = a_n.join(b_n, a_n["friend_id"] == b_n["friend_id2"]).select(
        "user_id", "cand_id"
    )

    a_w = a.join(
        F.broadcast(whales), a["friend_id"] == F.col("whale_id"), "left_semi"
    ).withColumn("salt", F.pmod(F.xxhash64("user_id"), F.lit(salt_r)))
    b_w = (
        b.join(
            F.broadcast(whales), b["friend_id2"] == F.col("whale_id"), "left_semi"
        )
        .withColumn("salt", F.explode(F.sequence(F.lit(0), F.lit(salt_r - 1))))
        .withColumn("salt", F.col("salt").cast("long"))
    )
    hop2_whale = a_w.join(
        b_w,
        (a_w["friend_id"] == b_w["friend_id2"]) & (a_w["salt"] == b_w["salt"]),
    ).select("user_id", "cand_id")

    return hop2_normal.unionAll(hop2_whale)


def pymk_all(edges: DataFrame, limit: int = 10) -> DataFrame:
    """PYMK for every user at once (the batch/scale variant; SURVEY §4.3).

    Returns (user_id, id, score, rank) — top-``limit`` recommendations per
    user under the declared order (score desc, id asc).

    Plan shape: the path-count matrix is symmetric (m(u,f)=m(f,u) by
    construction of ``bi``), so only the user_id < cand_id half is
    aggregated and the other half is mirrored afterwards — halving the
    rows the (user, cand) hash-aggregate must absorb from the Σdeg²-row
    join output. Aggregation still happens BEFORE the friend anti-join
    (collapse the bag first), and whale join keys — degree above
    ``WHALE_DEGREE_CAP`` — are salted ``SALT_R`` ways (``_hop2_pairs``)."""
    # bi feeds the self-join twice plus the friend-pair anti-join —
    # pinned (at cluster scale: checkpoint/bucketed materialization).
    bi = pinned_bi(edges)

    # Probe once per (corpus, cap) whether any whale exists; the salted
    # split is a physical rewrite, so skipping it on whale-free graphs
    # changes nothing but the plan (equivalence pinned in tests).
    if _has_whales(bi, ("graph_bi", edges.semanticHash()), WHALE_DEGREE_CAP):
        hop2 = _hop2_pairs(bi, WHALE_DEGREE_CAP, SALT_R)
    else:
        hop2 = _hop2_pairs_plain(bi)
    # Exclude self; keep one triangle half (score matrix is symmetric).
    cand = hop2.filter(F.col("user_id") < F.col("cand_id"))

    half = cand.groupBy("user_id", "cand_id").agg(
        F.count(F.lit(1)).cast("double").alias("score")
    )
    # Mirror via explode, NOT union: a union's second branch re-executes
    # the Σdeg²-row join unless exchange reuse happens to fire; explode
    # emits both orientations in one pass over the collapsed pairs.
    scored = half.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("user_id").alias("user_id"),
                    F.col("cand_id").alias("cand_id"),
                ),
                F.struct(
                    F.col("cand_id").alias("user_id"),
                    F.col("user_id").alias("cand_id"),
                ),
            )
        ).alias("p"),
        "score",
    ).select("p.user_id", "p.cand_id", "score")

    # anti-join against direct-friend pairs (both orientations are in bi)
    friend_pairs = bi.select(
        F.col("src").alias("user_id"), F.col("dst").alias("cand_id")
    ).distinct()
    scored = scored.join(friend_pairs, ["user_id", "cand_id"], "left_anti")
    w = Window.partitionBy("user_id").orderBy(F.desc("score"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= limit)
        .select(
            "user_id",
            F.col("cand_id").alias("id"),
            "score",
            F.col("rank").cast("int").alias("rank"),
        )
    )


#: Canonical depth of the pinned all-users recommendation table: pins
#: always build at this limit and any request for ≤ this many rows per
#: user serves by a rank filter — so the batch query (top-5) and the
#: single-user flagship (top-10) share ONE pin instead of keying two
#: near-identical Σdeg² batches by their display depth.
PYMK_PIN_LIMIT = 10

#: Partition count of the pinned serving table. The |users|·limit-row
#: relation is range-clustered by user_id so a single-user GET prunes
#: to ~one cached batch (InMemoryTableScan keeps per-batch min/max
#: stats on the cluster key) instead of fanning a point read across
#: every shuffle partition the batch window left behind. Production
#: sizes this to |users|·limit / target-partition-rows; the principle
#: — cluster the serving artifact by its read key — is the scale
#: contract, the constant is the bench setting.
PYMK_SERVE_PARTITIONS = 8


def _pymk_all_pin_key(edges: DataFrame, depth: int = PYMK_PIN_LIMIT) -> tuple:
    return ("pymk_all", edges.semanticHash(), int(depth))


def pinned_pymk_all(edges: DataFrame, limit: int = 10) -> DataFrame:
    """``pymk_all`` as a PINNED batch product keyed per edge set: the
    all-users recommendation table is what a production PYMK system
    computes per corpus snapshot and SERVES — the reference's per-user
    Redis cache (es/neptune_recommend…:87-99, TTL 600 s) is the per-key
    view of exactly this table, and release is the TTL. The
    Σdeg²-bounded 2-hop batch (the expensive part) runs once at
    ``PYMK_PIN_LIMIT`` depth (or at ``limit`` when that is deeper); every
    serve reads the |users|·depth-row relation through a rank filter
    (rank is computed once under the declared total order, so the
    filtered relation is bit-identical to a native ``pymk_all(limit)``)."""
    depth = max(int(limit), PYMK_PIN_LIMIT)
    (rec,) = pinned(
        _pymk_all_pin_key(edges, depth),
        lambda: (
            pymk_all(edges, depth).repartitionByRange(
                PYMK_SERVE_PARTITIONS, "user_id"
            ),
        ),
    )
    return rec.filter(F.col("rank") <= int(limit))
