"""The benchmark's workloads. Each runs closed loop with one client: the
next operation starts when the previous one has returned.

``serve``  setup builds the search index and the adjacency of both
           graphs; then a seeded mix of search and live PYMK requests.
           After the measured section a traced run builds the all-users
           PYMK tables (the batch layer of a snapshot publish) once and
           checks them.
``ingest`` setup base-loads part of the corpus through the ingest
           pipeline; then 100-card batches (with re-uploads) go through
           ``IngestPipeline.process_batch``, each followed by a search that
           must see the batch and a PYMK over the freshly written graph.

Each returns a ``Result``; ``run.py`` turns it into the output line.
"""

from __future__ import annotations

import hashlib
import importlib
import os
import sys
import time
from collections import defaultdict
from dataclasses import dataclass, field

import numpy as np

import gen
from oracle import Oracle, canon, ordered

PKG = "social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark"
pinned = importlib.import_module(f"{PKG}.pinned")
model = importlib.import_module(f"{PKG}.graph.model")
G = importlib.import_module(f"{PKG}.graph.pymk")
batch_ingest = importlib.import_module(f"{PKG}.operators.ingest")
S = importlib.import_module(f"{PKG}.search.api")
tables = importlib.import_module(f"{PKG}.sources.tables")
streaming_ingest = importlib.import_module(f"{PKG}.streaming.ingest")
TEXT_LINES_SCHEMA = importlib.import_module(f"{PKG}.streaming.schemas").TEXT_LINES_SCHEMA

now = time.perf_counter
_T0 = now()

# A run measures a fixed amount of work, set by ``--seconds`` through a
# nominal cost per operation, so that every run does the same work however
# fast the machine is.
#: serve: measured requests per second of ``--seconds``
SERVE_REQUESTS_PER_SECOND = 1.25
#: ingest: seconds of ``--seconds`` per measured batch
INGEST_SECONDS_PER_BATCH = 8.0
#: untimed requests before serve measures (first-run compilation)
SERVE_WARMUP_REQUESTS = 3
#: serve answers per endpoint checked against the DuckDB twins
SERVE_CHECKED_PER_ENDPOINT = 3
#: ingest: searches that compare the incremental index with a from-scratch one
INGEST_CHECKED_SEARCHES = 2


def log(msg: str) -> None:
    """Progress line on stderr, stamped with seconds since start."""
    print(f"[perfbench +{now() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


@dataclass
class Result:
    setup_s: float = 0.0
    #: operation kind -> latencies in seconds ("op", "search", "pymk", ...)
    lat: dict[str, list[float]] = field(default_factory=lambda: defaultdict(list))
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    layer: dict[str, float] = field(default_factory=dict)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.problems.append(what)


@dataclass
class Ctx:
    spark: object
    tracer: object
    data_dir: str
    work_dir: str
    seed: int
    seconds: float


# ---------------------------------------------------------------------------
# Request execution (shared by both workloads)
# ---------------------------------------------------------------------------

def _search(ctx: Ctx, res: Result, rid: int, do_plan, kind: str = "search"):
    """Plan (the ``search`` call: memo lookups, eager stats collects) and
    execute (``collect``) one search; records latencies, returns rows or
    None on failure."""
    tr = ctx.tracer
    res.attempted += 1
    try:
        t0 = now()
        with tr.span("search.api.plan", rid):
            df = do_plan()
        with tr.span("search.api.exec", rid):
            rows = df.collect()
        t1 = now()
    except Exception as e:  # a failed request is counted, the loop goes on
        res.fail(f"{kind} {rid}: {type(e).__name__}: {e}")
        return None
    res.lat[kind].append(t1 - t0)
    rows = canon([tuple(r) for r in rows])
    if not ordered(rows):
        res.fail(f"{kind} {rid}: not in (score desc, id asc) order")
    return rows


def _pymk(ctx: Ctx, res: Result, rid: int, vertices, edges, name: str):
    tr = ctx.tracer
    res.attempted += 1
    try:
        t0 = now()
        with tr.span("graph.pymk.plan", rid):
            df = G.pymk(vertices, edges, name, limit=10)
        with tr.span("graph.pymk.exec", rid):
            rows = df.collect()
        t1 = now()
    except Exception as e:
        res.fail(f"pymk {rid}: {type(e).__name__}: {e}")
        return None
    res.lat["pymk"].append(t1 - t0)
    rows = canon([tuple(r) for r in rows])
    if not ordered(rows):
        res.fail(f"pymk {rid}: not in (score desc, id asc) order")
    return rows


def _terms(query: str | None) -> list[str]:
    return gen.tokens(query) if query else []


# ---------------------------------------------------------------------------
# serve
# ---------------------------------------------------------------------------

def _build_index_and_adjacency(ctx: Ctx, bizcards, bedges, uedges):
    """Serve's setup from a released registry: the bizcard search index
    and the pinned adjacency of both graphs. Returns the index."""
    tr = ctx.tracer
    pinned.release_all()
    with tr.span("search.api.index_build"):
        idx = S.bizcard_index(bizcards)
        for df in idx:
            df.count()
    with tr.span("graph.model.adjacency_build"):
        model.pinned_bi(bedges).count()
        model.pinned_bi(uedges).count()
    return idx


def serve(ctx: Ctx) -> Result:
    spark, tr = ctx.spark, ctx.tracer
    res = Result()
    oracle = Oracle(ctx.data_dir)
    records = oracle.records()
    names = oracle.friended_names()
    parsed = batch_ingest.parse_bizcard_text(tables.bizcard_text_records(spark, ctx.data_dir))
    bizcards = batch_ingest.bizcards_from_text(parsed)
    bvertices, bedges = batch_ingest.graph_from_text(parsed)
    uedges = tables.user_graph_edges(spark, ctx.data_dir)
    log("serve: inputs ready")

    # -- setup: build the index and the adjacency (the all-users PYMK
    # table is not built, so every PYMK request takes the live traversal)
    t0 = now()
    with tr.span("serve.setup", -1):
        idx = _build_index_and_adjacency(ctx, bizcards, bedges, uedges)
    res.setup_s = now() - t0
    tr.resolve()
    log(f"serve: setup took {res.setup_s:.2f}s")

    warm = gen.serve_stream(
        np.random.default_rng([ctx.seed, 1]), records, names, SERVE_WARMUP_REQUESTS
    )
    count = max(1, round(ctx.seconds * SERVE_REQUESTS_PER_SECOND))
    stream = gen.serve_stream(np.random.default_rng([ctx.seed, 2]), records, names, count)

    def request(rid, req):
        if isinstance(req, gen.Search):
            return _search(
                ctx, res, rid,
                lambda: S.search_bizcards(bizcards, req.query, user=req.owner, index=idx),
            )
        return _pymk(ctx, res, rid, bvertices, bedges, req.name)

    for i, req in enumerate(warm):
        request(-100 - i, req)
    res.lat.clear()  # warm-up latencies are not part of the result
    tr.resolve()
    log("serve: warm-up done, measuring")

    # -- measured section ---------------------------------------------------
    answers = []
    t_start = now()
    for i, req in enumerate(stream):
        t0 = now()
        with tr.span("serve.request", i):
            rows = request(i, req)
        res.lat["op"].append(now() - t0)
        answers.append((req, rows))
    elapsed = now() - t_start
    tr.resolve()
    log(f"serve: {len(stream)} requests in {elapsed:.2f}s")

    # -- correctness gate (untimed) -------------------------------------------
    k = SERVE_CHECKED_PER_ENDPOINT
    checked = {"search": 0, "pymk": 0}
    for req, rows in answers:
        if rows is None:
            continue
        kind = "search" if isinstance(req, gen.Search) else "pymk"
        if checked[kind] >= k:
            continue
        checked[kind] += 1
        want = (
            oracle.search(_terms(req.query), req.owner)
            if kind == "search"
            else oracle.pymk(req.name)
        )
        if rows != want:
            res.fail(f"{kind} {req}: engine != oracle")
    _storage(ctx, res)

    # the batch layer of a snapshot publish, the all-users PYMK tables: in
    # no end-to-end metric, so built and checked only by the traced run
    if tr.enabled:
        with tr.span("graph.pymk.batch", -10):
            for e in (bedges, uedges):
                G.pinned_pymk_all(e).count()
        tr.resolve()
        res.attempted += 1
        top5 = sorted(canon([tuple(r) for r in G.pinned_pymk_all(uedges, limit=5).collect()]))
        if top5 != oracle.pymk_all_top5():
            res.fail("pinned_pymk_all(events graph, limit=5) != oracle")
    oracle.close()
    log("serve: checked")
    return res


# ---------------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------------

def _created_at(batch_no: int) -> str:
    """Upload time of batch ``batch_no``: strictly increasing, so a
    re-upload is newer than the card it replaces."""
    return time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime(1_704_067_200 + 60 * batch_no))


def _doc_id(s3_key: str) -> str:
    return hashlib.md5(s3_key.rsplit("/", 1)[-1].encode()).hexdigest()[:8]


def ingest(ctx: Ctx) -> Result:
    spark, tr = ctx.spark, ctx.tracer
    res = Result()
    oracle = Oracle(ctx.data_dir)
    records = oracle.records()
    rng = np.random.default_rng([ctx.seed, 3])
    # one untimed warm-up batch, then the measured ones
    count = max(1, round(ctx.seconds / INGEST_SECONDS_PER_BATCH))
    base, batches = gen.ingest_batches(rng, records, 1 + count)
    base_df = spark.createDataFrame(base, TEXT_LINES_SCHEMA)
    checks = gen.search_requests(
        np.random.default_rng([ctx.seed, 4]), records, INGEST_CHECKED_SEARCHES
    )

    # -- setup: base-load a fresh warehouse --
    pipe = streaming_ingest.IngestPipeline(
        spark, os.path.join(ctx.work_dir, "warehouse"), created_at=_created_at(0)
    )
    t0 = now()
    with tr.span("ingest.base_load", -1):
        pipe.process_batch(base_df, 0)
    res.setup_s = now() - t0
    tr.resolve()
    log(f"ingest: base load took {res.setup_s:.2f}s")

    latest = {r[1]: r for r in base}
    fresh_pymk = []
    cards = 0

    def step(j: int, rid: int) -> None:
        """Batch ``j``: submit it, search until its cards are visible (the
        timed op), then one PYMK over the graph snapshot it wrote."""
        nonlocal cards
        batch = batches[j]
        bdf = spark.createDataFrame(batch, TEXT_LINES_SCHEMA)
        pipe.created_at = _created_at(j + 1)
        probe = batch[:3]
        query = " ".join(gen.batch_probe_names(probe))
        res.attempted += 1
        t0 = now()
        try:
            with tr.span("streaming.ingest.process_batch", rid):
                pipe.process_batch(bdf, j + 1)
        except Exception as e:
            res.fail(f"batch {j}: {type(e).__name__}: {e}")
            return
        rows = _search(ctx, res, rid, lambda: pipe.search_index.search(query))
        t1 = now()
        for r in batch:
            latest[r[1]] = r
        if rows is None:
            return
        res.lat["op"].append(t1 - t0)
        cards += len(batch)
        if not {_doc_id(r[1]) for r in probe} <= {r[0] for r in rows}:
            res.fail(f"batch {j}: its cards are not visible to search")
        name = probe[0][2][1].lower()
        prow = _pymk(ctx, res, rid, pipe.vertices.read(), pipe.edges.read(), name)
        if prow is not None:
            fresh_pymk.append((name, prow))
        pinned.release_all()  # the snapshot's graph pins are dead now
        tr.resolve()
        log(f"ingest: batch {j} visible after {t1 - t0:.2f}s")

    # warm-up: the first merge into the base tables compiles its plans
    step(0, -2)
    res.lat.clear()
    cards = 0
    for j in range(1, len(batches)):
        step(j, j)
    res.layer["ingest.cards_per_s"] = cards / max(sum(res.lat["op"]), 1e-9)

    # -- correctness gate (untimed) -------------------------------------------
    log("ingest: measured, checking")
    # 1. the incremental index answers like a from-scratch index (the
    #    DuckDB twin of search_bizcards) over the newest upload of every card
    oracle.load_cards(sorted(latest.values()))
    for q in checks:
        res.attempted += 1
        inc = canon([tuple(r) for r in pipe.search_index.search(q.query, user=q.owner).collect()])
        if inc != oracle.search(_terms(q.query), q.owner):
            res.fail(f"incremental index != from-scratch index for {q}")
    # 2. PYMK over the final graph snapshot matches its DuckDB twin
    oracle.load_graph(
        f"{pipe.vertices.root}/{pipe.vertices.current_snapshot()}",
        f"{pipe.edges.root}/{pipe.edges.current_snapshot()}",
    )
    for name, rows in fresh_pymk[-1:]:
        res.attempted += 1
        if rows != oracle.pymk(name, v="gv", bi="gbi"):
            res.fail(f"pymk {name} after the last batch != oracle")
    v, e = pipe.vertices.read(), pipe.edges.read()
    for name, _ in fresh_pymk[:1]:
        res.attempted += 1
        rows = canon([tuple(r) for r in G.pymk(v, e, name).collect()])
        if rows != oracle.pymk(name, v="gv", bi="gbi"):
            res.fail(f"pymk {name} on the final graph != oracle")
    oracle.close()
    pinned.release_all()

    m = pipe.metrics[1:]  # the streamed batches (index 0 is the base load)
    reads = sum(x.get("reads", 0) for x in m)
    res.layer["streaming.ingest.valid_ratio"] = (
        sum(x.get("writes", 0) for x in m) / reads if reads else 0.0
    )
    res.layer["streaming.table.bytes_stored_per_card"] = _du(pipe.warehouse_dir) / max(
        len(latest), 1
    )
    _storage(ctx, res)
    log("ingest: checked")
    return res


def _du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


def _storage(ctx: Ctx, res: Result) -> None:
    infos = ctx.spark.sparkContext._jsc.sc().getRDDStorageInfo()
    res.layer["pinned.storage_mb"] = sum(i.memSize() + i.diskSize() for i in infos) / 2**20


WORKLOADS = {"serve": serve, "ingest": ingest}
