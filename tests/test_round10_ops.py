"""Round-10 operators: learned quality-classifier gate and semantic
dedup — brute-force references plus composition contracts.
"""

from __future__ import annotations

import hashlib
import re

from pyspark.sql import functions as F

from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.functions import (
    text as T,
)


def _md5_long(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _ref_margins(texts: dict[int, str], n_buckets: int = 256):
    feats: dict[tuple[int, int], int] = {}
    for i, t in texts.items():
        for tok in re.split("[^a-z0-9]+", t.lower()):
            if not tok:
                continue
            h = _md5_long(tok)
            sign = ((h >> 8) & 1) * 2 - 1
            k = (i, h % n_buckets)
            feats[k] = feats.get(k, 0) + sign
    margins: dict[int, int] = {}
    for (i, b), wt in feats.items():
        w = _md5_long(str(b)) % (2 * T.QUALITY_CLF_SCALE + 1) - T.QUALITY_CLF_SCALE
        margins[i] = margins.get(i, 0) + w * wt
    return margins


def test_quality_classifier_margin_matches_reference(spark):
    texts = {
        1: "the cat sat on the mat",
        2: "qualitatively distinct content here",
        3: "",
        4: "the the the the",
    }
    docs = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["margin"]
        for r in T.quality_classifier_margin(docs).collect()
    }
    assert got == _ref_margins(texts)  # doc 3 has no tokens -> no row


def test_quality_classifier_weights_constant_and_bounded(spark):
    w = {r["bucket"]: r["w"] for r in T.quality_classifier_weights(spark).collect()}
    assert set(w) == set(range(256))
    assert all(-T.QUALITY_CLF_SCALE <= v <= T.QUALITY_CLF_SCALE for v in w.values())
    # deterministic: second build identical
    w2 = {r["bucket"]: r["w"] for r in T.quality_classifier_weights(spark).collect()}
    assert w == w2


def test_curate_classifier_gate_composes(spark):
    """The classifier gate is one more independent predicate: gated
    output ⊆ ungated output, and equals the ungated output intersected
    with the margin-passing ids."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark import (
        pinned as PIN,
    )
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators.curation import (
        classifier_margins,
        curate,
    )

    docs = spark.createDataFrame(
        [
            (i, f"the quick brown fox {i} jumps over the lazy dog " * 3, "web")
            for i in range(1, 30)
        ],
        "doc_id long, text string, source string",
    )
    base = {r["doc_id"]: r["split"] for r in curate(docs, min_quality=0.0).collect()}
    gated = {
        r["doc_id"]: r["split"]
        for r in curate(docs, min_quality=0.0, classifier_min_margin=0).collect()
    }
    passing = {
        r["doc_id"]
        for r in classifier_margins(docs).filter(F.col("margin") >= 0).collect()
    }
    assert set(gated) == set(base) & passing
    # split labels unchanged by the extra predicate (hash of doc_id only)
    assert all(base[i] == s for i, s in gated.items())
    PIN.release_all()


def test_semantic_dedup_catches_pair_lsh_misses(spark):
    """A paraphrase pair — DISJOINT token sets (so the MinHash shingle
    pipeline sees jaccard 0 and emits no pair) but near-identical
    embeddings — is exactly what semantic_dedup exists for."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark import (
        pinned as PIN,
    )
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators.dedup import (
        dedup_minhash_lsh,
        semantic_dedup,
    )

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat inside our house today"),
            (2, "a feline rested upon its rug within this home now"),
            (3, "completely unrelated text about spark query planning"),
        ],
        "doc_id long, text string",
    )
    # shingle view: disjoint tokens -> no LSH pair at any threshold
    assert dedup_minhash_lsh(docs, threshold=0.1).count() == 0

    base = [0.0] * 64
    base[0], base[1] = 1.0, 1.0
    near = list(base)
    near[2] = 0.05  # cosine(base, near) ~ 0.9994
    far = [0.0] * 64
    far[5] = 1.0
    emb = spark.createDataFrame(
        [(1, 0, base), (2, 0, near), (3, 1, far), (4, 1, [float(i) for i in range(64)])],
        "vec_id long, label int, embedding array<double>",
    )
    got = {
        r["vec_id"]: (r["canonical_vec_id"], r["is_canonical"])
        for r in semantic_dedup(emb, k=2, threshold=0.9).collect()
    }
    assert got == {1: (1, True), 2: (1, False)}
    PIN.release_all()


def test_semantic_dedup_aug_relation(spark):
    """The near-dup augmentation pairs every %20 source with its
    perturbed copy and nothing else at threshold 0.9 (corpus max
    unrelated cosine ~0.47)."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark import (
        pinned as PIN,
    )
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators.dedup import (
        semantic_dedup,
    )
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators.similarity import (
        semdedup_aug_embeddings,
    )
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.sources import (
        tables,
    )

    emb = tables.load_table(spark, "/root/testdata/sf0.001", "embeddings")
    n_src = emb.filter(F.col("vec_id") % 20 == 0).count()
    rows = semantic_dedup(semdedup_aug_embeddings(emb), threshold=0.9).collect()
    assert len(rows) == 2 * n_src
    for r in rows:
        lo = min(r["vec_id"], r["canonical_vec_id"])
        assert r["canonical_vec_id"] == lo  # keep-min canonical
        assert (r["vec_id"] == lo) == r["is_canonical"]
        # every cluster is {source, source+100000}
        assert r["vec_id"] in (r["canonical_vec_id"], r["canonical_vec_id"] + 100000)
    PIN.release_all()


def test_pymk_served_from_pin_identical_to_live(spark):
    """The Redis read path: once the batch pin is live, pymk() serves
    its scored rows from the pin — ordered rows bit-identical to the
    live traversal, at any limit ≤ the pin depth."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark import (
        pinned as PIN,
    )
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.graph import (
        pymk as _pymk_mod,  # noqa: F401 — ensure the submodule is loaded
    )
    import sys

    G = sys.modules[
        "social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.graph.pymk"
    ]
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.sources import (
        tables,
    )

    sf = "/root/testdata/sf0.001"
    PIN.release_all()
    v = tables.user_graph_vertices(spark, sf)
    e = tables.user_graph_edges(spark, sf)
    live = {
        lim: [tuple(r) for r in G.pymk(v, e, "user_3", limit=lim).collect()]
        for lim in (3, 10)
    }
    G.pinned_pymk_all(e, limit=5).count()  # fill: builds the canonical pin
    assert G._pymk_all_pin_key(e) in PIN.pinned_keys()
    for lim in (3, 10):
        served = [
            tuple(r) for r in G.pymk(v, e, "user_3", limit=lim).collect()
        ]
        assert served == live[lim]
    # deeper than the pin -> falls back to the live plan, still correct
    deep = [tuple(r) for r in G.pymk(v, e, "user_3", limit=50).collect()]
    assert deep[: len(live[10])] == live[10]
    PIN.release_all()


def test_pymk_one_pin_serves_both_response_shapes(spark):
    """One batch pin serves single-user PYMK in both response shapes:
    after ``pinned_pymk_all`` the registry holds exactly one all-users
    pin (no second, hydrated copy), ``pymk`` and ``pymk_hydrated`` read
    their scored rows from it and equal the live traversal, and a
    deeper batch request gets its own pin equal to ``pymk_all``."""
    import importlib

    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark import (
        pinned as PIN,
    )
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.plans.audit import (
        physical_plan,
    )

    G = importlib.import_module(
        "social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.graph.pymk"
    )
    # circulant graph (i → i+1, i+2, i+5) plus one reciprocal pair: every
    # user has more than 10 candidates with tied and bag-counted scores
    # (the sf0.001 user graph is complete, so it has no candidates)
    n = 30
    edge_list = [(i, (i + k) % n) for i in range(n) for k in (1, 2, 5)]
    edge_list.append((1, 0))
    e = spark.createDataFrame(
        [(a, b, 1.0) for a, b in edge_list], ["src", "dst", "weight"]
    )
    v = spark.createDataFrame(
        [(i, f"User_{i}", f"user_{i}", f"co{i % 4}") for i in range(n)],
        ["id", "name", "_name", "company"],
    )
    PIN.release_all()
    shapes = (G.pymk, G.pymk_hydrated)
    live = {
        (f.__name__, lim): [tuple(r) for r in f(v, e, "user_3", limit=lim).collect()]
        for f in shapes
        for lim in (3, 10)
    }
    assert all(len(rows) == lim for (_, lim), rows in live.items())
    assert "rank" not in physical_plan(G.pymk_scored(v, e, "user_3", 3))

    G.pinned_pymk_all(e).count()
    pymk_pins = [
        k for k in PIN.pinned_keys() if isinstance(k, tuple) and "pymk_all" in str(k[0])
    ]
    assert pymk_pins == [G._pymk_all_pin_key(e)]
    # the scored relation now reads the pin's rank column, not the edges
    assert "rank" in physical_plan(G.pymk_scored(v, e, "user_3", 3))
    for f in shapes:
        for lim in (3, 10):
            served = [tuple(r) for r in f(v, e, "user_3", limit=lim).collect()]
            assert served == live[(f.__name__, lim)], (f.__name__, lim)

    # deeper than the pin -> the live plan, still correct
    deep = [tuple(r) for r in G.pymk(v, e, "user_3", limit=20).collect()]
    assert deep[:10] == live[("pymk", 10)]
    assert "rank" not in physical_plan(G.pymk_scored(v, e, "user_3", 20))

    deep = sorted(map(tuple, G.pinned_pymk_all(e, limit=20).collect()))
    assert deep == sorted(map(tuple, G.pymk_all(e, 20).collect()))
    PIN.release_all()


def test_bigram_logprob_matches_reference(spark):
    """Hand-computable bigram gate: interpolated probabilities over a
    tiny corpus vs a plain-Python reference."""
    import math

    texts = {1: "a b a b", 2: "a a", 3: "x", 4: ""}
    docs = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.functions.text import (
        BIGRAM_LAM,
        bigram_logprob_scores,
    )

    toks = {i: t.split() for i, t in texts.items()}
    c2, c1, tot = {}, {}, 0
    for ws in toks.values():
        for w in ws:
            c1[w] = c1.get(w, 0) + 1
            tot += 1
        for x, y in zip(ws, ws[1:]):
            c2[(x, y)] = c2.get((x, y), 0) + 1
    lam = BIGRAM_LAM
    want = {}
    for i, ws in toks.items():
        bs = list(zip(ws, ws[1:]))
        if not bs:
            want[i] = (0, None)
            continue
        lp = sum(
            math.log(
                lam * (c2[(x, y)] / c1[x]) + (1.0 - lam) * (c1[y] / tot)
            )
            for x, y in bs
        ) / len(bs)
        want[i] = (len(bs), round(lp, 6))
    got = {
        r["doc_id"]: (r["n_bigrams"], r["bigram_logprob"])
        for r in bigram_logprob_scores(docs).collect()
    }
    assert got == want
    # frequent bigram scores above rare one
    assert got[1][1] > got[2][1]


def test_streaming_quality_gate_equals_batch(spark, tmp_path):
    """Drained streaming margin table == batch classifier application
    (integer-exact), including replay safety across micro-batches."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.streaming.rollup import (
        StreamingQualityGate,
    )

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "qualitatively distinct content here"),
            (3, "the the the the"),
            (4, "a b c d e f"),
        ],
        "doc_id long, text string",
    )
    docs.repartition(2).write.mode("overwrite").parquet(
        str(tmp_path / "landing")
    )
    gate = StreamingQualityGate(spark, str(tmp_path / "wh"))
    gate.run_available_now(
        str(tmp_path / "landing"),
        str(tmp_path / "ckpt"),
        "doc_id long, text string",
        max_files_per_trigger=1,
    )
    got = {
        r["doc_id"]: r["margin"]
        for r in gate.table()
        .select("doc_id", F.col("value_sum").cast("long").alias("margin"))
        .collect()
    }
    want = {
        r["doc_id"]: r["margin"]
        for r in T.quality_classifier_margin(docs).collect()
    }
    assert got == want


def test_bigram_logprob_property_random_corpora(spark):
    """Randomized corpora vs the plain-Python interpolated reference —
    repeated-token geometry makes bigram/unigram count interactions
    that a fixed fixture undercovers."""
    import math
    import random

    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.functions.text import (
        BIGRAM_LAM,
        bigram_logprob_scores,
    )

    rng = random.Random(7)
    words = ["a", "b", "ab", "ba", "c"]
    for trial in range(3):
        texts = {
            i: " ".join(
                rng.choice(words) for _ in range(rng.randrange(0, 9))
            )
            for i in range(6)
        }
        docs = spark.createDataFrame(
            list(texts.items()), "doc_id long, text string"
        )
        toks = {i: [w for w in t.split() if w] for i, t in texts.items()}
        c2, c1, tot = {}, {}, 0
        for ws in toks.values():
            for w in ws:
                c1[w] = c1.get(w, 0) + 1
                tot += 1
            for x, y in zip(ws, ws[1:]):
                c2[(x, y)] = c2.get((x, y), 0) + 1
        lam = BIGRAM_LAM
        want = {}
        for i, ws in toks.items():
            bs = list(zip(ws, ws[1:]))
            if not bs:
                want[i] = (0, None)
                continue
            lp = sum(
                math.log(
                    lam * (c2[(x, y)] / c1[x]) + (1.0 - lam) * (c1[y] / tot)
                )
                for x, y in bs
            ) / len(bs)
            want[i] = (len(bs), round(lp, 6))
        got = {
            r["doc_id"]: (r["n_bigrams"], r["bigram_logprob"])
            for r in bigram_logprob_scores(docs).collect()
        }
        assert got == want, f"trial {trial}"


def test_streaming_quality_gate_replay_is_idempotent(spark, tmp_path):
    """Draining the same landing dir through a SECOND stream run (fresh
    checkpoint, same rollup table) must not double-add margins — the
    swap-protocol batch-id marker detects the replay."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.streaming.rollup import (
        StreamingQualityGate,
    )

    docs = spark.createDataFrame(
        [(1, "the cat sat"), (2, "dogs bark loudly")],
        "doc_id long, text string",
    )
    docs.repartition(1).write.mode("overwrite").parquet(
        str(tmp_path / "landing")
    )
    gate = StreamingQualityGate(spark, str(tmp_path / "wh"))
    gate.run_available_now(
        str(tmp_path / "landing"), str(tmp_path / "ckpt"), "doc_id long, text string"
    )
    first = sorted(tuple(r) for r in gate.table().collect())
    # same files, fresh checkpoint -> the batch REPLAYS with batch_id 0;
    # the applied-batch marker must reject the double-add
    gate.run_available_now(
        str(tmp_path / "landing"), str(tmp_path / "ckpt2"), "doc_id long, text string"
    )
    assert sorted(tuple(r) for r in gate.table().collect()) == first


# --- per-source boilerplate n-gram removal --------------------------------


def _ref_boilerplate(rows, n=3, min_docs=3):
    """Brute-force reference: rows = [(doc_id, text, source)]. Returns
    (boiler set {(source, gram)}, {doc_id: (n_removed, clean_text)})."""
    toks = {
        d: [t for t in re.split("[^a-z0-9]+", txt.lower()) if t]
        for d, txt, _ in rows
    }
    src = {d: s for d, _, s in rows}
    seen: dict[tuple[str, str], set[int]] = {}
    for d, ws in toks.items():
        for i in range(len(ws) - n + 1):
            g = " ".join(ws[i : i + n])
            seen.setdefault((src[d], g), set()).add(d)
    boiler = {k for k, docs in seen.items() if len(docs) >= min_docs}
    out = {}
    for d, ws in toks.items():
        covered = set()
        for i in range(len(ws) - n + 1):
            if (src[d], " ".join(ws[i : i + n])) in boiler:
                covered.update(range(i, i + n))
        kept = [w for i, w in enumerate(ws) if i not in covered]
        out[d] = (len(ws) - len(kept), " ".join(kept))
    return boiler, out


def _boiler_rows():
    # "alpha beta gamma" in 3 docs of srcA (boilerplate there) and in
    # 2 docs of srcB (below the floor -> untouched). Doc 4 holds two
    # OVERLAPPING boilerplate occurrences ("p q r" / "q r s" both reach
    # 3 docs in srcA via docs 5 and 6) - the covered-token union must
    # not double-count the shared tokens. Doc 7 is shorter than n.
    return [
        (1, "alpha beta gamma one two three", "srcA"),
        (2, "zero alpha beta gamma four five", "srcA"),
        (3, "six seven alpha beta gamma", "srcA"),
        (4, "p q r s tail words here", "srcA"),
        (5, "p q r other q r s words", "srcA"),
        (6, "lead p q r and q r s", "srcA"),
        (7, "tiny doc", "srcA"),
        (8, "alpha beta gamma in source b", "srcB"),
        (9, "also alpha beta gamma here", "srcB"),
    ]


def test_boilerplate_matches_reference(spark):
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators.dedup import (
        boilerplate_grams,
        strip_boilerplate,
    )

    rows = _boiler_rows()
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    ref_boiler, ref_clean = _ref_boilerplate(rows)
    got_boiler = {
        (r["source"], r["gram"]): r["n_docs"]
        for r in boilerplate_grams(docs).collect()
    }
    assert set(got_boiler) == ref_boiler
    assert ("srcA", "alpha beta gamma") in got_boiler
    assert ("srcB", "alpha beta gamma") not in got_boiler  # per-source floor
    assert ("srcA", "p q r") in got_boiler and ("srcA", "q r s") in got_boiler

    got = {r["doc_id"]: r for r in strip_boilerplate(docs).collect()}
    assert set(got) == set(ref_clean)
    for d, (n_removed, clean) in ref_clean.items():
        assert got[d]["n_removed"] == n_removed, d
        assert got[d]["clean_fp"] == hashlib.md5(clean.encode()).hexdigest(), d
    # overlapping occurrences in doc 5: "p q r" at 0 and "q r s" at 4
    # plus the literal tokens between - union, never double-counted
    assert got[5]["n_removed"] == ref_clean[5][0] <= 7
    # short doc passes through verbatim
    assert got[7]["n_removed"] == 0


def test_boilerplate_stats_rolls_up(spark):
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators.dedup import (
        boilerplate_stats,
    )

    rows = _boiler_rows()
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    ref_boiler, ref_clean = _ref_boilerplate(rows)
    src = {d: s for d, _, s in rows}
    stats = {r["source"]: r for r in boilerplate_stats(docs).collect()}
    assert set(stats) == {"srcA", "srcB"}
    for s in ("srcA", "srcB"):
        assert stats[s]["n_boiler_grams"] == sum(1 for k in ref_boiler if k[0] == s)
        assert stats[s]["docs_affected"] == sum(
            1 for d, (nr, _) in ref_clean.items() if src[d] == s and nr > 0
        )
        assert stats[s]["words_removed"] == sum(
            nr for d, (nr, _) in ref_clean.items() if src[d] == s
        )
    assert stats["srcB"]["n_boiler_grams"] == 0
    assert stats["srcB"]["words_removed"] == 0


def test_boilerplate_no_hits_passthrough(spark):
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators.dedup import (
        boilerplate_grams,
        strip_boilerplate,
    )

    docs = spark.createDataFrame(
        [(1, "one two three four", "s"), (2, "five six seven eight", "s")],
        "doc_id long, text string, source string",
    )
    assert boilerplate_grams(docs).count() == 0
    got = {r["doc_id"]: r for r in strip_boilerplate(docs).collect()}
    assert got[1]["n_removed"] == 0
    assert got[1]["clean_fp"] == hashlib.md5(b"one two three four").hexdigest()


def test_boilerplate_plan_has_no_cartesian_or_window(spark):
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators.dedup import (
        strip_boilerplate,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d", "s")], "doc_id long, text string, source string"
    )
    plan = strip_boilerplate(docs)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "Window" not in plan  # array-side filter, never a row explode + window


# --- SQ8 scalar quantization ----------------------------------------------

SF_001 = "/root/testdata/sf0.001"


def test_sq8_codes_grid_contract(spark):
    """Codes live on the 0..255 grid; a vector AT the per-dim min
    encodes 0 and at the max encodes 255; a degenerate (constant)
    dimension encodes 0 everywhere."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
        similarity as S,
    )

    # dim1 spans [0,2]; dim2 spans [-1,1]; dim3 constant (degenerate)
    emb = spark.createDataFrame(
        [
            (1, [0.0, -1.0, 7.0]),
            (2, [2.0, 1.0, 7.0]),
            (3, [1.0, 0.0, 7.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    stats, codes = S.pinned_sq8(emb)
    got = {r["vec_id"]: list(r["codes"]) for r in codes.collect()}
    assert got[1] == [0, 0, 0]
    assert got[2] == [255, 255, 0]
    assert got[3] == [128, 128, 0]  # midpoint: floor(127.5 + 0.5)
    st = stats.first()
    assert list(st["mins"]) == [0.0, -1.0, 7.0]
    assert list(st["ranges"]) == [2.0, 2.0, 0.0]


def test_sq8_reconstruction_error_bounded(spark):
    """Per-coordinate |recon − x| ≤ range/510 + eps (half a grid step)
    over the real sf0.001 corpus — the declared resolution bound."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
        similarity as S,
    )
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators.similarity import (
        _sq8_recon_arr,
        _to_double,
    )

    emb = spark.read.parquet(f"{SF_001}/embeddings.parquet")
    stats, codes = S.pinned_sq8(emb)
    recon = (
        codes.crossJoin(F.broadcast(stats))
        .select(
            "vec_id",
            _sq8_recon_arr(F.col("codes"), F.col("mins"), F.col("ranges")).alias("rv"),
            F.col("ranges").alias("rg"),
        )
        .join(
            emb.select("vec_id", _to_double(F.col("embedding")).alias("v")),
            "vec_id",
        )
    )
    worst = recon.select(
        F.max(
            F.array_max(
                F.zip_with(
                    F.zip_with(F.col("rv"), F.col("v"), lambda a, b: F.abs(a - b)),
                    F.col("rg"),
                    lambda e, r: e - r / F.lit(510.0),
                )
            )
        ).alias("slack")
    ).first()["slack"]
    assert worst <= 1e-9


def test_sq8_rerank_recall_floor(spark):
    """Compressed-scan shortlist-50 + exact rerank recovers most of the
    brute-force top-10 on uniform random vectors. Pinned ≥ 0.8 at
    sf0.001 (the 8-bit grid is far finer than PQ's 16 centroids, so the
    floor sits above PQ's 0.7)."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
        similarity as S,
    )

    emb = spark.read.parquet(f"{SF_001}/embeddings.parquet")
    bf = {
        (r.query_id, r.neighbor_id)
        for r in S.ann_bruteforce(emb, [0, 1, 2], 10).collect()
    }
    sq = {
        (r.query_id, r.neighbor_id)
        for r in S.ann_sq8_rerank(emb, [0, 1, 2], 10).collect()
    }
    assert len(bf & sq) / len(bf) >= 0.8


def test_sq8_shortlist_scans_codes_not_raw_vectors(spark):
    """The approximate scan reads the pinned CODE table (InMemory scan)
    — raw embedding vectors enter the plan only via the output-sized
    rerank join, never the N-candidate scoring scan."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
        similarity as S,
    )

    emb = spark.read.parquet(f"{SF_001}/embeddings.parquet")
    df = S.ann_sq8_rerank(emb, [0, 1, 2], 10)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan
    assert "CartesianProduct" not in plan


# --- soft dedup weights + streaming boilerplate ----------------------------


def test_soft_dedup_weights_cluster_mass(spark):
    """Each near-dup cluster carries one doc's worth of mass: exact
    copies weigh 1/|cluster|, unclustered docs weigh 1.0, and every
    corpus doc gets a row."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators.dedup import (
        soft_dedup_weights,
    )

    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [(1, text), (2, text), (3, text), (4, "totally different words here now")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in soft_dedup_weights(docs).collect()}
    assert set(got) == {1, 2, 3, 4}
    for d in (1, 2, 3):
        assert got[d]["cluster_size"] == 3
        assert abs(got[d]["weight"] - round(1 / 3, 6)) < 1e-9
    assert got[4]["cluster_size"] == 1 and got[4]["weight"] == 1.0


def test_strip_with_dictionary_equals_family_strip(spark):
    """Serving strip against the trained frozen dictionary is
    row-identical to the batch family strip on the training corpus."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators.dedup import (
        boilerplate_grams,
        strip_boilerplate,
        strip_with_dictionary,
    )

    docs = spark.createDataFrame(
        _boiler_rows(), "doc_id long, text string, source string"
    )
    batch = sorted(tuple(r) for r in strip_boilerplate(docs).collect())
    served = sorted(
        tuple(r)
        for r in strip_with_dictionary(docs, boilerplate_grams(docs)).collect()
    )
    assert served == batch


def test_streaming_boilerplate_equals_batch(spark, tmp_path):
    """Drained replay of the corpus through the ingest-time strip ==
    the batch strip; a re-run over the same checkpoint is a no-op."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators.dedup import (
        boilerplate_grams,
        strip_boilerplate,
    )
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.streaming.boilerplate import (
        StreamingBoilerplateStrip,
    )

    docs = spark.createDataFrame(
        _boiler_rows(), "doc_id long, text string, source string"
    )
    docs.repartition(3).write.mode("overwrite").parquet(str(tmp_path / "landing"))
    gate = StreamingBoilerplateStrip(
        spark, str(tmp_path / "wh"), boilerplate_grams(docs)
    )
    gate.run_available_now(
        str(tmp_path / "landing"), str(tmp_path / "ckpt"), max_files_per_trigger=1
    )
    batch = sorted(tuple(r) for r in strip_boilerplate(docs).collect())
    got = sorted(tuple(r) for r in gate.stripped().collect())
    assert got == batch
    # replay over the drained checkpoint: converged, still identical
    gate.run_available_now(str(tmp_path / "landing"), str(tmp_path / "ckpt"))
    assert sorted(tuple(r) for r in gate.stripped().collect()) == batch


# --- split-representativeness audit ---------------------------------------


def test_split_source_balance_grid_contract(spark):
    """Every (source x split) cell is present — including EMPTY cells,
    the very skew being audited; counts total correctly and the
    chi-square terms match a hand computation."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators.quality import (
        split_source_balance,
    )
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators.sampling import (
        hash_split,
    )

    docs = spark.createDataFrame(
        [(i, f"doc {i}", "srcA" if i % 2 == 0 else "srcB") for i in range(40)],
        "doc_id long, text string, source string",
    )
    rows = split_source_balance(docs).collect()
    # full grid over the KNOWN split domain, not just observed splits
    assert len(rows) == 2 * 3
    assert {r["split"] for r in rows} == {"train", "dev", "test"}
    got = {(r["source"], r["split"]): r for r in rows}
    # reference counts from the same hash split
    ref = {}
    for r in hash_split(docs, "doc_id").collect():
        ref[(r["source"], r["split"])] = ref.get((r["source"], r["split"]), 0) + 1
    n_all = 40
    n_src = {"srcA": 20, "srcB": 20}
    n_split = {}
    for (s, sp), c in ref.items():
        n_split[sp] = n_split.get(sp, 0) + c
    for (s, sp), r in got.items():
        assert r["n"] == ref.get((s, sp), 0)
        ne = n_src[s] * n_split.get(sp, 0) / n_all
        assert abs(r["n_expected"] - round(ne, 6)) < 1e-9
        want_chi2 = (r["n"] - ne) ** 2 / ne if ne > 0 else 0.0
        assert abs(r["chi2_term"] - round(want_chi2, 6)) < 1e-9
    # per-source totals reconstruct
    for s in ("srcA", "srcB"):
        assert sum(r["n"] for (src, _), r in got.items() if src == s) == 20


# --- JL sparse random projection ------------------------------------------


def test_rp_projection_matches_reference(spark):
    """Projection equals a numpy reference built from the same
    deterministic Achlioptas matrix; entry density is ~1/3 nonzero."""
    import numpy as np

    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
        similarity as S,
    )

    emb = spark.read.parquet(f"{SF_001}/embeddings.parquet").limit(20)
    R = np.array(
        [[S._rp_coef(i, j) for j in range(1, 65)] for i in range(1, S.RP_DIM + 1)]
    )
    nz = np.count_nonzero(R) / R.size
    assert 0.2 < nz < 0.5  # Achlioptas density 1/3
    # Full-rank guard: the r10 mod-6 reduction collapsed the matrix to
    # a period-6 circulant of rank 5 (11 of 16 coords were copies).
    assert np.linalg.matrix_rank(R) == S.RP_DIM
    assert len({tuple(r) for r in R}) == S.RP_DIM
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in emb.collect()}
    got = {}
    for r in S.rp_projections(emb).collect():
        got.setdefault(r["vec_id"], {})[r["dim"]] = r["val"]
    assert set(got) == set(vecs)
    for vid, v in vecs.items():
        ref = R @ v
        for i in range(S.RP_DIM):
            assert abs(got[vid][i + 1] - round(float(ref[i]), 6)) < 1e-6, (vid, i)


def test_rp_rerank_worst_case_floor_and_clustered_recall(spark):
    """Two corpora, one contract: on uniform-random vectors (the JL
    worst case — every pairwise cosine sits at noise level, so the
    brute-force top-10 barely exists as signal) the projected shortlist
    keeps a declared floor; on a CLUSTERED corpus (every real encoder's
    output) the projected ranking recovers the brute-force top-10
    almost exactly. The pair documents WHEN this scale path applies."""
    import numpy as np

    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
        similarity as S,
    )

    emb = spark.read.parquet(f"{SF_001}/embeddings.parquet")
    bf = {
        (r.query_id, r.neighbor_id)
        for r in S.ann_bruteforce(emb, [0, 1, 2], 10).collect()
    }
    rp = {
        (r.query_id, r.neighbor_id)
        for r in S.ann_rp_rerank(emb, [0, 1, 2], 10).collect()
    }
    assert len(bf & rp) / len(bf) >= 0.5  # measured 0.57 at shortlist 100
    # (was 0.37 with the r10 rank-5 mod-6 matrix; full rank bought +0.2)

    # clustered corpus: 5 well-separated centroids + small noise
    rng = np.random.RandomState(7)
    cents = rng.randn(5, 64) * 4
    rows = []
    for vid in range(300):
        c = cents[vid % 5]
        rows.append((vid, [float(x) for x in c + rng.randn(64) * 0.3]))
    cl = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    bf2 = {
        (r.query_id, r.neighbor_id)
        for r in S.ann_bruteforce(cl, [0, 1, 2], 10).collect()
    }
    rp2 = {
        (r.query_id, r.neighbor_id)
        for r in S.ann_rp_rerank(cl, [0, 1, 2], 10).collect()
    }
    assert len(bf2 & rp2) / len(bf2) >= 0.9


def test_boilerplate_property_random_corpora(spark):
    """Randomized small-vocab corpora vs the brute-force reference —
    random repetition geometry exercises cross-doc/same-doc counting,
    overlapping covers, and the per-source floor in combinations a
    fixed fixture undercovers."""
    import random

    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators.dedup import (
        boilerplate_grams,
        strip_boilerplate,
    )

    rng = random.Random(11)
    vocab = ["x", "y", "z", "w"]
    for trial in range(3):
        rows = [
            (
                i,
                " ".join(rng.choice(vocab) for _ in range(rng.randrange(0, 12))),
                rng.choice(["s1", "s2"]),
            )
            for i in range(10)
        ]
        docs = spark.createDataFrame(
            rows, "doc_id long, text string, source string"
        )
        ref_boiler, ref_clean = _ref_boilerplate(rows)
        got_boiler = {
            (r["source"], r["gram"]) for r in boilerplate_grams(docs).collect()
        }
        assert got_boiler == ref_boiler, trial
        got = {r["doc_id"]: r for r in strip_boilerplate(docs).collect()}
        assert set(got) == set(ref_clean), trial
        for d, (n_removed, clean) in ref_clean.items():
            assert got[d]["n_removed"] == n_removed, (trial, d)
            assert (
                got[d]["clean_fp"] == hashlib.md5(clean.encode()).hexdigest()
            ), (trial, d)


def test_sq8_codes_property_vs_numpy(spark):
    """Randomized vectors vs a numpy reference applying the identical
    grid formula — covers negative ranges, tight ranges, and values at
    the grid boundaries."""
    import numpy as np

    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
        similarity as S,
    )

    rng = np.random.RandomState(13)
    for trial in range(2):
        V = (rng.randn(12, 5) * rng.uniform(0.01, 10)).astype(np.float32)
        V[:, 3] = 7.25  # planted degenerate dimension
        emb = spark.createDataFrame(
            [(i, [float(x) for x in V[i]]) for i in range(12)],
            "vec_id long, embedding array<float>",
        )
        Vd = V.astype(np.float64)
        mn, mx = Vd.min(axis=0), Vd.max(axis=0)
        rg = mx - mn
        want = {}
        for i in range(12):
            cs = []
            for j in range(5):
                if rg[j] > 0:
                    cs.append(int(np.floor((Vd[i, j] - mn[j]) * 255.0 / rg[j] + 0.5)))
                else:
                    cs.append(0)
            want[i] = cs
        _, codes = S.pinned_sq8(emb)
        got = {r["vec_id"]: list(r["codes"]) for r in codes.collect()}
        assert got == want, trial
        assert all(0 <= c <= 255 for cs in got.values() for c in cs)


def test_rp_sq8_composition_contracts(spark):
    """The composed 16-byte index: codes are 16 per vector in [0,255];
    on the clustered corpus the composed path's recall tracks the
    plain projection path (the grid adds ≤ range/510 per-coordinate
    on top of projection distortion)."""
    import numpy as np

    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
        similarity as S,
    )

    rng = np.random.RandomState(7)
    cents = rng.randn(5, 64) * 4
    rows = []
    for vid in range(300):
        c = cents[vid % 5]
        rows.append((vid, [float(x) for x in c + rng.randn(64) * 0.3]))
    cl = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    _, codes16 = S.pinned_rp_sq8(cl)
    got = {r["vec_id"]: list(r["codes"]) for r in codes16.collect()}
    assert len(got) == 300
    assert all(len(cs) == S.RP_DIM for cs in got.values())
    assert all(0 <= c <= 255 for cs in got.values() for c in cs)

    bf = {
        (r.query_id, r.neighbor_id)
        for r in S.ann_bruteforce(cl, [0, 1, 2], 10).collect()
    }
    comp = {
        (r.query_id, r.neighbor_id)
        for r in S.ann_rp_sq8_rerank(cl, [0, 1, 2], 10).collect()
    }
    assert len(bf & comp) / len(bf) >= 0.9
