"""People-recommender benchmark.

    python3 perfbench/run.py --workload serve|ingest --seed N --seconds S --trace 0|1

Run from the repository root. Generates its inputs from ``--seed``, starts
one Spark session sized for this machine, runs the workload closed loop
with one client for a fixed number of operations sized by ``--seconds``,
checks the answers, and prints a table
of the metrics followed by one JSON line::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` records spans and reports its per-layer metrics instead
(spans are written to ``.perfbench_work/spans/``). Everything the run
writes stays under ``.perfbench_work/`` in the repository root.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark"
#: driver heap; ``session.py`` defaults to 48g, more than most machines have
DRIVER_MEM = "3g"


def _configure(work: str) -> dict:
    """Environment and Spark settings of the benchmark session; returns
    the extra Spark conf. Must run before pyspark starts the JVM."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_GRAFT_LOCAL_DIR=local,
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        # every JVM, the spark-submit launcher included: temp files in the
        # run's directory, no /tmp/hsperfdata_* file
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
    }


def _peak_rss_mb(spark) -> float:
    """High-water resident set of this process plus the Spark JVM."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    total_kb = 0
    for pid in (os.getpid(), jvm_pid):
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def _stop(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _ms(xs) -> float:
    return 1000.0 * statistics.median(xs) if xs else 0.0


def end_to_end(res, session_s: float) -> dict:
    return {"setup_s": session_s + res.setup_s, "op_p50_ms": _ms(res.lat["op"])}


def per_layer(tr, res, session_s: float, peak_mb: float) -> dict:
    """Per-layer metrics from the recorded spans. A layer the workload
    does not run reports 0."""
    spans = tr.spans
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)

    def dur(s):
        return s["end"] - s["start"]

    def desc(s, name):
        out = []
        for c in kids.get(s["id"], []):
            if c["name"] == name:
                out.append(c)
            out.extend(desc(c, name))
        return out

    def measured(name):
        return [s for s in spans if s["name"] == name and s["request"] is not None and s["request"] >= 0]

    def mean(xs):
        return sum(xs) / len(xs) if xs else 0.0

    out = {"session.start_s": session_s, "process.peak_rss_mb": peak_mb}
    out["search.request_ms_p50"] = _ms(res.lat["search"])
    out["graph.pymk.request_ms_p50"] = _ms(res.lat["pymk"])
    for layer, short in (("search.api", "search"), ("graph.pymk", "graph.pymk")):
        plans, execs = measured(f"{layer}.plan"), measured(f"{layer}.exec")
        out[f"{layer}.plan_ms_p50"] = _ms([dur(s) for s in plans])
        out[f"{layer}.exec_ms_p50"] = _ms([dur(s) for s in execs])
        for key in ("jobs", "tasks"):
            out[f"{short}.{key}_per_request"] = mean(
                [tr.inclusive(p["id"], key) + tr.inclusive(e["id"], key) for p, e in zip(plans, execs)]
            )
    req_spans = [
        s
        for name in ("search.api.plan", "search.api.exec", "graph.pymk.plan", "graph.pymk.exec")
        for s in measured(name)
    ]
    n_req = len(measured("search.api.plan")) + len(measured("graph.pymk.plan"))
    out["pinned.memo_new_per_request"] = (
        sum(s["pinned"]["memos"] for s in req_spans) / n_req if n_req else 0.0
    )
    out["pinned.storage_mb"] = res.layer.get("pinned.storage_mb", 0.0)

    top = measured("serve.request")
    out["serve.unspanned_ms_p50"] = _ms(
        [dur(s) - sum(dur(c) for c in kids.get(s["id"], [])) for s in top]
    )

    batches = measured("streaming.ingest.process_batch")
    out["streaming.ingest.process_batch_ms_p50"] = _ms([dur(b) for b in batches])
    for name in (
        "streaming.table.keyed_merge",
        "streaming.table.grouped_merge",
        "search.incremental.upsert",
        "streaming.ingest.archive",
    ):
        out[f"{name}_ms"] = _ms([sum(dur(s) for s in desc(b, name)) for b in batches])
    for key in ("jobs", "tasks"):
        out[f"ingest.{key}_per_batch"] = (
            statistics.median([tr.inclusive(b["id"], key) for b in batches]) if batches else 0.0
        )
    out["streaming.table.bytes_stored_per_card"] = res.layer.get(
        "streaming.table.bytes_stored_per_card", 0.0
    )
    out["streaming.ingest.valid_ratio"] = res.layer.get("streaming.ingest.valid_ratio", 0.0)
    out["ingest.cards_per_s"] = res.layer.get("ingest.cards_per_s", 0.0)

    setups = tr.named("serve.setup")
    batch = tr.named("graph.pymk.batch")
    out["search.api.index_build_ms"] = _ms(
        [sum(dur(s) for s in desc(r, "search.api.index_build")) for r in setups]
    )
    out["graph.model.adjacency_build_ms"] = _ms(
        [sum(dur(s) for s in desc(r, "graph.model.adjacency_build")) for r in setups]
    )
    out["graph.pymk.batch_ms"] = _ms([dur(s) for s in batch])
    for key in ("jobs", "tasks"):
        out[f"rebuild.{key}"] = sum(tr.inclusive(s["id"], key) for s in setups + batch)
    out["trace.op_p50_ms"] = _ms(res.lat["op"])
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]
    if args.workload not in names:
        print(f"unknown workload {args.workload!r}; one of {names}", file=sys.stderr)
        return 2

    sys.path.insert(0, ROOT)
    if importlib.util.find_spec(ENGINE) is None:
        print(f"perfbench: the engine package {ENGINE} is not in {ROOT}", file=sys.stderr)
        return 2
    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    extra_conf = _configure(work)
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.session import (
        get_spark,
    )

    import gen
    import spans as tracing
    import workloads

    spark = None
    try:
        data_dir = os.path.join(work, "data")
        gen.write_sources(data_dir, args.seed)
        t0 = time.perf_counter()
        spark = get_spark("perfbench", extra_conf=extra_conf)
        session_s = time.perf_counter() - t0
        workloads.log(f"session started in {session_s:.2f}s")
        tr = tracing.Tracer(spark, bool(args.trace))
        if args.trace:
            tracing.install_wrappers(tr)
        ctx = workloads.Ctx(spark, tr, data_dir, work, args.seed, args.seconds)
        res = workloads.WORKLOADS[args.workload](ctx)
        if args.trace:
            values = per_layer(tr, res, session_s, _peak_rss_mb(spark))
            spans_dir = os.path.join(work_root, "spans")
            os.makedirs(spans_dir, exist_ok=True)
            tr.dump(os.path.join(spans_dir, f"{args.workload}-seed{args.seed}.jsonl"))
            wanted = bench["per_layer"]
        else:
            values = end_to_end(res, session_s)
            wanted = bench["end_to_end"]
    finally:
        if spark is not None:
            _stop(spark)
            workloads.log("session stopped")
        shutil.rmtree(work, ignore_errors=True)

    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in wanted}
    counts = {"op": len(res.lat["op"]), "search": len(res.lat["search"]), "pymk": len(res.lat["pymk"])}
    print(f"workload={args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}")
    print(f"samples: {counts}")
    for name, m in metrics.items():
        print(f"  {name:42s} {m['value']:14.4f} {m['unit']}")
    for p in res.problems:
        print(f"  FAILED: {p}")
    print(
        json.dumps(
            {
                "correct": res.failed == 0,
                "attempted": max(res.attempted, 1),
                "failed": res.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
