"""Cold-build probe: in a FRESH session, run the given queries in
BENCH_QUERIES order and time each query's FIRST run (pins empty at
process start, so query N's number is its incremental cold cost given
its predecessors' pins — the bench cold pass's charging rule, without
paying for the whole workload).

Usage: python tools/cold_probe.py q1 q2 ...   (env SPARK_GRAFT_SF_DIR)
"""
from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
os.chdir(REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    import bench as benchmod
    import __spark_entry__ as E
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.session import (
        get_spark,
    )
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.sources.tables import (
        TABLES,
        load_table,
    )

    wanted = set(sys.argv[1:])
    names = [n for n in benchmod.BENCH_QUERIES if n in wanted]
    missing = wanted - set(names)
    if missing:
        print(f"not in BENCH_QUERIES: {sorted(missing)}", file=sys.stderr)
    spark = get_spark("cold-probe")
    for t in TABLES:  # warm file listing / footers like bench.py
        try:
            load_table(spark, SF_DIR, t).count()
        except Exception:
            pass
    qs = E.queries()
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name in names:
        fn = qs[name]
        spark.sparkContext.setJobDescription(f"cold:{name}")
        t0 = time.perf_counter()
        try:
            fn(spark, SF_DIR).count()
        except Exception as e:  # record it; the summary still prints
            errors[name] = f"{type(e).__name__}: {e}"
            print(f"{name}: FAILED {errors[name]}", file=sys.stderr)
            continue
        finally:
            spark.sparkContext.setJobDescription(None)
        timings[name] = round(time.perf_counter() - t0, 3)
        print(f"{name}: {timings[name]}s", file=sys.stderr)
    print(json.dumps({"sf_dir": SF_DIR, "cold": timings, "errors": errors,
                      "total": round(sum(timings.values()), 3)}))


if __name__ == "__main__":
    main()
