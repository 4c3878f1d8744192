"""Full-call against sink-only time for bench.py's headline m-queries.

    python3 perfbench/query_split.py <sf_dir> [reps]

bench.py starts its timer after ``REGISTRY[name].fn()`` returns, so an
m-query's eager Arrow codec stage (a parquet write inside ``fn()``) is
not in its number. This prints, per query, the ``fn()`` time, the noop
sink time (bench.py's number) and their sum (the time a caller waits),
each rep on its own, with the same clearCache + System.gc() between reps
as bench.py. Not part of the benchmark command: it needs query tables
(``<sf_dir>/<table>.parquet``) that the repository does not ship.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)


def main() -> int:
    sf_dir = sys.argv[1]
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    import bench  # read-only: bench.py's headline list
    from run import WORK, isolate_env, nproc, start_spark, stop_spark

    isolate_env()
    with open(os.path.join(HERE, "config.json")) as f:
        box = json.load(f)["box"]
    spark = start_spark(box, None)
    from housing_crawler_spark.all_queries import REGISTRY

    out = {"sf_dir": sf_dir, "cores": nproc(), "queries": {}}
    try:
        for name in (n for n in bench.HEADLINE if n.startswith("m")):
            rows = []
            for _ in range(reps):
                t0 = time.perf_counter()
                df = REGISTRY[name].fn(spark, sf_dir)
                t1 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
                rows.append({"fn_s": t1 - t0, "sink_s": t2 - t1, "full_s": t2 - t0})
                spark.catalog.clearCache()
                spark.sparkContext._jvm.System.gc()
            out["queries"][name] = rows
            print(name, json.dumps(rows), file=sys.stderr, flush=True)
    finally:
        stop_spark(spark)
        shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
