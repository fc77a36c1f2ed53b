"""Extra measurement harness for the r6 optimization round (guide §1).

NOT the driver bench (bench.py is frozen): this isolates each headline
query with the noop sink, labels jobs, and can time sub-stages of the
expensive pipelines. Results are cited in OPTIMIZATION_r06.md.

Usage:
  python bench_extra.py [query ...]          # noop-time listed queries (default: headline set)
  SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 python bench_extra.py x2_minhash_lsh_pairs
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry_mod  # noqa: E402
from bench import HEADLINE  # noqa: E402
from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.session import (  # noqa: E402
    get_spark,
)

def noop(df):
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    laps = int(os.environ.get("SPARK_GRAFT_BENCH_LAPS", "2"))
    names = sys.argv[1:] or HEADLINE
    spark = get_spark(app_name="bench_extra", cores=cpus, shuffle_partitions=int(cpus))
    qs = entry_mod.queries()

    for name in names:  # warm-up lap (session ramp; same protocol as bench.py)
        spark.sparkContext.setJobDescription(f"warmup {name}")
        noop(qs[name](spark, sf_dir))

    times: dict[str, float] = {}
    for _ in range(laps):
        spark.catalog.clearCache()
        for name in names:
            spark.sparkContext.setJobDescription(name)
            t0 = time.perf_counter()
            noop(qs[name](spark, sf_dir))
            dt = time.perf_counter() - t0
            if name not in times or dt < times[name]:
                times[name] = dt
    print(json.dumps({
        "sf": sf_dir, "cpus": int(cpus), "sink": "noop",
        "queries": {k: round(v, 3) for k, v in times.items()},
        "total": round(sum(times.values()), 3),
    }))


if __name__ == "__main__":
    main()
