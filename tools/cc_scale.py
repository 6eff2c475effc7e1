"""Time connected_components on one synthetic graph, for sizing
``clustering._LOCAL_EDGES``.

Prints one JSON line: CC wall time, Spark jobs, and the peak RSS of the
driver's Python and JVM processes. The time is measured from a warm JVM
(a tiny CC runs first, through the same phase) and includes one
aggregate over the result, as a job's next stage reads it once; the
pair plan ends in a distinct, as the linkage jobs' pair stages do.

Graphs:
  groups  -- 4-cycles over permuted ids: many small components, the shape
             of linkage and dedup output (rounds converge in a few steps)
  random  -- M uniform random edges over M ids: one giant component plus
             a tail (rounds run O(log n) times, the fixed point keeps
             ids - components edges)

Usage: python tools/cc_scale.py {groups,random} M [LOCAL_EDGES]
       (LOCAL_EDGES overrides the threshold, 0 forces the star rounds;
       SPARK_DRIVER_MEM defaults to 4g here)
"""

from __future__ import annotations

import json
import os
import resource
import sys
import time

sys.path.insert(0, ".")
os.environ.setdefault("SPARK_DRIVER_MEM", "4g")

from pyspark.sql import functions as F  # noqa: E402

from kiez_spark.operators import clustering as C  # noqa: E402
from kiez_spark.session import get_spark  # noqa: E402


def _peak_mb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM"):
                return int(line.split()[1]) // 1024
    return -1


def _pairs(spark, graph: str, m: int):
    r = spark.range(m, numPartitions=8)
    if graph == "groups":
        perm = lambda c: (c * 2654435761) % m  # noqa: E731 - a bijection mod m
        pairs = r.select(
            perm(F.col("id")).alias("src_id"),
            perm(F.floor(F.col("id") / 4) * 4 + (F.col("id") + 1) % 4).alias("tgt_id"),
        )
    else:
        pairs = r.select(
            F.pmod(F.xxhash64("id", F.lit(1)), F.lit(m)).alias("src_id"),
            F.pmod(F.xxhash64("id", F.lit(2)), F.lit(m)).alias("tgt_id"),
        )
    return pairs.distinct()


def main(argv: list[str]) -> None:
    graph, m = argv[0], int(argv[1])
    if len(argv) > 2:
        C._LOCAL_EDGES = int(argv[2])
    spark = get_spark("cc-scale", cores=4)
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    jvm_pid = sc._jvm.java.lang.ProcessHandle.current().pid()
    pairs = _pairs(spark, graph, m)
    # warm the JVM on a tiny graph through the phase the timed run takes
    limit = C._LOCAL_EDGES
    C._LOCAL_EDGES = limit if m <= limit else 0
    C.connected_components(pairs.limit(100)).agg(F.count(F.lit(1))).first()
    C._LOCAL_EDGES = limit
    sc.setJobGroup("cc", "cc")
    t = time.perf_counter()
    row = C.connected_components(pairs).agg(
        F.count(F.lit(1)).alias("ids"), F.countDistinct("component").alias("comps")
    ).first()
    wall = time.perf_counter() - t
    print(json.dumps({
        "graph": graph, "edges": m, "local_edges": C._LOCAL_EDGES,
        "wall_s": round(wall, 2),
        "jobs": len(sc.statusTracker().getJobIdsForGroup("cc")),
        "ids": row["ids"], "components": row["comps"],
        "python_peak_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss // 1024,
        "jvm_peak_mb": _peak_mb(jvm_pid),
    }))
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
