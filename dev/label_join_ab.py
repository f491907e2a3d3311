#!/usr/bin/env python3
"""x17's label rejoin alone: the counted broadcast pin against AQE's own
choice, alternating in one pyspark JVM.

The join is the one the cluster-index build and `dedupClustersOf` run:
docs(doc_id) LEFT JOIN labels(doc_id, erep), with the labels a
checkpointed frame holding one row per doc (every doc of a copied
corpus sits in a cluster; rep = its copy-0 doc). The pinned side counts
the labels and hints the broadcast; the unpinned side leaves the join to
AQE. Each run writes to the noop sink; one warm-up run of each side
comes first, then pair i runs the pin first when i is even.

  python3 dev/label_join_ab.py <corpus dir or row count> <pairs>

A directory reads its documents.parquet doc_ids; a number builds that
many synthetic doc_ids in the same key layout (5,000 docs a copy, copy k
offset by k * 10^8). Prints one `LABELJOIN {...}` line with every pair's
walls and whether each plan broadcast.
"""
import json
import sys
import time

from pyspark.sql import SparkSession, functions as F


def main(src, pairs):
    spark = (SparkSession.builder.master("local[4]")
             .config("spark.driver.memory", "4g")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    if src.isdigit():
        docs = spark.range(int(src)).select(
            ((F.col("id") % 5000) +
             (F.col("id") / 5000).cast("long") * 100000000).alias("doc_id"))
    else:
        docs = spark.read.parquet(f"{src}/documents.parquet").select("doc_id")
    labels = docs.select("doc_id", (F.col("doc_id") % 100000000).alias("rep")) \
        .localCheckpoint(True)

    def run(pinned):
        t = time.time()
        lab = labels.select("doc_id", F.col("rep").alias("erep"))
        if pinned:
            labels.count()
            lab = F.broadcast(lab)
        out = (docs.join(lab, ["doc_id"], "left")
               .select("doc_id", F.coalesce("erep", "doc_id").alias("rep")))
        out.write.format("noop").mode("overwrite").save()
        plan = out._jdf.queryExecution().executedPlan().toString()
        return time.time() - t, "BroadcastHashJoin" in plan

    run(True), run(False)
    res = []
    for i in range(pairs):
        pair = {}
        for pinned in ([True, False] if i % 2 == 0 else [False, True]):
            wall, bhj = run(pinned)
            side = "pinned" if pinned else "unpinned"
            pair[side], pair[side + "_broadcast"] = round(wall, 3), bhj
        res.append(pair)
    print("LABELJOIN " + json.dumps(
        {"src": src, "rows": labels.count(), "pairs": res}))
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1], int(sys.argv[2]))
