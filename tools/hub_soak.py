"""Celebrity-hub skew soak for the graph family's shared hub-degree
guard (operators.graph.cap_hub_degree — VERDICT r07 item 4).

Builds the sf0.1 (order, part) projection plus ONE injected hub order
containing HUB_PARTS distinct parts — the degree-d node that emits
d(d−1)/2 pairs through the common-neighbors self-join (12.5M pairs at
the default 5000; a 100 TB graph's celebrity node, scaled to fit the
test box). Times the common-neighbors pipeline uncapped vs capped
(max_degree=64, keeping the 64 smallest parts) and prints one JSON line
with walls, output pair counts, and the hub_cap_loss report, for
BASELINE.md's Round 8 table.

Usage: python tools/hub_soak.py [hub_parts] [max_degree]
"""

from __future__ import annotations

import json
import sys
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, ".")

from apache_spark_link_prediction_spark.operators.graph import (  # noqa: E402
    cap_hub_degree,
    hub_cap_loss,
)
from apache_spark_link_prediction_spark.sources.readers import load_table  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"
HUB_ORDER = 900_000_000


def common_neighbors(e: DataFrame, max_degree: int | None) -> DataFrame:
    e = cap_hub_degree(e, "l_orderkey", "l_partkey", max_degree=max_degree)
    a = e.select("l_orderkey", F.col("l_partkey").alias("src_id"))
    b = e.select("l_orderkey", F.col("l_partkey").alias("dst_id"))
    return (
        a.join(b, "l_orderkey")
        .filter(F.col("dst_id") > F.col("src_id"))
        .groupBy("src_id", "dst_id")
        .agg(F.count(F.lit(1)).alias("common_neighbors"))
    )


def main() -> int:
    hub_parts = int(sys.argv[1]) if len(sys.argv) > 1 else 5000
    max_degree = int(sys.argv[2]) if len(sys.argv) > 2 else 64
    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "16g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    base = (
        load_table(spark, SF_DIR, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    hub = spark.range(hub_parts).select(
        F.lit(HUB_ORDER).alias("l_orderkey"), (F.col("id") + 1).alias("l_partkey")
    )
    e = base.unionByName(hub).localCheckpoint(eager=True)  # fixed input, timed fair

    out = {"hub_parts": hub_parts, "max_degree": max_degree, "sf_dir": SF_DIR}
    for label, cap in (("uncapped", None), ("capped", max_degree)):
        # warm pass then timed pass (two-pass steady state, as bench.py)
        for k in ("warm", "timed"):
            t0 = time.time()
            n = common_neighbors(e, cap).count()
            dt = time.time() - t0
        out[f"{label}_sec"] = round(dt, 2)
        out[f"{label}_pairs"] = n
    loss = hub_cap_loss(e, "l_orderkey", max_degree=max_degree).collect()[0]
    out["loss"] = {k: loss[k] for k in loss.asDict()}
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
