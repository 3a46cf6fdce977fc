"""Output-normalized deep soak (round 16, VERDICT r15 item 6): the two
operators adjudicated OUTPUT-BOUND at the 10× tier — dedup_minhash and
frequent_triples — re-measured at 1×/10×/100× with their output mass
counted IN-PLAN, so "output-bound" is a measured invariant
(wall-seconds per 1M output rows ~flat across tiers) instead of a
one-decade claim.

Output-mass definitions (each the quantity the r15 adjudications
identified as the true cost driver):
- dedup_minhash: the emitted verified near-dup pair count (the banded
  candidate stream collapses to this after the exact-Jaccard verify;
  candidates track it within the band constant).
- frequent_triples: SUM(support) over the unfiltered triple-support
  table (queries._triples_support) = the ordered-in-basket triple
  stream the support-count join materializes (the final top-100 LIMIT
  makes the RESULT row count meaningless as a mass metric).

Base corpus: SPARK_STRESS_SF_DIR (default sf0.01 — the r15 posture:
sf0.01×100 matches sf0.1×10's corpus size while pushing per-cluster
replication one decade further without out-spilling the box).

Usage: python tools/output_soak.py [tiers]   (default "1,10,100")
Prints one markdown row per (op, tier): wall, output rows, sec/1M rows.
"""

from __future__ import annotations

import os
import sys
import time

from pyspark.sql import functions as F

sys.path.insert(0, ".")
sys.path.insert(0, "tools")

from apache_spark_link_prediction_spark.operators.dedup import (  # noqa: E402
    minhash_near_dup_pairs,
)
from apache_spark_link_prediction_spark.sources.readers import load_table  # noqa: E402

SF = os.environ.get("SPARK_STRESS_SF_DIR", "/root/testdata/sf0.01")


def main() -> None:
    from scale_stress import build_events_replica, replicate_docs

    from apache_spark_link_prediction_spark.queries import _triples_support
    from apache_spark_link_prediction_spark.session import get_spark

    tiers = [int(x) for x in (sys.argv[1] if len(sys.argv) > 1 else "1,10,100").split(",")]
    spark = get_spark(app_name="output_soak")
    tag = os.path.basename(SF.rstrip("/"))
    print(f"| op ({tag} base) | tier | wall | output rows | sec/1M rows |")
    print("|---|---|---|---|---|")

    for copies in tiers:
        docs = load_table(spark, SF, "documents").select(
            "doc_id", "text", "source"
        )
        d = (docs if copies == 1 else replicate_docs(docs, copies)).cache()
        d.count()
        t0 = time.perf_counter()
        n = minhash_near_dup_pairs(d, shingle_n=1, bands=8, threshold=0.8).count()
        wall = time.perf_counter() - t0
        print(
            f"| dedup_minhash | {copies}× | {wall:.1f}s | {n:,} "
            f"| {wall / max(n, 1) * 1e6:.2f} |"
        )
        d.unpersist()

    for copies in tiers:
        if copies == 1:
            rep = SF
        else:
            rep = f"/tmp/spark_graft_output_soak_{tag}_x{copies}"
            marker = os.path.join(rep, "_OK")
            if not os.path.exists(marker):
                build_events_replica(spark, rep, copies, src_dir=SF)
                open(marker, "w").write("ok")
        t0 = time.perf_counter()
        row = (
            _triples_support(spark, rep)
            .agg(
                F.sum("support").cast("long").alias("mass"),
                F.count(F.lit(1)).cast("long").alias("itemsets"),
            )
            .first()
        )
        wall = time.perf_counter() - t0
        mass = row["mass"] or 0
        print(
            f"| frequent_triples | {copies}× | {wall:.1f}s | {mass:,} "
            f"| {wall / max(mass, 1) * 1e6:.2f} |"
            f"  # {row['itemsets']:,} itemsets"
        )


if __name__ == "__main__":
    main()
