"""Command-line entry point — parity with the reference's ``main``.

The reference runs as a single hard-coded driver program
(Predictor.scala:424-432): build the session, set log level ERROR, run
``p1`` over four fixed resource files (Predictor.scala:21-24), with
``p2`` present but commented out (Predictor.scala:429). This CLI exposes
the same two problems over the same four file formats, with the file
locations and the reference's tunables (Predictor.scala:26-31 —
sample portion, LR iterations, similarity threshold) as flags instead
of constants::

    python -m apache_spark_link_prediction_spark p1 \
        --node-info node_information.csv --training-set training_set.txt \
        --testing-set testing_set.txt --ground-truth Cit-HepTh.txt

    python -m apache_spark_link_prediction_spark p2 \
        --node-info node_information.csv --ground-truth Cit-HepTh.txt \
        [--threshold 0.97] [--mode intent|reference]

Output mirrors the reference line-for-line where it prints:
per-threshold ``Threshold: t, Precision: p`` / ``Recall`` / ``F-score``
lines for p1 (Predictor.scala:328-341) and the two
``Total edges created`` / ``Correct edges detected`` counts for p2
(Predictor.scala:420-421).
"""

from __future__ import annotations

import argparse
import sys


def _build_parser() -> argparse.ArgumentParser:
    parser = argparse.ArgumentParser(
        prog="apache_spark_link_prediction_spark",
        description="PySpark-native link-prediction engine (reference-parity CLI)",
    )
    sub = parser.add_subparsers(dest="problem", required=True)

    common = argparse.ArgumentParser(add_help=False)
    common.add_argument(
        "--node-info",
        default="src/main/resources/node_information.csv",
        help="headerless quoted CSV of papers (Predictor.scala:21)",
    )
    common.add_argument(
        "--ground-truth",
        default="src/main/resources/Cit-HepTh.txt",
        help="tab-separated true edge list (Predictor.scala:24)",
    )
    common.add_argument("--seed", type=int, default=12345, help="sampling/LSH seed")
    common.add_argument("--master", default=None, help="Spark master (default local[$SPARK_GRAFT_CPUS])")

    p1 = sub.add_parser("p1", parents=[common], help="supervised link prediction")
    p1.add_argument(
        "--training-set",
        default="src/main/resources/training_set.txt",
        help="space-separated (srcId dstId label) triples (Predictor.scala:22)",
    )
    p1.add_argument(
        "--testing-set",
        default="src/main/resources/testing_set.txt",
        help="space-separated (srcId dstId) pairs (Predictor.scala:23)",
    )
    p1.add_argument(
        "--fraction",
        type=float,
        default=1.0,
        help="node-table sample portion (INFO_DATAFRAME_PORTION, Predictor.scala:28)",
    )
    p1.add_argument(
        "--max-iter",
        type=int,
        default=100,
        help="LR iterations (LOGISTIC_REGRESSION_ITERATIONS, Predictor.scala:30)",
    )

    p2 = sub.add_parser("p2", parents=[common], help="unsupervised link discovery")
    p2.add_argument(
        "--fraction",
        type=float,
        default=0.2,
        help="node-table sample portion (≤0.2 advised, Predictor.scala:26-28)",
    )
    p2.add_argument(
        "--threshold",
        type=float,
        default=0.97,
        help="SIMILARITY_THRESHOLD (Predictor.scala:31)",
    )
    p2.add_argument(
        "--mode",
        choices=("intent", "reference"),
        default="intent",
        help="'reference' reproduces Predictor.scala:404-409 bug-for-bug "
        "(keeps the most DISSIMILAR colliding pairs); 'intent' keeps "
        "similarity ≥ threshold (SURVEY.md §2.7-1)",
    )
    return parser


def main(argv: list[str] | None = None, spark=None) -> int:
    args = _build_parser().parse_args(argv)

    from .session import get_spark
    from .sources.readers import (
        read_ground_truth,
        read_labeled_edges,
        read_node_info,
    )

    owns_session = spark is None
    if owns_session:
        spark = get_spark(app_name=f"link-prediction-{args.problem}", master=args.master)
        spark.sparkContext.setLogLevel("ERROR")  # Predictor.scala:426
    try:
        info = read_node_info(spark, args.node_info)
        truth = read_ground_truth(spark, args.ground_truth)
        if args.problem == "p1":
            from .sources.readers import read_edges
            from .plans.p1 import run_p1

            print("Retrieving DataFrames...")
            train = read_labeled_edges(spark, args.training_set)
            test = read_edges(spark, args.testing_set)
            print("Running Logistic Regression classification...\n")
            result = run_p1(
                spark, info, train, test, truth,
                fraction=args.fraction, seed=args.seed, max_iter=args.max_iter,
            )
            print("Calculating metrics...\n")
            # Predictor.scala:328-341 print shape, from the DataFrame-
            # native sweep (plans/metrics.py) instead of the RDD API.
            rows = result.metrics.orderBy("threshold").collect()
            for r in rows:
                print(f"Threshold: {r['threshold']}, Precision: {r['precision']}")
            for r in rows:
                print(f"Threshold: {r['threshold']}, Recall: {r['recall']}")
            for r in rows:
                print(f"Threshold: {r['threshold']}, F-score: {r['f1']}, Beta = 1")
            # the max over the rows already collected; result.best_f1
            # would run the sweep a second time
            print(f"\nBest F1: {max((r['f1'] for r in rows), default=0.0)}")
        else:
            from .plans.p2 import run_p2

            result = run_p2(
                spark, info, truth,
                fraction=args.fraction, seed=args.seed,
                threshold=args.threshold, mode=args.mode,
            )
            print(f"Total edges created: {result.predicted_count}")  # Predictor.scala:420
            print(f"Correct edges detected: {result.correct_count}")  # Predictor.scala:421
        return 0
    finally:
        if owns_session:
            spark.stop()


if __name__ == "__main__":
    sys.exit(main())
