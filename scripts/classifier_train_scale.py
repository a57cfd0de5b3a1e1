"""Time the quality-classifier trainer on a documents draw of a chosen
size, and report peak memory of the Python driver and the JVM.

    python scripts/classifier_train_scale.py --text-scale 20 --data DIR

The documents come from ``perfbench/gen.py`` (seeded; 10-100 words each
over a 32-word vocabulary): ``--text-scale 2`` draws 1e5 documents, 20
draws 1e6. The draw is written to ``DIR`` once and reused when
``DIR/documents.parquet`` exists. Training is the ``doc_quality_classifier``
configuration (32 hashed buckets + bias, 3 steps, the length label).
Prints one JSON line: train seconds (``logistic_regression_train``), the
first action over the scores of the packed relation it hands back, a
digest of the weights, and the VmHWM of both processes. Run one size per
process: the peaks are process-lifetime maxima.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import subprocess
import sys
import time

ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
sys.path.insert(0, ROOT)


def peak_mb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM"):
                return int(line.split()[1]) // 1024
    return -1


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--text-scale", type=float, default=2.0)
    ap.add_argument("--data", required=True)
    ap.add_argument("--seed", type=int, default=12345)
    ap.add_argument("--master", default="local[4]")
    ap.add_argument("--driver-memory", default="2g")
    args = ap.parse_args()

    if not os.path.exists(os.path.join(args.data, "documents.parquet")):
        subprocess.run(
            [sys.executable, os.path.join(ROOT, "perfbench", "gen.py"),
             args.data, str(args.seed), "0.0001", str(args.text_scale),
             "documents"],
            check=True,
        )

    from pyspark.sql import functions as F

    from data_algorithms_with_pyspark_spark.functions.text_functions import (
        words,
    )
    from data_algorithms_with_pyspark_spark.operators.ml import (
        hashed_token_features,
        logistic_regression_train,
        packed_logistic_scores,
    )
    from data_algorithms_with_pyspark_spark.plans import curation
    from data_algorithms_with_pyspark_spark.session import get_spark
    from data_algorithms_with_pyspark_spark.sources.readers import load_table

    spark = get_spark(
        app_name="classifier-train-scale",
        master=args.master,
        extra_conf={"spark.driver.memory": args.driver_memory},
    )
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    docs = load_table(spark, args.data, "documents")
    n_docs = docs.count()
    toks = docs.select("doc_id", words("text").alias("_t"))
    labels = toks.select(
        "doc_id",
        (
            (F.size("_t") >= curation._LR_MIN_TOKENS).cast("long")
            * F.lit(1_000_000)
        ).alias("y_micro"),
    )
    feats = hashed_token_features(toks, curation._LR_DIMS)
    packed: list = []
    t0 = time.perf_counter()
    w = logistic_regression_train(
        feats, labels, dims=curation._LR_DIMS, iters=curation._LR_ITERS,
        packed_out=packed,
    )
    t1 = time.perf_counter()
    scores = packed_logistic_scores(packed[0], w)
    score_sum = scores.agg(F.sum("s_micro")).first()[0]
    t2 = time.perf_counter()
    print(
        json.dumps(
            {
                "docs": n_docs,
                "train_s": round(t1 - t0, 2),
                "score_s": round(t2 - t1, 2),
                "score_sum": score_sum,
                "w_sha1": hashlib.sha1(repr(w).encode()).hexdigest()[:12],
                "py_peak_mb": peak_mb(os.getpid()),
                "jvm_peak_mb": peak_mb(jvm_pid),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
