"""Time the BPE / WordPiece trainers on a synthetic word vocabulary of a
chosen size, and report peak memory of the Python driver and the JVM.

    python scripts/tokenizer_vocab_scale.py --words 1000000 --trainer bpe

The vocabulary is ``--words`` distinct random ``^[a-z]+$`` words of 3-12
letters (skewed letter weights, so pair counts have a head), with
Zipf-like counts; it is seeded, so two checkouts train on the same input.
Prints one JSON line: train seconds (``bpe_train`` / ``wordpiece_train``
including its final-vocab DataFrame), the first action on that
DataFrame, a digest of the merges, and the VmHWM of both processes. Run
one size per process: the peaks are process-lifetime maxima.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import sys
import tempfile
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

LETTERS = "abcdefghijklmnopqrstuvwxyz"


def word_counts(n: int, seed: int) -> tuple[list[str], list[int]]:
    rng = random.Random(seed)
    weights = [1.0 / (i + 1) ** 0.7 for i in range(len(LETTERS))]
    seen: set[str] = set()
    terms: list[str] = []
    while len(terms) < n:
        t = "".join(rng.choices(LETTERS, weights, k=rng.randint(3, 12)))
        if t not in seen:
            seen.add(t)
            terms.append(t)
    return terms, [max(1, 10_000_000 // (r + 1)) for r in range(n)]


def peak_mb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM"):
                return int(line.split()[1]) // 1024
    return -1


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--words", type=int, default=100_000)
    ap.add_argument("--trainer", choices=("bpe", "wordpiece"), default="bpe")
    ap.add_argument("--merges", type=int, default=10)
    ap.add_argument("--seed", type=int, default=12345)
    ap.add_argument("--master", default="local[4]")
    args = ap.parse_args()

    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_algorithms_with_pyspark_spark.operators.bpe import (
        bpe_train,
        char_vocab,
    )
    from data_algorithms_with_pyspark_spark.operators.wordpiece import (
        wordpiece_train,
        wordpiece_vocab,
    )
    from data_algorithms_with_pyspark_spark.session import get_spark

    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "wc.parquet")
        terms, counts = word_counts(args.words, args.seed)
        pq.write_table(
            pa.table({"term": terms, "n": pa.array(counts, pa.int64())}), path
        )
        del terms, counts
        spark = get_spark(app_name="tokenizer-vocab-scale", master=args.master)
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        wc = spark.read.parquet(path).cache()
        n_words = wc.count()
        if args.trainer == "bpe":
            vocab, train = char_vocab(wc), bpe_train
        else:
            vocab, train = wordpiece_vocab(wc), wordpiece_train
        t0 = time.perf_counter()
        merges, final = train(vocab, args.merges)
        t1 = time.perf_counter()
        final_rows = final.count()
        t2 = time.perf_counter()
        digest = hashlib.sha1(repr([tuple(m) for m in merges]).encode())
        print(
            json.dumps(
                {
                    "words": n_words,
                    "trainer": args.trainer,
                    "merges": args.merges,
                    "train_s": round(t1 - t0, 2),
                    "final_count_s": round(t2 - t1, 2),
                    "final_rows": final_rows,
                    "merges_sha1": digest.hexdigest()[:12],
                    "py_peak_mb": peak_mb(os.getpid()),
                    "jvm_peak_mb": peak_mb(jvm_pid),
                }
            )
        )
        spark.stop()


if __name__ == "__main__":
    main()
