"""spark-submit payload: distributed NER training on a deterministic
synthetic encoded corpus; prints one JSON metrics line.

The training-side analogue of scripts/kg_job.py for the two-parallelism
scaling evidence: the per-step work (numpy BPTT forward/backward over each
partition's slice of the global batch) is the parallel axis; the Adam
update is a driver-side reduce of ~|params| floats per step. Submitted by
`scripts/scaling_bench.py --workload train` at N and 4N single-core
executor JVMs.
"""

from __future__ import annotations

import argparse
import json
import time

import numpy as np


def synth_rows(spark, n_sentences: int, input_dim: int, sent_len: int, seed: int):
    """Deterministic learnable corpus, generated DISTRIBUTED (one numpy rng
    per sentence id — partition-layout-invariant)."""
    from pyspark.sql.types import (
        ArrayType, DoubleType, IntegerType, LongType, StructField, StructType,
    )

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("sentence_id", IntegerType()),
            StructField("x", ArrayType(ArrayType(DoubleType()))),
            StructField("y", ArrayType(IntegerType())),
        ]
    )

    def gen(ids):
        for i in ids:
            rng = np.random.default_rng([seed, int(i)])
            L = int(rng.integers(sent_len // 2, sent_len + 1))
            x = rng.normal(size=(L, input_dim))
            y = np.where(x[:, 0] > 0.3, 0, 2)
            yield (int(i) // 8, int(i) % 8, x.tolist(), y.tolist())

    rdd = spark.sparkContext.range(0, n_sentences, numSlices=64).mapPartitions(gen)
    return spark.createDataFrame(rdd, schema)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-sentences", type=int, default=8192)
    ap.add_argument("--input-dim", type=int, default=64)
    ap.add_argument("--ff", type=int, default=256)
    ap.add_argument("--lstm", type=int, default=128)
    ap.add_argument("--layers", type=int, default=1)
    ap.add_argument("--batch", type=int, default=2048)
    ap.add_argument("--epochs", type=int, default=2)
    ap.add_argument("--sent-len", type=int, default=30)
    ap.add_argument("--dropout", type=float, default=0.1)
    ap.add_argument("--seed", type=int, default=1632737901)
    ap.add_argument("--n-shards", type=int, default=None)
    ap.add_argument(
        "--batch-norm", action="store_true",
        help="train with BatchNorm sites (reference --enableBatchNormalization), "
        "starting from torch's fresh-BN state (gamma=1, beta=0, running 0/1)",
    )
    args = ap.parse_args()

    from bioner_spark.ner.kernel import init_model
    from bioner_spark.ner.train import train_distributed
    from bioner_spark.session import get_spark, stable_default_parallelism

    spark = get_spark(app_name="bioner_train_job")
    if not args.n_shards:
        # read parallelism only AFTER executors register and the count
        # stabilizes (session.stable_default_parallelism) — an early read
        # would silently train with too few shards and report pessimistic
        # sentences/sec
        stable_default_parallelism(spark)
    n_shards = args.n_shards or spark.sparkContext.defaultParallelism

    train_df = synth_rows(spark, args.n_sentences, args.input_dim, args.sent_len, args.seed)
    val_df = synth_rows(spark, 256, args.input_dim, args.sent_len, args.seed + 1).select("x", "y")
    model = init_model(
        args.input_dim, feedforward_size=args.ff, lstm_size=args.lstm,
        n_bilstm_layers=args.layers, seed=args.seed,
        batch_norm=args.batch_norm, bn_identity=args.batch_norm,
    )

    spark.sparkContext.setJobGroup("timed", "train_distributed")
    t0 = time.time()
    res = train_distributed(
        spark, train_df, val_df, model,
        batch_size=args.batch, max_epochs=args.epochs, lr=0.001,
        dropout_p=args.dropout, seed=args.seed, n_shards=n_shards,
        dtype=np.float32,
    )
    total = time.time() - t0
    epoch_secs = [h["epoch_sec"] for h in res.history]
    best = min(epoch_secs)
    print(
        json.dumps(
            {
                "n_sentences": args.n_sentences,
                "n_shards": n_shards,
                "epochs": args.epochs,
                "epoch_secs": [round(s, 3) for s in epoch_secs],
                "best_epoch_sec": round(best, 3),
                "train_sentences_per_sec": round(args.n_sentences / best, 2),
                "final_train_loss": res.history[-1]["train_loss"],
                "val_f1": res.history[-1]["val_f1"],
                "total_sec": round(total, 2),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
