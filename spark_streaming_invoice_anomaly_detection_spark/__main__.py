"""CLI entry points replacing the reference's shell scripts
(start_training.sh, start_pipeline.sh, productiondata.sh):

    python -m spark_streaming_invoice_anomaly_detection_spark train  <training.csv> <out_dir> [--algo bisecting]
    python -m spark_streaming_invoice_anomaly_detection_spark pipeline <detector_dir> <detector_dir_bisect>
            --source-dir DIR | --kafka-brokers B --kafka-topic T
            [--out-dir DIR] [--trigger-seconds 20]
    python -m spark_streaming_invoice_anomaly_detection_spark produce <file.csv> <watch_dir> [--min-ms 5 --max-ms 10]
    python -m spark_streaming_invoice_anomaly_detection_spark sql "SELECT ..." [--sf-dir DIR] [--explain]
    python -m spark_streaming_invoice_anomaly_detection_spark query <name>|list [--sf-dir DIR] [--explain]
    python -m spark_streaming_invoice_anomaly_detection_spark state meta|census|dump <checkpoint_dir>

`train` mirrors KMeansClusterInvoices.main / BisectingKMeansClusterInvoices
(CSV -> featurize -> filter -> sweep+elbow -> model + threshold persisted,
chosen k recorded the way model_selection.txt did). `pipeline` wires the
streaming graph with either the file source (sandbox) or Kafka (cluster).
`produce` is the paced replay producer (5-10 ms/record).
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def _cmd_train(args: argparse.Namespace) -> int:
    from .ml.clustering import (
        Detector,
        assemble_features,
        save_detector,
        train_detector,
    )
    from .session import get_spark
    from .sources.csv_batch import load_and_featurize_training_csv

    spark = get_spark(app_name=f"invoice-train-{args.algo}")
    feats = load_and_featurize_training_csv(
        spark, args.training_csv, infer_schema=args.infer_schema
    ).persist()
    # no spark.stop(): getOrCreate may have joined a caller's session (the
    # in-process test harness does exactly that), so release the cached
    # features here, on failure too, instead of leaving them in that session
    try:
        assembled = assemble_features(
            feats,
            ["avg_unit_price", "min_unit_price", "max_unit_price", "time", "number_items"],
        )
        model, threshold, costs = train_detector(
            assembled,
            algo=args.algo,
            k_range=range(1, args.max_k + 1),
            threshold_k=args.threshold_k,
        )
    finally:
        feats.unpersist()
    save_detector(
        Detector(model=model, threshold=threshold, algo=args.algo), args.out_dir
    )
    # the reference recorded the elbow outcome in model_selection.txt
    with open(os.path.join(args.out_dir, "model_selection.json"), "w") as f:
        json.dump({"algo": args.algo, "k": model.getK(), "costs": costs}, f)
    print(
        json.dumps(
            {"algo": args.algo, "k": model.getK(), "threshold": threshold}
        )
    )
    return 0


def _cmd_pipeline(args: argparse.Namespace) -> int:
    from .ml.clustering import load_detector
    from .session import get_spark
    from .sources.kafka import kafka_sink, read_kafka_lines
    from .streaming.monitor import BatchCountListener
    from .streaming.pipeline import PipelineSinks, start_pipeline

    spark = get_spark(app_name="invoice-pipeline")
    spark.streams.addListener(BatchCountListener())
    kmeans = load_detector(spark, args.detector_dir)
    bisect = load_detector(spark, args.detector_dir_bisect)

    if args.kafka_brokers:
        raw = read_kafka_lines(spark, args.kafka_brokers, args.kafka_topic)
        sinks = PipelineSinks(
            erroneous=kafka_sink("facturas_erroneas", args.kafka_brokers),
            cancellations=kafka_sink("cancelaciones", args.kafka_brokers),
            kmeans_anomalies=kafka_sink("anomalias_kmeans", args.kafka_brokers),
            bisect_anomalies=kafka_sink(
                "anomalias_bisect_kmeans", args.kafka_brokers
            ),
        )
    else:
        raw = spark.readStream.format("text").load(args.source_dir)
        out = args.out_dir or "./pipeline_out"

        def parquet_sink(name: str):
            d = os.path.join(out, name)

            def write(df, _epoch_id):
                df.write.mode("append").parquet(d)

            return write

        sinks = PipelineSinks(
            erroneous=parquet_sink("erroneous"),
            cancellations=parquet_sink("cancellations"),
            kmeans_anomalies=parquet_sink("kmeans_anomalies"),
            bisect_anomalies=parquet_sink("bisect_anomalies"),
        )

    handle = start_pipeline(
        raw,
        sinks,
        kmeans=kmeans,
        bisect=bisect,
        trigger_seconds=args.trigger_seconds,
        checkpoint_dir=args.checkpoint_dir,
        staging_dir=args.staging_dir,
    )
    handle.main.awaitTermination()
    return 0


def _cmd_produce(args: argparse.Namespace) -> int:
    from .sources.replay import PacedReplayProducer

    with open(args.file) as f:
        lines = [ln.rstrip("\n") for ln in f if ln.strip()]
    producer = PacedReplayProducer(
        lines,
        args.watch_dir,
        delay_ms=(args.min_ms, args.max_ms),
        chunk_lines=args.chunk_lines,
    )
    producer.start()
    producer.join()
    print(json.dumps({"lines": len(lines), "chunks": producer.chunks_written}))
    return 0


def _cmd_sql(args: argparse.Namespace) -> int:
    from .session import get_spark
    from .sources.catalog import register_views

    spark = get_spark(app_name="invoice-engine-sql")
    register_views(spark, args.sf_dir)
    df = spark.sql(args.query)
    if args.explain:
        df.explain("formatted")
    for line in df.limit(args.limit).toJSON().collect():
        print(line)
    return 0


def _cmd_query(args: argparse.Namespace) -> int:
    from .plans.registry import REGISTRY, queries

    qs = queries()
    if args.name == "list":
        for name in qs:
            print(f"{name}\t{REGISTRY[name].description}")
        return 0
    if args.name not in qs:
        print(f"unknown query: {args.name} (try 'query list')", file=sys.stderr)
        return 2
    from .session import get_spark

    spark = get_spark(app_name=f"invoice-engine-{args.name}")
    df = qs[args.name](spark, args.sf_dir)
    if args.explain:
        df.explain("formatted")
    for line in df.limit(args.limit).toJSON().collect():
        print(line)
    return 0


def _cmd_state(args: argparse.Namespace) -> int:
    from .session import get_spark
    from .streaming.state_inspect import (
        read_state,
        state_census,
        state_operator_metadata,
    )

    spark = get_spark(app_name="invoice-engine-state")
    if args.what == "meta":
        df = state_operator_metadata(spark, args.checkpoint)
    elif args.what == "census":
        df = state_census(spark, args.checkpoint, operator_id=args.operator_id)
    else:  # dump
        df = read_state(spark, args.checkpoint, operator_id=args.operator_id)
    for line in df.limit(args.limit).toJSON().collect():
        print(line)
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="spark_streaming_invoice_anomaly_detection_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    t = sub.add_parser("train", help="batch training (Clustering.scala flow)")
    t.add_argument("training_csv")
    t.add_argument("out_dir")
    t.add_argument("--algo", choices=["kmeans", "bisecting"], default="kmeans")
    t.add_argument("--max-k", type=int, default=20)
    t.add_argument("--threshold-k", type=int, default=2000)
    t.add_argument("--infer-schema", action="store_true")
    t.set_defaults(fn=_cmd_train)

    s = sub.add_parser("pipeline", help="streaming anomaly pipeline")
    s.add_argument("detector_dir")
    s.add_argument("detector_dir_bisect")
    s.add_argument("--source-dir", help="file-source directory (sandbox mode)")
    s.add_argument("--kafka-brokers")
    s.add_argument("--kafka-topic", default="purchases")
    s.add_argument("--out-dir")
    s.add_argument("--checkpoint-dir")
    s.add_argument("--staging-dir")
    s.add_argument("--trigger-seconds", type=int, default=20)
    s.set_defaults(fn=_cmd_pipeline)

    r = sub.add_parser("produce", help="paced replay producer (5-10 ms/rec)")
    r.add_argument("file")
    r.add_argument("watch_dir")
    r.add_argument("--min-ms", type=float, default=5.0)
    r.add_argument("--max-ms", type=float, default=10.0)
    r.add_argument("--chunk-lines", type=int, default=50)
    r.set_defaults(fn=_cmd_produce)

    q = sub.add_parser("sql", help="ad-hoc SQL over the test catalog views")
    q.add_argument("query")
    q.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR"))
    q.add_argument("--limit", type=int, default=100)
    q.add_argument("--explain", action="store_true")
    q.set_defaults(fn=_cmd_sql)

    g = sub.add_parser(
        "query", help="run a registered engine query by name ('list' to enumerate)"
    )
    g.add_argument("name")
    g.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR"))
    g.add_argument("--limit", type=int, default=100)
    g.add_argument("--explain", action="store_true")
    g.set_defaults(fn=_cmd_query)

    st = sub.add_parser(
        "state",
        help="offline checkpoint state: meta | census | dump",
    )
    st.add_argument("what", choices=["meta", "census", "dump"])
    st.add_argument("checkpoint")
    st.add_argument("--operator-id", type=int, default=0)
    st.add_argument("--limit", type=int, default=100)
    st.set_defaults(fn=_cmd_state)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    if args.cmd == "pipeline" and not (args.source_dir or args.kafka_brokers):
        print("pipeline: need --source-dir or --kafka-brokers", file=sys.stderr)
        return 2
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
