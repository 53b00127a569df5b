"""Command-line entry points — drop-in replacements for the reference's
three scripts, one engine process each:

| reference script | engine command |
|---|---|
| `python3 fraud_detection_model.py <csv>` (train+eval+save) | `python -m real_time_fraud_detection_system_using_big_data_analytics_spark.cli train <csv> --model-dir D` |
| `python3 postgres_model_inference.py` (batch score) | `... cli score <csv> --model-dir D --out OUT` |
| `python3 spark_streaming_app.py` (stream score) | `... cli stream --events-dir DIR [--kafka BROKER --topic T]` |

Differences from the reference, all deliberate (SURVEY §4.1/§7):
explicit schema instead of inferSchema (one pass), weightCol actually
wired, single-pass evaluation instead of seven actions, distributed CSV
write instead of toPandas().to_csv, and the alert path stays in-plan
(no collect()-then-send loop).
"""

from __future__ import annotations

import argparse
import json
import sys

from .ml.fraud_pipeline import FraudPipeline
from .session import get_session
from .sources.files import read_paysim_csv, write_csv


def cmd_train(args: argparse.Namespace) -> int:
    spark = get_session("cli-train")
    df = read_paysim_csv(spark, args.csv)
    train, test = df.randomSplit([1 - args.test_fraction, args.test_fraction], seed=42)
    fp = FraudPipeline()
    model = fp.fit(train)
    metrics = FraudPipeline.evaluate(model, test)
    fp.save(model, args.model_dir)
    if args.test_out:
        write_csv(test, args.test_out)
    print(json.dumps({"model_dir": args.model_dir, "metrics": metrics}))
    return 0


def cmd_score(args: argparse.Namespace) -> int:
    spark = get_session("cli-score")
    # None = flag not passed = no readiness gate; 0 / negative reach
    # wait_until_ready's documented "check once without waiting" path
    # (a plain truthiness test would silently disable gating at 0)
    if args.wait_for_model is not None and not FraudPipeline.wait_until_ready(
        args.model_dir, args.wait_for_model
    ):
        print(json.dumps({"error": "model not ready", "model_dir": args.model_dir}))
        return 1
    model, _meta = FraudPipeline.load(args.model_dir)
    df = read_paysim_csv(spark, args.csv)
    scored = FraudPipeline.score(model, df)
    flagged = scored.filter(scored["fraud_prediction"] == 1).select(
        "nameOrig", "nameDest", "amount", "fraud_prediction", "fraud_probability"
    )
    write_csv(flagged, args.out)
    from pyspark.sql import functions as F

    stats = scored.agg(
        F.count("*").alias("n_scored"),
        F.sum("fraud_prediction").alias("n_flagged"),
    ).first()
    print(json.dumps({"n_scored": stats["n_scored"], "n_flagged": int(stats["n_flagged"]), "out": args.out}))
    return 0


def cmd_list(args: argparse.Namespace) -> int:
    """List every registered query; '*' marks DuckDB-oracle-checked ones."""
    from .plans import registry

    registry.load_all()
    for name in sorted(registry.QUERIES):
        print(f"{'*' if name in registry.ORACLE else ' '} {name}")
    return 0


def cmd_run(args: argparse.Namespace) -> int:
    """Run any registered query; show rows or write csv/parquet."""
    from .plans import registry

    registry.load_all()
    if args.query not in registry.QUERIES:
        print(json.dumps({"error": "unknown query", "query": args.query}))
        return 2
    spark = get_session("cli-run")
    df = registry.QUERIES[args.query](spark, args.sf_dir)
    if args.out:
        if args.format == "parquet":
            df.write.mode("overwrite").parquet(args.out)
        else:
            write_csv(df, args.out)
        print(json.dumps({"query": args.query, "rows": df.count(), "out": args.out}))
    else:
        df.show(args.show, truncate=False)
    return 0


def cmd_explain(args: argparse.Namespace) -> int:
    """Print a registered query's physical plan — the '.explain and
    iterate' loop as a first-class command."""
    from .plans import registry
    from .plans.explain import plan_string

    registry.load_all()
    if args.query not in registry.QUERIES:
        print(json.dumps({"error": "unknown query", "query": args.query}))
        return 2
    spark = get_session("cli-explain")
    df = registry.QUERIES[args.query](spark, args.sf_dir)
    print(plan_string(df, mode=args.mode))
    return 0


def cmd_stream(args: argparse.Namespace) -> int:
    """Hermetic by default (file replay of the events table, availableNow,
    alert counts printed); with --kafka, reads the PaySim JSON topic and
    writes alerts back through the in-plan Kafka sink."""
    spark = get_session("cli-stream")
    if (
        args.model_dir
        and args.wait_for_model is not None
        and not FraudPipeline.wait_until_ready(args.model_dir, args.wait_for_model)
    ):
        print(json.dumps({"error": "model not ready", "model_dir": args.model_dir}))
        return 1
    if args.kafka:
        import tempfile

        from .ml.fraud_pipeline import PAYSIM_SCHEMA
        from .streaming.sources import kafka_alert_sink, kafka_json_stream

        stream = kafka_json_stream(spark, args.kafka, args.topic, PAYSIM_SCHEMA)
        model, _ = FraudPipeline.load(args.model_dir)
        scored = FraudPipeline.score(model, stream.drop("_corrupt"))
        alerts = scored.filter(scored["fraud_prediction"] == 1).select(
            "nameOrig", "nameDest", "amount", "fraud_prediction", "fraud_probability"
        )
        sink = kafka_alert_sink(
            alerts, args.kafka, args.alert_topic, tempfile.mkdtemp(prefix="ckpt_")
        )
        q = sink.start()
        q.awaitTermination()
        return 0
    if args.chunks > 1:
        # multi-micro-batch replay (reference producer parity: the stream
        # sees a sequence of batches, state carries across them)
        from pyspark.sql import functions as F

        from .streaming.replay import chunked_replay

        out, n_batches = chunked_replay(
            spark,
            args.events_dir,
            lambda s: s.filter(
                (F.col("event_type") == "purchase") & (F.col("value") > 150.0)
            ).select("event_id", "user_id", "event_type", "value"),
            n_chunks=args.chunks,
        )
        print(
            json.dumps(
                {"alerts": out.count(), "batches": n_batches, "source": args.events_dir}
            )
        )
        return 0
    from .plans import registry

    registry.load_all()
    alerts = registry.QUERIES["stream_rule_alerts"](spark, args.events_dir)
    print(json.dumps({"alerts": alerts.count(), "source": args.events_dir}))
    return 0


def cmd_tail(args: argparse.Namespace) -> int:
    """Debug consumer tail (reference parity: transaction_consumer.py:13-37
    — a plain KafkaConsumer loop that deserializes each message and prints
    it). Engine form: the SAME readStream sources every query uses, drained
    hermetically with availableNow into a bounded memory sink, first N rows
    printed as JSON lines. With --kafka it tails the real topic; without,
    it replays the events table — so the debug tool exercises the exact
    ingest path production runs, unlike the reference's separate consumer
    client with its own deserializer (a classic source of parse drift
    between the debug tool and the app)."""
    from .streaming.replay import run_to_memory

    spark = get_session("cli-tail")
    if args.kafka:
        from .ml.fraud_pipeline import PAYSIM_SCHEMA
        from .streaming.sources import kafka_json_stream

        stream = kafka_json_stream(spark, args.kafka, args.topic, PAYSIM_SCHEMA)
    else:
        from .streaming.sources import events_file_stream

        stream = events_file_stream(spark, args.events_dir)
    # streaming LIMIT: the memory sink materializes at most n rows —
    # without it an availableNow drain of a large topic/dir would pull
    # EVERY row into driver memory for a 10-row debug tail
    rows = run_to_memory(stream.limit(args.n), "append")[0].limit(args.n).collect()
    for r in rows:
        print(json.dumps(r.asDict(), default=str))
    return 0


def cmd_topics(args: argparse.Namespace) -> int:
    """Topic admin (reference parity: create_topics.py:10-81). With
    --bootstrap, drives a real broker through the gated kafka-python
    backend; otherwise administers the hermetic file-twin topics under
    --dir (the layout the streaming tests replay through). ``reset``
    reproduces the reference script's delete-then-recreate of the two
    app topics as one call (synchronous on the file twin; on a real
    broker the recreate retries through the async-deletion window,
    streaming/topics.py)."""
    from .streaming.topics import FileTopicAdmin, KafkaTopicAdmin, reset_topics

    admin = (
        KafkaTopicAdmin(args.bootstrap)
        if args.bootstrap
        else FileTopicAdmin(args.dir)
    )
    if args.action == "create":
        admin.create_topic(args.topic, partitions=args.partitions, exist_ok=args.exist_ok)
        print(json.dumps({"created": args.topic, "partitions": args.partitions}))
    elif args.action == "delete":
        admin.delete_topic(args.topic)
        print(json.dumps({"deleted": args.topic}))
    elif args.action == "list":
        print(json.dumps({"topics": admin.list_topics()}))
    elif args.action == "reset":
        print(json.dumps({"reset": reset_topics(admin, partitions=args.partitions)}))
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="fraud-engine")
    sub = p.add_subparsers(dest="cmd", required=True)

    t = sub.add_parser("train", help="train + evaluate + save (reference: fraud_detection_model.py)")
    t.add_argument("csv")
    t.add_argument("--model-dir", required=True)
    t.add_argument("--test-fraction", type=float, default=0.2)
    t.add_argument("--test-out", default=None)
    t.set_defaults(fn=cmd_train)

    s = sub.add_parser("score", help="batch inference (reference: postgres_model_inference.py)")
    s.add_argument("csv")
    s.add_argument("--model-dir", required=True)
    s.add_argument("--out", required=True)
    s.add_argument(
        "--wait-for-model",
        type=float,
        default=None,
        help="seconds to wait for the model_ready marker; 0 or negative = "
        "check once without waiting; omit = no readiness gate (reference: "
        "transaction_producer.py --wait-for-model)",
    )
    s.set_defaults(fn=cmd_score)

    st = sub.add_parser("stream", help="streaming scoring (reference: spark_streaming_app.py)")
    st.add_argument("--events-dir", default="/root/testdata/sf0.001")
    st.add_argument("--kafka", default=None, help="bootstrap servers; hermetic file replay if omitted")
    st.add_argument("--topic", default="transaction_data_topic")
    st.add_argument("--alert-topic", default="fraud_alerts_topic")
    st.add_argument("--model-dir", default=None)
    st.add_argument("--wait-for-model", type=float, default=None)
    st.add_argument(
        "--chunks",
        type=int,
        default=1,
        help="replay the events table as N micro-batches (producer parity); "
        "1 = single availableNow batch",
    )
    st.set_defaults(fn=cmd_stream)

    tl = sub.add_parser("tail", help="print the first N rows flowing through the ingest stream (reference: transaction_consumer.py)")
    tl.add_argument("--events-dir", default="/root/testdata/sf0.001")
    tl.add_argument("--kafka", default=None, help="bootstrap servers; hermetic file replay if omitted")
    tl.add_argument("--topic", default="transaction_data_topic")
    tl.add_argument("-n", type=int, default=10, help="rows to print")
    tl.set_defaults(fn=cmd_tail)

    tp = sub.add_parser("topics", help="topic admin: create/delete/list/reset (reference: create_topics.py)")
    tp.add_argument("action", choices=["create", "delete", "list", "reset"])
    tp.add_argument("--topic", default="transaction_data_topic")
    tp.add_argument("--partitions", type=int, default=3)
    tp.add_argument("--exist-ok", action="store_true")
    tp.add_argument("--bootstrap", default=None, help="real broker; file-twin admin if omitted")
    tp.add_argument("--dir", default="/tmp/spark_graft_topics", help="file-twin topic root")
    tp.set_defaults(fn=cmd_topics)

    ls = sub.add_parser("list", help="list registered queries (* = oracle-checked)")
    ls.set_defaults(fn=cmd_list)

    r = sub.add_parser("run", help="run a registered query; show or write result")
    r.add_argument("query")
    r.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    r.add_argument("--out", default=None)
    r.add_argument("--format", choices=("csv", "parquet"), default="csv")
    r.add_argument("--show", type=int, default=20, help="rows to show when no --out")
    r.set_defaults(fn=cmd_run)

    e = sub.add_parser("explain", help="print a registered query's physical plan")
    e.add_argument("query")
    e.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    e.add_argument("--mode", choices=("simple", "formatted"), default="formatted")
    e.set_defaults(fn=cmd_explain)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
