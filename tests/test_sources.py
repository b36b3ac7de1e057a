"""Source/sink adapter tests: batch CSV training loader (S1), Kafka option/
wire-format builders (S2/S3, broker-less), paced replay producer (S8)."""

from __future__ import annotations

import os

import pytest

from spark_streaming_invoice_anomaly_detection_spark.sources.csv_batch import (
    load_and_featurize_training_csv,
    load_training_csv,
)
from spark_streaming_invoice_anomaly_detection_spark.sources.kafka import (
    kafka_sink_options,
    kafka_source_options,
    wire_format,
)
from spark_streaming_invoice_anomaly_detection_spark.sources.replay import (
    PacedReplayProducer,
)

HEADER = "InvoiceNo,StockCode,Description,Quantity,InvoiceDate,UnitPrice,CustomerID,Country"
CSV_LINES = [
    HEADER,
    "536365,85123A,WHITE HANGING HEART,6,12/1/2010 8:26,2.55,17850,United Kingdom",
    "536365,71053,WHITE METAL LANTERN,4,12/1/2010 8:26,3.39,17850,United Kingdom",
    '536366,22633,"HAND WARMER, UNION JACK",6,12/1/2010 8:28,1.85,17850,United Kingdom',
    "536367,85123A,NO CUSTOMER,2,12/1/2010 9:00,3.75,,United Kingdom",
    "C536368,85123A,CANCELLED,1,12/1/2010 9:30,9.99,17850,United Kingdom",
    "536369,85123A,BAD DATE,2,baddate,3.75,17850,United Kingdom",
]


def _write_csv(tmp_path) -> str:
    path = str(tmp_path / "training.csv")
    with open(path, "w") as f:
        f.write("\n".join(CSV_LINES) + "\n")
    return path


class TestTrainingCsvLoader:
    def test_explicit_schema_load(self, spark, tmp_path):
        df = load_training_csv(spark, _write_csv(tmp_path))
        assert dict(df.dtypes) == {
            "invoice_no": "string",
            "quantity": "int",
            "invoice_date": "string",
            "unit_price": "double",
            "customer_id": "string",
            "country": "string",
            "hour": "double",
        }
        rows = {(r.invoice_no, r.unit_price): r for r in df.collect()}
        assert len(rows) == 6
        r = rows[("536365", 2.55)]
        assert r.quantity == 6 and r.hour == 8.0
        # quoted Description with a comma parses as ONE field
        assert rows[("536366", 1.85)].quantity == 6
        # bad date -> -1.0 sentinel (gethour semantics, Clustering.scala:24-32)
        assert rows[("536369", 3.75)].hour == -1.0
        # empty CustomerID field -> null
        assert rows[("536367", 3.75)].customer_id is None

    def test_infer_schema_mode_matches(self, spark, tmp_path):
        path = _write_csv(tmp_path)
        explicit = load_training_csv(spark, path, infer_schema=False)
        inferred = load_training_csv(spark, path, infer_schema=True)
        assert explicit.schema == inferred.schema
        key = ["invoice_no", "unit_price"]
        assert sorted(map(tuple, explicit.collect())) == sorted(
            map(tuple, inferred.collect())
        )

    def test_featurize_round_trip(self, spark, tmp_path):
        feats = load_and_featurize_training_csv(spark, _write_csv(tmp_path))
        by_no = {r.invoice_no: r for r in feats.collect()}
        # valid = customer present, date present, not a cancellation
        # (536367 drops: null customer; C536368 drops: cancellation)
        assert set(by_no) == {"536365", "536366", "536369"}
        inv = by_no["536365"]
        assert inv.lines == 2
        assert inv.avg_unit_price == (2.55 + 3.39) / 2
        assert inv.min_unit_price == 2.55 and inv.max_unit_price == 3.39
        assert inv.time == 8.0  # batch path: max(Hour) (Clustering.scala:51)
        assert inv.number_items == 10
        # bad date still featurizes (LastDate = the raw string is present);
        # its Time is the -1.0 sentinel
        assert by_no["536369"].time == -1.0


class TestKafkaBuilders:
    def test_source_options(self):
        assert kafka_source_options("b1:9092,b2:9092", "purchases") == {
            "kafka.bootstrap.servers": "b1:9092,b2:9092",
            "subscribe": "purchases",
            "startingOffsets": "latest",
        }
        assert (
            kafka_source_options("b:9092", "t", "earliest")["startingOffsets"]
            == "earliest"
        )

    def test_sink_options(self):
        assert kafka_sink_options("b:9092", "facturas_erroneas") == {
            "kafka.bootstrap.servers": "b:9092",
            "topic": "facturas_erroneas",
        }

    def test_wire_format_invoice_reason(self, spark):
        # "<invoiceNo>,<reason>" (InvoicePipeline.scala:384)
        df = spark.createDataFrame(
            [("567862", "missing customer ID")], "invoice_no string, reason string"
        )
        (row,) = wire_format(df).collect()
        assert row.value == "567862,missing customer ID"
        assert wire_format(df).columns == ["value"]

    def test_wire_format_bare_invoice_and_numbers(self, spark):
        # "<invoiceNo>" for anomalies (:357,378); numeric cols cast to string
        df = spark.createDataFrame([("536999",)], "invoice_no string")
        assert wire_format(df).first().value == "536999"
        counts = spark.createDataFrame([(42,)], "n long")
        assert wire_format(counts).first().value == "42"


class TestPacedReplay:
    def test_chunked_paced_drip(self, tmp_path):
        lines = [f"line_{i}" for i in range(120)]
        out = str(tmp_path / "feed")
        producer = PacedReplayProducer(
            lines, out, delay_ms=(0.5, 1.0), chunk_lines=50, seed=1
        )
        producer.start()
        producer.join(timeout=30)
        assert not producer.is_alive()
        assert producer.chunks_written == 3  # 50 + 50 + 20
        files = sorted(os.listdir(out))
        assert files == ["chunk_000000.txt", "chunk_000001.txt", "chunk_000002.txt"]
        replayed = []
        for name in files:
            with open(os.path.join(out, name)) as f:
                replayed += [ln.rstrip("\n") for ln in f]
        assert replayed == lines  # order preserved, nothing lost

    def test_stop_aborts_early(self, tmp_path):
        lines = [f"line_{i}" for i in range(10_000)]
        out = str(tmp_path / "feed")
        producer = PacedReplayProducer(lines, out, delay_ms=(5.0, 10.0), seed=2)
        producer.start()
        producer.stop()
        producer.join(timeout=10)
        assert not producer.is_alive()
        total = 0
        for name in os.listdir(out):
            with open(os.path.join(out, name)) as f:
                total += sum(1 for _ in f)
        assert total < len(lines)


class TestJsonl:
    def test_roundtrip_preserves_rows(self, spark, sf_dir, tmp_path):
        from spark_streaming_invoice_anomaly_detection_spark.sources.jsonl import (
            read_jsonl,
            write_jsonl,
        )
        from spark_streaming_invoice_anomaly_detection_spark.sources.catalog import (
            load_table,
        )

        docs = load_table(spark, "documents", sf_dir).select(
            "doc_id", "text", "lang"
        )
        path = str(tmp_path / "docs_jsonl")
        write_jsonl(docs, path, num_shards=4, shard_key="doc_id")
        back = read_jsonl(spark, path, schema=docs.schema)
        assert back.count() == docs.count()
        a = {tuple(r) for r in docs.collect()}
        b = {tuple(r) for r in back.collect()}
        assert a == b

    def test_deterministic_sharding(self, spark, tmp_path):
        import glob

        from spark_streaming_invoice_anomaly_detection_spark.sources.jsonl import (
            write_jsonl,
        )

        df = spark.range(100).selectExpr(
            "id AS doc_id", "concat('t', id) AS text"
        )
        p1, p2 = str(tmp_path / "a"), str(tmp_path / "b")
        write_jsonl(df, p1, num_shards=4, shard_key="doc_id")
        write_jsonl(df, p2, num_shards=4, shard_key="doc_id")

        def shard_sets(p):
            out = []
            for f in sorted(glob.glob(p + "/part-*")):
                with open(f) as fh:
                    out.append(frozenset(fh.read().splitlines()))
            return out

        # same rows land in the same shard index on every run
        assert shard_sets(p1) == shard_sets(p2)

    def test_shard_key_requires_num_shards(self, spark):
        import pytest

        from spark_streaming_invoice_anomaly_detection_spark.sources.jsonl import (
            write_jsonl,
        )

        df = spark.range(3).selectExpr("id AS doc_id")
        with pytest.raises(ValueError):
            write_jsonl(df, "/tmp/never-written", shard_key="doc_id")


class TestCsvAudit:
    def test_audit_counts(self, spark, tmp_path):
        from spark_streaming_invoice_anomaly_detection_spark.sources.csv_batch import (
            csv_audit,
        )

        p = tmp_path / "audit.csv"
        p.write_text(
            "InvoiceNo,StockCode,Description,Quantity,InvoiceDate,UnitPrice,CustomerID,Country\n"
            "536365,85123A,OK,6,12/1/2010 8:26,2.55,17850,United Kingdom\n"
            "536366,85123A,BAD QTY,notanint,12/1/2010 8:27,2.55,17850,United Kingdom\n"
            "536367,85123A,BAD DATE,2,2010-12-01 08:28,2.55,17850,United Kingdom\n"
            "536368,85123A,NO CUSTOMER,3,12/1/2010 8:29,1.25,,France\n"
            "536369,85123A,SHORT,4\n"
        )
        row = csv_audit(spark, str(p)).first()
        assert row.n_lines == 5
        assert row.n_bad_lines == 2  # non-int quantity + short row
        # short row has null date; bad-date row nonconforming -> 2
        assert row.n_invalid_dates == 2
        assert row.empty_customerid == 2  # explicit empty + short row
        assert row.empty_country == 1  # short row only
        assert row.empty_invoiceno == 0


class TestPurchaseCsvDataSource:
    def test_read_parses_and_partitions_per_file(self, spark, tmp_path):
        from spark_streaming_invoice_anomaly_detection_spark.sources.pydatasource import (
            register,
        )

        register(spark)
        d = tmp_path / "chunks"
        d.mkdir()
        (d / "a.csv").write_text(
            "536365,85123A,OK,6,12/1/2010 8:26,2.55,17850,United Kingdom\n"
            "536366,85123A,BAD,notanint,12/1/2010 8:27,2.55,17850,United Kingdom\n"
        )
        (d / "b.csv").write_text(
            "536367,85123A,SHORT,4\n"
            '536368,22633,"HAND WARMER, UNION JACK",6,12/1/2010 8:28,1.85,17850,United Kingdom\n'
        )
        df = spark.read.format("purchase_csv").option("path", str(d)).load()
        assert df.rdd.getNumPartitions() == 2  # one per file
        rows = {r.invoice_no: r for r in df.collect()}
        assert rows["536365"].quantity == 6
        assert rows["536365"].error_reason is None
        assert rows["536366"].error_reason.startswith("parse error:")
        assert rows["536367"].error_reason == "malformed purchase line"
        assert rows["536368"].unit_price == 1.85  # quoted comma survives

    def test_routes_through_streaming_taxonomy(self, spark, tmp_path):
        """Rows from the connector slot into the same downstream split the
        streaming parser feeds (P3 silent-drop semantics)."""
        from spark_streaming_invoice_anomaly_detection_spark.sources.pydatasource import (
            register,
        )
        from spark_streaming_invoice_anomaly_detection_spark.streaming.parse import (
            route_events,
        )

        register(spark)
        p = tmp_path / "one.csv"
        p.write_text(
            "536365,85123A,OK,6,12/1/2010 8:26,2.55,17850,United Kingdom\n"
            "536366,85123A,BAD,notanint,12/1/2010 8:27,2.55,17850,United Kingdom\n"
            "536367,85123A,SHORT,4\n"
        )
        df = spark.read.format("purchase_csv").option("path", str(p)).load()
        routed = route_events(df)
        reasons = sorted(
            (r.error_reason or "ok") for r in routed.collect()
        )
        # good + parse-error kept; malformed silently dropped
        assert len(reasons) == 2
        assert reasons[0] == "ok" and reasons[1].startswith("parse error:")


class TestCorruptJsonl:
    def test_permissive_split(self, spark, tmp_path):
        from spark_streaming_invoice_anomaly_detection_spark.sources.jsonl import (
            read_jsonl,
            split_corrupt,
        )

        p = tmp_path / "data.jsonl"
        p.write_text(
            '{"doc_id": 1, "text": "ok"}\n'
            '{"doc_id": 2, "text": "also ok"}\n'
            "{broken json here\n"
            '{"doc_id": "notanint", "text": "bad type"}\n'
        )
        df = read_jsonl(
            spark, str(p), schema="doc_id long, text string", keep_corrupt=True
        )
        spark.catalog.clearCache()
        good, bad = split_corrupt(df)
        ids = sorted(r.doc_id for r in good.collect())
        assert ids == [1, 2]
        corrupt = [r._corrupt_record for r in bad.collect()]
        assert len(corrupt) == 2  # syntax error + type mismatch
        assert any("broken" in c for c in corrupt)
        # the split materializes without a cache the caller must release
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()

    def test_requires_schema(self, spark, tmp_path):
        from spark_streaming_invoice_anomaly_detection_spark.sources.jsonl import (
            read_jsonl,
        )

        with pytest.raises(ValueError, match="explicit schema"):
            read_jsonl(spark, str(tmp_path), keep_corrupt=True)


class TestColumnarFormats:
    def test_orc_roundtrip_with_pushdown(self, spark, sf_dir, tmp_path):
        """ORC round-trip preserves values exactly, and a subsequent
        filtered scan pushes the predicate into the ORC reader
        (PushedFilters in the plan) with pruned columns."""
        from spark_streaming_invoice_anomaly_detection_spark.sources.catalog import (
            load_table,
        )
        from spark_streaming_invoice_anomaly_detection_spark.sources.formats import (
            read_orc,
            write_orc,
        )

        from pyspark.sql import functions as F

        li = load_table(spark, "lineitem", sf_dir).select(
            "l_orderkey", "l_quantity", "l_extendedprice"
        )
        path = str(tmp_path / "li_orc")
        write_orc(li, path)
        back = read_orc(spark, path)
        assert back.count() == li.count()
        # exact value preservation (ORC stores the same doubles bit-for-bit)
        a = li.agg(F.sum("l_extendedprice").alias("s")).first().s
        b = back.agg(F.sum("l_extendedprice").alias("s")).first().s
        assert a == b

        scan = (
            back.filter(F.col("l_quantity") > 40)
            .select("l_orderkey")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "PushedFilters: [" in scan and "l_quantity" in scan.split(
            "PushedFilters"
        )[1].split("]")[0]
        read_schema = scan.split("ReadSchema:")[1].split("\n")[0]
        assert "l_extendedprice" not in read_schema  # column pruned

    def test_avro_gated(self, spark, sf_dir, tmp_path):
        """Avro runs when the external module exists, else the helpers
        raise naming the missing jar (and the test skips)."""
        import pytest as _pytest

        from spark_streaming_invoice_anomaly_detection_spark.sources.catalog import (
            load_table,
        )
        from spark_streaming_invoice_anomaly_detection_spark.sources.formats import (
            avro_available,
            read_avro,
            write_avro,
        )

        li = load_table(spark, "lineitem", sf_dir).select(
            "l_orderkey", "l_quantity"
        )
        path = str(tmp_path / "li_avro")
        if not avro_available(spark):
            with _pytest.raises(RuntimeError, match="spark-avro"):
                write_avro(li, path)
            _pytest.skip(
                "spark-avro external module not on the classpath "
                "(org.apache.spark.sql.avro.AvroFileFormat unresolvable)"
            )
        write_avro(li, path)
        assert read_avro(spark, path).count() == li.count()


class TestPurchaseReplayStream:
    def test_stream_reads_in_bounded_batches_exactly_once(self, spark, tmp_path):
        """readStream over the Python connector: line-offset checkpointing
        delivers every line exactly once, and maxLinesPerBatch bounds each
        micro-batch (admission control for a backlogged replay file)."""
        from spark_streaming_invoice_anomaly_detection_spark.sources.pydatasource import (
            register,
        )

        from .test_streaming import _poll

        register(spark)
        p = tmp_path / "replay.csv"
        lines = [
            f"5363{i:02d},85123A,ITEM {i},{i % 7},12/1/2010 8:{i % 60:02d},1.25,178{i:02d},France"
            for i in range(25)
        ]
        lines[3] = "536399,85123A,SHORT,4"  # malformed -> error_reason row
        p.write_text("\n".join(lines) + "\n")

        batches: list = []
        q = (
            spark.readStream.format("purchase_csv")
            .option("path", str(p))
            .option("maxLinesPerBatch", "10")
            .load()
            .writeStream.outputMode("append")
            .foreachBatch(lambda df, e: batches.append((e, df.collect())))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(processingTime="1 seconds")
            .start()
        )
        try:
            _poll(lambda: sum(len(rows) for _, rows in batches), 25)
        finally:
            q.stop()
        rows = [r for _, b in batches for r in b]
        assert len(rows) == 25  # exactly once, no dupes across batches
        assert max(len(b) for _, b in batches) <= 10  # bounded micro-batches
        assert sum(1 for _, b in batches if b) >= 3  # really took >1 batch
        bad = [r for r in rows if r.error_reason]
        assert [r.error_reason for r in bad] == ["malformed purchase line"]
        assert {r.country for r in rows if r.error_reason is None} == {"France"}

    def test_stream_restart_resumes_from_checkpoint(self, spark, tmp_path):
        """A restarted query continues from the committed line offset —
        the replayable-offset property the batch connector can't give."""
        from spark_streaming_invoice_anomaly_detection_spark.sources.pydatasource import (
            register,
        )

        from .test_streaming import _poll

        register(spark)
        p = tmp_path / "replay.csv"
        mk = lambda i: f"10{i:04d},SKU,D,{i},12/1/2010 8:00,1.0,C{i},UK"
        p.write_text("\n".join(mk(i) for i in range(8)) + "\n")

        seen: list = []
        ckpt = str(tmp_path / "ckpt")

        def run():
            return (
                spark.readStream.format("purchase_csv")
                .option("path", str(p))
                .option("maxLinesPerBatch", "5")
                .load()
                .writeStream.outputMode("append")
                .foreachBatch(lambda df, _e: seen.extend(df.collect()))
                .option("checkpointLocation", ckpt)
                .trigger(processingTime="1 seconds")
                .start()
            )

        def n_committed() -> int:
            """Sink rows, counted only once EVERY planned batch is in the
            commit log. foreachBatch runs BEFORE the commit-log write, so
            polling the sink alone races q.stop(): an interrupted commit
            re-delivers its batch on restart (at-least-once, by design —
            observed under heavy parallel load). The exactly-once
            assertion below is licensed by stopping only at a
            fully-committed checkpoint; no new batch can be planned in
            between because the input file is static at that point."""
            import os

            def entries(d):
                path = os.path.join(ckpt, d)
                if not os.path.isdir(path):
                    return None
                return {f for f in os.listdir(path) if not f.startswith(".")}

            off, com = entries("offsets"), entries("commits")
            if not off or off != com:
                return 0
            return len(seen)

        q = run()
        try:
            _poll(n_committed, 8)
        finally:
            q.stop()
        # append more lines while the query is down, then restart
        with open(p, "a") as f:
            f.write("\n".join(mk(i) for i in range(8, 13)) + "\n")
        q = run()
        try:
            _poll(n_committed, 13)
        finally:
            q.stop()
        assert sorted(r.invoice_no for r in seen) == sorted(
            f"10{i:04d}" for i in range(13)
        )  # no re-delivery of the first 8, all 5 appended lines picked up


class TestManifestSink:
    def test_manifest_roundtrip_and_tamper_detection(self, spark, sf_dir, tmp_path):
        import glob
        import os as _os

        from spark_streaming_invoice_anomaly_detection_spark.sources.catalog import (
            load_table,
        )
        from spark_streaming_invoice_anomaly_detection_spark.sources.formats import (
            verify_manifest,
            write_with_manifest,
        )

        nation = load_table(spark, "nation", sf_dir)
        path = str(tmp_path / "nation_manifested")
        # write fragmented so the content hash spans multiple files
        m = write_with_manifest(nation.repartition(4), path)
        assert m["rows"] == nation.count()

        assert verify_manifest(spark, path)["ok"]

        # hash is partitioning-independent: rewrite with different layout
        path2 = str(tmp_path / "nation_other_layout")
        m2 = write_with_manifest(nation.coalesce(1), path2)
        assert m2["content_hash"] == m["content_hash"]

        # tamper: drop one data file -> verification must fail
        victim = sorted(glob.glob(f"{path}/part-*.parquet"))[0]
        _os.remove(victim)
        res = verify_manifest(spark, path)
        assert not res["ok"]
        assert res["actual"]["rows"] < res["expected"]["rows"]


class TestPurchaseReplayStreamTail:
    def test_partial_trailing_line_not_consumed_then_completed(
        self, spark, tmp_path
    ):
        """An unflushed (no-newline) tail line must not be consumed; once
        completed it arrives intact — no corrupted half-record ever
        committed to the offset log."""
        from spark_streaming_invoice_anomaly_detection_spark.sources.pydatasource import (
            register,
        )

        from .test_streaming import _poll

        register(spark)
        p = tmp_path / "replay.csv"
        full = "536365,85123A,OK,6,12/1/2010 8:26,2.55,17850,United Kingdom"
        partial_head = "536366,85123A,OK,7,12/1/2010 8:27,2.55,178"
        p.write_text(full + "\n" + partial_head)  # tail NOT terminated

        out: list = []
        q = (
            spark.readStream.format("purchase_csv")
            .option("path", str(p))
            .load()
            .writeStream.outputMode("append")
            .foreachBatch(lambda df, _e: out.extend(df.collect()))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(processingTime="1 seconds")
            .start()
        )
        try:
            _poll(lambda: len(out), 1)
            assert [r.invoice_no for r in out] == ["536365"]  # tail held back
            with open(p, "a") as f:
                f.write("50,France\n")  # complete the line
            _poll(lambda: len(out), 2)
        finally:
            q.stop()
        done = {r.invoice_no: r for r in out}
        assert done["536366"].customer_id == "17850"  # arrived intact
        assert done["536366"].country == "France"
        assert done["536366"].error_reason is None

    def test_directory_of_producer_chunks(self, spark, tmp_path):
        """readStream over the paced producer's watch-dir layout: sorted
        chunk files consumed in order, late-arriving chunks picked up."""
        from spark_streaming_invoice_anomaly_detection_spark.sources.pydatasource import (
            register,
        )

        from .test_streaming import _poll

        register(spark)
        d = tmp_path / "watch"
        d.mkdir()
        mk = lambda i: f"20{i:04d},SKU,D,{i},12/1/2010 8:00,1.0,C{i},UK\n"
        (d / "chunk-000001.csv").write_text("".join(mk(i) for i in range(4)))
        (d / "chunk-000002.txt").write_text("".join(mk(i) for i in range(4, 6)))
        # stray non-data files must be ignored AND must not shift offsets
        # even though "_manifest.json" sorts before every chunk
        (d / "_manifest.json").write_text('{"not": "data"}')
        (d / "notes.log").write_text("do not ingest\n")

        out: list = []
        q = (
            spark.readStream.format("purchase_csv")
            .option("path", str(d))
            .option("maxLinesPerBatch", "3")
            .load()
            .writeStream.outputMode("append")
            .foreachBatch(lambda df, _e: out.extend(df.collect()))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(processingTime="1 seconds")
            .start()
        )
        try:
            _poll(lambda: len(out), 6)
            (d / "chunk-000003.csv").write_text(mk(6))  # late chunk
            _poll(lambda: len(out), 7)
        finally:
            q.stop()
        assert sorted(r.invoice_no for r in out) == [f"20{i:04d}" for i in range(7)]
