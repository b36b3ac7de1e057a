"""Source/sink adapter tests: batch CSV training loader (S1), Kafka option/
wire-format builders (S2/S3, broker-less), paced replay producer (S8),
and the catalog's table-handle cache."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from spark_streaming_invoice_anomaly_detection_spark.sources import catalog
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


class TestTableHandleCache:
    def test_same_handle_same_key(self, spark, sf_dir):
        a = catalog.load_table(spark, "orders", sf_dir)
        b = catalog.load_table(spark, "orders", sf_dir)
        assert a is b  # plan-object reuse, the whole point

    def test_distinct_keys_distinct_handles(self, spark, sf_dir, tmp_path):
        # second sf_dir derived from the fixture via symlink (don't
        # hardcode two dataset paths — the property under test only
        # needs two distinct keys over readable parquet)
        import os

        alt = tmp_path / "alt_sf"
        alt.mkdir()
        os.symlink(
            os.path.join(sf_dir, "orders.parquet"), alt / "orders.parquet"
        )
        a = catalog.load_table(spark, "orders", sf_dir)
        b = catalog.load_table(spark, "orders", str(alt))
        assert a is not b

    def test_no_data_caching(self, spark, sf_dir):
        """The memo must hold LAZY handles only: nothing lands in the
        CacheManager, so every action re-scans parquet."""
        df = catalog.load_table(spark, "orders", sf_dir)
        assert not df.is_cached
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" not in plan


class TestTableCacheEviction:
    def test_stale_application_cache_cleared_on_load(
        self, spark, sf_dir, monkeypatch
    ):
        """Handles cached under another application are never returned:
        the first load under the live application clears them, and the
        fresh handle is then memoized."""
        key = (sf_dir, "orders")
        monkeypatch.setattr(catalog, "_TABLE_CACHE_APP", "app-of-a-stopped-session")
        monkeypatch.setattr(catalog, "_TABLE_CACHE", {key: "sentinel"})
        df = catalog.load_table(spark, "orders", sf_dir)
        assert isinstance(df, DataFrame)
        assert list(catalog._TABLE_CACHE) == [key]
        assert catalog._TABLE_CACHE_APP == spark.sparkContext.applicationId
        assert catalog.load_table(spark, "orders", sf_dir) is df

    def test_shared_handle_not_cached(self, spark, sf_dir):
        """The shared-handle contract: consumers must not persist the
        memoized handle itself — nothing may sit in the CacheManager for
        a bare load_table frame."""
        df = catalog.load_table(spark, "lineitem", sf_dir)
        assert not df.is_cached
