"""S1: batch CSV training loader (reference Clustering.loadData,
Clustering.scala:20-43).

The reference reads the training CSV with ``com.databricks.spark.csv``
(header=true, inferSchema=true) and derives an ``Hour`` double column via
the ``gethour`` UDF (F2, Clustering.scala:24-32). Here the default is an
EXPLICIT schema — at 100 TB, inferSchema means one extra full scan before
the real one — with ``infer_schema=True`` kept as the reference-faithful
opt-in. The hour derivation is the native try_to_timestamp expression
(functions/scalars.extract_hour), not a Python UDF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.scalars import extract_hour, try_double, try_int
from ..schemas import PURCHASE_LINE_RAW


def load_training_csv(
    spark: SparkSession, path: str, infer_schema: bool = False
) -> DataFrame:
    """Training CSV -> typed purchase-line DataFrame with derived ``hour``.

    Output columns: invoice_no, quantity (int), invoice_date (string —
    parsing stays explicit so bad dates become hour=-1.0, not nulls),
    unit_price (double), customer_id, country, hour (double, -1.0 sentinel).

    ``infer_schema=True`` reproduces the reference's dynamic inference
    (Clustering.scala:35-39); the default explicit schema reads the same
    files without the extra inference scan.
    """
    reader = spark.read.option("header", True)
    if infer_schema:
        df = reader.option("inferSchema", True).csv(path)
    else:
        df = reader.schema(PURCHASE_LINE_RAW).csv(path)
    # Under inferSchema, Quantity/UnitPrice may already be numeric and
    # InvoiceDate may have been inferred; cast through string so both modes
    # produce the identical typed frame.
    return df.select(
        F.col("InvoiceNo").cast("string").alias("invoice_no"),
        try_int(F.col("Quantity").cast("string")).alias("quantity"),
        F.col("InvoiceDate").cast("string").alias("invoice_date"),
        try_double(F.col("UnitPrice").cast("string")).alias("unit_price"),
        F.col("CustomerID").cast("string").alias("customer_id"),
        F.col("Country").cast("string").alias("country"),
        extract_hour(F.col("InvoiceDate").cast("string")).alias("hour"),
    )


def load_and_featurize_training_csv(
    spark: SparkSession, path: str, infer_schema: bool = False
) -> DataFrame:
    """The reference's full batch prep: loadData -> featurizeData ->
    filterData (Clustering.scala:20-67) as one call — CSV file in, filtered
    per-invoice feature frame out (ready for ml.clustering.train_detector).
    """
    from ..operators.featurize import featurize_invoices, filter_valid_invoices

    lines = load_training_csv(spark, path, infer_schema)
    return filter_valid_invoices(featurize_invoices(lines))
