"""P10: erroneous/valid classification of finalized invoices.

Reference precedence (InvoicePipeline.scala:260-289): stored errorReason >
"no purchase lines" > "missing customer ID" > "invalid invoice date" >
"missing country". Valid invoices are the exact complement (:292-312).

The sessionizer already computed the per-line flags, so both sides are pure
column expressions here — one codegen'd CASE WHEN, no re-scan of lines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def reject_reason() -> Column:
    """The first failing check's reason, or null for a valid invoice.

    Building this Column costs tens of Py4J calls on the driver, so a
    caller that classifies every micro-batch builds it once and passes it
    to both functions below."""
    return (
        F.when(F.col("error_reason").isNotNull(), F.col("error_reason"))
        .when(F.col("lines") == 0, "no purchase lines")
        .when(F.col("has_missing_customer"), "missing customer ID")
        .when(F.col("has_invalid_date"), "invalid invoice date")
        .when(F.col("has_missing_country"), "missing country")
        .otherwise(F.lit(None).cast("string"))
    )


def classify_erroneous(invoices: DataFrame, reason: Column | None = None) -> DataFrame:
    """Erroneous stream: ``invoice_no, reason`` (published as
    "<invoiceNo>,<reason>" — InvoicePipeline.scala:384)."""
    reason = reject_reason() if reason is None else reason
    return invoices.select("invoice_no", reason.alias("reason")).filter(
        F.col("reason").isNotNull()
    )


def filter_valid_invoices(
    invoices: DataFrame, reason: Column | None = None
) -> DataFrame:
    """Valid invoices: no stored error, at least one line, all field checks
    pass (InvoicePipeline.scala:292-312)."""
    reason = reject_reason() if reason is None else reason
    return invoices.filter(reason.isNull()).drop(
        "error_reason",
        "has_missing_customer",
        "has_invalid_date",
        "has_missing_country",
    )
