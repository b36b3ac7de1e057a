"""T2: stateful invoice sessionization — the engine's one custom stateful
operator (SURVEY.md §2.4, reference updateInvoiceState at
InvoicePipeline.scala:192-252).

Reference semantics, preserved exactly:

- per-invoice state buffers purchase lines across micro-batches
- a "parse error:" event stores the reason, resets the inactivity clock,
  and DISCARDS goods arriving in the same batch (Scala ``collectFirst``
  match takes the whole-batch branch — :210-219)
- goods append to the buffer and reset the clock (:223-237)
- 2 ticks (2 x 20 s batches) without events => expired; expired state is
  emitted once and dropped (:207-208, :239-246)

The tick is counted in state, as ``updateStateByKey``'s ``ticksSinceUpdate``
was: every update arms a processing-time timeout of half a trigger, so the
next micro-batch finds the group timed out; the timeout call increments
``ticks`` and re-arms, and the invoice is emitted and removed at
``ticks >= expiry_ticks``. New lines or a parse error reset ``ticks`` to 0.
An invoice read in batch n is therefore emitted by batch n + expiry_ticks,
whether the batches run on time or back to back behind overruns. (A batch
that starts less than half a trigger after the previous one, which happens
only when an overrun ends just before a trigger boundary, counts no tick.)
``applyInPandasWithState`` gives exactly-once emission on timeout + removal,
which is precisely the reference's "emit once then drop next batch"
(SURVEY.md §7 hard-point 1). State lives in the state store (RocksDB-able at
scale), partitioned by invoice_no — the same shuffle key the reference's
``updateStateByKey`` used. Like ``updateStateByKey``, every live group is
visited once per micro-batch.

Finalization mirrors ``toInvoice`` (InvoicePipeline.scala:472-492): the
streaming path deliberately uses the FIRST line's hour and customer (batch
uses max(Hour)/first agg — hard-point 3); validation flags are computed over
ALL buffered lines (:269-288) so the downstream cascade needs no re-scan.

Operational note: on Spark 4.1, ``query.processAllAvailable()`` deadlocks
against this operator's processing-time-timeout batches — synchronize by
polling the sink instead (timeout batches fire on their own each trigger;
see tests/test_streaming.py::_poll).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

DEFAULT_TRIGGER_SECONDS = 20  # reference micro-batch (InvoicePipeline.scala:135)
DEFAULT_EXPIRY_TICKS = 2  # ticksSinceUpdate >= 2 (:243)

#: Emitted invoice row: the reference Invoice case class (:35-45) + routing
#: fields (error_reason) + per-line validation flags (:269-288).
EMITTED_SCHEMA = T.StructType(
    [
        T.StructField("invoice_no", T.StringType()),
        T.StructField("avg_unit_price", T.DoubleType()),
        T.StructField("min_unit_price", T.DoubleType()),
        T.StructField("max_unit_price", T.DoubleType()),
        T.StructField("time", T.DoubleType()),
        T.StructField("number_items", T.DoubleType()),
        T.StructField("last_updated", T.LongType()),
        T.StructField("lines", T.IntegerType()),
        T.StructField("customer_id", T.StringType()),
        T.StructField("error_reason", T.StringType()),
        T.StructField("has_missing_customer", T.BooleanType()),
        T.StructField("has_invalid_date", T.BooleanType()),
        T.StructField("has_missing_country", T.BooleanType()),
    ]
)

#: Buffered lines as parallel arrays, the sticky error reason, and the
#: number of micro-batches since the last event.
STATE_SCHEMA = T.StructType(
    [
        T.StructField("quantities", T.ArrayType(T.IntegerType())),
        T.StructField("invoice_dates", T.ArrayType(T.StringType())),
        T.StructField("unit_prices", T.ArrayType(T.DoubleType())),
        T.StructField("customer_ids", T.ArrayType(T.StringType())),
        T.StructField("countries", T.ArrayType(T.StringType())),
        T.StructField("error_reason", T.StringType()),
        T.StructField("ticks", T.IntegerType()),
    ]
)


def make_update_fn(tick_ms: int, expiry_ticks: int):
    """Build the per-group update function: a timeout of ``tick_ms`` counts
    one tick, and ``expiry_ticks`` ticks expire the invoice.

    Everything the Python worker executes is nested here so cloudpickle
    ships it by value — workers never import this package (the hosting
    session doesn't guarantee the engine on their import path).
    """

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import time as _time

        import pandas as _pd

        def extract_hour(date_str):
            # Python twin of extractHour (InvoicePipeline.scala:495-498)
            try:
                return float(date_str.split(" ")[1].split(":")[0])
            except Exception:
                return -1.0

        def is_empty(s):
            return (
                s is None
                or (isinstance(s, float) and _pd.isna(s))
                or s == ""
            )

        def finalize(inv_no, st):
            quantities, dates, prices, customers, countries, err, _ticks = st
            n = len(prices)
            if n:
                row = {
                    "invoice_no": inv_no,
                    "avg_unit_price": sum(prices) / n,
                    "min_unit_price": min(prices),
                    "max_unit_price": max(prices),
                    "time": extract_hour(dates[0]),
                    "number_items": float(sum(quantities)),
                    "last_updated": int(_time.time() * 1000),
                    "lines": n,
                    "customer_id": customers[0],
                    "error_reason": err,
                    "has_missing_customer": any(is_empty(c) for c in customers),
                    "has_invalid_date": any(extract_hour(d) < 0 for d in dates),
                    "has_missing_country": any(is_empty(c) for c in countries),
                }
            else:  # only parse-error events ever arrived
                row = {
                    "invoice_no": inv_no,
                    "avg_unit_price": None,
                    "min_unit_price": None,
                    "max_unit_price": None,
                    "time": None,
                    "number_items": None,
                    "last_updated": int(_time.time() * 1000),
                    "lines": 0,
                    "customer_id": None,
                    "error_reason": err,
                    "has_missing_customer": False,
                    "has_invalid_date": False,
                    "has_missing_country": False,
                }
            return _pd.DataFrame([row])

        (invoice_no,) = key

        if state.hasTimedOut:
            # one more micro-batch without events (reference :239-246)
            st = state.get
            ticks = st[6] + 1
            if ticks >= expiry_ticks:
                # expired: emit exactly once, then drop (reference :207-208)
                yield finalize(invoice_no, st)
                state.remove()
            else:
                state.update((*st[:6], ticks))
                state.setTimeoutDuration(tick_ms)
            return

        # Hot path: runs once per group with events in the batch (about
        # 1,000 groups a batch in perfbench's stream_paced), so per-group
        # pandas overhead is the engine's own share of the stateful cost.
        # Single-chunk batches skip the concat, and the no-error case
        # (overwhelmingly common) skips the second mask/filter entirely.
        chunks = list(pdfs)
        batch = (
            chunks[0]
            if len(chunks) == 1
            else _pd.concat(chunks, ignore_index=True)
        )
        prev = state.get if state.exists else ([], [], [], [], [], None)
        quantities, dates, prices, customers, countries, error_reason = (
            list(prev[0]),
            list(prev[1]),
            list(prev[2]),
            list(prev[3]),
            list(prev[4]),
            prev[5],
        )

        err_na = batch["error_reason"].isna()
        if not err_na.all():
            # parse error wins the batch: record reason, reset clock,
            # discard this batch's goods (reference :210-219)
            error_reason = str(batch["error_reason"][~err_na].iloc[0])
        else:
            # every row is a good line: the batch IS the goods frame
            quantities += [int(q) for q in batch["quantity"].tolist()]
            dates += batch["invoice_date"].tolist()
            prices += [float(p) for p in batch["unit_price"].tolist()]
            customers += [
                None if _pd.isna(c) else str(c)
                for c in batch["customer_id"].tolist()
            ]
            countries += [
                None if _pd.isna(c) else str(c)
                for c in batch["country"].tolist()
            ]

        state.update(
            (quantities, dates, prices, customers, countries, error_reason, 0)
        )
        state.setTimeoutDuration(tick_ms)
        return

    return update


def sessionize_invoices(
    events: DataFrame,
    trigger_seconds: int = DEFAULT_TRIGGER_SECONDS,
    expiry_ticks: int = DEFAULT_EXPIRY_TICKS,
) -> DataFrame:
    """Keyed purchase/error events -> stream of finalized invoices.

    ``events`` must carry the PURCHASE columns (parse.route_events output).
    Emits one row per invoice in the ``expiry_ticks``-th micro-batch after
    the last one that brought it an event.
    """
    return events.groupBy("invoice_no").applyInPandasWithState(
        make_update_fn(trigger_seconds * 500, expiry_ticks),  # half a trigger, ms
        outputStructType=EMITTED_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )
