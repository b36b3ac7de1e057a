"""T2: stateful invoice sessionization — the engine's one custom stateful
operator (SURVEY.md §2.4, reference updateInvoiceState at
InvoicePipeline.scala:192-252).

Reference semantics, preserved exactly:

- per-invoice state accumulates purchase lines across micro-batches
- a "parse error:" event stores the reason, resets the inactivity clock,
  and DISCARDS goods arriving in the same batch (Scala ``collectFirst``
  match takes the whole-batch branch — :210-219)
- goods fold into the invoice and reset the clock (:223-237)
- 2 ticks (2 x 20 s batches) without events => expired; expired state is
  emitted once and dropped (:207-208, :239-246)

State is keyed by a fixed hash bucket of the invoice number,
``pmod(xxhash64(invoice_no), BUCKETS)``, not by invoice: one Python call
per bucket per micro-batch instead of one per live invoice, whose
framework cost (state pickle, Arrow -> pandas columns, one state frame per
group) dominated the tick batches. ``BUCKETS`` is a constant, not a
setting, so an invoice keeps its bucket across a restart from the
checkpoint. A bucket's state row holds its live invoices as parallel
arrays of constant-size aggregates (``STATE_SCHEMA``) plus the processing
time of the bucket's last visit.

The tick is counted per invoice, as ``updateStateByKey``'s
``ticksSinceUpdate`` was. Every visit re-arms a processing-time timeout of
half a trigger, so the next micro-batch visits the bucket whether or not
it brings lines. A visit at least half a trigger after the previous one
adds one tick to every live invoice; invoices with lines or a parse error
in this batch reset to 0; invoices at ``ticks >= expiry_ticks`` are
emitted and dropped. An invoice read in batch n is therefore emitted by
batch n + expiry_ticks, whether the batches run on time or back to back
behind overruns. (A batch that starts less than half a trigger after the
previous one, which happens only when an overrun ends just before a
trigger boundary, counts no tick.) The emitted rows leave the state in
the same call, which is the reference's "emit once then drop"
(SURVEY.md §7 hard-point 1). State lives in the state store (RocksDB-able
at scale); like ``updateStateByKey``, every live invoice is visited once
per micro-batch.

Finalization mirrors ``toInvoice`` (InvoicePipeline.scala:472-492): the
streaming path deliberately uses the FIRST line's hour and customer, nulls
included (batch uses max(Hour)/first agg — hard-point 3); validation flags
are ORed over ALL lines (:269-288) so the downstream cascade needs no
re-scan.

Operational note: on Spark 4.1, ``query.processAllAvailable()`` deadlocks
against this operator's processing-time-timeout batches — synchronize by
polling the sink instead (timeout batches fire on their own each trigger;
see tests/test_streaming.py::_poll).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

DEFAULT_TRIGGER_SECONDS = 20  # reference micro-batch (InvoicePipeline.scala:135)
DEFAULT_EXPIRY_TICKS = 2  # ticksSinceUpdate >= 2 (:243)

#: State keys: invoices hash into this many buckets. Changing it re-homes
#: invoices, so a checkpoint written with another value cannot be resumed.
BUCKETS = 64

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


#: One bucket's live invoices as parallel arrays (index i is one invoice:
#: its line count, price sum/min/max, quantity sum, first line's hour and
#: customer, the three any-missing flags, the sticky error reason and the
#: micro-batches since its last event), plus the last visit's processing
#: time.
STATE_SCHEMA = T.StructType(
    [
        T.StructField(name, T.ArrayType(t))
        for name, t in (
            ("invoice_nos", T.StringType()),
            ("lines", T.IntegerType()),
            ("price_sums", T.DoubleType()),
            ("price_mins", T.DoubleType()),
            ("price_maxs", T.DoubleType()),
            ("quantity_sums", T.LongType()),
            ("first_hours", T.DoubleType()),
            ("first_customers", T.StringType()),
            ("missing_customer", T.BooleanType()),
            ("invalid_date", T.BooleanType()),
            ("missing_country", T.BooleanType()),
            ("error_reasons", T.StringType()),
            ("ticks", T.IntegerType()),
        )
    ]
    + [T.StructField("visited_ms", T.LongType())]
)


def make_update_fn(tick_ms: int, expiry_ticks: int):
    """Build the per-bucket update function: a visit ``tick_ms`` or more
    after the previous one counts one tick, and ``expiry_ticks`` ticks
    expire an invoice.

    Everything the Python worker executes is nested here so cloudpickle
    ships it by value — workers never import this package (the hosting
    session doesn't guarantee the engine on their import path).
    """
    n_arrays = len(STATE_SCHEMA) - 1
    # a new invoice's entries after its number: no lines, no flags, no error
    blank = (0, 0.0, None, None, 0, None, None, False, False, False, None, 0)

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

        def text(v):
            return None if v is None or v != v else str(v)  # NaN != NaN

        now = state.getCurrentProcessingTimeMs()
        if state.exists:
            *arrays, visited_ms = state.get
            arrays = [list(a) for a in arrays]
            # a timed-out call is always tick_ms or more after the last
            tick = now - visited_ms >= tick_ms
        else:
            arrays, tick = [[] for _ in range(n_arrays)], False
        (nos, lines, p_sum, p_min, p_max, q_sum, first_hour, first_cust,
         miss_cust, bad_date, miss_country, errors, ticks) = arrays
        if tick:
            ticks[:] = [t + 1 for t in ticks]

        if not state.hasTimedOut:
            cols = {c: [] for c in ("invoice_no", "quantity", "invoice_date",
                                    "unit_price", "customer_id", "country",
                                    "error_reason")}
            for pdf in pdfs:
                for c, acc in cols.items():
                    acc += pdf[c].tolist()
            slot = {no: i for i, no in enumerate(nos)}

            def touch(no):
                i = slot.get(no)
                if i is None:
                    i = slot[no] = len(nos)
                    nos.append(no)
                    for a, v in zip(arrays[1:], blank):
                        a.append(v)
                ticks[i] = 0
                return i

            # a parse error wins its invoice's batch: the first reason is
            # kept and that invoice's goods in this batch are discarded
            # (reference :210-219)
            erred = set()
            for no, err in zip(cols["invoice_no"], cols["error_reason"]):
                if no not in erred and text(err) is not None:
                    erred.add(no)
                    errors[touch(no)] = str(err)
            for no, q, d, p, c, ctry in zip(
                cols["invoice_no"], cols["quantity"], cols["invoice_date"],
                cols["unit_price"], cols["customer_id"], cols["country"],
            ):
                if no in erred:
                    continue
                i, p, h = touch(no), float(p), extract_hour(d)
                if lines[i]:
                    # sequential in line order, as sum/min/max over the
                    # invoice's whole line list
                    p_sum[i] += p
                    if p < p_min[i]:
                        p_min[i] = p
                    if p > p_max[i]:
                        p_max[i] = p
                else:
                    p_sum[i], p_min[i], p_max[i] = p, p, p
                    first_hour[i], first_cust[i] = h, text(c)
                lines[i] += 1
                q_sum[i] += int(q)
                miss_cust[i] = miss_cust[i] or not text(c)
                bad_date[i] = bad_date[i] or h < 0
                miss_country[i] = miss_country[i] or not text(ctry)

        # expired: emit exactly once, then drop (reference :207-208)
        done = [i for i, t in enumerate(ticks) if t >= expiry_ticks]
        if done:
            stamp = int(_time.time() * 1000)
            yield _pd.DataFrame(
                {
                    "invoice_no": [nos[i] for i in done],
                    "avg_unit_price": [
                        p_sum[i] / lines[i] if lines[i] else None for i in done
                    ],
                    "min_unit_price": [p_min[i] for i in done],
                    "max_unit_price": [p_max[i] for i in done],
                    "time": [first_hour[i] for i in done],
                    "number_items": [
                        float(q_sum[i]) if lines[i] else None for i in done
                    ],
                    "last_updated": [stamp] * len(done),
                    "lines": [lines[i] for i in done],
                    "customer_id": [first_cust[i] for i in done],
                    "error_reason": [errors[i] for i in done],
                    "has_missing_customer": [miss_cust[i] for i in done],
                    "has_invalid_date": [bad_date[i] for i in done],
                    "has_missing_country": [miss_country[i] for i in done],
                }
            )
            live = [i for i, t in enumerate(ticks) if t < expiry_ticks]
            arrays = [[a[i] for i in live] for a in arrays]

        if arrays[0]:
            state.update((*arrays, now))
            state.setTimeoutDuration(tick_ms)
        else:
            state.remove()

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
    bucket = F.pmod(F.xxhash64("invoice_no"), F.lit(BUCKETS))
    return (
        events.withColumn("bucket", bucket)
        .groupBy("bucket")
        .applyInPandasWithState(
            make_update_fn(trigger_seconds * 500, expiry_ticks),  # half a trigger, ms
            outputStructType=EMITTED_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )
