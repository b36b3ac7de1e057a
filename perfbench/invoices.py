"""Seeded purchase-line generator in the reference's wire format, plus the
outcome each generated invoice must reach in the pipeline's sinks.

A line is ``InvoiceNo,StockCode,Description,Quantity,InvoiceDate,UnitPrice,
CustomerID,Country``. Every invoice is one category, so its expected
outcome follows from its own lines alone:

- ``ok``      clean lines; scored by both detectors
- ``cancel``  ``C``-prefixed number; delivered to the cancellations sink
- ``outlier`` one line priced far above the rest; scored like ``ok``
- ``nocust``  empty CustomerID on every line -> "missing customer ID"
- ``badqty``  one non-integer Quantity -> "parse error: invalid quantity"

Malformed and empty lines ride between invoices; the parser drops them.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

_WORDS = (
    "HEART LANTERN WHITE METAL CREAM CUPID HEARTS COAT HANGER KNITTED UNION "
    "FLAG HOT WATER BOTTLE RED WOOLLY HOTTIE SET OF 6 TEA TIME PAPER CHAIN "
    "KIT VINTAGE CHRISTMAS GLASS STAR FROSTED BABUSHKA LIGHTS STRING ALARM "
    "CLOCK BAKELIKE PINK GREEN IVORY JUMBO BAG RETROSPOT LUNCH BOX"
).split()
_COUNTRIES = (
    "United Kingdom", "France", "Germany", "EIRE", "Spain", "Netherlands",
    "Belgium", "Switzerland", "Portugal", "Australia",
)
_NON_INT_QTY = ("2.5", "1,5", "six", "3x")

#: Share of invoices per category (the rest are ``ok``).
MIX = {"cancel": 0.02, "outlier": 0.005, "nocust": 0.01, "badqty": 0.002}
#: Share of emitted lines that are malformed (fewer than 8 fields) or empty.
JUNK_LINE_SHARE = 0.001


@dataclass
class Invoice:
    invoice_no: str
    category: str
    lines: list[str]
    prices: list[float] = field(default_factory=list)
    quantities: list[int] = field(default_factory=list)
    hour: float = 0.0
    bad_qty: str | None = None

    @property
    def reason(self) -> str | None:
        """The erroneous sink's reason for this invoice, or None if valid."""
        if self.category == "badqty":
            return f"parse error: invalid quantity '{self.bad_qty}'"
        if self.category == "nocust":
            return "missing customer ID"
        return None

    def features(self) -> tuple[float, float, float, float, float]:
        """(avg, min, max, first line's hour, item count), as the
        sessionizer's finalize computes them."""
        p = self.prices
        return (sum(p) / len(p), min(p), max(p), self.hour, float(sum(self.quantities)))


def _description(rng: random.Random) -> str:
    words = " ".join(rng.choice(_WORDS) for _ in range(rng.randint(2, 5)))
    if rng.random() < 0.1:  # quoted field with a comma inside
        return f'"{words}, {rng.choice(_WORDS)}"'
    return words


def make_invoices(
    seed: int,
    n_invoices: int,
    lines_per_invoice: int = 5,
    first_no: int = 500000,
    mix: dict[str, float] | None = None,
) -> list[Invoice]:
    """``n_invoices`` invoices of about ``lines_per_invoice`` lines each."""
    rng = random.Random(seed)
    mix = MIX if mix is None else mix
    out = []
    lo, hi = max(1, lines_per_invoice // 2), lines_per_invoice * 3 // 2
    for i in range(n_invoices):
        r, category, acc = rng.random(), "ok", 0.0
        for name, share in mix.items():
            acc += share
            if r < acc:
                category = name
                break
        no = str(first_no + i)
        inv = Invoice(no if category != "cancel" else "C" + no, category, [])
        n = rng.randint(lo, hi)
        hour = rng.randint(7, 19)
        inv.hour = float(hour)
        date = f"{rng.randint(1, 12)}/{rng.randint(1, 28)}/2011 {hour}:{rng.randint(0, 59):02d}"
        customer = "" if category == "nocust" else str(rng.randint(12346, 18287))
        country = rng.choice(_COUNTRIES)
        bad_at = rng.randrange(n) if category == "badqty" else -1
        spike_at = rng.randrange(n) if category == "outlier" else -1
        for j in range(n):
            qty = rng.randint(1, 24) * (-1 if category == "cancel" else 1)
            price = round(rng.uniform(0.29, 12.75), 2)
            if j == spike_at:
                price = round(rng.uniform(800.0, 4000.0), 2)
            qty_text = str(qty)
            if j == bad_at:
                qty_text = inv.bad_qty = rng.choice(_NON_INT_QTY)
                qty_text = f'"{qty_text}"' if "," in qty_text else qty_text
            else:
                inv.quantities.append(qty)
                inv.prices.append(price)
            stock = f"{rng.randint(20000, 90000)}{rng.choice(['', 'A', 'B'])}"
            inv.lines.append(
                f"{inv.invoice_no},{stock},{_description(rng)},{qty_text},"
                f"{date},{price},{customer},{country}"
            )
        out.append(inv)
    return out


def stream_lines(seed: int, invoices: list[Invoice]) -> list[tuple[str, int]]:
    """Invoice lines in order with junk lines between invoices, each paired
    with the index of the invoice it belongs to (-1 for junk)."""
    rng = random.Random(seed + 7919)
    out: list[tuple[str, int]] = []
    for idx, inv in enumerate(invoices):
        if rng.random() < JUNK_LINE_SHARE * len(inv.lines):
            out.append(("" if rng.random() < 0.3 else "MALFORMED,LINE", -1))
        out.extend((line, idx) for line in inv.lines)
    return out


def training_csv(seed: int, n_invoices: int, path: str) -> None:
    """A clean training CSV: no cancellations, no missing customers and no
    non-integer Quantity (a null ``number_items`` would fail the
    VectorAssembler)."""
    invoices = make_invoices(
        seed, n_invoices, first_no=100000, mix={"outlier": 0.005}
    )
    with open(path, "w") as f:
        f.write("InvoiceNo,StockCode,Description,Quantity,InvoiceDate,UnitPrice,CustomerID,Country\n")
        for inv in invoices:
            f.write("\n".join(inv.lines))
            f.write("\n")
