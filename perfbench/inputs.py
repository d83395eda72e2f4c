"""Seeded inputs for the data-bound workloads, and their ledgers.

The ledgers are computed here, from the reference ETL's rules, without
graft: they are what the benchmark checks graft's outputs against.

- ``make_orders``: Square-style order JSON for ``monthly-etl``.
- ``make_corpus``: the 10x disjoint-copy documents corpus for ``curate-10x``.
"""
import datetime
import json
import os
import random
import re
import string
from zoneinfo import ZoneInfo

import pyarrow as pa
import pyarrow.parquet as pq

CHICAGO = ZoneInfo("America/Chicago")
UTC = datetime.timezone.utc

# EtlPipeline.builtinLocations: internal id -> Square location id
LOCATIONS = {1: "LWRIG000000001", 2: "L5WST6KFZBT10", 3: "LSOUT000000003"}
UNKNOWN_LOCATION = "LUNKNOWN000009"
# the input spans these Chicago months; the load reads the middle one
MONTHS = ["2025-10", "2025-11", "2025-12"]
WINDOW_MONTH = "2025-11"

ORDERS = 100_000
# the warm-up's own input: same generator, other seed and months
WARM_ORDERS = 40_000
WARM_MONTHS = ["2020-01", "2020-02", "2020-03"]
ORDER_FILES = 8
REPLACEMENT_ORDERS = 4_000
REPLACEMENT_FILES = 4

MENU = [("Latte", "16 oz", 565), ("Latte", "12 oz", 475), ("Mocha", "16 oz", 625),
        ("Drip", "12 oz", 225), ("Espresso", "2 oz", 350), ("Cortado", "6 oz", 400),
        ("Croissant", "Plain", 350), ("Croissant", "Almond", 425),
        ("Scone", "Blueberry", 375), ("Muffin", "Bran", 325), ("Bagel", None, 300),
        ("Iced Tea", "20 oz", 325), ("Chai", "16 oz", 495), ("Cookie", None, 250)]
IGNORED = ["Dine In", "To Go", "Free Water", "dine in please"]
MODIFIERS = [("Almond Milk", 100), ("Oat Milk", 100), ("Extra Shot", 125),
             ("Whipped Cream", 0), ("Vanilla", 75)]
BAD_QTY = ["two", "N/A", "", "1x"]

# Fixed shares, by position: every 50th order is a malformed line, every
# 50th (offset) lacks closed_at; every 25th line item has an ignored name,
# every 20th a zero price, every 40th a non-numeric quantity.
MALFORMED_EVERY, NO_CLOSE_EVERY = 50, 50
IGNORED_EVERY, ZERO_PRICE_EVERY, BAD_QTY_EVERY = 25, 20, 40


def _month_bounds(month):
    y, m = map(int, month.split("-"))
    lo = datetime.datetime(y, m, 1, tzinfo=CHICAGO)
    hi = datetime.datetime(y + (m == 12), m % 12 + 1, 1, tzinfo=CHICAGO)
    return lo.timestamp(), hi.timestamp()


def _closed_at(rng, months):
    lo, hi = _month_bounds(months[0])[0], _month_bounds(months[-1])[1]
    t = rng.uniform(lo, hi - 1)
    dt = datetime.datetime.fromtimestamp(t, UTC)
    return dt.strftime("%Y-%m-%dT%H:%M:%S.") + f"{dt.microsecond // 1000:03d}Z", dt


def _close_synced(f):
    """Closes a generated file after flushing it to disk, so the kernel's
    write-back of the input does not land in the timed section."""
    f.flush()
    os.fsync(f.fileno())
    f.close()


def _money(amount):
    return {"amount": amount, "currency": "USD"}


class _Items:
    """Line-item generator; the fixed shares follow a global item counter."""

    def __init__(self, rng):
        self.rng = rng
        self.n = 0

    def item(self):
        """Returns (json item, (qty, cents) if the reference keeps it else None)."""
        rng, i = self.rng, self.n
        self.n += 1
        name, variation, price = rng.choice(MENU)
        if i % IGNORED_EVERY == 3:
            name, variation = rng.choice(IGNORED), "N/A"
        if i % ZERO_PRICE_EVERY == 7:
            price = 0
        qty = rng.randint(1, 4)
        qty_s = str(qty)
        if i % BAD_QTY_EVERY == 11:
            qty_s = rng.choice(BAD_QTY)
        mods = [(m, a) for m, a in rng.sample(MODIFIERS, rng.randint(0, 2))]
        gross = (price + sum(a for _, a in mods)) * qty
        li = {"name": name, "variation_name": variation, "quantity": qty_s,
              "base_price_money": _money(price), "gross_sales_money": _money(gross)}
        if mods:
            li["modifiers"] = [{"name": m, "base_price_money": _money(a)} for m, a in mods]
        keep = (price > 0 and not any(p in name.lower() for p in ("dine in", "to go", "free water"))
                and qty_s.isdigit() and int(qty_s) > 0 and gross >= 0)
        return li, ((int(qty_s), gross) if keep else None)


def _order(rng, items, oid, location, months, no_close=False):
    """One order document and its kept rows [(qty, cents)] with its Chicago month."""
    doc = {"id": oid, "location_id": location, "state": "COMPLETED"}
    month = None
    if not no_close:
        doc["closed_at"], dt = _closed_at(rng, months)
        month = dt.astimezone(CHICAGO).strftime("%Y-%m")
    lis, kept = [], []
    for _ in range(rng.randint(1, 4)):
        li, k = items.item()
        lis.append(li)
        if k:
            kept.append(k)
    doc["line_items"] = lis
    return doc, month, kept


def make_orders(seed, out_dir, orders=ORDERS, months=MONTHS, window=WINDOW_MONTH):
    """Writes ``orders/part-*.jsonl``, ``replacement/part-*.jsonl`` and
    ``inputs.properties`` under ``out_dir``; returns the ledger."""
    rng = random.Random(f"orders-{seed}")
    items = _Items(rng)
    os.makedirs(os.path.join(out_dir, "orders"), exist_ok=True)
    files = [open(os.path.join(out_dir, "orders", f"part-{k}.jsonl"), "w")
             for k in range(ORDER_FILES)]
    ledger = {"orders": 0, "rejected_orders": 0, "unknown_location_rows": 0,
              "quarantined_rows": 0, "rows_written": 0}
    slices = {}
    locs = list(LOCATIONS.items())
    for i in range(orders):
        f = files[i % ORDER_FILES]
        if i % MALFORMED_EVERY == 17:
            f.write('{"id": "bad%d", "location_id": "%s", "line_items": [\n' % (i, locs[0][1]))
            ledger["rejected_orders"] += 1
            continue
        unknown = rng.random() < 0.05
        loc_id, square = (None, UNKNOWN_LOCATION) if unknown else rng.choice(locs)
        doc, month, kept = _order(rng, items, f"o{seed}-{i}", square, months,
                                  no_close=(i % NO_CLOSE_EVERY == 29))
        f.write(json.dumps(doc, separators=(",", ":")) + "\n")
        if month is None:
            ledger["rejected_orders"] += 1
        elif month == window:
            ledger["orders"] += 1
            if unknown:
                ledger["unknown_location_rows"] += len(kept)
            else:
                ledger["rows_written"] += len(kept)
                s = slices.setdefault(f"{loc_id}/{month}", [0, 0, 0])
                for q, c in kept:
                    s[0] += 1
                    s[1] += q
                    s[2] += c
    for f in files:
        _close_synced(f)

    # the backfill: regenerated orders for one (location, month) slice
    backfill_loc = rng.choice(sorted(LOCATIONS))
    repl = [0, 0, 0]
    os.makedirs(os.path.join(out_dir, "replacement"))
    files = [open(os.path.join(out_dir, "replacement", f"part-{k}.jsonl"), "w")
             for k in range(REPLACEMENT_FILES)]
    for i in range(REPLACEMENT_ORDERS):
        doc, _, kept = _order(rng, items, f"r{seed}-{i}", LOCATIONS[backfill_loc], [window])
        files[i % REPLACEMENT_FILES].write(json.dumps(doc, separators=(",", ":")) + "\n")
        for q, c in kept:
            repl[0] += 1
            repl[1] += q
            repl[2] += c
    for f in files:
        _close_synced(f)
    with open(os.path.join(out_dir, "inputs.properties"), "w") as f:
        f.write(f"month={window}\nbackfill_location={backfill_loc}\n")
    return {"stats": ledger, "slices": slices, "input_orders": orders,
            "backfill": {"slice": f"{backfill_loc}/{window}", "rows": repl}}


COPIES = 10


def copy_salts(seed, texts):
    """One salt per copy from 1 up: four lowercase letters, distinct, and
    not the ending of any token of the base corpus, so a salted token can
    never equal a token of another copy."""
    rng = random.Random(f"salt-{seed}")
    endings = {t.lower()[-4:] for x in texts if x for t in x.split()}
    salts = []
    while len(salts) < COPIES - 1:
        s = "".join(rng.choice(string.ascii_lowercase) for _ in range(4))
        if s not in salts and s not in endings:
            salts.append(s)
    return salts


def make_corpus(seed, base_parquet, out_path):
    """The 10x disjoint-copy corpus: copy c shifts doc ids by c*(max+1)
    and, from copy 1 up, appends copy c's salt to every token."""
    base = pq.read_table(base_parquet)
    cols = base.to_pydict()
    stride = max(cols["doc_id"]) + 1
    salts = copy_salts(seed, cols["text"])
    out = {k: [] for k in cols}
    for c in range(COPIES):
        for i, text in enumerate(cols["text"]):
            if c > 0 and text is not None:
                text = re.sub(r"\S+", lambda m: m.group(0) + salts[c - 1], text)
            out["doc_id"].append(cols["doc_id"][i] + c * stride)
            out["text"].append(text)
            out["lang"].append(cols["lang"][i])
            out["source"].append(cols["source"][i])
            out["n_chars"].append(len(text) if text is not None else None)
    pq.write_table(pa.table(out, schema=base.schema), out_path)
    return {"docs": len(out["doc_id"]), "stride": stride}
