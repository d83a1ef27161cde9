"""Seeded input generator for the benchmark workloads.

Everything here is a pure function of the seed: the same seed lands
byte-identical files, and the generator keeps the expected outcome
(distinct business keys, last entity versions, planted duplicates)
next to the inputs so the checks never ask the program under test
what the answer should be.

Shapes follow the landed REST pages the engine ingests (see
``catalog.schemas``): TikTok orders are nested JSON with ``line_items``
(TPC-H ``lineitem`` shape: 1-7 items per order, a few empty orders),
MISA sale orders carry ``sale_order_product_mappings``, MISA entities
are flat JSON with inferred schemas. Documents follow the ``documents``
table (doc_id, text, lang, source, n_chars) with a 2k-word vocabulary,
so unrelated documents never share an LSH bucket.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random

T0 = dt.datetime(2024, 3, 1, 0, 0, 0)

# Traffic model. Figures marked (BASELINE.md) are the reference's own
# settings; the rest are assumptions, each with its reason, listed in
# perfbench/README.md.
CYCLE_MINUTES = 10  # INCREMENTAL_SCHEDULE_MINUTES (BASELINE.md)
TIKTOK_PAGE = 50  # TikTok search page size (BASELINE.md)
# TIKTOK_DAYS_BACK_BUFFER = 1 day (BASELINE.md): every cycle re-fetches
# every order of the trailing day
TIKTOK_LOOKBACK_CYCLES = 24 * 60 // CYCLE_MINUTES
MISA_PAGES_PER_CYCLE = 2  # MISA_MAX_PAGES_PER_CYCLE (BASELINE.md)
MISA_PAGE = 50  # assumption: the TikTok page size; the MISA value is not recorded
ENDPOINTS = [
    "misa_sale_orders",
    "tiktok_shop_orders",
    "misa_customers",
    "misa_contacts",
    "misa_stocks",
    "misa_products",
]
APPEND_ENDPOINTS = ("misa_sale_orders", "tiktok_shop_orders")
ENTITY_KEY = {
    "misa_customers": "id",
    "misa_contacts": "id",
    "misa_stocks": "stock_code",
    "misa_products": "id",
}
# the column each entity version is written to, checked after the run
ENTITY_VERSION_COL = {
    "misa_customers": "account_name",
    "misa_contacts": "contact_name",
    "misa_stocks": "stock_name",
    "misa_products": "product_name",
}
STAGING_TABLE = {
    "tiktok_shop_orders": "tiktok_shop_order_detail",
    "misa_sale_orders": "misa_sale_orders_flattened",
    "misa_customers": "misa_customers",
    "misa_contacts": "misa_contacts",
    "misa_stocks": "misa_stocks",
    "misa_products": "misa_products",
}

_STATUSES = ["UNPAID", "AWAITING_SHIPMENT", "IN_TRANSIT", "DELIVERED", "COMPLETED"]
_PROVINCES = ["Ha Noi", "Ho Chi Minh", "Da Nang", "Hai Phong", "Can Tho"]
_WORDS = [f"w{i:04d}" for i in range(2000)]


def _ts(t: dt.datetime) -> str:
    return t.strftime("%Y-%m-%d %H:%M:%S")


def write_jsonl(path: str, records: list[dict]) -> int:
    """Write one JSON object per line; returns bytes written."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    data = "".join(json.dumps(r, separators=(",", ":")) + "\n" for r in records)
    with open(path, "w") as f:
        f.write(data)
    return len(data.encode())


# ---------------------------------------------------------------------------
# Record makers
# ---------------------------------------------------------------------------


def _n_items(rng: random.Random) -> int:
    # TPC-H: 1-7 line items per order (mean 4); ~1% of pages carry
    # orders without items, which flatten to one all-NULL item row.
    return 0 if rng.random() < 0.01 else rng.randint(1, 7)


def tiktok_order(rng: random.Random, order_no: int, created: dt.datetime) -> dict:
    ts = int(created.replace(tzinfo=dt.timezone.utc).timestamp())
    items = []
    total = 0.0
    for ln in range(1, _n_items(rng) + 1):
        part = rng.randint(1, 20000)
        qty = rng.randint(1, 50)
        price = round(rng.uniform(900.0, 2100.0), 2)
        total += qty * price
        items.append(
            {
                "product_id": f"P{part}",
                "product_name": f"part {part}",
                "sku_id": f"S{part}-{ln}",
                "quantity": str(qty),
                "unit_price": f"{price:.2f}",
                "currency": "VND",
                "is_gift": "false",
                "platform_discount": "0",
                "seller_discount": f"{rng.randint(0, 10) * price / 100:.2f}",
                "sku_info": {
                    "sku_image": f"https://img.example/{part}.jpg",
                    "sku_name": f"sku {part}/{ln}",
                    "sales_attributes": [
                        {"name": "color", "value": rng.choice(["red", "blue", "green"])}
                    ],
                },
            }
        )
    return {
        "order_id": f"TT{order_no:09d}",
        "order_status": rng.choice(_STATUSES),
        "buyer_message": "",
        "create_time": ts,
        "update_time": ts + rng.randint(0, 3600),
        "fulfillment_type": "FULFILLMENT_BY_SELLER",
        "payment_method": "COD",
        "payment_method_name": "Cash on delivery",
        "warehouse_id": f"WH{rng.randint(1, 5)}",
        "order_amount": {
            "currency": "VND",
            "shipping_fee": "30000",
            "original_total_product_price": f"{total:.2f}",
            "subtotal_after_seller_discounts": f"{total:.2f}",
            "tax_amount": f"{total * 0.1:.2f}",
            "total_amount": f"{total * 1.1:.2f}",
        },
        "recipient_address": {
            "detail": f"{rng.randint(1, 999)} street {rng.randint(1, 99)}",
            "region_code": "VN",
            "state": rng.choice(_PROVINCES),
            "city": rng.choice(_PROVINCES),
            "zipcode": f"{rng.randint(10000, 99999)}",
            "name": f"buyer {rng.randint(1, 15000)}",
            "phone_number": f"09{rng.randint(10000000, 99999999)}",
        },
        "line_items": items,
    }


def tiktok_keys(order: dict) -> list[tuple]:
    if not order["line_items"]:
        return [(order["order_id"], None, None)]
    return [(order["order_id"], i["product_id"], i["sku_id"]) for i in order["line_items"]]


def misa_order(rng: random.Random, order_no: int, created: dt.datetime) -> dict:
    maps = []
    for k in range(_n_items(rng)):
        price = round(rng.uniform(900.0, 2100.0), 2)
        qty = rng.randint(1, 50)
        maps.append(
            {
                "id": order_no * 8 + k,
                "product_code": f"P{rng.randint(1, 20000)}",
                "unit": "pcs",
                "stock_name": f"stock {rng.randint(1, 50)}",
                "description": "",
                "tax_percent": "10",
                "price": f"{price:.2f}",
                "amount": str(qty),
                "total": f"{qty * price:.2f}",
                "discount": "0",
                "tax": f"{qty * price * 0.1:.2f}",
                "discount_percent": "0",
                "is_promotion": False,
            }
        )
    total = sum(float(m["total"]) for m in maps)
    return {
        "id": order_no,
        "sale_order_no": f"SO{order_no:08d}",
        "account_name": f"account {rng.randint(1, 2000)}",
        "status": rng.choice(["Draft", "Confirmed", "Delivered"]),
        "delivery_status": "pending",
        "pay_status": rng.choice(["unpaid", "paid"]),
        "sale_order_amount": f"{total:.2f}",
        "total_summary": f"{total * 1.1:.2f}",
        "tax_summary": f"{total * 0.1:.2f}",
        "discount_summary": "0",
        "exchange_rate": "1",
        "sale_order_date": _ts(created),
        "due_date": _ts(created + dt.timedelta(days=7)),
        "book_date": _ts(created),
        "is_use_currency": False,
        "modified_date": _ts(created),
        "sale_order_product_mappings": maps,
    }


def misa_order_keys(order: dict) -> list[tuple]:
    if not order["sale_order_product_mappings"]:
        return [(order["id"], None)]
    return [(order["id"], m["id"]) for m in order["sale_order_product_mappings"]]


def entity(endpoint: str, key, version: int, when: dt.datetime) -> dict:
    """A flat MISA entity record; ``version`` lands in the checked column."""
    tag = f"v{version}"
    if endpoint == "misa_customers":
        return {
            "id": key,
            "account_number": f"AN{key:06d}",
            "account_code": f"KH{key:06d}",
            "account_name": f"customer {key} {tag}",
            "owner_name": "sales team",
            "office_tel": f"024{key:07d}",
            "office_email": f"c{key}@example.vn",
            "billing_province": _PROVINCES[key % 5],
            "annual_revenue": float(key * 1000 + version),
            "created_date": _ts(T0),
            "modified_date": _ts(when),
        }
    if endpoint == "misa_contacts":
        return {
            "id": key,
            "contact_code": f"LH{key:06d}",
            "account_code": f"KH{key % 2000:06d}",
            "contact_name": f"contact {key} {tag}",
            "first_name": "Van",
            "last_name": f"Nguyen{key}",
            "mobile": f"09{key:08d}",
            "email": f"p{key}@example.vn",
            "total_score": float(version),
            "created_date": _ts(T0),
            "modified_date": _ts(when),
        }
    if endpoint == "misa_stocks":
        return {
            "stock_code": key,
            "stock_name": f"stock {key} {tag}",
            "description": "warehouse",
            "inactive": False,
            "created_date": _ts(T0),
            "modified_date": _ts(when),
        }
    return {
        "id": key,
        "product_code": f"P{key:05d}",
        "product_name": f"product {key} {tag}",
        "product_category": f"cat{key % 12}",
        "usage_unit": "pcs",
        "unit_price": float(1000 + key),
        "purchased_price": float(800 + key),
        "inactive": False,
        "created_date": _ts(T0),
        "modified_date": _ts(when),
    }


def _entity_key(endpoint: str, n: int):
    return f"KHO{n:04d}" if endpoint == "misa_stocks" else n


# ---------------------------------------------------------------------------
# Incremental ELT plan (elt_incremental)
# ---------------------------------------------------------------------------


def _pages(records: list[dict], size: int) -> list[list[dict]]:
    return [records[i : i + size] for i in range(0, len(records), size)]


class IncrementalPlan:
    """History (set-up), a sequence of 10-minute cycles, and one
    historical catch-up load.

    Every cycle runs all six endpoints, as the reference's incremental
    DAG does. What a cycle lands follows the reference's extractors:
    TikTok re-fetches every order of the trailing day, in pages of 50;
    each MISA endpoint returns its two newest pages (newest first);
    ``stocks`` takes no pagination and returns every stock. So most of
    each batch was landed before: replayed order rows are PK-rejected
    and re-fetched entities are upserted unchanged.

    ``HISTORY`` is the state the tables start from; ``CATCHUP`` is an
    older backfill window landed mid-run, which grows the tables to the
    reference's volume estimates (BASELINE.md) so that the later cycles
    run over about ten times the state of the earlier ones.
    """

    HISTORY = {
        "misa_sale_orders": 1_000,
        "tiktok_shop_orders": 500,
        "misa_customers": 500,
        "misa_contacts": 500,
        "misa_products": 100,
        "misa_stocks": 50,
    }
    # added by the catch-up load; MISA totals then match the reference's
    # estimates (~10k sale orders, 2k customers, 5k contacts, 500
    # products, 50 stocks); TikTok volume is an assumption (no figure)
    CATCHUP = {
        "misa_sale_orders": 9_000,
        "tiktok_shop_orders": 2_000,
        "misa_customers": 1_500,
        "misa_contacts": 4_500,
        "misa_products": 400,
    }
    # assumption: new orders per 10-minute cycle (144 TikTok orders a day)
    NEW_ORDERS = {"misa_sale_orders": 2, "tiktok_shop_orders": 1}
    # assumption: entities created and updated per cycle
    ENTITY_CHANGES = {
        "misa_customers": (1, 1),
        "misa_contacts": (1, 1),
        "misa_products": (1, 1),
        "misa_stocks": (0, 1),
    }

    def __init__(self, seed: int):
        self.seed = seed
        self.keys: dict[str, set] = {ep: set() for ep in APPEND_ENDPOINTS}
        # key -> (version, modified), oldest modification first
        self.versions: dict[str, dict] = {ep: {} for ep in ENTITY_KEY}
        self.next_no = {ep: 1 for ep in ENDPOINTS}
        self.recent: dict[str, list[dict]] = {ep: [] for ep in APPEND_ENDPOINTS}
        self.endpoint_runs = 0

    def now(self, cycle: int) -> dt.datetime:
        return T0 + dt.timedelta(minutes=CYCLE_MINUTES * cycle)

    def registry_rows(self) -> list[tuple[str, str, float]]:
        return [
            (ep, "tiktok" if ep.startswith("tiktok") else "misa", CYCLE_MINUTES / 60.0)
            for ep in ENDPOINTS
        ]

    def _new_orders(self, ep: str, rng, n: int, times) -> list[dict]:
        make = tiktok_order if ep == "tiktok_shop_orders" else misa_order
        keys = tiktok_keys if ep == "tiktok_shop_orders" else misa_order_keys
        out = []
        for when in times(n):
            out.append(make(rng, self.next_no[ep], when))
            self.next_no[ep] += 1
        for o in out:
            self.keys[ep].update(keys(o))
        return out

    def _touch(self, ep: str, rng, n_new: int, n_upd: int, when) -> None:
        """Create and update entities at ``when``; a touched key moves to
        the newest end."""
        vers = self.versions[ep]
        keys = rng.sample(sorted(vers, key=str), min(n_upd, len(vers))) if n_upd else []
        for _ in range(n_new):
            keys.append(_entity_key(ep, self.next_no[ep]))
            self.next_no[ep] += 1
        for key in keys:
            v = vers.pop(key, (0, None))[0] + 1
            vers[key] = (v, when)

    def _land(self, root: str, batches: dict[str, list[dict]], page: dict[str, int]) -> dict:
        records = nbytes = 0
        rows: dict[str, int] = {}
        for ep, recs in batches.items():
            d = os.path.join(root, ep)
            os.makedirs(d, exist_ok=True)
            for i, chunk in enumerate(_pages(recs, page.get(ep, len(recs)))):
                nbytes += write_jsonl(os.path.join(d, f"page-{i}.json"), chunk)
            if ep in APPEND_ENDPOINTS:
                items = "line_items" if ep == "tiktok_shop_orders" else "sale_order_product_mappings"
                rows[ep] = sum(max(1, len(r[items])) for r in recs)
            else:
                rows[ep] = len(recs)
            records += len(recs)
        self.endpoint_runs += len(batches)
        return {"records": records, "bytes": nbytes, "rows": rows}

    def _entity_records(self, ep: str, keys) -> list[dict]:
        vers = self.versions[ep]
        return [entity(ep, k, vers[k][0], vers[k][1]) for k in keys]

    def land(self, cycle: int, root: str) -> dict:
        """Land cycle ``cycle`` (0 = history) under ``root``; returns
        {"records", "bytes", "rows"} where rows counts flattened staging
        rows per endpoint (the append kept-ratio base)."""
        rng = random.Random(f"{self.seed}:incremental:{cycle}")
        now = self.now(cycle)
        step = dt.timedelta(minutes=CYCLE_MINUTES)
        misa_window = MISA_PAGE * MISA_PAGES_PER_CYCLE
        batches: dict[str, list[dict]] = {}
        for ep in APPEND_ENDPOINTS:
            if cycle == 0:  # history: one order per cycle interval, ending at T0
                n, times = self.HISTORY[ep], lambda k: (now - step * (k - i) for i in range(k))
            else:
                n = self.NEW_ORDERS[ep]
                times = lambda k: (now - dt.timedelta(seconds=rng.randint(0, 599)) for _ in range(k))
            new = self._new_orders(ep, rng, n, times)
            keep = TIKTOK_LOOKBACK_CYCLES * self.NEW_ORDERS[ep] if ep == "tiktok_shop_orders" else misa_window
            self.recent[ep] = (self.recent[ep] + new)[-keep:]
            batches[ep] = new if cycle == 0 else list(self.recent[ep])
        for ep in ENTITY_KEY:
            n_new, n_upd = (self.HISTORY[ep], 0) if cycle == 0 else self.ENTITY_CHANGES[ep]
            self._touch(ep, rng, n_new, n_upd, now)
            keys = list(self.versions[ep])
            if cycle and ep != "misa_stocks":  # stocks: no pagination, every stock
                keys = keys[-misa_window:]
            batches[ep] = self._entity_records(ep, keys)
        page = {"tiktok_shop_orders": TIKTOK_PAGE}
        if cycle:
            page.update({ep: MISA_PAGE for ep in ENDPOINTS if ep not in page and ep != "misa_stocks"})
        return self._land(root, batches, page)

    def land_catchup(self, root: str) -> dict:
        """Land the historical catch-up window (records older than the
        history, new keys only) under ``root``."""
        rng = random.Random(f"{self.seed}:catchup")
        start = T0 - dt.timedelta(days=400)
        batches: dict[str, list[dict]] = {}
        for ep in APPEND_ENDPOINTS:
            n = self.CATCHUP[ep]
            batches[ep] = self._new_orders(
                ep, rng, n, lambda k: (start + dt.timedelta(minutes=10 * i) for i in range(k))
            )
        for ep, n in self.CATCHUP.items():
            if ep in APPEND_ENDPOINTS:
                continue
            vers = self.versions[ep]
            old = dict(vers)
            vers.clear()
            self._touch(ep, rng, n, 0, start)
            new = list(vers)
            vers.update(old)  # older modifications stay at the oldest end
            batches[ep] = self._entity_records(ep, new)
        return self._land(root, batches, {})


# ---------------------------------------------------------------------------
# Document stream with planted duplicates (stream_dedup)
# ---------------------------------------------------------------------------


class DocStream:
    """Micro-batches of documents. Every batch after the first plants
    exact copies and near copies (5% of words replaced) of documents
    from earlier batches, plus one exact copy of a document of its own
    batch. Planted ids are recorded: exact copies must be dropped,
    the originals (all unique docs) must survive."""

    # assumptions (no reference figure): a 250-doc file per micro-batch,
    # and 10 exact plus 10 near copies per file, so every check sees ten
    # planted cases per batch and the near-dup verify step has work
    BATCH = 250
    EXACT_PER_BATCH = 10
    NEAR_PER_BATCH = 10

    def __init__(self, seed: int):
        self.seed = seed
        self.next_id = 1
        self.unique: dict[int, str] = {}  # id -> text, docs expected to survive
        self.exact: set[int] = set()  # planted exact duplicates
        self.batches = 0

    def _text(self, rng: random.Random) -> str:
        return " ".join(rng.choice(_WORDS) for _ in range(rng.randint(30, 90)))

    def batch(self, n_unique: int | None = None) -> list[dict]:
        rng = random.Random(f"{self.seed}:docs:{self.batches}")
        earlier = sorted(self.unique)
        docs = []
        for _ in range(n_unique or self.BATCH):
            docs.append((self.next_id, self._text(rng)))
            self.next_id += 1
        planted = []
        if earlier:
            for src in rng.sample(earlier, min(self.EXACT_PER_BATCH, len(earlier))):
                planted.append(("exact", self.unique[src]))
            for src in rng.sample(earlier, min(self.NEAR_PER_BATCH, len(earlier))):
                words = self.unique[src].split()
                for i in rng.sample(range(len(words)), max(1, len(words) // 20)):
                    words[i] = rng.choice(_WORDS)
                planted.append(("near", " ".join(words)))
            # one in-batch exact copy: dropped by the within-batch sweep
            planted.append(("exact", docs[0][1]))
        for doc_id, text in docs:
            self.unique[doc_id] = text
        out = list(docs)
        for kind, text in planted:
            if kind == "exact":
                self.exact.add(self.next_id)
            out.append((self.next_id, text))
            self.next_id += 1
        rng.shuffle(out)
        self.batches += 1
        return [
            {
                "doc_id": i,
                "text": t,
                "lang": "en",
                "source": f"src{i % 7}",
                "n_chars": len(t),
            }
            for i, t in out
        ]
