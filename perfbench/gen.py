"""Seeded synthetic inputs for the benchmark.

Two families, both a pure function of ``seed`` (same seed, same bytes):

- ``write_retail_days``: one raw event CSV per day under
  ``{root}/Day_Wise/{date}/event.csv`` — the layout
  ``pipeline.ingest_day`` reads — in the shape FIXTURES.md §A1 gives for
  the reference feed: ~31% NULL ``category_code``, ~13% NULL ``brand``,
  a view/cart/purchase split of ~96/2.2/1.7, 1- to 3-level dotted
  category codes, and catalogue products that reappear on later days
  with a different brand or price.
- ``write_events_table``: an ``events`` parquet table with the schema
  and value distributions of the driver's testdata (uniform event types
  over five values, exponential 2-dp ``value``, 30 days of sorted
  timestamps), which is what the registry's drift/robust-stats/decay
  queries read.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["view", "cart", "purchase"])
EVENT_TYPE_P = np.array([0.961, 0.022, 0.017])
NULL_CATEGORY_P = 0.31
NULL_BRAND_P = 0.13
#: share of a day's distinct products whose brand or price differs from
#: the catalogue (exercises keep-first dedup in dim_product)
VARIANT_P = 0.03

_TOP = ["electronics", "appliances", "computers", "apparel", "furniture",
        "kids", "construction", "auto", "sport", "accessories"]
_MID = ["smartphone", "kitchen", "notebook", "shoes", "living_room",
        "toys", "tools", "accessories", "bicycle", "bag", "audio", "video"]
_LEAF = ["headphone", "refrigerators", "washer", "tv", "light", "sofa",
         "drill", "keyboard", "mouse", "camera"]
_BRANDS = [f"brand{i:03d}" for i in range(400)]

CSV_COLUMNS = ["event_time", "event_type", "product_id", "category_id",
               "category_code", "brand", "price", "user_id", "user_session"]


def _category_codes(rng: np.random.Generator) -> list[str]:
    """A fixed code list with 1-, 2- and 3-level entries."""
    codes = list(_TOP)
    for top in _TOP:
        for mid in rng.choice(_MID, 4, replace=False):
            codes.append(f"{top}.{mid}")
            for leaf in rng.choice(_LEAF, 2, replace=False):
                codes.append(f"{top}.{mid}.{leaf}")
    return codes


class Catalogue:
    """Products shared by every day of one seed."""

    def __init__(self, rng: np.random.Generator, n_products: int):
        codes = np.array(_category_codes(rng), dtype=object)
        self.n = n_products
        self.product_id = 1_000_000 + np.arange(n_products, dtype=np.int64)
        code_idx = rng.integers(0, len(codes), n_products)
        self.category_id = 2_000_000 + code_idx.astype(np.int64)
        code = codes[code_idx]
        code[rng.random(n_products) < NULL_CATEGORY_P] = None
        self.category_code = code
        brand = np.array(_BRANDS, dtype=object)[
            rng.integers(0, len(_BRANDS), n_products)
        ]
        brand[rng.random(n_products) < NULL_BRAND_P] = None
        self.brand = brand
        # cents; log-normal prices around $40, a few expensive items
        self.price_cents = np.maximum(
            1, np.round(rng.lognormal(8.3, 1.2, n_products))
        ).astype(np.int64)


def _sessions(rng: np.random.Generator, n: int) -> pa.Array:
    """uuid4-shaped session ids drawn from ``rng`` (not os.urandom)."""
    raw = rng.integers(0, 256, (n, 16), dtype=np.uint8)
    raw[:, 6] = (raw[:, 6] & 0x0F) | 0x40
    raw[:, 8] = (raw[:, 8] & 0x3F) | 0x80
    digits = np.frombuffer(b"0123456789abcdef", dtype="S1")
    chars = np.empty((n, 36), dtype="S1")
    pos = [i for i in range(36) if i not in (8, 13, 18, 23)]
    nib = np.empty((n, 32), dtype=np.uint8)
    nib[:, 0::2] = raw >> 4
    nib[:, 1::2] = raw & 0x0F
    chars[:, pos] = digits[nib]
    chars[:, [8, 13, 18, 23]] = b"-"
    return pa.array(chars.view("S36").ravel()).cast(pa.string())


def day_table(
    rng: np.random.Generator, cat: Catalogue, date: str, rows: int
) -> pa.Table:
    """One day of raw events, sorted by event_time."""
    # ~2.3 events per distinct product, ~1.1 per user, ~1.08 per session
    prod = rng.integers(0, cat.n, rows)
    category_code = cat.category_code[prod].copy()
    brand = cat.brand[prod].copy()
    price = cat.price_cents[prod].copy()
    # the day's variants: some products carry another brand or price
    # than the catalogue (and than other days) for every event today
    variant = rng.random(cat.n) < VARIANT_P
    new_brand = np.array(_BRANDS, dtype=object)[
        rng.integers(0, len(_BRANDS), cat.n)
    ]
    new_price = np.maximum(
        1, (cat.price_cents * rng.uniform(0.7, 1.3, cat.n)).astype(np.int64)
    )
    vrow = variant[prod]
    half = rng.random(cat.n) < 0.5
    brand_row = vrow & half[prod]
    price_row = vrow & ~half[prod]
    brand[brand_row] = new_brand[prod[brand_row]]
    price[price_row] = new_price[prod[price_row]]

    etype = EVENT_TYPES[rng.choice(3, rows, p=EVENT_TYPE_P)]
    n_users = max(1, int(rows * 0.9))
    user_id = 500_000_000 + rng.integers(0, n_users * 8, rows)
    # every row opens a session, then ~7.5% of rows join an earlier one
    session_idx = np.arange(rows)
    joins = rng.random(rows) < 0.075
    session_idx[joins] = rng.integers(0, rows, int(joins.sum()))
    session = _sessions(rng, rows).take(pa.array(session_idx))

    day0 = dt.datetime.fromisoformat(date).replace(tzinfo=dt.timezone.utc)
    secs = np.sort(rng.integers(0, 86_400, rows))
    ts = (np.datetime64(day0.replace(tzinfo=None), "s")
          + secs.astype("timedelta64[s]"))
    return pa.table({
        "event_time": pa.array(ts, pa.timestamp("s", tz="UTC")),
        "event_type": pa.array(etype, pa.string()),
        "product_id": pa.array(cat.product_id[prod], pa.int64()),
        "category_id": pa.array(cat.category_id[prod], pa.int64()),
        "category_code": pa.array(category_code, pa.string()),
        "brand": pa.array(brand, pa.string()),
        "price": _price_text(price),
        "user_id": pa.array(user_id, pa.int64()),
        "user_session": session,
    })


def write_retail_days(
    root: str, seed: int, dates: list[str], rows_per_day: int
) -> dict[str, int]:
    """Write one CSV per date; returns {date: bytes written}."""
    rng = np.random.default_rng([seed, 1])
    cat = Catalogue(rng, n_products=max(64, rows_per_day // 2))
    sizes = {}
    for date in dates:
        table = day_table(rng, cat, date, rows_per_day)
        path = os.path.join(root, "Day_Wise", date, "event.csv")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pacsv.write_csv(table, path, pacsv.WriteOptions(quoting_style="none"))
        sizes[date] = os.path.getsize(path)
    return sizes


def _price_text(cents: np.ndarray) -> pa.Array:
    """Price in dollars with exactly two decimals, as CSV text."""
    dollars = pc.cast(pa.array(cents // 100), pa.string())
    frac = pc.utf8_lpad(pc.cast(pa.array(cents % 100), pa.string()), 2, "0")
    return pc.binary_join_element_wise(dollars, frac, ".")


# -- registry tables ---------------------------------------------------------

def events_table(rng: np.random.Generator, rows: int) -> pa.Table:
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86_400 * 1_000_000
    ts = start + np.sort(rng.integers(0, span_us, rows)).astype("timedelta64[us]")
    types = np.array(["signup", "purchase", "view", "click", "error"])
    value = np.round(rng.exponential(50.0, rows), 2)
    props = np.char.add(
        np.char.add('{"k": ', rng.integers(0, 100, rows).astype(str)), "}"
    )
    return pa.table({
        "event_id": pa.array(np.arange(rows, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, rows), pa.int64()),
        "event_type": pa.array(types[rng.integers(0, 5, rows)], pa.string()),
        "value": pa.array(value, pa.float64()),
        "props": pa.array(props, pa.string()),
    })


def write_events_table(sf_dir: str, seed: int, rows: int) -> int:
    """``events.parquet`` in one row group, like the driver's testdata;
    returns the bytes written."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(sf_dir, exist_ok=True)
    path = os.path.join(sf_dir, "events.parquet")
    pq.write_table(events_table(rng, rows), path, row_group_size=max(1, rows))
    return os.path.getsize(path)


def day_dates(n: int, start: str = "2019-10-01") -> list[str]:
    d0 = dt.date.fromisoformat(start)
    return [(d0 + dt.timedelta(days=i)).isoformat() for i in range(n)]

