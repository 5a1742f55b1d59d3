"""Pins the benchmark's input generator: same seed, same bytes; and the
FIXTURES.md §A1 shape. Run with ``python -m pytest perfbench/test_gen.py``."""

from __future__ import annotations

import hashlib
import os
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402

DATES = gen.day_dates(3)
ROWS = 16_000


def _digests(root: str) -> dict[str, str]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            path = os.path.join(dirpath, f)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


@pytest.fixture(scope="module")
def days(tmp_path_factory):
    root = tmp_path_factory.mktemp("raw")
    gen.write_retail_days(str(root), 11, DATES, ROWS)
    return root, {
        d: pd.read_csv(root / "Day_Wise" / d / "event.csv", dtype={"price": str})
        for d in DATES
    }


def test_same_seed_same_bytes(tmp_path):
    for sub in ("a", "b"):
        gen.write_retail_days(str(tmp_path / sub), 5, DATES[:2], 2_000)
        gen.write_events_table(str(tmp_path / sub / "tables"), 5, 3_000)
    assert _digests(tmp_path / "a") == _digests(tmp_path / "b")
    gen.write_retail_days(str(tmp_path / "c"), 6, DATES[:2], 2_000)
    assert _digests(tmp_path / "c") != {
        k: v for k, v in _digests(tmp_path / "a").items() if k.startswith("Day_Wise")
    }


def test_columns_and_row_counts(days):
    _, frames = days
    for df in frames.values():
        assert list(df.columns) == gen.CSV_COLUMNS
        assert len(df) == ROWS


def test_null_rates(days):
    df = pd.concat(days[1].values())
    assert df["category_code"].isna().mean() == pytest.approx(0.31, abs=0.03)
    assert df["brand"].isna().mean() == pytest.approx(0.13, abs=0.03)
    assert df[["event_time", "event_type", "product_id", "price", "user_id"]].notna().all().all()


def test_event_type_split(days):
    share = pd.concat(days[1].values())["event_type"].value_counts(normalize=True)
    assert share["view"] == pytest.approx(0.961, abs=0.01)
    assert share["cart"] == pytest.approx(0.022, abs=0.005)
    assert share["purchase"] == pytest.approx(0.017, abs=0.005)


def test_category_levels(days):
    levels = pd.concat(days[1].values())["category_code"].dropna().str.count(r"\.") + 1
    assert {1, 3} <= set(levels)
    assert levels.max() == 3


def test_prices_have_two_decimals(days):
    price = pd.concat(days[1].values())["price"]
    assert price.str.fullmatch(r"\d+\.\d\d").all()


def test_products_repeat_with_changed_attributes(days):
    frames = days[1]
    a, b = frames[DATES[0]], frames[DATES[1]]
    shared = set(a["product_id"]) & set(b["product_id"])
    assert len(shared) > 1000

    def attrs(df):
        return df.drop_duplicates("product_id").set_index("product_id")[["brand", "price"]]

    pa, pb = attrs(a).loc[sorted(shared)], attrs(b).loc[sorted(shared)]
    changed = (pa["brand"].fillna("") != pb["brand"].fillna("")) | (pa["price"] != pb["price"])
    assert changed.sum() > 10


def test_events_table_matches_testdata_schema(tmp_path):
    import pyarrow.parquet as pq

    gen.write_events_table(str(tmp_path), 3, 5_000)
    events = pq.ParquetFile(tmp_path / "events.parquet")
    assert events.metadata.num_row_groups == 1
    assert events.metadata.num_rows == 5_000
    assert [f.name for f in events.schema_arrow] == [
        "event_id", "ts", "user_id", "event_type", "value", "props"
    ]
