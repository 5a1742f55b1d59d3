"""Scalar column expressions (SURVEY §2.3) — all JVM-side built-ins, zero UDFs."""

from __future__ import annotations

import math
from collections.abc import Iterable

from pyspark.sql import Column
from pyspark.sql import functions as F


def conditional_count(predicate: Column) -> Column:
    """``SUM(CASE WHEN p THEN 1 ELSE 0 END)`` (retail_pipeline.py:39-41)."""
    return F.sum(F.when(predicate, 1).otherwise(0))


def conditional_sum(predicate: Column, value: Column) -> Column:
    """``SUM(CASE WHEN p THEN v ELSE 0 END)`` (retail_pipeline_assets.py:67)."""
    return F.sum(F.when(predicate, value).otherwise(F.lit(0.0)))


def money_sum(value: Column, predicate: Column | None = None) -> Column:
    """Order-insensitive 2-dp money sum, returned as double.

    Doubles summed in shuffle order differ in the last ulps between runs and
    engines; rounding per-row then accumulating in DECIMAL(18,2) makes the sum
    EXACT (and therefore bit-identical to any ANSI oracle computing the same
    thing) while the public type stays double. At 100 TB this also means
    results don't drift with partition count.
    """
    cent = F.round(value, 2).cast("decimal(18,2)")
    if predicate is not None:
        cent = F.when(predicate, cent).otherwise(F.lit(0).cast("decimal(18,2)"))
    return F.sum(cent).cast("double")


def pub_round(value: Column, scale: int = 6) -> Column:
    """Publication rounding for doubles that can be zero from below.

    ``F.round`` keeps the sign of zero, so a covariance / z-score / delta
    that rounds to zero from a tiny negative value publishes ``-0.0``.
    ``-0.0 == 0.0`` under every comparison operator, but the driver's
    correctness gate hashes BYTES — and IEEE-754 ``-0.0`` and ``+0.0``
    differ in the sign bit (round-14 verdict: embedding_gram failed the
    hash on exactly one such value). Adding ``+0.0`` after the round is
    an IEEE no-op for every value except ``-0.0``, which it normalizes
    to ``+0.0``. The oracle twin must apply the same ``ROUND(x, n) + 0``.
    Use this for EVERY subtraction-shaped rounded publication (cov,
    variance deltas, z-scores, PSI terms, correlations).
    """
    return F.round(value, scale) + F.lit(0.0)


def double_array(values: Iterable[float]) -> Column:
    """Literal ``ARRAY<DOUBLE>`` holding exactly ``values`` — how a
    bounded result the driver collected goes back into a plan.

    Built by ONE ``F.expr`` parse, not one ``F.lit`` Column per element
    (plan-construction cost grows with the Column count; CLAUDE.md).
    ``repr(float)`` is the shortest round-trip form and Java's
    ``parseDouble`` is correctly rounded, so every element (``-0.0``
    included) is bit-identical to the Python double; the ``D`` suffix
    keeps DOUBLE (a bare decimal literal parses as DECIMAL), and NaN /
    ±Infinity go through a string cast.
    """
    elems = [
        f"{x!r}D" if math.isfinite(x) else f"CAST('{x!r}' AS DOUBLE)"
        for x in map(float, values)
    ]
    return F.expr(f"CAST(array({', '.join(elems)}) AS ARRAY<DOUBLE>)")


def dense_array(m: Column, lo: Column, hi: Column, zero: object) -> Column:
    """The values of map ``m`` at every key of ``sequence(lo, hi)``, in
    key order, with ``zero`` where a key is absent — how a sparse
    state (cells keyed by day, word or counter index) becomes the dense
    array a fold or probe reads, straight off the one aggregation that
    collected it, with no key-range spine to join.

    Keys are integers in [lo, hi]. The array is built in one row, in
    O(|keys|·log|keys| + hi − lo) — the key-sorted entries, each
    preceded by a run of ``zero`` as long as the gap before it —
    never by one map lookup per key of the range: Spark's
    ``element_at`` scans a map's keys linearly, so that form is
    quadratic (a 2^20-bit Bloom filter built 15× slower than a
    range-spine join). A lambda here may read only its own arguments:
    an outer array expression inside it is re-evaluated per element."""
    z = F.lit(zero)
    # each sorted entry zipped with the key before it (lo − 1 first)
    prev = F.slice(
        F.concat(F.array(lo - F.lit(1)), F.sort_array(F.map_keys(m))),
        1,
        F.size(m),
    )
    runs = F.zip_with(
        F.sort_array(F.map_entries(m)),
        prev,
        lambda x, p: F.array_append(
            F.array_repeat(z, (x["key"] - p - F.lit(1)).cast("int")),
            F.coalesce(x["value"], z),
        ),
    )
    last = F.coalesce(F.array_max(F.map_keys(m)), lo - F.lit(1))
    return F.concat(
        F.flatten(runs), F.array_repeat(z, (hi - last).cast("int"))
    )


def safe_ratio(num: Column, den: Column) -> Column:
    """Ratio with SQL division semantics: x/0 → NULL.

    Deliberate delta from the reference (SURVEY §4.3.1): pandas float division
    yields ``inf`` for /0 (retail_pipeline.py:50-51); we adopt ANSI NULL.
    """
    return num / F.nullif(den, F.lit(0))


def split_hierarchy(
    col: Column, *, levels: int = 3, sep: str = r"\.", default: str = "na"
) -> list[Column]:
    """Dotted category code → fixed hierarchy levels, absent levels = default.

    Reference: the pandas loop at retail_pipeline_assets.py:107-116 splitting
    ``category_code`` into category / sub_category1 / sub_category2 with 'na'
    for missing levels. ``try_element_at`` is 1-based and NULL out of range
    (``element_at`` would throw under ANSI mode, Spark 4's default), so
    ``coalesce`` supplies the default — stays inside whole-stage codegen.
    """
    parts = F.split(col, sep)
    return [
        F.coalesce(F.try_element_at(parts, F.lit(i + 1)), F.lit(default))
        for i in range(levels)
    ]
