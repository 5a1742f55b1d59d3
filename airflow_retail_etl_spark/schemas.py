"""Explicit schemas (SURVEY.md §1.2).

The reference lets pandas infer CSV dtypes and ``to_sql`` recreate tables from
them (retail_pipeline_assets.py:41,48); at scale that is a correctness hazard,
so every ingest here carries an explicit ``StructType``.
"""

from __future__ import annotations

from pyspark.sql import types as T

#: Raw retail event CSV — one file per day under Day_Wise/YYYY-MM-DD/event.csv
#: (reference: data/raw layout + scripts/table_creation.sql:2-15).
EVENT_CSV_SCHEMA = T.StructType(
    [
        T.StructField("event_time", T.TimestampType(), False),
        T.StructField("event_type", T.StringType(), False),
        T.StructField("product_id", T.LongType(), True),
        T.StructField("category_id", T.LongType(), True),
        T.StructField("category_code", T.StringType(), True),
        T.StructField("brand", T.StringType(), True),
        T.StructField("price", T.DoubleType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("user_session", T.StringType(), True),
    ]
)

#: staging_events = raw columns + audit columns (table_creation.sql:2-15).
STAGING_EVENTS_SCHEMA = T.StructType(
    list(EVENT_CSV_SCHEMA.fields)
    + [
        T.StructField("event_date", T.DateType(), False),
        T.StructField("loaded_at", T.TimestampType(), False),
    ]
)


def _as_stored(fields: list[T.StructField]) -> list[T.StructField]:
    """Fields as a parquet read sees them: Spark writes every column as
    optional, so every field reads back nullable."""
    return [T.StructField(f.name, f.dataType, True) for f in fields]


#: The ``dt=`` partition column of every warehouse table, typed as
#: partition discovery infers it from ``dt=YYYY-MM-DD``.
DT_FIELD = T.StructField("dt", T.DateType(), True)

#: Read schema of the bronze ``staging_events`` table. Declaring it spares
#: each ``spark.read.parquet`` the footer-inference job.
STAGING_TABLE_SCHEMA = T.StructType(
    _as_stored(STAGING_EVENTS_SCHEMA.fields) + [DT_FIELD]
)

#: The ``dim_product`` columns the marts join on, plus ``dt``.
DIM_PRODUCT_JOIN_SCHEMA = T.StructType(
    _as_stored(
        [EVENT_CSV_SCHEMA[c] for c in ("product_id", "brand", "category_code")]
    )
    + [DT_FIELD]
)

#: fact_events grain = (event_date, event_type, product_id, user_id)
#: (table_creation.sql:18-26, populated by retail_pipeline_assets.py:60-72).
FACT_EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_date", T.DateType(), False),
        T.StructField("event_type", T.StringType(), False),
        T.StructField("product_id", T.LongType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("total_events", T.LongType(), False),
        T.StructField("total_revenue", T.DoubleType(), True),
    ]
)

#: Multimodal asset table (extension surface): opaque payload + typed metadata.
MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("media", T.BinaryType(), True),
        T.StructField("media_type", T.StringType(), True),  # image|audio|video
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("duration_ms", T.LongType(), True),
                    T.StructField("codec", T.StringType(), True),
                ]
            ),
            True,
        ),
    ]
)
