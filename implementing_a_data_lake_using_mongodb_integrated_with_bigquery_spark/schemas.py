"""StructTypes for the reference data model (two-zone lake/warehouse).

Transcribed from the reference's DDL and document shapes:
- places dim: ``src/create_tables.sql:2-12`` (9 STRING columns; lat/lon
  dirty strings with a trailing N/S/E/W letter, cf.
  ``src/extract_coordinates.py:18``).
- weather fact: ``src/create_tables.sql:15-41`` (25 columns).
- raw nested weather doc: shape proven by the flatten logic at
  ``src/process_insert_update_weather_data.py:83-93``.
- CDC event envelope: ``src/process_insert_update_weather_data.py:168-187``.
"""

from __future__ import annotations

from pyspark.sql import types as T

PLACES_DIM = T.StructType(
    [
        T.StructField("place_id", T.StringType(), False),
        T.StructField("adm_area1", T.StringType(), True),
        T.StructField("adm_area2", T.StringType(), True),
        T.StructField("country", T.StringType(), False),
        T.StructField("lat", T.StringType(), False),  # e.g. "21.0245N"
        T.StructField("lon", T.StringType(), False),  # e.g. "105.84117E"
        T.StructField("name", T.StringType(), False),
        T.StructField("timezone", T.StringType(), True),
        T.StructField("type", T.StringType(), True),
    ]
)

CONDITION = T.StructType(
    [
        T.StructField("text", T.StringType(), True),
        T.StructField("icon", T.StringType(), True),
        T.StructField("code", T.IntegerType(), True),
    ]
)

CURRENT = T.StructType(
    [
        T.StructField("last_updated_epoch", T.LongType(), True),
        T.StructField("last_updated", T.StringType(), True),  # "YYYY-MM-DD HH:MM"
        T.StructField("temp_c", T.DoubleType(), True),
        T.StructField("temp_f", T.DoubleType(), True),
        T.StructField("is_day", T.IntegerType(), True),  # 0/1, cast to boolean on flatten
        T.StructField("condition", CONDITION, True),
        T.StructField("wind_mph", T.DoubleType(), True),
        T.StructField("wind_kph", T.DoubleType(), True),
        T.StructField("wind_degree", T.IntegerType(), True),
        T.StructField("wind_dir", T.StringType(), True),
        T.StructField("pressure_mb", T.DoubleType(), True),
        T.StructField("pressure_in", T.DoubleType(), True),
        T.StructField("precip_mm", T.DoubleType(), True),
        T.StructField("precip_in", T.DoubleType(), True),
        T.StructField("humidity", T.IntegerType(), True),
        T.StructField("cloud", T.IntegerType(), True),
        T.StructField("feelslike_c", T.DoubleType(), True),
        T.StructField("feelslike_f", T.DoubleType(), True),
        T.StructField("vis_km", T.DoubleType(), True),
        T.StructField("vis_miles", T.DoubleType(), True),
        T.StructField("uv", T.DoubleType(), True),
        T.StructField("gust_mph", T.DoubleType(), True),
        T.StructField("gust_kph", T.DoubleType(), True),
    ]
)

LOCATION = T.StructType(
    [
        T.StructField("name", T.StringType(), True),
        T.StructField("region", T.StringType(), True),
        T.StructField("country", T.StringType(), True),
        T.StructField("lat", T.DoubleType(), True),
        T.StructField("lon", T.DoubleType(), True),
        T.StructField("tz_id", T.StringType(), True),
        T.StructField("localtime", T.StringType(), True),
    ]
)

WEATHER_RAW = T.StructType(
    [
        T.StructField("_id", T.StringType(), False),
        T.StructField("place_id", T.StringType(), False),
        T.StructField("location", LOCATION, True),  # dropped by flatten
        T.StructField("current", CURRENT, True),
    ]
)

# the flattened fact row as ``operators.flatten.flatten_weather`` writes
# it to the CDC target: ``_id`` → ``id``, ``current.*`` at top level,
# ``condition`` reduced to its text, ``is_day`` boolean, ``last_updated``
# a timestamp. Nullable throughout, as Spark reads parquet back. The CDC
# merge reads its target with this schema instead of inferring it from
# a footer; tests/test_streaming_cdc.py pins it to the inferred one.
WEATHER_FACT = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("place_id", T.StringType()),
        *(
            T.StructField(
                f.name,
                {
                    "last_updated": T.TimestampType(),
                    "is_day": T.BooleanType(),
                    "condition": T.StringType(),
                }.get(f.name, f.dataType),
            )
            for f in CURRENT.fields
        ),
    ]
)

CDC_EVENT = T.StructType(
    [
        T.StructField("operation_type", T.StringType(), False),
        T.StructField("ns_db", T.StringType(), True),
        T.StructField("ns_coll", T.StringType(), True),
        T.StructField("full_document", WEATHER_RAW, True),  # present on insert/replace
        T.StructField("document_key", T.StringType(), True),  # _id on update/delete
        T.StructField("ts", T.TimestampType(), True),
    ]
)
