"""JSON boundary functions (SURVEY.md §2.8 F9, §2.2 P6).

The reference JSON-serializes at the Kafka boundary
(``producer.py:24``, ``consumer.py:53``) and flattens the nested
WeatherAPI document imperatively (``producer.py:73-89``).  The
Spark-native decode is ``from_json`` + one nested projection —
codegen'd, no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..schemas import WEATHER_API_SCHEMA


def flatten_weather_doc(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """P6+P7 — the producer's flatten (producer.py:73-89) as one nested
    projection over ``from_json``: drop error envelopes
    (producer.py:50-52, P5), project nested fields, default missing
    pollutants to 0 (producer.py:83-88)."""
    parsed = df.withColumn("_doc", F.from_json(F.col(payload_col), WEATHER_API_SCHEMA))
    doc = F.col("_doc")
    aq = doc["current"]["air_quality"]
    return (
        parsed.filter(doc["error"].isNull())
        .select(
            doc["location"]["name"].alias("location"),
            doc["location"]["region"].alias("region"),
            doc["location"]["country"].alias("country"),
            doc["location"]["localtime"].alias("localtime"),
            doc["current"]["temp_c"].alias("temp_c"),
            doc["current"]["humidity"].alias("humidity"),
            doc["current"]["condition"]["text"].alias("condition"),
            *[F.coalesce(aq[p], F.lit(0.0)).alias(p) for p in ("co", "no2", "o3", "so2", "pm2_5", "pm10")],
        )
    )
