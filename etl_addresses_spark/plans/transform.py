"""Transform-step record types as driver-checkable queries.

Each query runs the full pipeline (fixtures -> spatio-temporal join ->
transform fan-out, /root/reference/addresses.js:164-234) and returns one
record type flattened; the oracles project the same records from the
shared `inferred` CTE (plans/flagship.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_addresses_spark.operators.spatial_join import infer_addresses
from etl_addresses_spark.operators.transform_step import (
    logs_df,
    objects_df,
    relations_df,
)
from etl_addresses_spark.plans.flagship import INFERRED_CTES
from etl_addresses_spark.sources.fixtures import house_numbers_df, streets_df


def _inferred(spark: SparkSession, sf_dir: str) -> DataFrame:
    return infer_addresses(house_numbers_df(spark, sf_dir), streets_df(spark, sf_dir))


def transform_objects(spark: SparkSession, sf_dir: str) -> DataFrame:
    return objects_df(_inferred(spark, sf_dir)).select(
        "id",
        "name",
        "type",
        "validSince",
        "validUntil",
        F.col("data.sheetId").alias("sheetId"),
        F.col("data.layerId").alias("layerId"),
        F.col("data.mapId").alias("mapId"),
        F.col("data.number").alias("number"),
        F.col("data.borough").alias("borough"),
        F.col("data.houseNumberId").alias("houseNumberId"),
        F.col("data.streetId").alias("streetId"),
    )


def transform_relations(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relations_df(_inferred(spark, sf_dir))


def transform_logs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return logs_df(_inferred(spark, sf_dir)).select(
        "error",
        "houseNumberId",
        "streetId",
        "streetName",
        "lineLength",
        F.col("addressData.sheetId").alias("sheetId"),
        F.col("addressData.number").alias("number"),
    )


OBJECTS_ORACLE = INFERRED_CTES + """
SELECT id, name, 'st:Address' AS type, validSince, validUntil,
       sheetId, layerId, mapId, number, borough, houseNumberId, streetId
FROM inferred WHERE streetId IS NOT NULL
"""

RELATIONS_ORACLE = INFERRED_CTES + """
SELECT houseNumberId AS from_id, streetId AS to_id, 'st:in' AS type
FROM inferred WHERE streetId IS NOT NULL
UNION ALL
SELECT id AS from_id, houseNumberId AS to_id, 'st:sameAs' AS type
FROM inferred WHERE streetId IS NOT NULL
"""

LOGS_ORACLE = INFERRED_CTES + """
SELECT error, houseNumberId, streetId, streetName, lineLength,
       sheetId, number
FROM inferred
"""


def relation_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph analytics over the emitted relation edges: out/in degree
    per node (objects+relations form a property graph; degree profiling
    is the first sanity query any graph consumer runs)."""
    rels = relations_df(_inferred(spark, sf_dir))
    ends = rels.select(
        F.col("from_id").alias("node"), F.lit(1).alias("is_out")
    ).unionByName(rels.select(F.col("to_id").alias("node"), F.lit(0).alias("is_out")))
    return ends.groupBy("node").agg(
        F.sum("is_out").alias("out_degree"),
        F.sum(1 - F.col("is_out")).alias("in_degree"),
    )


DEGREES_ORACLE = INFERRED_CTES + """
, rels AS (
  SELECT houseNumberId AS from_id, streetId AS to_id FROM inferred WHERE streetId IS NOT NULL
  UNION ALL
  SELECT id AS from_id, houseNumberId AS to_id FROM inferred WHERE streetId IS NOT NULL
),
ends AS (
  SELECT from_id AS node, 1 AS is_out FROM rels
  UNION ALL
  SELECT to_id AS node, 0 AS is_out FROM rels
)
SELECT node, CAST(sum(is_out) AS BIGINT) AS out_degree, CAST(sum(1 - is_out) AS BIGINT) AS in_degree
FROM ends GROUP BY node
"""


QUERIES = {
    "transform_objects": (transform_objects, OBJECTS_ORACLE),
    "transform_relations": (transform_relations, RELATIONS_ORACLE),
    "transform_logs": (transform_logs, LOGS_ORACLE),
    "relation_degrees": (relation_degrees, DEGREES_ORACLE),
}
