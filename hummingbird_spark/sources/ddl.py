"""DDL / metadata passthrough (SURVEY §2.11 D1).

The reference copies collection options (collation/capped/size/max,
collection_creator.go:19-86) at create time. Plain parquet has no table
catalog, so the options ride a `_table_properties.json` sidecar beside
the data files: a JSON object of `mongo.option.<name>` -> the option's
JSON-encoded value (the shape a lakehouse backend applies as
TBLPROPERTIES). `operators/retention.py` reads it to enforce a capped
source collection's caps.
"""

from __future__ import annotations

import json

from pyspark.sql import SparkSession

from hummingbird_spark.commit import read_text


def read_table_properties(path: str) -> dict[str, str]:
    """The properties sidecar of the table at `path` (any Hadoop
    filesystem), or {} when it has none."""
    text = read_text(SparkSession.active(), f"{path}/_table_properties.json")
    return json.loads(text) if text is not None else {}
