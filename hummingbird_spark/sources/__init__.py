from hummingbird_spark.sources.catalog import (
    expand_namespaces,
    is_system_namespace,
    matches_namespace,
    split_namespace,
)
from hummingbird_spark.sources.tables import (
    TABLES,
    load_table,
    read_source,
    register_views,
)

__all__ = [
    "TABLES",
    "load_table",
    "read_source",
    "register_views",
    "split_namespace",
    "matches_namespace",
    "is_system_namespace",
    "expand_namespaces",
]
