from hummingbird_spark.functions.ejson import normalize_extended_json
from hummingbird_spark.functions.masks import (
    MASK_DEFAULT,
    MASK_HEX,
    MASK_PARTIAL,
    mask_dataframe,
    mask_value,
)

__all__ = [
    "MASK_DEFAULT",
    "MASK_PARTIAL",
    "MASK_HEX",
    "mask_value",
    "mask_dataframe",
    "normalize_extended_json",
]
