from recover_spark.functions.transforms import (
    add_universal_properties,
    cast_to_schema,
    cast_to_schema_logged,
    defensive_json_array,
    filename_metadata,
    json_string_to_struct,
    map_to_offset_array,
    schema_drift,
)
from recover_spark.functions.hashing import portable_hash64, portable_hash_hex
from recover_spark.functions.text import (
    quality_features,
    token_count,
    tokens,
)
from recover_spark.functions.vectors import cosine_similarity, dot, l2_norm

__all__ = [
    "add_universal_properties",
    "cast_to_schema",
    "cast_to_schema_logged",
    "schema_drift",
    "defensive_json_array",
    "filename_metadata",
    "json_string_to_struct",
    "map_to_offset_array",
    "portable_hash64",
    "portable_hash_hex",
    "quality_features",
    "token_count",
    "tokens",
    "cosine_similarity",
    "dot",
    "l2_norm",
]
