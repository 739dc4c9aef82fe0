from results_ingestor_spark.functions.agg import pg_string_agg_distinct
from results_ingestor_spark.functions.hashing import md5_long, stable_hash64
from results_ingestor_spark.functions.vector import cosine, dot, l2_norm

__all__ = [
    "pg_string_agg_distinct",
    "md5_long",
    "stable_hash64",
    "cosine",
    "dot",
    "l2_norm",
]
