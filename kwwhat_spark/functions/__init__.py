from kwwhat_spark.functions.core import (  # noqa: F401
    array_union_sorted,
    bucket_15min,
    datediff_boundary,
    surrogate_key,
)
