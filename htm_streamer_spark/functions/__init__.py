from htm_streamer_spark.functions.array_funcs import (
    featurize_hist_kernel,
    token_bucket_expr,
)

__all__ = [
    "token_bucket_expr",
    "featurize_hist_kernel",
]
