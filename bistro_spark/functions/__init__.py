from bistro_spark.functions.tokens import (
    n_tok_native,
    token_fingerprint,
    token_head,
    token_sum,
)

__all__ = [
    "n_tok_native",
    "token_fingerprint",
    "token_head",
    "token_sum",
]
