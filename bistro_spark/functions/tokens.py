"""Scalar functions over the token payload (tokens: array<int>).

The reference has NO scalar function library — every scalar op is a user
Java lambda passed to ``Column.java#calc`` (or an exp4j/EvalEx formula
string, ``formula/.../FormulaExp4j.java``).  Here the calc surface accepts
any Catalyst expression; these helpers are the token-specific vocabulary,
all JVM-side (higher-order array functions, whole-stage codegen).

input_hint invariant: everything vectorized, no per-row Python.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def n_tok_native(tokens: str | Column = "tokens") -> Column:
    """Token count — F.size, pure Catalyst."""
    c = F.col(tokens) if isinstance(tokens, str) else tokens
    return F.size(c)


def token_sum(tokens: str | Column = "tokens") -> Column:
    """Sum of token ids — F.aggregate (JVM fold, no shuffle, no Python)."""
    c = F.col(tokens) if isinstance(tokens, str) else tokens
    return F.aggregate(c, F.lit(0).cast("long"), lambda acc, x: acc + x.cast("long"))


def token_head(n: int, tokens: str | Column = "tokens") -> Column:
    """First n tokens — F.slice (context-window truncation primitive)."""
    c = F.col(tokens) if isinstance(tokens, str) else tokens
    return F.slice(c, 1, n)


def token_fingerprint(tokens: str | Column = "tokens") -> Column:
    """Order-sensitive 64-bit content fingerprint of the token array.

    xxhash64 over the array value — exact-dup detection key. JVM-side,
    stable across partitionings (pure function of the value).
    """
    c = F.col(tokens) if isinstance(tokens, str) else tokens
    return F.xxhash64(c)

