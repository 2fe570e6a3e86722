"""SURVEY §2.8 hashing: the deterministic, engine-portable integer hash.

A salted md5 of a key, cut to k hex digits and read as a bigint, is how
the package draws every A/B arm, sampling seed, MinHash base and KMV
sketch hash. DuckDB oracles spell it
``CAST('0x' || substr(md5(..), start, digits) AS BIGINT)``, so the Spark
side must encode it the same way everywhere: it does so here, once.

This module registers no queries, so importing it never changes the
order in which queries register; ``registry.compute_window_order``
breaks its ties by that order.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column


def hex_int(h: Column, start: int | Column, digits: int) -> Column:
    """Hex digits ``start .. start + digits - 1`` of ``h`` (1-based) as a
    bigint. At most 15 digits: 16 hex digits overflow a signed bigint,
    and the cast then fails at run time on about half the keys."""
    if not (isinstance(digits, int) and 1 <= digits <= 15):
        raise ValueError(f"digits must be an int in 1..15, got {digits!r}")
    if isinstance(start, int) and start < 1:
        raise ValueError(f"start is 1-based, got {start!r}")
    return F.conv(F.substring(h, start, digits), 16, 10).cast("bigint")


def md5_int(*parts: Column, digits: int, start: int | Column = 1) -> Column:
    """``hex_int`` over the md5 of ``parts``, concatenated when there is
    more than one. Parts are hashed as given: cast non-strings first."""
    key = F.concat(*parts) if len(parts) > 1 else parts[0]
    return hex_int(F.md5(key.cast("binary")), start, digits)
