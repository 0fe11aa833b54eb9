"""Explicit skew handling: salted joins.

AQE's skew-join splitting handles moderate skew; pathological keys
(e.g. Zipf-duplicated phash values where one key holds 10% of a 10^12
row table) still serialize a single join key into one task before AQE
can split post-shuffle state for some join types. The classic fix:

  big side:   salt = hash(row) % n_salts appended to the join key
  small side: exploded n_salts ways (one copy per salt)

so a hot key's rows spread over n_salts tasks. Used by MERGE INTO and
the phash near-dup joins (BASELINE.json north_rule: "sort-merge join
over salted skew-heavy phash keys")."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SALT = "__mf_salt"


def salted_join(
    big: DataFrame,
    small: DataFrame,
    keys: list[str],
    how: str = "inner",
    n_salts: int = 16,
) -> DataFrame:
    """Join with the big side salted and the small side exploded.

    Deterministic salt from the big side's full key + a per-row spread
    term so duplicate keys fan out. Result columns match a plain
    ``big.join(small, keys, how)``."""
    spread = F.pmod(
        F.hash(*[F.col(k) for k in keys], F.monotonically_increasing_id()),
        F.lit(n_salts),
    )
    big_s = big.withColumn(_SALT, spread)
    small_s = small.withColumn(
        _SALT, F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    out = big_s.join(small_s, keys + [_SALT], how)
    return out.drop(_SALT)
