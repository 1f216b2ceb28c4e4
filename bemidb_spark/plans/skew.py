"""Skew-mitigation and co-location join strategies.

Two of the classic 100 TB join techniques; the salted join is served, with
correctness pinned against a plain-join oracle (same results, different
physical plan):

- **salted join**: when one join key is hot, a plain shuffle join puts the
  whole hot key in one task. Salting splits each key into SALT sub-keys
  (deterministically, from a second column's hash so results stay
  reproducible) and replicates the build side SALT times — the hot key now
  spreads over SALT tasks. AQE's skew-join handles moderate skew
  automatically; explicit salting is the tool for pathological keys or
  non-AQE paths.
- **bucketed tables**: pre-shuffling both sides into one bucket layout on
  the join key makes later joins shuffle-free — the scan itself is the
  exchange (Iceberg's ``bucket(N, key)`` partition transform at cluster
  scale). No writer here records Spark bucket metadata: the catalog's
  key-bucketed layout (sources.writer.write_bucketed_table) serves key
  upserts, not co-located joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    salt: int = 8,
    salt_source: str | None = None,
    how: str = "inner",
) -> DataFrame:
    """Join left⋈right on `key` with the left side salted `salt` ways.

    ``salt_source``: a left column whose md5 spreads rows across sub-keys
    deterministically (row-content-derived, so the same row always lands in
    the same sub-key — reproducible, unlike rand()). Defaults to the key
    itself (degenerate but stable) — pass a high-cardinality column.
    """
    src = F.col(salt_source if salt_source is not None else key).cast("string")
    salt_col = (
        F.conv(F.substring(F.md5(src), 1, 8), 16, 10).cast("bigint") % salt
    ).cast("int")
    salted_left = left.withColumn("__salt", salt_col)
    exploded_right = right.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    out = salted_left.join(exploded_right, on=[key, "__salt"], how=how)
    return out.drop("__salt")
