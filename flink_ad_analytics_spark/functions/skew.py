"""Skew-mitigating join: salting for hot keys.

AQE's skew-join splitting (enabled engine-wide) handles most skew at
runtime by splitting oversized partitions; salting is the explicit
fallback when a single KEY (not partition) is hot -- e.g. a null-ish
default campaign receiving half the events. The large side scatters
each hot key across ``n_salts`` sub-keys; the small side is replicated
``n_salts`` times; the join key becomes (key, salt). Results are
identical to the unsalted join (asserted by tests).

Use for large-x-small joins where broadcast is impossible (small side
too big) and one key dominates. For large-x-large skew, prefer AQE or
isolate the hot keys into a broadcast side-channel.

Measured (.benchmarks/skew_join.json: 40M rows, one key owning 50%,
broadcast disabled): unmitigated SMJ 6.7s (one
straggler task), AQE skew split 2.6s, salted_join(8) 3.5s -- identical
checksums. AQE wins for sort-merge joins because SMJ can split WITHIN
a hot key (rows of one key stay mergeable across partition splits), at
zero plan-change cost; salting still beats no-mitigation and remains
the tool when the join strategy cannot split a key (shuffled-hash
builds, stateful streaming joins keyed on the hot column) or when the
skew lives upstream of AQE's visibility (e.g. inside an aggregation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

SALT_COL = "__salt"


def salted_join(
    large: DataFrame,
    small: DataFrame,
    on: str,
    *,
    n_salts: int = 8,
    how: str = "inner",
    seed: int = 42,
) -> DataFrame:
    """Equi-join with the large side salted across ``n_salts`` sub-keys.

    ``how`` may be inner or left (left preserves large-side rows).
    The salt is a DETERMINISTIC content hash of the whole large-side
    row, not rand(): rand(seed) is seeded per (partition, row
    position), so a fetch-failure retry that recomputes upstream map
    tasks can re-deal different salts to rows that re-arrive in a
    different order -- duplicating or losing join rows against the
    surviving shuffle outputs (the rule corpus_writer.py documents).
    Content hashing keeps identical rows co-salted (fine -- duplicates
    colocate) while spreading a hot KEY by its other columns. The
    small side is exploded once per salt value, so every (key, salt)
    combination finds its match.
    """
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports inner/left joins")
    if SALT_COL in large.columns or SALT_COL in small.columns:
        raise ValueError(
            f"salted_join: input already carries a {SALT_COL!r} column; "
            "rename it first (it would be clobbered and dropped)"
        )
    salted_large = large.withColumn(
        SALT_COL,
        F.pmod(F.xxhash64(*[F.col(c) for c in large.columns], F.lit(seed)),
               F.lit(n_salts)).cast("int"),
    )
    replicated_small = small.withColumn(
        SALT_COL, F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    out = salted_large.join(replicated_small, [on, SALT_COL], how)
    return out.drop(SALT_COL)
