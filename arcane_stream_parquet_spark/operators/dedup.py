"""Latest-version-per-key dedup (reference: J2, SURVEY.md §2.3).

The reference's ``UpsertBlobStagedBatchFactory`` reduces a staged batch
to one row per ``arcane_merge_key``, latest ``createdon`` wins
(main.scala:31,101) — MERGE requires a unique source key. Proven by the
integration test: 5,000 staged rows / 100 distinct keys → 100 rows
(IntegrationTests.scala:176,181).

Spark realization: ``max_by(struct(all columns), ordering_struct)``
aggregation rather than a ``row_number`` ranking window. Both pick the
lexicographic-max row per key, but the aggregate form supports PARTIAL
AGGREGATION: each input partition reduces its share of a key to one
buffered row before the exchange, so a pathologically hot merge key
(every CDC pipeline's fat-entity problem) ships ≤ num_input_partitions
rows through the shuffle instead of ALL its rows landing on one
reducer and sorting there — the skew-resistant plan at 100 TB
(verified structurally + at 10⁶-rows-one-key in
tests/test_merge_skew.py). The output stays hash-partitioned on the
key, exactly the partitioning a subsequent key-equi MERGE join reuses.

Tie-break: the reference leaves equal-``createdon`` ordering undefined
(SURVEY.md §7 risks). We require explicit ``tiebreakers`` for a total
order so results are deterministic and oracle-checkable; ordering is
``(version_col, *tiebreakers)`` compared lexicographically, all
descending (struct max ≡ each field DESC with nulls least-preferred,
matching the former window's ``DESC NULLS LAST``).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from arcane_stream_parquet_spark.functions.keys import VERSION_COLUMN

_ROW_STRUCT_COL = "__asp_row"


def latest_by_key(
    df: DataFrame,
    keys: Sequence[str],
    version_col: str = VERSION_COLUMN,
    tiebreakers: Sequence[str | Column] = (),
) -> DataFrame:
    """Keep the single latest row per key (module docstring has the
    ordering and skew rationale). Every merge target dedups its batch
    through this one aggregate (operators/merge.py, table_format.py).

    Pass enough ``tiebreakers`` to make the order total, or the
    surviving row among exact version ties is undefined (matches the
    reference's undefined behavior, but breaks oracle checks — tests
    always pass tiebreakers).
    """
    if not keys:
        raise ValueError("keys must be non-empty")
    ordering = [F.col(version_col)] + [
        F.col(tb) if isinstance(tb, str) else tb for tb in tiebreakers
    ]
    latest_row = F.max_by(
        F.struct(*[F.col(c) for c in df.columns]), F.struct(*ordering)
    )
    agg = df.groupBy(*[F.col(k) for k in keys]).agg(
        latest_row.alias(_ROW_STRUCT_COL)
    )
    return agg.select(
        *[F.col(_ROW_STRUCT_COL).getField(c).alias(c) for c in df.columns]
    )
