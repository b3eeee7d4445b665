"""Custom stateful streaming operator: running per-customer lifetime totals.

Reference parity: the activation pipeline keeps incremental state across
runs (processed-event set, ``scripts/lambda_redshift_to_segment.py:97-135``)
and the marketing views compute lifetime aggregates per customer
(``sql/customer_360_views.sql:396-425``, README.md:178-188 LTV query). A
streaming deployment needs those lifetime numbers maintained continuously —
this operator is the Spark-native form: ``applyInPandasWithState`` keeps
(count, total) per key in the state store and emits an updated row whenever
a micro-batch touches the key.

Scale posture: state is O(distinct keys) and partitioned by the group key —
the same shuffle a batch groupBy would pay, paid incrementally. The pandas
handler sees Arrow batches per key, so Python cost is per-key-per-batch,
not per-row.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def running_totals_stream(
    events: DataFrame,
    key_col: str = "custkey",
    amount_col: str = "amount",
) -> DataFrame:
    """Continuously-maintained (n_orders, lifetime_value) per key.

    Input must be a streaming DataFrame. Output mode: update — one row per
    touched key per micro-batch with the post-batch running totals. The
    final row per key equals the batch ``groupBy(key).agg(count, sum)``
    (asserted in tests), so a consumer can treat the stream as an
    incrementally-maintained materialized aggregate.
    """

    out_schema = f"{key_col} long, n_orders long, lifetime_value double"
    state_schema = "n long, total double"

    def update(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf[amount_col].fillna(0.0).sum())
        state.update((n, total))
        yield pd.DataFrame(
            {key_col: [key[0]], "n_orders": [n], "lifetime_value": [total]}
        )

    return (
        events.groupBy(key_col)
        .applyInPandasWithState(
            update,
            out_schema,
            state_schema,
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )
