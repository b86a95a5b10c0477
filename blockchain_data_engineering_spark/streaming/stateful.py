"""Custom stateful streaming operators via ``applyInPandasWithState``
(the escape hatch for state machines Spark's built-in windowed
aggregations can't express — SURVEY §2.9 extension surface).

``running_balances`` is the domain's canonical stateful op: fold the
per-(address, unit) net flows of each micro-batch into a persistent
balance — the live wallet-balance view of the chain. State lives in the
checkpointed state store (RocksDB on a real cluster), keyed by group;
each trigger emits the updated balances only (changelog semantics,
MERGE-ready for a serving store; operator output mode "append" — every
emitted row is final for its trigger).
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

BALANCE_SCHEMA = T.StructType(
    [
        T.StructField("address", T.StringType()),
        T.StructField("unit", T.StringType()),
        T.StructField("balance", T.LongType()),
        T.StructField("n_changes", T.LongType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("balance", T.LongType()),
        T.StructField("n_changes", T.LongType()),
    ]
)


def _exact_value_sum(values) -> int:
    """Exact integer sum of the batch's value column.

    Arrow→pandas renders an int64 column containing NULLs as float64
    (NaN for the NULLs): float64 .sum() would silently count NULL
    flows as 0 AND round above 2^53 lovelace — below Cardano's total
    supply, so a real balance could drift. NULLs are a data bug —
    fail loudly — and the sum runs in int64.
    """
    if values.isna().any():
        raise ValueError(
            "NULL flow value in stateful balance input — upstream "
            "netflow rows must be non-null"
        )
    return int(values.astype("int64").sum())


def _update_balance(key, pdfs: Iterator, state: GroupState) -> Iterable:
    """Fold this batch's flow values into the per-(address, unit)
    balance. Arrow-batched: pdfs iterates pandas frames for the group.
    Integer arithmetic — deterministic and replay-idempotent given
    exactly-once input."""
    import pandas as pd

    delta = 0
    n = 0
    for pdf in pdfs:
        delta += _exact_value_sum(pdf["value"])
        n += len(pdf)
    if state.exists:
        balance, n_changes = state.get
    else:
        balance, n_changes = 0, 0
    balance += delta
    n_changes += n
    state.update((balance, n_changes))
    yield pd.DataFrame(
        [{"address": key[0], "unit": key[1], "balance": balance,
          "n_changes": n_changes}]
    )


def running_balances(flows: DataFrame) -> DataFrame:
    """flows: streaming (address, unit, value) net-flow rows →
    changelog stream of updated (address, unit, balance, n_changes).

    Scale: state is partitioned by the group key across the cluster's
    state stores; each trigger touches only groups present in the
    batch. Balance is LongType here — swap to quanta-of-Decimal for
    mainnet supplies.
    """
    return flows.groupBy("address", "unit").applyInPandasWithState(
        _update_balance,
        outputStructType=BALANCE_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
