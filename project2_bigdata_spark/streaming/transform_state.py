"""Arbitrary stateful streaming via ``transformWithStateInPandas``
(Spark 4's successor to ``applyInPandasWithState``: typed state
variables — ValueState / ListState / MapState — in the RocksDB state
store, per-key timers, TTL).

Demonstrated operator: a per-user typed-state profile — a MapState
keyed by event_type holding running counts plus a ValueState running
total — emitting the refreshed profile each micro-batch the user
appears in. The same *final* numbers are a batch groupBy; the point is
the state plumbing a genuinely custom operator (CEP, per-key models,
decaying counters) needs, on the API that supersedes GroupState.

ENVIRONMENT GATE: transformWithStateInPandas needs the ``protobuf``
Python package (its state server speaks protobuf to the JVM), which is
not installed in this container. Like the PIL gate in
operators/multimodal.py, the real Spark-4 path is taken when protobuf
imports; otherwise an ``applyInPandasWithState`` fallback computes the
IDENTICAL relation through the same pure update functions, so the
oracle contract holds in both environments and upgrades are a no-op.

Scale: state lives in per-partition state stores keyed by the grouping
key — the same shuffle partitioning as the groupBy; each micro-batch
touches only the keys present in that batch, and state for one user is
O(distinct event types).
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.registry import register
from .runner import run_to_batch
from .source import events_stream


def have_protobuf() -> bool:
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


HAVE_TWS = have_protobuf()

_OUT_DDL = "user_id bigint, n_events bigint, n_types bigint, top_type string"

# ---------------------------------------------------------------------------
# Pure state-transition logic, shared by both API paths (and unit-tested
# directly — the part of a custom stateful operator that must be right).
# ---------------------------------------------------------------------------


def update_profile(
    counts: dict[str, int], total: int, pdf: pd.DataFrame
) -> tuple[dict[str, int], int]:
    """Fold one micro-batch of a user's events into (type-counts, total)."""
    total += len(pdf)
    for t, c in pdf["event_type"].value_counts().items():
        counts[t] = counts.get(t, 0) + int(c)
    return counts, total


def emit_profile(user_id: int, counts: dict[str, int], total: int) -> pd.DataFrame:
    """One output row: running totals + deterministic favorite type
    (count desc, then lexicographic — same tie-break as the oracle)."""
    top = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
    return pd.DataFrame(
        {
            "user_id": [user_id],
            "n_events": [total],
            "n_types": [len(counts)],
            "top_type": [top],
        }
    )


# ---------------------------------------------------------------------------
# Spark 4 typed-state path
# ---------------------------------------------------------------------------

if HAVE_TWS:
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class UserProfileProcessor(StatefulProcessor):
        """MapState(event_type → count) + ValueState(total) per user."""

        def init(self, handle: StatefulProcessorHandle) -> None:
            self._counts = handle.getMapState("type_counts", "t string", "c bigint")
            self._total = handle.getValueState("total", "n bigint")

        def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
            counts = {k[0]: v[0] for k, v in self._counts.iterator()}
            total = self._total.get()[0] if self._total.exists() else 0
            for pdf in rows:
                counts, total = update_profile(counts, total, pdf)
            for t, c in counts.items():
                self._counts.updateValue((t,), (c,))
            self._total.update((total,))
            yield emit_profile(key[0], counts, total)

        def close(self) -> None:
            pass


def _profiles_typed_state(sdf: DataFrame) -> DataFrame:
    return sdf.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=UserProfileProcessor(),
        outputStructType=_OUT_DDL,
        outputMode="Append",
        timeMode="None",
    )


# ---------------------------------------------------------------------------
# GroupState fallback (identical relation; runs without protobuf)
# ---------------------------------------------------------------------------

_STATE_DDL = "types array<string>, counts array<bigint>, total bigint"


def _profile_group_state(key: tuple, pdfs: Iterable[pd.DataFrame], state):
    if state.exists:
        types, cnts, total = state.get
        counts = dict(zip(types, cnts))
    else:
        counts, total = {}, 0
    for pdf in pdfs:
        counts, total = update_profile(counts, total, pdf)
    state.update((list(counts.keys()), list(counts.values()), total))
    yield emit_profile(key[0], counts, total)


def _profiles_group_state(sdf: DataFrame) -> DataFrame:
    from pyspark.sql.streaming.state import GroupStateTimeout

    return sdf.groupBy("user_id").applyInPandasWithState(
        _profile_group_state,
        outputStructType=_OUT_DDL,
        stateStructType=_STATE_DDL,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def user_profiles_stream(
    spark: SparkSession, sf_dir: str, typed: bool | None = None
) -> DataFrame:
    """Unbounded plan: events → per-user typed-state profile updates.

    ``typed`` forces a branch (tests compare both where both import);
    the default follows the environment gate. Forcing ``typed=True``
    without protobuf fails at execution — callers own that check.
    """
    sdf = events_stream(spark, sf_dir)
    use_typed = HAVE_TWS if typed is None else typed
    return _profiles_typed_state(sdf) if use_typed else _profiles_group_state(sdf)


@register(
    "stream_typed_state_profile",
    oracle="""
    WITH per_type AS (
      SELECT user_id, event_type, COUNT(*) AS c FROM events GROUP BY 1, 2
    )
    SELECT user_id,
           CAST(SUM(c) AS BIGINT) AS n_events,
           COUNT(*) AS n_types,
           first(event_type ORDER BY c DESC, event_type) AS top_type
    FROM per_type GROUP BY 1
    """,
    doc="Per-user typed-state profile (Spark 4 transformWithStateInPandas "
        "when protobuf is available — MapState of event-type counts + "
        "ValueState total in RocksDB — else the applyInPandasWithState "
        "fallback computing the identical relation via the same pure "
        "update functions). After the bounded AvailableNow replay, each "
        "user's LAST emission equals the batch per-user rollup — count, "
        "distinct types, and the deterministic (count desc, type asc) "
        "favorite type — which is exactly what the oracle recomputes.",
)
def q_stream_typed_state_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    # run_to_batch pins the RocksDB provider transformWithState needs
    sink = run_to_batch(user_profiles_stream(spark, sf_dir), mode="append")
    # one emission per (user × batch touched); n_events grows monotonically,
    # so the max-by-n_events row per user is the final state
    w_last = F.struct(F.col("n_events"), F.col("n_types"), F.col("top_type"))
    return (
        sink.groupBy("user_id")
        .agg(F.max(w_last).alias("s"))
        .select(
            "user_id",
            F.col("s.n_events").alias("n_events"),
            F.col("s.n_types").alias("n_types"),
            F.col("s.top_type").alias("top_type"),
        )
    )
