"""One round driver for the engine's iterative operators.

Connected components (graph.py), Lloyd k-means (kmeans.py, also the
IVF centroid pre-pass in similarity.py) and BPE training and encoding
(plans/curation.py) all run rounds of one shape: a step turns the
current state frame into the next one, and the next state's lineage is
truncated (session.truncate_lineage) so that round t does not re-derive
rounds 1..t-1 — without it, plans and scans grow with the round count.
``iterate`` is that loop, written once.

A converging loop passes ``until``, an aggregate Column over the state.
The driver puts it on each new state with ``DataFrame.observe`` and
truncates that state eagerly: the truncation's own job fills the
Observation, so reading the convergence value costs no job of its own
(a separate ``agg().first()`` probe would scan the state again). The
loop stops at the first round whose value equals the previous round's;
one that reaches its round cap first raises, because its state is only
partly propagated.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, Observation

from ..session import truncate_lineage


def iterate(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    *,
    rounds: int,
    until: Column | None = None,
) -> DataFrame:
    """``state = step(state)``, each new state lineage-truncated.

    Without ``until``, runs exactly ``rounds`` rounds and truncates
    lazily. With ``until``, returns the first state whose observed
    ``until`` value repeats the previous round's, and raises
    ``RuntimeError`` if ``rounds`` rounds pass without that."""
    last = object()  # no round observed yet
    for _ in range(rounds):
        nxt = step(state)
        if until is None:
            state = truncate_lineage(nxt)
            continue
        seen = Observation()
        state = truncate_lineage(
            nxt.observe(seen, until.alias("until")), eager=True)
        value = seen.get["until"]
        if value == last:
            return state
        last = value
    if until is not None:
        raise RuntimeError(
            f"fixpoint did not converge within its cap of {rounds} rounds")
    return state
