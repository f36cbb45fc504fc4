"""One round loop for every iterative frame operator (connected
components, PageRank, BFS, SSSP, pointer doubling, label propagation):
the driver builds round i+1 on round i's output, which one plan cannot
express.

Each round is pinned by a local checkpoint, which truncates the lineage:
without it the plan nests every round and Catalyst analysis grows with
the round count (on a real cluster swap in ``checkpoint()`` for fault
tolerance). A loop that runs to a fixed point observes a ``signature`` on
each round's eager checkpoint: an Observation is filled by the job that
runs its plan, so no round runs a separate action. A fixed-round loop
pins lazily, so a round's last stage runs inside the next round's job;
an eager pin there would add a job per round.

A frame that several rounds read is pinned lazily like the state, unless
a round's join plans better against a cache: a checkpoint drops a
``repartition(n, col)``'s hash partitioning (``ops.graph._by_src``), and
behind one label propagation's join becomes a sort-merge join that
shuffles the edge list every round. Those frames are cached and passed
as ``working``.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def state_hash(*cols: str) -> list[Column]:
    """(row count, xor of xxhash64 over ``cols``) of a distinct row set.
    bit_xor is order-independent and cannot overflow (sum would, under
    ANSI mode); a collision masking a real change needs two distinct row
    SETS with equal count AND equal xor, probability ~2^-64 per round."""
    return [
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64(*cols)), F.lit(0)).alias("h"),
    ]


def pin(
    df: DataFrame, signature: Sequence[Column] = (), eager: bool = False
) -> tuple[DataFrame, tuple]:
    """``df`` behind a local checkpoint, and the row of ``signature``
    observed by the checkpoint's own job (``()`` without one). A
    signature needs the job, so it makes the pin eager."""
    if not signature:
        return df.localCheckpoint(eager=eager), ()
    obs = Observation()
    df = df.observe(obs, *signature).localCheckpoint(eager=True)
    return df, tuple(obs.get.values())


def rounds(
    state: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    max_iter: int,
    signature: Sequence[Column] = (),
    prev: tuple | None = None,
    working: Sequence[DataFrame] = (),
) -> DataFrame:
    """Run ``state = step(state, i)`` for ``i`` in ``range(max_iter)`` and
    return the final state. With a ``signature`` the loop stops at the
    first round whose observed row repeats the previous one, and raises
    ``RuntimeError`` if none does. ``prev`` is the initial state's row when
    the caller pinned it with :func:`pin`; otherwise it is pinned here.
    ``working`` is unpersisted once the final state is materialized (the
    last round is then pinned eagerly), or when a step raises."""
    try:
        if prev is None:
            state, prev = pin(state, signature)
        for i in range(max_iter):
            last = i == max_iter - 1
            state, cur = pin(step(state, i), signature, bool(working) and last)
            if signature and cur == prev:
                return state
            prev = cur
        if signature:
            raise RuntimeError(f"no fixed point within {max_iter} rounds")
        return state
    finally:
        for df in working:
            df.unpersist()
