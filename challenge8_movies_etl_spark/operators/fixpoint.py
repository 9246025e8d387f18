"""Round state of the package's driver loops, owned in one place: which
rounds are materialized (eager ``localCheckpoint``, so a round's plan
does not re-run the chain before it), the release of the state each
materialized round supersedes, and convergence counted on the round's
own checkpoint job."""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation


def release(df: DataFrame) -> None:
    """Free the storage behind ``df``. ``unpersist()`` frees a
    ``persist()``ed frame but not a ``localCheckpoint`` result: that
    frame's plan is a ``LogicalRDD`` over its own persisted RDD, which
    neither ``unpersist()`` nor ``catalog.clearCache()`` touches."""
    plan = df._jdf.queryExecution().logical()
    if plan.nodeName() == "LogicalRDD":
        plan.rdd().unpersist(False)
    else:
        df.unpersist()


def _frames(state) -> list:
    return [f for f in (state if isinstance(state, tuple) else (state,))
            if isinstance(f, DataFrame)]


def _among(f, frames) -> bool:
    return any(f is g for g in frames)


def fixpoint(init, step, rounds: int, *, every: int = 1,
             observe=(), changed=None):
    """Fold ``state = step(state, i)`` over ``i in range(rounds)`` and
    return the final state, materialized.

    The state is a DataFrame or a tuple of them (``None`` allowed).
    Rounds where ``(i + 1) % every == 0``, and the last, are
    materialized: each frame the round did not carry over unchanged is
    checkpointed in tuple order, then the frames this loop checkpointed
    that the new state dropped are released. ``init`` and the returned
    state are the caller's to release.

    With ``changed``, the aggregate Columns ``observe`` ride each
    materialized round's checkpoint job as an ``Observation`` (one-frame
    state only), and ``changed(stat, prev)`` maps that round's observed
    row and the previous one (``None`` at first) to how much the state
    moved: the loop stops at the first 0, and raises if none comes.
    """
    state, owned, prev = init, [], None
    for i in range(rounds):
        nxt = step(state, i)
        if (i + 1) % every and i < rounds - 1:
            state = nxt
            continue
        if changed is not None:
            obs = Observation()
            nxt = nxt.observe(obs, *observe)
        kept = _frames(state)
        ck = {id(f): f.localCheckpoint(eager=True)
              for f in _frames(nxt) if not _among(f, kept)}
        state = (tuple(ck.get(id(f), f) for f in nxt)
                 if isinstance(nxt, tuple) else ck.get(id(nxt), nxt))
        live = _frames(state)
        for f in owned:
            if not _among(f, live):
                release(f)
        owned = [f for f in owned if _among(f, live)] + list(ck.values())
        if changed is not None:
            stat = obs.get
            if changed(stat, prev) == 0:
                return state
            prev = stat
    if changed is not None:
        raise RuntimeError(f"fixpoint: state still changing after "
                           f"{rounds} rounds — raise the cap")
    return state
