"""Block lifetime for the iterative operators: one scope owns every table
an operator call pins.

``localCheckpoint(eager=True)`` truncates lineage (an iterative plan that
references the previous round more than once otherwise grows
exponentially) but registers blocks that ``DataFrame.unpersist`` does not
free. Its scan carries no partitioning (``UnknownPartitioning(0)`` under
AQE), so a key join against a checkpoint shuffles it again; a persisted
``repartition`` layout does keep its hash partitioning. A
``CheckpointScope`` records the persistent-RDD ids each checkpoint
registers, so an operator states only WHICH tables live how long:

* ``scope.ckpt(df, replaces=prev)`` eagerly checkpoints ``df`` and frees
  the superseded generation ``prev`` (a frame or a tuple of frames), so a
  loop holds at most two generations of each table;
* ``scope.ckpt(df, observe={name: agg})`` also returns the dict of those
  aggregates over ``df``'s rows, computed by the checkpoint job itself;
* ``scope.persist(df)`` pins a layout (an edge table every round joins);
* ``scope.keep(df)`` leaves the blocks of a checkpoint that backs the
  operator's result live past the scope.

Leaving the ``with`` block, by return or by raise, frees everything else,
so no exit path can leak a table or free the one the caller reads.

Observed metrics are the one way an operator reads a driver scalar (a
count, a mass, a norm) off a table it just materialized: one fresh
``pyspark.sql.Observation`` rides on ``df`` into the eager
``localCheckpoint``, so the aggregate is computed in the checkpoint's own
result stage, every task's update is applied exactly once, and
``Observation.get`` returns at once because the action it waits on has
already run. A separate ``agg().collect()`` or ``isEmpty()`` over the
checkpoint would cost its own Spark jobs (two under AQE) for one number.
"""

from __future__ import annotations

from pyspark.sql import Observation


class CheckpointScope:
    def __init__(self, sc):
        self._sc = sc
        self._live = {}       # id(checkpointed frame) -> (frame, rdd ids)
        self._persisted = []

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        for df in self._persisted:
            df.unpersist()
        for _, ids in self._live.values():
            self._free(ids)

    def _rdd_ids(self):
        return set(self._sc._jsc.getPersistentRDDs().keySet().toArray())

    def _free(self, ids):
        jmap = self._sc._jsc.getPersistentRDDs()
        for i in ids:
            if jmap.containsKey(i):  # context GC may have collected it
                jmap.get(i).unpersist()

    def ckpt(self, df, replaces=None, observe=None):
        """Eagerly localCheckpoint ``df``; then free ``replaces``. A
        replaced frame this scope did not checkpoint (a lazy round-0
        projection) owns no blocks and frees nothing. With ``observe``
        ({name: aggregate Column}) returns ``(frame, {name: value})``."""
        if observe:
            obs = Observation()
            df = df.observe(obs, *(c.alias(k) for k, c in observe.items()))
        before = self._rdd_ids()
        out = df.localCheckpoint(eager=True)
        self._live[id(out)] = (out, self._rdd_ids() - before)
        for prev in replaces if isinstance(replaces, tuple) else (replaces,):
            self._free(self._live.pop(id(prev), (None, ()))[1])
        return (out, obs.get) if observe else out

    def persist(self, df):
        out = df.persist()
        self._persisted.append(out)
        return out

    def keep(self, df):
        """Leave the blocks of ``df``, a frame ``ckpt`` returned, live."""
        del self._live[id(df)]
        return df
