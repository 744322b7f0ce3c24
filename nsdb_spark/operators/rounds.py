"""The round driver of the iterative operators (the graph family,
connected components, BPE training).

Every such operator is a loop over a state frame: build the next state
from the last one plus a few loop invariants, cap the plan depth with a
localCheckpoint so round N does not re-execute rounds 1..N-1, repeat.
`Rounds` owns the parts they share:

- the loop: the initial state and every round's state are
  localCheckpointed, and each round ends in one action. In the fixed
  form that action is the eager checkpoint. In the `until` form the
  checkpoints are lazy and the operator's own driver-side read of the
  state materializes them: the convergence test (connected components'
  changed flag, star contraction's edge signature) or, in BPE, the next
  round's best-pair collect;
- the layout of a loop invariant: hash-partitioned on its join key into
  `sc.defaultParallelism` partitions. An explicit count is exempt from
  AQE coalescing, so a few-MB edge set is not collapsed to a handful of
  partitions that every round's join then runs on, and each round's
  join reuses the layout instead of re-exchanging the invariant;
- the pins: every frame pinned through it is unpersisted when the `with`
  block exits, also when the operator raises. A frame the caller had
  already cached is used as it is and left cached.

Checkpointed states are not pins: Spark drops their blocks once the
frames built on them are garbage-collected.
"""
from __future__ import annotations

from typing import Callable

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession


class Rounds:
    """Pins, layout and round loop of one iterative operator call."""

    def __init__(self, spark: SparkSession):
        self._parts = spark.sparkContext.defaultParallelism
        self._pins: list[DataFrame] = []
        #: whether the last `until` run stopped on its test
        self.settled = False

    def __enter__(self) -> Rounds:
        return self

    def __exit__(self, *exc) -> None:
        while self._pins:
            self._pins.pop().unpersist()

    def layout(self, df: DataFrame, *keys: str) -> DataFrame:
        """`df` hash-partitioned on `keys` into the loop's partition count."""
        return df.repartition(self._parts, *keys)

    def pin(self, df: DataFrame, *keys: str) -> DataFrame:
        """`df` (laid out on `keys` when given) cached until the block exits."""
        if keys:
            df = self.layout(df, *keys)
        if df.storageLevel == StorageLevel.NONE:
            self._pins.append(df.persist())
        return df

    def run(
        self,
        state: DataFrame,
        step: Callable[[DataFrame], DataFrame],
        rounds: int,
        until: Callable[[DataFrame], bool] | None = None,
    ) -> DataFrame:
        """`state` after `rounds` applications of `step`, or after the
        first round whose new state passes `until` (then `settled`)."""
        eager = until is None
        state = state.localCheckpoint(eager=eager)
        self.settled = False
        for _ in range(rounds):
            state = step(state).localCheckpoint(eager=eager)
            if until is not None and until(state):
                self.settled = True
                break
        return state
