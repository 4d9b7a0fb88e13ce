"""The superstep loop: libgrape-lite's ``Worker::Query`` re-expressed.

Reference lifecycle (grape/worker/worker.h:87-133): ``ctx.Init`` → ``PEval``
→ repeat ``IncEval`` until the message manager's global
count-of-messages-sent is zero (default_message_manager.h:324-350). Here
:meth:`IterationDriver.run` is that one loop, and every iterative operator
(pagerank, pagerank_local, cdlp, wcc, sssp, bfs, run_vertex_program)
supplies only its per-round algebra:

* one superstep  = one Spark job over the state DataFrame,
* termination    = ``active == 0``, an aggregate the operator names that
  rides the materializing job (the exact Spark analog of "no worker sent
  any message"), or the round budget for fixed-round apps,
* ``ForceContinue`` = the operator's ``active`` aggregate staying > 0,
* per-round logging (worker.h:106-127) = the lineage/metrics rows this
  driver records per superstep and writes to a table.

Two scale-critical responsibilities the reference gets for free from
mutable arrays but Spark does not:

1. **Lineage truncation** (SURVEY.md §4.13): every materialized superstep
   state is pinned and its plan cut (:func:`libgrape_lite_spark.transients.pin`,
   a serialized localCheckpoint — the one storage level of every engine
   table), otherwise the logical plan doubles per iteration and the
   driver OOMs around step ~30.
2. **Resumability** (north rule): every ``checkpoint_every`` supersteps the
   state DataFrame is written to ``<checkpoint_dir>/<run>/step=<k>`` as
   parquet (stand-in for an Iceberg table — same layout, transactional
   commit via _SUCCESS marker). :meth:`IterationDriver.run` restarts a
   killed run from the max committed superstep.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession

from libgrape_lite_spark.transients import pin, register


@dataclass
class SuperstepMetric:
    run_id: str
    superstep: int
    active: int | None  # None: a fixed-round app observes no stop count
    t_ms: float
    extra: dict = field(default_factory=dict)


class IterationDriver:
    """Owns the superstep loop: materialization, termination, resume,
    checkpoints, metrics. Every state it materializes is pinned serialized
    (:func:`~libgrape_lite_spark.transients.pin`); there is no storage
    knob.

    Usage inside an operator::

        drv = driver or IterationDriver(spark)

        def superstep(state, step):
            new_state = ...  # one round of lazy DataFrame algebra
            return new_state, {"active": F.count(F.when(F.col("changed"), True))}

        state = drv.run(lambda: init_state, superstep, max_rounds=max_rounds, op="wcc")
    """

    def __init__(
        self,
        spark: SparkSession,
        run_id: str | None = None,
        checkpoint_dir: str | None = None,
        checkpoint_every: int = 5,
        metrics_path: str | None = None,
        verbose: bool = False,
    ) -> None:
        self.spark = spark
        self.run_id = run_id or uuid.uuid4().hex[:12]
        self.checkpoint_dir = checkpoint_dir
        self.checkpoint_every = max(1, checkpoint_every)
        self.metrics_path = metrics_path
        self.verbose = verbose
        self.metrics: list[SuperstepMetric] = []
        # one-time setup decisions operators record for observability
        # (e.g. pagerank's auto hub-salt verdict) — kept out of `metrics`
        # so per-superstep counts stay exact
        self.info: dict = {}
        # (state DataFrame, pinned JVM RDD ids captured at materialize)
        self._persisted: list[tuple[DataFrame, tuple[int, ...]]] = []

    # -- the loop ----------------------------------------------------------
    def run(
        self,
        init: Callable[[], DataFrame],
        superstep: Callable[[DataFrame, int], tuple[DataFrame, dict[str, Column]]],
        *,
        max_rounds: int | None = None,
        op: str,
        settle: Callable[[DataFrame, DataFrame, int, dict], tuple[DataFrame, int]]
        | None = None,
    ) -> DataFrame:
        """Drive one iterative app to its fixpoint; returns the final
        materialized state.

        Resumes from :meth:`latest_checkpoint` when one is committed,
        otherwise materializes ``init()`` as superstep 0. Each round
        ``superstep(state, step)`` returns the new lazy state plus named
        aggregate Columns; they ride the materializing job
        (:meth:`materialize_observed`) and their values go into the
        round's log ``extra``. No aggregates (a fixed-round app) = a plain
        :meth:`materialize`. ``settle(prev, state, step, observed)``, when
        given, runs after materialization and returns ``(state, active)``
        — for a stop test that needs the materialized state (set
        stability) or a between-rounds mutation. The loop stops when
        ``active`` is 0 or after ``max_rounds`` supersteps.
        """
        resumed = self.latest_checkpoint()
        if resumed is not None:
            state, step = resumed
        else:
            step = 0
            state = self.materialize(init(), step)
        while max_rounds is None or step < max_rounds:
            t0 = time.time()
            step += 1
            prev = state
            new_state, aggs = superstep(state, step)
            if aggs:
                state, observed = self.materialize_observed(
                    new_state, step, *(c.alias(k) for k, c in aggs.items())
                )
            else:
                state, observed = self.materialize(new_state, step), {}
            if settle is not None:
                state, observed["active"] = settle(prev, state, step, observed)
            active = observed.pop("active", None)
            self.log(step, active, time.time() - t0, op=op, **observed)
            if active == 0:
                break
        self.finish()
        return state

    # -- state materialization -------------------------------------------
    def materialize(self, df: DataFrame, step: int) -> DataFrame:
        """Pin + cut lineage; optionally commit a resumable checkpoint.

        :func:`~libgrape_lite_spark.transients.pin` stores the partitions
        on executors as serialized bytes and truncates the logical plan.
        On a real cluster with unreliable executors, the parquet
        checkpoint below is the durable copy.
        """
        out = pin(df)
        self._gc(keep=out)
        if self.checkpoint_dir and step % self.checkpoint_every == 0:
            self._commit_checkpoint(out, step)
        return out

    def materialize_observed(self, df: DataFrame, step: int, *aggs):
        """:meth:`materialize` + per-superstep scalars in the SAME job.

        Attaches ``DataFrame.observe`` aggregates (termination counts,
        convergence deltas) to the materializing action, so the loop no
        longer pays a second count job per superstep over the cached
        state (guide §1.2: fewer passes; r8 — measured one extra ~40-90 ms
        job per round across wcc/sssp/bfs). Returns ``(state, metrics)``
        where ``metrics`` is the alias→value dict; values are identical
        to running the same aggregates over the checkpointed state.
        """
        from pyspark.sql import Observation

        obs = Observation()
        out = self.materialize(df.observe(obs, *aggs), step)
        return out, obs.get

    def _gc(self, keep: DataFrame) -> None:
        # RDD-level release, NOT DataFrame.unpersist(): a localCheckpoint
        # pins an RDD under a LogicalRDD leaf that only an RDD-level
        # unpersist frees — df.unpersist() alone leaked one O(V) block per
        # superstep per invocation for the executor's lifetime (caught
        # runtime-wise in round 6; plans/kernels.py release_pinned
        # docstring documents the same trap for prepared layouts).
        #
        # DOUBLE BUFFERING: keep the current AND previous state, free the
        # grandparent. Operators legitimately read the previous state
        # after materializing the new one (wcc_twostar's set-stability
        # subtract, convergence-delta checks) — the same cur/next pair the
        # reference keeps per round (worker.h round structure).
        #
        # Release path (r7, measured): capture the pinned RDD ids ONCE at
        # materialize time (the plan is exactly one fresh LogicalRDD) and
        # free the grandparent with a single ``SparkContext.unpersistRDD``
        # py4j call — ~4 ms/round vs ~10 ms for the r6 per-release plan
        # walk + useless cache-manager unpersist. States whose ids could
        # not be captured fall back to that plan walk (release_pinned).
        from libgrape_lite_spark.plans.kernels import _pinned_rdd_ids, release_pinned

        self._persisted.append((keep, tuple(_pinned_rdd_ids(keep))))
        while len(self._persisted) > 2:
            old, old_ids = self._persisted.pop(0)
            if old_ids:
                self._unpersist_ids(old_ids)
            else:
                release_pinned(old)

    def _unpersist_ids(self, ids) -> None:
        try:
            jsc = self.spark.sparkContext._jsc.sc()
            for rid in ids:
                jsc.unpersistRDD(rid, False)
        except Exception:
            pass

    def _step_path(self, step: int) -> str:
        return os.path.join(self.checkpoint_dir, self.run_id, f"step={step}")

    def _commit_checkpoint(self, df: DataFrame, step: int) -> None:
        df.write.mode("overwrite").parquet(self._step_path(step))

    # -- resume ------------------------------------------------------------
    def latest_checkpoint(self) -> tuple[DataFrame, int] | None:
        """(state, superstep) of the max committed checkpoint, or None.

        A checkpoint counts as committed only if parquet's _SUCCESS marker
        exists — the kill-resume guarantee (north rule)."""
        if not self.checkpoint_dir:
            return None
        base = os.path.join(self.checkpoint_dir, self.run_id)
        if not os.path.isdir(base):
            return None
        steps = []
        for name in os.listdir(base):
            if name.startswith("step=") and os.path.exists(
                os.path.join(base, name, "_SUCCESS")
            ):
                steps.append(int(name.split("=", 1)[1]))
        if not steps:
            return None
        step = max(steps)
        return self.spark.read.parquet(self._step_path(step)), step

    # -- metrics / lineage --------------------------------------------------
    def log(self, superstep: int, active: int | None, t_sec: float, **extra) -> None:
        if active is not None:
            active = int(active)
        m = SuperstepMetric(self.run_id, superstep, active, t_sec * 1000.0, extra)
        self.metrics.append(m)
        if self.verbose:
            print(
                f"[{self.run_id}] superstep={superstep} active={active} "
                f"t={t_sec * 1000.0:.1f}ms {extra or ''}"
            )

    def finish(self) -> None:
        """Write per-superstep lineage metrics (run_id, superstep, active,
        t_ms, extra) — the 'per-partition lineage + metrics to Iceberg'
        requirement; parquet stands in for Iceberg in this sandbox.

        Also hands the FINAL materialized state to the transients registry:
        it must outlive this driver (the operator's returned DataFrame
        reads it), so it is freed by the caller's release_transients() /
        transient_scope() once the result is consumed — the same lifecycle
        as the pipeline operators' internal checkpoints."""
        for df, _ids in self._persisted:
            register(df)
        self._persisted = []
        if not self.metrics_path or not self.metrics:
            return
        rows = [
            (m.run_id, m.superstep, m.active, m.t_ms, json.dumps(m.extra))
            for m in self.metrics
        ]
        (
            self.spark.createDataFrame(
                rows, "run_id string, superstep int, active long, t_ms double, extra string"
            )
            .write.mode("append")
            .parquet(self.metrics_path)
        )
