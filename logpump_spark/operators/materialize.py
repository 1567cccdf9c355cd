"""One lineage-truncation point for every bounded intermediate the
engine materializes.

One session conf, ``logpump.reliableCheckpoint``, decides where the
blocks live.  Off (the default), ``localCheckpoint`` keeps them on the
executors at no extra I/O; an executor lost after materialization fails
the query instead of recomputing.  On, a reliable ``checkpoint()``
writes them to ``sparkContext.setCheckpointDir`` (replicated storage on
a cluster), so long jobs survive executor loss at the cost of one
durable write.  Both forms materialize the same rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_CONF_KEY = "logpump.reliableCheckpoint"


def materialize(df: DataFrame, eager: bool = False) -> DataFrame:
    """Materialize a bounded intermediate, truncating lineage.

    Reliable mode needs ``sparkContext.setCheckpointDir`` and raises
    here, not at the first action, when none is set.  The subtree is
    planned with AQE on: ``checkpoint(eager=False)`` then runs the
    upstream shuffle stages at the call, at plan construction.  Planning
    without AQE measured 1.2-3.5x slower (OPTIMIZATION_r16.md).
    """
    spark = df.sparkSession
    if spark.conf.get(_CONF_KEY, "false").lower() != "true":
        return df.localCheckpoint(eager=eager)
    if spark.sparkContext.getCheckpointDir() is None:
        raise RuntimeError(
            f"{_CONF_KEY}=true needs "
            "sparkContext.setCheckpointDir(<replicated path>) — "
            "a reliable checkpoint has nowhere to write"
        )
    return df.checkpoint(eager=eager)
