"""Materialization barriers for iterative / self-joined plans.

Two distinct plan shapes need an explicit materialization point:

  * self-joins — a plan consumed on BOTH sides of a join re-runs its
    upstream pipeline twice without a barrier (dedup banding, SimHash
    pairing);
  * iterative algorithms — connected components and Lloyd refinement
    rebuild a DataFrame every round; without cutting lineage each round,
    the plan tree grows exponentially.

``localCheckpoint`` is the right barrier for a single JVM (this sandbox)
but is EXECUTOR-LOCAL and not fault-tolerant: on a real cluster a lost
executor invalidates the checkpointed blocks and kills a 10-round CC job
at round 9. Every operator that needs a barrier therefore takes an
injectable ``materializer``; pass :class:`ScratchTableMaterializer` (or a
reliable-checkpoint / Iceberg-scratch-table equivalent) for cluster jobs:

    store = TableStore("/scratch/jobs/cc-2024-01-01")
    cc = connected_components(edges,
                              materializer=ScratchTableMaterializer(store))

Reference analog: softcite_kb materializes every stage into ArangoDB
collections (Readme.md:55-145) — durable by construction; this module is
where that durability choice lives here.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame

# A function that returns a materialized (lineage-cut, re-readable)
# equivalent of its input DataFrame.
Materializer = Callable[[DataFrame], DataFrame]


def local_checkpoint_materializer(df: DataFrame) -> DataFrame:
    """Single-JVM default: executor-local checkpoint (eager — iterative
    callers probe the result immediately, lazy would double-run the
    round's plan: once for the probe, once for the checkpoint)."""
    return df.localCheckpoint(eager=True)


class ScratchTableMaterializer:
    """Durable barrier: persist each round to a scratch snapshot table and
    read it back — survives executor loss (the files are on the store's
    filesystem, not in executor block managers).

    Each call writes a fresh table name; ``TableStore`` retires old
    snapshots itself, and the whole scratch root is disposable after the
    job (drop the directory). Works with any object exposing
    ``write(df, name)`` / ``read(spark, name)`` — ``storage.TableStore``
    here, an Iceberg-catalog shim on a cluster.
    """

    def __init__(self, store, prefix: str = "scratch") -> None:
        self.store = store
        self.prefix = prefix
        self._n = 0

    def __call__(self, df: DataFrame) -> DataFrame:
        name = f"{self.prefix}_{self._n:04d}"
        self._n += 1
        self.store.write(df, name)
        return self.store.read(df.sparkSession, name)
