"""Driver-local batch-id ledger shared by every continuous store in
this package (streaming/sketch.py, reservoir.py, rollup.py, dedup.py,
media_dedup.py, and any future store twin).

SINGLE-DRIVER ASSUMPTION — documented once, here, instead of per
consumer: the ledger is a plain text file next to the store, written
by the ONE driver that owns the availableNow stream. That is exactly
the deployment every CLI subcommand, registry query, and test in this
repo runs (one driver, local or cluster, per maintained store).
Multiple concurrent drivers maintaining the SAME store would race
both the ledger file and the store publish/append; that deployment
needs a transactional table format (Delta/Iceberg) or an external
coordinator, not this file.

Crash-window semantics, shared by all consumers: the store mutation
lands BEFORE the ledger write, so a crash between the two replays the
batch on restart. Swap-style stores (sketch/reservoir/rollup) either
absorb the replay as a no-op (idempotent merges: HLL max, reservoir
max-key) or as a coherent double-count (additive merges: the replayed
batch reads as having occurred twice — counts and their interpreting
totals move together). Append-style stores (dedup/media_dedup) accept
duplicated out rows as the recoverable failure — the reverse ordering
would DROP a batch instead, and loss is not recoverable. The store
swap and the ledger write are each one publish (hummingbird_spark/
commit.py), which owns the crash windows inside each.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from hummingbird_spark.commit import read_text, recover, write_text


class BatchLedger:
    """The applied-batch set for one store: a space-separated list of
    foreachBatch batch ids in `<store>.ledger`."""

    def __init__(self, store_path: str):
        self.path = store_path + ".ledger"

    def applied(self) -> list[str]:
        spark = SparkSession.active()
        recover(spark, self.path)
        return (read_text(spark, self.path) or "").split()

    def seen(self, batch_id: int | None) -> bool:
        """True when this batch was already applied (replay — skip).
        batch_id=None (a caller outside foreachBatch) is never seen
        and never recorded."""
        return batch_id is not None and str(batch_id) in self.applied()

    def record(self, batch_id: int | None) -> None:
        """Add batch_id to the ledger — after the store mutation has
        landed (see the module docstring)."""
        if batch_id is not None:
            write_text(SparkSession.active(), self.path,
                       " ".join([*self.applied(), str(batch_id)]) + " ")
