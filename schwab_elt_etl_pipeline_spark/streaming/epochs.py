"""The epoch ledger: the one owner of the ``_epoch`` stamp on streaming state.

The streaming legs keep their state in ``ParquetTable``s written through
``insert_new`` and stamp each row with the foreachBatch epoch (batch id)
that wrote it. Two kinds of table carry the stamp:

- a **delta ledger** holds one delta row per (key, epoch) and serves the
  fold of its deltas. :func:`write_delta` puts the stamp in the insert key,
  so a replayed epoch inserts nothing; the epoch is required and >= 0.
- a **claim index** holds one row per key, stamped by :func:`stamp` with
  the epoch that claimed it. The key alone guards the insert; the stamp
  lets a replayed epoch tell its own claims from older ones
  (:func:`exclude_own`). ``epoch=None`` means direct batch use: the row
  stays seen under every epoch.

NULL is the one base marker. :func:`consolidate` folds a table to base rows
stamped NULL, which every epoch sees and no delta can key-collide with.
Consolidate only past the streaming checkpoint, with no live writer: a
replayed epoch cannot tell its own folded rows from older ones, so a delta
ledger would count it twice and a claim index would not reproduce the
epoch's output. See ARCHITECTURE.md, "Epoch-stamped state".
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from schwab_elt_etl_pipeline_spark.sources.warehouse import ParquetTable

EPOCH = "_epoch"


def stamp(df: DataFrame, epoch: int | None) -> DataFrame:
    """``df`` with the epoch stamp appended as its last column (NULL when
    ``epoch`` is None)."""
    return df.withColumn(EPOCH, F.lit(epoch).cast("long"))


def is_stamped(df: DataFrame) -> bool:
    return EPOCH in df.columns


def write_delta(
    table: ParquetTable, delta: DataFrame, keys: Sequence[str], epoch: int
) -> int:
    """Append one epoch's delta rows to a ledger: stamp them and
    ``insert_new`` on ``keys`` plus the stamp. Returns the rows inserted.

    A missing or negative epoch raises ``ValueError`` before anything is
    written: a NULL stamp would match a base row (or another NULL delta)
    under ``insert_new``'s null-safe anti-join and drop the delta."""
    if epoch is None or epoch < 0:
        raise ValueError(f"a ledger delta needs an epoch >= 0, got {epoch}")
    return table.insert_new(stamp(delta, epoch), keys=[*keys, EPOCH])


def exclude_own(df: DataFrame, epoch: int | None) -> DataFrame:
    """The rows of a stamped table that ``epoch`` did not write, so a
    replayed epoch sees the state its first delivery saw. NULL-stamped rows
    always stay; with no ``epoch``, or no stamp column, every row stays."""
    if epoch is None or not is_stamped(df):
        return df
    return df.filter(~F.col(EPOCH).eqNullSafe(F.lit(epoch)))


def consolidate(table: ParquetTable, fold: Callable[[DataFrame], DataFrame]) -> int:
    """Rewrite ``table`` as ``fold`` of its current rows, stamped NULL.

    ``fold`` is the table's own reduction, the one its reader serves, so
    reads are the same before and after. Each column is cast back to its
    on-disk type in on-disk order: re-aggregation widens sums, and a drifted
    schema would break later appends into the same version dir. A table
    without a stamp column is rewritten as folded.

    Returns the committed version; on a missing or empty table nothing is
    written and the current version (0 when missing) is returned. The commit
    goes through ``ParquetTable.commit_rewrite``, so a write that landed
    after the read raises :class:`ConcurrentWriteConflict` and leaves the
    table as it was. A write that lands while the commit itself is writing
    is not seen, so the precondition stays: no live writer.
    """
    base = table.current_version()
    if base is None:
        return 0
    files = set(table.data_files(base))
    cur = table.read(base)
    if cur.isEmpty():
        return base
    folded = fold(cur).select(
        *[
            (F.lit(None) if f.name == EPOCH else F.col(f.name))
            .cast(f.dataType)
            .alias(f.name)
            for f in cur.schema.fields
        ]
    )
    return table.commit_rewrite(folded, base, files)
