"""The on-disk format of every durable streaming store — one
implementation of the publish protocol the ingesters share.

Layout of a versioned store under ``root``::

    root/v{n}/<tables>     one directory per published version
    root/_CURRENT          names the live version ("v{n}")
    root/epochs/{e}        ledger marker: epoch e committed as "v{n}"
                           ("" for an empty epoch) — ledgered stores only

and of an epoch sink under ``out``::

    out/epoch={e}/         one parquet dir per micro-batch, COMMITTED iff
                           Spark's job commit left its _SUCCESS marker

Readers only ever follow ``_CURRENT``, and the pointer is replaced
atomically (hidden tmp file + ``os.replace``) after the version dir is
complete, so a reader sees the old version or the new one, never a
partial write. Versions are named two ways: the merge stores
(:class:`VersionedMergeStore`) and the DSIR model publish
``v{cur+1}``; the stores that republish a whole corpus each epoch
(index, text and vector dedup) publish ``v{epoch_id}`` and detect a
replay by the pointer already naming the epoch's version.

Crash windows of a ledgered merge store, in protocol order (merge a
batch into the current version → write ``v{n}`` → ledger → flip):

* ``v{n}`` partly or fully written, ledger NOT written → the pointer
  still names ``v{n-1}``, so nothing saw the merge; the replay sweeps
  the orphan dir and rebuilds it from the unchanged ``v{n-1}``;
* ledger written, pointer NOT flipped → the replay finds the ledger
  and must not merge again (a SUM merge would double the epoch). It
  re-flips the pointer to the ledger's version when that version's
  table is complete — the torn state heals without a re-merge;
* both written → the replay is a no-op.

The ledger lands BEFORE the flip because only a merge that is
idempotent by algebra (HLL's register-wise max) tolerates the
opposite order; the count-min and histogram SUM merges do not.

Crash windows of an epoch sink: a dir without ``_SUCCESS`` is a
partial write — it is excluded from :func:`read_epochs` and swept and
rewritten when the epoch replays (:func:`open_epoch`); a dir with
``_SUCCESS`` makes the replay a no-op.

At real scale the pointer becomes a transactional-table commit and
the ledger its commit log; the windows stay the same.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter

_CURRENT = "_CURRENT"
_SUCCESS = "_SUCCESS"


# -- the version pointer ----------------------------------------------


def current_version(root: str) -> int | None:
    """The live version number under ``root`` (None before the first
    publish)."""
    ptr = os.path.join(root, _CURRENT)
    if not os.path.exists(ptr):
        return None
    with open(ptr) as f:
        return int(f.read().strip()[1:])


def current_path(root: str) -> str | None:
    """The live version's directory (None before the first publish)."""
    v = current_version(root)
    return None if v is None else os.path.join(root, f"v{v}")


def replace_into(path: str, write: Callable[[str], None]) -> None:
    """Atomically (re)write ``path``: ``write(tmp)`` fills a temp file
    beside it, which then replaces ``path``. The temp name starts with
    ".", so Spark's file listing never picks up a half-written file."""
    head, tail = os.path.split(path)
    tmp = os.path.join(head, f".{tail}.tmp")
    write(tmp)
    os.replace(tmp, path)


def mark(path: str, text: str) -> None:
    """Atomically (re)write a small marker file."""

    def write(tmp: str) -> None:
        with open(tmp, "w") as f:
            f.write(text)

    replace_into(path, write)


def flip(root: str, version: int) -> None:
    """Publish ``v{version}``: the pointer swap readers see."""
    mark(os.path.join(root, _CURRENT), f"v{version}")


def sweep(path: str) -> None:
    """Remove a directory if present — an orphan version or a partial
    epoch dir left by a crash."""
    if os.path.exists(path):
        shutil.rmtree(path)


def version_dir(root: str, version: int) -> str:
    """The directory to write ``v{version}`` into, with any orphan
    from a pre-flip crash swept first."""
    out = os.path.join(root, f"v{version}")
    sweep(out)
    return out


def complete(path: str) -> bool:
    """Did the Spark write of ``path`` commit?"""
    return os.path.exists(os.path.join(path, _SUCCESS))


# -- the epoch sink ---------------------------------------------------


def open_epoch(root: str, epoch_id: int) -> str | None:
    """The dir to write epoch ``epoch_id`` into, or None when that
    epoch already committed (the replay no-op). A partial dir is
    swept first."""
    out = os.path.join(root, f"epoch={int(epoch_id)}")
    if complete(out):
        return None
    sweep(out)
    return out


def read_epochs(spark: SparkSession, root: str) -> DataFrame | None:
    """Every COMMITTED epoch under ``root`` (``epoch`` surfaces as a
    partition column); partial dirs are left out. None when no epoch
    has committed."""
    committed = [
        os.path.join(root, e)
        for e in os.listdir(root)
        if e.startswith("epoch=") and complete(os.path.join(root, e))
    ]
    if not committed:
        return None
    return spark.read.option("basePath", root).parquet(*committed)


# -- stream wiring ----------------------------------------------------


def foreach_batch(stream: DataFrame, fn, checkpoint: str) -> DataStreamWriter:
    """``stream`` → ``fn(batch, epoch_id)`` per micro-batch, with the
    checkpoint that makes epoch ids stable across restarts."""
    return (
        stream.writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )


class BatchSink:
    """Mixin for anything with ``process_batch(batch, epoch_id)``."""

    def start(self, stream: DataFrame, checkpoint: str):
        """Attach to a stream; returns the StreamingQuery."""
        return foreach_batch(stream, self.process_batch, checkpoint).start()


class VersionedStore(BatchSink):
    """A directory of ``v{n}`` versions behind the ``_CURRENT``
    pointer."""

    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _current_path(self) -> str | None:
        return current_path(self.root)

    def _read(self, table: str) -> DataFrame | None:
        path = self._current_path()
        if path is None:
            return None
        return self.spark.read.parquet(os.path.join(path, table))


class VersionedMergeStore(VersionedStore):
    """A constant-size summary table merged with each micro-batch's
    sketch, exactly once per epoch through the ledger. Subclasses set
    ``table`` and ``_merge`` (``merge(prev, sketch)``) and supply
    :meth:`_sketch`."""

    table: str
    _merge: Callable[[DataFrame, DataFrame], DataFrame]

    def __init__(self, spark: SparkSession, store_root: str, col: str) -> None:
        super().__init__(spark, store_root)
        self.col = col
        os.makedirs(os.path.join(store_root, "epochs"), exist_ok=True)

    def _sketch(self, batch: DataFrame) -> DataFrame:
        raise NotImplementedError

    def process_batch(self, batch: DataFrame, epoch_id: int) -> None:
        ledger = os.path.join(self.root, "epochs", str(int(epoch_id)))
        cur = current_version(self.root)
        if os.path.exists(ledger):
            # replay of a committed epoch: never re-merge, but heal a
            # pointer left behind the ledger's complete version
            with open(ledger) as f:
                named = f.read().strip()
            if named:
                v = int(named[1:])
                table = os.path.join(self.root, f"v{v}", self.table)
                if complete(table) and (cur is None or cur < v):
                    flip(self.root, v)
            return
        if batch.isEmpty():
            # commit against the current version so a replay of this
            # empty epoch stays a no-op
            mark(ledger, "" if cur is None else f"v{cur}")
            return
        sketch = self._sketch(batch)
        prev = self._read(self.table)
        merged = sketch if prev is None else self._merge(prev, sketch)
        version = 0 if cur is None else cur + 1
        out = version_dir(self.root, version)
        merged.coalesce(1).write.parquet(os.path.join(out, self.table))
        mark(ledger, f"v{version}")
        flip(self.root, version)
