"""Archive-replay streaming source — backfill an emit() tree as a stream.

The reference pipeline is one-directional: Kinesis → buffer → S3
objects (``KinesisS3Emitter.scala:65-86``). When a downstream consumer
needs the history again (new warehouse loader, reprocessing after a
schema fix), reference users replay the S3 archive by hand — S3DistCp
into a fresh Kinesis stream, or ad-hoc scripts. This module makes
replay a first-class *source*: a Spark 4 Python DataSource
(``pyspark.sql.datasource``) named ``archive_replay`` that streams an
emit() output tree back out in batch_id order, incrementally — a
restarted query resumes from its checkpoint and only sees batches that
arrived since.

Design (scale notes):

- **Offsets are batch ids.** The emitter writes one ``batch_id=N``
  directory per flushed buffer, atomically-ish (overwrite-on-replay,
  emitter.py:26). ``latestOffset`` = max batch id present; a
  microbatch covers ``(start, end]`` — so progress is tracked per
  archived batch, exactly the granularity the writer produced.
- **Planning is driver-side, reading is executor-side.** The driver
  only *lists* (one dirent per batch/row_type — thousands of entries,
  not data) and plans read units: one per gzip object, or one per
  sync-point range of an indexed object (below). Units are then packed
  largest-first into ``n`` InputPartitions, ``n = min(units,
  max(parallelism, ceil(bytes / splitTargetBytes)))`` with
  ``parallelism`` the session's ``defaultParallelism``; each partition
  decompresses its units one after another on an executor. A Python
  data-source task costs about 75 ms of fixed overhead, while decoding
  one ~25 KB archive object in Python takes 1-2 ms: on a 4-core VM,
  packing a 152-object backlog into 4 tasks instead of 152 cut its
  replay by about 11 s. Replaying a 100 TB archive is still bounded by
  executor count, not the driver — the byte term grows ``n`` with the
  archive.
- **Indexed objects split mid-file.** When an object carries the
  ``GZIP_INDEXED`` ``.index`` sidecar (sinks/indexed_gzip.py), the
  planner chops its sync points into ~``splitTargetBytes``-sized
  ranges, each its own read unit — each range raw-inflates
  independently, so a batch of few huge objects parallelizes across
  executors instead of one task per object. ``splitTargetBytes`` is
  the cap on bytes per read unit.
- **Finished archives only.** ``latestOffset`` advances to the max
  batch directory present and partitions are the objects present at
  planning time — a ``batch_id=N`` directory still being written
  when observed would replay partially and never be revisited. The
  emitter's sinks all leave a ``_SUCCESS`` marker on completion;
  pass ``requireComplete=true`` to make the reader treat unmarked
  trailing batches as not-yet-arrived (the live-tail-safe mode).
- **Layout is recovered, not re-parsed.** ``row_type``/``row_subtype``
  directory names are folded back into the reference's combined
  RowType partition string (``vendor.name/format-model``,
  RowType.scala:28) at planning time, so the read path ships plain
  (path, batch_id, row_type) triples.

This reader targets GZIP trees (the reference's default serializer);
for parquet trees use the batch reader ``sources.archive.read_archive``
— parquet is already splittable and incremental replay of it is just a
file-source stream.
"""

from __future__ import annotations

import heapq
import os
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

# sinks.emitter.NO_SUBTYPE, duplicated (tests pin the equality): this
# module must not reference other kinesis_s3_spark modules — it is
# cloudpickled BY VALUE into Python data-source workers (see
# register_replay_source), and a cross-module import would drag a
# by-reference dependency back in, breaking any driver whose workers
# don't have the package on sys.path.
NO_SUBTYPE = "-"

REPLAY_SCHEMA = "value string, batch_id bigint, row_type string"


@dataclass
class _GzUnit:
    """One read unit: a whole gzip object (``start < 0``) or, for
    indexed objects, the compressed byte range ``[start, end)``
    beginning at a full-flush sync point."""

    path: str
    batch_id: int
    row_type: str
    start: int = -1
    end: int = -1

    def nbytes(self) -> int:
        if self.start >= 0:
            return self.end - self.start
        return os.path.getsize(self.path)


@dataclass
class _PackedPartition(InputPartition):
    """One Spark task: the read units it decompresses in turn."""

    units: list[_GzUnit]


# default compressed-bytes-per-split when an object has an .index
# sidecar — the Hadoop-input-split shape: a handful of fat ranges per
# object, not one task per 100-record sync block
DEFAULT_SPLIT_TARGET_BYTES = 32 * 1024 * 1024


def _read_index_points(index_path: str) -> tuple[list[int], int]:
    """Sync-point byte offsets + total compressed bytes from a
    ``.index`` sidecar. Behavior-pinned to
    sinks/indexed_gzip.py:read_index (tests assert equality) but
    inlined: this module must stay import-free for by-value worker
    pickling (see register_replay_source)."""
    offsets: list[int] = []
    total_bytes = -1
    with open(index_path) as fh:
        for line in fh:
            parts = line.rstrip("\n").split("\t")
            if parts[0] == "total":
                total_bytes = int(parts[2])
            else:
                offsets.append(int(parts[1]))
    if total_bytes < 0:
        raise ValueError(f"{index_path}: missing 'total' line (truncated index?)")
    if not offsets:
        # a range starting at byte 0 would include the gzip member header,
        # which the raw-deflate (-15) reader cannot parse — an index with
        # no sync points is corrupt, not "one big split"
        raise ValueError(f"{index_path}: no sync-point offsets (corrupt index?)")
    return offsets, total_bytes


def _split_ranges(
    offsets: list[int], total_bytes: int, target: int
) -> list[tuple[int, int]]:
    """Chop ascending sync offsets into contiguous [start, end) ranges
    of >= ``target`` compressed bytes each (the last takes the tail)."""
    ranges: list[tuple[int, int]] = []
    start = offsets[0]
    for off in offsets[1:]:
        if off - start >= target:
            ranges.append((start, off))
            start = off
    ranges.append((start, total_bytes))
    return ranges


def _list_batch_ids(root: str) -> list[int]:
    """Batch ids present under ``root`` (``batch_id=N`` children)."""
    try:
        entries = os.listdir(root)
    except FileNotFoundError:
        return []
    ids = []
    for name in entries:
        if name.startswith("batch_id="):
            try:
                ids.append(int(name.split("=", 1)[1]))
            except ValueError:
                continue
    return sorted(ids)


def _combined_row_type(type_dir: str, subtype_dir: str) -> str:
    """Fold the two partition dirs back into RowType.scala:28's
    combined string (``vendor.name/format-model``; bare for
    unpartitioned / reading_error)."""
    t = type_dir.split("=", 1)[1]
    s = subtype_dir.split("=", 1)[1]
    return t if s == NO_SUBTYPE else f"{t}/{s}"


def _plan_batch(
    root: str,
    batch_id: int,
    split_target_bytes: int = DEFAULT_SPLIT_TARGET_BYTES,
) -> list[_GzUnit]:
    """Read units for ``batch_id=N``: one per gzip object (mirroring
    the emitter's one-object-per-row_type layout), except that objects
    carrying a ``GZIP_INDEXED`` ``.index`` sidecar are split into
    ~``split_target_bytes`` sync-aligned ranges — the mid-file
    parallelism the sidecar exists to provide. Units are packed into
    InputPartitions by :func:`_pack`. Reading the sidecar is a
    driver-side dirent-scale cost (a few hundred bytes per object)."""
    parts: list[_GzUnit] = []
    batch_dir = os.path.join(root, f"batch_id={batch_id}")
    try:
        type_dirs = sorted(os.listdir(batch_dir))
    except FileNotFoundError:
        return parts
    for td in type_dirs:
        if not td.startswith("row_type="):
            continue
        for sd in sorted(os.listdir(os.path.join(batch_dir, td))):
            if not sd.startswith("row_subtype="):
                continue
            row_type = _combined_row_type(td, sd)
            leaf = os.path.join(batch_dir, td, sd)
            for f in sorted(os.listdir(leaf)):
                if not f.endswith(".gz"):
                    continue
                path = os.path.join(leaf, f)
                index = path + ".index"
                if os.path.exists(index):
                    offsets, total = _read_index_points(index)
                    for start, end in _split_ranges(
                        offsets, total, split_target_bytes
                    ):
                        parts.append(
                            _GzUnit(path, batch_id, row_type, start, end)
                        )
                else:
                    parts.append(_GzUnit(path, batch_id, row_type))
    return parts


def _pack(
    units: list[_GzUnit], parallelism: int, split_target_bytes: int
) -> list[_PackedPartition]:
    """Pack read units into ``min(len(units), max(parallelism,
    ceil(total_bytes / split_target_bytes)))`` partitions, each unit
    (largest first) going to the currently lightest partition. Fewer,
    fuller tasks: a task's fixed cost dwarfs decoding a small object."""
    sized = sorted(((u.nbytes(), u) for u in units), key=lambda t: -t[0])
    total = sum(size for size, _u in sized)
    n = min(len(sized), max(parallelism, -(-total // split_target_bytes)))
    lightest = [(0, i) for i in range(n)]  # (load, partition) min-heap
    bins: list[list[_GzUnit]] = [[] for _ in range(n)]
    for size, u in sized:
        load, i = lightest[0]
        bins[i].append(u)
        heapq.heapreplace(lightest, (load + size, i))
    return [_PackedPartition(b) for b in bins]


def _read_unit(unit: _GzUnit):
    """The unit's records as (line, batch_id, row_type) rows."""
    if unit.start >= 0:
        # indexed mid-file range: every sync offset is a
        # byte-aligned full-flush record boundary, so the raw
        # deflate bytes in [start, end) decode to exactly that
        # range's records with no state from any other range
        # (behavior-pinned to sinks/indexed_gzip.py:read_split)
        import zlib

        with open(unit.path, "rb") as fh:
            fh.seek(unit.start)
            raw = fh.read(unit.end - unit.start)
        d = zlib.decompressobj(-15)
        out = d.decompress(raw)
        if not d.eof:
            out += d.flush()
        text = out.decode("utf-8")
        for line in text.split("\n")[:-1] if text else []:
            yield (line, unit.batch_id, unit.row_type)
        return
    import gzip

    # stream the member line-by-line (constant memory) instead of
    # loading the whole decompressed object
    with gzip.open(unit.path, "rt", encoding="utf-8") as fh:
        for line in fh:
            yield (
                line[:-1] if line.endswith("\n") else line,
                unit.batch_id,
                unit.row_type,
            )


class ArchiveReplayStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict, parallelism: int) -> None:
        path = options.get("path")
        if not path:
            raise ValueError("archive_replay requires the 'path' option")
        self._root = path
        # replay everything by default; startingBatchId=N skips ids < N
        self._floor = int(options.get("startingBatchId", 0)) - 1
        self._split_target = int(
            options.get("splitTargetBytes", DEFAULT_SPLIT_TARGET_BYTES)
        )
        self._parallelism = parallelism
        # live-tail safety: only consider batch dirs whose write
        # completed (the emitter's _SUCCESS marker). Off by default —
        # finished archives (the documented target) have no race.
        self._require_complete = (
            str(options.get("requireComplete", "false")).lower() == "true"
        )

    def _visible_batch_ids(self) -> list[int]:
        ids = _list_batch_ids(self._root)
        if self._require_complete:
            ids = [
                b
                for b in ids
                if os.path.exists(
                    os.path.join(self._root, f"batch_id={b}", "_SUCCESS")
                )
            ]
        return ids

    def initialOffset(self) -> dict:
        return {"batch_id": self._floor}

    def latestOffset(self) -> dict:
        ids = self._visible_batch_ids()
        latest = ids[-1] if ids else self._floor
        return {"batch_id": max(latest, self._floor)}

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        """The microbatch's read units across all its batch ids,
        packed by :func:`_pack`."""
        lo, hi = start["batch_id"], end["batch_id"]
        units: list[_GzUnit] = []
        for bid in self._visible_batch_ids():
            if lo < bid <= hi:
                units.extend(_plan_batch(self._root, bid, self._split_target))
        # Spark requires >= 1 partition per microbatch; an id-range
        # with no surviving objects (all-bad batch) yields one no-op.
        return _pack(units, self._parallelism, self._split_target) or [
            _PackedPartition([])
        ]

    def read(self, partition: _PackedPartition):
        for unit in partition.units:
            yield from _read_unit(unit)

    def commit(self, end: dict) -> None:
        pass


class ArchiveReplayDataSource(DataSource):
    """``spark.readStream.format("archive_replay").option("path", tree)``."""

    @classmethod
    def name(cls) -> str:
        return "archive_replay"

    def schema(self) -> str:
        return REPLAY_SCHEMA

    # the planner's minimum partition count; register_replay_source
    # registers a subclass carrying the session's defaultParallelism
    parallelism = 1

    def streamReader(self, schema):  # noqa: ARG002 - fixed schema
        return ArchiveReplayStreamReader(self.options, self.parallelism)


def register_replay_source(spark) -> None:
    """Register the source on a session (idempotent per session).

    Registers this module for cloudpickle BY-VALUE serialization
    first: Python data-source planner/reader workers unpickle the
    DataSource class in a fresh interpreter that has pyspark but not
    necessarily this package on sys.path (``addPyFile`` does not reach
    the streaming source-planner worker — verified empirically). With
    by-value pickling the class definition travels inside the pickle
    itself and the workers need no import.

    ``register`` pickles the class when called, so the session's
    ``defaultParallelism`` (the planner's minimum partition count) must
    be on the class before the call — a value set afterwards never
    reaches the planner worker. A per-session subclass carries it."""
    import sys

    from pyspark import cloudpickle

    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    source = type(
        ArchiveReplayDataSource.__name__,
        (ArchiveReplayDataSource,),
        {"parallelism": spark.sparkContext.defaultParallelism},
    )
    spark.dataSource.register(source)

