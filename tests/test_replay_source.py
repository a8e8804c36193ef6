"""Archive-replay streaming source: emit() tree → incremental stream.

The backfill contract: everything already archived is replayed once,
in batch order, with layout columns recovered; a checkpoint-restarted
query sees ONLY batches archived since (the same resume guarantee the
loader's own checkpoint gives the forward path)."""

from __future__ import annotations

import pytest

from kinesis_s3_spark.config import from_dict
from kinesis_s3_spark.sinks import emitter
from kinesis_s3_spark.sinks.emitter import emit
from kinesis_s3_spark.sources import replay
from kinesis_s3_spark.sources.replay import (
    DEFAULT_SPLIT_TARGET_BYTES,
    ArchiveReplayStreamReader,
    _PackedPartition,
    _plan_batch,
    register_replay_source,
)


def test_no_subtype_sentinel_pinned():
    """replay.py duplicates the emitter sentinel (must stay
    import-free for by-value worker pickling) — pin the equality."""
    assert replay.NO_SUBTYPE == emitter.NO_SUBTYPE

SDJ = [
    '{"schema":"iglu:com.acme1/example1/jsonschema/2-0-1","data":{"a":1}}',
    '{"schema":"iglu:com.acme2/other/jsonschema/1-0-0","data":null}',
    "plain junk",
]


def _cfg(tmp_path):
    return from_dict(
        {
            "purpose": "SELF_DESCRIBING",
            "input": {"stream_name": "t"},
            "output": {
                "s3": {"path": str(tmp_path / "out"), "compression": "GZIP"},
                "bad_path": str(tmp_path / "bad"),
            },
        }
    )


def _drain(spark, tree, checkpoint, table):
    q = (
        spark.readStream.format("archive_replay")
        .option("path", tree)
        .load()
        .writeStream.format("memory")
        .queryName(table)
        .option("checkpointLocation", checkpoint)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()


@pytest.fixture()
def tree(spark, tmp_path):
    cfg = _cfg(tmp_path)
    emit(spark.createDataFrame([(v,) for v in SDJ], "value string"), batch_id=0, cfg=cfg)
    emit(
        spark.createDataFrame([(SDJ[0],)], "value string"), batch_id=1, cfg=cfg
    )
    return str(tmp_path / "out"), cfg


def test_replay_full_tree(spark, tmp_path, tree):
    root, _ = tree
    register_replay_source(spark)
    _drain(spark, root, str(tmp_path / "ckpt"), "replay_all")
    rows = spark.sql(
        "SELECT value, batch_id, row_type FROM replay_all ORDER BY batch_id, value"
    ).collect()
    # all 3 batch-0 records are good: the schemaless one archives under
    # row_type=unpartitioned (only NULL payloads dead-letter)
    assert [r.batch_id for r in rows] == [0, 0, 0, 1]
    assert {r.value for r in rows if r.batch_id == 0} == set(SDJ)
    # combined RowType string recovered from the directory pair; bare
    # (no slash) when the subtype sentinel '-' was stored
    assert {r.row_type for r in rows} == {
        "com.acme1.example1/jsonschema-2",
        "com.acme2.other/jsonschema-1",
        "unpartitioned",
    }


def test_replay_resumes_from_checkpoint(spark, tmp_path, tree):
    """Restart sees ONLY batches archived since the checkpoint — the
    exactly-once half of the backfill contract (memory sink can't
    recover, so the durable parquet sink carries this test)."""
    root, cfg = tree
    register_replay_source(spark)
    ckpt = str(tmp_path / "ckpt2")
    sink = str(tmp_path / "sink")

    def run_once():
        q = (
            spark.readStream.format("archive_replay")
            .option("path", root)
            .load()
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination()

    run_once()
    assert spark.read.parquet(sink).count() == 4

    # a new batch lands after the first run finished
    emit(
        spark.createDataFrame([(SDJ[1],)], "value string"), batch_id=2, cfg=cfg
    )
    run_once()
    back = spark.read.parquet(sink)
    # exactly one new row: ids 0/1 are behind the checkpoint, batch 2
    # is replayed once, nothing is duplicated
    assert back.count() == 5
    assert [
        (r.batch_id, r.value)
        for r in back.filter("batch_id = 2").collect()
    ] == [(2, SDJ[1])]


def test_starting_batch_id_floor(spark, tmp_path, tree):
    root, _ = tree
    register_replay_source(spark)
    q = (
        spark.readStream.format("archive_replay")
        .option("path", root)
        .option("startingBatchId", "1")
        .load()
        .writeStream.format("memory")
        .queryName("replay_floor")
        .option("checkpointLocation", str(tmp_path / "ckpt3"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    assert [r.batch_id for r in spark.table("replay_floor").collect()] == [1]


def _planned(root, parallelism, split_target=None, lo=-1, hi=1):
    options = {"path": root}
    if split_target is not None:
        options["splitTargetBytes"] = str(split_target)
    reader = ArchiveReplayStreamReader(options, parallelism)
    return reader.partitions({"batch_id": lo}, {"batch_id": hi})


def test_partition_planning_unit(tmp_path, spark, tree):
    """Read units (one per gzip object, layout folded at plan time) are
    packed into min(units, max(parallelism, ceil(bytes / target)))
    InputPartitions, each unit in exactly one of them, largest first
    into the lightest partition."""
    import math
    import os

    root, _ = tree
    units = _plan_batch(root, 0)
    assert len(units) == 3
    assert {u.row_type for u in units} == {
        "com.acme1.example1/jsonschema-2",
        "com.acme2.other/jsonschema-1",
        "unpartitioned",
    }
    assert all(u.path.endswith(".gz") and u.batch_id == 0 for u in units)

    units += _plan_batch(root, 1)
    assert len(units) == 4
    sizes = {u.path: os.path.getsize(u.path) for u in units}
    total = sum(sizes.values())
    for parallelism, target in [
        (1, None), (2, None), (3, None), (100, None),
        (1, 1), (1, -(-total // 2)), (2, -(-total // 3)),
    ]:
        parts = _planned(root, parallelism, target)
        by_bytes = math.ceil(total / (target or DEFAULT_SPLIT_TARGET_BYTES))
        assert len(parts) == min(len(units), max(parallelism, by_bytes))
        planned = [u for p in parts for u in p.units]
        assert sorted(u.path for u in planned) == sorted(sizes)
        assert all(u.start < 0 for u in planned)  # whole objects
        # largest-first into the lightest partition: no partition holds
        # more than the lightest one plus one unit
        loads = [sum(sizes[u.path] for u in p.units) for p in parts]
        assert max(loads) - min(loads) <= max(sizes.values())
    # the batch-id range bounds the plan: (0, 1] is batch 1 alone
    only_1 = _planned(root, 4, lo=0, hi=1)
    assert [(u.batch_id, u.row_type) for p in only_1 for u in p.units] == [
        (1, "com.acme1.example1/jsonschema-2")
    ]


def test_replay_parity_with_read_archive(spark, tmp_path):
    """A GZIP_INDEXED tree in the default writer layout (4 writers per
    partition, several row types, 3 batches) replays to exactly the
    (value, batch_id, row_type) multiset that the batch reader
    read_archive returns, packed into min(units, defaultParallelism)
    partitions — the session's parallelism reaches the planner worker."""
    from collections import Counter

    from kinesis_s3_spark.sources.archive import read_archive

    cfg = from_dict(
        {
            "purpose": "SELF_DESCRIBING",
            "input": {"stream_name": "t"},
            "output": {
                "s3": {
                    "path": str(tmp_path / "out"),
                    "compression": "GZIP_INDEXED",
                },
                "bad_path": str(tmp_path / "bad"),
            },
        }
    )
    for batch_id in range(3):
        records = [
            f'{{"schema":"iglu:com.v{i % 3}/e{i % 2}/jsonschema/1-0-{batch_id}",'
            f'"data":{{"i":{i},"b":{batch_id}}}}}'
            for i in range(60)
        ] + [f"junk-{batch_id}-{i}" for i in range(5)]
        emit(
            spark.createDataFrame([(v,) for v in records], "value string"),
            batch_id,
            cfg,
        )
    root = str(tmp_path / "out")
    expected = Counter(
        tuple(r)
        for r in read_archive(spark, root, "GZIP_INDEXED")
        .select("value", "batch_id", "row_type")
        .collect()
    )
    assert sum(expected.values()) == 3 * 65
    assert len({rt for _v, _b, rt in expected}) > 3

    n_units = sum(len(_plan_batch(root, b)) for b in range(3))
    parallelism = spark.sparkContext.defaultParallelism
    assert n_units > parallelism  # packing has something to do

    register_replay_source(spark)
    got, n_parts = Counter(), []

    def consume(df, _batch_id):
        n_parts.append(df.rdd.getNumPartitions())
        got.update(tuple(r) for r in df.collect())

    q = (
        spark.readStream.format("archive_replay")
        .option("path", root)
        .load()
        .writeStream.foreachBatch(consume)
        .option("checkpointLocation", str(tmp_path / "ckpt_parity"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    assert got == expected
    assert n_parts == [min(n_units, parallelism)]


def test_all_bad_batch_plans_one_noop_partition(spark, tmp_path):
    """A batch directory with no good objects (every record of the
    batch dead-lettered; emit() itself writes no directory then, but a
    finished batch left with only its ``_SUCCESS`` marker looks the
    same) plans its single empty partition; the query commits that
    microbatch and moves on to the next batch."""
    import os

    cfg = _cfg(tmp_path)
    root = str(tmp_path / "out")
    os.makedirs(os.path.join(root, "batch_id=0"))
    open(os.path.join(root, "batch_id=0", "_SUCCESS"), "w").close()
    assert _plan_batch(root, 0) == []
    assert _planned(root, 4, lo=-1, hi=0) == [_PackedPartition([])]

    register_replay_source(spark)
    ckpt = str(tmp_path / "ckpt_bad")
    # requireComplete: batch 1 is written while the query runs
    q = (
        spark.readStream.format("archive_replay")
        .option("path", root)
        .option("requireComplete", "true")
        .load()
        .writeStream.format("memory")
        .queryName("replay_bad")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        assert spark.table("replay_bad").count() == 0
        assert os.path.exists(os.path.join(ckpt, "commits", "0"))

        emit(spark.createDataFrame([(SDJ[0],)], "value string"), 1, cfg)
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    assert [
        (r.value, r.batch_id) for r in spark.table("replay_bad").collect()
    ] == [(SDJ[0], 1)]


def _indexed_cfg(tmp_path):
    return from_dict(
        {
            "purpose": "SELF_DESCRIBING",
            "input": {"stream_name": "t"},
            "output": {
                "s3": {
                    "path": str(tmp_path / "out"),
                    "compression": "GZIP_INDEXED",
                    "partition_for_purpose": False,
                    "writers_per_partition": 1,
                },
                "bad_path": str(tmp_path / "bad"),
            },
            # one big object per writer (no byte-limit roll): the split
            # tests need few large indexed objects, not many small ones
            "buffer": {"byte_limit": 64 * 1024 * 1024},
        }
    )


def test_indexed_object_splits_into_partitions(spark, tmp_path):
    """A single large GZIP_INDEXED object plans into N>1 mid-file
    partitions whose union is byte-identical to the object — the two
    r5 features composed (VERDICT r5 task #4)."""
    from kinesis_s3_spark.sources.replay import _read_index_points, _split_ranges

    cfg = _indexed_cfg(tmp_path)
    rows = [f"record-{i:06d}|{'x' * 64}" for i in range(2500)]
    emit(spark.createDataFrame([(v,) for v in rows], "value string"), 0, cfg)
    root = str(tmp_path / "out")

    # default target: monolithic objects stay one partition each
    whole = [p for p in _plan_batch(root, 0) if p.path]
    # tiny target: the same object splits at sync boundaries
    parts = [p for p in _plan_batch(root, 0, split_target_bytes=512) if p.path]
    n_objects = len({p.path for p in parts})
    assert len(whole) == n_objects
    assert len(parts) > n_objects  # genuinely split mid-file
    assert all(p.start >= 0 and p.end > p.start for p in parts)

    # ranges tile each object exactly: starts/ends chain from first
    # sync offset to total_bytes
    by_path = {}
    for p in parts:
        by_path.setdefault(p.path, []).append((p.start, p.end))
    for path, ranges in by_path.items():
        ranges.sort()
        offsets, total = _read_index_points(path + ".index")
        assert ranges[0][0] == offsets[0]
        assert ranges[-1][1] == total
        assert all(a[1] == b[0] for a, b in zip(ranges, ranges[1:]))

    # the streaming query with the small target reproduces every record
    register_replay_source(spark)
    q = (
        spark.readStream.format("archive_replay")
        .option("path", root)
        .option("splitTargetBytes", "512")
        .load()
        .writeStream.format("memory")
        .queryName("replay_split")
        .option("checkpointLocation", str(tmp_path / "ckpt_split"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    got = [r.value for r in spark.table("replay_split").collect()]
    assert sorted(got) == sorted(rows)


def test_index_point_reader_pinned_to_sink(spark, tmp_path):
    """replay's inlined index parser (import-free for by-value worker
    pickling) stays behavior-identical to the sink's read_index."""
    from kinesis_s3_spark.sinks.indexed_gzip import read_index, write_indexed_file
    from kinesis_s3_spark.sources.replay import _read_index_points

    path = str(tmp_path / "pin.txt.gz")
    write_indexed_file(path, (f"r{i}" for i in range(350)), sync_every=100)
    points, _n, total = read_index(path + ".index")
    offsets, total2 = _read_index_points(path + ".index")
    assert offsets == [off for _rec, off in points]
    assert total == total2


def test_require_complete_hides_unfinished_batch(spark, tmp_path):
    """requireComplete=true: a batch directory without the _SUCCESS
    marker (mid-write) is invisible; it appears once the marker lands
    — the live-tail-safe mode (ADVICE r5)."""
    import os
    import shutil

    cfg = _indexed_cfg(tmp_path)
    emit(spark.createDataFrame([("a",), ("b",)], "value string"), 0, cfg)
    emit(spark.createDataFrame([("c",)], "value string"), 1, cfg)
    root = str(tmp_path / "out")
    # simulate batch 1 mid-write: marker absent
    marker = os.path.join(root, "batch_id=1", "_SUCCESS")
    assert os.path.exists(marker)  # the indexed sink writes it
    os.remove(marker)

    register_replay_source(spark)

    def drain(name, ckpt):
        q = (
            spark.readStream.format("archive_replay")
            .option("path", root)
            .option("requireComplete", "true")
            .load()
            .writeStream.format("parquet")
            .option("path", str(tmp_path / "sinkc"))
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination()

    ckpt = str(tmp_path / "ckptc")
    drain("replay_c1", ckpt)
    assert sorted(
        r.value for r in spark.read.parquet(str(tmp_path / "sinkc")).collect()
    ) == ["a", "b"]

    # the writer finishes batch 1 -> marker lands -> next run sees it
    open(marker, "w").close()
    drain("replay_c2", ckpt)
    assert sorted(
        r.value for r in spark.read.parquet(str(tmp_path / "sinkc")).collect()
    ) == ["a", "b", "c"]
