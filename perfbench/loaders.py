"""The ``loader`` workload: a backlog phase and a paced phase on one
warm session.

Backlog phase (closed loop, one client): a staged backlog of
self-describing-JSON records is drained by ``streaming.loader.run_loader``
into a ``GZIP_INDEXED`` archive with a file bad-row sink, then the
archive is streamed back through the ``archive_replay`` source, once.

Paced phase (open loop): a separate generator process writes one
parquet file every 100 ms at a fixed rate; ``run_loader`` writes plain
``GZIP`` with a short trigger. Each record is timed from its due time
to the commit of the micro-batch that carried it.
"""

from __future__ import annotations

import glob
import gzip
import json
import os
import subprocess
import sys
import threading
import time
from dataclasses import dataclass, field
from datetime import datetime

from pyspark.sql import functions as F

import datagen
from checks import MultisetHash, check_backlog, check_paced
from harness import percentile

BACKLOG_RECORDS = 32_000
BACKLOG_FILES = 8
BACKLOG_FILES_PER_TRIGGER = 2
BACKLOG_TRIGGER_MS = 50  # below the batch time: batches run back to back
BACKLOG_DEADLINE_S = 60.0

PACED_RATE = 500  # records per second: well below the loader's capacity
PACED_TICK_S = 0.1
PACED_TRIGGER_MS = 250
PACED_WARMUP_S = 4.0
PACED_DEADLINE_S = 30.0

WARM_RECORDS = 400
ROLL_BYTES = 64 * 1024 * 1024


def loader_config(inp: str, out_dir: str, compression: str, trigger_ms: int, files_per_trigger: int):
    from kinesis_s3_spark.config import from_dict

    return from_dict({
        "purpose": "SELF_DESCRIBING",
        "input": {
            "stream_name": "perfbench",
            "kind": "file",
            "path": inp,
            "format": "parquet",
            # the file source takes this many files per micro-batch
            "max_records": files_per_trigger,
        },
        "output": {
            "s3": {"path": os.path.join(out_dir, "good"), "compression": compression},
            "bad": {"kind": "file", "path": os.path.join(out_dir, "bad")},
        },
        "buffer": {"time_limit_ms": trigger_ms, "byte_limit": ROLL_BYTES},
        "checkpoint_location": os.path.join(out_dir, "checkpoint"),
    })


@dataclass
class Commit:
    batch_id: int
    count: int
    bad: int
    path: str
    at: float  # epoch seconds of on_flush


@dataclass
class LoaderQuery:
    """One ``run_loader`` query and the commits its ``on_flush`` saw."""

    spark: object
    cfg: object
    name: str
    commits: list[Commit] = field(default_factory=list)
    query: object = None

    def start(self) -> "LoaderQuery":
        from kinesis_s3_spark.streaming import loader

        def on_flush(meta) -> None:
            self.commits.append(
                Commit(meta.batch_id, meta.count, meta.bad_count, meta.output_path, time.time())
            )

        self.query = loader.run_loader(self.spark, self.cfg, on_flush=on_flush, query_name=self.name)
        return self

    @property
    def committed(self) -> int:
        return sum(c.count for c in self.commits)

    @property
    def committed_bad(self) -> int:
        return sum(c.bad for c in self.commits)

    def progress(self) -> list[dict]:
        return [json.loads(p.json) for p in self.query.recentProgress]


def drain(query, deadline_s: float) -> str:
    """Wait until ``query`` has processed all available input. Returns
    "ok", "error" (it terminated with an exception), "stopped" (it was
    stopped from outside) or "stalled" (deadline passed; the query is
    then stopped). Never waits much longer than the deadline."""
    box: dict = {}

    def wait() -> None:
        try:
            query.processAllAvailable()
        except Exception as e:  # the query's own failure, reported below
            box["error"] = e

    t = threading.Thread(target=wait, name="drain", daemon=True)
    t.start()
    t.join(deadline_s)
    if t.is_alive():
        stop_quietly(query)
        t.join(15)
        return "stalled"
    if "error" in box:
        return "error"
    return "ok" if query.isActive else "stopped"


def stop_quietly(query) -> None:
    try:
        query.stop()
    except Exception as e:  # a stop timeout leaves the query to Spark's teardown
        print(f"perfbench: stopping {query.name} failed: {e}", file=sys.stderr)


def tree_bytes(root: str, suffix: str = "") -> tuple[int, int]:
    """(files, bytes) of regular files under ``root`` ending in ``suffix``."""
    n = size = 0
    for dirpath, _, files in os.walk(root):
        for f in files:
            if f.endswith(suffix) and not f.startswith("."):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, f))
    return n, size


def gz_lines(root: str) -> int:
    n = 0
    for f in glob.glob(os.path.join(root, "**", "*.gz"), recursive=True):
        with gzip.open(f, "rt", encoding="utf-8") as fh:
            n += sum(1 for _ in fh)
    return n


def _expected_row_type_col(value):
    """Row type from the generator's fixed framing, independent of the
    program's ``row_type_col`` (see datagen.expected_row_type)."""
    uri = F.regexp_extract(value, r'^\{"schema":"iglu:([^"]+)"', 1)
    return F.when(uri == "", F.lit("unpartitioned")).otherwise(
        F.regexp_replace(uri, r"^([^/]+)/([^/]+)/([^/]+)/([0-9]+)-.*$", "$1.$2/$3-$4")
    )


def multiset_hash_cols(value) -> list:
    dec = "decimal(38,0)"
    return [
        F.count(value).alias("n"),
        F.sum(F.xxhash64(value).cast(dec)).alias("xx"),
        F.sum(F.hash(value).cast(dec)).alias("murmur"),
    ]


def _hash_of(row) -> MultisetHash:
    return MultisetHash(int(row["n"]), int(row["xx"] or 0), int(row["murmur"] or 0))


def staged_hash(spark, inp: str) -> MultisetHash:
    df = spark.read.parquet(inp).where(F.col("value").isNotNull())
    return _hash_of(df.agg(*multiset_hash_cols(F.col("value").cast("string"))).collect()[0])


@dataclass
class Replay:
    status: str
    seconds: float
    progress: list[dict]
    query_id: str
    replayed: MultisetHash
    misrouted: int


def replay(spark, root: str, checkpoint: str, name: str) -> Replay:
    """Stream the archive under ``root`` back through the
    ``archive_replay`` source into a consumer that keeps only an
    order-insensitive digest of the values and a count of rows whose
    recovered row type differs from the generator's."""
    from kinesis_s3_spark.sources.replay import register_replay_source

    register_replay_source(spark)
    parts: list = []

    def consume(df, batch_id) -> None:
        v = F.col("value")
        parts.append(df.agg(
            *multiset_hash_cols(v),
            F.sum(F.when(F.col("row_type") != _expected_row_type_col(v), 1).otherwise(0))
            .alias("bad_route"),
        ).collect()[0])

    t0 = time.perf_counter()
    rq = (
        spark.readStream.format("archive_replay").option("path", root).load()
        .writeStream.queryName(name).foreachBatch(consume)
        .option("checkpointLocation", checkpoint)
        .start()
    )
    status = drain(rq, BACKLOG_DEADLINE_S)
    seconds = time.perf_counter() - t0
    progress = [json.loads(p.json) for p in rq.recentProgress]
    stop_quietly(rq)
    return Replay(
        status=status,
        seconds=seconds,
        progress=progress,
        query_id=str(rq.id),
        replayed=MultisetHash(
            sum(int(p["n"]) for p in parts),
            sum(int(p["xx"] or 0) for p in parts),
            sum(int(p["murmur"] or 0) for p in parts),
        ),
        misrouted=sum(int(p["bad_route"] or 0) for p in parts),
    )


def setup_loader(h, seed: int) -> float:
    """The cold set-up: launch Spark and emit one small batch through
    ``sinks.emitter.emit``, which runs the emit path's jobs, compiles its
    code and starts Python workers. Returns its seconds (``setup_s``)."""
    from kinesis_s3_spark.sinks.emitter import emit

    warm_in = h.path("warm-in")
    datagen.stage_backlog(warm_in, seed + 1, WARM_RECORDS, 1)

    def warm_emit(spark) -> None:
        emit(spark.read.parquet(warm_in), 0,
             loader_config(warm_in, h.path("warm-emit"), "GZIP_INDEXED", 1000, 1))

    return h.setup(warm_emit)


# ------------------------------------------------------------ backlog


@dataclass
class BacklogRun:
    status: str
    drain_s: float
    replay_s: float
    commits: list[Commit]
    progress: list[dict]
    replay_progress: list[dict]
    query_ids: list[str]
    replayed: MultisetHash
    misrouted: int
    bad_lines: int
    archive_files: int
    archive_bytes: int
    gz_bytes: int
    root: str


def drain_and_replay(spark, tracer, inp: str, out_dir: str, name: str) -> BacklogRun:
    """Drain the staged input through ``run_loader``, then replay the
    archive it wrote."""
    from kinesis_s3_spark.sinks import badrows_sink, indexed_gzip
    from kinesis_s3_spark.streaming import loader

    cfg = loader_config(inp, out_dir, "GZIP_INDEXED", BACKLOG_TRIGGER_MS, BACKLOG_FILES_PER_TRIGGER)
    with tracer.patch(loader, "emit", "sinks.emit", "sinks"), tracer.patch(
        indexed_gzip, "write_indexed_gzip_grouped", "sinks.indexed_write", "sinks"
    ), tracer.patch(badrows_sink.FileBadRowSink, "store_batch", "sinks.bad_store", "sinks"):
        with tracer.span("streaming.drain", "streaming") as sid, tracer.adopting(sid):
            t0 = time.perf_counter()
            lq = LoaderQuery(spark, cfg, name).start()
            status = drain(lq.query, BACKLOG_DEADLINE_S)
            drain_s = time.perf_counter() - t0
    progress = lq.progress()
    ids = [str(lq.query.id)]
    stop_quietly(lq.query)

    replayed, misrouted, replay_s, replay_progress = MultisetHash(0, 0, 0), 0, 0.0, []
    root = os.path.dirname(lq.commits[0].path) if lq.commits else ""
    if status == "ok" and root:
        with tracer.span("sources.replay", "sources"):
            rp = replay(spark, root, os.path.join(out_dir, "replay-checkpoint"), f"{name}-replay")
        ids.append(rp.query_id)
        if rp.status != "ok":
            status = f"replay {rp.status}"
        replayed, misrouted = rp.replayed, rp.misrouted
        replay_s, replay_progress = rp.seconds, rp.progress

    files, size = tree_bytes(os.path.join(out_dir, "good"))
    gz_files, gz_size = tree_bytes(os.path.join(out_dir, "good"), ".gz")
    return BacklogRun(
        status=status,
        drain_s=drain_s,
        replay_s=replay_s,
        commits=list(lq.commits),
        progress=progress,
        replay_progress=replay_progress,
        query_ids=ids,
        replayed=replayed,
        misrouted=misrouted,
        bad_lines=gz_lines(os.path.join(out_dir, "bad")),
        archive_files=gz_files,
        archive_bytes=size,
        gz_bytes=gz_size,
        root=root,
    )


def backlog_phase(h, tracer, seed: int, records: int = BACKLOG_RECORDS) -> dict:
    """Closed loop on a warm session: drain the staged backlog, replay
    the archive it wrote, and check both."""
    staged = datagen.stage_backlog(h.path("backlog"), seed, records, BACKLOG_FILES)
    staged["hash"] = staged_hash(h.spark, h.path("backlog"))
    h.rss.arm()
    r = drain_and_replay(h.spark, tracer, h.path("backlog"), h.path("drain"), "perfbench-backlog")
    peak_rss = h.rss.disarm()
    committed = sum(c.count for c in r.commits)
    failed = 0 if r.status == "ok" else records - committed
    problems = check_backlog(
        generated=records,
        nulls=staged["nulls"],
        expected=staged["hash"],
        committed_good=committed - sum(c.bad for c in r.commits),
        committed_bad=sum(c.bad for c in r.commits),
        bad_lines=r.bad_lines,
        replayed=r.replayed,
        misrouted=r.misrouted,
        failed=failed,
    )
    if r.status != "ok":
        problems.append(f"loader query {r.status}")
    return {
        "ops_per_s": backlog_ops_per_s(r) if r.status == "ok" else 0.0,
        "peak_rss_mb": peak_rss,
        "attempted": records,
        "failed": failed,
        "problems": problems,
        "run": r,
        "staged": staged,
        "input": h.path("backlog"),
    }


def backlog_ops_per_s(r: BacklogRun) -> float:
    """Records per second of the loader's plus the replay's trigger
    execution time, from the queries' own progress: the cost of a record
    written and read back. Query start and stop, which a continuously
    running loader never pays, stay out."""
    work_ms = sum(p["durationMs"].get("triggerExecution", 0)
                  for p in busy(r.progress) + busy(r.replay_progress))
    return sum(c.count for c in r.commits) / max(1e-3, work_ms / 1e3)


def busy(progress: list[dict]) -> list[dict]:
    """The progress entries of micro-batches that carried rows."""
    return [p for p in progress if p["numInputRows"] > 0]


def epoch(iso: str) -> float:
    """Epoch seconds of a progress timestamp."""
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


# -------------------------------------------------------------- paced


def read_committed(commits: list[Commit]) -> tuple[list[tuple[int, int, int]], int, int]:
    """Read every committed good row back: (seq, due_ns, batch_id) per
    row, the number of rows under the wrong row-type prefix, and the
    payload bytes read."""
    rows, misrouted, size = [], 0, 0
    for c in commits:
        for f in glob.glob(os.path.join(c.path, "row_type=*", "row_subtype=*", "*.gz")):
            rel = os.path.relpath(f, c.path).split(os.sep)
            rt, st = rel[0].split("=", 1)[1], rel[1].split("=", 1)[1]
            where = rt if st == "-" else f"{rt}/{st}"
            with gzip.open(f, "rt", encoding="utf-8") as fh:
                for line in fh:
                    payload = line.rstrip("\n")
                    size += len(payload.encode())
                    if datagen.expected_row_type(payload) != where:
                        misrouted += 1
                    seq, due = datagen.parse_seq(payload)
                    rows.append((seq, due, c.batch_id))
    return rows, misrouted, size


def paced_phase(h, tracer, seed: int, seconds: float, kill_after_s: float | None = None) -> dict:
    """Open loop on a warm session: the generator process starts, the
    loader follows its first file, and records due in the ``seconds``
    after the warm-up are timed from due time to commit."""
    from kinesis_s3_spark.sinks import badrows_sink
    from kinesis_s3_spark.streaming import loader

    spark = h.spark

    inp, out_dir = h.path("paced-in"), h.path("paced-out")
    t0 = time.time() + 0.5
    win_start, win_end = t0 + PACED_WARMUP_S, t0 + PACED_WARMUP_S + seconds
    report = h.path("pacer.json")
    pacer = subprocess.Popen([
        sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "pacer.py"),
        "--out", inp, "--seed", str(seed), "--rate", str(PACED_RATE), "--tick", str(PACED_TICK_S),
        "--start", repr(t0), "--stop", repr(win_end), "--report", report,
    ])
    h.rss.exclude.add(pacer.pid)
    status = "ok"
    try:
        # the parquet file source needs one file to learn the schema
        while not glob.glob(os.path.join(inp, "*.parquet")):
            if pacer.poll() is not None or time.time() > t0 + 30:
                raise RuntimeError("the generator produced no input")
            time.sleep(0.02)
        cfg = loader_config(inp, out_dir, "GZIP", PACED_TRIGGER_MS, 100_000)
        with tracer.patch(loader, "emit", "sinks.emit", "sinks"), tracer.patch(
            badrows_sink.FileBadRowSink, "store_batch", "sinks.bad_store", "sinks"
        ), tracer.span("streaming.paced", "streaming") as sid, tracer.adopting(sid):
            lq = LoaderQuery(spark, cfg, "perfbench-paced").start()
            if kill_after_s is not None:
                threading.Timer(kill_after_s, lambda: stop_quietly(lq.query)).start()
            while time.time() < win_start:
                time.sleep(0.05)
            h.rss.arm()
            while pacer.poll() is None:
                if not lq.query.isActive:
                    status = "error" if lq.query.exception() else "stopped"
                    break
                time.sleep(0.1)
            peak_rss = h.rss.disarm()
            if status == "ok":
                status = drain(lq.query, PACED_DEADLINE_S)
    finally:
        if pacer.poll() is None:
            pacer.kill()
        pacer.wait()
    progress = lq.progress()
    stop_quietly(lq.query)

    gen = {"records": 0, "nulls": [], "late_ms": []}
    if os.path.exists(report):
        with open(report) as fh:
            gen = json.load(fh)
    generated = gen["records"] if status == "ok" else _generated_so_far(inp)
    rows, misrouted, payload_bytes = read_committed(lq.commits)
    committed = lq.committed
    failed = 0 if status == "ok" else max(0, generated - committed)
    problems = check_paced(
        generated=generated,
        null_seqs=gen["nulls"],
        committed_seqs=[r[0] for r in rows],
        committed_bad=lq.committed_bad,
        bad_lines=gz_lines(os.path.join(out_dir, "bad")),
        misrouted=misrouted,
        failed=failed,
    )
    if status != "ok":
        problems.append(f"loader query {status}")

    commit_at = {c.batch_id: c.at for c in lq.commits}
    win_ns = (int(win_start * 1e9), int(win_end * 1e9))
    lat = [(commit_at[b] - due / 1e9) * 1e3 for _, due, b in rows if win_ns[0] <= due < win_ns[1]]
    # goodput: every committed record over the span from the first
    # record's due time to the last commit; it falls when the loader lags
    # (reported in the summary: at a fixed offered rate it says little)
    span = (max(c.at for c in lq.commits) - t0) if lq.commits else 0.0
    return {
        "goodput_per_s": committed / span if span > 0 else 0.0,
        "latency_p50_ms": percentile(lat, 50),
        "latency_p90_ms": percentile(lat, 90),
        "peak_rss_mb": peak_rss,
        "attempted": generated,
        "failed": failed,
        "problems": problems,
        "commits": list(lq.commits),
        "rows": rows,
        "progress": progress,
        "query_ids": [str(lq.query.id)],
        "window": (win_start, win_end),
        "late_ms": gen["late_ms"],
        "payload_bytes": payload_bytes,
        "input": inp,
        "out": out_dir,
    }


def run_loader_workload(h, tracer, seed: int, seconds: float) -> dict:
    """The ``loader`` workload: set-up, then the backlog phase (closed
    loop: ``ops_per_s``) and the paced phase (open loop, a
    ``seconds`` window: ``latency_p50_ms``)."""
    setup_s = setup_loader(h, seed)
    backlog = backlog_phase(h, tracer, seed)
    paced = paced_phase(h, tracer, seed, seconds) if not backlog["failed"] else None
    return {
        "workload": "loader",
        "setup_s": setup_s,
        "ops_per_s": backlog["ops_per_s"],
        "latency_p50_ms": paced["latency_p50_ms"] if paced else 0.0,
        "latency_p90_ms": paced["latency_p90_ms"] if paced else 0.0,
        "peak_rss_mb": max(backlog["peak_rss_mb"], paced["peak_rss_mb"] if paced else 0.0),
        "attempted": backlog["attempted"] + (paced["attempted"] if paced else 0),
        "failed": backlog["failed"] + (paced["failed"] if paced else 0),
        "problems": backlog["problems"] + (paced["problems"] if paced else []),
        "backlog": backlog,
        "paced": paced,
    }


def _generated_so_far(inp: str) -> int:
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(f).num_rows for f in glob.glob(os.path.join(inp, "*.parquet")))

