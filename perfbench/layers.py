"""Per-layer metrics of a traced run.

Every traced run prints the same metric names. A layer the workload
does not exercise reports zeros (``operators.*`` on ``loader``;
``streaming.*``, ``sinks.*`` and ``sources.*`` on ``query_mix``).

Sources of the numbers:

- ``streaming``: ``StreamingQuery.recentProgress`` of the paced loader
  query;
- ``sinks``: spans around ``streaming.loader.emit``,
  ``sinks.indexed_gzip.write_indexed_gzip_grouped`` and
  ``FileBadRowSink.store_batch``, the commit log and the files on disk;
- ``functions``: side probes evaluating ``row_type_col`` and
  ``bad_row_json_col`` over the run's records into the noop sink;
- ``sources``: the replay query's progress, its leaf-stage tasks in the
  event log, and a timed batch ``read_archive(...).count()``;
- ``operators``: spans around each query, event-log counters by job
  group, and the RDDs each query left persisted;
- ``session``: event-log task metrics of the workload's own jobs (loader
  jobs by streaming query id, query jobs by job group).
"""

from __future__ import annotations

import time

from pyspark.sql import functions as F

import datagen
import eventlog
from harness import E2E_UNITS, median, percentile, weighted_percentile
from loaders import busy, epoch
from query_mix import QUERIES

STREAMING = ("batches", "trigger_ms_p50", "add_batch_ms_p50", "latest_offset_ms_p50",
             "get_batch_ms_p50", "wal_commit_ms_p50", "rows_per_batch_p50",
             "queue_wait_ms_p50", "idle_frac")
SESSION = ("jobs", "stages", "tasks", "executor_cpu_s", "executor_run_s",
           "shuffle_write_bytes", "shuffle_records", "spill_bytes", "gc_s")
LAYERS = ("streaming", "sinks", "functions", "sources", "operators")

UNITS = {
    "streaming.batches": "count", "streaming.rows_per_batch_p50": "rows",
    "streaming.idle_frac": "fraction",
    "sinks.emit_s": "s", "sinks.emit_ms_p50": "ms", "sinks.indexed_write_s": "s",
    "sinks.bad_store_s": "s", "sinks.good_rows": "rows", "sinks.bad_rows": "rows",
    "sinks.files_written": "count", "sinks.mean_file_kb": "KB", "sinks.archive_bytes": "bytes",
    "sinks.archive_bytes_ratio": "ratio",
    "functions.row_type_rows_per_s": "rows/s", "functions.bad_row_json_rows_per_s": "rows/s",
    "sources.replay_partitions": "count", "sources.replay_batches": "count",
    "sources.replay_plan_ms": "ms", "sources.read_archive_s": "s",
    "sources.replay_rows_per_s": "rows/s",
    "operators.leaked_rdds": "count",
    "session.jobs": "count", "session.stages": "count", "session.tasks": "count",
    "session.executor_cpu_s": "s", "session.executor_run_s": "s",
    "session.shuffle_write_bytes": "bytes", "session.shuffle_records": "count",
    "session.spill_bytes": "bytes", "session.gc_s": "s",
    "generator.late_ms_p99": "ms",
}


def metric_names() -> dict[str, str]:
    """Every per-layer metric name with its unit, in output order."""
    names = {f"streaming.{m}": UNITS.get(f"streaming.{m}", "ms") for m in STREAMING}
    for k, u in UNITS.items():
        if not k.startswith(("streaming.", "session.", "generator.", "operators.")):
            names[k] = u
    for q in QUERIES:
        names[f"operators.{q}_s"] = "s"
        names[f"operators.{q}.shuffle_bytes"] = "bytes"
        names[f"operators.{q}.tasks"] = "count"
        names[f"operators.{q}.cpu_s"] = "s"
    names["operators.leaked_rdds"] = "count"
    for m in SESSION:
        names[f"session.{m}"] = UNITS[f"session.{m}"]
    for layer in LAYERS:
        names[f"{layer}.self_s"] = "s"
    for m, u in E2E_UNITS.items():
        names[f"trace.overhead.{m}"] = u
    names["generator.late_ms_p99"] = "ms"
    return names


def _dur(progress: list[dict], key: str) -> float:
    return median([p["durationMs"].get(key, 0) for p in progress])


def streaming_metrics(segments, wall_s: float) -> dict:
    """``segments``: (progress entries, record_waits) per loader query,
    where ``record_waits(batch_id, batch_start_epoch)`` gives (queue
    waits in ms, weights) for the records of that batch. ``wall_s`` is
    the time the loader queries were measured over."""
    batches, waits, weights = [], [], []
    for progress, record_waits in segments:
        for p in busy(progress):
            batches.append(p)
            w, n = record_waits(p["batchId"], epoch(p["timestamp"]))
            waits += w
            weights += n
    trigger = sum(p["durationMs"].get("triggerExecution", 0) for p in batches) / 1e3
    return {
        "batches": len(batches),
        "trigger_ms_p50": _dur(batches, "triggerExecution"),
        "add_batch_ms_p50": _dur(batches, "addBatch"),
        "latest_offset_ms_p50": _dur(batches, "latestOffset"),
        "get_batch_ms_p50": _dur(batches, "getBatch"),
        "wal_commit_ms_p50": _dur(batches, "walCommit"),
        "rows_per_batch_p50": median([p["numInputRows"] for p in batches]),
        "queue_wait_ms_p50": weighted_percentile(waits, weights, 50),
        "idle_frac": max(0.0, 1.0 - trigger / wall_s) if wall_s > 0 else 0.0,
    }


def functions_probe(spark, inp: str) -> dict:
    """Rows per second of the two hot column expressions alone, each
    evaluated over the run's input records into the noop sink; the
    median of three evaluations."""
    from kinesis_s3_spark.functions import bad_row_json_col, row_type_col

    df = spark.read.parquet(inp).select(F.col("value").cast("string").alias("value")).cache()
    n = df.count()
    exprs = {
        "row_type_rows_per_s": row_type_col(F.col("value"), is_failed=F.col("value").isNull()),
        "bad_row_json_rows_per_s": bad_row_json_col(
            F.coalesce(F.col("value").cast("binary"), F.lit(b"")), F.array(F.lit("probe"))
        ),
    }
    out = {}
    for key, col in exprs.items():
        rates = []
        for _ in range(3):
            t0 = time.perf_counter()
            df.select(col.alias("x")).write.format("noop").mode("overwrite").save()
            rates.append(n / (time.perf_counter() - t0))
        out[key] = median(rates)
    df.unpersist()
    return out


def session_metrics(log: str | None, key_of) -> tuple[dict, dict]:
    """(whole-workload session counters, per-key counters)."""
    if log is None:
        return {m: 0 for m in SESSION}, {}
    per_key = eventlog.summarize(log, key_of)
    total = eventlog.Counters()
    for c in per_key.values():
        total.add(c)
    d = total.as_dict()
    return {m: d[m] for m in SESSION}, per_key


def collect(res: dict, h, tracer) -> dict[str, float]:
    """All per-layer metric values of a finished traced workload run,
    measured while its Spark session is still up."""
    from kinesis_s3_spark.sources.archive import read_archive

    out = {name: 0.0 for name in metric_names()}
    spark = h.spark
    workload = res["workload"]
    log = h.event_log()

    def put(prefix: str, values: dict) -> None:
        for k, v in values.items():
            out[f"{prefix}.{k}"] = float(v)

    if workload == "loader":
        backlog, paced = res["backlog"], res["paced"] or {}
        r = backlog["run"]
        query_ids = set(r.query_ids) | set(paced.get("query_ids", []))
        commits = r.commits + paced.get("commits", [])

        if paced:
            win_start, win_end = paced["window"]
            lo, hi = int(win_start * 1e9), int(win_end * 1e9)
            dues: dict[int, list[int]] = {}
            for _, due, b in paced["rows"]:
                if lo <= due < hi:
                    dues.setdefault(b, []).append(due)

            def paced_waits(b, start):
                w = [(start - d / 1e9) * 1e3 for d in dues.get(b, [])]
                return w, [1] * len(w)

            progress = [p for p in paced["progress"] if win_start <= epoch(p["timestamp"]) < win_end]
            put("streaming", streaming_metrics([(progress, paced_waits)], win_end - win_start))
            out["generator.late_ms_p99"] = percentile(paced["late_ms"], 99)

        emit_ms = [d * 1e3 for d in tracer.durations("sinks.emit")]
        put("sinks", {
            "emit_s": tracer.total("sinks.emit"),
            "emit_ms_p50": median(emit_ms),
            "indexed_write_s": tracer.total("sinks.indexed_write"),
            "bad_store_s": tracer.total("sinks.bad_store"),
            "good_rows": sum(c.count - c.bad for c in commits),
            "bad_rows": sum(c.bad for c in commits),
            "files_written": r.archive_files,
            "mean_file_kb": r.gz_bytes / max(1, r.archive_files) / 1024,
            "archive_bytes": r.archive_bytes,
            "archive_bytes_ratio": r.archive_bytes / max(1, backlog["staged"]["payload_bytes"]),
        })
        put("sources", {
            "replay_batches": len(busy(r.replay_progress)),
            "replay_plan_ms": sum(p["durationMs"].get(k, 0) for p in r.replay_progress
                                  for k in ("latestOffset", "queryPlanning", "getBatch")),
            "replay_rows_per_s": (sum(c.count - c.bad for c in r.commits) / r.replay_s
                                  if r.replay_s > 0 else 0.0),
        })
        session, per_key = session_metrics(log, lambda p: (
            eventlog.streaming_query(p) if eventlog.streaming_query(p) in query_ids else None))
        replay_id = r.query_ids[1] if len(r.query_ids) > 1 else None
        if replay_id in per_key:
            out["sources.replay_partitions"] = per_key[replay_id].leaf_tasks
        with tracer.span("sources.read_archive", "sources"):
            t0 = time.perf_counter()
            read_archive(spark, r.root, "GZIP_INDEXED").count()
            out["sources.read_archive_s"] = time.perf_counter() - t0
        with tracer.span("functions.probe", "functions"):
            put("functions", functions_probe(spark, backlog["input"]))
    else:
        def key_of(props):
            g = eventlog.job_group(props) or ""
            return g if g.startswith("perfbench:") and g != "perfbench:idle" else None

        session, per_key = session_metrics(log, key_of)
        last = len(res["passes"]) - 1
        for q in QUERIES:
            out[f"operators.{q}_s"] = median(res["times"].get(q, []))
            c = per_key.get(f"perfbench:{q}:{last}")
            if c is not None:
                out[f"operators.{q}.shuffle_bytes"] = c.shuffle_write_bytes
                out[f"operators.{q}.tasks"] = c.tasks
                out[f"operators.{q}.cpu_s"] = c.executor_cpu_s
        out["operators.leaked_rdds"] = sum(res["leaked"].values())
        probe = h.path("probe-in")
        datagen.stage_backlog(probe, 7, 20_000, 2)
        with tracer.span("functions.probe", "functions"):
            put("functions", functions_probe(spark, probe))
    put("session", session)
    for layer, s in tracer.self_time_by_layer().items():
        if f"{layer}.self_s" in out:
            out[f"{layer}.self_s"] = s
    return out
