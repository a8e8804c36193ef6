"""Spark-backed tests: each output check fails on an injected defect, a
loader query that dies or is killed ends its workload with failures
counted instead of hanging, and query_mix's cleanup makes a repeated
query do the same work.

Run with ``python3 -m pytest perfbench/tests -q`` from the repository
root (about three minutes on four cores)."""

from __future__ import annotations

import time

import numpy as np
import pytest
from pyspark.sql import functions as F

import datagen
import eventlog
import loaders
import query_mix
from tracing import Tracer

SEED = 5
RECORDS = 2_000


def victim_seq() -> int:
    """A record whose payload is self-describing JSON."""
    payloads = datagen.RecordMaker(SEED).payloads(np.arange(RECORDS, dtype=np.int64))
    return next(i for i, p in enumerate(payloads) if p and p.startswith("{") and i > 10)


def backlog(h) -> dict:
    h.start_spark()
    return loaders.backlog_phase(h, Tracer("t", False), SEED, records=RECORDS)


def patch_emit(monkeypatch, rewrite):
    from kinesis_s3_spark.streaming import loader

    original = loader.emit

    def emit(batch_df, batch_id, cfg, **kw):
        return original(rewrite(batch_df, batch_id), batch_id, cfg, **kw)

    monkeypatch.setattr(loader, "emit", emit)


def test_clean_backlog_passes(harness):
    res = backlog(harness)
    assert res["problems"] == []
    assert res["failed"] == 0 and res["ops_per_s"] > 0


def test_dropped_record_fails_backlog(harness, monkeypatch):
    v = victim_seq()
    patch_emit(monkeypatch, lambda df, b: df.where(F.col("seq") != v) if b == 0 else df)
    assert backlog(harness)["problems"]


def test_duplicated_record_fails_backlog(harness, monkeypatch):
    v = victim_seq()
    patch_emit(monkeypatch, lambda df, b: df.unionByName(df.where(F.col("seq") == v)) if b == 0 else df)
    assert backlog(harness)["problems"]


def test_misrouted_row_fails_backlog(harness, monkeypatch):
    from kinesis_s3_spark.sinks import indexed_gzip

    v = victim_seq()
    original = indexed_gzip.write_indexed_gzip_grouped

    def misroute(df, out_dir, group_cols, **kw):
        wrong = F.when(F.col("value").contains(f'"seq":{v},'), F.lit("com.wrong.name"))
        return original(df.withColumn("row_type", wrong.otherwise(F.col("row_type"))),
                        out_dir, group_cols, **kw)

    monkeypatch.setattr(indexed_gzip, "write_indexed_gzip_grouped", misroute)
    problems = backlog(harness)["problems"]
    assert any("wrong row_type" in p for p in problems)


def test_failing_loader_query_ends_backlog_with_failures(harness, monkeypatch):
    def boom(df, b):
        if b == 1:
            raise RuntimeError("injected emit failure")
        return df

    patch_emit(monkeypatch, boom)
    t0 = time.perf_counter()
    res = backlog(harness)
    assert res["failed"] > 0
    assert time.perf_counter() - t0 < 120


def test_killed_paced_loader_counts_failures_instead_of_hanging(harness):
    t0 = time.perf_counter()
    harness.start_spark()
    res = loaders.paced_phase(harness, Tracer("t", False), SEED, 3.0, kill_after_s=1.5)
    assert res["failed"] > 0
    assert any("stopped" in p for p in res["problems"])
    assert time.perf_counter() - t0 < 120


@pytest.fixture
def tables(harness):
    path = harness.path("tables")
    datagen.make_tables(path, SEED, 0.001)
    return path


def test_oracle_mismatch_fails_query_mix(harness, tables):
    import __spark_entry__ as entry

    spark = harness.start_spark()
    names = ["q1_pricing_summary", "events_sessionize"]
    args = (spark, tables, names, entry.queries(), entry.oracle_sql())
    assert query_mix.oracle_pass(*args) == []
    corrupt = lambda n, df: df.limit(1) if n == "q1_pricing_summary" else df  # noqa: E731
    problems = query_mix.oracle_pass(*args, corrupt=corrupt)
    assert len(problems) == 1 and problems[0].startswith("q1_pricing_summary")


@pytest.mark.parametrize("harness", [True], indirect=True)
def test_repeated_query_does_the_same_work_after_release(harness, tables):
    """Without the cleanup a second dedup_simhash_pairs reads the first
    run's cached intermediates and skips its shuffle."""
    import __spark_entry__ as entry

    spark = harness.start_spark()
    q = entry.queries()["dedup_simhash_pairs"]
    for run in (1, 2):
        spark.sparkContext.setJobGroup(f"run:{run}", "self-test")
        before = query_mix.persistent_rdd_ids(spark)
        query_mix.materialize(q(spark, tables))
        query_mix.release(spark, before)
    spark.sparkContext.setJobGroup("idle", "")
    assert query_mix.persistent_rdd_ids(spark) == set()
    per = eventlog.summarize(harness.event_log(), eventlog.job_group)
    one, two = per["run:1"], per["run:2"]
    assert one.shuffle_write_bytes > 0
    assert (two.shuffle_write_bytes, two.tasks) == (one.shuffle_write_bytes, one.tasks)
