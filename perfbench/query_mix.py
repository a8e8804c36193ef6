"""The ``query_mix`` workload (closed loop, one client).

Each pass runs the registry queries in ``QUERIES`` over tables
generated from the seed, in an order shuffled by the seed, and
materialises each through the noop sink. The first pass is untimed: it
warms the engine and compares every query with its DuckDB oracle
through ``tools.check_correctness.compare``. Timed passes follow until
the run's seconds are used.

Warm runs are kept honest from the benchmark side: after every query
the benchmark calls ``spark.catalog.clearCache()`` and unpersists every
RDD the query left persisted, so a later run of the same query cannot
read the earlier run's cached intermediates.
"""

from __future__ import annotations

import random
import threading
import time
from types import SimpleNamespace

import duckdb

from checks import check_oracle
from harness import median, percentile

# the operator layer's headline queries. ann_knn_join_pq is the target
# of the kNN-join pruning direction; etl_row_type_partition shares
# functions.row_type_col with the loader.
QUERIES = (
    "q1_pricing_summary",
    "q5_region_revenue",
    "etl_row_type_partition",
    "ann_knn_join_pq",
)
TABLE_SF = 0.01


def persistent_rdd_ids(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def release(spark, before: set[int]) -> int:
    """Drop what a query left cached: the Dataset cache, then every RDD
    persisted since ``before``. Returns how many RDDs were left."""
    spark.catalog.clearCache()
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    leaked = [k for k in rdds.keySet() if int(k) not in before]
    for k in leaked:
        rdds.get(k).unpersist(True)
    return len(leaked)


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class _Prefetched:
    """A DuckDB stand-in for ``compare``: answers each oracle SQL from
    results computed ahead on another thread, so the DuckDB side of
    the check overlaps the Spark side."""

    def __init__(self, con, sqls: list[str]) -> None:
        self._results: dict[str, tuple] = {}
        self._ready = {sql: threading.Event() for sql in sqls}
        self._thread = threading.Thread(target=self._run, args=(con, sqls), daemon=True)
        self._thread.start()

    def _run(self, con, sqls) -> None:
        cur = con.cursor()
        for sql in sqls:
            try:
                self._results[sql] = (cur.sql(sql).df(), None)
            except duckdb.Error as e:
                self._results[sql] = (None, e)
            self._ready[sql].set()
        cur.close()

    def sql(self, sql: str):
        self._ready[sql].wait()
        frame, error = self._results[sql]
        if error is not None:
            raise error
        return SimpleNamespace(df=lambda: frame)

    def close(self) -> None:
        self._thread.join()


def oracle_pass(spark, sf_dir: str, order: list[str], queries, oracles, corrupt=None) -> list[str]:
    """The untimed first pass. ``corrupt`` (tests only) may rewrite a
    query's DataFrame before it is compared."""
    from tools.check_correctness import compare

    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    duck = _Prefetched(con, [oracles[n] for n in order])
    problems = []
    for name in order:
        before = persistent_rdd_ids(spark)
        df = queries[name](spark, sf_dir)
        if corrupt is not None:
            df = corrupt(name, df)
        problems += check_oracle(compare(name, df, oracles[name], duck))
        release(spark, before)
    duck.close()
    con.close()
    return problems


def run_query_mix(h, tracer, seed: int, seconds: float) -> dict:
    import datagen
    import __spark_entry__ as entry

    sf_dir = h.path("tables")
    datagen.make_tables(sf_dir, seed, TABLE_SF)
    queries, oracles = entry.queries(), entry.oracle_sql()

    def warm(spark) -> None:
        before = persistent_rdd_ids(spark)
        materialize(queries["q1_pricing_summary"](spark, sf_dir))
        release(spark, before)

    setup_s = h.setup(warm)
    spark = h.spark
    rng = random.Random(seed)
    order = list(QUERIES)
    rng.shuffle(order)
    problems, attempted, failed = [], len(order), 0
    try:
        problems += oracle_pass(spark, sf_dir, order, queries, oracles)
    except Exception as e:  # a query that cannot run fails the check
        problems.append(f"oracle pass: {type(e).__name__}: {e}")
        failed += 1

    times: dict[str, list[float]] = {n: [] for n in QUERIES}
    passes: list[float] = []
    leaked: dict[str, int] = {}
    sc = spark.sparkContext
    h.rss.arm()
    start = time.perf_counter()
    # whole passes; stop where the next one would end past the window
    while not failed and (not passes or time.perf_counter() - start + passes[-1] / 2 < seconds):
        rng.shuffle(order)
        p0 = time.perf_counter()
        for name in order:
            sc.setJobGroup(f"perfbench:{name}:{len(passes)}", name)
            before = persistent_rdd_ids(spark)
            attempted += 1
            with tracer.span(f"operators.{name}", "operators"):
                t0 = time.perf_counter()
                try:
                    materialize(queries[name](spark, sf_dir))
                except Exception as e:  # counted, and ends the workload
                    problems.append(f"{name}: {type(e).__name__}: {e}")
                    failed += 1
                    break
                times[name].append(time.perf_counter() - t0)
            leaked[name] = release(spark, before)
        sc.setJobGroup("perfbench:idle", "between passes")
        passes.append(time.perf_counter() - p0)
    peak_rss = h.rss.disarm()

    all_times = [t * 1e3 for ts in times.values() for t in ts]
    done = len(all_times)
    return {
        "workload": "query_mix",
        "setup_s": setup_s,
        "ops_per_s": done / max(1e-9, sum(passes)),
        "latency_p50_ms": percentile(all_times, 50),
        "latency_p90_ms": percentile(all_times, 90),
        "peak_rss_mb": peak_rss,
        "attempted": attempted,
        "failed": failed,
        "problems": problems,
        "times": times,
        "passes": passes,
        "pass_s": median(passes),
        "leaked": leaked,
        "sf_dir": sf_dir,
    }
