"""Seeded input generators for the benchmark.

Everything the benchmark feeds the program is made here from one
integer seed, so the same seed always gives the same inputs:

- self-describing-JSON payloads (the loader's records): about 20 Iglu
  schemas with Zipf-skewed frequency, payloads of 100 B to 2 KB,
  about 1% NULL payloads (the bad-row path) and 2% plain-text lines
  (the ``unpartitioned`` row type);
- the query tables (``region`` ... ``embeddings``) in the layout
  ``kinesis_s3_spark.sources.tables`` reads, with the column types and
  value shapes of the engine's test tables.

Only numpy and pyarrow are used, so generation needs no Spark session.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- records

_VENDORS = ("com.acme", "com.snowplowanalytics.snowplow", "io.example", "org.shop")
_NAMES = (
    "page_view", "link_click", "add_to_cart", "checkout", "search",
    "signup", "video_play", "form_submit", "ad_impression", "error",
)
_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window spark part group big "
    "sort query fast the a"
).split()

NULL_FRAC = 0.01
TEXT_FRAC = 0.02
MIN_PAYLOAD = 100
MAX_PAYLOAD = 2000
N_SCHEMAS = 20


def iglu_schemas(seed: int) -> list[tuple[str, str]]:
    """``N_SCHEMAS`` distinct Iglu URIs paired with the row type the loader must
    route them to (``vendor.name/format-model``). Several URIs share a
    model with different revisions, so they share a row type."""
    rng = np.random.default_rng([seed, 1])
    out: list[tuple[str, str]] = []
    seen: set[str] = set()
    while len(out) < N_SCHEMAS:
        vendor = _VENDORS[rng.integers(len(_VENDORS))]
        name = _NAMES[rng.integers(len(_NAMES))]
        model, rev = int(rng.integers(1, 4)), int(rng.integers(0, 3))
        uri = f"iglu:{vendor}/{name}/jsonschema/{model}-{rev}-0"
        if uri not in seen:
            seen.add(uri)
            out.append((uri, f"{vendor}.{name}/jsonschema-{model}"))
    return out


def expected_row_type(payload: str) -> str:
    """The row type a good payload made here belongs under, read from
    the generator's own fixed framing (never from the program)."""
    if not payload.startswith('{"schema":"iglu:'):
        return "unpartitioned"
    uri = payload[len('{"schema":"iglu:') : payload.index('"', len('{"schema":"iglu:'))]
    vendor, name, fmt, version = uri.split("/")
    return f"{vendor}.{name}/{fmt}-{version.split('-')[0]}"


class RecordMaker:
    """Makes payload strings for record sequence numbers. The payload of
    record ``seq`` depends only on (seed, seq), so a separate generator
    process rebuilds exactly the records the benchmark checks against."""

    def __init__(self, seed: int) -> None:
        self.seed = seed
        self.schemas = iglu_schemas(seed)
        ranks = np.arange(1, len(self.schemas) + 1, dtype=float)
        w = 1.0 / ranks**1.1
        self.cum = np.cumsum(w / w.sum())
        rng = np.random.default_rng([seed, 2])
        self.blob = " ".join(rng.choice(_WORDS, size=120_000))

    def payloads(self, seqs: np.ndarray, due_ns: np.ndarray | None = None) -> list[str | None]:
        rng = np.random.default_rng([self.seed, 3, int(seqs[0]) if len(seqs) else 0])
        kind = rng.random(len(seqs))
        schema_ix = np.searchsorted(self.cum, rng.random(len(seqs)))
        size = np.exp(rng.uniform(np.log(MIN_PAYLOAD), np.log(MAX_PAYLOAD), len(seqs))).astype(int)
        offs = rng.integers(0, len(self.blob) - MAX_PAYLOAD, len(seqs))
        out: list[str | None] = []
        for i, seq in enumerate(seqs.tolist()):
            if kind[i] < NULL_FRAC:
                out.append(None)
                continue
            due = int(due_ns[i]) if due_ns is not None else 0
            if kind[i] < NULL_FRAC + TEXT_FRAC:
                head = f"plain seq={seq} due={due} "
            else:
                uri = self.schemas[schema_ix[i]][0]
                head = f'{{"schema":"{uri}","data":{{"seq":{seq},"due":{due},"pad":"'
            pad = max(0, size[i] - len(head) - 3)
            body = self.blob[offs[i] : offs[i] + pad]
            out.append(head + body + ('"}}' if head.startswith("{") else ""))
        return out


def parse_seq(payload: str) -> tuple[int, int]:
    """(seq, due_ns) back out of a good payload made by RecordMaker."""
    if payload.startswith("plain seq="):
        seq, due = payload[len("plain seq=") :].split(" ", 2)[:2]
        return int(seq), int(due[len("due=") :])
    i = payload.index('"seq":') + 6
    j = payload.index(",", i)
    k = payload.index(",", j + 7)
    return int(payload[i:j]), int(payload[j + 7 : k])


def write_records(path: str, payloads: list[str | None], seqs: np.ndarray) -> None:
    """One parquet file with a nullable binary ``value`` column (the
    Kinesis ``data`` column's type) plus the generator's ``seq``. Written
    under a hidden name and renamed, so a file source never lists a
    half-written file."""
    values = pa.array(
        [None if p is None else p.encode() for p in payloads], type=pa.binary()
    )
    table = pa.table({"value": values, "seq": pa.array(seqs, type=pa.int64())})
    d, f = os.path.split(path)
    tmp = os.path.join(d, f".{f}.tmp")
    pq.write_table(table, tmp, compression="snappy")
    os.rename(tmp, path)


def stage_backlog(out_dir: str, seed: int, n_records: int, n_files: int) -> dict:
    """Write the loader backlog: ``n_files`` parquet files holding
    ``n_records`` records in total. Returns what the checks need."""
    os.makedirs(out_dir, exist_ok=True)
    maker = RecordMaker(seed)
    seqs = np.arange(n_records, dtype=np.int64)
    payloads = maker.payloads(seqs)
    for i, part in enumerate(np.array_split(seqs, n_files)):
        write_records(
            os.path.join(out_dir, f"part-{i:04d}.parquet"),
            payloads[part[0] : part[-1] + 1],
            part,
        )
    good = [p for p in payloads if p is not None]
    return {
        "records": n_records,
        "nulls": n_records - len(good),
        "payload_bytes": sum(len(p.encode()) for p in good),
    }


# ----------------------------------------------------------------- tables

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_PRIO = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_LANGS = ("en", "de", "es", "fr", "zh")


def _days(rng, n: int, start: str, end: str) -> pa.Array:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n).astype("datetime64[D]").astype("datetime64[us]")
    return pa.array(d, type=pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten query tables at scale ``sf`` (lineitem = 6M·sf rows)
    as ``<out_dir>/<name>.parquet``. Returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 10])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()

    def choice(opts, n):
        return pa.array(np.asarray(opts, dtype=object)[rng.integers(0, len(opts), n)], type=s)

    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), type=i32),
            "r_name": pa.array(_REGIONS, type=s),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), type=i32),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], type=s),
            "n_regionkey": pa.array([i % 5 for i in range(25)], type=i32),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), type=i64),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], type=s),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), type=i32),
            "c_acctbal": pa.array(_money(rng, n_cust, -999.99, 9999.99), type=f64),
            "c_mktsegment": choice(_SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), type=i64),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], type=s),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), type=i32),
            "s_acctbal": pa.array(_money(rng, n_supp, -999.99, 9999.99), type=f64),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), type=i64),
            "p_name": pa.array(
                [f"{_ADJ[a]} {_NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))], type=s
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], type=s),
            "p_type": choice(_PTYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), type=i32),
            "p_retailprice": pa.array([900 + (i % 1000) / 10 for i in range(n_part)], type=f64),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), type=i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), type=i64),
            "o_orderstatus": choice(("F", "O", "P"), n_ord),
            "o_totalprice": pa.array(_money(rng, n_ord, 1000, 500_000), type=f64),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": choice(_PRIO, n_ord),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), type=i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), type=i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), type=i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), type=i32),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(float), type=f64),
            "l_extendedprice": pa.array(_money(rng, n_li, 900, 105_000), type=f64),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100, type=f64),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100, type=f64),
            "l_returnflag": choice(("A", "N", "R"), n_li),
            "l_linestatus": choice(("F", "O"), n_li),
            "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04"),
        }),
    }

    t0 = np.datetime64(datetime(2024, 1, 1), "us").astype(np.int64)
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(t0 + rng.integers(0, span_us, n_ev))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), type=i64),
        "ts": pa.array(ts.astype("datetime64[us]"), type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(10, int(15_000 * sf)), n_ev), type=i64),
        "event_type": choice(_EVENT_TYPES, n_ev),
        "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50, n_ev), 2)), type=f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], type=s),
    })

    words = np.asarray(_WORDS, dtype=object)
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            # planted near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(8, 100)))]))
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), type=i64),
        "text": pa.array(texts, type=s),
        "lang": pa.array(
            np.asarray(_LANGS, dtype=object)[
                rng.choice(5, n_doc, p=[0.42, 0.145, 0.145, 0.145, 0.145])
            ],
            type=s,
        ),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)], type=s),
        "n_chars": pa.array([len(t) for t in texts], type=i64),
    })

    centers = rng.normal(size=(10, 64))
    centers *= 0.14 / np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n_emb)
    vecs = centers[labels] + rng.normal(scale=1 / 8, size=(n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), type=i64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels, type=i32),
    })

    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
