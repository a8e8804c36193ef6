"""Open-loop record generator for the paced phase of the ``loader`` workload.

Runs as its own process so its schedule does not depend on the loader.
Every ``tick`` seconds from ``--start`` it writes one parquet file
holding the records due in that tick: record ``seq`` is due at
``start + seq / rate`` and carries that due time (epoch ns) in its
payload. It stops producing at ``--stop`` and writes a JSON report:
records written, NULL payloads, and how late each file landed after
its tick ended (the generator's own lateness).

    python3 perfbench/pacer.py --out DIR --seed 1 --rate 5000 \
        --start 1700000000.0 --stop 1700000020.0 --report report.json
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import numpy as np  # noqa: E402

import datagen  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rate", type=int, required=True, help="records per second")
    ap.add_argument("--tick", type=float, default=0.1, help="seconds per file")
    ap.add_argument("--start", type=float, required=True, help="epoch seconds")
    ap.add_argument("--stop", type=float, required=True, help="epoch seconds")
    ap.add_argument("--report", required=True)
    a = ap.parse_args()

    os.makedirs(a.out, exist_ok=True)
    maker = datagen.RecordMaker(a.seed)
    per_tick = int(round(a.rate * a.tick))
    ticks = int(round((a.stop - a.start) / a.tick))
    start_ns = int(a.start * 1e9)
    late_ms: list[float] = []
    nulls: list[int] = []
    for k in range(ticks):
        slot_end = a.start + (k + 1) * a.tick
        pause = slot_end - time.time()
        if pause > 0:
            time.sleep(pause)
        seqs = np.arange(k * per_tick, (k + 1) * per_tick, dtype=np.int64)
        due = start_ns + (seqs * 1_000_000_000) // a.rate
        payloads = maker.payloads(seqs, due)
        nulls.extend(int(s) for s, p in zip(seqs, payloads) if p is None)
        datagen.write_records(os.path.join(a.out, f"tick-{k:06d}.parquet"), payloads, seqs)
        late_ms.append((time.time() - slot_end) * 1e3)
    with open(a.report, "w") as fh:
        json.dump({"records": ticks * per_tick, "nulls": nulls, "late_ms": late_ms}, fh)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
