"""Output checks. Each returns a list of problems; an empty list passes.

They compare what the program committed with what the benchmark
generated, so a dropped, duplicated or misrouted record, or a query
whose result differs from its DuckDB oracle, fails the run.
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass


@dataclass(frozen=True)
class MultisetHash:
    """Order-insensitive digest of a multiset of strings: the count and
    two sums of per-value 64-bit hashes (exact decimals, no overflow)."""

    count: int
    xx: int
    murmur: int


def check_backlog(
    *,
    generated: int,
    nulls: int,
    expected: MultisetHash,
    committed_good: int,
    committed_bad: int,
    bad_lines: int,
    replayed: MultisetHash,
    misrouted: int,
    failed: int,
) -> list[str]:
    problems = []
    if committed_good + committed_bad + failed != generated:
        problems.append(
            f"committed {committed_good} good + {committed_bad} bad"
            f" + {failed} failed != {generated} generated"
        )
    if not failed:
        if committed_bad != nulls:
            problems.append(f"{committed_bad} bad rows committed, {nulls} NULL payloads generated")
        if bad_lines != committed_bad:
            problems.append(f"{bad_lines} bad rows on disk, {committed_bad} reported")
        if replayed != expected:
            problems.append(f"replayed multiset {replayed} != generated {expected}")
    if misrouted:
        problems.append(f"{misrouted} good rows under the wrong row_type prefix")
    return problems


def check_paced(
    *,
    generated: int,
    null_seqs: list[int],
    committed_seqs: list[int],
    committed_bad: int,
    bad_lines: int,
    misrouted: int,
    failed: int,
) -> list[str]:
    """Every generated record committed exactly once (good rows by
    sequence number, bad rows by count)."""
    problems = []
    counts = Counter(committed_seqs)
    dups = sum(1 for c in counts.values() if c > 1)
    if dups:
        problems.append(f"{dups} records committed more than once")
    nulls = set(null_seqs)
    stray = [s for s in counts if s in nulls or not 0 <= s < generated]
    if stray:
        problems.append(f"{len(stray)} committed records were never generated as good rows")
    missing = generated - len(nulls) - len(counts)
    if not failed:
        if missing:
            problems.append(f"{missing} generated good records never committed")
        if committed_bad != len(nulls):
            problems.append(f"{committed_bad} bad rows committed, {len(nulls)} NULL payloads generated")
    if bad_lines != committed_bad:
        problems.append(f"{bad_lines} bad rows on disk, {committed_bad} reported")
    if misrouted:
        problems.append(f"{misrouted} good rows under the wrong row_type prefix")
    return problems


def check_oracle(result: dict) -> list[str]:
    """``result`` is what tools.check_correctness.compare returns."""
    if result["rows_match"] and result["cols_match"] and result["values_match"]:
        return []
    return [
        f"{result['name']}: rows {result['spark_rows']}/{result['duck_rows']}"
        f" cols_match={result['cols_match']} values_match={result['values_match']}"
    ]
