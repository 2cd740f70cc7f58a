"""Pure-Python oracles for the benchmark's correctness checks.

The autocomplete oracle restates the engine's contract without Spark:
``lower(trim(line))`` where trim strips ASCII spaces only (Spark's ``trim``),
lines shorter than 2 characters after trimming dropped, queries capped at 500
characters, prefixes of length 2..60, cumulative counts across batches, and
top-K per prefix ordered by frequency descending, then query ascending
(code-point order, which equals the UTF-8 byte order Spark compares by).

The serving store is never read back from the engine: ``ServingMirror`` is a
dict rebuilt only from the SET/DEL operations the sink clients received, so
a check compares what a user of the store would actually see.
"""

from __future__ import annotations

import heapq
import json
from collections import Counter, defaultdict

MIN_PREFIX = 2
MAX_PREFIX = 60
MAX_QUERY = 500


def read_log(path: str) -> list[str]:
    """Lines of an hourly file, split exactly as the engine's hourly source
    splits them (text mode, trailing newline removed)."""
    with open(path, encoding="utf-8") as f:
        return [line.rstrip("\n") for line in f]


def normalize(line: str) -> str | None:
    t = line.strip(" ")
    if len(t) < MIN_PREFIX:
        return None
    return t.lower()[:MAX_QUERY]


class AutocompleteOracle:
    """Cumulative (prefix, query) counts and the top-K table they imply."""

    def __init__(self, k: int):
        self.k = k
        self.by_prefix: dict[str, Counter] = defaultdict(Counter)
        self.table: dict[str, list[str]] = {}

    def add_lines(self, lines: list[str]) -> set[str]:
        """Fold one batch in; returns the prefixes it touched."""
        touched: set[str] = set()
        for q, n in Counter(filter(None, map(normalize, lines))).items():
            for length in range(MIN_PREFIX, min(len(q), MAX_PREFIX) + 1):
                p = q[:length]
                self.by_prefix[p][q] += n
                touched.add(p)
        for p in touched:
            counts = self.by_prefix[p]
            self.table[p] = [
                q for q, _ in heapq.nsmallest(self.k, counts.items(), key=lambda qn: (-qn[1], qn[0]))
            ]
        return touched

    @property
    def state_rows(self) -> int:
        return sum(len(c) for c in self.by_prefix.values())


class ServingMirror:
    """A dict built only from SET/DEL operations, as a serving store holds it."""

    def __init__(self):
        self.store: dict[str, str] = {}

    def apply(self, ops) -> int:
        """Apply ``(verb, key, value)`` ops in order; returns how many."""
        n = 0
        for verb, key, value in ops:
            if verb == "set":
                self.store[key] = value
            else:
                self.store.pop(key, None)
            n += 1
        return n


def compacted_log(records) -> dict[str, str]:
    """Last value per key of a keyed record log, tombstones (None) erase —
    what a log-compacted topic converges to."""
    out: dict[str, str] = {}
    for key, value in records:
        if value is None:
            out.pop(key, None)
        else:
            out[key] = value
    return out


def table_mismatches(expected: dict[str, list[str]], served: dict[str, str]):
    """Keys whose served completions differ from the oracle's, compared as
    decoded JSON arrays (escaping style is the store's business). Returns
    ``(count, up to five examples)``."""
    bad = []
    for key in expected.keys() | served.keys():
        want = expected.get(key)
        raw = served.get(key)
        got = json.loads(raw) if raw is not None else None
        if got != want:
            bad.append((key, want, got))
    return len(bad), bad[:5]


def dedup_mismatches(survivor_ids: set[int], originals: set[int], planted: set[int]):
    """Near-dedup contract: every planted duplicate dropped, no original
    dropped. Returns ``(planted_kept, originals_dropped)`` as sets."""
    return survivor_ids & planted, originals - survivor_ids
