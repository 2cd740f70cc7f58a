"""Seeded input generator for the benchmark workloads.

Every input the engine sees is a file written here from ``random.Random(seed)``
alone, so the same seed gives byte-identical files. The engine receives only
these files; the oracle reads the same files back.

Query logs follow Zipf popularity over a generated vocabulary and carry the
hostile shapes the engine must survive: 4-byte UTF-8 and combining marks,
blank and whitespace-only lines (spaces and tabs), one-character lines,
queries longer than the 60-character prefix cap and a few longer than the
500-character query cap, ASCII upper case and padding that normalization
removes, and one prefix family ("how to ...") carrying about 30% of traffic.

Near-dedup documents are random word sequences (pairwise far apart) plus
planted near-duplicates: a one-word edit of an earlier document, given a
larger id than its source, so the engine's keep-smallest-id rule must drop
exactly the planted ids.
"""

from __future__ import annotations

import bisect
import itertools
import json
import os
import random
from dataclasses import dataclass

_SYLLABLES = (
    "ka lo mi ne ru sa ti vo ba de fi gu ho ja pe ze xo wy cha sto pri "
    "mun tor lek vas qui dro fen gal"
).split()
# lower-case only outside ASCII: Spark's lower() and Python's str.lower()
# agree on ASCII, so upper case is only ever applied to ASCII letters
_ACCENTED = "éñüøåç"
_COMBINING = "̣́̈"  # acute, diaeresis, dot below
_ASTRAL = "😀🚀𝔘𠜎🧪"  # 4-byte UTF-8
HOT_FAMILY = "how to "
HOT_SHARE = 0.30  # share of query lines drawn from the hot family
QUERY_VOCAB = 4000
DOC_VOCAB = 6000


def _word(rng: random.Random, syllables: int) -> str:
    w = "".join(rng.choice(_SYLLABLES) for _ in range(syllables))
    r = rng.random()
    if r < 0.06:
        i = rng.randrange(len(w))
        w = w[:i] + rng.choice(_ACCENTED) + w[i + 1 :]
    elif r < 0.10:
        i = rng.randrange(len(w))
        w = w[: i + 1] + rng.choice(_COMBINING) + w[i + 1 :]
    elif r < 0.13:
        w = w + rng.choice(_ASTRAL)
    return w


def _zipf_cum(n: int, s: float) -> list[float]:
    return list(itertools.accumulate(1.0 / (i + 1) ** s for i in range(n)))


@dataclass
class QueryModel:
    """A seeded query population: a general pool and a hot family, each
    with Zipf weights. ``lines(n)`` draws raw log lines from it."""

    rng: random.Random
    pool: list[str]
    pool_cum: list[float]
    hot: list[str]
    hot_cum: list[float]

    def _decorate(self, q: str) -> str:
        r = self.rng.random()
        if r < 0.08:
            q = q[:1].upper() + q[1:]
        elif r < 0.11:
            q = q.upper() if q.isascii() else q
        r = self.rng.random()
        if r < 0.05:
            q = " " * self.rng.randint(1, 3) + q
        elif r < 0.09:
            q = q + " " * self.rng.randint(1, 3)
        return q

    def _noise_line(self) -> str:
        return self.rng.choice(["", "", "   ", " ", "\t", "\t\t", "x", " y ", "é"])

    def lines(self, n: int) -> list[str]:
        rng = self.rng
        out = []
        for _ in range(n):
            r = rng.random()
            if r < 0.03:
                out.append(self._noise_line())
                continue
            if r < 0.03 + HOT_SHARE:
                q = self.hot[bisect.bisect(self.hot_cum, rng.random() * self.hot_cum[-1])]
            else:
                q = self.pool[bisect.bisect(self.pool_cum, rng.random() * self.pool_cum[-1])]
            out.append(self._decorate(q))
        return out


def query_model(seed: int, pool_size: int) -> QueryModel:
    """Popularity rank fixes each word's syllable count and each query's
    word count (cycling), and only the content is random: the lengths of
    the popular queries, and with them the per-batch work, are then about
    the same for every seed."""
    rng = random.Random(seed)
    vocab = [_word(rng, 1 + i % 3) for i in range(QUERY_VOCAB)]
    vocab_cum = _zipf_cum(QUERY_VOCAB, 0.9)

    def phrase(n_words: int) -> str:
        return " ".join(
            vocab[bisect.bisect(vocab_cum, rng.random() * vocab_cum[-1])] for _ in range(n_words)
        )

    def distinct(n: int, words_at, prefix: str = "") -> list[str]:
        out: list[str] = []
        seen: set[str] = set()
        while len(out) < n:
            q = prefix + phrase(words_at(len(out)))
            if q not in seen:
                seen.add(q)
                out.append(q)
        return out

    def pool_words(rank: int) -> int:
        if rank % 500 == 499:
            return rng.randint(90, 110)  # beyond the 500-character cap
        if rank % 25 == 12:
            return rng.randint(10, 16)  # beyond the 60-character prefix cap
        return 1 if rank % 10 == 5 else 2 + rank % 3

    pool = distinct(pool_size, pool_words)
    hot = distinct(max(50, pool_size // 10), lambda rank: 1 + rank % 3, HOT_FAMILY)
    return QueryModel(rng, pool, _zipf_cum(len(pool), 1.05), hot, _zipf_cum(len(hot), 1.05))


def write_lines(path: str, lines: list[str]) -> None:
    """Write a query-log file atomically: the hourly source only sees the
    final ``YYYY-MM-DD-HH.txt`` name once the bytes are complete."""
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    with open(tmp, "w", encoding="utf-8", newline="\n") as f:
        f.write("".join(line + "\n" for line in lines))
    os.replace(tmp, path)


def hour_name(i: int) -> str:
    """Hourly file name for the ``i``-th hour after 2025-01-01 00:00."""
    day, hour = divmod(i, 24)
    return f"2025-{1 + day // 28:02d}-{1 + day % 28:02d}-{hour:02d}.txt"


# ------------------------------------------------------------ near-dedup docs
@dataclass
class DocModel:
    """Seeded document stream. ``originals`` accumulates every document the
    stream has emitted that is not a planted duplicate."""

    rng: random.Random
    vocab: list[str]
    next_id: int = 1

    def original(self) -> tuple[int, str]:
        rng = self.rng
        text = " ".join(rng.choice(self.vocab) for _ in range(rng.randint(40, 80)))
        if rng.random() < 0.3:
            text = text[:1].upper() + text[1:]
        doc = (self.next_id, text)
        self.next_id += 1
        return doc

    def near_copy(self, text: str) -> tuple[int, str]:
        """One-word edit of ``text`` (Jaccard of 5-shingles well above 0.9)."""
        words = text.split(" ")
        i = self.rng.randrange(len(words))
        words[i] = self.rng.choice(self.vocab)
        doc = (self.next_id, " ".join(words))
        self.next_id += 1
        return doc

    def batch(self, n: int, history: list[tuple[int, str]], dup_share: float):
        """``n`` documents, ``dup_share`` of them planted near-duplicates of
        a document in ``history`` or earlier in this batch. Returns
        ``(docs, planted_ids)``; originals are appended to ``history``."""
        docs: list[tuple[int, str]] = []
        fresh: list[tuple[int, str]] = []
        planted: list[int] = []
        n_dup = round(n * dup_share)
        slots = set(self.rng.sample(range(1, n), n_dup))
        for i in range(n):
            if i in slots:
                source = fresh if (not history or self.rng.random() < 0.3) else history
                doc = self.near_copy(self.rng.choice(source)[1])
                planted.append(doc[0])
            else:
                doc = self.original()
                fresh.append(doc)
            docs.append(doc)
        history.extend(fresh)
        return docs, planted


def doc_model(seed: int) -> DocModel:
    rng = random.Random(seed)
    vocab = sorted({_word(rng, 1 + i % 3) for i in range(DOC_VOCAB)})
    return DocModel(rng, vocab)


def write_docs(path: str, docs: list[tuple[int, str]]) -> None:
    """JSON-lines documents, written atomically (hidden temp name, then
    rename: Spark's file source skips names starting with a dot)."""
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    with open(tmp, "w", encoding="utf-8", newline="\n") as f:
        for doc_id, text in docs:
            f.write(json.dumps({"doc_id": doc_id, "text": text}, ensure_ascii=False) + "\n")
    os.replace(tmp, path)
