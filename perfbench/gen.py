"""Seeded input generators for the benchmark workloads.

Every function here is a pure function of its arguments (``random.Random``
seeded from the run's ``--seed``), so one seed always yields byte-identical
parquet files. The program under test only ever sees these files.
"""

from __future__ import annotations

import random

import pyarrow as pa
import pyarrow.parquet as pq

LETTERS = "abcdefghijklmnopqrstuvwxyz"
#: Common company-name endings: 20% of names end in one of them, which
#: gives the trigram join a hot-token fan-out.
SUFFIXES = ("inc", "ltd", "llc", "corp", "gmbh", "group", "holdings", "plc", "co", "sa")


def vocabulary(rng: random.Random, size: int, min_len: int = 4, max_len: int = 9) -> list[str]:
    """``size`` distinct random lowercase words, drawn uniformly later."""
    words: set[str] = set()
    while len(words) < size:
        n = rng.randint(min_len, max_len)
        words.add("".join(rng.choice(LETTERS) for _ in range(n)))
    return sorted(words)


def typo(rng: random.Random, s: str) -> str:
    """One substitution, insertion or deletion at a random letter."""
    i = rng.randrange(len(s))
    kind = rng.randrange(3)
    c = rng.choice(LETTERS)
    if kind == 0:
        return s[:i] + c + s[i + 1 :]
    if kind == 1:
        return s[:i] + c + s[i:]
    return s[:i] + s[i + 1 :] if len(s) > 4 else s + c


def names(
    rng: random.Random,
    n: int,
    vocab: list[str],
    *,
    suffix_frac: float = 0.2,
    typo_frac: float = 0.5,
    punct_every: int = 20,
) -> list[str]:
    """``n`` company-like names: 2-4 uniform vocabulary words, a common
    suffix on ``suffix_frac`` of them, and ``typo_frac`` of rows being a
    one-typo variant of an earlier row. Every ``punct_every``-th row is
    the row before it plus a trailing ``.``, which has the same trigram
    set: the join's token-set collapse then happens for every seed instead
    of only when typos collide by chance (it changes the plan's job count)."""
    out: list[str] = []
    for i in range(n):
        if i % punct_every == punct_every - 1:
            out.append(out[-1] + ".")
        elif i and rng.random() < typo_frac:
            out.append(typo(rng, out[rng.randrange(i)]))
        else:
            words = [rng.choice(vocab) for _ in range(rng.randint(2, 4))]
            if rng.random() < suffix_frac:
                words.append(rng.choice(SUFFIXES))
            out.append(" ".join(words))
    return out


def documents(
    rng: random.Random,
    n: int,
    vocab: list[str],
    *,
    block: int = 10,
    copies: int = 3,
    min_words: int = 20,
    max_words: int = 80,
) -> list[str]:
    """``n`` documents of ``min_words``-``max_words`` uniform vocabulary
    words. The last ``copies`` documents of every ``block`` each edit the
    document before them (1-3 word substitutions, insertions or
    deletions), so every block holds one near-dup chain of ``copies + 1``
    documents (30% copies with the defaults). The fixed chain shape keeps
    the clustering work (its depth sets the connected-components rounds)
    the same for every seed; only the content varies."""
    out: list[str] = []
    for i in range(n):
        if i % block >= block - copies:
            words = out[-1].split()
            for _ in range(rng.randint(1, 3)):
                j = rng.randrange(len(words))
                kind = rng.randrange(3)
                if kind == 0:
                    words[j] = rng.choice(vocab)
                elif kind == 1:
                    words.insert(j, rng.choice(vocab))
                elif len(words) > min_words:
                    del words[j]
            out.append(" ".join(words))
        else:
            k = rng.randint(min_words, max_words)
            out.append(" ".join(rng.choice(vocab) for _ in range(k)))
    return out


def write_part(path: str, rows: list[str], first_id: int = 0) -> None:
    """``part``-shaped table ``(p_partkey, p_name)``."""
    ids = list(range(first_id, first_id + len(rows)))
    table = pa.table({"p_partkey": pa.array(ids, pa.int64()), "p_name": pa.array(rows, pa.string())})
    pq.write_table(table, path)


def write_probe(path: str, rows: list[str]) -> None:
    """``(l_id, name)`` probe batch for the postings serve split."""
    ids = pa.array(range(len(rows)), pa.int64())
    pq.write_table(pa.table({"l_id": ids, "name": pa.array(rows, pa.string())}), path)


def write_documents(path: str, texts: list[str]) -> None:
    """``documents``-shaped table ``(doc_id, text, lang, source, n_chars)``."""
    n = len(texts)
    table = pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * n, pa.string()),
            "source": pa.array([f"src{i % 4}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(table, path)
