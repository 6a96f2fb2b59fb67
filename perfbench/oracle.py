"""Expected outputs from the repo's DuckDB oracles, as order-independent
checksums.

Every timed op ends with one Spark action,
``bit_xor(xxhash64(<bigint columns>)), count(*)`` over all its output rows.
The same digest is computed here from the DuckDB oracle's rows with a NumPy
port of Spark's ``XxHash64`` (seed 42, ``hashLong`` per column), so the
two engines never have to agree on anything but the rows themselves.
``sum(xxhash64)`` is not used: Spark's ANSI mode raises on its overflow.

Oracle runs are slow (the recursive-CTE dedup oracle most of all), so
digests are cached on disk keyed by a digest of the generated inputs and
the query text.
"""

from __future__ import annotations

import hashlib
import json
import os

import duckdb
import numpy as np

_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)
SPARK_HASH_SEED = 42


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _hash_long(values: np.ndarray, seed: np.ndarray) -> np.ndarray:
    """Spark ``XXH64.hashLong`` on uint64 arrays (arithmetic wraps mod 2^64)."""
    h = seed + _P5 + np.uint64(8)
    h ^= _rotl(values * _P2, 31) * _P1
    h = _rotl(h, 27) * _P1 + _P4
    h ^= h >> np.uint64(33)
    h *= _P2
    h ^= h >> np.uint64(29)
    h *= _P3
    h ^= h >> np.uint64(32)
    return h


def spark_xxhash64(*columns: np.ndarray) -> np.ndarray:
    """``xxhash64(c1, c2, ...)`` over non-null bigint columns, as int64."""
    n = len(columns[0])
    h = np.full(n, SPARK_HASH_SEED, dtype=np.uint64)
    with np.errstate(over="ignore"):
        for col in columns:
            h = _hash_long(np.asarray(col, dtype=np.int64).view(np.uint64), h)
    return h.view(np.int64)


def digest(*columns: np.ndarray) -> tuple[int, int]:
    """(bit_xor of the row hashes, row count); (0, 0) for no rows —
    Spark's ``bit_xor`` of no rows is NULL, which the caller maps to 0."""
    if len(columns[0]) == 0:
        return 0, 0
    return int(np.bitwise_xor.reduce(spark_xxhash64(*columns))), len(columns[0])


def micro(sim: np.ndarray) -> np.ndarray:
    """``CAST(round(sim * 1e6) AS BIGINT)`` with Spark's HALF_UP rounding
    (sims are positive)."""
    return np.floor(np.asarray(sim, dtype=np.float64) * 1e6 + 0.5).astype(np.int64)


def file_digest(*paths: str) -> str:
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


class DigestCache:
    """JSON file of ``key -> value`` for oracle digests."""

    def __init__(self, path: str):
        self.path = path
        try:
            with open(path) as f:
                self._data = json.load(f)
        except FileNotFoundError:
            self._data = {}

    def get_or_compute(self, key_parts: list[str], compute):
        key = hashlib.sha256("\0".join(key_parts).encode()).hexdigest()
        if key not in self._data:
            self._data[key] = compute()
            tmp = self.path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(self._data, f)
            os.replace(tmp, self.path)
        return self._data[key]


def _connect(views: dict[str, str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name, path in views.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def simjoin_expected(sql: str, part_path: str, cache: DigestCache) -> list[int]:
    """Digest of the contract ``join_sim_parts_l2`` oracle on ``part_path``:
    rows ``(l_id, r_id, micro(sim_r))``."""

    def compute() -> list[int]:
        con = _connect({"part": part_path})
        t = con.execute(sql).fetchnumpy()
        con.close()
        return list(digest(t["l_id"], t["r_id"], micro(t["sim_r"])))

    return cache.get_or_compute(["simjoin", sql, file_digest(part_path)], compute)


def dedup_expected(sql: str, docs_path: str, cache: DigestCache) -> list[int]:
    """Digest of the contract ``dedup_remove_docs_lsh`` oracle on
    ``docs_path``: rows ``(doc_id, n_chars)``."""

    def compute() -> list[int]:
        con = _connect({"documents": docs_path})
        t = con.execute(sql).fetchnumpy()
        con.close()
        return list(digest(t["doc_id"], t["n_chars"]))

    return cache.get_or_compute(["dedup", sql, file_digest(docs_path)], compute)


def serve_sql(trigrams_cte, top_n: int) -> str:
    """Binary-l2 top-n of every probe row against the reference rows
    visible at each epoch (``ref.epoch <= e``): the twin of
    ``similarity_mapping_against_postings`` after the appends made so far.
    ``probe(l_id, name)`` is the probe batch, ``epochs(e)`` the states
    probed, and ``ref(r_id, name, epoch)`` the base rows (epoch 0) and each
    append batch (epoch k)."""
    return f"""
WITH lt AS ({trigrams_cte("probe", "l_id", "name")}),
rt AS ({trigrams_cte("ref", "r_id", "name")}),
ln AS (SELECT id, count(*) AS n FROM lt GROUP BY id),
rn AS (SELECT id, count(*) AS n FROM rt GROUP BY id),
ov AS (
  SELECT e.e, lt.id AS l_id, rt.id AS r_id, count(*) AS overlap
  FROM epochs e
  CROSS JOIN lt
  JOIN rt ON rt.tok = lt.tok
  JOIN ref r ON r.r_id = rt.id
  WHERE r.epoch <= e.e
  GROUP BY 1, 2, 3
),
sim AS (
  SELECT ov.e, ov.l_id, ov.r_id,
         CAST(overlap AS DOUBLE) / (sqrt(ln.n) * sqrt(rn.n)) AS sim
  FROM ov JOIN ln ON ln.id = ov.l_id JOIN rn ON rn.id = ov.r_id
)
SELECT e, l_id, r_id, sim
FROM (SELECT *, row_number() OVER (PARTITION BY e, l_id ORDER BY sim DESC, r_id) AS rk FROM sim)
WHERE rk <= {top_n}
"""


def serve_expected(
    sql: str, ref_paths: list[str], probe_path: str, cache: DigestCache
) -> list[list[int]]:
    """For each epoch ``k`` (the reference after ``ref_paths[:k + 1]``,
    which are ``part``-shaped), the digest of the probe's rows
    ``(l_id, r_id, micro(sim))``."""

    def compute() -> list[list[int]]:
        con = duckdb.connect()
        con.execute(
            "CREATE TABLE ref AS "
            + " UNION ALL ".join(
                f"SELECT p_partkey AS r_id, p_name AS name, {k} AS epoch FROM read_parquet('{p}')"
                for k, p in enumerate(ref_paths)
            )
        )
        con.execute(f"CREATE VIEW probe AS SELECT * FROM read_parquet('{probe_path}')")
        con.execute(f"CREATE TABLE epochs AS SELECT range AS e FROM range({len(ref_paths)})")
        t = con.execute(sql).fetchnumpy()
        con.close()
        return [
            list(digest(t["l_id"][t["e"] == k], t["r_id"][t["e"] == k], micro(t["sim"][t["e"] == k])))
            for k in range(len(ref_paths))
        ]

    return cache.get_or_compute(["serve", sql, file_digest(probe_path, *ref_paths)], compute)
