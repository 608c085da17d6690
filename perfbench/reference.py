"""Independent references the benchmark checks every run's outputs against.

Nothing here calls into ``tag_spark``: violations come from SQL run in
DuckDB over the staged parquet, bucket ids from a pure-Python XXH64,
near-duplicate pairs from a driver-side inverted index, clusters from a
union-find over those pairs, and the exact top-k from numpy brute force.
"""

from __future__ import annotations

import struct
from collections import Counter, defaultdict
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

ERROR, WARN = "error", "warn"
N_BUCKETS = 64

# ---------------------------------------------------------------------------
# transcript violations (DuckDB)
# ---------------------------------------------------------------------------

# The same fifteen checks the default transcript suite runs, written as one
# SQL query. Window checks order by (turn_idx, ts) with NULLs first, which is
# Spark's ascending order; ties left by that order cannot change a verdict
# (a duplicate turn_idx is its own allowed predecessor and equal ts are
# monotone), so the oracle needs no text-hash tie-break.
VIOLATIONS_SQL = """
WITH t AS (SELECT conv_id, turn_idx, role, text, tool, ts FROM read_parquet('{path}/*.parquet')),
w AS (
  SELECT conv_id, turn_idx, ts,
         lag(turn_idx) OVER (PARTITION BY conv_id ORDER BY turn_idx NULLS FIRST, ts NULLS FIRST) AS prev_idx,
         lag(ts) OVER (PARTITION BY conv_id ORDER BY turn_idx NULLS FIRST, ts NULLS FIRST) AS prev_ts,
         count(*) OVER (PARTITION BY conv_id, turn_idx) AS dup_c
  FROM t
)
SELECT 'turn_idx_not_null' AS check_id, 'error' AS severity, conv_id, turn_idx FROM t WHERE turn_idx IS NULL
UNION ALL SELECT 'role_not_null', 'error', conv_id, turn_idx FROM t WHERE role IS NULL
UNION ALL SELECT 'ts_not_null', 'error', conv_id, turn_idx FROM t WHERE ts IS NULL
UNION ALL SELECT 'text_not_null', 'error', conv_id, turn_idx FROM t WHERE text IS NULL
UNION ALL SELECT 'text_nonempty', 'warn', conv_id, turn_idx FROM t WHERE text IS NOT NULL AND length(text) = 0
UNION ALL SELECT 'text_no_nul', 'warn', conv_id, turn_idx FROM t WHERE text IS NOT NULL AND contains(text, chr(0))
UNION ALL SELECT 'turn_idx_nonneg', 'error', conv_id, turn_idx FROM t WHERE turn_idx IS NOT NULL AND turn_idx < 0
UNION ALL SELECT 'ts_in_epoch_range', 'error', conv_id, turn_idx FROM t
  WHERE ts IS NOT NULL AND NOT (ts >= TIMESTAMP '1970-01-01 00:00:00' AND ts <= TIMESTAMP '2100-01-01 00:00:00')
UNION ALL SELECT 'text_max_len', 'error', conv_id, turn_idx FROM t WHERE text IS NOT NULL AND length(text) > 16384
UNION ALL SELECT 'tool_requires_assistant', 'error', conv_id, turn_idx FROM t
  WHERE tool IS NOT NULL AND NOT coalesce(role = 'assistant', FALSE)
UNION ALL SELECT 'role_in_vocab', 'error', conv_id, turn_idx FROM t WHERE role IS NOT NULL AND role NOT IN ({roles})
UNION ALL SELECT 'tool_in_vocab', 'error', conv_id, turn_idx FROM t WHERE tool IS NOT NULL AND tool NOT IN ({tools})
UNION ALL SELECT 'unique_turn', 'error', conv_id, turn_idx FROM w WHERE dup_c > 1
UNION ALL SELECT 'turn_contiguous', 'error', conv_id, turn_idx FROM w
  WHERE NOT coalesce((prev_idx IS NOT NULL OR turn_idx = 0)
                 AND (prev_idx IS NULL OR turn_idx = prev_idx + 1 OR turn_idx = prev_idx), FALSE)
UNION ALL SELECT 'ts_monotone', 'error', conv_id, turn_idx FROM w
  WHERE prev_ts IS NOT NULL AND ts IS NOT NULL AND ts < prev_ts
"""

CHECK_SEVERITY = {
    "turn_idx_not_null": ERROR,
    "role_not_null": ERROR,
    "ts_not_null": ERROR,
    "text_not_null": ERROR,
    "text_nonempty": WARN,
    "text_no_nul": WARN,
    "turn_idx_nonneg": ERROR,
    "ts_in_epoch_range": ERROR,
    "text_max_len": ERROR,
    "tool_requires_assistant": ERROR,
    "role_in_vocab": ERROR,
    "tool_in_vocab": ERROR,
    "unique_turn": ERROR,
    "turn_contiguous": ERROR,
    "ts_monotone": ERROR,
}


def transcript_reference(path: str, roles, tools) -> dict:
    """Violation rows, turn count and per-bucket turn counts of the parquet
    table at ``path``, computed by DuckDB; ``roles`` and ``tools`` are the
    allowed vocabularies."""
    import duckdb

    q = lambda xs: ", ".join(f"'{x}'" for x in xs)  # noqa: E731
    con = duckdb.connect()
    try:
        rows = con.execute(VIOLATIONS_SQL.format(path=path, roles=q(roles), tools=q(tools))).fetchall()
        convs = con.execute(f"SELECT conv_id, count(*) FROM read_parquet('{path}/*.parquet') GROUP BY conv_id").fetchall()
        null_text = con.execute(f"SELECT count(*) FROM read_parquet('{path}/*.parquet') WHERE text IS NULL").fetchone()[0]
    finally:
        con.close()
    conv_bucket = {c: spark_bucket(c) for c, _ in convs}
    bucket_rows: Counter = Counter()
    for c, n in convs:
        bucket_rows[conv_bucket[c]] += n
    violations = sorted(
        [(r[0], r[1], r[2], None if r[3] is None else int(r[3]), conv_bucket[r[2]]) for r in rows],
        key=_violation_key,
    )
    return {
        "violations": violations,  # (check_id, severity, conv_id, turn_idx, bucket_id)
        "turns": sum(n for _, n in convs),
        "null_text": int(null_text),
        "bucket_rows": {str(b): n for b, n in sorted(bucket_rows.items())},
    }


def _violation_key(v):
    return (v[0], v[2], -(1 << 40) if v[3] is None else v[3])


def expected_verdicts(violations, bucket_rows: dict) -> list[tuple]:
    """(bucket_id, check_id, verdict, rows_checked, rows_violating) for every
    bucket present x every check — the verdict matrix the suite must write."""
    per = Counter((v[4], v[0]) for v in violations)
    out = []
    for b, n in bucket_rows.items():
        for cid, sev in CHECK_SEVERITY.items():
            k = per.get((int(b), cid), 0)
            verdict = "PASS" if k == 0 else ("WARN" if sev == WARN else "FAIL")
            out.append((int(b), cid, verdict, int(n), k))
    return sorted(out)


# ---------------------------------------------------------------------------
# XXH64 (Spark's xxhash64 with its default seed 42) -> logical bucket id
# ---------------------------------------------------------------------------

_M = (1 << 64) - 1
_P1, _P2, _P3, _P4, _P5 = (
    0x9E3779B185EBCA87,
    0xC2B2AE3D27D4EB4F,
    0x165667B19E3779F9,
    0x85EBCA77C2B2AE63,
    0x27D4EB2F165667C5,
)


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M, 31) * _P1) & _M


def xxh64(data: bytes, seed: int = 42) -> int:
    """Unsigned 64-bit XXH64 of ``data`` (the public algorithm)."""
    n, p = len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M, (seed + _P2) & _M, seed & _M, (seed - _P1) & _M]
        while p <= n - 32:
            for i in range(4):
                v[i] = _round(v[i], struct.unpack_from("<Q", data, p)[0])
                p += 8
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M
        for x in v:
            h = ((h ^ _round(0, x)) * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while p + 8 <= n:
        h = (_rotl(h ^ _round(0, struct.unpack_from("<Q", data, p)[0]), 27) * _P1 + _P4) & _M
        p += 8
    if p + 4 <= n:
        h = (_rotl(h ^ ((struct.unpack_from("<I", data, p)[0] * _P1) & _M), 23) * _P2 + _P3) & _M
        p += 4
    while p < n:
        h = (_rotl(h ^ ((data[p] * _P5) & _M), 11) * _P1) & _M
        p += 1
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    return h ^ (h >> 32)


def spark_bucket(conv_id: str, n_buckets: int = N_BUCKETS) -> int:
    """pmod(xxhash64(conv_id), n) — for a power-of-two n the pmod of the
    signed hash equals the low bits of the unsigned one."""
    return xxh64(conv_id.encode("utf-8")) % n_buckets


# ---------------------------------------------------------------------------
# near-duplicate pairs and clusters
# ---------------------------------------------------------------------------


def shingles(text: str, k: int = 3) -> set[str]:
    words = " ".join(text.lower().split()).split(" ")
    return {" ".join(words[i : i + k]) for i in range(len(words) - k + 1)}


def round6(x: float) -> float:
    """Half-up rounding to 6 places of the double's shortest decimal form."""
    return float(Decimal(repr(x)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP))


def jaccard_pairs(docs: list[tuple[int, str]], k: int, threshold: float, max_shingle_freq: int | None) -> dict:
    """{(id_a, id_b): round6(jaccard)} for every pair sharing a shingle with
    rounded jaccard >= threshold, over shingle sets with the shingles held
    by more than ``max_shingle_freq`` documents removed."""
    sets = {i: shingles(t, k) for i, t in docs}
    freq = Counter(sh for s in sets.values() for sh in s)
    if max_shingle_freq is not None:
        sets = {i: {sh for sh in s if freq[sh] <= max_shingle_freq} for i, s in sets.items()}
    inv = defaultdict(list)
    for i, s in sets.items():
        for sh in s:
            inv[sh].append(i)
    shared: Counter = Counter()
    for ids in inv.values():
        ids.sort()
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                shared[(ids[x], ids[y])] += 1
    out = {}
    for (a, b), n in shared.items():
        j = round6(n / (len(sets[a]) + len(sets[b]) - n))
        if j >= threshold:
            out[(a, b)] = j
    return out


def union_find_clusters(ids, pairs) -> dict:
    """{id: (cluster_id, cluster_size)} with the component minimum as label."""
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    label = {i: find(i) for i in ids}
    size = Counter(label.values())
    return {i: (lab, size[lab]) for i, lab in label.items()}


# ---------------------------------------------------------------------------
# exact top-k
# ---------------------------------------------------------------------------


def cosine_matrix(Q: np.ndarray, X: np.ndarray) -> np.ndarray:
    return (Q @ X.T) / np.outer(np.linalg.norm(Q, axis=1), np.linalg.norm(X, axis=1))


def exact_topk(Q: np.ndarray, X: np.ndarray, k: int) -> np.ndarray:
    """Row i: corpus row indices of query i's k best cosines (best first)."""
    return np.argsort(-cosine_matrix(Q, X), axis=1, kind="stable")[:, :k]
