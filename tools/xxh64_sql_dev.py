"""Dev harness: validate the production DuckDB-SQL XXH64 kernel
(registry/oracle_xxh64.py — Spark's xxhash64: seed 42 over UTF-8
bytes, standard XXH64) bit-for-bit against a pure-Python XXH64 model.

The harness IMPORTS the production generator so every run exercises
the kernel the oracles actually use (an earlier revision carried its
own copy, which validated the copy, not the kernel). Run directly:

    python tools/xxh64_sql_dev.py          # 25 targeted + 400 fuzz
"""

import random
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from registry.oracle_xxh64 import SEED, xxh64_ctes  # noqa: E402

M = 1 << 64
P1 = 0x9E3779B185EBCA87
P2 = 0xC2B2AE3D27D4EB4F
P3 = 0x165667B19E3779F9
P4 = 0x85EBCA77C2B2AE63
P5 = 0x27D4EB2F165667C5


def py_xxh64(data: bytes, seed: int = SEED) -> int:
    MM = M - 1

    def rotl(x, r):
        return ((x << r) | (x >> (64 - r))) & MM

    def rnd(acc, lane):
        return (rotl((acc + lane * P2) & MM, 31) * P1) & MM

    def merge(acc, a):
        return ((acc ^ rnd(0, a)) * P1 + P4) & MM

    n = len(data)
    i = 0
    if n >= 32:
        a1, a2, a3, a4 = (seed + P1 + P2) & MM, (seed + P2) & MM, seed, (seed - P1) & MM
        while i + 32 <= n:
            a1 = rnd(a1, int.from_bytes(data[i : i + 8], "little")); i += 8
            a2 = rnd(a2, int.from_bytes(data[i : i + 8], "little")); i += 8
            a3 = rnd(a3, int.from_bytes(data[i : i + 8], "little")); i += 8
            a4 = rnd(a4, int.from_bytes(data[i : i + 8], "little")); i += 8
        acc = (rotl(a1, 1) + rotl(a2, 7) + rotl(a3, 12) + rotl(a4, 18)) & MM
        for a in (a1, a2, a3, a4):
            acc = merge(acc, a)
    else:
        acc = (seed + P5) & MM
    acc = (acc + n) & MM
    while i + 8 <= n:
        acc = (rotl(acc ^ rnd(0, int.from_bytes(data[i : i + 8], "little")), 27) * P1 + P4) & MM
        i += 8
    if i + 4 <= n:
        acc = (rotl(acc ^ ((int.from_bytes(data[i : i + 4], "little") * P1) & MM), 23) * P2 + P3) & MM
        i += 4
    while i < n:
        acc = (rotl(acc ^ ((data[i] * P5) & MM), 11) * P1) & MM
        i += 1
    acc ^= acc >> 33
    acc = (acc * P2) & MM
    acc ^= acc >> 29
    acc = (acc * P3) & MM
    acc ^= acc >> 32
    return acc


def _check(strs: list[str]) -> int:
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE src AS SELECT * FROM (VALUES "
        + ", ".join("(?)" for _ in strs)
        + ") t(s)",
        strs,
    )
    sql = (
        "WITH RECURSIVE srcd AS (SELECT DISTINCT s FROM src),"
        + xxh64_ctes("srcd")
        + " SELECT s, h::VARCHAR AS h FROM xxh"
    )
    rows = {s: int(h) for s, h in con.execute(sql).fetchall()}
    bad = 0
    for s in set(strs):
        want = py_xxh64(s.encode("utf-8"))
        if want != rows[s]:
            bad += 1
            print("MISMATCH", repr(s[:40]), want, rows[s])
    return bad


if __name__ == "__main__":
    # targeted lengths spanning every code path: empty, tail-byte /
    # tail-u32 / tail-u64 mixes, the 32-byte stripe boundary, unicode
    targeted = ["", "a", "ab", "abc", "abcd", "abcde", "abcdefg", "abcdefgh",
                "hello world", "héllo wörld ünïcode", "x" * 31, "y" * 32,
                "z" * 33, "w" * 39, "v" * 40, "u" * 63, "t" * 64, "s" * 65,
                "the quick brown fox jumps over the lazy dog " * 3,
                "A" * 100, "日本語テキスト", "mixed 日本 and ascii padding here",
                "q" * 36, "p" * 44, "o" * 47]
    rng = random.Random(7)
    alphabet = "abcdefghijklmnopqrstuvwxyz0123456789 ?!éü日本"
    fuzz = [
        "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 130)))
        for _ in range(400)
    ]
    bad = _check(targeted) + _check(fuzz)
    n = len(set(targeted)) + len(set(fuzz))
    print(f"{n - bad}/{n} match")
