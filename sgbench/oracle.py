"""Independent BM25 reference in DuckDB.

The oracle re-tokenizes every document with the analyzer's DuckDB
rendering (``analyzer.duckdb_tokens_sql``), builds its own postings and
recomputes BM25 (k1 = 1.2, b = 0.75, idf = ln(1 + (N - df + 0.5) /
(df + 0.5))) with DuckDB SQL. It shares no code with the index build or
the query kernels.

A *state* names two row sets: the rows whose statistics (N, avgdl, df)
count, and the rows that may be returned. That expresses every index state
the workloads check: a merged index (both sets equal), tombstoned docs
before a refresh (statistics still count them, results drop them) and a
refreshed index (only live rows).
"""

from __future__ import annotations

import math

import duckdb
import pandas as pd

from data_prepper_spark.analyzer import duckdb_tokens_sql

K1 = 1.2
B = 0.75
SCORE_TOL = 1e-6  # score agreement required per rank
TIE_TOL = 1e-9  # oracle scores closer than this are a tie (order may differ)
_EXTRA = 5  # oracle rows fetched beyond k, to resolve ties at the cut


_M64 = (1 << 64) - 1
_P1, _P2, _P3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9
_P4, _P5 = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M64, 31) * _P1) & _M64


def xxh64(data: bytes, seed: int) -> int:
    """XXH64 of ``data`` (unsigned 64-bit result)."""
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M64, (seed + _P2) & _M64, seed & _M64, (seed - _P1) & _M64]
        while i + 32 <= n:
            for j in range(4):
                v[j] = _round(v[j], int.from_bytes(data[i + 8 * j : i + 8 * j + 8], "little"))
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M64
        for lane in v:
            h = ((h ^ _round(0, lane)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i : i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _P1) & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M64
        h = (_rotl(h, 11) * _P1) & _M64
        i += 1
    h = ((h ^ (h >> 33)) * _P2) & _M64
    h = ((h ^ (h >> 29)) * _P3) & _M64
    return h ^ (h >> 32)


def doc_id(repo: str, path: str, commit: str) -> int:
    """Document identity as Spark's ``xxhash64(repo, path, commit)``
    computes it: XXH64 over each column's UTF-8 bytes, the previous hash
    as the next seed (starting at 42), read as a signed 64-bit integer."""
    h = 42
    for v in (repo, path, commit):
        h = xxh64(v.encode("utf-8"), h)
    return h - (1 << 64) if h >= (1 << 63) else h


def doc_ids(df: pd.DataFrame) -> list[int]:
    return [doc_id(r, p, c) for r, p, c in zip(df["repo"], df["path"], df["commit"])]


class Bm25Oracle:
    def __init__(self, rows: pd.DataFrame):
        """``rows``: one row per indexed document version with columns
        rk (unique row key), doc_id, lang, content."""
        self.con = duckdb.connect()
        self.con.register("rows_in", rows[["rk", "doc_id", "lang", "content"]])
        self.con.execute("CREATE TABLE rows AS SELECT * FROM rows_in")
        self.con.unregister("rows_in")
        self.con.execute(
            "CREATE TABLE toks AS SELECT rk, "
            f"{duckdb_tokens_sql('content')} AS tokens FROM rows"
        )
        self.con.execute("CREATE TABLE doclen AS SELECT rk, len(tokens) AS dl FROM toks")
        self.con.execute(
            "CREATE TABLE postings AS SELECT rk, term, count(*) AS tf "
            "FROM (SELECT rk, unnest(tokens) AS term FROM toks) GROUP BY rk, term"
        )
        self.states: set[str] = set()
        self._memo: dict[tuple, list[tuple[int, float]]] = {}  # popular texts repeat

    def add_state(self, name: str, stats_rks, live_rks) -> None:
        for kind, rks in (("stats", stats_rks), ("live", live_rks)):
            self.con.register("rk_in", pd.DataFrame({"rk": sorted(int(r) for r in rks)}))
            self.con.execute(f"CREATE OR REPLACE TABLE {kind}_{name} AS SELECT rk FROM rk_in")
            self._memo.clear()
            self.con.unregister("rk_in")
        self.con.execute(
            f"CREATE OR REPLACE TABLE n_{name} AS SELECT count(*) AS n, "
            f"avg(dl) AS avgdl FROM doclen WHERE rk IN (SELECT rk FROM stats_{name})"
        )
        self.con.execute(
            f"CREATE OR REPLACE TABLE df_{name} AS SELECT term, count(*) AS df "
            f"FROM postings WHERE rk IN (SELECT rk FROM stats_{name}) GROUP BY term"
        )
        self.states.add(name)

    def query_terms(self, text: str) -> list[str]:
        row = self.con.execute(
            f"SELECT list_sort(list_distinct({duckdb_tokens_sql('q')})) FROM (SELECT ?::VARCHAR AS q)",
            [text],
        ).fetchone()
        return list(row[0] or [])

    def topk(self, state: str, text: str, k: int, lang: str | None = None) -> list[tuple[int, float]]:
        """[(doc_id, score)] ordered (score desc, doc_id asc), k + a few
        extra rows so ties across the cut can be told apart."""
        if state not in self.states:
            raise KeyError(f"unknown oracle state {state!r}")
        key = (state, text, k, lang)
        if key not in self._memo:
            self._memo[key] = self._topk(state, text, k, lang)
        return self._memo[key]

    def _topk(self, state: str, text: str, k: int, lang: str | None) -> list[tuple[int, float]]:
        terms = self.query_terms(text)
        if not terms:
            return []
        n, avgdl = self.con.execute(f"SELECT n, avgdl FROM n_{state}").fetchone()
        lang_pred = "AND r.lang = ?" if lang is not None else ""
        sql = f"""
            SELECT r.doc_id, sum(
                ln(1 + ({n} - d.df + 0.5) / (d.df + 0.5))
                * p.tf * {K1 + 1} / (p.tf + {K1} * (1 - {B} + {B} * l.dl / {avgdl!r}))
            ) AS score
            FROM postings p
            JOIN df_{state} d ON d.term = p.term
            JOIN live_{state} v ON v.rk = p.rk
            JOIN doclen l ON l.rk = p.rk
            JOIN rows r ON r.rk = p.rk
            WHERE p.term IN (SELECT unnest(?::VARCHAR[])) {lang_pred}
            GROUP BY p.rk, r.doc_id
            ORDER BY score DESC, r.doc_id ASC
            LIMIT {k + _EXTRA}
        """
        params: list = [terms] + ([lang] if lang is not None else [])
        return [(int(d), float(s)) for d, s in self.con.execute(sql, params).fetchall()]

    def close(self) -> None:
        self.con.close()


def compare(got: list[tuple[int, int, float]], want: list[tuple[int, float]], k: int) -> str | None:
    """None when the engine's rows ``got`` = [(rank, doc_id, score)] match the
    oracle's ``want`` (from ``Bm25Oracle.topk``): same length, ranks 1..n,
    each score within SCORE_TOL of the oracle's at that rank, and each doc
    id equal to the oracle's -- or, inside a group of oracle scores tied
    within TIE_TOL, a member of that group. Otherwise a one-line reason."""
    n = min(k, len(want))
    if len(got) != n:
        return f"{len(got)} rows, oracle has {n}"
    got = sorted(got)
    for i, (rank, doc, score) in enumerate(got):
        if rank != i + 1:
            return f"rank {rank} at position {i + 1}"
        w_doc, w_score = want[i]
        if not math.isfinite(score) or abs(score - w_score) > SCORE_TOL:
            return f"rank {rank}: score {score!r}, oracle {w_score!r}"
        if doc != w_doc:
            tied = {d for d, s in want if abs(s - w_score) <= TIE_TOL}
            if doc not in tied:
                return f"rank {rank}: doc {doc}, oracle {w_doc}"
    if len({d for _, d, _ in got}) != len(got):
        return "duplicate doc ids"
    return None
