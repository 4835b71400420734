"""Seeded inputs for the sgbench workloads.

Both workloads get the same kind of inputs, a pure function of the seed:

- the base corpus: code_files rows from ``corpus._gen_batch`` over the id
  range ``[BASE_OFFSET, BASE_OFFSET + base_docs)`` -- the rows
  ``spark.range(offset, offset + n)`` piped through the generator would
  give. It is the same for every seed, so its index can be built once per
  checkout (README.md, "Run budget"). Every ``VICTIM_STRIDE``-th base doc
  carries the victim token;
- the add slice (one doc carries a marker token) and the fresh content of
  the re-adds come from an id range the seed offsets, so every seed adds
  different documents;
- the base, add and re-add slices share no document identity except the
  deliberate re-adds (an "update": a deleted identity indexed again with
  new content);
- the query stream draws 1-4 terms Zipf-like from the corpus vocabulary
  (hot terms first), with about 10% absent terms, from a pool small enough
  that some query texts repeat;
- the delete and re-add schedule picks victims among the victim-token docs
  and re-adds among the victims by seed.

``write_inputs`` stores the slices as parquet files (pyarrow, fixed
settings, no timestamps) and the schedule as JSON, so one seed gives
byte-identical files. The program under test only ever sees those files
and the query texts.
"""

from __future__ import annotations

import json
import os
from collections import Counter
from dataclasses import asdict, dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from data_prepper_spark.analyzer import tokenize_py
from data_prepper_spark.corpus import _POOLS, _gen_batch

# marker tokens: absent from the generated vocabulary (no pool token starts
# with "zq"), single analyzer tokens (lowercase letters only)
MARKER = "zqmarker"  # in exactly one doc of the add slice
VICTIM = "zqvictim"  # in every VICTIM_STRIDE-th base doc; victims are drawn from these
UPDATE = "zqupdate"  # in every re-added (updated) identity
ABSENT_PREFIX = "zqabsent"

QUERY_POOL = 200  # distinct query texts; the stream draws from these
BATCH_SIZE = 4  # queries per topk_batch request
# set-up sends a single query and a batch (the first of each in a JVM pays
# its warm-up; a traced run also sends a DSL match), checked and not
# timed; the timed stream repeats ROUND
WARMUP = ("single", "batch", "dsl_match")
ROUND = ("single", "single", "batch")
MIN_ROUNDS = 3  # the request stream runs for --seconds, and at least this many rounds


@dataclass(frozen=True)
class Sizes:
    base_docs: int = 2000
    victim_stride: int = 20  # base docs holding the victim token: every 20th
    add_docs: int = 100
    victims: int = 20
    readds: int = 3
    rounds: int = 64  # request rounds generated (the serving phase stops early)


SIZES = Sizes()
BASE_OFFSET = 0  # the base corpus is the same for every seed (see README)


@dataclass
class Inputs:
    workload: str
    seed: int
    offset: int  # first row id of the seed's add slice
    base: pd.DataFrame
    add: pd.DataFrame | None = None
    readd: pd.DataFrame | None = None
    victims: list[int] = field(default_factory=list)  # row positions in base
    readd_of: list[int] = field(default_factory=list)  # base positions re-added
    warmup: list[dict] = field(default_factory=list)
    requests: list[dict] = field(default_factory=list)
    nrt_queries: list[str] = field(default_factory=list)


def row_offset(seed: int) -> int:
    """First add-slice row id for a seed; ranges of different seeds are
    disjoint from each other and from the base for the slice sizes above,
    and stay below 2**32 (the generator
    folds the low 32 id bits into the commit hash, which keeps every
    identity distinct)."""
    return 1_000_000 * (1 + seed % 4000)


def gen_rows(start: int, n: int) -> pd.DataFrame:
    """code_files rows for ids [start, start + n)."""
    return _gen_batch(np.arange(start, start + n, dtype=np.int64))


def vocabulary() -> list[str]:
    """Corpus vocabulary ranked hot-first: analyzer tokens of the
    generator's token pools, by how often the pools repeat them."""
    counts: Counter[str] = Counter()
    for lang in sorted(_POOLS):
        for entry in _POOLS[lang]:
            counts.update(tokenize_py(str(entry)))
    return sorted(counts, key=lambda t: (-counts[t], t))


def _zipf_index(rng: np.random.Generator, n: int, s: float, size: int) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return rng.choice(n, size=size, p=w / w.sum())


def query_pool(rng: np.random.Generator) -> list[str]:
    """QUERY_POOL distinct texts of 1-4 terms, Zipf over the vocabulary;
    about 10% of terms are absent from the corpus."""
    vocab = vocabulary()
    out: list[str] = ["the int return data"]  # the hot-term query
    seen = set(out)
    n_absent = 0
    while len(out) < QUERY_POOL:
        n_terms = int(rng.choice([1, 2, 3, 4], p=[0.3, 0.35, 0.2, 0.15]))
        terms = []
        for idx in _zipf_index(rng, len(vocab), 1.0, n_terms):
            if rng.random() < 0.1:
                terms.append(f"{ABSENT_PREFIX}{n_absent}")
                n_absent += 1
            else:
                terms.append(vocab[int(idx)])
        text = " ".join(terms)
        if text not in seen:
            seen.add(text)
            out.append(text)
    return out


def query_stream(rng: np.random.Generator, pool: list[str], n: int) -> list[str]:
    """n texts drawn Zipf-like from the pool, so popular texts repeat."""
    return [pool[int(i)] for i in _zipf_index(rng, len(pool), 0.8, n)]


def serve_requests(rng: np.random.Generator, rounds: int) -> tuple[list[dict], list[dict]]:
    """(warm-up requests, timed request stream)."""
    kinds = list(WARMUP) + list(ROUND) * rounds
    stream = iter(query_stream(rng, query_pool(rng), len(kinds) * BATCH_SIZE))
    reqs: list[dict] = []
    for kind in kinds:
        if kind == "batch":
            texts = [next(stream) for _ in range(BATCH_SIZE)]
            reqs.append({"kind": kind, "queries": {f"q{j:02d}": t for j, t in enumerate(texts)}})
        else:
            reqs.append({"kind": kind, "query": next(stream)})
    return reqs[: len(WARMUP)], reqs[len(WARMUP) :]


def _append_line(df: pd.DataFrame, positions, token: str) -> None:
    col = df["content"].to_numpy(dtype=object).copy()
    for p in positions:
        col[p] = f"{col[p]}\n{token}"
    df["content"] = col


def base_rows() -> pd.DataFrame:
    """The base corpus, victim tokens included."""
    base = gen_rows(BASE_OFFSET, SIZES.base_docs)
    _append_line(base, range(0, SIZES.base_docs, SIZES.victim_stride), VICTIM)
    return base


def make_inputs(workload: str, seed: int) -> Inputs:
    """The inputs of one run. Both workloads draw the same inputs from a
    seed; they differ in when the requests are sent (workloads.py)."""
    sz = SIZES
    rng = np.random.Generator(np.random.PCG64(seed))
    off = row_offset(seed)
    inp = Inputs(workload, seed, off, base_rows())
    inp.warmup, inp.requests = serve_requests(rng, sz.rounds)
    # add slice, victims, re-adds of a few victims' identities
    inp.add = gen_rows(off, sz.add_docs)
    _append_line(inp.add, [0], MARKER)
    candidates = np.arange(0, sz.base_docs, sz.victim_stride)
    victims = sorted(int(v) for v in rng.choice(candidates, size=sz.victims, replace=False))
    readd_of = sorted(int(v) for v in rng.choice(victims, size=sz.readds, replace=False))
    fresh = gen_rows(off + sz.add_docs, sz.readds)
    readd = inp.base.iloc[readd_of][["repo", "path", "commit", "lang"]].reset_index(drop=True)
    readd["content"] = fresh["content"].to_numpy(dtype=object)
    _append_line(readd, range(len(readd)), UPDATE)
    inp.readd, inp.victims, inp.readd_of = readd, victims, readd_of
    # queries of the maintenance cycle all match something: an absent-only
    # text returns without a Spark job
    pool = [t for t in query_pool(rng) if not all(w.startswith(ABSENT_PREFIX) for w in t.split())]
    inp.nrt_queries = query_stream(rng, pool, 2)
    return inp


def _write_parquet(df: pd.DataFrame, directory: str, files: int) -> None:
    os.makedirs(directory, exist_ok=True)
    table = pa.Table.from_pandas(df, preserve_index=False)
    step = -(-len(df) // files)
    for i in range(files):
        pq.write_table(
            table.slice(i * step, step),
            os.path.join(directory, f"part-{i:03d}.parquet"),
            compression="snappy",
        )


def write_inputs(inp: Inputs, root: str, slices=("base", "add", "readd")) -> dict[str, str]:
    """Write the named slices under ``root``; returns {slice name: directory}."""
    dirs = {}
    if "base" in slices:
        dirs["base"] = os.path.join(root, "base")
        _write_parquet(inp.base, dirs["base"], 4)
    for name in ("add", "readd"):
        if name not in slices:
            continue
        df = getattr(inp, name)
        if df is not None:
            dirs[name] = os.path.join(root, name)
            _write_parquet(df, dirs[name], 1)
    schedule = {
        "workload": inp.workload,
        "seed": inp.seed,
        "offset": inp.offset,
        "sizes": asdict(SIZES),
        "victims": inp.victims,
        "readd_of": inp.readd_of,
        "warmup": inp.warmup,
        "requests": inp.requests,
        "nrt_queries": inp.nrt_queries,
    }
    with open(os.path.join(root, "schedule.json"), "w") as f:
        json.dump(schedule, f, sort_keys=True, indent=1)
    return dirs
