"""Persistent query engine over a built index: the "search service" path.

``bm25_topk_wand`` (query/wand.py) is the one-shot path — every call pays
stats lookup + a cold scan. A real search deployment keeps the index hot:
this engine loads ``corpus_stats`` once, keeps a driver-side cache of
dictionary rows for seen terms, and (optionally) persists the
``posting_blocks`` DataFrame so a scan reads executor memory instead of
parquet. That mirrors how the reference's delegate (OpenSearch/Lucene)
serves queries from page-cached segment files.

Two scoring paths share one per-shard dispatch (``wand.score_shards``)
and give the same answers:

- driver-local, for the serving calls ``topk_rows`` and ``topk_batch``: a
  request whose distinct terms hold at most ``LOCAL_POSTINGS_BUDGET``
  postings (Σdf, read from the dictionary, no job) is scored in the driver
  from a per-term block cache pinned to the engine's generation. The
  request's cold terms cost one filtered ``toPandas()``; a warm request
  runs no Spark job and no Python worker. On a 4-vCPU host a warm query
  takes ~30 ms this way against ~1 s for the distributed job, nearly all
  of which is job scheduling and the Arrow hop into the Python worker
  rather than BM25.
- distributed: ``filter -> mapInPandas`` over the persisted blocks, one
  Spark job. ``topk`` always returns this lazy plan, and the serving
  calls use it over the budget (at design scale a hot term's postings do
  not fit the driver) or when the engine has too many tombstones to hold
  their ids.

At design scale the blocks table exceeds cluster RAM; ``persist_blocks``
uses MEMORY_AND_DISK so hot terms stay resident and cold ones spill —
the same economics as Lucene's page cache.
"""

from __future__ import annotations

from collections import OrderedDict

import pandas as pd
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..analyzer import tokenize_py
from ..tableio import TableIO
from .common import idf as _idf
from .wand import score_shards

# Postings a request may hold (Σdf over its distinct terms) to be scored
# in the driver; also the cap on the postings the block cache keeps.
# Sized on a 4-vCPU host (local[4]) over a 50k-doc write_code_files index
# (16 shards), timing requests of 1-32 hot terms (50k-1.5M postings) three
# ways: warm driver-local, cold driver-local (empty block cache) and the
# distributed plan collected. Warm local cost ~1.3 us a posting (100 ms at
# 50k, ~600 ms at 400k, 0.75-1.4 s at 750k), cold 1.2-2x that; the
# distributed job took 1.1-1.8 s at every size. They cross near 750k
# postings; 500k keeps a warm local request under ~0.6 s and a cold one
# under ~1 s. Cached blocks take ~10.5 B a posting in pandas (~5 MB).
LOCAL_POSTINGS_BUDGET = 500_000


class IndexQueryEngine:
    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        persist_blocks: bool = True,
        shard_partitions: int = 8,
        exhaustive_threshold: int | None = None,
    ):
        self.spark = spark
        self.io = TableIO(index_dir)
        self.shard_partitions = shard_partitions
        from .common import load_stats_full
        from .wand import EXHAUSTIVE_THRESHOLD

        self.n_docs, self.avgdl, self.layered = load_stats_full(spark, self.io)
        # layered (NRT) index: stored block-max wtf bounds embed a stale
        # avgdl; prune with avgdl-independent tf-only bounds instead of
        # forcing the exhaustive kernel (see _Cursor docstring)
        self._bounds = "tf" if self.layered else "wtf"
        self._thr = (
            EXHAUSTIVE_THRESHOLD if exhaustive_threshold is None else exhaustive_threshold
        )
        self._dict_cache: dict[str, dict | None] = {}
        # term_hash -> that term's block rows (every shard and segment) for
        # the driver-local path, least recently used first; pinned to the
        # generation like the dictionary cache, so it never goes stale
        self._block_cache: OrderedDict[int, pd.DataFrame] = OrderedDict()
        self._cached_postings = 0
        # pin BOTH versioned tables to the generation current at
        # construction (rpath resolves the pointer once): with the GC
        # grace period (_gc_generations retain>=1) a refresh that bumps
        # the pointer leaves this engine's snapshot readable until it is
        # re-opened — resolving the dictionary per call would mix new-gen
        # df/idf stats with old-gen blocks. Layered segment side
        # dictionaries live INSIDE the pinned blocks generation, so the
        # same snapshot covers them.
        import os as _os

        self._dict_path = (
            self.io.rpath("dictionary") if self.io.exists("dictionary") else None
        )
        # live-docs snapshot, pinned at construction like the generation
        # pointer: deletes issued later need a new engine (same rule as
        # refresh). Serving kernels widen per-shard top-k by the tombstone
        # count so post-filter top-k stays exact. The tombstones table is
        # never cleared, so the count only grows, also across refresh.
        # Zero overhead when no delete ever happened.
        from .common import tombstone_count

        self._n_tombstones = tombstone_count(spark, self.io)
        dead = (
            spark.read.parquet(self.io.path("tombstones")).select("doc_id").distinct().collect()
            if 0 < self._n_tombstones <= 1000
            else []
        )
        self._dead_ids = frozenset(int(r["doc_id"]) for r in dead)
        _seg = self.io.rpath("posting_blocks/_segdict")
        self._segdict_path = _seg if _os.path.isdir(_seg) else None
        self.blocks = self.io.read(spark, "posting_blocks")
        self._prepartitioned = persist_blocks
        if persist_blocks:
            # persist already hash-partitioned by shard: the per-query plan
            # is then filter -> mapInPandas over cached partitions with NO
            # exchange (a partition holds only complete shards, so every
            # (shard, term) group is intact under any term filter). The
            # in-memory columnar cache prunes batches by term min/max, the
            # RAM analog of parquet row-group pruning.
            self.blocks = self.blocks.repartition(shard_partitions, "shard").persist(
                StorageLevel.MEMORY_AND_DISK
            )

    def _dict_df(self) -> DataFrame:
        if self.io.catalog != "parquet":
            from .common import dict_df

            return dict_df(self.spark, self.io)  # iceberg: snapshot commit
        cols = ["term", "df", "cf", "term_hash", "max_wtf"]
        base = (
            self.spark.read.parquet(self._dict_path).select(*cols)
            if self._dict_path is not None
            else None
        )
        if self._segdict_path is None:
            if base is None:
                return self.spark.createDataFrame(
                    [], "term string, df long, cf long, term_hash long, max_wtf double"
                )
            return base
        seg = self.spark.read.parquet(self._segdict_path).select(*cols)
        return (
            (base.unionByName(seg) if base is not None else seg)
            .groupBy("term")
            .agg(
                F.sum("df").alias("df"),
                F.sum("cf").alias("cf"),
                F.max("term_hash").alias("term_hash"),
                F.max("max_wtf").alias("max_wtf"),
            )
        )

    def _term_stats(self, terms: list[str]) -> dict[str, dict]:
        missing = [t for t in terms if t not in self._dict_cache]
        if missing:
            rows = (
                self._dict_df()
                .where(F.col("term").isin(missing))
                .select("term", "term_hash", "df", "max_wtf")
                .collect()
            )
            found = {r["term"] for r in rows}
            for r in rows:
                self._dict_cache[r["term"]] = {
                    "df": int(r["df"]),
                    "hash": int(r["term_hash"]),
                    "idf": _idf(self.n_docs, int(r["df"])),
                    "max_wtf": float(r["max_wtf"]) if r["max_wtf"] is not None else 0.0,
                }
            for t in missing:
                if t not in found:
                    self._dict_cache[t] = None
        return {t: s for t in terms if (s := self._dict_cache.get(t)) is not None}

    _TOPK_SCHEMA = "rank int, doc_id long, score double"
    _BATCH_SCHEMA = "query_id string, rank int, doc_id long, score double"

    def _hstats(self, query_text: str) -> dict[int, dict]:
        """{term_hash: stats} of the query's terms found in the dictionary."""
        terms = sorted(set(tokenize_py(query_text)))
        return {s["hash"]: s for s in self._term_stats(terms).values()}

    def _fits_driver(self, per_q: dict[str, dict[int, dict]]) -> bool:
        """Path choice from what the driver knows: score locally when the
        request's distinct terms hold at most LOCAL_POSTINGS_BUDGET
        postings and the dead ids are in memory (they are not loaded past
        1000 tombstones)."""
        dfs = {h: s["df"] for hstats in per_q.values() for h, s in hstats.items()}
        if not dfs:
            return True  # nothing to score
        if self._n_tombstones and not self._dead_ids:
            return False
        return sum(dfs.values()) <= LOCAL_POSTINGS_BUDGET

    def _cached_blocks(self, hashes: set[int]) -> pd.DataFrame:
        """Block rows of ``hashes``: the cold ones fetched with one filtered
        ``toPandas()``, then LRU-evicted down to the budget."""
        cache = self._block_cache
        cold = [h for h in hashes if h not in cache]
        if cold:
            pdf = self.blocks.where(F.col("term_hash").isin(cold)).toPandas()
            groups = dict(tuple(pdf.groupby("term_hash")))
            for h in cold:
                cache[h] = groups.get(h, pdf.iloc[:0])
            self._cached_postings += int(pdf["n_docs"].sum())
        for h in hashes:
            cache.move_to_end(h)
        out = pd.concat([cache[h] for h in hashes])
        while self._cached_postings > LOCAL_POSTINGS_BUDGET:
            _, old = cache.popitem(last=False)
            self._cached_postings -= int(old["n_docs"].sum())
        return out

    def _score_local(
        self, per_q: dict[str, dict[int, dict]], k: int
    ) -> dict[str, list[tuple[int, float]]]:
        """The distributed plan run in the driver: the same per-shard
        dispatch and widening, dead ids dropped, then each query's global
        top-k in (score desc, doc_id asc) order."""
        hits: dict[str, list[tuple[int, float]]] = {qid: [] for qid in per_q}
        hashes = {h for hstats in per_q.values() for h in hstats}
        if hashes:
            blocks = self._cached_blocks(hashes)
            n = k + self._n_tombstones
            for qid, doc, score in score_shards(
                [blocks], per_q, self.avgdl, n, self._thr, self._bounds
            ):
                if doc not in self._dead_ids:
                    hits[qid].append((doc, score))
        return {qid: sorted(h, key=lambda t: (-t[1], t[0]))[:k] for qid, h in hits.items()}

    def topk(self, query_text: str, k: int = 10) -> DataFrame:
        """(rank int, doc_id long, score double) — block-max WAND per shard,
        TakeOrderedAndProject merge. Lazy: one Spark job when collected."""
        return self._topk_df(query_text, k)

    def topk_rows(self, query_text: str, k: int = 10) -> list[Row]:
        """Collected result rows — the SERVING-path API, equal to
        ``topk(query_text, k).collect()``. A request inside the budget is
        scored in the driver: no Spark job once its terms' blocks are
        cached, one small ``toPandas()`` for its cold terms. Rows, not a
        DataFrame, because collecting even a local DataFrame is a job.
        Over the budget it collects the distributed plan."""
        out = self._topk_df(query_text, k, local=True)
        return out if isinstance(out, list) else out.collect()

    def _drop_dead(self, df: DataFrame) -> DataFrame:
        """Live-docs filter over a (small) candidate frame: literal
        NOT-IN for few tombstones, broadcast anti-join beyond that."""
        if not self._n_tombstones:
            return df
        if self._dead_ids:
            return df.where(~F.col("doc_id").isin(list(self._dead_ids)))
        t = (
            self.spark.read.parquet(self.io.path("tombstones"))
            .select("doc_id")
            .distinct()
        )
        return df.join(F.broadcast(t), "doc_id", "left_anti")

    def _candidates(self, per_q: dict[str, dict[int, dict]], k: int) -> DataFrame:
        """The distributed scoring plan: (query_id, doc_id, score) per-shard
        candidates from one ``mapInPandas`` pass, live docs only."""
        avgdl, n = self.avgdl, k + self._n_tombstones
        thr, bounds = self._thr, self._bounds

        def per_shard(pdfs):
            rows = score_shards(pdfs, per_q, avgdl, n, thr, bounds)
            yield pd.DataFrame(rows, columns=["query_id", "doc_id", "score"]).astype(
                {"doc_id": "int64", "score": "float64"}
            )

        hashes = list({h for hstats in per_q.values() for h in hstats})
        filtered = self.blocks.where(F.col("term_hash").isin(hashes))
        if not self._prepartitioned:
            filtered = filtered.repartition(self.shard_partitions, "shard")
        return self._drop_dead(
            filtered.mapInPandas(per_shard, "query_id string, doc_id long, score double")
        )

    def _topk_df(self, query_text: str, k: int, local: bool = False) -> DataFrame | list[Row]:
        """Plan one query: tokenize, dictionary lookup, path choice. With
        ``local`` a request inside the budget is scored in the driver and
        its rows are returned; otherwise the lazy distributed plan."""
        per_q = {"": self._hstats(query_text)}
        if local and self._fits_driver(per_q):
            top = self._score_local(per_q, k)[""]
            return [Row(rank=r, doc_id=d, score=s) for r, (d, s) in enumerate(top, 1)]
        if not per_q[""]:
            return self.spark.createDataFrame([], self._TOPK_SCHEMA)
        topk = (
            self._candidates(per_q, k)
            .drop("query_id")
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )
        from pyspark.sql.window import Window

        # rank over the already-top-k rows: partitionBy(lit(0)) declares the
        # single partition explicitly (<= k rows), silencing WindowExec's
        # move-all-data warning without changing the plan's work
        w = F.row_number().over(
            Window.partitionBy(F.lit(0)).orderBy(F.desc("score"), F.asc("doc_id"))
        )
        return topk.select(w.alias("rank"), "doc_id", "score")

    def topk_batch(self, queries: dict[str, str], k: int = 10) -> DataFrame:
        """Evaluate MANY queries as one request: (query_id string, rank int,
        doc_id long, score double), rank-identical to per-query ``topk``.

        Inside the budget the batch is scored in the driver and the rows
        come back as a DataFrame built from pandas (the Arrow path; from a
        list of tuples it would be a parallelized RDD, ~20x slower to
        collect). Over it, ONE Spark job: the blocks scan filters on the
        union of all query-term hashes and each shard partition scores
        every query over its (already grouped) blocks — per-query latency
        amortizes the job's fixed scheduling cost, the way a search tier
        batches its request queue.
        """
        per_q = {qid: self._hstats(text) for qid, text in queries.items()}
        if self._fits_driver(per_q):
            rows = [
                (qid, r, d, s)
                for qid, top in self._score_local(per_q, k).items()
                for r, (d, s) in enumerate(top, 1)
            ]
            pdf = pd.DataFrame(rows, columns=["query_id", "rank", "doc_id", "score"])
            return self.spark.createDataFrame(
                pdf.astype({"rank": "int32", "doc_id": "int64", "score": "float64"}),
                self._BATCH_SCHEMA,
            )
        from pyspark.sql.window import Window

        w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
        return (
            self._candidates(per_q, k)
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "rank", "doc_id", "score")
        )

    def close(self) -> None:
        self._block_cache.clear()
        self._cached_postings = 0
        try:
            self.blocks.unpersist()
        except Exception:
            pass
