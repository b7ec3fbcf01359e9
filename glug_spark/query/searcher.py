"""Index query planner: one index opened once, every query shape
answered from it.

A :class:`Searcher` opens the index ONCE: it reads the build
parameters (``params/``: term-bucket and docmap moduli), pins the tiny
metadata (collection stats, segment map, tombstone set) on the driver,
keeps the postings / term_stats DataFrames analyzed, and optionally
``persist()``s them. Every method plans one Spark query over those
handles; the per-group NumPy kernels live in :mod:`glug_spark.query.wand`.

Scale posture: term_stats is vocab-sized (fine to persist); postings
persist is a knob — on a 100 TB index you leave it off and let
executor-side page cache + bucket pruning do the work, on a hot-bucket
service you persist just the DataFrame (partition-level MEMORY_AND_DISK
eviction keeps it bounded). NOTHING corpus-sized is ever collected.

A Searcher snapshots the index layout at open time: reopen after
``compact_index``, stream ingestion, or ``delete_docs``/``purge_deletes``
(the tombstone set is pinned with the rest of the metadata).
"""

from __future__ import annotations

from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window, functions as F, types as T

from glug_spark.query import wand
from glug_spark.query.parser import QueryPlan, parse_query
from glug_spark.index.pipeline import N_DOC_BUCKETS, python_bucket

_MATCH_SCHEMA = T.StructType([T.StructField("doc_id", T.LongType())])
_BATCH_SCHEMA = T.StructType([
    T.StructField("query_id", T.StringType()),
    T.StructField("doc_id", T.LongType()),
    T.StructField("raw_score", T.DoubleType()),
])
_BATCH_RESULT = "query_id string, rank int, doc_id long, score double"

Members = list[tuple[str, str]]
#: per-group kernel: one scoring group's posting rows → its result rows
Scorer = Callable[[pd.DataFrame], pd.DataFrame]


def _plan(query: str) -> QueryPlan:
    plan = parse_query(query)
    if not plan.groups and not plan.phrases and not plan.nears:
        raise ValueError(f"query has no positive constraint: {query!r}")
    return plan


class Searcher:
    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        n_buckets: int | None = None,
        persist: bool = True,
    ) -> None:
        """``n_buckets`` is optional: the term-bucket count is read from
        the index's ``params/``. A value that differs from the build's
        raises — it would prune every scan to the wrong bucket
        partitions and return an empty top-k."""
        from glug_spark.index.compact import read_segmap
        from glug_spark.index.deletes import read_deleted_ids

        self.spark = spark
        self.index_dir = index_dir
        params = spark.read.parquet(f"{index_dir}/params").collect()[0].asDict()
        built = int(params["n_buckets"])
        if n_buckets is not None and n_buckets != built:
            raise ValueError(
                f"{index_dir} was built with n_buckets={built}, not "
                f"{n_buckets}"
            )
        self.n_buckets = built
        #: docmap modulus (indexes from before the params column used
        #: the default)
        self.n_doc_buckets = int(params.get("n_doc_buckets") or N_DOC_BUCKETS)
        self._persisted: list[DataFrame] = []

        self.postings = spark.read.parquet(f"{index_dir}/postings")
        self.term_stats = spark.read.parquet(f"{index_dir}/term_stats")
        self.segmap = read_segmap(spark, index_dir)
        coll = spark.read.parquet(f"{index_dir}/collection").collect()[0]
        self.avgdl = float(coll["avgdl"])
        self.n_docs = int(coll["n_docs"])

        #: merge-on-read tombstone set, pinned at open like the segmap.
        #: Shipped as a Spark broadcast (torrent, cached per executor
        #: across this Searcher's queries) instead of riding every
        #: query job's task closure — at production tombstone counts
        #: between purges the closure would re-serialize MBs per query.
        arr = read_deleted_ids(spark, index_dir)
        self.deleted = (
            None if arr is None else spark.sparkContext.broadcast(arr)
        )
        if persist:
            for df in (self.postings, self.term_stats):
                df.persist()
                self._persisted.append(df)
            # materialize metadata eagerly; postings fill lazily per bucket
            self.term_stats.count()
            self._warm()

    def _warm(self) -> None:
        """Front-load the first query's fixed costs at open time (the
        service shape pays them once per handle, not on a user query):
        spin up the Arrow Python workers with a one-row run of the
        per-group kernel path, and touch the postings parquet footers
        via a metadata-only count (column-pruned count-star — no posting
        blob is read, and the persisted cache is NOT materialized)."""
        self._by_group(
            self.spark.createDataFrame([(1,)], "grp long"),
            lambda p: p, "grp long",
        ).count()
        self.spark.read.parquet(f"{self.index_dir}/postings").count()

    def close(self) -> None:
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()
        if self.deleted is not None:
            self.deleted.unpersist()
            self.deleted = None

    def __enter__(self) -> "Searcher":
        return self

    def __exit__(self, *exc: object) -> None:
        self.close()

    # --- planning helpers -------------------------------------------------

    def _bucket_pruned(self, df: DataFrame, terms: list[str]) -> DataFrame:
        buckets = sorted({python_bucket(t, self.n_buckets) for t in terms})
        return df.where(F.col("bucket").isin(buckets))

    def _idf(self, terms: list[str]) -> DataFrame:
        """(term, idf) rows of explicit query terms — broadcast-joined
        onto the posting scan instead of a separate driver lookup (a
        vocab-absent term simply joins to nothing)."""
        return (
            self._bucket_pruned(self.term_stats, terms)
            .where(F.col("term").isin(terms))
            .select("term", "idf")
        )

    def _scan(self, terms: list[str] | None, pred: F.Column | None,
              cols: list[str], *sides: DataFrame) -> DataFrame:
        """The posting rows one query reads, keyed by scoring group.

        The scan prunes to the bucket partitions of ``terms`` (None when
        a glob member leaves the bucket set open) and pushes ``pred``
        into parquet (row-group skipping on the term-sorted layout);
        ``cols`` column-prunes the read. Each query-sized ``sides``
        table is then broadcast-joined on ``term``. ``grp`` is the
        segment on an uncompacted index; after compaction the tiny
        ``segmap/`` is broadcast-joined so all runs of a coarsened
        group — merged or untouched — co-group."""
        rows = self.postings
        if terms is not None:
            rows = self._bucket_pruned(rows, terms)
        if pred is not None:
            rows = rows.where(pred)
        rows = rows.select(*cols)
        for side in sides:
            rows = rows.join(F.broadcast(side), "term")
        if self.segmap is None:
            return rows.withColumn("grp", F.col("segment"))
        return rows.join(F.broadcast(self.segmap), "segment", "left").withColumn(
            "grp", F.coalesce("grp", F.col("segment"))
        )

    def _composed_scan(self, member_lists: list[Members],
                       members: DataFrame, positions: bool) -> DataFrame:
        """Scan for composed queries, one member list per query. Bucket
        partitions prune when EVERY member is an explicit term; the
        pushable (In|StartsWith) conjunct applies when every query has a
        pushable form. Both are redundant with the exact member
        semantics, which ride the ``members`` join. Positions are read
        only when a phrase/NEAR needs them."""
        flat = [m for lst in member_lists for m in lst]
        terms = (
            [v for _, v in flat] if all(kind == "term" for kind, _ in flat)
            else None
        )
        pred = None
        pushables = [wand._pushable_member_pred(lst) for lst in member_lists]
        if all(p is not None for p in pushables):
            pred = pushables[0]
            for p in pushables[1:]:
                pred = pred | p
        cols = wand._SCORING_COLS + (
            ["positions", "pos_offsets"] if positions else []
        )
        return self._scan(terms, pred, cols, members)

    def _roles(self, groups: list[Members], negations: Members,
               phrases: list[list[str]],
               nears: list[tuple[str, str, int, bool]],
               ) -> tuple[DataFrame, Members, bool]:
        """One composed query's term roles (idf, group bitmask, negation
        and phrase flags — computed JVM-side over term_stats, so glob
        expansion never reaches the driver), its flat member list for
        scan pruning, and whether it needs positions."""
        pos_words = list(dict.fromkeys(
            [w for ph in phrases for w in ph]
            + [w for a, b, _, _ in nears for w in (a, b)]
        ))
        members = wand.build_members(self.term_stats, groups, negations,
                                     pos_words)
        flat = ([m for g in groups for m in g] + negations
                + [("term", w) for w in pos_words])
        return members, flat, bool(pos_words)

    def _by_group(self, rows: DataFrame, kernel: Scorer,
                  schema: "T.StructType | str") -> DataFrame:
        """The query layer's one Python kernel boundary: ``kernel`` runs
        once per scoring group over that group's rows, behind the
        explicit grp exchange of :func:`wand.scorer_partitions`."""
        return wand.scorer_partitions(rows).groupBy("grp").applyInPandas(
            kernel, schema=schema
        )

    def _topk(self, rows: DataFrame, scorer: Scorer, k: int) -> DataFrame:
        """One query: k-bounded per-group results, then the one-job
        global merge + rank (:func:`wand._ranked_bounded`)."""
        per_group = self._by_group(rows, lambda pdf: scorer(pdf),
                                   wand._SCORE_SCHEMA)
        return wand._ranked_bounded(per_group, k)

    def _batch(self, rows: DataFrame, scorer_for: Callable[[str], Scorer],
               k: int) -> DataFrame:
        """Many queries in one job: rows tagged with ``query_id`` are
        scored per (query, group) by ``scorer_for(query_id)``, then
        ranked per query by a ``query_id`` window:
        (query_id, rank, doc_id, score)."""
        def score_group(pdf: pd.DataFrame) -> pd.DataFrame:
            outs = []
            for qid, qpdf in pdf.groupby("query_id", sort=False):
                res = scorer_for(qid)(qpdf)
                res.insert(0, "query_id", qid)
                outs.append(res)
            return pd.concat(outs) if outs else pd.DataFrame(
                {"query_id": [], "doc_id": [], "raw_score": []}
            ).astype({"query_id": "object", "doc_id": "int64",
                      "raw_score": "float64"})

        per_group = self._by_group(rows, score_group, _BATCH_SCHEMA)
        w = Window.partitionBy("query_id").orderBy(
            F.desc("raw_score"), F.asc("doc_id")
        )
        return (
            per_group.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "rank", "doc_id",
                    F.round("raw_score", 6).alias("score"))
        )

    def _match_docs(self, words: list[str],
                    hits: Callable[[pd.DataFrame], np.ndarray]) -> DataFrame:
        """doc_id-sorted docs of a positional match: ``hits(pdf)`` gives
        one group's matching doc_ids from the rows of ``words``;
        tombstoned docs are masked out."""
        uniq = list(dict.fromkeys(words))
        cols = [c for c in self.postings.columns if c != "bucket"]
        rows = self._scan(uniq, F.col("term").isin(uniq), cols)
        deleted = self.deleted

        def match_segment(pdf: pd.DataFrame) -> pd.DataFrame:
            from glug_spark.index.deletes import (
                not_deleted_mask, resolve_deleted,
            )

            ids = hits(pdf)
            ids = ids[not_deleted_mask(resolve_deleted(deleted), ids)]
            return pd.DataFrame({"doc_id": ids}).astype({"doc_id": "int64"})

        return wand._sorted_docs(
            self._by_group(rows, match_segment, _MATCH_SCHEMA)
        )

    def attach_urls(self, results: DataFrame,
                    snippet_terms: list[str] | None = None) -> DataFrame:
        """Join each result row's ``url`` (and, with ``snippet_terms``,
        a ``snippet``) from the index's docmap side table — a k-row
        lookup, never a corpus scan: the (tiny) result set is broadcast
        onto the doc_id-bucketed map and the join key includes the
        partition column ``doc_bucket``, so the scan prunes to at most
        k of the map's partition directories (dynamic partition
        pruning; plan-asserted in tests). The snippet is the
        deterministic match window of query.snippet computed on the doc
        store's ``text`` column — read only for the pruned buckets, and
        not read at all for url-only lookups (parquet column pruning)."""
        from glug_spark.index.pipeline import read_docmap
        from glug_spark.query.snippet import snippet_col

        dm = read_docmap(self.spark, self.index_dir)
        if dm is None:
            raise FileNotFoundError(
                f"{self.index_dir}/docmap does not exist — the index "
                "predates docmap; rebuild (build_index writes it) to "
                "use with_urls"
            )
        res = results.withColumn(
            "doc_bucket",
            F.pmod(F.col("doc_id"), F.lit(self.n_doc_buckets)).cast("int"),
        )
        out_cols = [c for c in results.columns]
        side: list[F.Column] = [F.col("url")]
        dm_cols = ["doc_bucket", "doc_id", "url"]
        if snippet_terms is not None:
            if "text" not in dm.columns:
                raise FileNotFoundError(
                    f"{self.index_dir}/docmap has no text column — the "
                    "index predates the doc store; rebuild to use "
                    "with_snippets"
                )
            dm_cols.append("text")
            side.append(
                snippet_col(snippet_terms, F.col("text")).alias("snippet")
            )
        return (
            dm.select(*dm_cols)
            .join(F.broadcast(res), ["doc_bucket", "doc_id"])
            .select(*out_cols, *side)
        )

    # --- queries ----------------------------------------------------------

    def topk(self, terms: list[str], k: int = 10,
             conjunctive: bool = False,
             with_urls: bool = False,
             with_snippets: bool = False) -> DataFrame:
        """Exact BM25 top-k (rank, doc_id, score) — rank-identical to
        query.bm25.bm25_topk over the indexed corpus.

        3 Spark jobs warm (pinned in tests/test_plan_shape.py): idf
        rides a broadcast stats join instead of a separate driver
        lookup (a vocab-absent term simply joins to nothing; the
        conjunctive scorer already returns empty when a term's list is
        missing from its group)."""
        uniq = list(dict.fromkeys(terms))
        rows = self._scan(uniq, F.col("term").isin(uniq), wand._SCORING_COLS,
                          self._idf(uniq))
        scorer = wand.make_segment_scorer(
            uniq, self.avgdl, k, conjunctive, deleted=self.deleted
        )
        out = self._topk(rows, scorer, k)
        if with_urls or with_snippets:
            return self.attach_urls(
                out, snippet_terms=uniq if with_snippets else None
            )
        return out

    def topk_many(self, queries: dict[str, list[str]], k: int = 10) -> DataFrame:
        """MANY disjunctive top-k queries in ONE Spark query:
        (query_id, rank, doc_id, score).

        The per-query latency floor at local[*] is the Arrow groupBy
        round trip (~0.3 s regardless of data); batching amortizes it —
        the rows of each query's terms are tagged with query_id via a
        broadcast join (a term shared by multiple queries fans out one
        row per query), one exchange co-locates (grp), and the scorer
        runs the MaxScore kernel per (query, group). Each query's
        result is rank-identical to :meth:`topk` (asserted by tests).
        """
        qitems = [(qid, t) for qid, terms in queries.items()
                  for t in dict.fromkeys(terms)]
        if not qitems:
            return self.spark.createDataFrame([], _BATCH_RESULT)
        qterms = self.spark.createDataFrame(
            qitems, "query_id string, term string"
        )
        all_terms = sorted({t for _, t in qitems})
        rows = self._scan(all_terms, F.col("term").isin(all_terms),
                          wand._SCORING_COLS, qterms, self._idf(all_terms))
        terms_by_query = {qid: list(dict.fromkeys(t)) for qid, t in queries.items()}
        avgdl, deleted = self.avgdl, self.deleted
        return self._batch(rows, lambda qid: wand.make_segment_scorer(
            terms_by_query[qid], avgdl, k, False, deleted=deleted
        ), k)

    def composed_topk(self, groups: list[Members],
                      negations: Members | None = None,
                      phrases: list[list[str]] | None = None,
                      k: int = 10,
                      nears: list[tuple[str, str, int, bool]] | None = None,
                      ) -> DataFrame:
        """Exact top-k for a composed query (AND of disjunctive groups,
        minus negations, constrained by phrases and proximity windows).

        Fully distributed glob expansion: the matched vocabulary never
        reaches the driver — term_stats rows matching any member
        predicate are broadcast-joined onto the posting scan, delivering
        idf and the per-term role flags as columns, and the filters run
        INSIDE the MaxScore kernel, before θ-seeding and before each
        group's local top-k (exact: a selective filter can never starve
        the result)."""
        negations = negations or []
        phrases = phrases or []
        nears = nears or []
        if not groups and not phrases and not nears:
            raise ValueError("composed query has no positive constraint")
        members, flat, positions = self._roles(groups, negations, phrases,
                                               nears)
        rows = self._composed_scan([flat], members, positions)
        scorer = wand.make_composed_scorer(
            len(groups), phrases, self.avgdl, k, nears=nears,
            deleted=self.deleted,
        )
        return self._topk(rows, scorer, k)

    def glob_topk(self, glob: str, k: int = 10) -> DataFrame:
        return self.composed_topk(groups=[[("glob", glob)]], k=k)

    def search(self, query: str, k: int = 10,
               with_urls: bool = False,
               with_snippets: bool = False) -> DataFrame:
        """glug-dialect query string → exact top-k, rank-identical to
        the full-scan reference execute.search.

        Snippets use the query's literal positive terms plus its phrase
        words (a glob's matched vocabulary is per-doc, so glob-only
        queries yield NULL snippets by the closed-form rule)."""
        plan = _plan(query)
        out = self.composed_topk(
            groups=plan.groups, negations=plan.negations,
            phrases=plan.phrases, k=k, nears=plan.nears,
        )
        if with_urls or with_snippets:
            terms = None
            if with_snippets:
                terms = list(dict.fromkeys(
                    plan.positive_terms
                    + [w for p in plan.phrases for w in p]
                    + plan.near_words
                ))
            return self.attach_urls(out, snippet_terms=terms)
        return out

    def search_many(self, queries: dict[str, str], k: int = 10) -> DataFrame:
        """MANY glug-dialect query strings in ONE Spark query:
        (query_id, rank, doc_id, score). The composed analog of
        :meth:`topk_many` — per-query role columns ride one unioned
        broadcast members table and the scan prunes to the union of the
        queries' members; the exact filtered MaxScore kernel runs per
        (query, doc-group). Each slice is rank-identical to
        :meth:`search` (asserted by tests)."""
        plans = {qid: _plan(q) for qid, q in queries.items()}
        if not plans:
            return self.spark.createDataFrame([], _BATCH_RESULT)
        members = None
        member_lists = []
        any_positions = False
        for qid, plan in plans.items():
            m, flat, positions = self._roles(plan.groups, plan.negations,
                                             plan.phrases, plan.nears)
            m = m.withColumn("query_id", F.lit(qid))
            members = m if members is None else members.unionByName(m)
            member_lists.append(flat)
            any_positions = any_positions or positions
        rows = self._composed_scan(member_lists, members, any_positions)
        meta = {
            qid: (len(plan.groups), plan.phrases, plan.nears)
            for qid, plan in plans.items()
        }
        avgdl, deleted = self.avgdl, self.deleted

        def scorer_for(qid: str) -> Scorer:
            n_groups, phrases, nears = meta[qid]
            return wand.make_composed_scorer(n_groups, phrases, avgdl, k,
                                             nears=nears, deleted=deleted)

        return self._batch(rows, scorer_for, k)

    def phrase_docs(self, phrase: list[str]) -> DataFrame:
        """doc_ids containing the exact adjacent-token phrase, sorted —
        identical to query.bm25.phrase_docs over the indexed corpus."""
        words = list(phrase)
        return self._match_docs(
            words, lambda pdf: wand._phrase_hits_segment(pdf, words)
        )

    def near_docs(self, term_a: str, term_b: str, slop: int = 3,
                  ordered: bool = False) -> DataFrame:
        """Proximity (NEAR) match: doc_ids where ``term_b`` occurs within
        ``slop`` tokens of ``term_a``, sorted — identical to
        query.bm25.near_docs over the indexed corpus."""
        return self._match_docs(
            [term_a, term_b],
            lambda pdf: wand._near_hits_segment(pdf, term_a, term_b, slop,
                                                ordered),
        )
