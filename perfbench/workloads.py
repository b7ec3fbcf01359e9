"""The workloads: closed loop, one client (the Spark driver); each call
waits for the previous one to finish.

``point_queries``  set-up builds the base index, tombstones 1% of its docs
                   (so queries run merge-on-read), opens a persisting
                   ``Searcher`` and makes the first call of each query
                   path; the measured cycle is one query per shape and
                   one ``topk_many`` batch.
``maintain``       set-up builds the base index; the measured cycle
                   drains an ingest wave, tombstones 1% of the base docs,
                   compacts under the default scoring-group floor,
                   purges, and queries the result.

The measured cycle is a fixed amount of work; ``--seconds`` does not
change it.

Every timed call goes through :class:`optrace.Ops`; its output is checked
against :class:`model.Model` after its timer stops.
"""

from __future__ import annotations

import os
import time
import traceback
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np

import gen
from model import Model, check_docs, check_ranked
from optrace import Op, Ops

K = 10
N_BUCKETS = 16
#: the base corpus, a wave of four files (``maintain`` only) and 1% of
#: the base docs to tombstone. A run costs ~30 s of session start and
#: JVM-cold build at any size, and the broad composed query grows with
#: the corpus (~4 s at 2k docs, 7-10 s at 6k), so 2k docs keep the 48
#: runs of a benchmark pass inside its time budget
SIZES = gen.Sizes(base_docs=2_000, wave_docs=500, wave_files=4,
                  delete_frac=0.01)
#: the measured point cycle: each single-query shape, then a batch
CYCLE = gen.SHAPES + ("batch",)
#: set-up runs one call per query path: ``and`` plans and scores like
#: ``or``, ``glob`` goes through the composed path, and ``near`` through
#: the same match-and-sort plan as ``phrase``
WARM = ("or", "phrase", "composed", "batch")
#: the maintain workload's queries after purge: the OR query covers
#: ranking and the purged stats, the phrase the rewritten position streams
POST_SET = ("or", "phrase")


@dataclass
class Run:
    spark: Any
    ops: Ops
    inputs: gen.Inputs
    paths: gen.Paths
    work: str
    model: Model
    session_s: float
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    #: wall seconds of the timed calls of one measured cycle
    cycle_s: float = 0.0
    #: workload facts reported as per-layer counters
    facts: dict[str, float] = field(default_factory=dict)
    #: timed calls by group: a layer name for build/maintenance steps,
    #: "warm" and "measure" for queries
    groups: dict[str, list[Op]] = field(default_factory=dict)

    @property
    def index(self) -> str:
        return os.path.join(self.work, "index")

    def timed(self, layer: str, name: str, fn: Callable[[], Any]) -> Any:
        """A maintenance/build step: it must not fail."""
        result, op = self.ops.run(layer, name, fn)
        self.groups.setdefault(layer, []).append(op)
        return result

    def checked(self, group: str, shape: str, spec: Any,
                searcher: Any) -> None:
        """One query (or batch) call, timed, then checked. A call that
        raises or answers wrongly counts as failed, and is not a
        latency sample."""
        self.attempted += 1
        try:
            (plan_s, rows), op = self.ops.run(
                "query", shape, lambda: _execute(searcher, shape, spec))
            op.plan_s = plan_s
            err = self._check(shape, spec, rows)
        except Exception:  # noqa: BLE001 — a failed op is a result, reported
            err = traceback.format_exc(limit=3)
            op = None
        if err is not None:
            self.failed += 1
            self.failures.append(f"{group}/{shape} {spec!r}: {err}")
        else:
            self.groups.setdefault(group, []).append(op)

    def _check(self, shape: str, spec: Any, rows: list) -> str | None:
        m = self.model
        if shape in ("phrase", "near"):
            got = [int(r["doc_id"]) for r in rows]
            exp = (m.phrase_docs(spec) if shape == "phrase"
                   else m.near_docs(spec[0], spec[1], spec[2]))
            return check_docs(got, exp)
        if shape == "batch":
            by_q: dict[str, list] = {f"q{i}": [] for i in range(len(spec))}
            for r in rows:
                by_q[r["query_id"]].append((int(r["rank"]), int(r["doc_id"]),
                                            float(r["score"])))
            for i, terms in enumerate(spec):
                got = [(d, s) for _, d, s in sorted(by_q[f"q{i}"])]
                err = check_ranked(got, *m.topk(terms), K)
                if err:
                    return f"q{i} {terms}: {err}"
            return None
        got = [(int(r["doc_id"]), float(r["score"]))
               for r in sorted(rows, key=lambda r: r["rank"])]
        if shape == "or":
            exp = m.topk(spec)
        elif shape == "and":
            exp = m.topk(spec, conjunctive=True)
        elif shape == "glob":
            exp = m.glob_topk(spec)
        else:
            exp = m.composed(spec)
        return check_ranked(got, *exp, K)


def _execute(searcher: Any, shape: str, spec: Any) -> tuple[float, list]:
    """(plan seconds: the Searcher call until it returns the lazy
    DataFrame, collected rows)."""
    t0 = time.perf_counter()
    if shape == "or":
        df = searcher.topk(spec, K)
    elif shape == "and":
        df = searcher.topk(spec, K, conjunctive=True)
    elif shape == "glob":
        df = searcher.glob_topk(spec, K)
    elif shape == "phrase":
        df = searcher.phrase_docs(spec)
    elif shape == "near":
        df = searcher.near_docs(spec[0], spec[1], slop=spec[2])
    elif shape == "composed":
        df = searcher.search(gen.composed_query(spec), K)
    elif shape == "batch":
        df = searcher.topk_many(
            {f"q{i}": terms for i, terms in enumerate(spec)}, K)
    else:
        raise ValueError(f"unknown query shape {shape!r}")
    plan_s = time.perf_counter() - t0
    return plan_s, df.collect()


def build(run: Run, n_segments: int | None = None) -> None:
    from glug_spark.index.pipeline import build_index

    summary = run.timed("pipeline", "build", lambda: build_index(
        run.spark, run.paths.corpus, run.index, n_buckets=N_BUCKETS,
        n_segments=n_segments))
    run.model.add(run.inputs.base)
    run.facts["pipeline.postings"] = float(summary["n_postings"])
    for key in ("segments", "encoded_bytes"):
        run.facts[f"pipeline.{key}"] = float(summary[key])


def open_searcher(run: Run, persist: bool) -> Any:
    from glug_spark.query.searcher import Searcher

    return run.timed("searcher", "open", lambda: Searcher(
        run.spark, run.index, n_buckets=N_BUCKETS, persist=persist))


def ingest(run: Run) -> None:
    """Drain the wave (doc ids disjoint from the build's) into the index;
    it lands as new segments, about one per core."""
    from glug_spark.streaming.ingest import ingest_available

    run.timed("ingest", "wave", lambda: ingest_available(
        run.spark, run.paths.wave, run.index, n_buckets=N_BUCKETS))
    run.model.add(run.inputs.wave)


def tombstone(run: Run) -> None:
    from glug_spark.index.deletes import delete_docs

    deletes = run.inputs.deletes
    run.timed("deletes", "tombstone",
              lambda: delete_docs(run.spark, run.index, deletes.tolist()))
    run.model.tombstone(deletes)


def point_queries(run: Run) -> None:
    """Queries on an index with 1% tombstoned docs, so every call runs the
    merge-on-read path and is checked against its semantics."""
    build(run)
    tombstone(run)
    se = open_searcher(run, persist=True)
    try:
        for shape in WARM:  # first execution of each query path: set-up
            run.checked("warm", shape, run.inputs.queries["warm"][shape], se)
        n0 = len(run.ops.ops)
        for shape in CYCLE:
            run.checked("measure", shape, run.inputs.queries[shape], se)
        run.cycle_s = _ops_s(run, n0)
        run.facts["storage.cached_mb"] = _cached_mb(run.spark)
    finally:
        se.close()


def maintain(run: Run) -> None:
    """Write path, then the queries that check what it left."""
    from glug_spark.index.compact import compact_index
    from glug_spark.index.deletes import purge_deletes

    # one segment more than cores (the adaptive split's layout for a
    # corpus of that many thousand docs): with the wave's ~cores segments
    # compaction then has more groups than the product's default floor
    # (2 x cores) keeps, on any core count
    build(run, n_segments=run.spark.sparkContext.defaultParallelism + 1)
    n0 = len(run.ops.ops)
    ingest(run)
    tombstone(run)
    summary = run.timed("compact", "compact",
                        lambda: compact_index(run.spark, run.index))
    for key in ("rows_before", "rows_after", "groups"):
        run.facts[f"compact.{key}"] = float(summary[key])
    purged = run.timed("purge", "purge",
                       lambda: purge_deletes(run.spark, run.index))
    run.facts["deletes.purge_rows"] = float(
        purged["rows_before"] - purged["rows_after"])
    run.model.purge()
    se = open_searcher(run, persist=False)  # a Searcher pins its layout
    try:
        for shape in POST_SET:
            run.checked("measure", shape, run.inputs.queries[shape], se)
    finally:
        se.close()
    run.cycle_s = _ops_s(run, n0)


def _ops_s(run: Run, first: int) -> float:
    """Wall seconds of the timed calls from op ``first`` on (output
    checks between calls are not counted)."""
    return sum(o.wall_s for o in run.ops.ops[first:])


def _cached_mb(spark: Any) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()  # noqa: SLF001
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


WORKLOADS = {"point_queries": point_queries, "maintain": maintain}


def decode_mb_per_s(index: str, max_rows: int = 1000) -> float:
    """``codec.decode_segment`` + ``codec.decode_blocks`` (all blocks)
    over posting rows read with pyarrow outside Spark; MB of encoded
    doc-gap/tf/dl bytes decoded per second (each row decoded twice)."""
    import pyarrow.parquet as pq

    from glug_spark.index import codec

    cols = ["df_local", "doc_gaps", "tfs", "dls", "block_last",
            "gap_offsets", "tf_offsets", "dl_offsets"]
    rows = pq.read_table(os.path.join(index, "postings"),
                         columns=cols).slice(0, max_rows).to_pylist()
    nbytes = 2 * sum(len(r["doc_gaps"]) + len(r["tfs"]) + len(r["dls"])
                     for r in rows)
    t0 = time.perf_counter()
    for r in rows:
        codec.decode_segment(r)
        codec.decode_blocks(r, np.arange(len(r["gap_offsets"])))
    return nbytes / 2**20 / (time.perf_counter() - t0)
