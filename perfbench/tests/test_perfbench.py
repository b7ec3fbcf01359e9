"""Self-tests of the benchmark (no Spark): input determinism, the
output checker, the percentile rule and the metric names.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

import gen
import measure
import run
from model import Model, check_docs, check_ranked

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
SMALL = gen.Sizes(base_docs=300, wave_docs=50, wave_files=3,
                  delete_frac=0.02)


def _tree_bytes(root: str) -> dict[str, bytes]:
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def test_same_seed_same_bytes(tmp_path):
    _, a = gen.materialize(7, SMALL, str(tmp_path / "a"))
    _, b = gen.materialize(7, SMALL, str(tmp_path / "b"))
    ta, tb = _tree_bytes(a.root), _tree_bytes(b.root)
    assert sorted(ta) == sorted(tb)
    assert "corpus/documents.parquet" in ta
    assert sorted(k for k in ta if k.startswith("wave/")) == [
        f"wave/part-{i}.parquet" for i in range(SMALL.wave_files)]
    assert ta == tb
    _, c = gen.materialize(8, SMALL, str(tmp_path / "c"))
    assert _tree_bytes(c.root)["corpus/documents.parquet"] != \
        ta["corpus/documents.parquet"]


def test_cache_key_names_seed_sizes_and_version(monkeypatch):
    k = gen.cache_key(7, SMALL)
    assert k != gen.cache_key(8, SMALL)
    assert k != gen.cache_key(7, gen.Sizes(base_docs=301))
    monkeypatch.setattr(gen, "GEN_VERSION", gen.GEN_VERSION + 1)
    assert k != gen.cache_key(7, SMALL)


def test_text_renders_the_token_ids():
    inp = gen.generate(3, SMALL)
    words = gen.vocab()
    d = inp.base
    texts = d.text.to_pylist()
    assert any("\r\n" in t for t in texts) and any(t.endswith("   ")
                                                   for t in texts)
    for i in range(len(d)):
        toks = d.tokens[d.offsets[i]:d.offsets[i + 1]]
        assert texts[i].split() == [words[t] for t in toks]


def test_wave_follows_the_base_ids_and_deletes_hit_the_base(tmp_path):
    import pyarrow.parquet as pq

    inp, paths = gen.materialize(3, SMALL, str(tmp_path))
    assert inp.wave.doc_ids.tolist() == list(range(300, 350))
    assert len(inp.deletes) == 6 and inp.deletes.max() < 300
    ids = pq.read_table(paths.wave, columns=["doc_id"]).column(0)
    assert sorted(ids.to_pylist()) == list(range(300, 350))


RANKED = (np.array([5, 3, 9, 1]), np.array([4.0, 3.0, 2.0, 1.0]))


def test_checker_accepts_the_expected_top_k():
    assert check_ranked([(5, 4.0), (3, 3.0), (9, 2.0)], *RANKED, 3) is None
    # engine scores are rounded to 6 places
    assert check_ranked([(5, 4.0000004), (3, 3.0)], *RANKED, 2) is None


def test_checker_rejects_a_swapped_rank():
    assert check_ranked([(3, 3.0), (5, 4.0), (9, 2.0)], *RANKED, 3)
    assert check_ranked([(5, 4.0), (9, 3.0), (3, 2.0)], *RANKED, 3)


def test_checker_rejects_a_dropped_doc():
    assert check_ranked([(5, 4.0), (3, 3.0)], *RANKED, 3)
    assert check_docs([1, 3], np.array([1, 2, 3]))


def test_checker_rejects_a_score_off_by_1e5():
    assert check_ranked([(5, 4.0), (3, 3.00001), (9, 2.0)], *RANKED, 3)


def test_checker_lets_tied_docs_trade_ranks():
    ids, scores = np.array([2, 4, 6]), np.array([1.5, 1.5, 1.0])
    assert check_ranked([(4, 1.5), (2, 1.5)], ids, scores, 2) is None
    assert check_ranked([(6, 1.0), (2, 1.5)], ids, scores, 2)


def test_checker_rejects_foreign_and_repeated_docs():
    assert check_ranked([(5, 4.0), (7, 3.0)], *RANKED, 2)
    assert check_ranked([(5, 4.0), (5, 4.0)], np.array([5, 3]),
                        np.array([4.0, 4.0]), 2)
    assert check_docs([3, 1], np.array([1, 3]))


def _toy() -> Model:
    words = ["the", "a", "x", "y", "term1", "term12", "term2"]
    idx = {w: i for i, w in enumerate(words)}
    docs = [["the", "a", "x"], ["a", "the", "term12", "y"],
            ["x", "term1", "y", "y"], ["the", "x", "a"]]
    lens = np.array([len(d) for d in docs])
    offsets = np.concatenate([[0], np.cumsum(lens)])
    toks = np.array([idx[w] for d in docs for w in d], dtype=np.int32)
    m = Model([gen.Docs(np.arange(4), offsets, toks, None)], words)
    m.in_stats[:] = m.live[:] = True
    return m


def test_model_bm25_matches_the_closed_form():
    m = _toy()
    ids, scores = m.topk(["y"])
    n, avgdl = 4, 14 / 4
    idf = np.log(1 + (n - 2 + 0.5) / (2 + 0.5))

    def bm25(tf: float, dl: float) -> float:
        return idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))

    assert ids.tolist() == [2, 1]
    np.testing.assert_allclose(scores, [bm25(2, 4), bm25(1, 4)], rtol=1e-12)


def test_model_phrase_near_glob_and_deletes():
    m = _toy()
    assert m.phrase_docs(["the", "a"]).tolist() == [0]
    assert m.near_docs("the", "a", 2).tolist() == [0, 1, 3]
    assert sorted(m.glob_topk("term1*")[0].tolist()) == [1, 2]
    assert m.topk(["x", "y"], conjunctive=True)[0].tolist() == [2]
    ids, _ = m.composed(["term1*", "x", "a", "the"])
    assert ids.tolist() == [1]
    before = dict(zip(*m.topk(["x"])))
    m.tombstone(np.array([0]))
    after = dict(zip(*m.topk(["x"])))
    assert 0 not in after and after[2] == pytest.approx(before[2])
    m.purge()
    assert dict(zip(*m.topk(["x"])))[2] != pytest.approx(before[2])


@pytest.mark.parametrize("n, p", [
    (10_000, 99.9), (1_000, 99.0), (999, 95.0), (200, 95.0), (199, 90.0),
    (100, 90.0), (99, 75.0), (40, 75.0), (39, 50.0), (20, 50.0), (19, None),
])
def test_tail_percentile_needs_ten_samples_beyond(n, p):
    assert measure.tail_percentile(n) == p


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == \
        run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    import workloads

    assert sorted(w["name"] for w in spec["workloads"]) == \
        sorted(workloads.WORKLOADS)


def test_op_counters_union_jobs_and_dedupe_stages():
    from optrace import Op

    stage = {"skipped": False, "tasks": 4, "run_ms": 1000, "cpu_ns": 5e8,
             "gc_ms": 10, "input_bytes": 100, "input_rows": 7,
             "output_bytes": 0, "shuffle_write_bytes": 30}
    op = Op("t:0", "query", "or", start=10.0, end=14.0, wall_s=4.0, jobs=[
        # overlapping jobs, one starting before the op: cover is 11.0-13.0
        {"start": 11.0, "end": 12.5, "stages": [{"id": 1, **stage}]},
        {"start": 12.0, "end": 13.0, "stages": [
            {"id": 1, "skipped": True}, {"id": 2, **stage}]},
        {"start": 9.0, "end": 9.5, "stages": [{"id": 3, "skipped": True}]},
    ])
    c = op.counters()
    assert c["driver_s"] == pytest.approx(2.0)
    assert (c["jobs"], c["stages"], c["skipped_stages"]) == (3, 2, 1)
    assert c["tasks"] == 8 and c["executor_cpu_s"] == pytest.approx(1.0)
