"""Seeded input generator for the benchmark (numpy + pyarrow, no Spark).

One ``numpy.random.Generator`` seeded from ``--seed`` draws, in a fixed
order, the base corpus, the ingest wave (doc ids right after the base
corpus, so disjoint from it), the delete set and the queries, so the
same (seed, sizes) always gives the same bytes. The corpus follows
FIXTURES.md §1: a bounded Zipf(s=1.07) vocabulary whose head is
stopwords, mixed-case variants (``Term3`` / ``TERM3`` are distinct
terms), a CRLF subset and a trailing-whitespace subset. The token ids
stay in memory, so the expected answers are computed from the generated
token lists, never from the engine.

Output is cached under ``<cache_root>/<key>/`` where the key names the
seed, the sizes and :data:`GEN_VERSION`; bump the version whenever the
bytes this module produces change.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

GEN_VERSION = 2
VOCAB_SIZE = 10_000
STOPHEAD = ["the", "a", "of", "and", "to", "in", "is", "it"]
ZIPF_S = 1.07
LANGS = ["en", "de", "es", "fr", "zh"]
MIN_TOKENS, MAX_TOKENS = 30, 400


@dataclass(frozen=True)
class Sizes:
    base_docs: int
    #: docs of the ingest wave, written as ``wave_files`` parquet files
    wave_docs: int = 0
    wave_files: int = 1
    #: share of the base docs in the delete set
    delete_frac: float = 0.0


@dataclass
class Docs:
    """Documents as flat token ids (vocab indices) with CSR offsets."""

    doc_ids: np.ndarray  # int64 (n,)
    offsets: np.ndarray  # int64 (n + 1,)
    tokens: np.ndarray  # int32 (offsets[-1],)
    text: pa.Array  # rendered text, as the engine receives it

    def __len__(self) -> int:
        return len(self.doc_ids)


@dataclass
class Inputs:
    sizes: Sizes
    base: Docs
    wave: Docs  # doc ids base_docs .. base_docs + wave_docs - 1
    deletes: np.ndarray  # sorted int64 doc ids, all in the base corpus
    queries: dict[str, object]  # shape → its query spec (JSON-able)


def vocab() -> list[str]:
    mixed = [f"Term{i}" for i in range(10)] + [f"TERM{i}" for i in range(10)]
    base = [f"term{i}" for i in range(VOCAB_SIZE - len(STOPHEAD) - len(mixed))]
    return STOPHEAD + mixed + base


def zipf_weights(n: int, s: float = ZIPF_S) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return w / w.sum()


def _render(tokens: np.ndarray, offsets: np.ndarray, style: np.ndarray,
            words: pa.Array) -> pa.Array:
    """Token ids → text: space-joined, then the CRLF subset (style 0:
    first five separators become CRLF) and the trailing-whitespace
    subset (style 1: three ' \\n' separators and three trailing
    spaces). Neither changes the token sequence."""
    lists = pa.ListArray.from_arrays(pa.array(offsets.astype(np.int32)),
                                     words.take(pa.array(tokens)))
    text = pc.binary_join(lists, " ")
    crlf = pc.replace_substring(text, " ", "\r\n", max_replacements=5)
    trail = pc.binary_join_element_wise(
        pc.replace_substring(text, " ", " \n", max_replacements=3), "   ", ""
    )
    text = pc.if_else(pa.array(style == 0), crlf, text)
    return pc.if_else(pa.array(style == 1), trail, text)


def _docs(rng: np.random.Generator, first_id: int, n: int,
          p: np.ndarray, words: pa.Array) -> Docs:
    lens = rng.integers(MIN_TOKENS, MAX_TOKENS + 1, size=n)
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    tokens = rng.choice(len(p), size=int(offsets[-1]), p=p).astype(np.int32)
    style = rng.integers(0, 10, size=n)
    return Docs(
        doc_ids=np.arange(first_id, first_id + n, dtype=np.int64),
        offsets=offsets, tokens=tokens,
        text=_render(tokens, offsets, style, words),
    )


SHAPES = ("or", "and", "glob", "phrase", "near", "composed")
BATCH = 32


def _queries(rng: np.random.Generator, words: list[str],
             p: np.ndarray) -> dict[str, object]:
    """One query spec per shape, plus the set-up (``warm``) specs. Terms
    are Zipf-drawn from the corpus distribution, so head stopwords and
    tail terms both occur; the glob is a random two-digit ``term``
    prefix (~110 terms) and the composed query's glob the broad
    ``term1*`` (~1.1k terms, the most frequent one-digit prefix), so the
    glob breadth does not depend on the seed; phrases are stopword
    pairs; the NEAR pair comes from the 64 most frequent terms; the
    composed query pairs the glob with a negated non-stopword and a
    stopword phrase. ``batch`` holds :data:`BATCH` disjunctive queries
    of one to three terms."""
    head = np.array(STOPHEAD)
    hp = zipf_weights(len(head))
    np_ = p[len(STOPHEAD):] / p[len(STOPHEAD):].sum()

    def terms(k: int) -> list[str]:
        return [words[i] for i in rng.choice(len(p), size=k, p=p)]

    def prefix(digits: int) -> str:
        """``term1`` for one digit, a random ``termNN``/``termNNN`` else."""
        if digits == 1:
            return "term1"
        return "term" + "".join(str(int(rng.integers(1 if d == 0 else 0, 10)))
                                for d in range(digits))

    def stop_pair() -> list[str]:
        a, b = rng.choice(len(head), size=2, replace=False, p=hp)
        return [str(head[a]), str(head[b])]

    a, b = (words[i] for i in rng.choice(64, size=2, replace=False,
                                        p=zipf_weights(64)))
    neg = words[len(STOPHEAD) + int(rng.choice(len(np_), p=np_))]
    qs: dict[str, object] = {
        "or": terms(int(rng.integers(1, 4))),
        "and": terms(2),
        "glob": prefix(2) + "*",
        "phrase": stop_pair(),
        "near": [a, b, int(rng.integers(2, 5))],
        "composed": [prefix(1) + "*", neg, *stop_pair()],
        "batch": [terms(int(rng.integers(1, 4))) for _ in range(BATCH)],
    }
    # first call of each query path (set-up): its narrowest form — a
    # mid-frequency term, a three-digit glob prefix — so set-up pays the
    # path's first-run cost without repeating a broad query's work
    mid = lambda: words[int(rng.integers(100, 1000))]  # noqa: E731
    qs["warm"] = {
        "or": [mid()], "phrase": stop_pair(),
        "composed": [prefix(3) + "*", mid(), *stop_pair()],
        "batch": [terms(int(rng.integers(1, 4))) for _ in range(BATCH)],
    }
    return qs


def composed_query(spec: list[str]) -> str:
    """``[glob, negated term, phrase word, phrase word]`` → dialect."""
    glob, neg, a, b = spec
    return f'{glob} -{neg} "{a} {b}"'


def generate(seed: int, sizes: Sizes) -> Inputs:
    rng = np.random.default_rng(seed)
    words = vocab()
    warr = pa.array(words)
    p = zipf_weights(len(words))
    base = _docs(rng, 0, sizes.base_docs, p, warr)
    wave = _docs(rng, sizes.base_docs, sizes.wave_docs, p, warr)
    n_del = int(round(sizes.base_docs * sizes.delete_frac))
    deletes = np.sort(rng.choice(sizes.base_docs, size=n_del, replace=False)
                      ).astype(np.int64)
    queries = _queries(rng, words, p)
    return Inputs(sizes, base, wave, deletes, queries)


def doc_table(d: Docs) -> pa.Table:
    """The engine's document schema, as ``streaming.ingest.DOC_SCHEMA``."""
    ids = pa.array(d.doc_ids)
    return pa.table({
        "doc_id": ids,
        "text": d.text,
        "lang": pc.take(pa.array(LANGS), pa.array(d.doc_ids % len(LANGS))),
        "source": pc.binary_join_element_wise(
            "src", pc.cast(pa.array(d.doc_ids % 20), pa.string()), ""
        ),
        "n_chars": pc.cast(pc.utf8_length(d.text), pa.int64()),
    })


def cache_key(seed: int, sizes: Sizes) -> str:
    blob = json.dumps([GEN_VERSION, seed, asdict(sizes)], sort_keys=True)
    return f"s{seed}-{hashlib.sha1(blob.encode()).hexdigest()[:12]}"


@dataclass
class Paths:
    root: str

    @property
    def corpus(self) -> str:
        """Directory holding the base corpus' documents.parquet (the
        ``sf_dir`` of ``build_index``)."""
        return os.path.join(self.root, "corpus")

    @property
    def wave(self) -> str:
        """The ingest wave: a directory of parquet files (the input dir
        of ``ingest_available``)."""
        return os.path.join(self.root, "wave")


def materialize(seed: int, sizes: Sizes, cache_root: str
                ) -> tuple[Inputs, Paths]:
    """Generate the inputs and write them as parquet, reusing a complete
    cache entry for the same key. The token ids are regenerated in
    memory either way (cheap, and the seed fixes them)."""
    inputs = generate(seed, sizes)
    root = os.path.join(cache_root, cache_key(seed, sizes))
    out = Paths(root)
    done = os.path.join(root, "_COMPLETE")
    if os.path.exists(done):
        return inputs, out
    shutil.rmtree(root, ignore_errors=True)
    for d in (out.corpus, out.wave):
        os.makedirs(d)
    pq.write_table(doc_table(inputs.base),
                   os.path.join(out.corpus, "documents.parquet"))
    wave = doc_table(inputs.wave)
    bounds = np.linspace(0, len(wave), sizes.wave_files + 1).astype(int)
    for i in range(sizes.wave_files):
        pq.write_table(wave.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       os.path.join(out.wave, f"part-{i}.parquet"))
    with open(os.path.join(root, "queries.json"), "w") as f:
        json.dump(inputs.queries, f, sort_keys=True)
    np.save(os.path.join(root, "deletes.npy"), inputs.deletes)
    open(done, "w").close()
    return inputs, out
