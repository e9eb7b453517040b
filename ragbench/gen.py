"""Seeded inputs for the benchmark workloads, with their ground truth.

Everything is a pure function of one integer seed. The program only ever
sees the parquet files written here; the ground truth (planted duplicate
clusters, predicted chunk counts, probe queries) stays on the benchmark
side and is used to check every unit's output.

Text model: a Zipf vocabulary of synthetic words mixed with the English
stopword profile the quality filter scores, joined by single spaces, so
every document passes the Gopher rules (length >= 8 tokens, quality
score ~0.9, no repeated trigrams).
"""

from __future__ import annotations

import math
import random
from collections import Counter
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it"]
STOP_SHARE = 0.3
VOCAB_SIZE = 4000
ZIPF_S = 1.0
CHUNK_WORDS = 32  # pipeline.run_once's default chunk size
LONG_CHAIN = 24

DOC_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)


class TextModel:
    """Zipf-over-synthetic-words sampler mixed with stopwords."""

    def __init__(self, rng: random.Random):
        self.rng = rng
        vocab: set[str] = set(STOPWORDS)
        words: list[str] = []
        letters = "abcdefghijklmnopqrstuvwxyz"
        while len(words) < VOCAB_SIZE:
            w = "".join(rng.choice(letters) for _ in range(rng.randint(3, 9)))
            if w not in vocab:
                vocab.add(w)
                words.append(w)
        self.words = words
        cum, acc = [], 0.0
        for r in range(1, VOCAB_SIZE + 1):
            acc += 1.0 / r**ZIPF_S
            cum.append(acc)
        self.cum = cum

    def word(self) -> str:
        if self.rng.random() < STOP_SHARE:
            return self.rng.choice(STOPWORDS)
        return self.rng.choices(self.words, cum_weights=self.cum)[0]

    def words_n(self, n: int) -> list[str]:
        return [self.word() for _ in range(n)]


def _distinct_ids(rng: random.Random, n: int) -> list[int]:
    """n distinct positive doc ids in random order."""
    return rng.sample(range(1, 20 * n + 1), n)


def _format_variant(rng: random.Random, words: list[str]) -> str:
    """Same words, different case and whitespace: identical after
    normalize_text (lowercase + whitespace collapse)."""
    out = []
    for w in words:
        r = rng.random()
        out.append(w.upper() if r < 0.1 else w.capitalize() if r < 0.3 else w)
    seps = [rng.choice([" ", " ", " ", "  ", "\n", "\t"]) for _ in out[1:]]
    text = out[0] + "".join(s + w for s, w in zip(seps, out[1:]))
    return rng.choice(["", " ", "\n"]) + text + rng.choice(["", " ", "\n"])


def _edit(rng: random.Random, model: TextModel, words: list[str]) -> list[str]:
    """One chain link: substitute one word in 30, so each link sits at
    word-3-shingle Jaccard ~0.8 to its predecessor (LSH collision
    ~0.9) and ~0.65 two links away (~0.6). A chain is then a long,
    thin graph rather than a clique, and the closure needs several
    pointer-jumping rounds to converge."""
    out = list(words)
    for i in rng.sample(range(len(out)), max(1, len(out) // 50)):
        out[i] = rng.choice(model.words)
    return out


@dataclass
class Corpus:
    """corpus_prep input: docs[i] = (doc_id, text), plus planted clusters.

    ``clusters`` lists (kind, [doc_id, ...]) with the source first; kind
    is 'exact' (byte copies), 'variant' (case/whitespace variants) or
    'chain' (each member a few word edits from the previous)."""

    docs: list[tuple[int, str]]
    clusters: list[tuple[str, list[int]]] = field(default_factory=list)

    @property
    def n_planted(self) -> int:
        return sum(len(m) - 1 for _, m in self.clusters)


def _chains(n_planted: int, id_space: int) -> list[tuple[list[str], list[int]]]:
    """One 24-doc edit chain and chains of 2-8 docs, ~n_planted non-head
    members in all, with their doc ids. The same for every seed: the
    number of closure rounds (each round is several Spark jobs) follows
    the chains' LSH graph and id order, and read 2-5 rounds across seeds
    when chains were seeded, which moved the unit wall by up to a fifth."""
    rng = random.Random("corpus:chains")
    model = TextModel(rng)
    chains, planted = [], 0
    while planted < n_planted:
        # one long chain first: LSH links reach ~4 docs along a chain,
        # so chains of 2-8 converge in the first round, and the 24-doc
        # chain takes two rounds plus the one that finds no change
        length = rng.randint(2, 8) if chains else LONG_CHAIN
        members = [model.words_n(rng.randint(60, 240))]
        for _ in range(length - 1):
            members.append(_edit(rng, model, members[-1]))
        chains.append([" ".join(m) for m in members])
        planted += len(members) - 1
    # ids ascend along each chain: the minimum label starts at one end
    # and must travel the whole chain
    ids = iter(rng.sample(range(1, id_space + 1), sum(len(c) for c in chains)))
    return [(c, sorted(next(ids) for _ in c)) for c in chains]


def make_corpus(seed: int, n_docs: int, dup_share: float = 0.2) -> Corpus:
    """About dup_share of the docs are planted duplicates, a third of
    them in edit chains (fixed, see _chains) and the rest in exact-copy
    and case/whitespace-variant clusters of 2-4 docs (seeded)."""
    id_space = 20 * n_docs
    n_dup_target = int(n_docs * dup_share)
    chains = _chains(n_dup_target // 3, id_space)
    rng = random.Random(f"corpus:{seed}")
    model = TextModel(rng)
    docs: list[tuple[int, str]] = []
    clusters: list[tuple[str, list[int]]] = []
    for texts, ids in chains:
        docs.extend(zip(ids, texts))
        clusters.append(("chain", ids))
    planted = sum(len(ids) - 1 for _, ids in chains)
    # texts[i] is one doc; groups index into texts
    texts: list[str] = []
    groups: list[tuple[str, list[int]]] = []
    while planted < n_dup_target:
        kind = ("exact", "variant")[len(groups) % 2]
        base = model.words_n(rng.randint(60, 240))
        extra = rng.randint(1, 3)
        src = " ".join(base)
        if kind == "exact":
            copies = [src] * extra
        else:
            copies = [_format_variant(rng, base) for _ in range(extra)]
        groups.append((kind, list(range(len(texts), len(texts) + 1 + extra))))
        texts.append(src)
        texts.extend(copies)
        planted += extra
    while len(docs) + len(texts) < n_docs:
        texts.append(" ".join(model.words_n(rng.randint(60, 240))))
    taken = {d for d, _ in docs}
    free = [i for i in range(1, id_space + 1) if i not in taken]
    ids = rng.sample(free, len(texts))
    docs.extend((ids[i], t) for i, t in enumerate(texts))
    clusters.extend((kind, [ids[i] for i in idx]) for kind, idx in groups)
    rng.shuffle(docs)
    return Corpus(docs=docs, clusters=clusters)


def _n_chunks(text: str) -> int:
    return math.ceil(len(text.split()) / CHUNK_WORDS)


@dataclass
class Transcripts:
    """rag_ingest / rag_search input: files[f] = [(doc_id, text), ...]."""

    files: list[list[tuple[int, str]]]

    @property
    def docs(self) -> list[tuple[int, str]]:
        return [d for f in self.files for d in f]

    def expected_chunks(self) -> dict[str, int]:
        """doc_id (as the index's string key) -> predicted chunk count."""
        return {str(i): _n_chunks(t) for i, t in self.docs}

    def chunk_texts(self) -> dict[str, str]:
        """vec_id -> chunk text, exactly as chunk_text emits them (the
        generated text is lowercase and single-spaced)."""
        out = {}
        for i, t in self.docs:
            w = t.split()
            for c in range(_n_chunks(t)):
                out[f"{i}:{c}"] = " ".join(w[c * CHUNK_WORDS:(c + 1) * CHUNK_WORDS])
        return out


def make_transcripts(
    seed: int, n_files: int, docs_per_file: int, tag: str
) -> Transcripts:
    rng = random.Random(f"{tag}:{seed}")
    model = TextModel(rng)
    ids = _distinct_ids(rng, n_files * docs_per_file)
    files = []
    for f in range(n_files):
        files.append(
            [
                (ids[f * docs_per_file + j], " ".join(model.words_n(rng.randint(60, 200))))
                for j in range(docs_per_file)
            ]
        )
    return Transcripts(files=files)


def make_queries(
    seed: int, tr: Transcripts, n: int, probe_share: float = 0.5
) -> list[tuple[int, str, str | None]]:
    """(query_id, text, source vec_id or None). A probe query's text IS
    one indexed chunk's text, so that chunk must rank first (dot = 1 on
    L2-normalized embeddings); the rest are fresh Zipf sentences."""
    rng = random.Random(f"queries:{seed}")
    model = TextModel(rng)
    counts = Counter(tr.chunk_texts().values())
    # probes only from full-width chunks whose text occurs once, so the
    # source chunk is the unique dot = 1 neighbor (no tie to break)
    chunks = sorted(
        (vid, t) for vid, t in tr.chunk_texts().items()
        if counts[t] == 1 and len(t.split()) == CHUNK_WORDS
    )
    out = []
    for q in range(n):
        if rng.random() < probe_share:
            vid, text = rng.choice(chunks)
            out.append((q, text, vid))
        else:
            out.append((q, " ".join(model.words_n(rng.randint(8, 24))), None))
    return out


def write_docs(path: str, docs: list[tuple[int, str]]) -> None:
    """One parquet file in the program's document schema."""
    tbl = pa.table(
        {
            "doc_id": [d for d, _ in docs],
            "text": [t for _, t in docs],
            "lang": ["en"] * len(docs),
            "source": ["bench"] * len(docs),
            "n_chars": [len(t) for _, t in docs],
        },
        schema=DOC_SCHEMA,
    )
    pq.write_table(tbl, path)
