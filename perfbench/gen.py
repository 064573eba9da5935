"""Seeded input generator: corpus, embeddings, query mix and upsert batches.

Everything the benchmark feeds the engine comes from here, and only from
the seed: the same seed gives the same bytes (``digest`` pins that).

The corpus imitates the text a Letarette worker indexes:

- a Zipfian vocabulary of English-like words, each a syllable stem plus
  an inflectional suffix, so the porter stemmer folds several surface
  forms onto one term and does real work;
- five document spaces;
- planted exact duplicates (same title and body under a new id) and near
  duplicates (a few words edited), which the curation operators must find;
- low-quality documents (very short, or one word repeated);
- clustered embeddings, where each planted near duplicate sits next to its
  source vector.
"""

from __future__ import annotations

import hashlib
import json
import random
from dataclasses import dataclass

import numpy as np

SPACES = ("news", "code", "wiki", "forum", "mail")
_ONSETS = (
    "b c d f g h j k l m n p r s t v w br cl cr dr fl gr pl pr sh st th tr"
).split()
_VOWELS = "a e i o u ea ou".split()
_CODAS = ["", "", "", "n", "r", "t", "l", "s", "m", "nd", "st"]
_SUFFIXES = (
    "", "", "s", "ed", "ing", "er", "ers", "ly", "ness", "ment", "ation",
    "able", "ful", "ity",
)

# English function words lead the Zipf ranks, as in real text; the engine's
# auto-stopword pass picks them up, so the stopword path does real work too.
FUNCTION_WORDS = (
    "the of and to in is that for it with as was on be at by this have from"
).split()

# Slot order of the stratified mix: any nine consecutive queries hold one
# of each class. Cheap and costly classes alternate, and single_rare sits
# at slots 0 and 9, so two phases of up to nine queries each get a mix,
# and both hold a single-term query.
QUERY_CLASSES = (
    "single_rare", "near2", "not", "prefix", "respell",
    "single_common", "near3", "phrase", "nohit",
)

N_STEMS = 2500
EMB_DIM = 32
EMB_CLUSTERS = 12


@dataclass
class Doc:
    rowid: int
    doc_id: str
    space: str
    title: str
    body: str


@dataclass
class Corpus:
    docs: list[Doc]
    words: list[str]                 # vocabulary, most frequent first
    embeddings: np.ndarray           # (n_docs, EMB_DIM) float64, row i = docs[i]
    exact_dups: dict[str, str]       # planted copy doc_id -> source doc_id
    near_dups: dict[str, str]
    low_quality: list[str]
    next_rowid: int = 0


@dataclass
class Query:
    cls: str
    text: str


@dataclass
class UpsertBatch:
    docs: list[Doc]                  # replaced and new docs (alive)
    deleted: list[Doc]               # tombstoned docs (old content)


def _stem(rng: random.Random) -> str:
    n = rng.choice((1, 2, 2, 2))
    return "".join(
        rng.choice(_ONSETS) + rng.choice(_VOWELS) + rng.choice(_CODAS)
        for _ in range(n)
    )


def make_vocab(rng: random.Random, n_stems: int) -> list[str]:
    """Distinct surface words, in Zipf rank order (most frequent first)."""
    stems: list[str] = []
    seen: set[str] = set()
    while len(stems) < n_stems:
        s = _stem(rng)
        if len(s) >= 3 and s not in seen:
            seen.add(s)
            stems.append(s)
    words: list[str] = []
    seen = set()
    for s in stems:
        for suf in rng.sample(_SUFFIXES, 3):
            w = s + suf
            if w not in seen:
                seen.add(w)
                words.append(w)
    rng.shuffle(words)
    return list(FUNCTION_WORDS) + [w for w in words if w not in FUNCTION_WORDS]


class _Sampler:
    """Zipf(s=1.1) draws over the vocabulary ranks."""

    def __init__(self, n: int, rng: np.random.Generator):
        w = 1.0 / np.power(np.arange(1, n + 1) + 2.7, 1.1)
        self.cdf = np.cumsum(w / w.sum())
        self.rng = rng

    def draw(self, k: int) -> np.ndarray:
        idx = np.searchsorted(self.cdf, self.rng.random(k), side="right")
        return np.minimum(idx, len(self.cdf) - 1)


def _text(words: list[str], idx: np.ndarray) -> str:
    return " ".join(words[i] for i in idx)


def _fresh_doc(i: int, words, sampler, rng: random.Random) -> Doc:
    n_title = rng.randint(2, 6)
    n_body = int(min(400, max(12, rng.lognormvariate(4.3, 0.5))))
    title = _text(words, sampler.draw(n_title)).capitalize()
    sents = []
    left = n_body
    while left > 0:
        n = min(left, rng.randint(6, 18))
        sents.append(_text(words, sampler.draw(n)).capitalize() + ".")
        left -= n
    return Doc(i + 1, f"d{i:07d}", SPACES[rng.randrange(len(SPACES))], title, " ".join(sents))


def _near_copy(src: Doc, rowid: int, doc_id: str, words, rng: random.Random) -> Doc:
    toks = src.body.split(" ")
    for _ in range(max(1, len(toks) // 40)):
        toks[rng.randrange(len(toks))] = rng.choice(words[:200])
    return Doc(rowid, doc_id, src.space, src.title, " ".join(toks))


def make_corpus(seed: int, n_docs: int) -> Corpus:
    rng = random.Random(seed)
    nrng = np.random.default_rng(seed)
    words = make_vocab(rng, N_STEMS)
    sampler = _Sampler(len(words), nrng)

    n_exact = max(1, n_docs // 50)
    n_near = max(1, n_docs // 50)
    n_low = max(1, n_docs // 40)
    n_base = n_docs - n_exact - n_near - n_low
    docs = [_fresh_doc(i, words, sampler, rng) for i in range(n_base)]

    centroids = nrng.normal(size=(EMB_CLUSTERS, EMB_DIM))
    cell = nrng.integers(0, EMB_CLUSTERS, size=n_docs)
    emb = centroids[cell] + 0.35 * nrng.normal(size=(n_docs, EMB_DIM))

    exact: dict[str, str] = {}
    near: dict[str, str] = {}
    low: list[str] = []
    # exact copies come from docs long enough to pass the quality gate,
    # so the curation pipeline must drop every copy as an exact duplicate
    long_docs = [d for d in docs if len(d.body.split(" ")) >= 60]
    for _ in range(n_exact):
        i = len(docs)
        src = long_docs[rng.randrange(len(long_docs))]
        docs.append(Doc(i + 1, f"d{i:07d}", src.space, src.title, src.body))
        exact[docs[-1].doc_id] = src.doc_id
    for _ in range(n_near):
        i = len(docs)
        j = rng.randrange(n_base)
        docs.append(_near_copy(docs[j], i + 1, f"d{i:07d}", words, rng))
        near[docs[-1].doc_id] = docs[j].doc_id
        emb[i] = emb[j] + 1e-3 * nrng.normal(size=EMB_DIM)
    for k in range(n_low):
        i = len(docs)
        w = words[rng.randrange(len(words))]
        body = " ".join([w] * rng.randint(1, 30)) if k % 2 else w
        docs.append(Doc(i + 1, f"d{i:07d}", SPACES[k % len(SPACES)], w, body))
        low.append(docs[-1].doc_id)
    return Corpus(docs, words, emb, exact, near, low, next_rowid=len(docs) + 1)


def _co_occurring(doc: Doc, k: int, rng: random.Random) -> list[str]:
    """k distinct words that sit within a few positions of each other in
    *doc*, so the NEAR(…, 15) conjunction has at least one hit. Function
    words are skipped: they are stopwords, which would empty the query."""
    toks = [t.strip(".").lower() for t in doc.body.split(" ")]
    start = rng.randrange(max(1, len(toks) - 8))
    window = [t for t in dict.fromkeys(toks[start:start + 8]) if t not in FUNCTION_WORDS]
    return window[:k] if len(window) >= k else []


def _one_edit(word: str, rng: random.Random) -> str:
    i = rng.randrange(1, len(word))
    op = rng.randrange(3)
    c = rng.choice("abcdefghijklmnopqrstuvwxyz")
    if op == 0:
        return word[:i] + c + word[i + 1:]
    if op == 1:
        return word[:i] + c + word[i:]
    return word[:i] + word[i + 1:]


def make_queries(seed: int, corpus: Corpus, n: int, has_hits=None) -> list[Query]:
    """A stratified mix: the classes cycle in a fixed order, and each slot
    draws a fresh query of its class, so every run sees the same class
    proportions while the queries themselves are mostly unique. With
    *has_hits* (query text -> bool), a respell draw that matches as typed
    is drawn again, so every respell query takes the respell route."""
    rng = random.Random(seed * 7919 + 1)
    words = corpus.words
    vocab = set(words)
    # ranks whose document frequency stays well above the result cap at
    # the benchmark's corpus size, so single_common always takes the capped route
    head = words[len(FUNCTION_WORDS):len(FUNCTION_WORDS) + 20]
    # most Zipf-tail words never occur in a small corpus, and a query for
    # one takes the costly respell route; rare terms are drawn from words
    # in a few docs, so an upsert batch rarely removes every one of them
    df: dict[str, int] = {}
    for d in corpus.docs:
        for t in {t.strip(".").lower() for t in f"{d.title} {d.body}".split(" ")}:
            df[t] = df.get(t, 0) + 1
    rare = [w for w in words[200:] if 3 <= df.get(w, 0) <= 6] or [
        w for w in words[200:] if df.get(w, 0)]
    # mid-frequency words, in enough docs to sit in the spelling table
    mid = [w for w in words[150:600] if df.get(w, 0) >= 8] or words[150:600]
    docs = [d for d in corpus.docs if len(d.body.split(" ")) >= 20]
    out: list[Query] = []
    while len(out) < n:
        cls = QUERY_CLASSES[len(out) % len(QUERY_CLASSES)]
        if cls == "single_common":
            text = rng.choice(head)
        elif cls == "single_rare":
            text = rng.choice(rare)
        elif cls in ("near2", "near3"):
            ws = _co_occurring(rng.choice(docs), 2 if cls == "near2" else 3, rng)
            if not ws:
                continue
            text = " ".join(ws)
        elif cls == "not":
            text = f"{rng.choice(mid)} -{rng.choice(head)}"
        elif cls == "phrase":
            toks = rng.choice(docs).body.split(" ")
            i = rng.randrange(len(toks) - 1)
            a, b = toks[i].strip(".").lower(), toks[i + 1].strip(".").lower()
            if a == b:
                continue
            text = f'"{a} {b}"'
        elif cls == "prefix":
            w = rng.choice(words[len(FUNCTION_WORDS):400])
            text = w[: rng.choice((3, 4))] + "*"
        elif cls == "respell":
            w = rng.choice(mid)
            if len(w) < 5:
                continue
            text = _one_edit(w, rng)
            if text in vocab or (has_hits is not None and has_hits(text)):
                continue
        else:  # nohit: a two-word phrase, which the engine never respells
            text = '"' + " ".join(
                "".join(rng.choice("qxzjv") for _ in range(6)) for _ in range(2)) + '"'
        out.append(Query(cls, text))
    return out


def make_upserts(
    seed: int, corpus: Corpus, n_batches: int, batch_size: int
) -> list[UpsertBatch]:
    """Batches of replaced, new and tombstoned docs. Each batch touches
    doc ids the earlier batches left alone, so every tombstone hits a
    live doc and every replacement replaces the current version."""
    rng = random.Random(seed * 104729 + 3)
    nrng = np.random.default_rng(seed + 17)
    sampler = _Sampler(len(corpus.words), nrng)
    pool = list(range(len(corpus.docs)))
    rng.shuffle(pool)
    rowid = corpus.next_rowid
    batches = []
    for _ in range(n_batches):
        n_repl = batch_size // 2
        n_del = max(1, batch_size // 5)
        n_new = batch_size - n_repl - n_del
        touched, pool = pool[: n_repl + n_del], pool[n_repl + n_del:]
        alive: list[Doc] = []
        for j in touched[:n_repl]:
            old = corpus.docs[j]
            d = _fresh_doc(0, corpus.words, sampler, rng)
            alive.append(Doc(old.rowid, old.doc_id, old.space, d.title, d.body))
        deleted = [corpus.docs[j] for j in touched[n_repl:]]
        for _ in range(n_new):
            d = _fresh_doc(0, corpus.words, sampler, rng)
            alive.append(Doc(rowid, f"n{seed % 1000:03d}{rowid:07d}", d.space, d.title, d.body))
            rowid += 1
        batches.append(UpsertBatch(alive, deleted))
    return batches


def digest(corpus: Corpus, queries: list[Query], upserts: list[UpsertBatch]) -> str:
    """sha256 over every generated byte, for the determinism check."""
    h = hashlib.sha256()
    for d in corpus.docs:
        h.update(json.dumps([d.rowid, d.doc_id, d.space, d.title, d.body]).encode())
    h.update(np.ascontiguousarray(corpus.embeddings).tobytes())
    for q in queries:
        h.update(f"{q.cls}\t{q.text}\n".encode())
    for b in upserts:
        for d in b.docs:
            h.update(json.dumps([d.rowid, d.doc_id, d.title, d.body]).encode())
        h.update(json.dumps([d.doc_id for d in b.deleted]).encode())
    return h.hexdigest()
