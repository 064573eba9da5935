"""Snowball Russian + Dutch stemmers: full-vocabulary proofs, live
compiled-library cross-checks, chain membership, and rank identity.

Golden vectors captured from the compiled libstemmer UTF-8 stemmers
(snowball 2.2.0 — the library the reference's tokenizer links,
internal/snowball/byggfil; sb_stemmer_new(lang, "UTF_8"),
snowball.c:296). Russian (31,699 vectors): perfective gerunds,
adjectival/participle endings with the а/я group conditions, reflexive,
the verb and noun tables, derivational ост/ость, superlative tidy-up,
нн undoubling, and ё->е — the first non-Latin-script chain member.
Dutch (22,586): accent stripping, Y/I markings, the byte-position R1
clamp (è counts as 2), en/ene with the gem guard, s/se with the j
guard, heid/end/ing/ig/lijk/baar/bar, kk/dd/tt and aa/ee/oo/uu
undoubling. Regenerate:
python tools/gen_snowball_goldens.py --lang russian|dutch."""

from __future__ import annotations

import ctypes.util
import gzip
import math
import os
import random

import pytest

from letarette_spark.analysis import dutch, russian
from letarette_spark.analysis.tokenizer import Analyzer, AnalyzerConfig

_DATA = os.path.join(os.path.dirname(__file__), "data")

_HAVE_LIB = bool(
    ctypes.util.find_library("stemmer")
    or os.path.exists("/usr/lib/x86_64-linux-gnu/libstemmer.so.0d")
)

_LANGS = [("russian", russian), ("dutch", dutch)]


@pytest.mark.parametrize("lang,mod", _LANGS, ids=[lg for lg, _ in _LANGS])
def test_matches_compiled_snowball_goldens(lang, mod):
    bad = []
    n = 0
    path = os.path.join(_DATA, f"snowball_{lang}_goldens.tsv.gz")
    with gzip.open(path, "rt", encoding="utf-8") as f:
        for line in f:
            word, want = line.rstrip("\n").split("\t")
            n += 1
            got = mod.stem(word)
            if got != want:
                bad.append((word, want, got))
    assert n > 20000
    assert not bad, f"{len(bad)}/{n} divergences, first 20: {bad[:20]}"


@pytest.mark.skipif(not _HAVE_LIB, reason="compiled libstemmer not available")
@pytest.mark.parametrize("lang,mod", _LANGS, ids=[lg for lg, _ in _LANGS])
def test_matches_live_library_on_fresh_randoms(lang, mod):
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from gen_snowball_goldens import SnowballStemmer

    st = SnowballStemmer(lang)
    rng = random.Random()  # intentionally unseeded: fresh vectors each run
    alpha = {
        "russian": "абвгдежзийклмнопрстуфхцчшщъыьэюяё" + "аеиоуыэюя" * 2
        + "н" * 2 + "ь",
        "dutch": "abcdefghijklmnopqrstuvwxyzèäëïöü" + "aeiouyè" * 2
        + "e" * 2 + "n" * 2 + "gktd",
    }[lang]
    bad = []
    for _ in range(4000):
        w = "".join(rng.choice(alpha) for _ in range(rng.randint(1, 16)))
        if mod.stem(w) != st.stem(w):
            bad.append((w, st.stem(w), mod.stem(w)))
    assert not bad, bad[:10]


@pytest.mark.skipif(not _HAVE_LIB, reason="compiled libstemmer not available")
def test_russian_superlative_tidy_up_matches_live_library():
    """Seeded draws ending in a superlative (optionally after нн or ь):
    tidy_up is one among, so after ейш/ейше only нн -> н may follow and
    a final ь the deletion exposes must stay."""
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from gen_snowball_goldens import SnowballStemmer

    st = SnowballStemmer("russian")
    rng = random.Random(20261017)
    alpha = "абвгдежзийклмнопрстуфхцчшщъыьэюяё" + "аеиоуыэюя" * 2
    bad = []
    for _ in range(4000):
        w = "".join(rng.choice(alpha) for _ in range(rng.randint(0, 10)))
        w += rng.choice(("", "", "нн", "ь", "нь")) + rng.choice(("ейш", "ейше"))
        if russian.stem(w) != st.stem(w):
            bad.append((w, st.stem(w), russian.stem(w)))
    assert not bad, bad[:10]


def test_known_forms():
    assert russian.stem("возможность") == "возможн"
    assert russian.stem("красивейший") == "красив"
    assert russian.stem("нэюьнюьейш") == "нэюьнюь"
    assert russian.stem("аюиьейше") == "аюиь"
    assert russian.stem("вернувшись") == "вернувш"
    assert russian.stem("партнёр") == "партнер"
    assert dutch.stem("lichamelijke") == "licham"
    assert dutch.stem("mogelijkheden") == "mogelijk"
    assert dutch.stem("gemeente") == "gemeent"
    assert dutch.stem("maan") == "man"


def test_chain_membership():
    """Russian (non-Latin) chains with english: Cyrillic tokens pass
    through porter2 unchanged, so chain order still follows the
    first-length-change rule."""
    from letarette_spark.analysis import porter2

    vocab = []
    with gzip.open(
        os.path.join(_DATA, "snowball_russian_goldens.tsv.gz"),
        "rt",
        encoding="utf-8",
    ) as f:
        for i, line in enumerate(f):
            if i % 19 == 0:
                vocab.append(line.split("\t")[0])

    def chain_expected(word, langs):
        stems = {"english": porter2.stem, "russian": russian.stem}
        out = word
        for lang in langs:
            out = stems[lang](word)
            if len(out.encode("utf-8")) != len(word.encode("utf-8")):  # byte rule, snowball.c:216
                break
        return out

    for langs in (("english", "russian"), ("russian", "english")):
        an = Analyzer(AnalyzerConfig(languages=langs))
        for w in vocab[:300]:
            if 3 <= len(w.encode("utf-8")) <= 40:
                assert an.term_of(w) == chain_expected(w, langs), (w, langs)


@pytest.mark.parametrize(
    "lang,vocab,queries",
    [
        (
            "russian",
            "дома книги дети говорили читали напишут найдёт "
            "национальные общие возможности способности деятельности "
            "движения правительства города песни прекрасная старая "
            "и в не на он она это для",
            ("дома", "книги дети", "песни -движения"),
        ),
        (
            "dutch",
            "huizen tuinen kinderen spraken zongen zullen vindt "
            "nationale algemene mogelijkheden vriendelijkheid "
            "bewegingen regeringen steden liederen prachtige oude "
            "europese de het en een die voor",
            ("huizen", "tuinen kinderen", "liederen -bewegingen"),
        ),
    ],
)
def test_rank_identity(spark, tmp_path, lang, vocab, queries):
    """Whole-pipeline identity under the language chain via pre-stemming
    (same oracle technique as test_swedish_goldens.py). The russian case
    also proves the pipeline end-to-end on non-Latin text."""
    from letarette_spark.index.builder import Index, build_index
    from letarette_spark.query.executor import Searcher
    from letarette_spark.query.parser import (
        Phrase,
        compile_match_string,
        parse_query,
        reduce_phrases,
    )
    from tests.fts5_oracle import Fts5Index

    cfg = AnalyzerConfig(languages=(lang,))
    an = Analyzer(cfg)
    words = vocab.split()
    rng = random.Random(13)
    docs = []
    for i in range(40):
        title = " ".join(rng.choices(words, k=rng.randint(1, 3)))
        body = " ".join(rng.choices(words, k=rng.randint(8, 25)))
        docs.append((i + 1, title, body))

    root = str(tmp_path / f"{lang}_rank_idx")
    sdf = spark.createDataFrame(
        [
            {"doc_id": f"d{r}", "rowid": r, "space": "m", "title": t,
             "body": b, "alive": True}
            for r, t, b in docs
        ]
    )
    build_index(spark, sdf, root, config=cfg, n_build_partitions=2,
                chunk_size=2)
    s = Searcher(Index.open(spark, root, cfg), stopwords=frozenset(),
                 synonyms={})

    def prestem(text):
        return " ".join(an.terms(text))

    oracle = Fts5Index.build(
        [(r, prestem(t), prestem(b)) for r, t, b in docs],
        tokenizer="unicode61 remove_diacritics 2",
    )
    for q in queries:
        phrases = []
        for p in reduce_phrases(parse_query(q)):
            terms = an.terms(p.text)
            if terms:
                phrases.append(
                    Phrase(" ".join(terms), wildcard=p.wildcard,
                           exclude=p.exclude)
                )
        match = compile_match_string(phrases)
        exp = oracle.search(match, limit=10) if match else []
        df, _t, _c = s.search_df(q, limit=10)
        got = (
            [(r["rowid"], r["score"]) for r in df.collect()]
            if df is not None
            else []
        )
        assert [r for r, _ in got] == [r for r, _ in exp], (lang, q)
        for (_, sg), (_, se) in zip(got, exp):
            assert math.isclose(sg, se, rel_tol=1e-9, abs_tol=1e-12), (lang, q)
