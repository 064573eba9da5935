"""Analyzer pipeline: unicode61 base tokenization + stemming + token rules.

Reproduces the reference tokenizer contract
(/root/reference/internal/snowball/snowball.c:174-233):

1. unicode61 split + case fold + diacritic removal (unicode61.py);
2. drop tokens shorter than ``min_token_length`` (default 2, bytes —
   snowball.c:184 compares byte length) unless the token is all ASCII digits
   (snowball.c:164-172, 184-187);
3. stem tokens whose byte length is within [stem_min, stem_max] = [3, 40]
   (snowball.c:27-28, 202); stemmers in the chain are tried in order until
   one changes the token's length (snowball.c:210-220);
4. index-time: no stopword removal, no synonyms — those are query-time only
   (snowball.c:248-262) and live in letarette_spark.query.

Three analyzer modes:

- ``simple``  — lowercase ASCII ``[a-z0-9]+`` runs, min length 2, no stemming.
  Chosen because it is exactly expressible in ANSI SQL (the DuckDB
  correctness oracle reproduces it with regexp_split_to_array).
- ``porter``  — unicode61 + Porter(1980) on every token, no length rules.
  Exactly FTS5's ``tokenize='porter unicode61'`` — verified against live
  SQLite FTS5 in tests (the rank-identity oracle mode).
- ``letarette`` — unicode61 + the reference rules above with the snowball
  "english" (Porter2) stemmer chain; default engine mode.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Callable, NamedTuple

from letarette_spark.analysis import porter, unicode61

_SIMPLE_RE = re.compile(r"[a-z0-9]+")
_DIGITS_RE = re.compile(r"^[0-9]+$")


class Token(NamedTuple):
    term: str
    pos: int        # emitted-token index (dropped tokens do not consume a position)
    start: int      # char offset into the source text
    end: int


def _porter2_stem(word: str) -> str:
    # Deferred import: porter2 lands as its own module; fall back to Porter1
    # so the pipeline stays usable while porter2 is being built out.
    try:
        from letarette_spark.analysis import porter2

        return porter2.stem(word)
    except ImportError:  # pragma: no cover
        return porter.stem(word)


def _swedish_stem(word: str) -> str:
    from letarette_spark.analysis import swedish

    return swedish.stem(word)


def _german_stem(word: str) -> str:
    from letarette_spark.analysis import german

    return german.stem(word)


def _norwegian_stem(word: str) -> str:
    from letarette_spark.analysis import norwegian

    return norwegian.stem(word)


def _danish_stem(word: str) -> str:
    from letarette_spark.analysis import danish

    return danish.stem(word)


def _french_stem(word: str) -> str:
    from letarette_spark.analysis import french

    return french.stem(word)


def _spanish_stem(word: str) -> str:
    from letarette_spark.analysis import spanish

    return spanish.stem(word)


def _italian_stem(word: str) -> str:
    from letarette_spark.analysis import italian

    return italian.stem(word)


def _portuguese_stem(word: str) -> str:
    from letarette_spark.analysis import portuguese

    return portuguese.stem(word)


def _russian_stem(word: str) -> str:
    from letarette_spark.analysis import russian

    return russian.stem(word)


def _dutch_stem(word: str) -> str:
    from letarette_spark.analysis import dutch

    return dutch.stem(word)


def _finnish_stem(word: str) -> str:
    from letarette_spark.analysis import finnish

    return finnish.stem(word)


def _romanian_stem(word: str) -> str:
    from letarette_spark.analysis import romanian

    return romanian.stem(word)


def _indonesian_stem(word: str) -> str:
    from letarette_spark.analysis import indonesian

    return indonesian.stem(word)


def _hungarian_stem(word: str) -> str:
    from letarette_spark.analysis import hungarian

    return hungarian.stem(word)


def _hindi_stem(word: str) -> str:
    from letarette_spark.analysis import hindi

    return hindi.stem(word)


def _yiddish_stem(word: str) -> str:
    from letarette_spark.analysis import yiddish

    return yiddish.stem(word)


def _tamil_stem(word: str) -> str:
    from letarette_spark.analysis import tamil

    return tamil.stem(word)


def _turkish_stem(word: str) -> str:
    from letarette_spark.analysis import turkish

    return turkish.stem(word)


def _greek_stem(word: str) -> str:
    from letarette_spark.analysis import greek

    return greek.stem(word)


def _serbian_stem(word: str) -> str:
    from letarette_spark.analysis import serbian

    return serbian.stem(word)


def _arabic_stem(word: str) -> str:
    from letarette_spark.analysis import arabic

    return arabic.stem(word)


def _lithuanian_stem(word: str) -> str:
    from letarette_spark.analysis import lithuanian

    return lithuanian.stem(word)


def _basque_stem(word: str) -> str:
    from letarette_spark.analysis import basque

    return basque.stem(word)


def _irish_stem(word: str) -> str:
    from letarette_spark.analysis import irish

    return irish.stem(word)


def _armenian_stem(word: str) -> str:
    from letarette_spark.analysis import armenian

    return armenian.stem(word)


def _catalan_stem(word: str) -> str:
    from letarette_spark.analysis import catalan

    return catalan.stem(word)


def _nepali_stem(word: str) -> str:
    from letarette_spark.analysis import nepali

    return nepali.stem(word)


_STEMMERS: dict[str, Callable[[str], str]] = {
    "porter": porter.stem,
    "english": _porter2_stem,
    # bit-exact to the compiled libstemmer stemmers (analysis/swedish.py,
    # german.py, norwegian.py, danish.py — each pinned by its
    # tests/test_*_goldens.py compiled-library vectors); chain order
    # follows the reference's first-stemmer-to-change-length rule
    # (snowball.c:210-220)
    "swedish": _swedish_stem,
    "german": _german_stem,
    "norwegian": _norwegian_stem,
    "danish": _danish_stem,
    "french": _french_stem,
    "spanish": _spanish_stem,
    "italian": _italian_stem,
    "portuguese": _portuguese_stem,
    "russian": _russian_stem,
    "dutch": _dutch_stem,
    "finnish": _finnish_stem,
    "romanian": _romanian_stem,
    "indonesian": _indonesian_stem,
    "hungarian": _hungarian_stem,
    "hindi": _hindi_stem,
    "nepali": _nepali_stem,
    "catalan": _catalan_stem,
    "armenian": _armenian_stem,
    "irish": _irish_stem,
    "basque": _basque_stem,
    "lithuanian": _lithuanian_stem,
    "turkish": _turkish_stem,
    "tamil": _tamil_stem,
    "yiddish": _yiddish_stem,
    "greek": _greek_stem,
    "serbian": _serbian_stem,
    "arabic": _arabic_stem,
}


def supported_languages() -> tuple[str, ...]:
    """Chainable stemmer languages (every entry bit-exact to the
    compiled libstemmer, pinned by tests/data/snowball_*_goldens)."""
    return tuple(sorted(_STEMMERS))


@dataclass(frozen=True)
class AnalyzerConfig:
    """Tokenizer settings; stamped into the index manifest — an index is only
    valid for the exact settings that built it (reference persists stemmer
    state and refuses mismatches, internal/letarette/stemmer.go:32-59)."""

    mode: str = "letarette"              # simple | porter | letarette
    languages: tuple[str, ...] = ("english",)
    min_token_length: int = 2            # bytes; db.go:377-383
    stem_min: int = 3                    # bytes; snowball.c:27
    stem_max: int = 40                   # bytes; snowball.c:28
    token_chars: str = ""                # extra token chars; config.go:64
    separators: str = ""                 # forced separators; config.go:65

    def __post_init__(self):
        # fail at CONFIG time, not per-token inside an executor (the
        # reference refuses unknown stemmer languages up front too,
        # snowball.c:296 sb_stemmer_new returning NULL)
        if self.mode == "letarette":
            unknown = [lg for lg in self.languages if lg not in _STEMMERS]
            if unknown:
                raise ValueError(
                    f"unsupported stemmer language(s) {unknown}; "
                    f"supported: {sorted(_STEMMERS)}"
                )

    def key(self) -> dict:
        return {
            "mode": self.mode,
            "languages": list(self.languages),
            "min_token_length": self.min_token_length,
            "stem_min": self.stem_min,
            "stem_max": self.stem_max,
            "token_chars": self.token_chars,
            "separators": self.separators,
        }

    @classmethod
    def from_key(cls, key: dict) -> "AnalyzerConfig":
        """The config a stamped ``key()`` (index manifest, shard clone)
        describes."""
        return cls(**dict(key, languages=tuple(key["languages"])))


@dataclass
class Analyzer:
    config: AnalyzerConfig = field(default_factory=AnalyzerConfig)

    # -- stage 1: mode-aware folded tokens (post drop rules, pre stemming) --
    def folded_tokens(self, text: str) -> list[tuple[str, int, int]]:
        mode = self.config.mode
        if mode == "simple":
            return [
                (m.group(0), m.start(), m.end())
                for m in _SIMPLE_RE.finditer(text.lower())
                if len(m.group(0)) >= self.config.min_token_length
            ]
        out = []
        for folded, start, end in unicode61.raw_tokens(
            text,
            token_chars=frozenset(self.config.token_chars),
            separators=frozenset(self.config.separators),
        ):
            if mode == "letarette":
                # letarette rules (byte lengths, per snowball.c:184-187)
                nbytes = len(folded.encode("utf-8"))
                if nbytes < self.config.min_token_length and not _DIGITS_RE.match(
                    folded
                ):
                    continue
            out.append((folded, start, end))
        return out

    # -- stage 2: term finalization (stemming) --
    def term_of(self, folded: str) -> str:
        """Memoized: stemming is a pure function of the folded token, and
        token frequencies are Zipf-distributed, so one dict lookup
        replaces the stemmer chain for every repeat occurrence (an
        Analyzer lives for a whole task in tokenize_postings — the memo
        amortizes across every batch the task processes). Bounded so a
        pathological vocabulary cannot grow without limit."""
        cache = self.__dict__.setdefault("_term_memo", {})
        hit = cache.get(folded)
        if hit is not None:
            return hit
        term = self._term_of_uncached(folded)
        if len(cache) > 1_000_000:
            cache.clear()
        cache[folded] = term
        return term

    def _term_of_uncached(self, folded: str) -> str:
        mode = self.config.mode
        if mode == "simple":
            return folded
        if mode == "porter":
            if folded.isascii():
                return porter.stem(folded)
            # FTS5's porter runs over UTF-8 BYTES (non-ASCII bytes behave
            # as consonants); emulate via a latin-1 byte surrogate. Safe:
            # suffix matches are ASCII bytes, and UTF-8 continuation bytes
            # are >= 0x80, so cuts never split a multibyte sequence.
            b = folded.encode("utf-8").decode("latin-1")
            return porter.stem(b).encode("latin-1").decode("utf-8")
        return self._stem_chain(folded, len(folded.encode("utf-8")))

    def tokens(self, text: str) -> list[Token]:
        """Index-time analysis of one document column."""
        return [
            Token(self.term_of(folded), pos, start, end)
            for pos, (folded, start, end) in enumerate(self.folded_tokens(text))
        ]

    def terms(self, text: str) -> list[str]:
        return [t.term for t in self.tokens(text)]

    def query_alternatives(
        self,
        text: str,
        synonyms: dict[str, list[str]] | None = None,
        prefix: bool = False,
    ) -> list[list[str]]:
        """Query-time analysis: per token position, the list of acceptable
        terms — the analyzed primary plus analyzed synonyms of the folded
        *surface* token (reference emits synonyms as colocated tokens
        looked up on the unstemmed surface word, snowball.c:123-162;
        disabled for prefix queries, snowball.c:248-262)."""
        out = []
        for folded, _s, _e in self.folded_tokens(text):
            alts = [self.term_of(folded)]
            if synonyms and not prefix:
                for syn in synonyms.get(folded, []):
                    for sf, _a, _b in self.folded_tokens(syn):
                        st = self.term_of(sf)
                        if st not in alts:
                            alts.append(st)
            out.append(alts)
        return out

    def _stem_chain(self, folded: str, nbytes: int) -> str:
        if not (self.config.stem_min <= nbytes <= self.config.stem_max):
            return folded
        for lang in self.config.languages:
            stemmed = _STEMMERS[lang](folded)
            # the reference compares BYTE lengths (snowball.c:216
            # stemmedLength != nToken); chars and bytes diverge for
            # transliterating stemmers (serbian 'књиге' -> 'knjig')
            if len(stemmed.encode("utf-8")) != nbytes:
                return stemmed
        return stemmed if self.config.languages else folded
