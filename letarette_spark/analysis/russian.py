"""Snowball Russian stemmer — pure Python, bit-exact to the compiled
libstemmer 'russian' UTF-8 stemmer (snowball 2.2.0) the reference links
against (reference internal/snowball/byggfil fetches libstemmer_c;
snowball.c:210-220 runs the configured stemmer chain over folded
tokens). Pinned by tests/test_russian_goldens.py against 31,699 vectors
captured from the compiled library.

Implements the published Russian algorithm
(snowballstem.org/algorithms/russian/stemmer.html):

  prelude: ё -> е
  vowels: а е и о у ы э ю я
  RV: after the first vowel; R2: standard (second non-vowel-after-vowel
      region). All endings are searched inside RV; group-1 endings
      additionally require a preceding а/я inside RV.
  step 1: perfective gerund; else [reflexive] then adjectival (adjective
      + optional preceding participle) or verb or noun
  step 2: final и
  step 3: derivational ост/ость in R2
  step 4 (one among): superlative ейш/ейше (then only нн -> н), else
      нн -> н, else final ь
"""

from __future__ import annotations

_V = frozenset("аеиоуыэюя")

_GERUND_1 = ("вшись", "вши", "в")
_GERUND_2 = ("ившись", "ывшись", "ивши", "ывши", "ив", "ыв")
_GERUND = sorted([*_GERUND_1, *_GERUND_2], key=len, reverse=True)

_ADJECTIVE = sorted(
    ["ее", "ие", "ые", "ое", "ими", "ыми", "ей", "ий", "ый", "ой", "ем",
     "им", "ым", "ом", "его", "ого", "ему", "ому", "их", "ых", "ую",
     "юю", "ая", "яя", "ою", "ею"],
    key=len,
    reverse=True,
)

_PARTICIPLE_1 = ("ем", "нн", "вш", "ющ", "щ")
_PARTICIPLE_2 = ("ивш", "ывш", "ующ")
_PARTICIPLE = sorted([*_PARTICIPLE_1, *_PARTICIPLE_2], key=len, reverse=True)

_REFLEXIVE = ("ся", "сь")

_VERB_1 = (
    "ла", "на", "ете", "йте", "ли", "й", "л", "ем", "н", "ло", "но",
    "ет", "ют", "ны", "ть", "ешь", "нно",
)
_VERB_2 = (
    "ила", "ыла", "ена", "ейте", "уйте", "ите", "или", "ыли", "ей",
    "уй", "ил", "ыл", "им", "ым", "ен", "ило", "ыло", "ено", "ят",
    "ует", "уют", "ит", "ыт", "ены", "ить", "ыть", "ишь", "ю",
)
_VERB = sorted([*_VERB_1, *_VERB_2], key=len, reverse=True)

_NOUN = sorted(
    ["а", "ев", "ов", "ие", "ье", "е", "иями", "ями", "ами", "еи",
     "ии", "и", "ией", "ей", "ой", "ий", "й", "иям", "ям", "ием", "ем",
     "ам", "ом", "о", "у", "ах", "иях", "ях", "ы", "ь", "ию", "ью",
     "я", "ия", "ья"],
    key=len,
    reverse=True,
)

_DERIVATIONAL = ("ость", "ост")

_SUPERLATIVE = ("ейше", "ейш")


def _pv_p2(w: str) -> tuple[int, int]:
    n = len(w)
    pv = n
    for i in range(n):
        if w[i] in _V:
            pv = i + 1
            break

    def _after_v_nonv(start: int) -> int:
        i = start
        while i < n and w[i] not in _V:
            i += 1
        while i < n and w[i] in _V:
            i += 1
        return i + 1 if i < n else n

    p1 = _after_v_nonv(0)
    p2 = _after_v_nonv(p1) if p1 < n else n
    return pv, p2


def _try_group(w, pv, suffixes, group1):
    """among over *suffixes* limited to RV; a group-1 match additionally
    needs a preceding а/я inside RV (tested, not removed). Longest match
    commits — a failed condition means overall failure."""
    for suf in suffixes:
        if w.endswith(suf) and len(w) - len(suf) >= pv:
            s = len(w) - len(suf)
            if suf in group1:
                if s >= 1 and s - 1 >= pv and w[s - 1] in "ая":
                    return w[:s], True
                return w, False
            return w[:s], True
    return w, False


def stem(word: str) -> str:
    w = word.replace("ё", "е")
    pv, p2 = _pv_p2(w)

    # ---- step 1 ----
    w2, ok = _try_group(w, pv, _GERUND, _GERUND_1)
    if ok:
        w = w2
    else:
        for suf in _REFLEXIVE:
            if w.endswith(suf) and len(w) - len(suf) >= pv:
                w = w[: -len(suf)]
                break
        w2, ok = _try_group(w, pv, _ADJECTIVE, ())
        if ok:
            w = w2
            w, _ = _try_group(w, pv, _PARTICIPLE, _PARTICIPLE_1)
        else:
            w2, ok = _try_group(w, pv, _VERB, _VERB_1)
            if ok:
                w = w2
            else:
                w, _ = _try_group(w, pv, _NOUN, ())

    # ---- step 2: final и ----
    if w.endswith("и") and len(w) - 1 >= pv:
        w = w[:-1]

    # ---- step 3: derivational in R2 ----
    for suf in _DERIVATIONAL:
        if w.endswith(suf) and len(w) - len(suf) >= p2:
            w = w[: -len(suf)]
            break

    # ---- step 4: tidy up ----
    # one among: after a superlative only нн -> н may follow (a final ь
    # left by the deletion stays)
    for suf in _SUPERLATIVE:
        if w.endswith(suf) and len(w) - len(suf) >= pv:
            w = w[: -len(suf)]
            if w.endswith("нн") and len(w) - 1 >= pv:
                w = w[:-1]
            return w
    if w.endswith("нн") and len(w) - 1 >= pv:
        w = w[:-1]
    elif w.endswith("ь") and len(w) - 1 >= pv:
        w = w[:-1]
    return w
