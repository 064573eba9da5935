"""Live SQLite FTS5 twin of the engine's corpus: the result checker.

The twin is a (title, txt) FTS5 table with the porter + unicode61 tokenizer
and Letarette's ranking, bm25 weights 5.0/1.0 — the construction the test
suite's rank-identity oracle uses. The benchmark applies every upsert to
it as it applies them to the engine, refreshes its auto-stopwords whenever
the engine's housekeeping does, and replays the engine's respelt query
text. Expected top-k rows then follow from SQLite alone: the query text is
compiled to an FTS5 match expression here, not by the engine's parser.
"""

from __future__ import annotations

import math
import re
import sqlite3

TOKENIZER = "porter unicode61 remove_diacritics 2"
NEAR_RANGE = 15
W_TITLE, W_BODY = 5.0, 1.0

_TOKEN = re.compile(r'(-?)("([^"]*)"|[^\s"]+)(\*?)')


def parse(query: str) -> list[tuple[str, bool, bool]]:
    """(text, exclude, prefix) per phrase of a query in the engine's
    syntax: bare words, "quoted phrases", -exclusions and prefix*."""
    out = []
    for m in _TOKEN.finditer(query):
        neg, whole, quoted, star = m.groups()
        text = quoted if quoted is not None else whole
        prefix = bool(star) or (quoted is None and text.endswith("*"))
        text = text.rstrip("*").strip()
        if text:
            out.append((text, bool(neg), prefix))
    return out


class Fts5Twin:
    def __init__(self, docs):
        self.con = sqlite3.connect(":memory:")
        self.con.execute(
            "CREATE VIRTUAL TABLE fts USING fts5(title, txt, "
            f"tokenize='{TOKENIZER}', prefix='2 3 4')"
        )
        self.con.execute("CREATE VIRTUAL TABLE vocab USING fts5vocab(fts, 'row')")
        self.con.execute(f"CREATE VIRTUAL TABLE tok USING fts5(c, tokenize='{TOKENIZER}')")
        self.con.execute("CREATE VIRTUAL TABLE tokv USING fts5vocab(tok, 'instance')")
        self.con.executemany(
            "INSERT INTO fts(rowid, title, txt) VALUES (?, ?, ?)",
            [(d.rowid, d.title, d.body) for d in docs],
        )
        self.doc_ids = {d.rowid: d.doc_id for d in docs}
        self.stopwords: frozenset[str] = frozenset()
        self._stems: dict[str, list[str]] = {}

    def close(self) -> None:
        self.con.close()

    def apply(self, batch) -> None:
        """Replace, insert and delete exactly as the engine's upsert does."""
        for d in batch.docs + batch.deleted:
            self.con.execute("DELETE FROM fts WHERE rowid = ?", (d.rowid,))
        self.con.executemany(
            "INSERT INTO fts(rowid, title, txt) VALUES (?, ?, ?)",
            [(d.rowid, d.title, d.body) for d in batch.docs],
        )
        self.doc_ids.update((d.rowid, d.doc_id) for d in batch.docs)

    def refresh_stopwords(self, cutoff: float = 0.01, top_n: int = 15) -> None:
        """Letarette's auto-stopwords: terms whose instance count exceeds
        *cutoff* of all instances, the *top_n* most frequent."""
        (total,) = self.con.execute("SELECT coalesce(sum(cnt), 0) FROM vocab").fetchone()
        rows = self.con.execute(
            "SELECT term FROM vocab WHERE cnt > ? ORDER BY cnt DESC, term ASC LIMIT ?",
            (float(total) * cutoff, top_n),
        ).fetchall()
        self.stopwords = frozenset(t for (t,) in rows)

    def terms(self, text: str) -> list[str]:
        got = self._stems.get(text)
        if got is None:
            self.con.execute("INSERT INTO tok(rowid, c) VALUES (1, ?)", (text,))
            got = [t for (t,) in self.con.execute("SELECT term FROM tokv ORDER BY offset")]
            self.con.execute("DELETE FROM tok WHERE rowid = 1")
            self._stems[text] = got
        return got

    def match(self, query: str) -> str:
        """The FTS5 match expression for *query*: include phrases joined
        by NEAR(…, 15), exclusions as NOT (a OR b). A lone-word include
        phrase whose term is an auto-stopword is dropped, as the engine's
        query analysis drops it."""
        phrases = parse(query)

        def q(text: str, prefix: bool) -> str:
            return '"' + text.replace('"', '""') + '"' + ("*" if prefix else "")

        inc = [
            q(t, p) for t, ex, p in phrases
            if not ex and self.terms(t)
            and (p or " " in t or self.terms(t)[0] not in self.stopwords)
        ]
        exc = [q(t, p) for t, ex, p in phrases if ex and self.terms(t)]
        if not inc:
            return ""
        m = inc[0] if len(inc) == 1 else f"NEAR({' '.join(inc)}, {NEAR_RANGE})"
        if exc:
            m += " NOT (" + " OR ".join(exc) + ")"
        return m

    def search(self, query: str, cap: int, limit: int = 10) -> tuple[list[tuple[int, float]], int]:
        """(top-k [(rowid, score)], total_hits) with the engine's cap rule:
        only the first cap+1 matches in rowid order are ranked, and the
        reported total is min(matches, cap)."""
        m = self.match(query)
        if not m:
            return [], 0
        pool = [r for (r,) in self.con.execute(
            "SELECT rowid FROM fts WHERE fts MATCH ? ORDER BY rowid LIMIT ?", (m, cap + 1)
        )]
        if not pool:
            return [], 0
        (n,) = self.con.execute("SELECT count(*) FROM fts WHERE fts MATCH ?", (m,)).fetchone()
        rows = self.con.execute(
            "SELECT rowid, bm25(fts, ?, ?) AS r FROM fts WHERE fts MATCH ? "
            "AND rowid <= ? ORDER BY r, rowid LIMIT ?",
            (W_TITLE, W_BODY, m, pool[-1], limit),
        ).fetchall()
        return [(r, s) for r, s in rows], min(n, cap)


def check(twin: Fts5Twin, query: str, result, cap: int, limit: int = 10) -> str:
    """'' when the engine's SearchResult equals the twin's answer, else a
    one-line description of the first difference."""
    text = query
    if result.respelt:
        if twin.search(query, cap, limit)[1]:
            return f"respelt {query!r} although the twin has hits for it"
        text = result.respelt
    want, total = twin.search(text, cap, limit)
    got = [(h.rowid, h.score) for h in result.hits]
    if [r for r, _ in got] != [r for r, _ in want]:
        return f"{text!r}: rowids {[r for r, _ in got]} != twin {[r for r, _ in want]}"
    for (_, a), (_, b) in zip(got, want):
        if not math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12):
            return f"{text!r}: score {a!r} != twin {b!r}"
    if result.total_hits != total:
        return f"{text!r}: total_hits {result.total_hits} != twin {total}"
    for h in result.hits:
        if twin.doc_ids.get(h.rowid) != h.doc_id:
            return f"{text!r}: rowid {h.rowid} carries doc_id {h.doc_id!r}"
    return ""
