"""Index manifest: atomic snapshots + per-chunk build lineage.

Plays the role Iceberg metadata would on a production cluster (this sandbox
has no Iceberg runtime jars, so the same semantics are provided over plain
Parquet): a ``CURRENT`` pointer file is atomically replaced to commit a
snapshot, and build lineage rows record which build chunks have been
durably written — the analog of the reference's interest-list checkpointing
(/root/reference/internal/letarette/db_index.go:122-176: work units advance
pending → served, and the committed checkpoint only moves when a full list
is served; a killed build resumes without recomputing served work).

The tokenizer config is stamped into the snapshot and verified on open,
mirroring the reference's persisted stemmer state
(/root/reference/internal/letarette/stemmer.go:32-59).
"""

from __future__ import annotations

import json
import os
import tempfile
from dataclasses import dataclass, field
from typing import Any


def _atomic_write_json(path: str, obj: Any) -> None:
    d = os.path.dirname(path)
    os.makedirs(d, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=d, suffix=".tmp")
    with os.fdopen(fd, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True)
    os.replace(tmp, path)  # POSIX-atomic commit point


def data_dirs(state: dict) -> dict[str, str]:
    """Root-relative data dir of each base table in a snapshot *state*. A
    fresh build writes the unversioned names; compaction and upserts stamp
    ``<table>_dir`` pointers at staged copies (postings.vN ...)."""
    return {
        "postings": state.get("postings_dir", "postings"),
        "docs": state.get("docs_dir", "docs"),
        "term_stats": state.get("term_stats_dir", "term_stats"),
        "prefix": state.get("prefix_dir", "prefix"),
    }


@dataclass
class Manifest:
    root: str
    state: dict = field(default_factory=dict)

    # ---- paths ----
    @property
    def _dir(self) -> str:
        return os.path.join(self.root, "_manifest")

    @property
    def _current(self) -> str:
        return os.path.join(self._dir, "CURRENT.json")

    @property
    def _lineage(self) -> str:
        return os.path.join(self._dir, "lineage.json")

    @property
    def _snapshots(self) -> str:
        return os.path.join(self._dir, "snapshots")

    def _snapshot_path(self, snapshot_id: int) -> str:
        return os.path.join(self._snapshots, f"{int(snapshot_id)}.json")

    # ---- snapshot (query-visible commit) ----
    @classmethod
    def load(cls, root: str) -> "Manifest":
        m = cls(root)
        with open(m._current) as f:
            m.state = json.load(f)
        return m

    @classmethod
    def load_snapshot(cls, root: str, snapshot_id: int) -> "Manifest":
        """Time-travel read: the committed state AS OF *snapshot_id* (the
        Iceberg ``VERSION AS OF`` analog over this repo's plain-parquet
        metadata). Raises FileNotFoundError for ids that were never
        committed or have been expired."""
        m = cls(root)
        path = m._snapshot_path(snapshot_id)
        if int(snapshot_id) not in cls.retained_ids(root):
            # covers both expired ids and phantom files newer than the
            # committed CURRENT pointer (crash between the two writes)
            raise FileNotFoundError(
                f"snapshot {snapshot_id} at {root} does not exist or was "
                f"expired (retained: {cls.retained_ids(root)})"
            )
        with open(path) as f:
            m.state = json.load(f)
        return m

    @classmethod
    def exists(cls, root: str) -> bool:
        return os.path.exists(os.path.join(root, "_manifest", "CURRENT.json"))

    @classmethod
    def retained_ids(cls, root: str) -> list[int]:
        """Snapshot ids still readable via load_snapshot, ascending.

        Ids NEWER than the committed CURRENT pointer are ignored: the
        snapshot file is written before the pointer flip, so a crash
        between the two writes leaves an uncommitted (phantom) snapshot
        file that must never be served, pinned by GC, or counted by
        retention pruning. The next successful commit reuses its id and
        atomically overwrites the file."""
        d = os.path.join(root, "_manifest", "snapshots")
        if not os.path.isdir(d):
            return []
        try:
            current = cls.load(root).state.get("snapshot_id", 0)
        except FileNotFoundError:
            return []
        out = []
        for name in os.listdir(d):
            if name.endswith(".json"):
                try:
                    sid = int(name[:-5])
                except ValueError:
                    continue
                if sid <= current:
                    out.append(sid)
        return sorted(out)

    @classmethod
    def history(cls, root: str) -> list[dict]:
        """Retained snapshot summaries, oldest first (the Iceberg
        ``snapshots`` metadata-table analog)."""
        rows = []
        for sid in cls.retained_ids(root):
            st = cls.load_snapshot(root, sid).state
            dirs = data_dirs(st)
            rows.append(
                {
                    "snapshot_id": sid,
                    "ndocs": st.get("ndocs"),
                    "nterms": st.get("nterms"),
                    "segments": len(st.get("segments", [])),
                    "postings_dir": dirs["postings"],
                    "term_stats_dir": dirs["term_stats"],
                }
            )
        return rows

    @classmethod
    def retained_refs(cls, root: str) -> tuple[set, set]:
        """(top-level data dirs, segment seqs) referenced by ANY retained
        snapshot — data-dir GC must not collect these while a time-travel
        read could still want them."""
        dirs: set = set()
        seqs: set = set()
        for sid in cls.retained_ids(root):
            st = cls.load_snapshot(root, sid).state
            dirs.update(data_dirs(st).values())
            for s in st.get("segments", []):
                seqs.add(int(s["seq"]))
        return dirs, seqs

    def commit_snapshot(self, meta: dict) -> None:
        prev = self.state.get("snapshot_id", 0)
        self.state = dict(meta, snapshot_id=prev + 1)
        # snapshot file first (a crash here leaves a harmless orphan);
        # the CURRENT pointer replace below stays the single commit point
        _atomic_write_json(self._snapshot_path(prev + 1), self.state)
        _atomic_write_json(self._current, self.state)
        keep = int(self.state.get("snapshot_retention") or 1)
        self.prune_snapshot_files(max(1, keep))

    def reset_history(self) -> None:
        """Drop every retained snapshot file. A full rebuild into an
        existing root starts a NEW history at snapshot 1 — stale files
        from the previous build would otherwise outrank it (higher ids)
        and pin data dirs the rebuild overwrites in place."""
        import shutil

        shutil.rmtree(self._snapshots, ignore_errors=True)

    def prune_snapshot_files(self, keep_last: int) -> None:
        """Drop snapshot metadata files beyond the newest *keep_last* (the
        current snapshot is always retained). Data-dir GC is the caller's
        job (index/incremental.expire_snapshots) — this only prunes which
        ids time-travel can name."""
        ids = self.retained_ids(self.root)
        current = int(self.state.get("snapshot_id", 0))
        for sid in ids[: max(0, len(ids) - max(1, int(keep_last)))]:
            if sid != current:
                try:
                    os.remove(self._snapshot_path(sid))
                except FileNotFoundError:
                    pass

    def require_analyzer(self, analyzer_key: dict) -> None:
        stamped = self.state.get("analyzer")
        if stamped != analyzer_key:
            raise ValueError(
                f"index at {self.root} was built with analyzer {stamped}, "
                f"refusing to serve with {analyzer_key} (reference behavior: "
                "stemmer.go:32-59 fails on config/index mismatch)"
            )

    # ---- build lineage (resume-without-recompute) ----
    def lineage(self) -> dict:
        if not os.path.exists(self._lineage):
            return {"plan": None, "chunks": {}}
        with open(self._lineage) as f:
            return json.load(f)

    def start_plan(self, plan: dict) -> dict:
        """Install or resume a build plan. A differing plan for the same
        root is an error unless the previous build completed."""
        lin = self.lineage()
        if lin["plan"] is not None and lin["plan"] != plan:
            raise ValueError(
                f"active build plan {lin['plan']} at {self.root} differs from "
                f"{plan}; refusing (reference: 'cannot overwrite active list', "
                "db_index.go:271-339)"
            )
        if lin["plan"] is None:
            lin = {"plan": plan, "chunks": {}}
            _atomic_write_json(self._lineage, lin)
        return lin

    def record_chunk(self, chunk_id: int, info: dict) -> None:
        lin = self.lineage()
        lin["chunks"][str(chunk_id)] = info
        _atomic_write_json(self._lineage, lin)

    def clear_plan(self) -> None:
        _atomic_write_json(self._lineage, {"plan": None, "chunks": {}})
