"""Span-exact check of a committed ExtractTable against the oracle answer.

The table is read without Spark and without the program's own reader: the
manifest's snapshot list names the data files of the head snapshot (an
"operation": "replace" snapshot restarts the list), and pyarrow reads them.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import pyarrow.parquet as pq


@dataclass
class Head:
    snapshot_id: int
    rows: list[tuple[str, list[tuple]]]     # (doc_id, spans) in file order
    new_files: list[str] = field(default_factory=list)  # data files of the head snapshot
    new_rows: int = 0                                     # rows in those files


def read_head(root: str) -> Head:
    path = os.path.join(root, "manifest.json")
    if not os.path.exists(path):
        return Head(0, [])
    with open(path) as f:
        snaps = json.load(f)["snapshots"]
    files: list[str] = []
    for s in snaps:
        if s.get("operation") == "replace":
            files = []
        files += s.get("data_files", [])
    rows, new_rows = [], 0
    new_files = snaps[-1].get("data_files", []) if snaps else []
    for rel in files:
        t = pq.read_table(os.path.join(root, "extracted", rel), columns=["doc_id", "spans"])
        part = [
            (doc, [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans or []])
            for doc, spans in zip(t["doc_id"].to_pylist(), t["spans"].to_pylist())
        ]
        rows += part
        if rel in new_files:
            new_rows += len(part)
    return Head(snaps[-1]["snapshot_id"] if snaps else 0, rows, list(new_files), new_rows)


@dataclass
class Verdict:
    checked: int
    missing: int
    extra: int
    duplicated: int
    differing: int

    @property
    def bad(self) -> int:
        return self.missing + self.extra + self.duplicated + self.differing


def compare(expected: dict[str, list[tuple]], rows: list[tuple[str, list[tuple]]]) -> Verdict:
    """Documents missing, extra, committed more than once, or with any
    span differing in (kind, text, media_ref, offset) or order."""
    got: dict[str, list[tuple]] = {}
    duplicated = set()
    for doc, spans in rows:
        if doc in got:
            duplicated.add(doc)
        got[doc] = spans
    missing = expected.keys() - got.keys()
    extra = got.keys() - expected.keys()
    differing = sum(
        1 for doc, spans in got.items()
        if doc in expected and doc not in duplicated and spans != expected[doc]
    )
    return Verdict(len(expected.keys() | got.keys()), len(missing), len(extra), len(duplicated), differing)


def self_test(expected: dict[str, list[tuple]], rows: list[tuple[str, list[tuple]]]) -> bool:
    """True when the check rejects a copy of `rows` with one span altered
    and one document dropped, and accepts `rows` itself."""
    if compare(expected, rows).bad:
        return False
    victim = next(i for i, (_, spans) in enumerate(rows) if spans)
    doc, spans = rows[victim]
    kind, text, ref, offset = spans[0]
    altered = list(rows)
    altered[victim] = (doc, [(kind, text + "x", ref, offset)] + spans[1:])
    dropped = next(i for i in range(len(rows)) if i != victim)
    del altered[dropped]
    v = compare(expected, altered)
    return v.differing == 1 and v.missing == 1
