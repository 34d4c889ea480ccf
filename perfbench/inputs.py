"""Seeded, stratified workload inputs and their oracle answers.

Every input property the extraction cost depends on -- documents per set,
spans per document, media share, whale documents, line heights, lines per
payload, string lengths, shared payload refs and the edge cases -- comes
from a template drawn with a fixed, seed-independent generator, so it is
exactly the same for every seed. The seed only permutes document order
(and so the document ids and part files) and picks the characters.

Inputs are built once per (workload, seed) by at most `SHARDS` spawned
processes. Each shard writes one part file of every program input and
computes `oracle.extract` over its own documents (plus every payload they
reference), so the program under test only ever sees the input files.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import dataclass
from functools import lru_cache

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SHARDS = 4  # part files per input table; fixed so inputs do not depend on nproc
HEIGHTS = (32, 64, 96, 128)
WHALE_HEIGHT = 128
HEADERS = (
    "<header>site header chrome</header>",
    "<nav>home about contact login</nav>",
    "<script>var t = 1;</script>",
    "<style>.x { color: red }</style>",
)
FOOTERS = ("<footer>copyright 2024 corp</footer>", "<aside>related links list</aside>")

SPAN_TYPE = pa.struct(
    [("kind", pa.string()), ("text", pa.string()), ("media_ref", pa.string()), ("offset", pa.int32())]
)
DOCUMENTS_SCHEMA = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(SPAN_TYPE))])
MEDIA_SCHEMA = pa.schema([("media_ref", pa.string()), ("png", pa.binary()), ("size_b", pa.int64())])


@dataclass(frozen=True)
class Shape:
    """Template parameters of one document set."""

    docs: int                  # regular documents
    spans: tuple[int, int]     # span count per regular document, [lo, hi]
    media_share: float         # share of regular spans that are media
    shared_share: float        # share of media spans that reuse an earlier payload
    multiline_every: int       # every n-th new payload carries 2 or 3 lines
    whales: int = 0            # documents with `whale_spans` large media spans
    whale_spans: int = 0


@dataclass(frozen=True)
class Workload:
    sets: tuple[tuple[str, Shape], ...]  # (set name, shape); "base" is committed off the clock
    warmup_calls: int                    # untimed calls before the timed loop (base commit aside)


WORKLOADS = {
    # OCR-bound: most spans are media line images, whales, shared refs
    "media_heavy": Workload((("docs", Shape(250, (4, 10), 0.8, 0.1, 8, whales=5, whale_spans=36)),), 1),
    # resume onto a committed base: the call extracts only a text-rich
    # delta a tenth of the base's size, so table IO and per-job overhead
    # dominate and the OCR stage is nearly idle; JVM-bound calls like these
    # need a second warm-up call before they are steady
    "incremental": Workload((
        ("base", Shape(800, (3, 12), 0.15, 0.1, 8)),
        ("delta", Shape(80, (3, 12), 0.15, 0.1, 8)),
    ), 2),
}


# -- seed-independent template ------------------------------------------------

@dataclass(frozen=True)
class Payload:
    height: int
    line_lens: tuple[int, ...]  # characters per line; () renders blank paper
    owner: tuple[str, int]      # (set, document index) whose span creates it
    corrupt: bool = False


def _edge_docs(add_payload) -> list[list[tuple]]:
    """Fixed edge cases present in every document set: empty document,
    empty-truth payload ('a' fallback), 40-character line (decode cap),
    dangling ref, offset ties with an unknown kind, unknown kind only,
    corrupt payload (quarantined decode)."""
    return [
        [],
        [("media", 1, add_payload(64, ()))],
        [("media", 1, add_payload(64, (40,)))],
        [("text", 1, (4, (3, 5, 2, 6), 0, -1, True)), ("dangling", 3, None)],
        [("text", 2, (2, (4, 4), -1, -1, True)), ("text", 2, (2, (3, 3), -1, -1, False)),
         ("media", 2, add_payload(64, (9,))), ("unknown", 5, None)],
        [("unknown", 1, None)],
        [("media", 1, add_payload(64, (7,), corrupt=True))],
    ]


@lru_cache(maxsize=None)
def template(workload: str) -> tuple[dict[str, list[list[tuple]]], list[Payload]]:
    """Document templates per set and the payload list, seed-independent.

    A document template is a list of (kind, offset, arg) spans: kind
    'text' (arg = n_words, word lengths, header index, footer index,
    <p>-wrap), 'media' / 'shared' (arg = payload index), 'dangling' or
    'unknown'."""
    rng = np.random.default_rng(list(workload.encode()))
    payloads: list[Payload] = []
    sets: dict[str, list[list[tuple]]] = {}
    for set_name, shape in WORKLOADS[workload].sets:
        docs: list[list[tuple]] = []

        def add_payload(height, line_lens, corrupt=False, _docs=docs, _set=set_name):
            payloads.append(Payload(height, tuple(line_lens), (_set, len(_docs)), corrupt))
            return len(payloads) - 1

        for edge in _edge_docs(add_payload):
            docs.append(edge)
        set_payloads: list[int] = []
        n_media_new = 0
        for i in range(shape.docs + shape.whales):
            whale = i < shape.whales
            n = shape.whale_spans if whale else int(rng.integers(shape.spans[0], shape.spans[1] + 1))
            spans: list[tuple] = []
            offset = 0
            for _ in range(n):
                offset += int(rng.integers(1, 5))
                if whale or rng.random() < shape.media_share:
                    if set_payloads and not whale and rng.random() < shape.shared_share:
                        spans.append(("shared", offset, set_payloads[int(rng.integers(0, len(set_payloads)))]))
                        continue
                    if whale:
                        height, lens = WHALE_HEIGHT, (int(rng.integers(24, 33)),)
                    else:
                        height = HEIGHTS[n_media_new % len(HEIGHTS)]
                        lines = 1 + (n_media_new % shape.multiline_every == 0) * int(rng.integers(1, 3))
                        lens = tuple(int(rng.integers(3, 17)) for _ in range(lines))
                    n_media_new += 1
                    idx = add_payload(height, lens)
                    set_payloads.append(idx)
                    spans.append(("media", offset, idx))
                else:
                    n_words = int(rng.integers(3, 13))
                    spans.append(("text", offset, (
                        n_words,
                        tuple(int(rng.integers(2, 9)) for _ in range(n_words)),
                        int(rng.integers(0, len(HEADERS))) if rng.random() < 0.7 else -1,
                        int(rng.integers(0, len(FOOTERS))) if rng.random() < 0.5 else -1,
                        bool(rng.random() < 0.5),
                    )))
            docs.append(spans)
        sets[set_name] = docs
    return sets, payloads


def shape_summary(workload: str) -> dict:
    """Exact, seed-independent counts of the workload's inputs."""
    sets, payloads = template(workload)
    out = {}
    for name, docs in sets.items():
        spans = [s for d in docs for s in d]
        media = [s for s in spans if s[0] in ("media", "shared")]
        out[name] = {
            "docs": len(docs),
            "spans": len(spans),
            "media_spans": len(media),
            "payloads": len({s[2] for s in media}),
        }
    out["multiline_payloads"] = sum(len(p.line_lens) > 1 for p in payloads)
    return out


# -- seeded strings -----------------------------------------------------------

def _letters() -> list[str]:
    from vietnamese_ocr_spark.model.vocab import Vocabulary

    return Vocabulary().letters


def _word(rng, letters, n) -> str:
    return "".join(letters[int(i)] for i in rng.integers(0, len(letters), n))


@lru_cache(maxsize=8)
def positions(workload: str, seed: int) -> dict[str, np.ndarray]:
    """Seeded input position of every template document, per set."""
    sets, _ = template(workload)
    return {name: np.random.default_rng([seed, k, 1]).permutation(len(docs))
            for k, (name, docs) in enumerate(sets.items())}


def doc_ids(workload: str, seed: int) -> dict[str, list[str]]:
    """Document ids per set, indexed like the template documents."""
    return {name: [f"{name}-{int(p):05d}" for p in pos]
            for name, pos in positions(workload, seed).items()}


def media_ref(idx: int) -> str:
    """Payload names do not depend on the seed, so neither does the
    payload-to-partition placement of the OCR stage's salted shuffle."""
    return f"m{idx:06d}"


def render_payload(seed: int, idx: int, p: Payload, letters, atlas) -> bytes:
    from vietnamese_ocr_spark.functions.imaging import png_encode
    from vietnamese_ocr_spark.model.glyphs import render_line, render_multiline

    rng = np.random.default_rng([seed, idx, 2])
    lines = [_word(rng, letters, n) for n in p.line_lens]
    if len(lines) > 1:
        img = render_multiline(lines, p.height, atlas)
    else:
        img = render_line(lines[0] if lines else "", p.height, atlas)
    png = png_encode(img)
    return png[: len(png) // 2] if p.corrupt else png


def _text(seed: int, set_no: int, doc: int, pos: int, arg, letters) -> str:
    n_words, lens, header, footer, wrap = arg
    rng = np.random.default_rng([seed, set_no, doc, pos, 3])
    words = " ".join(_word(rng, letters, n) for n in lens)
    parts = [HEADERS[header]] if header >= 0 else []
    parts.append(f"<p>{words}</p>" if wrap else words)
    if footer >= 0:
        parts.append(FOOTERS[footer])
    return "\n".join(parts)


def _doc_rows(seed: int, set_no: int, docs, ids, keep) -> list[dict]:
    letters = _letters()
    rows = []
    for i in keep:
        spans = []
        for pos, (kind, offset, arg) in enumerate(docs[i]):
            if kind == "text":
                spans.append({"kind": "text", "text": _text(seed, set_no, i, pos, arg, letters),
                              "media_ref": "", "offset": offset})
            elif kind in ("media", "shared"):
                spans.append({"kind": "media", "text": "", "media_ref": media_ref(arg), "offset": offset})
            elif kind == "dangling":
                spans.append({"kind": "media", "text": "", "media_ref": "missing", "offset": offset})
            else:
                spans.append({"kind": "sidebar", "text": "opaque payload", "media_ref": "", "offset": offset})
        rows.append({"doc_id": ids[i], "spans": spans})
    return rows


def _media_table(seed: int, indices, payloads) -> pa.Table:
    from vietnamese_ocr_spark.model.glyphs import build_atlas
    from vietnamese_ocr_spark.model.vocab import Vocabulary

    letters = _letters()
    atlas = build_atlas(Vocabulary())
    rows = {"media_ref": [], "png": [], "size_b": []}
    for idx in sorted(indices):
        png = render_payload(seed, idx, payloads[idx], letters, atlas)
        rows["media_ref"].append(media_ref(idx))
        rows["png"].append(png)
        rows["size_b"].append(len(png))
    return pa.Table.from_pydict(rows, schema=MEDIA_SCHEMA)


def build_shard(workload: str, seed: int, shard: int, out_dir: str) -> None:
    """Write shard `shard` of every input table and its oracle answer."""
    from vietnamese_ocr_spark import oracle

    sets, payloads = template(workload)
    ids = doc_ids(workload, seed)
    pos = positions(workload, seed)
    owned = [i for i, p in enumerate(payloads) if pos[p.owner[0]][p.owner[1]] % SHARDS == shard]
    pq.write_table(_media_table(seed, owned, payloads),
                   os.path.join(out_dir, "media", f"part-{shard}.parquet"))
    odir = os.path.join(out_dir, "oracle", f"shard-{shard}")
    os.makedirs(odir, exist_ok=True)
    all_rows, needed = [], set()
    for set_no, (name, docs) in enumerate(sets.items()):
        keep = sorted((i for i in range(len(docs)) if pos[name][i] % SHARDS == shard),
                      key=lambda i: pos[name][i])
        rows = _doc_rows(seed, set_no, docs, ids[name], keep)
        pq.write_table(pa.Table.from_pylist(rows, schema=DOCUMENTS_SCHEMA),
                       os.path.join(out_dir, name, f"part-{shard}.parquet"))
        all_rows += rows
        needed |= {arg for i in keep for kind, _, arg in docs[i] if kind in ("media", "shared")}
    pq.write_table(pa.Table.from_pylist(all_rows, schema=DOCUMENTS_SCHEMA),
                   os.path.join(odir, "documents.parquet"))
    pq.write_table(_media_table(seed, needed, payloads), os.path.join(odir, "media.parquet"))
    answer = oracle.extract(os.path.join(odir, "documents.parquet"), os.path.join(odir, "media.parquet"))
    with open(os.path.join(out_dir, "oracle", f"answer-{shard}.json"), "w") as f:
        json.dump(answer, f)
    shutil.rmtree(odir)


class Inputs:
    """The generated files of one (workload, seed) and their oracle answer."""

    def __init__(self, root: str, workload: str, seed: int):
        self.workload, self.seed = workload, seed
        shape = hashlib.sha1(repr(WORKLOADS[workload]).encode()).hexdigest()[:8]
        self.dir = os.path.join(root, f"{workload}-{seed}-{shape}")
        self.sets = [name for name, _ in WORKLOADS[workload].sets]
        self.media = os.path.join(self.dir, "media")

    def ready(self) -> bool:
        return os.path.exists(os.path.join(self.dir, "done.json"))

    def build(self, processes: int) -> None:
        from perfbench.host import run_pool

        tmp = self.dir + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        for sub in self.sets + ["media", "oracle"]:
            os.makedirs(os.path.join(tmp, sub))
        jobs = [(self.workload, self.seed, k, tmp) for k in range(SHARDS)]
        run_pool(build_shard, jobs, min(processes, SHARDS))
        with open(os.path.join(tmp, "done.json"), "w") as f:
            json.dump(shape_summary(self.workload), f)
        shutil.rmtree(self.dir, ignore_errors=True)
        os.replace(tmp, self.dir)

    def set_dir(self, name: str) -> str:
        return os.path.join(self.dir, name)

    def expected(self) -> dict[str, list[tuple]]:
        """doc_id -> [(kind, text, media_ref, offset), ...] for every set."""
        out: dict[str, list[tuple]] = {}
        for k in range(SHARDS):
            with open(os.path.join(self.dir, "oracle", f"answer-{k}.json")) as f:
                for doc, spans in json.load(f).items():
                    out[doc] = [tuple(s) for s in spans]
        return out

    def ids(self) -> dict[str, list[str]]:
        return doc_ids(self.workload, self.seed)
