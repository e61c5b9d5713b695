"""Seeded input generator for the benchmark.

Every input is a pure function of the seed, so the same seed gives the
same files. The program under test receives only the files written
here:

- ``batch_corpus``: multi-line documents whose line count is
  log-normal, so a document spans one to many 1200-char chunks and the
  chunker's line packing runs; plus a seeded edit set (edited and new
  documents) for the incremental rerun.
- ``StreamFeed``: a stream corpus for the stored LSH/IVF indexes and a
  page-by-page feed with new documents, updates, A->B->A reverts,
  verbatim re-feeds, planted near-duplicates (of corpus documents and,
  split across pages, of earlier fed documents) and low-overlap
  controls. Planted pairs and controls carry their exact Jaccard, on
  the same distinct 3-word shingles the dedup probe verifies with.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

VOCAB = 40_000
SHINGLE_K = 3
NEAR_DUP_MIN_JACCARD = 0.8   # planted pairs sit far above the 0.2 probe threshold
CONTROL_MAX_JACCARD = 0.1    # controls sit far below it


def _words(rng: np.random.Generator, n: int) -> list[str]:
    return [f"w{t}" for t in rng.integers(0, VOCAB, size=n)]


def _lines_text(rng: np.random.Generator, n_lines: int) -> str:
    widths = rng.integers(6, 15, size=n_lines)
    toks = _words(rng, int(widths.sum()))
    out, at = [], 0
    for w in widths:
        out.append(" ".join(toks[at : at + w]))
        at += w
    return "\n".join(out)


def shingles(text: str, k: int = SHINGLE_K) -> set[str]:
    toks = text.split()
    return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    if not sa and not sb:
        return 1.0
    return len(sa & sb) / len(sa | sb)


def content_hash(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


def _mutate(rng: np.random.Generator, text: str, share: float) -> str:
    """Replace ``share`` of the words (line structure kept); the result
    always differs from ``text``."""
    while True:
        lines = [ln.split(" ") for ln in text.split("\n")]
        for ln in lines:
            hit = rng.random(len(ln)) < share
            for i in np.flatnonzero(hit):
                ln[i] = f"w{int(rng.integers(0, VOCAB))}"
        out = "\n".join(" ".join(ln) for ln in lines)
        if out != text:
            return out


# ---------------------------------------------------------------------------
# batch_lifecycle inputs


def _doc_frame(ids: np.ndarray, texts: list[str]) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "doc_id": ids.astype(np.int64),
            "text": texts,
            "lang": "en",
            "source": [f"notion/page-{i}.md" for i in ids],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


@dataclass
class BatchCorpus:
    v0: pd.DataFrame            # the corpus the cold load reads
    v1: pd.DataFrame            # the corpus after the edit set
    edited: set[int]            # doc ids whose text changed in v1
    added: set[int]             # doc ids new in v1


def batch_corpus(
    seed: int, n_docs: int, edit_share: float = 0.02, new_share: float = 0.01
) -> BatchCorpus:
    rng = np.random.default_rng([seed, 1])
    n_lines = np.clip(rng.lognormal(2.2, 1.0, n_docs).astype(int), 1, 400)
    ids = np.arange(n_docs, dtype=np.int64)
    texts = [_lines_text(rng, int(n)) for n in n_lines]
    v0 = _doc_frame(ids, texts)

    n_edit = max(1, int(n_docs * edit_share))
    n_new = max(1, int(n_docs * new_share))
    edited = rng.choice(n_docs, size=n_edit, replace=False)
    texts1 = list(texts)
    for i in edited:
        # an edit rewrites a tenth of the words, so some chunk ids change
        texts1[i] = _mutate(rng, texts[i], 0.1)
    new_ids = np.arange(n_docs, n_docs + n_new, dtype=np.int64)
    new_texts = [_lines_text(rng, int(n)) for n in n_lines[rng.integers(0, n_docs, n_new)]]
    v1 = _doc_frame(np.concatenate([ids, new_ids]), texts1 + new_texts)
    return BatchCorpus(v0, v1, {int(i) for i in edited}, {int(i) for i in new_ids})


def write_docs(df: pd.DataFrame, data_dir: str) -> None:
    import os

    os.makedirs(data_dir, exist_ok=True)
    df.to_parquet(f"{data_dir}/documents.parquet", index=False)


# ---------------------------------------------------------------------------
# stream_ingest inputs


def _planted(rng, base: str, share: float, accept) -> tuple[str, float]:
    """Mutate ``base`` until its exact Jaccard to ``base`` is accepted."""
    for _ in range(100):
        text = _mutate(rng, base, share)
        jac = jaccard(text, base)
        if accept(jac):
            return text, jac
    raise RuntimeError(f"no accepted mutation at share={share}")


def _stream_text(rng: np.random.Generator) -> str:
    return _lines_text(rng, int(rng.integers(4, 9)))


@dataclass
class StreamFeed:
    """A deterministic feed, generated one page at a time.

    Page ``i`` depends only on the seed and on pages ``< i``, so a run
    that consumes more pages sees the same first pages. ``expect``
    records, per page and fed doc id, which kind of doc it is.
    """

    seed: int
    page_size: int
    corpus: pd.DataFrame
    pages: list[pd.DataFrame] = field(default_factory=list)
    # (page, doc_id) -> kind: new, update, revert, refeed, near_dup, control
    kinds: dict[tuple[int, int], str] = field(default_factory=dict)
    # planted near-dup doc id -> (source doc id, exact Jaccard)
    planted: dict[int, tuple[int, float]] = field(default_factory=dict)
    # control doc id -> (source doc id, exact Jaccard)
    controls: dict[int, tuple[int, float]] = field(default_factory=dict)
    _history: dict[int, list[str]] = field(default_factory=dict)
    _dup_hashes: set[str] = field(default_factory=set)
    _next_id: int = 0

    @classmethod
    def create(cls, seed: int, n_corpus: int, page_size: int) -> "StreamFeed":
        rng = np.random.default_rng([seed, 2])
        texts = [_stream_text(rng) for _ in range(n_corpus)]
        ids = np.arange(n_corpus, dtype=np.int64)
        corpus = pd.DataFrame(
            {"doc_id": ids, "text": texts, "source": [f"corpus/{i}" for i in ids]}
        )
        return cls(seed=seed, page_size=page_size, corpus=corpus, _next_id=n_corpus)

    def _new_id(self) -> int:
        self._next_id += 1
        return self._next_id - 1

    def next_page(self) -> pd.DataFrame:
        page_no = len(self.pages)
        rng = np.random.default_rng([self.seed, 3, page_no])
        n = self.page_size
        want = {
            "update": int(n * 0.10),
            "revert": int(n * 0.05),
            "refeed": int(n * 0.05),
            "near_dup": int(n * 0.05),
            "control": int(n * 0.05),
        }
        rows: list[tuple[int, str]] = []
        used: set[int] = set()

        def add(doc_id: int, text: str, kind: str) -> None:
            rows.append((doc_id, text))
            used.add(doc_id)
            self.kinds[(page_no, doc_id)] = kind

        fed = [d for d in sorted(self._history) if d not in used]
        # reverts: docs with >= 2 versions go back to their previous text
        multi = [d for d in fed if len(self._history[d]) >= 2
                 and self._history[d][-1] != self._history[d][-2]]
        for d in rng.permutation(multi)[: want["revert"]]:
            add(int(d), self._history[int(d)][-2], "revert")
        for kind in ("update", "refeed"):
            pool = [d for d in fed if d not in used]
            for d in rng.permutation(pool)[: want[kind]]:
                d = int(d)
                text = _stream_text(rng) if kind == "update" else self._history[d][-1]
                add(d, text, kind)
        # planted near-dups: most of a corpus doc, some (split across
        # pages) of a doc fed on an earlier page as new
        # a split pair's source is a single-version doc not on this page,
        # so the text it is a near-dup of is the source's live text
        earlier_new = [
            d for (p, d), k in self.kinds.items()
            if k == "new" and p < page_no and len(self._history[d]) == 1 and d not in used
        ]
        for j in range(want["near_dup"]):
            if earlier_new and j % 3 == 0:
                src = int(earlier_new[int(rng.integers(0, len(earlier_new)))])
                base = self._history[src][0]
            else:
                src = int(rng.integers(0, len(self.corpus)))
                base = self.corpus.text.iat[src]
            text, jac = _planted(rng, base, 0.02, lambda j: j >= NEAR_DUP_MIN_JACCARD)
            doc = self._new_id()
            self.planted[doc] = (src, jac)
            # a later revert to the source's text is a near-dup of this
            # doc, and is flagged if this doc was missed and indexed
            self._dup_hashes.update((content_hash(text), content_hash(base)))
            add(doc, text, "near_dup")
        for _ in range(want["control"]):
            src = int(rng.integers(0, len(self.corpus)))
            base = self.corpus.text.iat[src]
            text, jac = _planted(rng, base, 0.6, lambda j: j <= CONTROL_MAX_JACCARD)
            doc = self._new_id()
            self.controls[doc] = (src, jac)
            add(doc, text, "control")
        while len(rows) < n:
            add(self._new_id(), _stream_text(rng), "new")

        for d, text in rows:
            self._history.setdefault(d, []).append(text)
        order = rng.permutation(len(rows))
        page = pd.DataFrame(
            {
                "doc_id": np.array([rows[i][0] for i in order], dtype=np.int64),
                "text": [rows[i][1] for i in order],
                "source": [f"feed/{rows[i][0]}" for i in order],
            }
        )
        self.pages.append(page)
        return page

    def expected_skips(self, page_no: int) -> set[int]:
        return {d for (p, d), k in self.kinds.items() if p == page_no and k == "refeed"}

    def may_flag(self, page_no: int) -> set[int]:
        """Docs of a page whose text is a planted near-dup text or the
        source text of one (a revert can bring either back): the only
        docs the probe may flag."""
        page = self.pages[page_no]
        return {
            int(d) for d, t in zip(page.doc_id, page.text)
            if content_hash(t) in self._dup_hashes
        }

    def of_kind(self, page_no: int, kind: str) -> set[int]:
        return {d for (p, d), k in self.kinds.items() if p == page_no and k == kind}

    def write(self, path: str) -> None:
        """Publish every page generated so far as one parquet file, one
        row group per page, replaced atomically (the paginated source
        re-reads the row count on every trigger)."""
        import os

        import pyarrow as pa
        import pyarrow.parquet as pq

        table = pa.Table.from_pandas(pd.concat(self.pages, ignore_index=True), preserve_index=False)
        tmp = f"{path}.tmp"
        pq.write_table(table, tmp, row_group_size=self.page_size)
        os.replace(tmp, path)
