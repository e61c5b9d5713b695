"""Output checks. Each returns a list of error strings; empty means the
operation's output is correct. A failed check counts the operation as
failed. The expected values are computed here in plain Python from
the generated inputs, never read back from the program."""

from __future__ import annotations

import glob
import hashlib
import json

import pandas as pd

CHUNK_CHAR_LEN = 1200


def read_jsonl_records(path: str) -> list[dict]:
    out = []
    for part in sorted(glob.glob(f"{path}/part-*")):
        with open(part, encoding="utf-8") as f:
            out.extend(json.loads(line) for line in f if line.strip())
    return out


def read_state(path: str) -> dict[int, list[str]]:
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=["block_id", "vector_file_ids"]).to_pydict()
    return {int(b): list(v or []) for b, v in zip(t["block_id"], t["vector_file_ids"])}


def expected_chunk_ids(source: str, text: str) -> list[str]:
    """The reference's chunk ids: sha256 of "source|content_hash|index"
    over the greedy line-packed chunks."""
    from notion_vector_store_etl_pipeline_spark.operators.chunker import greedy_chunk_text

    h = hashlib.sha256(text.encode("utf-8")).hexdigest()
    n = len(greedy_chunk_text(text, CHUNK_CHAR_LEN))
    return [hashlib.sha256(f"{source}|{h}|{i}".encode("utf-8")).hexdigest() for i in range(n)]


def _ids_of(docs: pd.DataFrame) -> dict[int, list[str]]:
    return {int(d): expected_chunk_ids(s, t) for d, s, t in zip(docs.doc_id, docs.source, docs.text)}


def check_cold_load(summary: dict, records: list[dict], v0: pd.DataFrame) -> list[str]:
    """Cold load: every doc processed; chunks equal the pure-Python
    chunker over the generated text, id for id."""
    errors = []
    want = _ids_of(v0)
    n_chunks = sum(len(v) for v in want.values())
    if summary["processed"] != len(v0) or summary["skipped"] != 0:
        errors.append(f"cold: processed={summary['processed']} skipped={summary['skipped']}, want {len(v0)}/0")
    if summary["chunks"] != n_chunks or len(records) != n_chunks:
        errors.append(f"cold: chunks={summary['chunks']} records={len(records)}, want {n_chunks}")
    if {r["id"] for r in records} != {c for v in want.values() for c in v}:
        errors.append("cold: chunk ids differ from the reference chunker")
    return errors


def check_rerun(
    summary: dict,
    records: list[dict],
    prior_state: dict[int, list[str]],
    v0: pd.DataFrame,
    v1: pd.DataFrame,
    edited: set[int],
    added: set[int],
) -> list[str]:
    """Rerun: exactly the edited and new docs are processed, their new
    chunks are written, and the stale set is the edited docs' previous
    chunk ids."""
    errors = []
    changed = edited | added
    if summary["processed"] != len(changed) or summary["skipped"] != len(v1) - len(changed):
        errors.append(
            f"rerun: processed={summary['processed']} skipped={summary['skipped']}, "
            f"want {len(changed)}/{len(v1) - len(changed)}"
        )
    new_docs = v1[v1.doc_id.isin(changed)]
    want_new = {c for v in _ids_of(new_docs).values() for c in v}
    if {r["id"] for r in records} != want_new:
        errors.append("rerun: written chunk ids are not exactly the edited+new docs' chunks")
    old = _ids_of(v0[v0.doc_id.isin(edited)])
    want_stale = {c for v in old.values() for c in v}
    had = {c for d in edited for c in prior_state.get(d, [])}
    if had != want_stale:
        errors.append("rerun: prior state ids of edited docs differ from their previous chunk ids")
    if summary["stale_vectors"] != len(want_stale):
        errors.append(f"rerun: stale_vectors={summary['stale_vectors']}, want {len(want_stale)}")
    return errors


def check_stream_batch(
    page_no: int,
    fed: set[int],
    clean: set[int],
    flagged: set[int],
    expected_skips: set[int],
    may_flag: set[int],
    controls: set[int],
) -> list[str]:
    """Every fed doc lands in exactly one of clean, flagged or skipped;
    skips are exactly the verbatim re-feeds; only planted near-dup texts
    are flagged, never a control."""
    errors = []
    if clean & flagged:
        errors.append(f"batch {page_no}: {len(clean & flagged)} docs both clean and flagged")
    if not (clean | flagged) <= fed:
        errors.append(f"batch {page_no}: outputs hold {len((clean | flagged) - fed)} docs never fed")
    skipped = fed - clean - flagged
    if skipped != expected_skips:
        errors.append(
            f"batch {page_no}: skipped {len(skipped)} docs, want the {len(expected_skips)} re-feeds"
        )
    if not flagged <= may_flag:
        errors.append(f"batch {page_no}: {len(flagged - may_flag)} flagged docs are not planted near-dups")
    if flagged & controls:
        errors.append(f"batch {page_no}: {len(flagged & controls)} controls flagged")
    return errors


def check_ann_recall(batch_no: int, recall: float, floor: float) -> list[str]:
    """ANN serving: recall@10 against brute force is at least ``floor``."""
    if recall < floor:
        return [f"ann batch {batch_no}: recall@10 {recall:.3f} < {floor}"]
    return []
