"""CLI lifecycle test (reference `__main__`/`run_etl`, `:829-831`):
first run processes everything; a second run against the same state
path skips everything (the incremental-resume contract,
`README.md:458-466`); dry-run discovers without writing.
"""

from __future__ import annotations

import json
import pathlib
import re

import pytest

from notion_vector_store_etl_pipeline_spark.__main__ import main


def _run(capsys, *argv) -> str:
    rc = main(list(argv))
    assert rc == 0
    return capsys.readouterr().out.strip().splitlines()[-1]


@pytest.mark.slow
def test_cli_full_then_incremental_then_dry(spark, tmp_path, capsys):
    state = str(tmp_path / "state")
    out1 = str(tmp_path / "chunks1")
    out2 = str(tmp_path / "chunks2")

    line1 = _run(
        capsys, "--data-dir", "/root/testdata/sf0.001",
        "--state-path", state, "--output-dir", out1,
    )
    assert "processed=500 skipped=0" in line1

    # JSONL sink wrote one record per chunk with the upload shape
    files = list(pathlib.Path(out1).glob("*.json")) + list(
        pathlib.Path(out1).glob("part-*")
    )
    assert files
    rec = json.loads(
        next(l for f in files for l in f.read_text().splitlines() if l.strip())
    )
    assert "text" in rec and "id" in rec

    # second run: same data, state now covers it all -> everything skips
    line2 = _run(
        capsys, "--data-dir", "/root/testdata/sf0.001",
        "--state-path", state, "--output-dir", out2,
    )
    assert "processed=0" in line2
    assert "skipped=500" in line2

    # dry-run with a lang filter: reports without touching state/output
    line3 = _run(
        capsys, "--data-dir", "/root/testdata/sf0.001",
        "--state-path", state, "--dry-run", "--lang-filter", "en,fr",
    )
    assert line3.startswith("[dry-run]")
    assert "would process 0" in line3


def test_cli_max_files_limit(spark, tmp_path, capsys):
    state = str(tmp_path / "state")
    line = _run(
        capsys, "--data-dir", "/root/testdata/sf0.001",
        "--state-path", state, "--dry-run", "--max-files", "7",
    )
    assert "would process 7" in line


# A tiny corpus for exact summary counts: line lengths are chosen so
# that, at --chunk-char-len 40, doc 1 packs into several chunks and
# doc 3 (whitespace only) into none. A zero-chunk doc has no vector ids,
# so the skip rule (state + unchanged let + ids) never holds for it and
# every run reprocesses it.
CHUNK_LEN = 40
V0 = {i: f"doc {i} line one\ndoc {i} line two" for i in range(12)}
V0[1] = "\n".join(f"doc 1 line {k} with some padding words" for k in range(5))
V0[3] = "   \n  \n "
EDITED = (1, 5)
ADDED = 12
V1 = dict(V0)
V1[1] = V0[1] + "\nan added last line for the edit"
V1[5] = "doc 5 now has new text"
V1[ADDED] = "a new doc\nwith two lines"


def _write_docs(data_dir, texts: dict[int, str]) -> str:
    import pandas as pd

    data_dir.mkdir()
    ids = sorted(texts)
    pd.DataFrame(
        {
            "doc_id": pd.Series(ids, dtype="int64"),
            "source": [f"src{i}" for i in ids],
            "text": [texts[i] for i in ids],
            "lang": ["en"] * len(ids),
        }
    ).to_parquet(data_dir / "documents.parquet", index=False)
    return str(data_dir)


SUMMARY = re.compile(r"processed=(\d+) skipped=(\d+) chunks=(\d+) stale_vectors=(\d+)")
DRY = re.compile(r"would process (\d+) files, skip (\d+)")


def _counts(line: str, pattern: re.Pattern) -> tuple[int, ...]:
    m = pattern.search(line)
    assert m, line
    return tuple(int(x) for x in m.groups())


def test_cli_summary_counts_exact(spark, tmp_path, capsys):
    """All four summary numbers of a cold load, of a rerun after 2 edits
    and 1 new doc, and of a dry run, against counts computed from the
    chunker kernel."""
    from notion_vector_store_etl_pipeline_spark.operators.chunker import greedy_chunk_text

    def n_chunks(text):
        return len(greedy_chunk_text(text, CHUNK_LEN))

    assert n_chunks(V0[1]) > 1 and n_chunks(V0[3]) == 0
    v0 = _write_docs(tmp_path / "v0", V0)
    v1 = _write_docs(tmp_path / "v1", V1)
    state = str(tmp_path / "state")
    common = ("--state-path", state, "--chunk-char-len", str(CHUNK_LEN))

    line = _run(capsys, "--data-dir", v0, "--output-dir", str(tmp_path / "o0"), *common)
    assert _counts(line, SUMMARY) == (len(V0), 0, sum(map(n_chunks, V0.values())), 0)

    redo = (*EDITED, ADDED, 3)  # the zero-chunk doc is redone every run
    line = _run(capsys, "--data-dir", v1, "--output-dir", str(tmp_path / "o1"), *common)
    assert _counts(line, SUMMARY) == (
        len(redo),
        len(V1) - len(redo),
        sum(n_chunks(V1[i]) for i in redo),
        sum(n_chunks(V0[i]) for i in EDITED),  # the edited docs' old chunk ids
    )

    line = _run(capsys, "--data-dir", v1, "--dry-run", *common)
    assert _counts(line, DRY) == (1, len(V1) - 1)


def test_cli_releases_its_caches(spark, tmp_path, capsys):
    """A normal run and a dry run leave the session's persisted RDDs as
    they found them: the frames the CLI persists are released on every
    return path."""
    data = _write_docs(tmp_path / "v0", V0)
    def persisted() -> int:  # the map is a snapshot: re-read it each time
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    for extra in (("--output-dir", str(tmp_path / "o")), ("--dry-run",)):
        before = persisted()
        _run(capsys, "--data-dir", data, "--state-path", str(tmp_path / "state"), *extra)
        assert persisted() == before, extra


HEX = "0123456789abcdef0123456789abcdef"
CANON = "01234567-89ab-cdef-0123-456789abcdef"
OTHER = "fedcba9876543210fedcba9876543210"
OTHER_CANON = "fedcba98-7654-3210-fedc-ba9876543210"
# slug must not end in a hex char: the extractor (like the reference's)
# takes the FIRST 32-hex run after de-hyphenation, so "My-Page-<id>"
# would match starting at the 'e' of "Page"
URL = f"https://www.notion.so/ws/Wiki-Notes-{OTHER}?v=abc"


def test_root_id_resolution_precedence_matrix():
    """The reference's 4-way seed precedence (`:87-99`) as one unit:
    id-alone, url-alone, both (id wins), neither; plus the forgiveness
    path (unparseable id + good url) and the hard-error path."""
    import pytest

    from notion_vector_store_etl_pipeline_spark.__main__ import resolve_root_page_id

    # id alone — normalized to canonical hyphenated form
    assert resolve_root_page_id(HEX, None) == CANON
    assert resolve_root_page_id(CANON, None) == CANON  # already hyphenated
    # url alone — embedded 32-hex id extracted (query string stripped)
    assert resolve_root_page_id(None, URL) == OTHER_CANON
    # both set — the explicit id wins over the url
    assert resolve_root_page_id(HEX, URL) == CANON
    # invalid id + url — falls back to the url's embedded id
    assert resolve_root_page_id("not-an-id", URL) == OTHER_CANON
    # invalid id, no url — hard error
    with pytest.raises(ValueError):
        resolve_root_page_id("not-an-id", None)
    # neither — no seed
    assert resolve_root_page_id(None, None) is None


def test_root_id_env_defaults_flow_through_cli(monkeypatch, capsys):
    """Env vars are the flag defaults (reference `:802-803`) and an
    explicit flag beats the env var; invalid seed exits 2."""
    from notion_vector_store_etl_pipeline_spark.__main__ import build_arg_parser, main

    monkeypatch.setenv("NVE_ROOT_PAGE_URL", URL)
    args = build_arg_parser().parse_args(["--state-path", "/tmp/x", "--dry-run"])
    assert args.root_page_url == URL and args.root_page_id is None

    monkeypatch.setenv("NVE_ROOT_PAGE_ID", HEX)
    args = build_arg_parser().parse_args(["--state-path", "/tmp/x", "--dry-run"])
    assert args.root_page_id == HEX  # id env joins; resolution prefers it

    # explicit flag overrides env
    args = build_arg_parser().parse_args(
        ["--state-path", "/tmp/x", "--dry-run", "--root-page-id", OTHER]
    )
    assert args.root_page_id == OTHER

    # invalid seed is a config error (exit 2), before any Spark work
    monkeypatch.delenv("NVE_ROOT_PAGE_URL")
    monkeypatch.setenv("NVE_ROOT_PAGE_ID", "garbage")
    rc = main(["--state-path", "/tmp/x", "--dry-run"])
    assert rc == 2
    assert "32 hex chars" in capsys.readouterr().err


@pytest.mark.slow
def test_cli_streaming_mode_resumable(spark, tmp_path, capsys):
    """--streaming runs the continuous pipeline to exhaustion; a second
    invocation on the same checkpoint publishes nothing new."""
    from notion_vector_store_etl_pipeline_spark.__main__ import main

    state = str(tmp_path / "st")
    out = str(tmp_path / "store")
    args = [
        "--data-dir", "/root/testdata/sf0.001",
        "--state-path", state,
        "--output-dir", out,
        "--streaming",
        "--chunk-char-len", "200",
    ]
    assert main(args) == 0
    first = capsys.readouterr().out
    assert "total_chunks=" in first
    n1 = int(first.rsplit("total_chunks=", 1)[1].strip())
    assert n1 > 0

    assert main(args) == 0
    second = capsys.readouterr().out
    n2 = int(second.rsplit("total_chunks=", 1)[1].strip())
    assert n2 == n1  # resume published nothing new


def test_cli_dry_run_with_streaming_refuses(spark, tmp_path, capsys):
    """--dry-run has no discovery-only meaning in streaming mode — the
    old code silently ran the FULL streaming ETL (publishing to the
    store and advancing the checkpoint); now it refuses loudly."""
    rc = main(
        [
            "--data-dir", "/root/testdata/sf0.001",
            "--state-path", str(tmp_path / "s"),
            "--output-dir", str(tmp_path / "o"),
            "--streaming", "--dry-run",
        ]
    )
    assert rc == 2
    assert "not supported with --streaming" in capsys.readouterr().err
    import os

    assert not os.path.exists(str(tmp_path / "o"))  # nothing published


def test_cli_recovers_state_after_commit_crash(spark, tmp_path, capsys):
    """A crash between commit_state's two swap renames leaves the last
    good state as `.old-*` and nothing at the path; load_state must
    restore it (recover_state's prescribed startup call) — the old code
    silently treated it as NO state and reprocessed the whole corpus
    with an empty stale set (r10 review)."""
    import os

    state = str(tmp_path / "state")
    _run(
        capsys, "--data-dir", "/root/testdata/sf0.001",
        "--state-path", state, "--output-dir", str(tmp_path / "c1"),
    )
    # simulate the crash window: state renamed away, new state never landed
    os.rename(state, f"{state}.old-deadbeef")

    line = _run(
        capsys, "--data-dir", "/root/testdata/sf0.001",
        "--state-path", state, "--output-dir", str(tmp_path / "c2"),
    )
    assert "processed=0" in line and "skipped=500" in line


def test_cli_streaming_default_store_minted(spark, tmp_path, capsys):
    """No --output-dir with --streaming: the CLI mints a deterministic
    default store under the state path (the reference's lazy
    ensure_vector_store, `:600-606`) instead of erroring — and a rerun
    resolves the SAME store."""
    import os

    from notion_vector_store_etl_pipeline_spark.__main__ import main

    state = str(tmp_path / "state")
    rc = main([
        "--data-dir", "/root/testdata/sf0.001",
        "--state-path", state, "--streaming", "--page-size", "200",
    ])
    assert rc == 0
    out = capsys.readouterr().out
    store = os.path.join(state, "vector-store")
    assert f"using default store {store}" in out
    assert os.path.isfile(os.path.join(store, "_manifest.json"))
