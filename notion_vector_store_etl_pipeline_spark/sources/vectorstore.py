"""Custom vector-store SINK (Spark 4 Python DataSource writer API) —
the reference's vector-store upload + manifest bookkeeping
(`Notion_openai_vector_etl.py:329-344` upload_chunks_jsonl,
`:600-613` ensure/delete, `:711-716` stale replace) re-expressed as a
``df.write.format("vectorstore")`` sink with real commit/abort
semantics:

- every TASK uploads its partition as one JSONL "file" into a staging
  area and returns a commit message (file name + row count) — the
  reference's per-batch ``upload_and_poll`` loop, parallel across
  executors;
- ``commit()`` on the driver atomically publishes the staged files
  into ``_manifest.json`` — the reference's manifest save (`:206-215`),
  but transactional: a reader only trusts files listed in the
  manifest, so a crashed job leaves garbage bytes, never a torn store;
- ``abort()`` deletes staged files — failed uploads never become
  visible (the reference instead deletes stale ids after the fact,
  `:609-613`);
- ``mode("overwrite")`` retires ALL previously committed files in the
  same manifest swap — the reference's delete-then-reupload, as one
  atomic publish.

Here the "store" is a local directory of JSONL part files; a real
deployment points the same writer at an object store or swaps the
upload call inside ``write()`` for the remote API — partitioning,
commit protocol, and manifest contract are unchanged.
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass

from pyspark.sql.datasource import DataSource, DataSourceWriter, WriterCommitMessage

MANIFEST = "_manifest.json"


def _txn_parts(txn_id: str) -> tuple[str, int] | None:
    """('etl-batch', 17) for 'etl-batch-17'; None when the tail isn't
    a bare integer (such ids use the explicit txns list instead)."""
    prefix, sep, tail = txn_id.rpartition("-")
    if sep and tail.isdigit():
        return prefix, int(tail)
    return None


@dataclass
class VSCommit(WriterCommitMessage):
    filename: str
    rows: int


class VectorStoreWriter(DataSourceWriter):
    def __init__(self, options, schema, overwrite: bool):
        self.path = options.get("path")
        if self.path is None:
            raise ValueError("vectorstore sink requires .option('path', ...)")
        self.fields = [f.name for f in schema.fields]
        self.overwrite = overwrite
        # optional idempotence token: a write tagged with a txn id that
        # the manifest has already committed becomes a no-op — this is
        # what makes foreachBatch(epoch_id) deliveries exactly-once
        # across Structured Streaming batch REPLAYS (same mechanism as
        # Delta's txn appId/version dedup)
        self.txn_id = options.get("txn_id")

    # -- executor side ----------------------------------------------------
    def write(self, iterator) -> VSCommit:
        staging = os.path.join(self.path, "_staging")
        os.makedirs(staging, exist_ok=True)
        name = f"part-{uuid.uuid4().hex}.jsonl"
        n = 0
        tmp = os.path.join(staging, name)
        with open(tmp, "w", encoding="utf-8") as fh:
            for row in iterator:
                rec = dict(zip(self.fields, row))
                fh.write(json.dumps(rec, default=str) + "\n")
                n += 1
        return VSCommit(filename=name, rows=n)

    # -- driver side ------------------------------------------------------
    def _manifest_path(self) -> str:
        return os.path.join(self.path, MANIFEST)

    def _load_manifest(self) -> dict:
        try:
            with open(self._manifest_path(), encoding="utf-8") as fh:
                m = json.load(fh)
                m.setdefault("txns", [])
                m.setdefault("txn_max", {})
                return m
        except (FileNotFoundError, json.JSONDecodeError):
            return {"files": {}, "txns": [], "txn_max": {}}

    def _txn_committed(self, manifest: dict) -> bool:
        """Replay check. Numeric-suffixed txn ids ('etl-batch-17') are
        tracked as ONE max-epoch per prefix — Delta's appId/version
        dedup — so the manifest stays O(writers), not O(epochs): a
        streaming prefix identifies a single sequential writer whose
        epochs commit in order, making 'epoch <= max' equivalent to
        'already committed'. Non-numeric ids keep the explicit list
        (bounded by the caller's own id set)."""
        if self.txn_id in manifest["txns"]:
            return True
        parsed = _txn_parts(self.txn_id)
        if parsed is not None:
            prefix, epoch = parsed
            return epoch <= manifest["txn_max"].get(prefix, -1)
        return False

    def commit(self, messages) -> None:
        staging = os.path.join(self.path, "_staging")
        manifest = self._load_manifest()
        if self.txn_id is not None and self._txn_committed(manifest):
            # replayed epoch: the data is already durably published —
            # drop the staged duplicates and leave the store untouched
            self.abort(messages)
            return
        retired = list(manifest["files"]) if self.overwrite else []
        if self.overwrite:
            manifest["files"] = {}
        for m in messages:
            if m is None:
                continue
            os.replace(os.path.join(staging, m.filename), os.path.join(self.path, m.filename))
            manifest["files"][m.filename] = {"rows": m.rows}
        if self.txn_id is not None:
            parsed = _txn_parts(self.txn_id)
            if parsed is not None:
                prefix, epoch = parsed
                manifest["txn_max"][prefix] = max(
                    manifest["txn_max"].get(prefix, -1), epoch
                )
            else:
                manifest["txns"].append(self.txn_id)
        # record the record shape so an empty (or emptied) store still
        # reads back as a TYPED frame — without it read_store would
        # return a zero-column frame and any caller selecting expected
        # columns would hit UNRESOLVED_COLUMN instead of zero rows
        # (ADVICE r10)
        manifest["fields"] = self.fields
        # atomic publish: readers switch to the new file set in one rename
        tmp = self._manifest_path() + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(manifest, fh, indent=1)
        os.replace(tmp, self._manifest_path())
        # only after the manifest swap is it safe to delete retired data
        for name in retired:
            try:
                os.remove(os.path.join(self.path, name))
            except FileNotFoundError:
                pass

    def abort(self, messages) -> None:
        staging = os.path.join(self.path, "_staging")
        for m in messages:
            if m is None:
                continue
            try:
                os.remove(os.path.join(staging, m.filename))
            except FileNotFoundError:
                pass


class VectorStoreSink(DataSource):
    """``df.write.format("vectorstore").option("path", ...).mode(...)``"""

    @classmethod
    def name(cls) -> str:
        return "vectorstore"

    def writer(self, schema, overwrite: bool) -> VectorStoreWriter:
        return VectorStoreWriter(self.options, schema, overwrite)


def register_vectorstore_sink(spark) -> None:
    spark.dataSource.register(VectorStoreSink)


def read_store(spark, path: str):
    """Read back ONLY the committed file set (manifest-gated), as the
    reference reads only manifest-tracked vector files. A store that
    was never committed to (no manifest — e.g. a legitimate zero-row
    streaming run whose foreachBatch never fired) or whose committed
    file set is empty reads as an EMPTY frame, not a crash. When the
    manifest records the record shape (every commit does), the empty
    frame carries those columns (string-typed — the finest JSONL
    inference can promise with zero rows) so downstream ``.select``
    gets zero rows, not UNRESOLVED_COLUMN; a store with NO manifest at
    all has no schema to offer and reads as a zero-column empty frame."""
    try:
        with open(os.path.join(path, MANIFEST), encoding="utf-8") as fh:
            manifest = json.load(fh)
    except FileNotFoundError:
        manifest = {"files": {}}
    files = [os.path.join(path, name) for name in sorted(manifest["files"])]
    if not files:
        from pyspark.sql.types import StringType, StructField, StructType

        from notion_vector_store_etl_pipeline_spark.session import empty_frame

        schema = StructType(
            [StructField(f, StringType()) for f in manifest.get("fields", [])]
        )
        return empty_frame(spark, schema)
    return spark.read.json(files)
