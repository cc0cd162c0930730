"""ES ``_bulk`` — the NDJSON write API, which is the reference's OWN write
path: ``IndexServiceImpl.java:74-91,153-156`` accumulates documents into
5 MiB bulk requests and flushes them with idempotent ``_id`` keys; the
retry/backoff loop (:153-172) makes re-sending a batch safe. This module is
the ES-API-compatible adapter over the same machinery this engine already
has: ``index``/``create`` actions become ONE delta merged by ``_id`` the way
:func:`~es_indexer_spark.index.merge.upsert_batch` merges (superseded live
copies tombstoned); ``delete`` actions become tombstones in the same new
version; the whole call publishes exactly one new version atomically
(re-running the same bulk is idempotent at the tombstone level, the
reference's retry contract). A delete-only bulk appends one tombstone file
to the published version instead.

Two execution paths, one result:

- **driver** (:mod:`~es_indexer_spark.index.driver_write`): below its
  payload and main-postings-bytes cutovers the delta is tokenized and
  encoded, merged and written on the driver with pyarrow — no Spark job;
- **Spark**: above them, a delta ``build_index`` then ``merge_indexes``
  with the superseded copies and the deletes passed along.

On both paths the delta's documents get dense docids past main's max docid,
in ascending ``_id`` order; the ``_id`` itself stays in its stored column.

Both tokenize with the index's own ``block_size`` and, for the ``code``
chain, its ``lang_col`` (recorded in ``stats.json`` by ``build_index``).

Deliberate divergences (README):

- ``update`` must carry the FULL document in ``doc`` (ES merges the partial
  doc with the stored ``_source``; this engine does not store source text —
  the same reason ``_update_by_query`` reads the corpus), so a partial
  ``update`` without the content column is an error ITEM, not a merge;
- the 5 MiB transport cap is meaningless for an in-process write; it is
  reported as ``n_reference_batches`` (how many HTTP requests the
  reference would have sent) for observability parity, not enforced.

Per-action error isolation follows the reference's bulk-error reduction
(S7): a malformed action yields its error item; the valid remainder still
lands — never an all-or-nothing abort.

Scale note: ``_bulk`` is a REQUEST-sized surface (the reference caps it at
5 MiB); actions parse on the driver. Corpus-scale ingest goes straight to
``build_index`` / ``upsert_batch`` on a DataFrame — this adapter exists so
ES clients' write calls port verbatim.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import time
from collections.abc import Iterable, Sequence

import pyarrow.parquet as pq
from pyspark.sql import SparkSession, functions as F

from es_indexer_spark.index import catalog, driver_read, driver_write
from es_indexer_spark.index.builder import build_index
from es_indexer_spark.index.codec import BLOCK_SIZE
from es_indexer_spark.index.merge import merge_indexes
from es_indexer_spark.index.tombstones import append_to_vdir, filter_live

_OPS = ("index", "create", "delete", "update")
_REFERENCE_BATCH_BYTES = 5 << 20  # IndexServiceImpl.getBatchSize
_RANK = "__bulk_rank"  # the Spark path's delta docid column


def parse_bulk_ndjson(lines: Iterable[str]) -> list[dict]:
    """NDJSON action/source pairs -> ``[{"op", "_id", "doc"?}, ...]``
    (malformed entries become ``{"op": "error", "error": ...}`` items)."""
    out: list[dict] = []
    it = iter([ln for ln in lines if ln.strip()])
    for raw in it:
        try:
            action = json.loads(raw)
            op, meta = next(iter(action.items()))
            if op not in _OPS:
                raise ValueError(f"unknown bulk op {op!r}")
            item: dict = {"op": op, "_id": meta.get("_id")}
            if op in ("index", "create", "update"):
                src = json.loads(next(it))
                item["doc"] = src.get("doc", src) if op == "update" else src
            out.append(item)
        except StopIteration:
            out.append({"op": "error", "_id": None,
                        "error": "action without a source line"})
            break
        except (json.JSONDecodeError, ValueError, AttributeError) as e:
            out.append({"op": "error", "_id": None, "error": str(e)})
    return out


def bulk(
    spark: SparkSession,
    index_root: str,
    actions: Iterable[str] | list[dict],
    *,
    content_col: str = "content",
    id_col: str = "docid",
    meta_cols: Sequence[str] = (),
    work_dir: str | None = None,
) -> dict:
    """Apply a bulk request to the published index. ``actions``: NDJSON
    lines (strings) or pre-parsed ``[{"op", "_id", "doc"}]`` items.

    Returns the ES response shape: ``{"took_sec", "errors", "items": [...],
    "n_reference_batches", "version_dir"}`` — one item per action in
    request order, each ``{op, _id, "status": "ok"|"error"[, "error"]}``."""
    t0 = time.time()
    items = list(actions)
    if items and isinstance(items[0], str):
        items = parse_bulk_ndjson(items)
    results: list[dict] = []
    # sequential-per-id semantics (ES applies bulk actions in order): the
    # LAST valid action for an id decides its final state — intermediate
    # states are invisible anyway behind the single atomic publish
    final_doc: dict[int, dict] = {}
    final_delete: set[int] = set()
    payload_bytes = 0
    for item in items:
        op = item.get("op")
        if op == "error":
            results.append({"op": "error", "_id": None, "status": "error",
                            "error": item["error"]})
            continue
        try:
            _id = int(item["_id"])
        except (TypeError, ValueError):
            results.append({"op": op, "_id": item.get("_id"),
                            "status": "error",
                            "error": "_id must be an integer id"})
            continue
        if op == "delete":
            final_delete.add(_id)
            final_doc.pop(_id, None)
            results.append({"op": op, "_id": _id, "status": "ok"})
            continue
        doc = dict(item.get("doc") or {})
        if content_col not in doc or doc[content_col] is None:
            results.append({
                "op": op, "_id": _id, "status": "error",
                "error": (
                    f"document must carry the full {content_col!r} column "
                    "(this engine stores postings, not _source — partial "
                    "updates cannot merge)"
                ),
            })
            continue
        missing = [c for c in meta_cols if c not in doc and c != id_col]
        if missing:
            results.append({"op": op, "_id": _id, "status": "error",
                            "error": f"missing meta columns {missing}"})
            continue
        doc[id_col] = _id
        payload_bytes += len(doc[content_col])
        final_doc[_id] = doc
        final_delete.discard(_id)
        results.append({"op": op, "_id": _id, "status": "ok"})
    upserts = [final_doc[i] for i in sorted(final_doc)]
    deletes = sorted(final_delete)

    version_dir = None
    if upserts or deletes:
        main_vdir = catalog.resolve(index_root)
        stats = catalog.read_stats(main_vdir)
        main_doc_cols = pq.read_schema(
            driver_read.data_files(os.path.join(main_vdir, "docs"))[0]
        ).names
        keyed = id_col in main_doc_cols and id_col in meta_cols
        # deletes key on the EXTERNAL id when the docs table stores it
        delete_key = id_col if id_col in main_doc_cols else "docid"
        lang_col = stats.get("lang_col")
        doc_cols = ["docid", "doc_len", "sha256",
                    *[c for c in meta_cols if c != "docid"]]
        served = False
        if driver_write.serves(main_vdir, stats, payload_bytes, doc_cols,
                               delete_key):
            if upserts:
                version_dir = driver_write.bulk_write(
                    spark, index_root, main_vdir, upserts, deletes,
                    content_col=content_col, id_col=id_col,
                    clash_key=id_col if keyed else "docid",
                    delete_key=delete_key, lang_col=lang_col,
                    publish_meta=_publish_meta(len(upserts), len(deletes)),
                )
                served = version_dir is not None
            else:
                append_to_vdir(spark, main_vdir, driver_write.delete_ids(
                    main_vdir, delete_key, deletes))
                served = True
        if not served:
            version_dir = _spark_bulk(
                spark, index_root, main_vdir, stats, upserts, deletes,
                content_col=content_col, id_col=id_col, meta_cols=meta_cols,
                keyed=keyed, delete_key=delete_key, lang_col=lang_col,
                work_dir=work_dir,
            )
    return {
        "took_sec": round(time.time() - t0, 3),
        "errors": any(r["status"] == "error" for r in results),
        "items": results,
        "n_reference_batches": max(
            1, -(-payload_bytes // _REFERENCE_BATCH_BYTES)
        ) if upserts else 0,
        "version_dir": version_dir,
    }


def _publish_meta(n_indexed: int, n_deleted: int) -> dict:
    return {"op": "bulk", "indexed": n_indexed, "deleted": n_deleted}


def _spark_bulk(
    spark: SparkSession,
    index_root: str,
    main_vdir: str,
    stats: dict,
    upserts: list[dict],
    deletes: list[int],
    *,
    content_col: str,
    id_col: str,
    meta_cols: Sequence[str],
    keyed: bool,
    delete_key: str,
    lang_col: str | None,
    work_dir: str | None,
) -> str | None:
    """The bulk as Spark jobs: a delta ``build_index`` merged by
    :func:`merge_indexes` with the live main copies the upserts supersede
    (as :func:`~es_indexer_spark.index.merge.upsert_batch` finds
    them) and the deletes tombstoned into the
    merged version (or, with no upserts, appended to the published one)."""
    main_docs = spark.read.parquet(os.path.join(main_vdir, "docs"))
    deleted = (
        main_docs.filter(F.col(delete_key).isin(deletes)).select("docid")
        if deletes else None
    )
    if not upserts:
        append_to_vdir(spark, main_vdir, deleted)
        return None
    cols = [id_col, content_col, *[c for c in meta_cols if c != id_col]]
    if lang_col and lang_col not in cols:
        cols.append(lang_col)  # tokenizer input only, not stored
    # dense delta docids in external-id order (``upserts`` is id-sorted), as
    # on the driver path: the merge offsets them past main's max docid
    rows = [(rank, *(d.get(c) for c in cols)) for rank, d in enumerate(upserts)]
    delta_df = spark.createDataFrame(rows, [_RANK, *cols])
    ids = [d[id_col] for d in upserts]
    clash = filter_live(spark, main_vdir, main_docs.filter(
        F.col(id_col if keyed else "docid").isin(ids))).select("docid")
    delta_root = work_dir or tempfile.mkdtemp(prefix="bulk_delta_")
    try:
        build_index(
            spark, delta_df, delta_root,
            content_col=content_col, id_col=_RANK, meta_cols=meta_cols,
            tokenizer=stats.get("tokenizer", "standard"), lang_col=lang_col,
            k1=stats.get("k1", 1.2), b=stats.get("b", 0.75),
            n_buckets=stats.get("n_buckets", 32),
            shard_size=stats.get("shard_size", 1 << 16),
            block_size=stats.get("block_size", BLOCK_SIZE),
            store_positions=stats.get("positions", False),
            resume=False,
        )
        return merge_indexes(
            spark, index_root, delta_root,
            publish_meta=_publish_meta(len(upserts), len(deletes)),
            tombstone_docids=clash, delete_docids=deleted,
        )
    finally:
        if work_dir is None:
            shutil.rmtree(delta_root, ignore_errors=True)
