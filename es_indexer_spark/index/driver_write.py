"""Driver-local ``_bulk`` writes: the write-side twin of :mod:`driver_read`.

A request-sized bulk (a few dozen documents) into a small index spends its
time in Spark's job floor, not in work: the delta ``build_index`` and the
``upsert_batch`` merge launch ~40 jobs to tokenize kilobytes and rewrite a
postings table of a few hundred kilobytes. Below the two cutovers here the
same steps run on the driver with no Spark job:

- **delta** — the builder's tokenizer chains and ``term_stats_frame``,
  ``hashlib`` sha256, ``bucket = pmod(xxhash64(term), n_buckets)`` through
  :func:`xxhash64` (bit-identical to Spark's, seed 42) and the builder's own
  block encoder (:func:`~es_indexer_spark.index.codec.encode_postings`), at
  dense docids past main's max docid in ``_id`` order;
- **merge** — exactly :func:`~es_indexer_spark.index.merge.upsert_batch`:
  the shard-rounded docid offset, the merged avgdl, the safe-bound swap of
  ``max_score_free`` per segment, the additive dictionary, carried
  tombstones plus the superseded live copies;
- **write** — the Spark merge's layout (4 docid-range ``docs`` files, 4
  term-range ``dict`` files, one term-sorted file per
  ``postings/batch=0/bucket=<b>``) with the column types of the main
  version's footers; the main postings stream through one batch per file at
  a time, single-threaded, so driver memory holds a bounded window;
- **publish** — the bulk's deletes are tombstoned into the new version
  before its single ``catalog.publish``.

Above a cutover (or for layouts this module does not write: an empty main
version, a tokenizer without a driver chain, meta columns that differ from
the main docs table or have types outside the plain scalar set) ``bulk()``
takes the Spark path unchanged.
"""

from __future__ import annotations

import hashlib
import os
import struct
import time
import uuid
from collections.abc import Iterator, Sequence
from itertools import chain

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from es_indexer_spark.analysis.tokenizer import (
    code_tokenize_series,
    standard_tokenize_series,
    term_stats_frame,
)
from es_indexer_spark.index import catalog, driver_read, tombstones
from es_indexer_spark.index.codec import BLOCK_ARROW, BLOCK_SIZE, bm25, encode_postings

# Upserted content bytes served on the driver. Measured (4-vCPU VM, local[4],
# code_files content into a 1,000-file index, whole bulk call, warm JVM):
# driver 0.07 s at 10 KB, 0.11 s at 250 KB, 0.29 s at 1 MB, 0.63 s at 2 MB
# and 1.2 s at 4 MB; Spark 3.9, 4.5, 5.8, 7.8 and 10.0 s. With the
# vectorized block encoder the driver is 8-50x faster at every size, so time
# no longer sets the cutover: driver memory does. The driver's peak RSS grew
# by ~31 bytes per content byte (0.7 MB at 10 KB, 29 MB at 1 MB, 61 MB at
# 2 MB, 125 MB at 4 MB: tokens, term stats and the encoder's arrays are held
# whole). 2 MiB keeps that near the ~75 MB MAX_POSTINGS_BYTES allows.
MAX_PAYLOAD_BYTES = 1 << 21

# On-disk bytes of the main version's postings rewritten on the driver.
# Measured on the same VM with a 20-document bulk: the driver bulk takes
# 0.37 s over 0.39 MB of postings, 0.40 s over 1.4 MB and 0.5-0.7 s over
# 5.2 MB (~20 MB/s), against 5.7-9.3 s for the Spark path, so time alone
# would allow ~100 MB. Driver memory binds first: the docs and dict tables
# are held whole and the postings stream through bounded batches, and the
# driver's peak RSS grew by ~4.5x the postings bytes (23 MB at 5.2 MB, on
# top of ~20 MB of first-use code pages). 16 MiB keeps that under ~75 MB.
MAX_POSTINGS_BYTES = 16 << 20

# Output row-group size of a rewritten postings bucket file, and the batch
# size main's files are read in. Spark writes one row group per 128 MB; a
# bounded group keeps the driver's buffers bounded instead: ~1.5 MB of block
# rows at ~45 B each, plus one read batch per input file. Smaller groups
# only prune better on the read side.
ROW_GROUP_ROWS = 1 << 15
READ_BATCH_ROWS = 1 << 13

_TOKENIZERS = ("standard", "code")
_DICT_ENCODINGS = ("PLAIN_DICTIONARY", "RLE_DICTIONARY")


# ---- Spark's xxhash64 -------------------------------------------------------
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M64, 31) * _P1) & _M64


def xxhash64(data: bytes, seed: int = 42) -> int:
    """XXH64 of ``data`` as a signed 64-bit int: the value of Spark's
    ``xxhash64`` over a string's UTF-8 bytes (seed 42)."""
    n = len(data)
    i = 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M64, (seed + _P2) & _M64,
             seed & _M64, (seed - _P1) & _M64]
        while i + 32 <= n:
            lanes = struct.unpack_from("<4Q", data, i)
            v = [_round(a, x) for a, x in zip(v, lanes)]
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12)
             + _rotl(v[3], 18)) & _M64
        for a in v:
            h = ((h ^ _round(0, a)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h ^= _round(0, struct.unpack_from("<Q", data, i)[0])
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= (struct.unpack_from("<I", data, i)[0] * _P1) & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M64
        h = (_rotl(h, 11) * _P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


def term_bucket(term: str, n_buckets: int) -> int:
    """``pmod(xxhash64(term), n_buckets)``, the builder's bucket of a term."""
    return xxhash64(term.encode("utf-8")) % n_buckets


# ---- eligibility --------------------------------------------------------------
def _scalar(t: pa.DataType) -> bool:
    return (pa.types.is_integer(t) or pa.types.is_floating(t)
            or pa.types.is_string(t) or pa.types.is_boolean(t)
            or pa.types.is_binary(t))


def _bucket_of(path: str) -> int | None:
    for part in path.split(os.sep):
        if part.startswith("bucket="):
            return int(part.split("=", 1)[1])
    return None


def serves(
    vdir: str, stats: dict, payload_bytes: int, doc_cols: Sequence[str],
    key_col: str,
) -> bool:
    """Whether a bulk of ``payload_bytes`` upserted content (docs table
    columns ``doc_cols``, deletes keyed on ``key_col``) into the version
    ``vdir`` is written on the driver."""
    if payload_bytes >= MAX_PAYLOAD_BYTES or not stats.get("n_docs"):
        return False
    if stats.get("tokenizer", "standard") not in _TOKENIZERS:
        return False
    postings = driver_read.data_files(os.path.join(vdir, "postings"))
    if any(_bucket_of(f) is None for f in postings):
        return False
    if sum(os.path.getsize(f) for f in postings) >= MAX_POSTINGS_BYTES:
        return False
    schema = pq.read_schema(driver_read.data_files(os.path.join(vdir, "docs"))[0])
    return (
        sorted(schema.names) == sorted(doc_cols)
        and all(_scalar(f.type) for f in schema)
        and pa.types.is_integer(schema.field(key_col).type)
    )


# ---- small helpers --------------------------------------------------------------
def _read_all(files: Sequence[str]) -> pa.Table:
    parts = []
    for f in files:
        with pq.ParquetFile(f) as pf:
            parts.append(pf.read(use_threads=False).replace_schema_metadata(None))
    return pa.concat_tables(parts)


def _dict_columns(path: str) -> list[str]:
    """Columns the file's writer dictionary-encoded. Spark's writer keeps a
    dictionary only where it pays off, so mirroring its choice keeps the
    rewritten files the same size."""
    rg = pq.read_metadata(path).row_group(0)
    return [
        rg.column(i).path_in_schema for i in range(rg.num_columns)
        if any(e in _DICT_ENCODINGS for e in rg.column(i).encodings)
    ]


def _writer_opts(template: str) -> dict:
    return dict(compression="snappy", use_dictionary=_dict_columns(template),
                store_schema=False)


def _part_name(i: int) -> str:
    return f"part-{i:05d}-{uuid.uuid4()}-c000.snappy.parquet"


def _write_split(table: pa.Table, out_dir: str, n_parts: int, template: str) -> None:
    """``table`` (already sorted) as ``n_parts`` contiguous range files."""
    os.makedirs(out_dir, exist_ok=True)
    n = table.num_rows
    n_parts = max(1, min(n_parts, n))
    opts = _writer_opts(template)
    for i in range(n_parts):
        lo, hi = i * n // n_parts, (i + 1) * n // n_parts
        pq.write_table(table.slice(lo, hi - lo),
                       os.path.join(out_dir, _part_name(i)), **opts)


def _safe_bound(max_tf: pa.Array, k1: float, b: float) -> np.ndarray:
    # the dl-independent bound merge.py writes, from the same kernel
    mt = max_tf.to_numpy(zero_copy_only=False).astype(np.float64)
    return bm25(1.0, mt, 0.0, 1.0, k1, b)


# ---- delta ------------------------------------------------------------------------
def _delta_postings(
    docids: np.ndarray, texts: list[str], langs: list | None, stats: dict,
) -> tuple[pa.Table, np.ndarray]:
    """Encoded blocks (builder columns, ``bucket`` included) of the delta
    documents at their final ``docids``, and their doc lengths."""
    positions = bool(stats.get("positions", False))
    s = pd.Series(texts, dtype=object)
    if stats.get("tokenizer", "standard") == "code":
        # no lang_col: the builder's F.lit("") (no marker)
        toks = code_tokenize_series(
            s, pd.Series(langs if langs is not None else [""] * len(s), dtype=object))
    else:
        toks = standard_tokenize_series(s)
    ts = term_stats_frame(toks, positions)
    dls = ts["doc_len"].to_numpy(np.int64)
    counts = np.fromiter((len(t) for t in ts["terms"]), np.int64, len(ts))
    terms = list(chain.from_iterable(ts["terms"]))
    n_buckets = int(stats["n_buckets"])
    bucket_of = {t: term_bucket(t, n_buckets) for t in set(terms)}
    tfs = (np.concatenate(ts["tfs"].tolist()).astype(np.int64)
           if terms else np.empty(0, np.int64))
    raw = {
        "bucket": np.fromiter((bucket_of[t] for t in terms), np.int32, len(terms)),
        "term": pa.array(terms, pa.string()),
        "docid": np.repeat(docids, counts),
        "tf": tfs,
        "doc_len": np.repeat(dls, counts),
    }
    if positions:
        # a document's flat_pos holds its terms' positions in term order
        raw["positions"] = pa.ListArray.from_arrays(
            np.append(0, np.cumsum(tfs)).astype(np.int32),
            pa.array(np.concatenate(ts["flat_pos"].tolist()) if terms
                     else np.empty(0, np.int32), pa.int32()))
    raw = pa.table(raw).sort_by([("bucket", "ascending"), ("term", "ascending"),
                                 ("docid", "ascending")])
    blocks = encode_postings(
        [raw], int(stats.get("block_size", BLOCK_SIZE)), int(stats["shard_size"]),
        float(dls.sum()) / len(dls), stats["k1"], stats["b"], positions,
    )
    return pa.Table.from_batches(list(blocks), schema=BLOCK_ARROW), dls


def _sorted(t: pa.Table) -> pa.Table:
    """``t`` ordered by (term, first_docid); no copy when it already is."""
    idx = pc.sort_indices(t, sort_keys=[("term", "ascending"),
                                        ("first_docid", "ascending")])
    if np.array_equal(idx.to_numpy(), np.arange(len(t))):
        return t
    return t.take(idx)


def _merged_chunks(streams: list[Iterator[pa.Table]]) -> Iterator[pa.Table]:
    """The rows of term-sorted ``streams`` in term order, one chunk per
    step: each step takes every stream's rows up to the smallest last term
    among the streams' current batches, so at least one whole batch leaves
    per step. Each batch is sorted on arrival, so an unsorted input file
    yields a less sorted output, never lost or repeated rows."""
    def pull(it):
        for t in it:
            if t.num_rows:
                return _sorted(t)
        return None

    its = list(streams)
    cur = [pull(it) for it in its]
    while True:
        live = [i for i, t in enumerate(cur) if t is not None]
        if not live:
            return
        bound = min(cur[i]["term"][-1].as_py() for i in live)
        parts = []
        for i in live:
            t = cur[i]
            k = pc.sum(pc.less_equal(t["term"], bound)).as_py() or 0
            if k:
                parts.append(t.slice(0, k))
            cur[i] = t.slice(k) if k < t.num_rows else pull(its[i])
        yield parts[0] if len(parts) == 1 else _sorted(pa.concat_tables(parts))


def _file_batches(path: str, schema: pa.Schema, fix) -> Iterator[pa.Table]:
    with pq.ParquetFile(path) as pf:
        for rb in pf.iter_batches(READ_BATCH_ROWS, use_threads=False):
            yield fix(pa.Table.from_batches([rb]).replace_schema_metadata(None)
                      .select(schema.names).cast(schema))


# ---- the bulk ---------------------------------------------------------------------
def delete_ids(vdir: str, key_col: str, ids: Sequence[int]) -> np.ndarray:
    """Docids of ``vdir``'s docs (live or not) whose ``key_col`` is in ``ids``."""
    docs = _read_all(driver_read.data_files(os.path.join(vdir, "docs")))
    return _match(docs, key_col, ids)


def _match(docs: pa.Table, key_col: str, ids) -> np.ndarray:
    if not len(ids):
        return np.empty(0, np.int64)
    mask = pc.is_in(docs[key_col],
                    value_set=pa.array(list(ids), docs.schema.field(key_col).type))
    return docs["docid"].filter(mask).to_numpy().astype(np.int64)


def bulk_write(
    spark,
    index_root: str,
    mdir: str,
    upserts: list[dict],
    deletes: Sequence[int],
    *,
    content_col: str,
    id_col: str,
    clash_key: str,
    delete_key: str,
    lang_col: str | None,
    publish_meta: dict,
) -> str | None:
    """Write ``upserts`` merged with the published version ``mdir`` and
    ``deletes`` tombstoned as one new version of ``index_root``, publish it
    and return its dir. None when a document's values do not convert to the
    main docs' column types; the caller then takes the Spark path (nothing
    was written)."""
    t0 = time.time()
    ms = catalog.read_stats(mdir)
    shard_size = int(ms["shard_size"])
    doc_files = driver_read.data_files(os.path.join(mdir, "docs"))
    main_docs = _read_all(doc_files)
    main_docs = main_docs.take(pc.sort_indices(main_docs, sort_keys=[("docid", "ascending")]))

    ids = np.array([int(d[id_col]) for d in upserts], dtype=np.int64)
    max_docid = pc.max(main_docs["docid"]).as_py() or 0
    offset = ((max_docid + shard_size) // shard_size) * shard_size
    # dense delta docids in external-id order: the max docid grows by the
    # delta's size plus at most one shard per bulk, whatever the ids are
    docids = offset + np.argsort(np.argsort(ids))
    texts = [d[content_col] for d in upserts]
    if not all(isinstance(t, str) for t in texts):
        return None
    try:
        meta = {
            f.name: pa.array([d.get(f.name) for d in upserts], f.type)
            for f in main_docs.schema if f.name not in ("docid", "doc_len", "sha256")
        }
    except (pa.ArrowInvalid, pa.ArrowTypeError, TypeError, OverflowError):
        return None

    blocks, dls = _delta_postings(
        docids, texts,
        [d.get(lang_col) for d in upserts] if lang_col else None, ms,
    )
    n_m, n_d = int(ms["n_docs"]), len(upserts)
    merged_n = n_m + n_d
    delta_avgdl = float(dls.sum()) / n_d
    merged_avgdl = (ms["avgdl"] * n_m + delta_avgdl * n_d) / merged_n
    delta_docs = pa.table({
        "docid": pa.array(docids, pa.int64()),
        "doc_len": pa.array(dls, pa.int64()),
        "sha256": pa.array([hashlib.sha256(t.encode("utf-8")).hexdigest()
                            for t in texts], pa.string()),
        **meta,
    }).select(main_docs.schema.names).cast(main_docs.schema)

    # tombstones: main's (carried verbatim), the live copies the upserts
    # supersede, and the bulk's deletes — all in main coordinates
    carried = tombstones.tombstone_array(spark, mdir)
    carried = carried if carried is not None else np.empty(0, np.int64)
    clash = np.setdiff1d(_match(main_docs, clash_key, ids), carried)
    deleted = _match(main_docs, delete_key, deletes)

    version = catalog.next_version(index_root)
    vdir = os.path.join(index_root, version)
    os.makedirs(vdir, exist_ok=True)

    _write_split(pa.concat_tables([main_docs, delta_docs]),
                 os.path.join(vdir, "docs"), 4, doc_files[0])
    del main_docs
    _write_dict(mdir, vdir, blocks)
    _write_postings(mdir, vdir, ms, blocks, merged_avgdl, delta_avgdl)

    tombstones.append_to_vdir(
        spark, vdir, np.unique(np.concatenate([carried, clash, deleted]))
    )
    catalog.write_stats(vdir, {**ms, "n_docs": merged_n, "avgdl": merged_avgdl,
                               "merged_from": [mdir, None]})
    catalog.ckpt_write(vdir, "merge", {
        "stage": "merge", "path": "driver", "main": mdir, "delta": None,
        "docid_offset": offset, "n_docs": merged_n,
        "carried_tombstones": int(carried.size),
        "upserted_docs": int(clash.size), "deleted_docs": int(deleted.size),
        "elapsed_sec": round(time.time() - t0, 3),
    })
    catalog.ckpt_write(vdir, "_PUBLISHED", {
        "version": version, "n_docs": merged_n, "src_count": merged_n,
        "postings_emitted": None, **publish_meta,
    })
    catalog.publish(index_root, version)
    return vdir


def _write_dict(mdir: str, vdir: str, blocks: pa.Table) -> None:
    """The additive dictionary merge: df and cf sum per term; a term's
    bucket is hash-derived, so both sides agree on it."""
    files = driver_read.data_files(os.path.join(mdir, "dict"))
    main = _read_all(files)
    g = blocks.group_by("term", use_threads=False).aggregate(
        [("n", "sum"), ("cf", "sum"), ("bucket", "first")])
    terms = g["term"].combine_chunks()
    g_df, g_cf = g["n_sum"].to_numpy(), g["cf_sum"].to_numpy()
    pos = pc.index_in(terms, value_set=main["term"].combine_chunks()).to_numpy(zero_copy_only=False)
    hit = ~np.isnan(pos)
    df = main["df"].to_numpy().copy()
    cf = main["cf"].to_numpy().copy()
    at = pos[hit].astype(np.int64)
    df[at] += g_df[hit]
    cf[at] += g_cf[hit]
    new = ~hit
    merged = pa.table({
        "term": pa.concat_arrays([main["term"].combine_chunks(), terms.filter(pa.array(new))]),
        "df": np.concatenate([df, g_df[new]]),
        "cf": np.concatenate([cf, g_cf[new]]),
        "bucket": np.concatenate([main["bucket"].to_numpy(),
                                  g["bucket_first"].to_numpy()[new]]),
    }).select(main.schema.names).cast(main.schema)
    merged = merged.take(pc.sort_indices(merged, sort_keys=[("term", "ascending")]))
    _write_split(merged, os.path.join(vdir, "dict"), 4, files[0])


def _write_postings(
    mdir: str, vdir: str, ms: dict, blocks: pa.Table,
    merged_avgdl: float, delta_avgdl: float,
) -> None:
    """One term-sorted file per bucket under ``postings/batch=0``: the main
    version's blocks streamed file by file (``max_score_free`` swapped for
    the safe bound when the merged avgdl grew past main's) merged with the
    delta's blocks (already at their final docids)."""
    k1, b = ms["k1"], ms["b"]
    files = driver_read.data_files(os.path.join(mdir, "postings"))
    by_bucket: dict[int, list[str]] = {}
    for f in files:
        by_bucket.setdefault(_bucket_of(f), []).append(f)
    schema = pq.read_schema(files[0]).remove_metadata()
    opts = _writer_opts(files[0])

    def swap(t: pa.Table) -> pa.Table:
        i = t.schema.get_field_index("max_score_free")
        return t.set_column(i, t.schema.field(i),
                            pa.array(_safe_bound(t["max_tf"], k1, b), pa.float64()))

    main_fix = swap if merged_avgdl > ms["avgdl"] else (lambda t: t)
    if merged_avgdl > delta_avgdl:
        blocks = swap(blocks)
    delta_by_bucket = {
        bk: blocks.filter(pc.equal(blocks["bucket"], bk)).select(schema.names).cast(schema)
        for bk in pc.unique(blocks["bucket"]).to_pylist()
    }
    for bk in sorted(set(by_bucket) | set(delta_by_bucket)):
        streams = [_file_batches(f, schema, main_fix) for f in by_bucket.get(bk, ())]
        if bk in delta_by_bucket:
            streams.append(iter([delta_by_bucket[bk]]))
        out_dir = os.path.join(vdir, "postings", "batch=0", f"bucket={bk}")
        os.makedirs(out_dir, exist_ok=True)
        with pq.ParquetWriter(os.path.join(out_dir, _part_name(0)), schema,
                              **opts) as w:
            buf: list[pa.Table] = []
            rows = 0
            for chunk in _merged_chunks(streams):
                buf.append(chunk)
                rows += chunk.num_rows
                if rows >= ROW_GROUP_ROWS:
                    w.write_table(pa.concat_tables(buf), row_group_size=rows)
                    buf, rows = [], 0
            if buf:
                w.write_table(pa.concat_tables(buf), row_group_size=rows)
