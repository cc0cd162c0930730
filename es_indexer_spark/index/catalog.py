"""Index catalog: versioned output dirs, atomic CURRENT pointer, checkpoint manifests.

Behavioral analog of the reference's blue/green index + alias switching
(reference: indexer/.../ElasticSearchIndexService.java:37-39 suffixes, :108-138 pick
inactive, :150-165 atomic alias repoint) and its resumable `-running` build marker
(indexer/.../IndexerMetadataServiceImpl.java:478-523 resume, :639-655 count gate,
:664-682 finalize).

Layout under ``<root>/``::

    CURRENT                      # text file: name of the published version dir
    v<N>/
        docs/                    # parquet: docid, doc_len, sha256, meta cols
        postings/batch=K/        # parquet: encoded posting blocks (one dir per ckpt batch)
        dict/                    # parquet: term, df, cf, bucket
        stats.json               # N, avgdl, tokenizer, k1, b, shard_size, ...
        _ckpt/<stage>.json       # per-stage/per-partition-batch lineage + metrics
        _PUBLISHED.json          # written by finalize (reconciliation evidence)

Publish is a single atomic rename of a temp file onto CURRENT — readers either see the
old version or the new one, never a partial build (the alias-swap analog).
"""

from __future__ import annotations

import json
import os
import re
import tempfile


def version_dirs(root: str) -> list[str]:
    if not os.path.isdir(root):
        return []
    return sorted(
        d for d in os.listdir(root) if re.fullmatch(r"v\d+", d)
    )


def next_version(root: str) -> str:
    vs = version_dirs(root)
    n = max((int(v[1:]) for v in vs), default=0) + 1
    return f"v{n}"


def current_version(root: str) -> str | None:
    p = os.path.join(root, "CURRENT")
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return f.read().strip() or None


def publish(root: str, version: str) -> None:
    """Atomically repoint CURRENT at ``version`` (alias-swap analog)."""
    fd, tmp = tempfile.mkstemp(dir=root, prefix=".CURRENT.")
    with os.fdopen(fd, "w") as f:
        f.write(version)
    os.replace(tmp, os.path.join(root, "CURRENT"))


def resolve(root: str) -> str:
    v = current_version(root)
    if v is None:
        raise FileNotFoundError(f"no published index under {root} (missing CURRENT)")
    return os.path.join(root, v)


def ckpt_path(vdir: str, stage: str) -> str:
    return os.path.join(vdir, "_ckpt", f"{stage}.json")


def ckpt_done(vdir: str, stage: str) -> bool:
    return os.path.exists(ckpt_path(vdir, stage))


def ckpt_read(vdir: str, stage: str) -> dict:
    with open(ckpt_path(vdir, stage)) as f:
        return json.load(f)


def ckpt_write(vdir: str, stage: str, payload: dict) -> None:
    """Write a checkpoint manifest atomically (lineage + metrics per stage/batch)."""
    d = os.path.join(vdir, "_ckpt")
    os.makedirs(d, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=d, prefix=f".{stage}.")
    with os.fdopen(fd, "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True)
    os.replace(tmp, ckpt_path(vdir, stage))


def index_exists(root: str) -> bool:
    """ES ``indices.exists`` analog: a published version is reachable."""
    return current_version(root) is not None


def delete_index(root: str) -> None:
    """ES delete-index analog (ElasticSearchIndexService.java:41-52): remove
    every version and the CURRENT pointer; new resolves fail. In-flight
    Spark queries that already planned against the old files may fail on
    re-read (path-based lazy reads — not the POSIX-fd guarantee). A rebuild
    at the same root reuses version names (v1, ...), which is safe for the
    index reader's per-version state because it keys on the dict directory's
    mtime as well as its path (index/reader.py)."""
    import shutil

    if os.path.isdir(root):
        shutil.rmtree(root)


def cat_indices(root: str) -> list[dict]:
    """``_cat/indices`` analog: one row per version dir with its publish
    state, doc count, avgdl, tombstone count, and on-disk bytes — the
    monitoring surface an operator reads before compaction/cleanup."""
    cur = current_version(root)
    out = []
    for v in version_dirs(root):
        vdir = os.path.join(root, v)
        row = {"version": v, "published": v == cur}
        try:
            st = read_stats(vdir)
            row["n_docs"] = st.get("n_docs")
            row["avgdl"] = st.get("avgdl")
        except FileNotFoundError:
            row["n_docs"] = None
            row["avgdl"] = None
        tomb = os.path.join(vdir, "_tombstones")
        row["n_tombstone_files"] = (
            len([f for f in os.listdir(tomb) if f.endswith(".parquet")])
            if os.path.isdir(tomb)
            else 0
        )
        size = 0
        for dirpath, _dirs, files in os.walk(vdir):
            for f in files:
                try:
                    size += os.path.getsize(os.path.join(dirpath, f))
                except OSError:
                    pass
        row["bytes"] = size
        out.append(row)
    return out


def get_settings(root: str) -> dict:
    """``GET <index>/_settings`` analog: the published version's layout and
    similarity constants from the stats manifest, keyed the way ES nests
    them — operational surface, zero data jobs."""
    vdir = resolve(root)
    st = read_stats(vdir)
    return {
        "index": {
            "version": os.path.basename(vdir),
            "similarity": {
                "default": {"type": "BM25", "k1": st["k1"], "b": st["b"]}
            },
            "number_of_buckets": st.get("n_buckets"),
            "shard_size": st.get("shard_size"),
            "block_size": st.get("block_size"),
            "store_positions": bool(st.get("positions")),
            "analysis": {"tokenizer": st.get("tokenizer")},
        }
    }


_ES_TYPES = {
    "string": "keyword",
    "long": "long",
    "bigint": "long",
    "int": "integer",
    "integer": "integer",
    "smallint": "short",
    "tinyint": "byte",
    "double": "double",
    "float": "float",
    "boolean": "boolean",
    "timestamp": "date",
    "date": "date",
    "binary": "binary",
}


def get_mapping(root: str, spark=None) -> dict:
    """``GET <index>/_mapping`` analog: the analyzed text field plus every
    stored meta column with its ES type, inferred from the docs-store
    parquet schema (schema read only — no data job). The analyzed field is
    reported as ``content`` (``type: text``) since the index stores postings
    for exactly one text field; stored columns are keyword/long/... like the
    engine's filter semantics treat them."""
    from pyspark.sql import SparkSession

    vdir = resolve(root)
    st = read_stats(vdir)
    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        raise ValueError("get_mapping needs a SparkSession (pass spark=)")
    props: dict = {
        "content": {
            "type": "text",
            "analyzer": st.get("tokenizer", "standard"),
            "similarity": "default",
        }
    }
    docs = spark.read.parquet(os.path.join(vdir, "docs"))
    for name, dtype in docs.dtypes:
        if name in ("doc_len", "sha256"):
            continue
        props[name] = {"type": _ES_TYPES.get(dtype, "keyword")}
    props["doc_len"] = {"type": "long"}
    props["sha256"] = {"type": "keyword"}
    return {"mappings": {"properties": props}}


def read_stats(vdir: str) -> dict:
    with open(os.path.join(vdir, "stats.json")) as f:
        return json.load(f)


def write_stats(vdir: str, stats: dict) -> None:
    os.makedirs(vdir, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=vdir, prefix=".stats.")
    with os.fdopen(fd, "w") as f:
        json.dump(stats, f, indent=1, sort_keys=True)
    os.replace(tmp, os.path.join(vdir, "stats.json"))
