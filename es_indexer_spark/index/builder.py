"""Inverted-index build: the Spark-native replacement for the reference's
scan -> transform -> tokenize -> bulk-load-into-Elasticsearch pipeline
(reference lifecycle: indexer/.../IndexerMetadataServiceImpl.java:476-662; the
index/postings/BM25 internals are delegated to Lucene there and rebuilt natively
here — SURVEY.md §0, §7).

Dataflow (one build, default single-pass mode)::

    src ──term-stats UDF (tokenize + per-doc tf/positions, map-side — no token
          shuffle ever happens)──► docs table (docid, doc_len, sha256, meta)
        └─explode──► (term, docid, tf, doc_len)          [already aggregated]
              └─ bucket = xxhash64(term) % n_buckets; salt = hash(term) % 4,
                 widened to nsalt ∝ df for sampled hot terms
                 [north_rule's salted repartition-by-term: (bucket, salt)
                  partitioning splits hot buckets so no straggler sort]
    postings = per bucket-batch: filter batch buckets BEFORE the shuffle →
               repartition(bucket, salt) → sortWithinPartitions(bucket, term,
               docid) → mapInArrow block encoder (codec.encode_postings:
               whole-batch numpy, no per-term loop) → write
               postings/batch=K/bucket=B/ parquet            [ckpt per batch]
               (the raw relation — the largest dataset of the build — never
               touches disk; ``materialize_raw=True`` restores the two-stage
               layout with an inspectable raw parquet artifact [ckpt "raw"])
    dict  = postings groupBy term over block metadata (Σn -> df, Σcf -> cf)
            — never re-reads raw postings                       [ckpt stage "dict"]
    finalize = count reconciliation gate -> atomic CURRENT publish

Scale notes (designed for 1000 executors / 100 TB, tested on local[32]):

- The encoder cuts and encodes each Arrow batch whole (one varint pass per column,
  ``reduceat`` aggregates) and never materializes a whole term's postings. State
  carried across Arrow batches is at most one partial block (< block_size rows), so a
  stop-word term with ~N postings costs O(block_size) memory, not O(N).
- Blocks are cut at shard boundaries (shard = docid // shard_size), so every block is
  shard-local and the query engine can score shards independently with one narrow
  shuffle (document-sharded index, the same scaling design as ES shards).
- Checkpointing is per bucket-batch with lineage + metrics (docs indexed, postings
  emitted, bytes compressed — north_rule), mirroring the reference's `-running` alias
  + `beginWithUuid` resume (IndexerMetadataServiceImpl.java:478-523) and its >=90%
  count-reconciliation publish gate (:639-655).
"""

from __future__ import annotations

import os
import time
from typing import Iterable, Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from es_indexer_spark.analysis.tokenizer import get_term_stats_udf
from es_indexer_spark.index import catalog
from es_indexer_spark.index.codec import BLOCK_SCHEMA, BLOCK_SIZE, encode_postings

TERM_SALT = 4  # sub-slices per bucket in the raw layout (defuses hot buckets)


def _null_first_key(t: tuple):
    """Python sort key for boundary tuples with None ordered FIRST — the
    same order the nulls-first comparisons in :func:`_range_pid_expr` use."""
    return tuple((0,) if v is None else (1, v) for v in t)


def _range_pid_expr(
    order_cols: Sequence[str], boundaries: list[tuple]
):
    """Deterministic range-bucket id as a pure COLUMN EXPRESSION:
    ``pid = #{boundaries strictly below the row's key}`` under
    lexicographic (nulls-first) tuple order. Unlike ``repartitionByRange``
    — whose row→partition map depends on per-execution boundary sampling —
    this is a pure function of row values, so every job that evaluates it
    agrees."""

    def gt(col: str, b):
        # row value > boundary value, nulls-first order
        if b is None:
            return F.col(col).isNotNull()
        return F.col(col) > F.lit(b)

    def eq(col: str, b):
        if b is None:
            return F.col(col).isNull()
        return F.col(col) == F.lit(b)

    def key_gt(bvals: tuple):
        # lexicographic (c0, c1, ...) > (b0, b1, ...)
        expr = F.lit(False)
        for i in range(len(order_cols) - 1, -1, -1):
            expr = gt(order_cols[i], bvals[i]) | (eq(order_cols[i], bvals[i]) & expr)
        return expr

    pid = F.lit(0)
    for b in boundaries:
        pid = pid + F.when(key_gt(b), 1).otherwise(0)
    return pid.cast("int")


def assign_docids(df: DataFrame, order_cols: Sequence[str], num_partitions: int | None = None) -> DataFrame:
    """Deterministic dense global docid = row_number over ORDER BY
    ``order_cols``, without a single-partition window (SURVEY.md §2.5):
    range-bucket on the order key, sort within buckets, add per-bucket
    cumulative offsets.

    Round-4 redesign — why not ``repartitionByRange`` + physical partition
    ids: the offsets pass and the stamping pass are separate Spark jobs, and
    repartitionByRange's row→partition map is NOT a pure data function
    (boundaries are re-SAMPLED per execution; AQE re-coalesces), so the two
    jobs could disagree — observed as ~2.7% duplicate docids at 200k rows.
    Pinning with an eager localCheckpoint fixed correctness but materialized
    the whole corpus in executor storage (measured 2–3× slower at the
    1M-file leg). Here the range boundaries are computed ONCE on the driver
    from a deterministic hash-sample of the keys (no RNG, no physical-plan
    dependence) and the bucket id is a pure column expression
    (:func:`_range_pid_expr`) — both jobs agree by construction, docids stay
    GLOBALLY key-ordered (posting locality: related files share terms, and
    key-adjacent docids give small delta-gaps and few shard crossings), and
    nothing is checkpointed.

    Determinism: docids are a pure function of the input rows — stable
    across runs/resumes AND across independent calls (the test-oracle
    contract; SURVEY.md §7.3 hard part (c))."""
    spark = df.sparkSession
    parts = num_partitions or spark.sparkContext.defaultParallelism
    key_cols = [F.col(c) for c in order_cols]
    n = df.count()
    if n == 0:
        out_schema = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
        ) + ", docid long"
        return df.withColumn("docid", F.lit(None).cast("long"))
    # deterministic key sample (~64 keys per target bucket): rows whose key
    # hash lands in a fixed residue class — no RNG, column-pruned scan
    target = parts * 64
    mod = max(1, n // max(1, target))
    sample = (
        df.select(*key_cols)
        .filter(F.pmod(F.xxhash64(*key_cols), F.lit(int(mod))) == 0)
        .collect()
    )
    keys = sorted({tuple(r) for r in sample}, key=_null_first_key)
    if len(keys) >= 2 and parts > 1:
        step = max(1, len(keys) // parts)
        boundaries = keys[step - 1 :: step][: parts - 1]
    else:
        boundaries = []  # tiny input: one bucket
    tagged = df.withColumn("__pid", _range_pid_expr(order_cols, boundaries))
    counts = {
        r["__pid"]: r["cnt"]
        for r in tagged.groupBy("__pid").agg(F.count("*").alias("cnt")).collect()
    }
    offsets = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]

    # PLACEMENT ONLY (correctness never depends on it — offsets key on the
    # __pid COLUMN): range-place the bucket ids so each task gets ~one bucket.
    # Hash placement collides ~parts distinct ids into parts partitions
    # (balls-in-bins max ~3 buckets on one task = a 2-3x stamping straggler,
    # measured at local[8]/480k).
    ordered = tagged.repartitionByRange(parts, "__pid").sortWithinPartitions(
        "__pid", *order_cols
    )
    out_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in ordered.schema.fields if f.name != "__pid"
    ) + ", docid long"

    def add_ids(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # a bucket lives wholly inside one task partition (range shuffle on
        # __pid — repartitionByRange; AQE coalescing merges whole shuffle
        # partitions, never splits one), arrives key-sorted, and may span
        # Arrow batches — per-bucket running counters carry the local rank
        # across batches
        local: dict[int, int] = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pids = pdf["__pid"].to_numpy()
            docids = np.empty(len(pdf), dtype=np.int64)
            change = np.nonzero(np.diff(pids))[0] + 1
            starts = np.concatenate(([0], change))
            ends = np.concatenate((change, [len(pdf)]))
            for s, e in zip(starts, ends):
                p = int(pids[s])
                base = offsets[p] + local.get(p, 0)
                docids[s:e] = np.arange(base, base + (e - s), dtype=np.int64)
                local[p] = local.get(p, 0) + (e - s)
            pdf = pdf.drop(columns="__pid")
            pdf["docid"] = docids
            yield pdf

    return ordered.mapInPandas(add_ids, schema=out_schema)


def build_index(
    spark: SparkSession,
    src: DataFrame,
    out_root: str,
    *,
    content_col: str = "content",
    id_col: str | None = None,
    order_cols: Sequence[str] = ("repo", "path", "commit"),
    meta_cols: Sequence[str] = (),
    tokenizer: str = "standard",
    lang_col: str | None = None,
    k1: float = 1.2,
    b: float = 0.75,
    n_buckets: int = 32,
    shard_size: int = 1 << 16,
    block_size: int = BLOCK_SIZE,
    n_ckpt_batches: int = 4,
    resume: bool = True,
    publish_gate: float = 1.0,
    fail_after_batch: int | None = None,
    store_positions: bool = False,
    hot_term_salting: bool = True,
    hot_sample_mod: int = 256,
    postings_per_slice: int = 1 << 20,
    max_term_salt: int = 64,
    publish_meta: dict | None = None,
    materialize_raw: bool = False,
) -> str:
    """Build (or resume) an index version under ``out_root`` and publish it.

    Returns the version dir path. ``fail_after_batch`` injects a crash after that
    posting batch commits — used by the resume test (the analog of the reference's
    kill-mid-index integration test, IndexerServiceIT.java:282-310).

    ``hot_term_salting`` (north_rule: salt count ∝ df): terms whose estimated df
    (from a 1/``hot_sample_mod`` doc sample) exceeds ``postings_per_slice`` get
    their postings docid-hash-split across ``min(df/postings_per_slice,
    max_term_salt)`` raw slices, so a stop-word term present in ~every doc never
    becomes a single straggler encode task. Slices are individually docid-sorted
    files; the encoder stitches/fragments them safely (seam splitting).
    """
    # Session confs this build tunes — saved and restored on exit so the build
    # doesn't permanently mutate shared-session behavior (ADVICE r1).
    _TUNED = ("spark.sql.maxConcurrentOutputFileWriters", "spark.sql.files.maxPartitionBytes")
    saved_conf = {k: spark.conf.get(k, None) for k in _TUNED}
    try:
        return _build_index_inner(
            spark, src, out_root,
            content_col=content_col, id_col=id_col, order_cols=order_cols,
            meta_cols=meta_cols, tokenizer=tokenizer, lang_col=lang_col,
            k1=k1, b=b, n_buckets=n_buckets, shard_size=shard_size,
            block_size=block_size, n_ckpt_batches=n_ckpt_batches, resume=resume,
            publish_gate=publish_gate, fail_after_batch=fail_after_batch,
            store_positions=store_positions, hot_term_salting=hot_term_salting,
            hot_sample_mod=hot_sample_mod, postings_per_slice=postings_per_slice,
            max_term_salt=max_term_salt, publish_meta=publish_meta,
            materialize_raw=materialize_raw,
        )
    finally:
        for k, v in saved_conf.items():
            if v is None:
                try:
                    spark.conf.unset(k)
                except Exception:
                    pass
            else:
                spark.conf.set(k, v)


def _build_index_inner(
    spark: SparkSession,
    src: DataFrame,
    out_root: str,
    *,
    content_col: str,
    id_col: str | None,
    order_cols: Sequence[str],
    meta_cols: Sequence[str],
    tokenizer: str,
    lang_col: str | None,
    k1: float,
    b: float,
    n_buckets: int,
    shard_size: int,
    block_size: int,
    n_ckpt_batches: int,
    resume: bool,
    publish_gate: float,
    fail_after_batch: int | None,
    store_positions: bool,
    hot_term_salting: bool,
    hot_sample_mod: int,
    postings_per_slice: int,
    max_term_salt: int,
    publish_meta: dict | None = None,
    materialize_raw: bool = False,
) -> str:
    # Dynamic-partition writes (partitionBy bucket) otherwise take Spark's
    # single-writer fallback: a per-task sort by partition value whose external
    # sort collapses under high task concurrency (measured 45s vs 9.5s for the
    # same write at local[16]). Concurrent writers are bounded anyway by the
    # repartition-on-bucket before every partitioned write (1-3 buckets/task).
    spark.conf.set("spark.sql.maxConcurrentOutputFileWriters", "70")
    os.makedirs(out_root, exist_ok=True)
    version = None
    if resume:
        # reuse the newest unpublished version dir (the `-running` index analog)
        published = catalog.current_version(out_root)
        for v in reversed(catalog.version_dirs(out_root)):
            if v != published:
                version = v
                break
    if version is None:
        version = catalog.next_version(out_root)
    vdir = os.path.join(out_root, version)
    os.makedirs(vdir, exist_ok=True)

    # Term stats (tf + positions) are computed INSIDE the tokenizer UDF, per doc,
    # map-side: the posting-list (term, docid, tf) relation then needs NO
    # groupBy/shuffle at all — at 100 TB that removes a full-corpus shuffle of
    # every token occurrence (the single biggest data movement of the build).
    ts_udf = get_term_stats_udf(tokenizer, store_positions)
    if tokenizer == "code":
        lang = F.col(lang_col) if lang_col else F.lit("")
        tstats = ts_udf(F.col(content_col), lang)
    else:
        tstats = ts_udf(F.col(content_col))
    # the column the code chain's ``lang:<lang>`` marker came from, so that
    # writes into this index (``_bulk``) tag their documents the same way
    lang_stat = {"lang_col": lang_col} if tokenizer == "code" and lang_col else {}

    # docids first (cheap columns only through the range shuffle), tokenize after;
    # persist so docs + raw stages tokenize once.
    if id_col is not None:
        with_ids = src.withColumn("docid", F.col(id_col).cast("long"))
    else:
        with_ids = assign_docids(src, list(order_cols))
    # project content away BEFORE the persist: the cache holds term stats +
    # sha256 + metadata, never the corpus text itself (the dominant column)
    base = with_ids.select(
        "docid",
        F.sha2(F.col(content_col), 256).alias("sha256"),
        tstats.alias("tstats"),
        *[c for c in meta_cols if c != "docid"],
    ).withColumn("doc_len", F.col("tstats.doc_len").cast("long")).persist()

    # ---- stage: docs (docid, doc_len, sha256 invariant, metadata) ----------------
    docs_path = os.path.join(vdir, "docs")
    if not (resume and catalog.ckpt_done(vdir, "docs")):
        t0 = time.time()
        docs = base.select(
            "docid",
            "doc_len",
            "sha256",
            *[c for c in meta_cols if c != "docid"],
        )
        n_docs_parts = max(
            n_ckpt_batches, spark.sparkContext.defaultParallelism
        )
        # Observation collects n/sum(doc_len) DURING the write job — no re-read
        # pass; repartitionByRange keeps docid row-group pruning for point reads.
        # The observe sits ABOVE the range exchange: below it, the partitioner's
        # sampling pass would execute the node a second time and double-count.
        obs = Observation("docs_metrics")
        (
            docs.repartitionByRange(n_docs_parts, "docid")
            .sortWithinPartitions("docid")
            .observe(
                obs, F.count(F.lit(1)).alias("n"), F.sum("doc_len").alias("sum_dl")
            )
            .write.mode("overwrite")
            .parquet(docs_path)
        )
        agg = obs.get
        catalog.ckpt_write(
            vdir,
            "docs",
            {
                "stage": "docs",
                "n_docs": agg["n"],
                "sum_doc_len": int(agg["sum_dl"] or 0),
                "elapsed_sec": round(time.time() - t0, 3),
            },
        )
    docs_meta = catalog.ckpt_read(vdir, "docs")
    n_docs = docs_meta["n_docs"]
    avgdl = (docs_meta["sum_doc_len"] / n_docs) if n_docs else 1.0

    if n_docs == 0:
        # Empty corpus -> a valid EMPTY index (ES creates empty indices; a
        # reindex whose query matches nothing publishes one). The normal
        # postings write is partitionBy("bucket"), which emits NO files for
        # zero rows (partition dirs derive from data) and leaves an
        # unreadable dir — so the empty case writes unpartitioned
        # empty-but-typed parquet for postings + dict and publishes the
        # usual manifests. Every read path then behaves: dictionary lookups
        # find nothing, point reads return empty, stats are n_docs=0.
        spark.createDataFrame([], BLOCK_SCHEMA).write.mode(
            "overwrite"
        ).parquet(os.path.join(vdir, "postings"))
        spark.createDataFrame(
            [], "term string, df long, cf long, bucket int"
        ).write.mode("overwrite").parquet(os.path.join(vdir, "dict"))
        catalog.ckpt_write(
            vdir, "dict", {"stage": "dict", "n_terms": 0, "elapsed_sec": 0.0}
        )
        catalog.write_stats(
            vdir,
            {
                "n_docs": 0, "avgdl": avgdl, "k1": k1, "b": b,
                "tokenizer": tokenizer, "n_buckets": n_buckets,
                "shard_size": shard_size, "block_size": block_size,
                "positions": store_positions, **lang_stat,
            },
        )
        catalog.ckpt_write(
            vdir,
            "_PUBLISHED",
            {
                "version": version, "n_docs": 0, "src_count": 0,
                "postings_emitted": 0, **(publish_meta or {}),
            },
        )
        catalog.publish(out_root, version)
        base.unpersist()
        return vdir

    # ---- raw posting relation (term, docid, tf, doc_len) bucketed by term hash ---
    def make_raw() -> DataFrame:
        if store_positions:
            # positions = in-document token offsets (Lucene .prx analog), carried
            # as flat_pos + per-term starts from the UDF; slice reassembles each
            # posting's ascending position list JVM-side. (Measured, round 3:
            # slicing inside a transform BEFORE the explode — to avoid carrying
            # flat_pos into every term row — is ~20% SLOWER here: the
            # correlated outer-column lambda costs more than the explode's
            # array duplication at real doc sizes. Keep the explode-then-slice
            # shape.)
            ex = base.select(
                "docid",
                "doc_len",
                F.col("tstats.flat_pos").alias("_p"),
                F.explode(
                    F.arrays_zip(
                        F.col("tstats.terms").alias("term"),
                        F.col("tstats.tfs").alias("tf"),
                        F.col("tstats.starts").alias("start"),
                    )
                ).alias("e"),
            )
            raw = ex.select(
                "docid",
                "doc_len",
                F.col("e.term").alias("term"),
                F.col("e.tf").cast("long").alias("tf"),
                F.slice("_p", F.col("e.start") + 1, F.col("e.tf")).alias("positions"),
            )
        else:
            ex = base.select(
                "docid",
                "doc_len",
                F.explode(
                    F.arrays_zip(
                        F.col("tstats.terms").alias("term"),
                        F.col("tstats.tfs").alias("tf"),
                    )
                ).alias("e"),
            )
            raw = ex.select(
                "docid",
                "doc_len",
                F.col("e.term").alias("term"),
                F.col("e.tf").cast("long").alias("tf"),
            )
        return raw.withColumn(
            "bucket", F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int")
        )

    # The salted repartition-by-term (north_rule): partition on (bucket, salt)
    # with salt = hash(term) % TERM_SALT. Each hot bucket splits into TERM_SALT
    # slices — no straggler sorts — while a term still lands wholly in one
    # partition, pre-sorted by (bucket,term,docid), so the encoder streams
    # straight off the shuffle with no further movement.
    #
    # df-PROPORTIONAL INTRA-TERM SALTING (north_rule "salt ∝ df"): ultra-
    # high-df terms (stop words — df ~ N) would still make one partition a
    # straggler under term-keyed salting alone. Estimate df from a cheap
    # 1/hot_sample_mod doc-hash sample (collects only the handful of terms
    # above threshold), then split those terms' postings BY DOCID HASH over
    # nsalt ∝ df slices. Each slice stays internally (bucket,term,docid)-
    # sorted; a term's block sequences simply concatenate (the seam-splitting
    # encoder guarantees correctness when one scan partition carries several
    # slices).
    hot_salts: dict[str, int] = {}
    if hot_term_salting:
        min_sample_count = max(1, (2 * postings_per_slice) // hot_sample_mod)
        sampled = (
            base.filter(F.pmod(F.xxhash64("docid"), F.lit(hot_sample_mod)) == 0)
            .select(F.explode("tstats.terms").alias("term"))
            .groupBy("term")
            .agg(F.count("*").alias("c"))
            .filter(F.col("c") >= min_sample_count)
            .collect()
        )
        for r in sampled:
            nsalt = min(max_term_salt, (r["c"] * hot_sample_mod) // postings_per_slice)
            if nsalt >= 2:
                hot_salts[r["term"]] = int(nsalt)

    def with_salt(raw: DataFrame) -> DataFrame:
        if hot_salts:
            nsalt_map = F.create_map(
                *[F.lit(x) for t, ns in hot_salts.items() for x in (t, ns)]
            )
            nsalt = nsalt_map[F.col("term")]
            return raw.withColumn(
                "_salt",
                F.when(
                    nsalt.isNotNull(),
                    F.lit(TERM_SALT) + F.pmod(F.xxhash64("docid"), nsalt),
                ).otherwise(F.pmod(F.xxhash64("term", F.lit(1)), F.lit(TERM_SALT))),
            )
        return raw.withColumn(
            "_salt", F.pmod(F.xxhash64("term", F.lit(1)), F.lit(TERM_SALT))
        )

    n_raw_parts = n_buckets * TERM_SALT + sum(hot_salts.values())
    if not materialize_raw:
        # lineage for the single-pass mode (the raw ckpt below carries it in
        # artifact mode): which terms were df-salted and how wide
        catalog.ckpt_write(
            vdir,
            "plan",
            {
                "stage": "plan",
                "n_raw_parts": n_raw_parts,
                "hot_term_salts": dict(
                    sorted(hot_salts.items(), key=lambda kv: -kv[1])[:50]
                ),
            },
        )

    # ---- optional stage: materialized raw postings (debug / artifact mode) -------
    # The default build pipes the salted shuffle STRAIGHT into the encoder (one
    # shuffle, one sort, zero intermediate IO — the raw relation is the largest
    # dataset in the build, and writing+rereading it roughly doubled build IO).
    # materialize_raw=True keeps the old two-stage layout: raw parquet on disk
    # (inspectable, unit-of-resume below the batch level) then a scan-driven
    # encode. Both modes checkpoint per posting batch.
    raw_path = os.path.join(vdir, "raw")
    if materialize_raw and not (resume and catalog.ckpt_done(vdir, "raw")):
        t0 = time.time()
        (
            with_salt(make_raw())
            .repartition(n_raw_parts, "bucket", "_salt")
            .drop("_salt")
            .sortWithinPartitions("bucket", "term", "docid")
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(raw_path)
        )
        catalog.ckpt_write(
            vdir,
            "raw",
            {
                "stage": "raw",
                "elapsed_sec": round(time.time() - t0, 3),
                # lineage: which terms were df-salted and how wide (top 50)
                "hot_term_salts": dict(
                    sorted(hot_salts.items(), key=lambda kv: -kv[1])[:50]
                ),
            },
        )

    catalog.write_stats(
        vdir,
        {
            "n_docs": n_docs,
            "avgdl": avgdl,
            "k1": k1,
            "b": b,
            "tokenizer": tokenizer,
            "n_buckets": n_buckets,
            "shard_size": shard_size,
            "block_size": block_size,
            "positions": store_positions,
            **lang_stat,
        },
    )

    # ---- stage: encoded postings, per bucket-batch checkpoints -------------------
    if materialize_raw:
        # Encode parallelism = raw-scan splits. Size splits so every core gets
        # work even when the compressed raw table is small (default 128MB splits
        # would give a handful of tasks); a file split mid-term only fragments
        # that term's block sequence, which scoring handles.
        try:
            raw_bytes = sum(
                os.path.getsize(os.path.join(dp, f))
                for dp, _, fs in os.walk(raw_path)
                for f in fs
            )
            per_batch = max(1, raw_bytes // n_ckpt_batches)
            split = max(
                2 << 20,
                per_batch // (spark.sparkContext.defaultParallelism * 2),
            )
            spark.conf.set("spark.sql.files.maxPartitionBytes", str(split))
        except OSError:
            pass  # non-local fs: keep the session default
    postings_path = os.path.join(vdir, "postings")

    def encoder(batches):
        return encode_postings(batches, block_size, shard_size, avgdl, k1, b,
                               store_positions)

    batch_parts = max(
        spark.sparkContext.defaultParallelism * 2,
        n_raw_parts // max(1, n_ckpt_batches),
    )
    for batch in range(n_ckpt_batches):
        stage = f"postings_batch_{batch}"
        if resume and catalog.ckpt_done(vdir, stage):
            continue
        t0 = time.time()
        batch_buckets = [bk for bk in range(n_buckets) if bk % n_ckpt_batches == batch]
        if not batch_buckets:
            catalog.ckpt_write(
                vdir, stage,
                {"stage": stage, "buckets": [], "blocks": 0, "postings_emitted": 0,
                 "bytes_compressed": 0, "terms": 0, "elapsed_sec": 0.0},
            )
            continue
        if materialize_raw:
            # raw is bucket-dir-partitioned and (bucket,term,docid)-sorted, so
            # the encoder streams straight off the scan: no shuffle, no sort.
            # A term split across scan partitions (file-split edge) merely
            # fragments its block sequence — scoring unions blocks.
            part = spark.read.parquet(raw_path).filter(
                F.col("bucket").isin(batch_buckets)
            )
        else:
            # single-pass: filter this batch's buckets BEFORE the shuffle (the
            # batch shuffles only its own share of postings), salted
            # repartition, in-partition sort, encode — the raw relation never
            # touches disk. Crash recovery re-runs only the unfinished batch's
            # shuffle (its ckpt is the unit of resume, same as before). Note
            # the explode over the cached term stats re-runs once per batch:
            # n_ckpt_batches trades resume granularity for that recompute
            # (total shuffle/sort/encode volume is batch-partitioned either
            # way).
            part = (
                with_salt(make_raw().filter(F.col("bucket").isin(batch_buckets)))
                .repartition(batch_parts, "bucket", "_salt")
                .drop("_salt")
                .sortWithinPartitions("bucket", "term", "docid")
            )
        enc = part.mapInArrow(encoder, schema=BLOCK_SCHEMA)
        # metrics observed during the write (lineage evidence per bucket-batch)
        enc_obs = Observation(f"postings_{batch}")
        enc = enc.observe(
            enc_obs,
            F.count(F.lit(1)).alias("blocks"),
            F.sum("n").alias("postings"),
            F.sum(
                F.octet_length("gaps")
                + F.octet_length("tfs")
                + F.octet_length("dls")
            ).alias("bytes"),
            F.approx_count_distinct("term").alias("terms"),
        )
        # each batch owns its dir (hive-style `batch=K`): overwrite makes a
        # crashed batch's re-run idempotent. Within a batch, blocks are written
        # partitionBy("bucket"): queries then prune to the query terms' bucket
        # DIRECTORIES (not just row-group stats) and parallelize the scan over
        # that bucket's files — query-side scan cost is O(query buckets),
        # independent of index size and of session split-size settings. The
        # dynamic write stays off its sort fallback because raw is bucket-dir
        # partitioned, so each encode task carries very few buckets.
        enc.write.mode("overwrite").partitionBy("bucket").parquet(
            os.path.join(postings_path, f"batch={batch}")
        )
        m = enc_obs.get
        catalog.ckpt_write(
            vdir,
            stage,
            {
                "stage": stage,
                "buckets": batch_buckets,
                "blocks": m["blocks"],
                "postings_emitted": int(m["postings"] or 0),
                "bytes_compressed": int(m["bytes"] or 0),
                "terms": m["terms"],
                "elapsed_sec": round(time.time() - t0, 3),
            },
        )
        if fail_after_batch is not None and batch >= fail_after_batch:
            raise RuntimeError(f"injected failure after posting batch {batch}")

    # ---- stage: dictionary (from block metadata — never re-reads raw postings) ---
    # df = Σ block n, cf = Σ block cf per term: a groupBy over the compact encoded
    # blocks (orders of magnitude smaller than raw at scale)
    dict_path = os.path.join(vdir, "dict")
    if not (resume and catalog.ckpt_done(vdir, "dict")):
        t0 = time.time()
        d = (
            spark.read.parquet(postings_path)
            .groupBy("term")
            .agg(
                F.sum("n").alias("df"),
                F.sum("cf").alias("cf"),
                F.first("bucket").alias("bucket"),
            )
        )
        dict_obs = Observation("dict_metrics")
        d.repartitionByRange(max(4, n_ckpt_batches), "term").sortWithinPartitions(
            "term"
        ).observe(dict_obs, F.count(F.lit(1)).alias("n")).write.mode(
            "overwrite"
        ).parquet(dict_path)
        n_terms = dict_obs.get["n"]
        catalog.ckpt_write(
            vdir,
            "dict",
            {"stage": "dict", "n_terms": n_terms, "elapsed_sec": round(time.time() - t0, 3)},
        )

    # ---- finalize: reconcile + atomic publish (alias-swap analog) -----------------
    src_count = src.count()  # parquet footer count — metadata-speed
    indexed = n_docs  # observed during the docs write (same files readers see)
    if src_count and indexed / src_count < publish_gate:
        raise RuntimeError(
            f"publish gate failed: indexed {indexed}/{src_count} < {publish_gate}"
        )
    total_postings = sum(
        catalog.ckpt_read(vdir, f"postings_batch_{i}")["postings_emitted"]
        for i in range(n_ckpt_batches)
    )
    catalog.ckpt_write(
        vdir,
        "_PUBLISHED",
        {
            "version": version,
            "n_docs": indexed,
            "src_count": src_count,
            "postings_emitted": total_postings,
            # caller idempotence marker (e.g. streaming batch_id) recorded IN
            # the same artifact that the atomic publish exposes, so a replayed
            # writer can detect an already-published unit of work even if its
            # own manifest write was lost to a crash (exactly-once seam)
            **(publish_meta or {}),
        },
    )
    catalog.publish(out_root, version)
    base.unpersist()
    return vdir
