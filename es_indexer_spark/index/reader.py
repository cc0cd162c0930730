"""One read-only view of an index version.

Every query path opens the published version the same way: resolve
``CURRENT``, read the stats, analyze the query, look its terms up in the
dictionary, pick the tombstone delivery and read the posting blocks. The
analog is Lucene's per-segment reader. :func:`open_index` does the resolve
once and returns an :class:`IndexReader` that holds all of it:

- ``stats`` (and its ``n_docs``, ``avgdl``, ``k1``, ``b``, ``shard_size``,
  ``tokenizer``), read once per version;
- :meth:`~IndexReader.analyze`: the query through the index's analysis chain
  plus search-time synonyms;
- :meth:`~IndexReader.lookup`: the dictionary memo (Lucene's in-memory
  term dictionary). Only queried terms are held, absent terms are memoized
  as None, and a point read on the driver serves a miss without a Spark job;
- :meth:`~IndexReader.dict_df`, :meth:`~IndexReader.postings`,
  :meth:`~IndexReader.blocks`, :meth:`~IndexReader.docs`: Spark relations,
  built only when a Spark path asks for them (a driver-local query never
  lists the postings directory);
- :meth:`~IndexReader.local_blocks`, :meth:`~IndexReader.local_docs`: the
  same data read on the driver for a driver-local query, the docs footers
  (types, row count) read once;
- :meth:`~IndexReader.tombs` and :meth:`~IndexReader.live`: the delete set
  as a driver array below ``tombstones.DISTRIBUTED_TOMB_THRESHOLD`` and as
  shard-keyed Spark rows above it.

All of a version's state lives in one entry keyed by (Spark application,
version dir, dict-dir mtime): a DataFrame is bound to its session, and a
``delete_index`` + rebuild that reuses a version name writes a new dict
directory, so it can never be served stale. The tombstone state is
re-validated against the tombstone file listing on every open, so a delete
into the published version is seen by the next query. At most
``MAX_VERSIONS`` entries are kept; the oldest is evicted and its persisted
dictionary unpersisted, so a long-lived multi-version process does not pin
stale versions.
"""

from __future__ import annotations

import os
import warnings
from collections.abc import Collection, Iterable, Sequence

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, Row, SparkSession, functions as F

from es_indexer_spark.analysis.synonyms import expand_terms
from es_indexer_spark.analysis.tokenizer import tokenize_one
from es_indexer_spark.index import catalog, driver_read, tombstones

MAX_VERSIONS = 8
MAX_TERMS = 1 << 16

_OPEN: dict[tuple[str, str, int], IndexReader] = {}


def tomb_dir(vdir: str) -> str:
    return os.path.join(vdir, "_tombstones")


def tomb_listing(vdir: str) -> tuple[str, ...]:
    """The version's tombstone file names; a new delete batch changes it."""
    d = tomb_dir(vdir)
    if not os.path.isdir(d):
        return ()
    return tuple(sorted(f for f in os.listdir(d) if f.endswith(".parquet")))


def open_index(spark: SparkSession, index_root: str) -> IndexReader:
    """The reader of ``index_root``'s published version."""
    return open_version(spark, catalog.resolve(index_root))


def open_version(spark: SparkSession, vdir: str) -> IndexReader:
    """The reader of one version dir (published or not)."""
    try:
        mtime = os.stat(os.path.join(vdir, "dict")).st_mtime_ns
    except FileNotFoundError:
        mtime = -1
    key = (spark.sparkContext.applicationId, vdir, mtime)
    r = _OPEN.get(key)
    if r is None:
        while len(_OPEN) >= MAX_VERSIONS:
            _OPEN.pop(next(iter(_OPEN))).close()
        r = _OPEN[key] = IndexReader(spark, vdir)
    r._revalidate_tombs()
    return r


class IndexReader:
    """Read-only view of one index version (see the module docstring)."""

    def __init__(self, spark: SparkSession, vdir: str):
        self.spark = spark
        self.vdir = vdir
        self._stats: dict | None = None
        self._terms: dict[str, Row | None] = {}
        self._dict: DataFrame | None = None
        self._postings: DataFrame | None = None
        self._tomb_sig: tuple[str, ...] = ()
        self._tomb_n = 0
        self._tomb_arr: np.ndarray | None = None
        self._docs_footer: tuple | None = None

    @property
    def stats(self) -> dict:
        if self._stats is None:
            self._stats = catalog.read_stats(self.vdir)
        return self._stats

    n_docs = property(lambda self: self.stats["n_docs"])
    avgdl = property(lambda self: self.stats["avgdl"])
    k1 = property(lambda self: self.stats["k1"])
    b = property(lambda self: self.stats["b"])
    shard_size = property(lambda self: int(self.stats["shard_size"]))
    tokenizer = property(lambda self: self.stats["tokenizer"])

    def close(self) -> None:
        if self._dict is not None:
            try:
                self._dict.unpersist()
            except Exception:
                pass  # owning session already stopped

    # ---- analysis + dictionary ------------------------------------------------
    def analyze(
        self,
        query: str,
        lang: str | None = None,
        synonyms: dict[str, list[str]] | None = None,
        *,
        terms: Iterable[str] | None = None,
    ) -> list[str]:
        """Sorted distinct terms of ``query`` under the index's analysis
        chain (or the already-analyzed ``terms``), plus their search-time
        ``synonyms`` expansions (documents are never rewritten)."""
        out = sorted(
            set(tokenize_one(query, self.tokenizer, lang=lang))
            if terms is None else set(terms)
        )
        if synonyms:
            out = sorted(set(expand_terms(
                out, synonyms, lambda s: tokenize_one(s, self.tokenizer, lang=lang)
            )))
        return out

    def lookup(self, terms: Sequence[str]) -> list[Row]:
        """Dictionary rows (term, df, cf, bucket) of ``terms`` in their
        order, absent terms dropped, memoized per version."""
        cache = self._terms
        missing = [t for t in terms if t not in cache]
        if missing:
            if len(cache) + len(missing) > MAX_TERMS:
                cache.clear()
                missing = list(dict.fromkeys(terms))
            # a point read on the driver (row groups pruned by the
            # term-sorted dict's statistics): a memo miss costs no Spark job
            t = driver_read.read_terms(
                driver_read.data_files(os.path.join(self.vdir, "dict")), missing
            )
            found = {
                r["term"]: Row(**r) for r in ([] if t is None else t.to_pylist())
            }
            for term in missing:
                cache[term] = found.get(term)
        return [cache[t] for t in terms if cache[t] is not None]

    def dict_df(self) -> DataFrame:
        """The whole dictionary as a persisted relation, for the expansion
        scans (prefix, wildcard, regexp, fuzzy) that filter it in Spark."""
        if self._dict is None:
            self._dict = self.spark.read.parquet(
                os.path.join(self.vdir, "dict")
            ).persist()
        return self._dict

    # ---- postings + docs ------------------------------------------------------
    def postings(self) -> DataFrame:
        """The postings relation. Not persisted (the postings are the whole
        index), only held: re-creating it per query re-lists the directory
        and re-reads footers, ~0.4 s of driver time on a 200k-file index."""
        if self._postings is None:
            self._postings = self.spark.read.parquet(
                os.path.join(self.vdir, "postings")
            )
        return self._postings

    def blocks(self, terms: Sequence[str], buckets: Sequence[int]) -> DataFrame:
        """The posting blocks of ``terms``: ``bucket`` partition pruning,
        ``term`` row-group pruning."""
        return self.postings().filter(
            F.col("bucket").isin(list(buckets)) & F.col("term").isin(list(terms))
        )

    def local_blocks(
        self, terms: Sequence[str], buckets: Collection[int], columns: Sequence[str]
    ) -> pd.DataFrame | None:
        """The posting blocks of ``terms`` read on the driver (the buckets'
        files only, term row groups pruned), or None when there are none."""
        files = driver_read.data_files(
            os.path.join(self.vdir, "postings"), set(buckets)
        )
        t = driver_read.read_terms(files, terms, columns)
        return None if t is None else t.to_pandas()

    def docs(self) -> DataFrame:
        """The docs store (docid-sorted; docid filters prune row groups)."""
        return self.spark.read.parquet(os.path.join(self.vdir, "docs"))

    def docs_footer(self) -> tuple[list[str], dict[str, pa.DataType | None], int]:
        """The docs store's files, column types (None where files disagree)
        and row count, read from the footers once per version (a version's
        docs are written with it and never change)."""
        if self._docs_footer is None:
            files = driver_read.data_files(os.path.join(self.vdir, "docs"))
            self._docs_footer = (files, *driver_read.footer_types(files))
        return self._docs_footer

    def local_docs(self, columns: Sequence[str]) -> dict[str, pa.ChunkedArray]:
        """``columns`` of every docs row, read on the driver."""
        return driver_read.read_columns(self.docs_footer()[0], columns)

    # ---- tombstones -----------------------------------------------------------
    def _revalidate_tombs(self) -> None:
        sig = tomb_listing(self.vdir)
        if sig != self._tomb_sig:
            self._tomb_sig, self._tomb_arr = sig, None
            # Σ footer row counts, no data page read: an upper bound on the
            # distinct set when ids were re-deleted (the safe direction for
            # the distributed cutover)
            self._tomb_n = driver_read.count_rows(
                driver_read.data_files(tomb_dir(self.vdir))
            ) if sig else 0

    def tomb_count(self) -> int:
        return self._tomb_n

    def tomb_array(self) -> np.ndarray | None:
        """Sorted int64 delete set read on the driver (no Spark job), None
        when nothing is deleted."""
        if not self._tomb_sig:
            return None
        if self._tomb_arr is None:
            if self._tomb_n > tombstones.DISTRIBUTED_TOMB_THRESHOLD:
                warnings.warn(
                    f"collecting {self._tomb_n} tombstones to the driver — the "
                    "delete set approaches corpus scale; run compact_index() "
                    "(or rebuild) instead of serving queries through a "
                    "driver-side array",
                    RuntimeWarning,
                    stacklevel=3,
                )
            self._tomb_arr = np.unique(
                driver_read.read_column(
                    driver_read.data_files(tomb_dir(self.vdir)), "docid"
                ).astype(np.int64)
            )
        return self._tomb_arr

    def tomb_df(self) -> DataFrame | None:
        """The distinct deleted docids as a DataFrame, None when empty."""
        if not self._tomb_sig:
            return None
        return self.spark.read.parquet(tomb_dir(self.vdir)).select("docid").distinct()

    def tomb_shards(self, shard_size: int | None = None) -> DataFrame | None:
        """The distinct deleted docids keyed by shard (docid // shard_size,
        the version's own by default): cogrouped with the posting blocks,
        each scorer task gets only its shard's deletes (never the driver,
        never a broadcast)."""
        t = self.tomb_df()
        if t is None:
            return None
        size = self.shard_size if shard_size is None else int(shard_size)
        return t.select(
            "docid",
            F.floor(F.col("docid") / F.lit(size)).cast("long").alias("shard"),
        )

    def tombs(self) -> tuple[np.ndarray | None, DataFrame | None]:
        """The delete set for a scorer: ``(array, None)`` up to
        ``DISTRIBUTED_TOMB_THRESHOLD`` deletes (zero jobs once read),
        ``(None, shard-keyed rows)`` above it, so a corpus-scale
        ``delete_by_query`` never builds a multi-GB driver array."""
        if self._tomb_n > tombstones.DISTRIBUTED_TOMB_THRESHOLD:
            return None, self.tomb_shards()
        return self.tomb_array(), None

    def live(self, df: DataFrame) -> DataFrame:
        """Drop deleted rows from a frame with a ``docid`` column. Tiny
        delete sets inline as a NOT-IN literal (a negated IN cannot prune
        row groups, so the gain is only skipping the join), mid-size sets
        broadcast-anti-join, and past the distributed threshold a shuffle
        anti-join keeps a corpus-scale set off any one executor."""
        n = self._tomb_n
        if n == 0:
            return df
        if n <= 512:
            return df.filter(~F.col("docid").isin([int(x) for x in self.tomb_array()]))
        t = self.tomb_df()
        if n <= tombstones.DISTRIBUTED_TOMB_THRESHOLD:
            return df.join(F.broadcast(t), "docid", "left_anti")
        return df.join(t, "docid", "left_anti")
