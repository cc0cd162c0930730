"""Small single-threaded parquet reads on the driver.

The query engine serves small requests without a Spark job: the dictionary
point read, the posting blocks of a low-volume query, the tombstone set and
the docs columns a small bool's doc filters test all go through the
functions here. Each opens one file at a time and reads with
``use_threads=False``; term reads skip row groups by the ``term`` column's
min/max statistics (the dict and the posting blocks are written
term-sorted) and filter rows with ``pc.is_in``.

Driver memory is the constraint: the Arrow dataset scanner
(``pq.read_table(filters=...)`` / ``pyarrow.dataset``) grows the driver's
resident set through its CPU and I/O thread pools, while these serial reads
hold only the row groups they return. Callers bound the volume (the engine's
``LOCAL_MAX_POSTINGS`` cutover, the ``DISTRIBUTED_TOMB_THRESHOLD`` for
tombstones).

File selection mirrors Spark's parquet listing: names starting with ``_`` or
``.`` (``_SUCCESS``, ``.crc`` files, ``_temporary``) are skipped, directory
symlinks are followed (point-in-time readers link data dirs), and hive
``bucket=<b>`` directories prune to the requested buckets.
"""

from __future__ import annotations

import bisect
import os
from collections.abc import Collection, Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq


def _hidden(name: str) -> bool:
    return name.startswith(("_", "."))


def data_files(root: str, buckets: Collection[int] | None = None) -> list[str]:
    """The parquet data files under ``root`` (none when it is absent), in a
    stable order. ``buckets`` keeps only ``bucket=<b>`` directories whose
    ``b`` is listed; files outside any bucket directory are always kept."""
    out: list[str] = []
    for d, dirs, files in os.walk(root, followlinks=True):
        dirs[:] = sorted(
            x for x in dirs
            if not _hidden(x)
            and (buckets is None or not x.startswith("bucket=")
                 or int(x.split("=", 1)[1]) in buckets)
        )
        out.extend(os.path.join(d, f) for f in sorted(files) if not _hidden(f))
    return out


def _term_row_groups(md: pq.FileMetaData, col: int, want: list[str]) -> list[int]:
    """Row groups whose ``term`` min/max range holds one of the sorted
    ``want`` terms; a row group without statistics is kept."""
    keep = []
    for i in range(md.num_row_groups):
        rg = md.row_group(i)
        if rg.num_rows == 0:
            continue
        st = rg.column(col).statistics
        if st is None or not st.has_min_max:
            keep.append(i)
            continue
        j = bisect.bisect_left(want, st.min)
        if j < len(want) and want[j] <= st.max:
            keep.append(i)
    return keep


def read_terms(
    files: Sequence[str], terms: Collection[str], columns: Sequence[str] | None = None
) -> pa.Table | None:
    """Rows of ``files`` whose ``term`` is in ``terms``, with ``columns``
    (all when None; ``term`` is always read). None when no row matches."""
    want = sorted(set(terms))
    if not want:
        return None
    value_set = pa.array(want, pa.string())
    cols = None if columns is None else list(dict.fromkeys(["term", *columns]))
    parts = []
    for path in files:
        with pq.ParquetFile(path) as pf:
            md = pf.metadata
            names = [md.schema.column(c).path for c in range(md.num_columns)]
            rgs = _term_row_groups(md, names.index("term"), want)
            if not rgs:
                continue
            t = pf.read_row_groups(rgs, columns=cols, use_threads=False)
        t = t.filter(pc.is_in(t["term"], value_set=value_set))
        if t.num_rows:
            parts.append(t)
    if not parts:
        return None
    return parts[0] if len(parts) == 1 else pa.concat_tables(parts)


def read_columns(
    files: Sequence[str], columns: Sequence[str]
) -> dict[str, pa.ChunkedArray]:
    """``columns`` of every row of ``files`` (at least one). The files must
    agree on each column's type; Spark-written and driver-written files may
    differ in nullability, so columns are joined chunk by chunk rather than
    as tables."""
    chunks: dict[str, list[pa.Array]] = {c: [] for c in columns}
    types: dict[str, pa.DataType] = {}
    for path in files:
        with pq.ParquetFile(path) as pf:
            t = pf.read(columns=list(columns), use_threads=False)
        for c in columns:
            chunks[c].extend(t[c].chunks)
            types[c] = t.schema.field(c).type
    return {c: pa.chunked_array(v, type=types[c]) for c, v in chunks.items()}


def read_column(files: Sequence[str], column: str) -> np.ndarray:
    """One column of every row of ``files`` as a numpy array."""
    if not files:
        return np.empty(0)
    return read_columns(files, [column])[column].to_numpy()


def footer_types(files: Sequence[str]) -> tuple[dict[str, pa.DataType | None], int]:
    """Each top-level column's Arrow type across ``files`` (None where a
    file disagrees or lacks it) and Σ ``num_rows``, from the footers
    alone."""
    types: dict[str, pa.DataType | None] = {}
    n = 0
    for i, path in enumerate(files):
        md = pq.read_metadata(path)
        n += md.num_rows
        got = {f.name: f.type for f in md.schema.to_arrow_schema()}
        if i == 0:
            types = got
        else:
            types = {c: t if got.get(c) == t else None for c, t in types.items()}
    return types, n


def count_rows(files: Sequence[str]) -> int:
    """Σ ``num_rows`` over the files' footers; no data page is read."""
    return sum(pq.read_metadata(p).num_rows for p in files)
