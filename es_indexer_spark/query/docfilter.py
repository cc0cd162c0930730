"""Doc-level predicates of a bool query, lowered two ways.

``bool_query`` filters and scores on stored fields: ``filter_range``,
``filter_fields`` (term / terms), ``filter_exists``, ``filter_like``,
``filter_script`` and the scored ``must_ranges`` / ``should_ranges`` /
``must_exists`` / ``should_exists``. Each is one :class:`DocPred`, which
lowers to

- :meth:`DocPred.column`: the Spark ``Column`` pushed into the docs-store
  scan;
- :meth:`DocPred.driver_mask`: a boolean mask over docs columns read on the
  driver, but only where its result is provably the Spark predicate's.

A driver form exists for

- a string column against ``str`` values: Spark and Arrow both compare
  UTF-8 bytes;
- a signed integer column against ``int`` values inside int64 (compared as
  int64, exact) or finite ``float`` values (the column widened to double,
  Spark's own coercion); ``bool`` values are excluded;
- ``exists`` on any column (non-null);
- term / terms under the same rules, no value ``None``.

Everything else has none and keeps the Spark path: float and double
columns (Spark orders NaN above every number and equates NaN with NaN,
IEEE comparisons do neither), date and timestamp columns, wildcard patterns
(Java regex), script expressions, and any type mismatch (Spark's implicit
casts). A column must also have one type across the docs files, and the
field name must match exactly (Spark resolves names case-insensitively).
"""

from __future__ import annotations

import math
import re
from collections.abc import Callable, Mapping
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, functions as F

from es_indexer_spark.query.lookup import check_range_bounds, range_pred

Columns = Mapping[str, pa.ChunkedArray]
Mask = Callable[[Columns], np.ndarray]

_INT64 = (-(1 << 63), (1 << 63) - 1)
_NP_OPS = {"gte": np.greater_equal, "gt": np.greater,
           "lte": np.less_equal, "lt": np.less}
_PC_OPS = {"gte": pc.greater_equal, "gt": pc.greater,
           "lte": pc.less_equal, "lt": pc.less}


@dataclass(frozen=True)
class DocPred:
    """One doc-level predicate: ``op`` is range / term / terms / exists /
    like / script; ``arg`` its bounds dict, value, value list, pattern or
    expression."""

    op: str
    field: str | None
    arg: object = None

    @classmethod
    def range(cls, field: str, bounds: dict) -> DocPred:
        check_range_bounds(bounds)
        return cls("range", field, dict(bounds))

    @classmethod
    def term(cls, field: str, val) -> DocPred:
        """A list value is the terms (membership) shape."""
        if isinstance(val, (list, tuple, set, frozenset)):
            return cls("terms", field, list(val))
        return cls("term", field, val)

    def column(self) -> Column:
        if self.op == "range":
            return range_pred(self.field, self.arg)
        if self.op == "exists":
            return F.col(self.field).isNotNull()
        if self.op == "like":
            # ES bool.filter(wildcard) on a STORED keyword field (ES SQL LIKE
            # lowers here): the * / ? pattern compiles to an anchored regex,
            # case-SENSITIVE as ES's wildcard default (the indexed-content
            # wildcard clause is the lowercased dictionary expansion)
            rx = "^" + "".join(
                ".*" if ch == "*" else "." if ch == "?" else re.escape(ch)
                for ch in str(self.arg)
            ) + "$"
            return F.col(self.field).rlike(rx)
        if self.op == "script":
            # ES bool.filter(script): a Catalyst boolean expression over the
            # STORED columns in the Painless slot (the runtime_mappings /
            # lookup.script_query stance). The ES SQL layer lands non-scoring
            # negations and disjunctions here: SQL three-valued semantics,
            # NULL never matches
            return F.expr(str(self.arg))
        if self.op == "terms":
            return F.col(self.field).isin(self.arg)
        return F.col(self.field) == F.lit(self.arg)

    def driver_mask(self, types: Mapping[str, pa.DataType | None]) -> Mask | None:
        """The driver form over the docs columns, or None when it could
        differ from :meth:`column` (see the module docstring). ``types``:
        each docs column's type, None where the files disagree."""
        if self.op in ("like", "script"):
            return None
        t = types.get(self.field)
        if t is None:
            return None
        col = self.field
        if self.op == "exists":
            return lambda cols: pc.is_valid(cols[col]).to_numpy(zero_copy_only=False)
        vals = (list(self.arg.values()) if self.op == "range"
                else self.arg if self.op == "terms" else [self.arg])
        if pa.types.is_string(t) or pa.types.is_large_string(t):
            if not all(isinstance(v, str) for v in vals):
                return None
            if self.op == "range":
                bounds = list(self.arg.items())

                def mask(cols: Columns) -> np.ndarray:
                    m = None
                    for op, v in bounds:
                        e = _PC_OPS[op](cols[col], pa.scalar(v, t))
                        m = e if m is None else pc.and_(m, e)
                    return pc.fill_null(m, False).to_numpy(zero_copy_only=False)

                return mask
            value_set = pa.array(vals, t)
            return lambda cols: pc.is_in(
                cols[col], value_set=value_set
            ).to_numpy(zero_copy_only=False)
        if not pa.types.is_signed_integer(t) or not all(map(_numeric, vals)):
            return None
        if self.op == "range":
            bounds = list(self.arg.items())

            def mask(cols: Columns) -> np.ndarray:
                x, valid = _ints(cols[col])
                for op, v in bounds:
                    # per comparison, like Spark: long vs int stays long,
                    # long vs double widens the column to double
                    valid = valid & _NP_OPS[op](
                        x.astype(np.float64) if isinstance(v, float) else x, v
                    )
                return valid

            return mask
        # a membership test coerces the column and every value to one type:
        # double as soon as one value is a float, else long
        as_float = any(isinstance(v, float) for v in vals)
        want = np.asarray(vals, np.float64 if as_float else np.int64)

        def member(cols: Columns) -> np.ndarray:
            x, valid = _ints(cols[col])
            return valid & np.isin(x.astype(want.dtype), want)

        return member


def _numeric(v) -> bool:
    """An int inside int64 or a finite float (never a bool)."""
    if isinstance(v, bool):
        return False
    if isinstance(v, int):
        return _INT64[0] <= v <= _INT64[1]
    return isinstance(v, float) and math.isfinite(v)


def _ints(a: pa.ChunkedArray) -> tuple[np.ndarray, np.ndarray]:
    """(values as int64 with nulls as 0, validity mask)."""
    valid = pc.is_valid(a).to_numpy(zero_copy_only=False)
    x = pc.fill_null(a, 0).to_numpy(zero_copy_only=False).astype(np.int64)
    return x, valid


def driver_masks(
    preds: list[DocPred], types: Mapping[str, pa.DataType | None]
) -> list[Mask] | None:
    """Every predicate's driver form, or None when one has none."""
    out = []
    for p in preds:
        m = p.driver_mask(types)
        if m is None:
            return None
        out.append(m)
    return out
