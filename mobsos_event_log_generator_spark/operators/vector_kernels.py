"""One exact numeric recipe for the float Arrow kernels of ``similarity.py``.

Every Arrow kernel that scores float vectors has a JVM twin (the
``aggregate``/``zip_with`` folds of ``similarity.py``) and a DuckDB oracle
that replays the same fold. This module owns the four decisions that make a
kernel's output rows bit-equal to its twin's, so no kernel carries private
arithmetic:

* **accumulation** — dot products, squared norms and squared distances are
  the JVM fold: ``acc + term`` one dimension at a time from ``0.0``, in
  float64 (float32 inputs widen exactly). No BLAS: its blocked/pairwise
  reductions drift from the fold in the last bits, and a 6-dp rounding or a
  ``floor(x·1e6 + 0.5)`` quantizer turns that drift into a different value.
* **rounding** — ``round6`` is Spark's ``round(x, 6)``:
  ``BigDecimal(Double.toString(x)).setScale(6, HALF_UP).toDouble``. A
  vectorized floor is exact away from the midpoints; cells within float64
  error of ``k + 0.5`` micro-units take the decimal route on the shortest
  repr. ``micro`` is ``cosine_micro``'s ``(long) floor(x·1e6 + 0.5)`` with
  Java's double→long cast (NaN → 0, saturating).
* **ordering** — ``order`` and ``topk`` rank in Spark's ORDER BY, where NaN
  is larger than every value and ties break on id ascending; ``at_least``
  is Spark's ``>=`` under the same NaN rule.
* **degenerate input** — a zero cosine divisor on a pair the twin evaluates
  raises, as Spark's ANSI ``Divide`` raises ``DIVIDE_BY_ZERO``.

Memory: ``topk`` and ``blocks`` tile the pair matrix into blocks of at most
``BLOCK_CELLS`` cells, so a kernel holds O(block) temporaries, never n².
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Context, Decimal

import numpy as np

#: Cells (float64) in one pair-matrix block. Kernels read it when they build
#: their plan and ship the value to the workers, so a test can shrink it to
#: force many blocks; it is a constant, not a setting.
BLOCK_CELLS = 1 << 20

_I64_MAX = 2**63 - 1
_MICRO = Decimal("1e-6")
_WIDE = Context(prec=400)  # enough digits for any finite double at scale 6


def matrix(col) -> np.ndarray:
    """(n, dim) float64 rows of equal-length vectors: a list, or a pandas or
    Arrow column."""
    rows = list(col.to_numpy(zero_copy_only=False) if hasattr(col, "type") else col)
    return np.stack(rows).astype(np.float64) if rows else np.zeros((0, 0))


def _fold(a: np.ndarray, b: np.ndarray, term) -> np.ndarray:
    """(len(a), len(b)) sums of ``term(a_d, b_d)`` in the JVM fold's order."""
    if a.shape[1] != b.shape[1]:
        raise ValueError(f"vector dims differ: {a.shape[1]} vs {b.shape[1]}")
    acc = np.zeros((len(a), len(b)))
    for d in range(a.shape[1]):
        acc += term(a[:, d, None], b[None, :, d])
    return acc


def _sqdiff(x, y):
    diff = x - y
    return diff * diff


def sqnorms(a: np.ndarray) -> np.ndarray:
    """Per-row fold of ``x·x`` (the argument of ``_norm``'s sqrt)."""
    acc = np.zeros(len(a))
    for d in range(a.shape[1]):
        acc += a[:, d] * a[:, d]
    return acc


def cosines(a, b, na, nb, live) -> np.ndarray:
    """Unrounded ``dot / (sqrt(na) · sqrt(nb))`` of every (a, b) pair; a zero
    divisor on a ``live`` pair (one the JVM twin evaluates) raises."""
    den = np.sqrt(na)[:, None] * np.sqrt(nb)[None, :]
    if np.any((den == 0.0) & live):
        raise ZeroDivisionError("[DIVIDE_BY_ZERO] zero-norm vector in a cosine")
    with np.errstate(divide="ignore", invalid="ignore"):
        return _fold(a, b, np.multiply) / den


def _round_decimal(v: float) -> float:
    return float(Decimal(repr(float(v))).quantize(_MICRO, ROUND_HALF_UP, _WIDE))


def round6(x) -> np.ndarray:
    """Spark's ``round(x, 6)`` (HALF_UP on the shortest decimal repr; NaN and
    ±inf pass through; a zero result is +0.0)."""
    x = np.asarray(x, dtype=np.float64)
    y = np.abs(x) * 1e6
    out = np.copysign(np.floor(y + 0.5), x) / 1e6
    with np.errstate(invalid="ignore"):
        near = np.abs(y - np.floor(y) - 0.5) <= (y + 1.0) * 2.0**-40
        near = np.isfinite(x) & (near | ~(y < 2.0**50))
    if near.any():
        out[near] = [_round_decimal(v) for v in x[near]]
    return out + 0.0


def micro(x) -> np.ndarray:
    """``cosine_micro``'s quantizer: ``(long) floor(x·1e6 + 0.5)``."""
    f = np.floor(np.asarray(x, dtype=np.float64) * 1e6 + 0.5)
    big = f >= 2.0**63
    q = np.where(np.isnan(f) | big, 0.0, np.maximum(f, -(2.0**63))).astype(np.int64)
    return np.where(big, np.int64(_I64_MAX), q)


def at_least(x, t) -> np.ndarray:
    """Spark's ``x >= t``: NaN is larger than every value."""
    return (x >= t) | np.isnan(x)


def order(x, ids, desc: bool, skip=None) -> np.ndarray:
    """Argsort along axis 0 in Spark's ``ORDER BY x [DESC], id``; NaN is the
    largest value, and ``skip`` cells sort after all others."""
    nan = np.isnan(x)
    keys = [np.broadcast_to(ids, x.shape), np.where(nan, 0.0, -x if desc else x), ~nan if desc else nan]
    return np.lexsort(keys + ([] if skip is None else [skip]), axis=0)


def blocks(na: int, nb: int, cap: int, keep: int = 0):
    """(rows, cols) slices tiling an na × nb pair matrix, ≤ ``cap`` cells
    each — also with ``keep`` more rows stacked on a block (a running top-k)."""
    cb = max(1, min(nb, cap // (2 * keep) if keep else cap))
    rb = max(1, cap // cb - keep)
    for j in range(0, nb, cb):
        for i in range(0, na, rb):
            yield slice(i, min(i + rb, na)), slice(j, min(j + cb, nb))


def topk(a, b, k: int, metric: str, a_ids, b_ids=None, cap: int | None = None):
    """For every row of ``b`` (a query), its first ``k`` rows of ``a`` in
    Spark's order: ``metric="cosine"`` ranks round6(cosine) DESC,
    ``"sqdist"`` ranks round6(squared distance) ASC, ties on ``a_ids``.
    Pairs with ``a_id == b_id`` are never scored (self-matches). Returns flat
    arrays ``(b_index, a_index, value, rank)`` grouped by query, rank
    ascending. Works block by block, keeping only each query's running best
    k between blocks, so no temporary exceeds ``cap`` cells (for cap ≥ 2k)."""
    cos = metric == "cosine"
    if cos:
        na, nb = sqnorms(a), sqnorms(b)
    best: dict = {}
    for rs, cs in blocks(len(a), len(b), cap or BLOCK_CELLS, k):
        shape = (rs.stop - rs.start, cs.stop - cs.start)
        live = np.ones(shape, bool) if b_ids is None else a_ids[rs, None] != b_ids[None, cs]
        raw = cosines(a[rs], b[cs], na[rs], nb[cs], live) if cos else _fold(a[rs], b[cs], _sqdiff)
        cand = (round6(raw), np.broadcast_to(np.arange(rs.start, rs.stop)[:, None], shape), ~live)
        if cs.start in best:
            cand = tuple(np.concatenate(p) for p in zip(best[cs.start], cand))
        o = order(cand[0], a_ids[cand[1]], cos, cand[2])[:k]
        best[cs.start] = tuple(np.take_along_axis(c, o, axis=0) for c in cand)
    if not best:
        return np.zeros(0, np.int64), np.zeros(0, np.int64), np.zeros(0), np.zeros(0, np.int64)
    # column chunks were inserted in order, so they concatenate to (query, rank)
    val, idx, skip = (np.concatenate(p, axis=1).T for p in zip(*best.values()))
    query, rank = np.indices(skip.shape)
    return query[~skip], idx[~skip], val[~skip], rank[~skip] + 1
