"""Embedding-column hygiene for numpy/Arrow kernels (row-fails-not-job).

At 100 TB an embeddings shard WILL contain NULL vectors, zero-length
arrays, ragged dimensionalities (schema drift across ingest epochs), and
NULL ids (retry half-writes). The pure-DataFrame kernels absorb these for
free (NULL-propagating expressions), but the BLAS-shaped kernels reshape
a batch into one matrix, where a single malformed row would kill the
partition task — the round-7 empty/dirty-mirror findings. These helpers
centralize the contract those kernels share:

- a **probe** that determines the working dimensionality from a bounded
  sample of VALID rows (modal size, so one ragged minority row in the
  probe window cannot hijack the dimension), returning ``None`` on an
  empty/all-NULL column so builders can return the schema-correct empty
  frame instead of crashing;
- one **Arrow decoder** that masks NULL-vector / wrong-dimension /
  non-finite rows out of an Arrow list array and reshapes the survivors
  into a float64 matrix — the malformed rows contribute nothing, the
  task lives. Kernels on ``mapInArrow`` / ``applyInArrow`` and the
  driver-side ``toArrow()`` collects share it, so a vector batch has one
  decode.

Kept separate from functions/vector.py (frozen column-expression surface,
see SCALE.md): these are kernel-side utilities, not SQL-facing functions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def valid_vec(col, dim: int | None = None):
    """Column predicate for a usable vector: present, non-empty, no NULL
    elements (one NULL element NULLs/poisons every downstream reduction,
    and MLlib fit/transform dies on it outright), and exactly ``dim`` long
    when given — the shared seed-scan / index-build row filter, so the
    contract has ONE spelling instead of drifting per call site."""
    c = F.col(col) if isinstance(col, str) else col
    p = c.isNotNull() & (F.size(c) > 0) & ~F.exists(c, lambda x: x.isNull())
    if dim is not None:
        p = p & (F.size(c) == int(dim))
    return p


def modal_dim(lengths) -> int | None:
    """Modal value of the positive vector ``lengths`` (any iterable of
    int/None; NULL and zero-length vectors do not vote); ties prefer the
    larger dimension. ``None`` when no valid vector exists."""
    sizes = [d for d in lengths if d]
    if not sizes:
        return None
    return max(set(sizes), key=lambda d: (sizes.count(d), d))


def probe_dim(df: DataFrame, vec_col: str, sample: int = 64) -> int | None:
    """Working dimensionality of ``df[vec_col]`` from the first ``sample``
    valid rows (bounded collect — scale-safe). ``None`` on an empty or
    all-invalid column."""
    rows = (
        df.select(F.size(F.col(vec_col)).alias("d"))
        .where(F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) > 0))
        .limit(sample)
        .collect()
    )
    return modal_dim(r["d"] for r in rows)


def decode(arr, dim: int | None = None):
    """(mask, matrix) for an Arrow list array of vectors (a ``mapInArrow``
    batch column, an ``applyInArrow`` group column or a ``toArrow()``
    collect): ``mask`` is the boolean row filter (vector present, exactly
    ``dim`` long, all elements FINITE) and ``matrix`` is the float64
    ``(mask.sum(), dim)`` matrix of the surviving vectors, or ``None`` when
    nothing survives. NULL elements arrive as NaN and drop their row.
    ``dim=None`` takes the :func:`modal_dim` of ``arr`` itself (a
    driver-side collect that defines the working dimensionality).

    The finite requirement mirrors vector.cosine's nan_to_null doctrine:
    a NaN element would flow through the GEMM into NaN scores, which the
    expression kernels map to NULL but a numpy/Spark desc ranking would
    order FIRST — one NaN embedding silently winning a top-k is the
    wrong-value failure mode, worse than a crash.

    NULL ids are not this helper's concern: every caller drops them on
    the JVM side (``.where(id.isNotNull())``) before the batch is built."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    lengths = pc.list_value_length(arr)
    if dim is None:
        # -1 matches no length: an all-invalid collect keeps nothing
        dim = modal_dim(lengths.to_pylist()) or -1
    mask = pc.fill_null(pc.equal(lengths, dim), False)
    mask = mask.to_numpy(zero_copy_only=False)
    if not mask.any():
        return mask, None
    if not mask.all():
        arr = arr.filter(pa.array(mask))
    # flatten() honours the slice offset and skips NULL slots' backing
    M = arr.flatten().to_numpy(zero_copy_only=False).reshape(-1, dim)
    M = M.astype(np.float64)
    finite = np.isfinite(M).all(axis=1)
    if not finite.all():
        mask[np.flatnonzero(mask)[~finite]] = False
        if not mask.any():
            return mask, None
        M = M[finite]
    return mask, M
