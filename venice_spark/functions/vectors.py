"""Vector kernels for read-compute and similarity search.

Reference operators (internal/venice-client-common/src/main/java/com/linkedin/venice/compute/):
  - DotProductOperator.java:11-74      dot(value_field, param)
  - CosineSimilarityOperator.java:14-96 cos(value_field, param), param L2
    norm cached per request (lines 46-62)
  - HadamardProductOperator.java:1-70  element-wise product
  - CountOperator.java:12-68           collection size
  - ComputeUtils.java:168-258          4-way unrolled float kernels

Spark-first: every kernel is a JVM-side Column expression
(zip_with/aggregate run inside whole-stage codegen; no Python in the hot
path). Arithmetic is done in float64 with a strict left-to-right fold so
results are bit-reproducible and oracle-checkable.

Driver twins: each read-compute kernel (R5-R9) has a `*_py` twin beside
it that computes the same values with numpy over an Arrow list column the
driver already holds — the keyed compute of a small key batch, whose rows
batch_get fetched through Arrow. A twin runs the same float64 operations
in the same order (the casts, the seeded left-to-right fold, the cosine
guard), so its results equal the kernel's bit for bit; the parity is
property-tested in tests/test_compute_twins.py.

Semantics parity:
  - empty/null vector -> NULL result (DotProductOperator.java:40-45)
  - length mismatch   -> NULL result + error-channel entry (R9); the
    reference returns 0.0f plus an error map entry — we surface NULL for
    the value and the same error map entry (documented deviation: NULL is
    more SQL-natural than a sentinel 0.0).
"""

from __future__ import annotations

import math
from collections.abc import Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import Column


def _as_double_array(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def _double_sql(v: float) -> str:
    """A non-null double literal in Spark SQL: the shortest round-trip
    repr (bit-exact through Java's parser), and NaN/±Infinity as string
    casts wrapped in coalesce, which keeps the element non-nullable as a
    literal is."""
    if math.isfinite(v):
        return f"{v!r}D"
    spelled = "NaN" if math.isnan(v) else ("Infinity" if v > 0 else "-Infinity")
    return f"coalesce(CAST('{spelled}' AS DOUBLE), 0D)"


def _lit_array(values: Sequence[float]) -> Column:
    """A constant array<double> built in one JVM call: one parsed
    expression instead of a lit and a cast per element (two py4j round
    trips each, ~105 ms for a 64-dim param)."""
    return F.expr("array(" + ", ".join(_double_sql(float(v)) for v in values) + ")")


def _fold_sum(products: Column) -> Column:
    """Strict sequential sum: ((0+x1)+x2)+... — matches an explicit
    a1*b1 + a2*b2 + ... expression bit-for-bit in IEEE754."""
    return F.aggregate(products, F.lit(0.0).cast("double"), lambda acc, x: acc + x)


def _guard_pair(c: Column, bok: Column) -> Column:
    """Shared not-null/non-empty/equal-length guard for the R5-R7 kernels,
    evaluated on the UNCAST operands: an array cast preserves null-ness
    and size exactly, and guarding on the cast arrays re-ran the O(d)
    float→double copy once per reference (no CSE around the HOF-bearing
    projection — 4 cast passes per row where the math needs 1)."""
    return (
        c.isNotNull()
        & bok.isNotNull()
        & (F.size(c) > 0)
        & (F.size(bok) > 0)
        & (F.size(c) == F.size(bok))
    )


# Element types of a vector a twin reads: their float64 cast is the exact
# value Spark's cast to array<double> gives. A vector of any other element
# type is computed by the Spark kernel.
TWIN_ELEMENTS = (
    T.FloatType, T.DoubleType, T.ByteType, T.ShortType, T.IntegerType, T.LongType,
)


def _vector_rows(
    vec: pa.Array | pa.ChunkedArray, dim: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """The twins' _guard_pair against a constant param of `dim` elements:
    (ok, x, gaps). `ok` marks the rows whose vector is not null and has
    exactly `dim` > 0 elements; `x` holds those rows cast to float64 as a
    (rows, dim) matrix, null elements read as 0.0; `gaps` marks x's null
    elements."""
    if isinstance(vec, pa.ChunkedArray):
        vec = vec.combine_chunks()
    lengths = pc.fill_null(pc.list_value_length(vec), -1).to_numpy(zero_copy_only=False)
    ok = (lengths == dim) & (dim > 0)
    flat = vec.filter(pa.array(ok)).flatten()
    shape = (int(ok.sum()), dim)
    x = pc.fill_null(flat, 0).to_numpy(zero_copy_only=False).astype(np.float64)
    gaps = flat.is_null().to_numpy(zero_copy_only=False)
    return ok, x.reshape(shape), gaps.reshape(shape)


def _fold_rows(products: np.ndarray) -> np.ndarray:
    """_fold_sum of each row: ((0.0 + p1) + p2) + ... The seed 0.0 folds
    -0.0 as Spark's seed does; accumulate adds strictly left to right."""
    seeded = np.concatenate([np.zeros((len(products), 1)), products], axis=1)
    return np.add.accumulate(seeded, axis=1)[:, -1]


def _rows_where(values: np.ndarray, ok: np.ndarray, keep: np.ndarray) -> pa.Array:
    """float64 per row: values[i] on the i-th ok row where keep[i], NULL on
    every other row."""
    valid = ok.copy()
    valid[ok] = keep
    out = np.zeros(len(ok))
    out[valid] = values[keep]
    return pa.array(out, mask=~valid)


def _param_array(param: Sequence[float]) -> np.ndarray:
    return np.array([float(v) for v in param], dtype=np.float64)


def dot_product(field: Column | str, param: Sequence[float] | Column) -> Column:
    """R5. NULL when either side is null/empty or lengths mismatch."""
    c = F.col(field) if isinstance(field, str) else field
    a = c.cast("array<double>")
    b = _lit_array(param) if not isinstance(param, Column) else param.cast("array<double>")
    bok = b if not isinstance(param, Column) else param
    raw = _fold_sum(F.zip_with(a, b, lambda x, y: x * y))
    return F.when(_guard_pair(c, bok), raw)


def dot_product_py(vec: pa.Array | pa.ChunkedArray, param: Sequence[float]) -> pa.Array:
    """Driver twin of dot_product over an Arrow list column: NULL where
    the guard fails and where the vector holds a null element (Spark's
    fold of a null is null)."""
    p = _param_array(param)
    ok, x, gaps = _vector_rows(vec, len(p))
    with np.errstate(all="ignore"):
        dots = _fold_rows(x * p)
    return _rows_where(dots, ok, ~gaps.any(axis=1))


def squared_l2_norm(field: Column | str) -> Column:
    a = _as_double_array(field)
    return _fold_sum(F.zip_with(a, a, lambda x, y: x * y))


def cosine_similarity(field: Column | str, param: Sequence[float] | Column) -> Column:
    """R6. dot(a,b) / (||a|| * ||b||). When the param is a Python sequence its
    norm is precomputed driver-side once — the same caching the reference does
    per request (CosineSimilarityOperator.java:46-62), for free via
    constant folding."""
    c = F.col(field) if isinstance(field, str) else field
    a = c.cast("array<double>")
    if isinstance(param, Column):
        b = param.cast("array<double>")
        bok = param
        b_norm = F.sqrt(_fold_sum(F.zip_with(b, b, lambda x, y: x * y)))
    else:
        b = _lit_array(param)
        bok = b
        b_norm = F.lit(param_l2_norm(param))
    denom = F.sqrt(squared_l2_norm(a)) * b_norm

    # denom > 0: a zero-norm vector (padding row, empty doc) makes 0/0,
    # which under Spark 4's default ANSI mode is not NaN but a
    # DIVIDE_BY_ZERO that aborts the whole job (code-review r4); cosine is
    # undefined there, so it degrades to NULL like every other bad input.
    # The norm product is BOUND ONCE (text._bind — r10): it appeared in
    # both the guard and the value, so the d-element self-norm fold ran
    # twice per row — on every candidate pair of the kNN rescore tails.
    def _guarded(d: Column) -> Column:
        ok = _guard_pair(c, bok) & (d > 0)
        return F.when(ok, _fold_sum(F.zip_with(a, b, lambda x, y: x * y)) / d)

    from venice_spark.functions.text import _bind

    return _bind(denom, _guarded)


def cosine_similarity_py(
    vec: pa.Array | pa.ChunkedArray, param: Sequence[float]
) -> pa.Array:
    """Driver twin of cosine_similarity: the dot fold over
    sqrt(self-norm fold) * param_l2_norm(param), NULL unless that product
    is > 0 — in Spark's ordering, where NaN is above every number, so a NaN
    norm passes and the result is NaN."""
    p = _param_array(param)
    ok, x, gaps = _vector_rows(vec, len(p))
    with np.errstate(all="ignore"):
        denom = np.sqrt(_fold_rows(x * x)) * param_l2_norm(param)
        cos = _fold_rows(x * p) / denom
    live = (denom > 0) | np.isnan(denom)
    return _rows_where(cos, ok, ~gaps.any(axis=1) & live)


def param_l2_norm(param: Sequence[float]) -> float:
    """Driver-side L2 norm with the same left-to-right fold as the SQL path."""
    acc = 0.0
    for v in param:
        acc = acc + float(v) * float(v)
    return math.sqrt(acc)


def hadamard_product(field: Column | str, param: Sequence[float] | Column) -> Column:
    """R7. Element-wise product; NULL on null/empty/length-mismatch."""
    c = F.col(field) if isinstance(field, str) else field
    a = c.cast("array<double>")
    b = _lit_array(param) if not isinstance(param, Column) else param.cast("array<double>")
    bok = b if not isinstance(param, Column) else param
    return F.when(_guard_pair(c, bok), F.zip_with(a, b, lambda x, y: x * y))


def hadamard_product_py(
    vec: pa.Array | pa.ChunkedArray, param: Sequence[float]
) -> pa.Array:
    """Driver twin of hadamard_product: list<double> per row, NULL where
    the guard fails, a null element where the vector holds one."""
    p = _param_array(param)
    ok, x, gaps = _vector_rows(vec, len(p))
    with np.errstate(all="ignore"):
        values = pa.array((x * p).ravel(), mask=gaps.ravel())
    offsets = np.concatenate([[0], np.cumsum(np.where(ok, len(p), 0))])
    return pa.ListArray.from_arrays(
        pa.array(offsets, pa.int32()), values, mask=pa.array(~ok)
    )


def collection_count(field: Column | str) -> Column:
    """R8. Size of an array or map field; NULL input -> NULL (the reference
    returns -1 + error entry; Spark's size() legacy -1 is disabled)."""
    c = F.col(field) if isinstance(field, str) else field
    return F.when(c.isNotNull(), F.size(c))


def collection_count_py(vec: pa.Array | pa.ChunkedArray) -> pa.Array:
    """Driver twin of collection_count over an Arrow list column: int32
    size, NULL for a null vector."""
    if isinstance(vec, pa.ChunkedArray):
        vec = vec.combine_chunks()
    return pc.list_value_length(vec)


def compute_error_entries(
    field_name: str,
    field: Column | str,
    param_len: int | None,
    key_name: str | None = None,
) -> Column:
    """R9. Error-channel map for one computed field: entries only for actual
    errors, mirroring __veniceComputationError__
    (ComputeUtils.java:69-143). The map is keyed by `key_name` (the
    COMPUTED field's result name — two ops over the same input field must
    not collide into a duplicate map key, which aborts the query); the
    message text still names the input field."""
    key = key_name or field_name
    c = F.col(field) if isinstance(field, str) else field
    err = F.when(
        c.isNull(), F.lit(f"field {field_name} is null")
    )
    if param_len is not None:
        err = err.when(
            F.size(c) != param_len,
            F.concat(
                F.lit(f"field {field_name} length "),
                F.size(c).cast("string"),
                F.lit(f" != param length {param_len}"),
            ),
        )
    return F.when(err.isNotNull(), F.create_map(F.lit(key), err)).otherwise(
        F.create_map().cast("map<string,string>")
    )


def compute_error_entries_py(
    field_name: str,
    vec: pa.Array | pa.ChunkedArray,
    param_len: int | None,
    key_name: str | None = None,
) -> pa.Array:
    """Driver twin of compute_error_entries over an Arrow list column: one
    map<string,string> per row with the same key and message."""
    key = key_name or field_name
    entries = []
    for n in collection_count_py(vec).to_pylist():
        if n is None:
            entries.append([(key, f"field {field_name} is null")])
        elif param_len is not None and n != param_len:
            msg = f"field {field_name} length {n} != param length {param_len}"
            entries.append([(key, msg)])
        else:
            entries.append([])
    return pa.array(entries, pa.map_(pa.string(), pa.string()))


def oracle_dot_sql(array_expr: str, param: Sequence[float]) -> str:
    """Emit the DuckDB-equivalent explicit sum for the same dot product —
    bit-identical to the fold above (used to build oracle SQL strings)."""
    terms = [
        f"CAST({array_expr}[{i + 1}] AS DOUBLE) * {float(v)!r}" for i, v in enumerate(param)
    ]
    return "(" + " + ".join(terms) + ")"


def oracle_sq_norm_sql(array_expr: str, dim: int) -> str:
    terms = [
        f"CAST({array_expr}[{i + 1}] AS DOUBLE) * CAST({array_expr}[{i + 1}] AS DOUBLE)"
        for i in range(dim)
    ]
    return "(" + " + ".join(terms) + ")"


def quantize_int8(field: Column | str, scale: float = 127.0) -> Column:
    """Symmetric int8 quantization of a float vector: clamp(round(x/amax *
    scale)) with amax = max(|x|) per row. 4x storage reduction for 100 TB
    embedding corpora; dequantize ≈ q * amax/scale. Pure JVM expressions.
    Returns struct(amax float, q array<tinyint>)."""
    from venice_spark.functions.text import _bind

    # Bind the cast array and the per-row amax ONCE each. HOF-bearing
    # subtrees are CodegenFallback with no common-subexpression
    # elimination, so before the binds the float→double cast pass ran per
    # REFERENCE (amax chain, zip_with left arm, size — 3x) and the
    # abs/array_max pass ran twice (struct field + the clamp scale): ~5
    # O(d) passes per row where 3 suffice. Referencing the scale inside
    # the transform lambda directly would be worse still — it inlines the
    # whole array_max per ELEMENT, O(d²) per row (measured 4x wall on the
    # quantize query) — hence the array_repeat carrier for the lambda and
    # the _bind carriers for the projection-level references. Float math
    # unchanged: same ops, same order, evaluated once.
    def _q(arr):
        def _with_amax(am):
            safe = F.when(am > 0, am).otherwise(F.lit(1.0))
            q = F.zip_with(
                arr,
                F.array_repeat(safe, F.size(arr)),
                lambda x, m: F.least(
                    F.lit(127.0), F.greatest(F.lit(-127.0), F.round(x / m * F.lit(scale)))
                ).cast("tinyint"),
            )
            return F.struct(am.cast("float").alias("amax"), q.alias("q"))

        return _bind(F.array_max(F.transform(arr, lambda x: F.abs(x))), _with_amax)

    return _bind(_as_double_array(field), _q)


def dequantize_int8(field: Column | str, scale: float = 127.0) -> Column:
    """Inverse of quantize_int8: array<float> ≈ q * amax/scale."""
    c = F.col(field) if isinstance(field, str) else field
    amax = c["amax"].cast("double")
    safe = F.when(amax > 0, amax).otherwise(F.lit(1.0))
    return F.transform(
        c["q"], lambda x: (x.cast("double") * safe / F.lit(scale)).cast("float")
    )


def rademacher_matrix(in_dim: int, out_dim: int, seed: int = 42) -> list[list[float]]:
    """Deterministic ±1 projection matrix (out_dim rows × in_dim cols),
    seeded so the Spark expression and the DuckDB oracle share literals."""
    import random

    rng = random.Random(seed)
    return [
        [float(rng.choice((-1.0, 1.0))) for _ in range(in_dim)] for _ in range(out_dim)
    ]


def random_projection(
    field: Column | str, matrix: Sequence[Sequence[float]]
) -> Column:
    """Johnson-Lindenstrauss random projection: embed an in_dim float vector
    into out_dim dims via a Rademacher (±1) matrix scaled by 1/sqrt(out_dim)
    — pairwise distances are preserved within (1±ε) w.h.p., so downstream
    ANN/dedup passes scan out_dim/in_dim of the bytes.  Row-local, no
    shuffle, no Python — and built as ONE parsed SQL expression rather than
    out_dim×in_dim Column objects: constructing ~1k literal nodes through
    py4j costs ~2.5s of driver time PER QUERY, while a single expr() string
    parses JVM-side in milliseconds and the explicit unrolled sums get
    whole-stage codegen (the fold form stays interpreted).  The sum order
    matches oracle_projection_sql term for term (bit-identical IEEE754).
    Returns array<double>[out_dim].
    """
    import math

    out_dim = len(matrix)
    scale = 1.0 / math.sqrt(out_dim)
    if isinstance(field, str):
        # try_element_at (1-indexed): NULL past the end instead of Spark 4
        # ANSI's INVALID_ARRAY_INDEX — one truncated embedding must NULL its
        # row, not abort a 100 TB projection pass; matches DuckDB's
        # NULL-on-out-of-bounds in oracle_projection_sql
        comps = []
        for row in matrix:
            terms = " + ".join(
                f"CAST(try_element_at({field}, {i + 1}) AS DOUBLE) * {float(v)!r}D"
                for i, v in enumerate(row)
            )
            comps.append(f"({terms}) * {scale!r}D")
        return F.expr("array(" + ", ".join(comps) + ")")
    # Column input: fall back to the fold formulation (same values)
    return F.array(*[(dot_product(field, row) * F.lit(scale)) for row in matrix])


def random_projection_cols(
    field: str, matrix: Sequence[Sequence[float]], prefix: str = "p"
) -> "list[Column]":
    """random_projection unrolled to one SCALAR column per output dim
    ({prefix}0..{prefix}{k-1}) instead of an array — same bit-identical
    per-dim sums, but the plan stays a pure whole-stage-codegen Project
    (an explode of the k-term array runs the 64k-literal expression through
    an interpreted Generate, measured 4x slower at sf0.1), and the scalar
    shape is what the driver's canonicalizer can sort."""
    import math

    out_dim = len(matrix)
    scale = 1.0 / math.sqrt(out_dim)
    cols = []
    for j, row in enumerate(matrix):
        # try_element_at: NULL-on-short-vector, not an ANSI abort (see
        # random_projection)
        terms = " + ".join(
            f"CAST(try_element_at({field}, {i + 1}) AS DOUBLE) * {float(v)!r}D"
            for i, v in enumerate(row)
        )
        cols.append(F.expr(f"({terms}) * {scale!r}D").alias(f"{prefix}{j}"))
    return cols


def oracle_projection_sql(
    array_expr: str, matrix: Sequence[Sequence[float]]
) -> str:
    """DuckDB twin of random_projection — explicit per-dim sums via
    oracle_dot_sql, bit-identical to the Spark fold."""
    import math

    scale = 1.0 / math.sqrt(len(matrix))
    comps = [f"{oracle_dot_sql(array_expr, row)} * {scale!r}" for row in matrix]
    return "[" + ", ".join(comps) + "]"


def oracle_projection_cols_sql(
    array_expr: str, matrix: Sequence[Sequence[float]], prefix: str = "p"
) -> str:
    """DuckDB twin of random_projection_cols: 'sum0 AS p0, sum1 AS p1, ...'."""
    import math

    scale = 1.0 / math.sqrt(len(matrix))
    return ", ".join(
        f"{oracle_dot_sql(array_expr, row)} * {scale!r} AS {prefix}{j}"
        for j, row in enumerate(matrix)
    )


def label_centroids(
    df, vec_col: str, label_col: str, decimals: int = 4
):
    """Per-label element-wise mean of embedding vectors — the class
    prototype / k-means M-step as a distributed aggregation: posexplode to
    (label, pos, x), two-level partial avg (map-side combine absorbs the
    d-way fan-out), then reassemble each centroid sorted by position inside
    the row. Shuffle volume is labels × dims partial sums, independent of
    row count.

    Means are rounded to `decimals` so results are comparable across
    engines despite summation-order differences in floating-point
    accumulation (a raw distributed avg is not bit-stable)."""
    pairs = df.select(label_col, F.posexplode(F.col(vec_col)).alias("pos", "x"))
    m = pairs.groupBy(label_col, "pos").agg(
        F.round(F.avg("x"), decimals).alias("m")
    )
    return m.groupBy(label_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
        ).alias("centroid")
    )
