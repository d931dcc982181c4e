"""Similarity search over embedding columns (north-star surface).

  brute_force_topk   exact cosine top-k — the correctness baseline; scan +
                     JVM fold expression + bounded TakeOrderedAndProject
  lsh_topk           random-hyperplane LSH bucketed search — the scale path:
                     probe only matching/nearby buckets instead of the full
                     scan; recall tested against the brute-force baseline

At 100 TB the LSH variant turns a full-corpus scan into a partition-pruned
bucket read when the table is written partitioned by bucket id.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

import pandas as pd  # module-level: pandas_udf type hints must resolve here
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from venice_spark.functions import vectors as VX


def brute_force_topk(
    df: DataFrame,
    query: Sequence[float],
    vec_col: str,
    id_col: str,
    k: int = 10,
) -> DataFrame:
    """Exact top-k by cosine. orderBy+limit compiles to TakeOrderedAndProject:
    per-partition heaps + driver merge of k rows — no global sort shuffle."""
    cos = VX.cosine_similarity(vec_col, list(query))
    return (
        df.select(F.col(id_col), cos.alias("cos"))
        .orderBy(F.col("cos").desc(), F.col(id_col).asc())
        .limit(k)
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (LCG-based, library-free so the
    same planes can be re-derived anywhere)."""
    planes = []
    state = seed * 2654435761 % (2**31)
    for _ in range(n_planes):
        v = []
        for _ in range(dim):
            state = (1103515245 * state + 12345) % (2**31)
            v.append((state / 2**31) * 2.0 - 1.0)
        planes.append(v)
    return planes


def _qident(col_name: str) -> str:
    """Backtick-quote a COLUMN NAME for interpolation into a SQL string —
    without this, a user-configured vector column named 'order' or 'my vec'
    parses as a keyword / two tokens inside F.expr (code-review r4
    continuation). The SQL-string builders take names, not expressions."""
    return "`" + col_name.replace("`", "``") + "`"


def _plane_dot_sql(vec_col: str, plane: "Sequence[float]") -> str:
    """SQL-string dot product against a literal plane: zip_with + aggregate
    (the HOF form codegen handles at any width), left-to-right fold order
    matching _query_bucket. `vec_col` is a column NAME (quoted here)."""
    lits = ", ".join(f"{float(v)!r}D" for v in plane)
    return (
        f"aggregate(zip_with({_qident(vec_col)}, array({lits}), "
        "(x, y) -> CAST(x AS DOUBLE) * y), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )


def lsh_bucket_col(vec_col: str, dim: int, n_planes: int = 8, seed: int = 42):
    """Random-hyperplane signature: bit b = sign(v · plane_b). 2^n_planes
    buckets; cosine-similar vectors land in the same/nearby buckets.

    Built as ONE parsed SQL string of HOF folds, not thousands of literal
    Column nodes: py4j-built literals cost ~10s of driver time per search
    (measured — the random_projection lesson), while the string parses
    JVM-side in milliseconds. The dot products stay zip_with/aggregate
    folds rather than fully unrolled element_at sums: at tables×planes×dim
    terms the unrolled tree exceeds codegen's method limits and falls back
    to interpreted evaluation (measured 13.4s vs 0.9s at sf0.1 —
    code-review r4). Fold order matches _query_bucket's driver-side loop,
    so the query's own bucket is bit-identical."""
    comps = [
        f"IF({_plane_dot_sql(vec_col, plane)} > 0, {2 ** i}, 0)"
        for i, plane in enumerate(_hyperplanes(dim, n_planes, seed))
    ]
    return F.expr(" + ".join(comps)).alias("lsh_bucket")


def _query_bucket(query: Sequence[float], planes: list[list[float]]) -> int:
    qb = 0
    for i, plane in enumerate(planes):
        acc = 0.0
        for x, y in zip(query, plane):
            acc += float(x) * y
        if acc > 0:
            qb |= 1 << i
    return qb


def _probe_set(qb: int, n_planes: int, probe_hamming: int) -> list[int]:
    probe = [qb]
    if probe_hamming >= 1:
        probe += [qb ^ (1 << i) for i in range(n_planes)]
    if probe_hamming >= 2:
        probe += [
            qb ^ (1 << i) ^ (1 << j)
            for i in range(n_planes)
            for j in range(i + 1, n_planes)
        ]
    return probe


def lsh_topk(
    df: DataFrame,
    query: Sequence[float],
    vec_col: str,
    id_col: str,
    k: int = 10,
    dim: int | None = None,
    n_planes: int = 8,
    tables: int = 8,
    probe_hamming: int = 1,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k with multi-table OR-amplification: `tables`
    independent hyperplane sets; a vector is a candidate if ANY table's
    bucket is within `probe_hamming` bits of the query's bucket in that
    table. Candidate fraction ≈ tables·probes/2^n_planes of the corpus —
    tune (tables, n_planes, probe_hamming) for the recall/scan tradeoff.

    At 100 TB: write the table partitioned by table-0's bucket id for
    partition pruning on the primary probe, and let the remaining tables
    filter within scanned partitions."""
    dim = dim or len(query)
    cond = None
    for t in range(tables):
        planes = _hyperplanes(dim, n_planes, seed + 1000 * t)
        qb = _query_bucket(query, planes)
        probe = _probe_set(qb, n_planes, probe_hamming)
        bucket = lsh_bucket_col(vec_col, dim, n_planes, seed + 1000 * t)
        c = bucket.isin(probe)
        cond = c if cond is None else (cond | c)

    cos = VX.cosine_similarity(vec_col, list(query))
    return (
        df.filter(cond)
        .select(F.col(id_col), cos.alias("cos"))
        .orderBy(F.col("cos").desc(), F.col(id_col).asc())
        .limit(k)
    )


def knn_join(
    left: DataFrame,
    right: DataFrame,
    vec_col: str,
    left_id: str,
    right_id: str,
    k: int = 5,
    max_query_rows: int = 100_000,
) -> DataFrame:
    """Brute-force k-NN join (every left row's top-k right neighbors by
    cosine) — the exact oracle baseline for the LSH-blocked twin.

    Physical strategy: brute kNN join is only tractable when the query
    (left) side is bounded — that bound makes it broadcastable, so instead
    of a crossJoin evaluating an interpreted array fold per pair
    (zip_with/aggregate HOFs run outside codegen: measured ~3x slower),
    the query matrix ships to every executor and each right PARTITION
    scans once with vectorized per-dimension accumulation. Arithmetic is
    float64 with the same strict left-to-right fold as the Column kernels
    (functions/vectors._fold_sum), so results are bit-identical to the
    crossJoin formulation and the DuckDB oracle. Each Arrow batch emits
    only its local top-k per query (boundary ties kept, so the global
    rank's rid-asc tiebreak sees every contender); the shuffle into the
    final window rank carries ~batches*queries*k rows, never n_left *
    n_right. Raises when the query side exceeds `max_query_rows` — at that
    scale brute force is the wrong tool; use knn_join_lsh.

    Malformed vectors are excluded symmetrically: null/ragged-length rows
    on either side, and zero-norm vectors (cosine undefined), never appear
    as queries or candidates."""
    from pyspark.sql import Window
    from pyspark.sql.types import DoubleType, StructField, StructType

    import numpy as np

    lrows = (
        left.select(F.col(left_id).alias("lid"), F.col(vec_col).alias("lv"))
        .filter(F.col("lv").isNotNull())
        .limit(max_query_rows + 1)
        .collect()
    )
    if len(lrows) > max_query_rows:
        raise ValueError(
            f"knn_join query side exceeds max_query_rows={max_query_rows}; "
            "brute force is the oracle baseline — use knn_join_lsh at scale"
        )
    lids = [r["lid"] for r in lrows]
    if lrows:
        # ragged query vectors (mixed embedding versions) would crash
        # np.array; keep only rows matching the dominant dimension —
        # mirrors the right side's len(v) == d filter
        from collections import Counter

        dim0 = Counter(len(r["lv"]) for r in lrows).most_common(1)[0][0]
        lrows = [r for r in lrows if len(r["lv"]) == dim0]
        lids = [r["lid"] for r in lrows]
    L = (
        np.array([np.asarray(r["lv"], dtype=np.float64) for r in lrows])
        if lrows
        else np.zeros((0, 0))
    )
    spark = left.sparkSession
    bc = spark.sparkContext.broadcast((lids, L))

    out_schema = StructType(
        [
            StructField("lid", left.schema[left_id].dataType),
            StructField("rid", right.schema[right_id].dataType),
            StructField("cos", DoubleType()),
        ]
    )

    def _scan(batches):
        import numpy as _np
        import pandas as _pd

        lids_, L_ = bc.value
        m = len(lids_)
        if m == 0:
            return
        d = L_.shape[1]
        # strict sequential fold per dimension — ((0+x0^2)+x1^2)+... exactly
        lnorm2 = _np.zeros(m)
        for j in range(d):
            lnorm2 += L_[:, j] * L_[:, j]
        lnorm = _np.sqrt(lnorm2)
        for pdf in batches:
            vecs = [
                _np.asarray(v, dtype=_np.float64)
                for v in pdf["rv"]
                if v is not None and len(v) == d
            ]
            keep = [
                i
                for i, v in enumerate(pdf["rv"])
                if v is not None and len(v) == d
            ]
            n = len(vecs)
            if n == 0:
                continue
            R = _np.array(vecs)
            rids = pdf["rid"].values[keep]
            dot = _np.zeros((n, m))
            rnorm2 = _np.zeros(n)
            for j in range(d):
                dot += R[:, j : j + 1] * L_[:, j][None, :]
                rnorm2 += R[:, j] * R[:, j]
            cos = dot / (lnorm[None, :] * _np.sqrt(rnorm2)[:, None])
            out_lid, out_rid, out_cos = [], [], []
            for col in range(m):
                c = cos[:, col]
                # zero-norm vectors yield NaN cosine; np.partition ranks
                # NaN as largest, which would silently displace REAL
                # candidates from the partial top-k — exclude non-finite
                # rows before selecting (cosine is undefined for them, so
                # they can never be a legitimate neighbor)
                finite = _np.nonzero(_np.isfinite(c))[0]
                nf = len(finite)
                if nf == 0:
                    continue
                kk = min(k, nf)
                cf = c[finite]
                if nf > kk:
                    thresh = _np.partition(cf, nf - kk)[nf - kk]
                    sel = finite[_np.nonzero(cf >= thresh)[0]]
                else:
                    sel = finite
                out_lid.extend([lids_[col]] * len(sel))
                out_rid.extend(rids[sel])
                out_cos.extend(c[sel])
            if out_lid:
                yield _pd.DataFrame({"lid": out_lid, "rid": out_rid, "cos": out_cos})

    r_ = right.select(F.col(right_id).alias("rid"), F.col(vec_col).alias("rv"))
    partial = r_.mapInPandas(_scan, schema=out_schema)
    w = Window.partitionBy("lid").orderBy(
        F.col("cos").desc_nulls_last(), F.col("rid").asc()
    )
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("lid", "rid", "cos", "rank")
    )


def knn_classify(
    unlabeled: DataFrame,
    labeled: DataFrame,
    vec_col: str,
    id_col: str,
    label_col: str,
    k: int = 5,
    blocked: bool = True,
    dim: int | None = None,
    max_query_rows: int = 100_000,
) -> DataFrame:
    """Semi-supervised auto-labeling: each unlabeled vector takes the
    majority label of its k nearest labeled neighbors (cosine), ties broken
    to the smallest label — the standard label-propagation step for growing
    a labeled training set from a seed set.

    blocked=True (default) generates candidates through the LSH-blocked
    k-NN join — the scale path (id-only candidate shuffle, no cross join);
    blocked=False is the exact brute-force baseline the oracle re-derives.
    Returns [id_col, predicted, votes] — the winning label and how many of
    the k neighbors voted for it."""
    if blocked:
        if dim is None:
            first = (
                labeled.select(vec_col)
                .filter(F.col(vec_col).isNotNull())
                .first()
            )
            if first is None:
                raise ValueError(
                    "knn_classify: labeled seed set has no non-null vectors "
                    "(pass dim= explicitly or provide labeled rows)"
                )
            dim = len(first[0])
        d = dim
        nn = knn_join_lsh(unlabeled, labeled, vec_col, id_col, id_col, k=k, dim=d)
    else:
        nn = knn_join(
            unlabeled, labeled, vec_col, id_col, id_col, k=k,
            max_query_rows=max_query_rows,
        )
    lab = labeled.select(F.col(id_col).alias("rid"), F.col(label_col))
    votes = (
        nn.join(lab, "rid")
        .groupBy("lid", label_col)
        .agg(F.count("*").alias("votes"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("lid").orderBy(
        F.col("votes").desc(), F.col(label_col).asc()
    )
    return (
        votes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            F.col("lid").alias(id_col),
            F.col(label_col).alias("predicted"),
            "votes",
        )
    )


def lsh_table_buckets(
    vec_col: str,
    dim: int,
    n_planes: int = 8,
    tables: int = 8,
    seed: int = 42,
):
    """Array column of per-table hyperplane bucket ids (one entry per LSH
    table). Same plane derivation as lsh_bucket_col/_hyperplanes, so buckets
    are reproducible anywhere — including in oracle SQL — and the GEMM
    edition (_lsh_gemm_buckets) is parity-tested against it.

    One single-parsed-expr HOF (see lsh_bucket_col — string construction
    beats py4j literals by ~400x and the fold form beats the unrolled tree
    by ~15x at execution)."""
    # ONE nested fold over a single literal plane tensor, not
    # tables×planes separate aggregate/zip_with folds: the 128-fold
    # form cost ~3s of DRIVER analysis per invocation (r10
    # bench_profile: x_knn_join_lsh build=3.07s, 1 job — pure plan
    # work), because the analyzer resolves every HOF lambda
    # independently. Bit value parity: per plane the dot is the same
    # zip_with/aggregate left-to-right fold over the same double
    # literals; per table the bit sum folds in the same plane order
    # (integer adds, shiftleft(1, i) == the former 2**i literal).
    planes3 = ", ".join(
        "array("
        + ", ".join(
            "array(" + ", ".join(f"{float(v)!r}D" for v in plane) + ")"
            for plane in _hyperplanes(dim, n_planes, seed + 1000 * t)
        )
        + ")"
        for t in range(tables)
    )
    v = _qident(vec_col)
    return F.expr(
        f"transform(array({planes3}), __tbl -> "
        "aggregate(transform(__tbl, (__p, __i) -> "
        f"IF(aggregate(zip_with({v}, __p, (x, y) -> CAST(x AS DOUBLE) * y), "
        "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x) > 0, shiftleft(1, __i), 0)), "
        "0, (a, b) -> a + b))"
    )


def knn_join_lsh(
    left: DataFrame,
    right: DataFrame,
    vec_col: str,
    left_id: str,
    right_id: str,
    k: int = 5,
    dim: int = 64,
    n_planes: int = 8,
    tables: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Blocked k-NN join — the scale path for `knn_join`'s semantics: top-k
    right neighbors per left row *among LSH candidates* (pairs colliding in
    at least one of `tables` hyperplane tables), exact-rescored by cosine.

    Plan shape (no cartesian product anywhere):
      1. explode each side to (table, bucket) rows carrying ONLY the id —
         vectors never ride through the candidate shuffle;
      2. hash-join on (table, bucket) -> candidate pairs, dedup;
      3. join the vectors back by id and score exactly; window-rank top-k.
    Candidate volume is O(sum of per-bucket products), tunable via
    (n_planes, tables); at 100 TB write both sides bucketed by the table-0
    bucket so step 2 is a co-located join. Recall is a function of corpus
    geometry: near-duplicate pairs (cos >= ~0.8) collide with high
    probability; unrelated pairs almost never (recall test uses a planted
    clustered corpus)."""
    from pyspark.sql import Window

    # Bucket computation is the vectorized Arrow kernel, not the JVM HOF
    # fold (guide §4.2): the fold is CodegenFallback — ~tables×planes×dim
    # interpreted ops per row — and its 4k-literal tensor cost ~0.3-0.9 s
    # of driver analysis PER SIDE per invocation. One (batch, dim) GEMM
    # per Arrow batch replaces both (measured at sf0.1: analyze 0.30 →
    # 0.02 s, exec 0.65 → 0.25 s per side; bucket values verified
    # bit-identical to the fold on ALL rows of all three SF corpora — a
    # sign can only differ when |dot| is within float-reorder error of
    # zero, the same adjudicated drift class as the batched PQ encode).
    # lsh_table_buckets stays the oracle-portable JVM formulation.
    bks = _lsh_gemm_buckets(vec_col, dim, n_planes, tables, seed)
    lb = left.select(F.col(left_id).alias("lid"), F.posexplode(bks).alias("t", "b"))
    rb = right.select(F.col(right_id).alias("rid"), F.posexplode(bks).alias("t", "b"))
    cand = lb.join(rb, ["t", "b"]).select("lid", "rid").dropDuplicates(["lid", "rid"])
    return _rescore_topk(cand, left, right, vec_col, left_id, right_id, k)


def _lsh_gemm_buckets(vec_col, dim: int, n_planes: int, tables: int, seed: int):
    """Arrow-batched edition of lsh_table_buckets: all tables' hyperplane
    dots as ONE (batch, dim) @ (dim, tables·planes) GEMM per batch, bits
    packed per table. Null / wrong-length vectors get bucket 0 in every
    table (the fold's IF(NULL > 0) arm) and a NaN element sets EVERY bit
    (Spark orders NaN above all numbers, so the fold's NaN dot passes
    > 0) — semantics verified row-for-row on all three SF corpora plus
    the edge-row pin test."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    planes = np.array(
        [
            p
            for t in range(tables)
            for p in _hyperplanes(dim, n_planes, seed + 1000 * t)
        ],
        dtype=np.float64,
    )  # (tables*planes, dim)
    weights = (1 << np.arange(n_planes)).astype(np.int64)

    @pandas_udf("array<int>")
    def _buckets(s: pd.Series) -> pd.Series:
        import numpy as np

        n = len(s)
        x = np.zeros((n, planes.shape[1]), dtype=np.float64)
        valid = np.zeros(n, dtype=bool)
        for i, v in enumerate(s):
            if v is not None and len(v) == planes.shape[1]:
                x[i] = np.asarray(v, dtype=np.float64)
                valid[i] = True
        sims = x @ planes.T
        # Spark orders NaN ABOVE every number, so the fold's
        # IF(dot > 0, ...) sets the bit on a NaN dot; numpy's NaN > 0 is
        # False — OR in isnan to match (pinned by the edge-row test)
        bits = (sims > 0) | np.isnan(sims)
        b = (bits.reshape(n, tables, n_planes) * weights).sum(axis=2)
        b = b.astype(np.int32)
        b[~valid] = 0
        return pd.Series([row.tolist() for row in b])

    return _buckets(vec_col)


def _rescore_topk(
    cand: DataFrame,
    left: DataFrame,
    right: DataFrame,
    vec_col: str,
    left_id: str,
    right_id: str,
    k: int,
) -> DataFrame:
    """Shared tail of every blocked k-NN join: join the vectors back onto
    the id-only candidate pairs, exact cosine (zero-norm guard: undefined
    cosine -> NULL, ranked last — ANSI DIVIDE_BY_ZERO, code-review r4),
    window-rank top-k per left id. ONE implementation so the guard and
    tie-break discipline cannot drift between blocking schemes."""
    from pyspark.sql import Window

    from venice_spark.functions.text import _bind

    # per-VECTOR norms computed below the join (r11): the d-element
    # self-norm folds used to run per CANDIDATE PAIR (r10 had already
    # bound the product once per pair; candidates ≈ left × probed-list
    # mass, so each vector's norm was folded hundreds of times). Same
    # fold over the same doubles → bit-identical sqrt per vector, and
    # the product/guard/division see the exact values the per-pair form
    # produced — oracle-exact. Only the dot fold remains per pair (its
    # operands genuinely differ per pair).
    lv = left.select(
        F.col(left_id).alias("lid"),
        F.col(vec_col).alias("lv"),
        F.sqrt(VX.squared_l2_norm(F.col(vec_col))).alias("__ln"),
    )
    rv = right.select(
        F.col(right_id).alias("rid"),
        F.col(vec_col).alias("rv"),
        F.sqrt(VX.squared_l2_norm(F.col(vec_col))).alias("__rn"),
    )
    # the norm product appears in both the guard and the division: bound
    # ONCE (text._bind — r10), HOF subtrees get no CSE
    cos = _bind(
        F.col("__ln") * F.col("__rn"),
        lambda nrm: F.when(nrm > 0, VX.dot_product(F.col("lv"), F.col("rv")) / nrm),
    )
    scored = (
        cand.join(lv, "lid").join(rv, "rid").withColumn("cos", cos)
        .drop("__ln", "__rn")
    )
    w = Window.partitionBy("lid").orderBy(
        F.col("cos").desc_nulls_last(), F.col("rid").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("lid", "rid", "cos", "rank")
    )


# ---- IVF (inverted-file) variant ----

def train_ivf_centroids(
    df: DataFrame,
    vec_col: str,
    n_centroids: int = 16,
    sample_fraction: float = 0.1,
    max_sample: int = 10_000,
    iters: int = 5,
    seed: int = 42,
) -> list[list[float]]:
    """Coarse k-means quantizer trained driver-side on a bounded sample
    (numpy Lloyd iterations — the sample is small by construction, the
    corpus never leaves the cluster). Returns centroid vectors to pass to
    `ivf_assign` / `ivf_topk`."""
    import numpy as np

    sample = (
        df.select(vec_col)
        .sample(fraction=min(1.0, sample_fraction), seed=seed)
        .limit(max_sample)
        .collect()
    )
    sample = [r for r in sample if r[0] is not None]
    if not sample:
        raise ValueError(
            "train_ivf_centroids: no non-null vectors in the sample "
            "(empty corpus or sample_fraction too small)"
        )
    x = np.array([r[0] for r in sample], dtype=np.float64)
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    # farthest-point (maximin) init: after a seeded first pick, each next
    # centroid is the sample point least similar to any chosen one. Unlike
    # uniform random init, two initial centroids can't land in the same
    # tight cluster, which is the classic Lloyd's local optimum (observed:
    # random init merged two well-separated clusters and split a third)
    k = min(n_centroids, len(x))
    chosen = [int(rng.integers(len(x)))]
    maxsim = x @ x[chosen[0]]
    for _ in range(1, k):
        nxt = int(np.argmin(maxsim))
        chosen.append(nxt)
        maxsim = np.maximum(maxsim, x @ x[nxt])
    cents = x[chosen].copy()
    for _ in range(iters):
        sims = x @ cents.T
        assign = sims.argmax(axis=1)
        for c in range(len(cents)):
            m = assign == c
            if m.any():
                v = x[m].mean(axis=0)
                cents[c] = v / max(float(np.linalg.norm(v)), 1e-12)
    return cents.tolist()


def _ivf_sims_sql(vec_col: str, centroids: list[list[float]]) -> list[str]:
    """SQL-string cosine sims against the normalized centroids — ONE parsed
    string instead of thousands of py4j-built literal Column nodes (the
    lsh_bucket_col lesson: literal trees cost seconds of driver time per
    query; strings parse JVM-side in milliseconds). Arithmetic is the
    strict left-to-right fold of functions/vectors._fold_sum, so sims are
    bit-identical to the Column form and the DuckDB oracles. Zero-norm
    guard: IF(norm > 0, norm, 1.0) — sims all 0.0 for a zero vector; a
    NULL/ragged vector folds to NULL sims (NULL list id — writers route it
    to the default partition where probes never look)."""
    q = _qident(vec_col)
    sq = (
        f"aggregate(zip_with({q}, {q}, "
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )
    safe = f"IF(sqrt({sq}) > 0, sqrt({sq}), CAST(1.0 AS DOUBLE))"
    return [
        f"(({_plane_dot_sql(vec_col, c)}) / {safe})" for c in ivf_normalized(centroids)
    ]


def _ivf_sims_arr_sql(vec_col: str, centroids: list[list[float]]) -> str:
    """SQL string for the WHOLE sims array with the row's norm bound ONCE:
    `transform(array(<sq>), s -> transform(array(<safe(s)>), nv ->
    array(dot_0/nv, ...)))[1][1]`. The per-sim form (_ivf_sims_sql) embeds
    the 64-element self-dot fold inside every sim (2x per centroid via the
    IF guard) — n_centroids×2 norm folds per row where one suffices; at a
    realistic 1k-list quantizer that is 2000 redundant d-element folds per
    row (guide §1.2 per-task work; r10). Same float math, same fold order,
    each dot and the sq fold evaluated exactly once."""
    q = _qident(vec_col)
    sq = (
        f"aggregate(zip_with({q}, {q}, "
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )
    dots = ", ".join(
        f"(({_plane_dot_sql(vec_col, c)}) / __nv)" for c in ivf_normalized(centroids)
    )
    return (
        f"element_at(transform(array({sq}), __sq -> "
        "element_at(transform(array(IF(sqrt(__sq) > 0, sqrt(__sq), CAST(1.0 AS DOUBLE))), "
        f"__nv -> array({dots})), 1)), 1)"
    )


def ivf_assign(vec_col: str, centroids: list[list[float]]):
    """Column: index of the nearest (max-cosine) centroid — the IVF list id.
    A free Column over `vec_col` (not bound to any frame); write the
    corpus partitioned by this column and probes become partition pruning.

    Argmax via array_position(arr, array_max(arr)): expression LINEAR in
    n_centroids (a when-chain embedding greatest(*sims) per branch is
    O(n²) nodes and OOMed codegen at a realistic 64-list quantizer on 2M
    rows; 100 TB corpora want 1k-4k lists). Ties resolve to the FIRST
    list (first occurrence of the max); a NULL vector yields a NULL list
    id — an unindexable vector has no meaningful list."""
    # bind the sims array once (element_at/transform trick): the former
    # `array_position({arr}, array_max({arr}))` embedded the whole
    # n_centroids × d expression TWICE per row (r10)
    arr = _ivf_sims_arr_sql(vec_col, centroids)
    return F.expr(
        f"element_at(transform(array({arr}), "
        "__a -> CAST(array_position(__a, array_max(__a)) - 1 AS INT)), 1)"
    )


def ivf_normalized(centroids: list[list[float]]) -> list[list[float]]:
    out = []
    for c in centroids:
        n = math.sqrt(sum(v * v for v in c)) or 1.0
        out.append([v / n for v in c])
    return out


def ivf_probe_lists(
    query: Sequence[float], centroids: list[list[float]], nprobe: int
) -> list[int]:
    """Driver-side probe selection: the nprobe list ids whose (normalized)
    centroids are most cosine-similar to the query. The ONE shared
    implementation — search sides (ivf_topk, engine.ann_topk) must rank
    with the same normalization the assignment side (ivf_assign) uses, or
    probing silently targets the wrong lists."""
    cents = ivf_normalized(centroids)
    qn = math.sqrt(sum(v * v for v in query)) or 1.0
    q = [v / qn for v in query]
    ranked = sorted(
        range(len(cents)),
        key=lambda i: -sum(a * b for a, b in zip(q, cents[i])),
    )
    return ranked[:nprobe]


def ivf_topk(
    df: DataFrame,
    query: Sequence[float],
    vec_col: str,
    id_col: str,
    centroids: list[list[float]],
    k: int = 10,
    nprobe: int = 4,
    list_col: str | None = None,
) -> DataFrame:
    """IVF search: rank centroids by cosine to the query, scan only the
    `nprobe` nearest inverted lists, exact cosine within them. If the
    corpus already carries a precomputed list id column (`list_col`,
    written at ingest — the scale path), filter on it (partition pruning);
    otherwise assign on the fly."""
    probe = ivf_probe_lists(query, centroids, nprobe)
    lc = F.col(list_col) if list_col else ivf_assign(vec_col, centroids)
    cos = VX.cosine_similarity(vec_col, list(query))
    return (
        df.filter(lc.isin(probe))
        .select(F.col(id_col), cos.alias("cos"))
        .orderBy(F.col("cos").desc(), F.col(id_col).asc())
        .limit(k)
    )


def ivf_probe_lists_col(vec_col: str, centroids: list[list[float]], nprobe: int):
    """Column: the nprobe list ids nearest to THIS ROW's vector, ranked by
    cosine descending with ties to the LOWEST list id — the same tie order
    as ivf_assign (first occurrence of the max) and the driver-side
    ivf_probe_lists (stable sort), so a row's first probed list is always
    its own assigned list. (The original sort_array-desc form tie-broke to
    the HIGHEST id, which at nprobe=1 could miss the row's home list and
    silently lose exact-duplicate pairs — code-review r4 continuation,
    reproduced.) Implemented as ascending sort on (-sim, id) structs; one
    parsed SQL string (see _ivf_sims_sql), linear in n_centroids."""
    # NULL/ragged vector -> all sims NULL; without the guard the all-tie
    # sort would fabricate probe lists [0..nprobe-1] and the join would
    # emit phantom NULL-cos neighbors for unindexable rows (code-review r4
    # continuation, reproduced). A NULL array explodes to no rows, which
    # excludes the row from blocking — matching the right side's
    # ivf_assign NULL filter and the oracle's sim IS NOT NULL.
    # The sims array is bound ONCE (was: every sim expr duplicated into
    # its named_struct AND sims[0] again for the guard — r10); the
    # (x, i) transform index is 0-based, matching the former enumerate.
    arr = _ivf_sims_arr_sql(vec_col, centroids)
    return F.expr(
        f"element_at(transform(array({arr}), __a -> "
        "IF(element_at(__a, 1) IS NULL, CAST(NULL AS ARRAY<INT>), "
        "transform(slice(array_sort(transform(__a, (__x, __i) -> "
        "named_struct('s', -__x, 'i', __i))), "
        f"1, {int(nprobe)}), x -> CAST(x.i AS INT)))), 1)"
    )


def ivf_knn_join(
    left: DataFrame,
    right: DataFrame,
    vec_col: str,
    left_id: str,
    right_id: str,
    centroids: list[list[float]],
    k: int = 5,
    nprobe: int = 4,
    right_list_col: str | None = None,
) -> DataFrame:
    """IVF-blocked k-NN join — the coarse-quantizer twin of knn_join_lsh:
    each left row probes its `nprobe` nearest inverted lists and competes
    only against right rows ASSIGNED to those lists, exact-rescored by
    cosine and window-ranked top-k.

    Plan shape (no cartesian): left explodes to nprobe (id, list) rows —
    ids ONLY, vectors never ride the candidate shuffle (knn_join_lsh's
    discipline); right carries its single list id (precomputed
    `right_list_col` when right IS an IVF index layout —
    push.IvfIndexViewDef, served by StoreHandle.knn_join_vs — else
    assigned on the fly); one hash join on the list id, then the shared
    rescore joins vectors back by lid/rid. Candidate
    volume = Σ_left (sizes of its nprobe lists): tunable via (n_centroids,
    nprobe), never O(n²). Each right row lives in exactly one list, so a
    (left, right) pair joins at most once — no dedup stage. The candidate
    join has only n_centroids distinct keys — at scale use enough lists
    (1k-4k, SCALE.md) for parallelism and let AQE split skewed inverted
    lists. Rows whose vector is NULL (null list assignment) are excluded
    from blocking on both sides — an unindexable vector has no defined
    neighbors. Returns [lid, rid, cos, rank]."""
    lb = left.select(
        F.col(left_id).alias("lid"),
        F.explode(ivf_probe_lists_col(vec_col, centroids, nprobe)).alias("__list"),
    )
    rl = (
        F.col(right_list_col)
        if right_list_col
        else ivf_assign(vec_col, centroids)
    )
    rb = right.select(F.col(right_id).alias("rid"), rl.alias("__list")).filter(
        F.col("__list").isNotNull()
    )
    cand = lb.join(rb, "__list").select("lid", "rid")
    return _rescore_topk(cand, left, right, vec_col, left_id, right_id, k)


def kmeans_fit(
    df: DataFrame,
    vec_col: str,
    n_clusters: int = 16,
    iters: int = 5,
    seed: int = 42,
    sample_fraction: float = 0.1,
    max_sample: int = 10_000,
) -> list[list[float]]:
    """Fully distributed spherical k-means (Lloyd's): init from the bounded
    sample trainer, then refine over the WHOLE corpus. Per iteration:

    - E-step: `ivf_assign` — nearest-centroid id as pure JVM expressions
      (k dot products per row, no Python, no shuffle);
    - M-step: posexplode the L2-normalized vectors to (cluster, pos, x) and
      partial-sum — ONE shuffle whose volume is clusters × dims partial
      aggregates, independent of row count; only k×d sums ever reach the
      driver (16×64 = 1k scalars), which renormalizes the centroids.

    Unlike train_ivf_centroids (sample-only), every row votes in every
    iteration — at 100 TB the per-iteration cost is one scan plus a
    k×d-sized shuffle. Empty clusters keep their previous centroid."""
    import math as _math

    import pyspark.sql.functions as F

    from venice_spark.functions import vectors as VX

    cents = train_ivf_centroids(
        df, vec_col, n_clusters, sample_fraction, max_sample, iters=3, seed=seed
    )
    nrm = F.sqrt(VX.squared_l2_norm(vec_col))
    safe = F.when(nrm > 0, nrm).otherwise(F.lit(1.0))
    # array_repeat carrier (the quantize_int8 discipline — r10):
    # referencing `safe` inside a transform lambda inlines the whole
    # d-element norm fold per ELEMENT — O(d²) per row per M-step
    # iteration. The carrier evaluates it once; x / m is the same
    # division over the same doubles.
    unit = F.zip_with(
        F.col(vec_col),
        F.array_repeat(safe, F.size(F.col(vec_col))),
        lambda x, m: x / m,
    )

    for _ in range(iters):
        assigned = df.withColumn("__c", ivf_assign(vec_col, cents))
        rows = (
            assigned.select("__c", F.posexplode(unit).alias("pos", "x"))
            .groupBy("__c", "pos")
            .agg(F.sum("x").alias("s"))
            .collect()
        )
        sums: dict[int, dict[int, float]] = {}
        for r in rows:
            sums.setdefault(r["__c"], {})[r["pos"]] = r["s"]
        new = []
        for i, c in enumerate(cents):
            if i in sums:
                v = [sums[i].get(p, 0.0) for p in range(len(c))]
                n = _math.sqrt(sum(x * x for x in v)) or 1.0
                new.append([x / n for x in v])
            else:
                new.append(list(c))
        cents = new
    return cents


# --------------------------------------------------------------------- PQ
#
# Product quantization (Jégou et al., "Product Quantization for Nearest
# Neighbor Search", TPAMI 2011): split each d-dim vector into m subvectors,
# k-means each subspace independently, store each vector as m small codes.
# At 100 TB this is the memory story for vector search — a 64-dim float
# corpus (256 B/vector) compresses to m=8 one-byte codes (8 B/vector, 32x),
# and query-time asymmetric distance computation (ADC) is m table lookups
# per row instead of d multiplies. Split of labor mirrors multimodal.py:
# ingest-time encode is an Arrow-batched numpy kernel (bulk matmul, the
# justified-Python path), query-time ADC is pure JVM expressions — the hot
# search path stays whole-stage-codegen with no Python anywhere.


def pq_train(
    df: DataFrame,
    vec_col: str,
    m: int = 8,
    k: int = 16,
    sample_fraction: float = 0.2,
    max_sample: int = 10_000,
    iters: int = 10,
    seed: int = 42,
) -> list[list[list[float]]]:
    """Train PQ codebooks driver-side on a bounded sample (the standard PQ
    recipe — codebooks are tiny models, the corpus never leaves the
    cluster; same bounding discipline as train_ivf_centroids). Plain-L2
    Lloyd per subspace with maximin init. Returns codebooks[m][k][d/m]."""
    import numpy as np

    sample = (
        df.select(vec_col)
        .filter(F.col(vec_col).isNotNull())
        .sample(fraction=min(1.0, sample_fraction), seed=seed)
        .limit(max_sample)
        .collect()
    )
    if not sample:
        raise ValueError("pq_train: no non-null vectors in the sample")
    x = np.array([r[0] for r in sample], dtype=np.float64)
    d = x.shape[1]
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by m={m} subspaces")
    sub = d // m
    rng = np.random.default_rng(seed)
    books = []
    for s in range(m):
        xs = x[:, s * sub : (s + 1) * sub]
        kk = min(k, len(xs))
        # maximin init in L2: first pick seeded, then farthest-from-chosen
        chosen = [int(rng.integers(len(xs)))]
        dmin = ((xs - xs[chosen[0]]) ** 2).sum(axis=1)
        for _ in range(1, kk):
            nxt = int(np.argmax(dmin))
            chosen.append(nxt)
            dmin = np.minimum(dmin, ((xs - xs[nxt]) ** 2).sum(axis=1))
        cents = xs[chosen].copy()
        for _ in range(iters):
            d2 = ((xs[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(kk):
                mask = assign == c
                if mask.any():
                    cents[c] = xs[mask].mean(axis=0)
        books.append(cents.tolist())
    return books


def pq_encode(vec_col: str, codebooks: list[list[list[float]]]):
    """Column: array<int> of m PQ codes per vector (null vectors → null).
    Arrow-batched numpy argmin per subspace — the ingest-time bulk kernel
    (one matmul per batch per subspace), run once per corpus write; the
    search path never touches Python."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    books = [np.array(b, dtype=np.float64) for b in codebooks]
    sub = books[0].shape[1]
    m = len(books)
    # ||x-c||² = ||c||² - 2x·c + const(x): the centroid self-norms are
    # batch-invariant, computed once per task
    csq = [(cb * cb).sum(axis=1) for cb in books]

    expected_dim = m * sub

    @pandas_udf("array<int>")
    def enc(v: pd.Series) -> pd.Series:
        # Whole-batch GEMM per subspace (guide §4.2), not a per-row Python
        # loop of m matvecs: rows stack into one (n, d) matrix, each
        # subspace runs ONE (n, sub) @ (sub, k) matmul and a vectorized
        # argmin. Per-row Python is reduced to collecting the (rare)
        # valid-row indices and boxing the output lists. Code parity with
        # the former per-row form is pinned by
        # test_pq_encode_batch_matches_row_loop: np.argmin(axis=1) takes
        # the FIRST minimum exactly like the row-local argmin, and the
        # distance matrix is the same ||c||² - 2x·c expansion over the
        # same doubles (verified value-identical on the test corpora and a
        # seeded random battery incl. constructed exact ties).
        vals = v.to_numpy()
        out = np.full(len(vals), None, dtype=object)
        ok = [
            i
            for i, x in enumerate(vals)
            # mixed embedding versions: a short vector would crash the
            # matmul (killing the ingest job) and a long one would
            # silently truncate to wrong codes — both degrade to a null
            # code like null vectors do (code-review r4)
            if x is not None and len(x) == expected_dim
        ]
        if ok:
            X = np.asarray([vals[i] for i in ok], dtype=np.float64)
            codes = np.empty((len(ok), m), dtype=np.int64)
            for s, cb in enumerate(books):
                xs = X[:, s * sub : (s + 1) * sub]
                d2 = csq[s][None, :] - 2.0 * (xs @ cb.T)
                codes[:, s] = d2.argmin(axis=1)
            lists = codes.tolist()  # python ints, one C pass
            for j, i in enumerate(ok):
                out[i] = lists[j]
        return pd.Series(out)

    return enc(vec_col)


def pq_adc_dist(
    code_col: str, query: Sequence[float], codebooks: list[list[list[float]]]
):
    """Column: asymmetric L2² distance from `query` to a PQ-coded row — the
    per-subspace distance table is computed ONCE driver-side (m×k floats)
    and embedded as array literals, so the per-row work is m element_at
    lookups + a sum: pure whole-stage-codegen JVM, no Python, no join."""
    sub = len(codebooks[0][0])
    terms = []
    for s, book in enumerate(codebooks):
        qs = list(query[s * sub : (s + 1) * sub])
        table = [
            float(sum((a - b) ** 2 for a, b in zip(qs, cent))) for cent in book
        ]
        # element_at is 1-based; codes are 0-based
        terms.append(
            F.element_at(
                F.array(*[F.lit(t) for t in table]),
                F.col(code_col)[s] + F.lit(1),
            )
        )
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def pq_topk(
    df: DataFrame,
    query: Sequence[float],
    code_col: str,
    id_col: str,
    codebooks: list[list[list[float]]],
    k: int = 10,
    refine: int = 0,
    vec_col: str | None = None,
    refine_metric: str = "l2",
) -> DataFrame:
    """PQ-ADC top-k: rank the coded corpus by pq_adc_dist (ascending L2²)
    with a bounded TakeOrderedAndProject — the scan reads m-byte codes, not
    d-float vectors. refine>k re-ranks the ADC top-`refine` candidates
    EXACTLY on `vec_col` (the classic ADC + re-rank recipe): the exact math
    runs on `refine` rows, not the corpus, and recall approaches the
    brute-force baseline. refine_metric 'l2' (default — the metric ADC
    approximates, so candidate coverage transfers directly) or 'cosine'
    (normalized-embedding corpora). Returns [id_col, dist] or, refined,
    [id_col, dist|cos]."""
    dist = pq_adc_dist(code_col, query, codebooks)
    ranked = (
        df.select(F.col(id_col), dist.alias("dist"), *([vec_col] if refine else []))
        # null codes (pq_encode of a null vector) yield NULL distances, and
        # ascending order is NULLS FIRST — without the filter the junk rows
        # would BE the top-k (code-review r4)
        .filter(F.col("dist").isNotNull())
        .orderBy(F.col("dist").asc(), F.col(id_col).asc())
        .limit(max(k, refine))
    )
    if not refine:
        return ranked
    if vec_col is None:
        raise ValueError("refine requires vec_col for the exact re-rank")
    if refine_metric == "cosine":
        cos = VX.cosine_similarity(vec_col, list(query))
        return (
            ranked.select(F.col(id_col), cos.alias("cos"))
            .orderBy(F.col("cos").desc_nulls_last(), F.col(id_col).asc())
            .limit(k)
        )
    if refine_metric != "l2":
        raise ValueError("refine_metric must be 'l2' or 'cosine'")
    # exact ||x-q||² = ||x||² - 2 x·q + ||q||² — three JVM folds, no Python
    qq = float(sum(v * v for v in query))
    exact = (
        VX.squared_l2_norm(vec_col)
        - F.lit(2.0) * VX.dot_product(vec_col, list(query))
        + F.lit(qq)
    )
    return (
        ranked.select(F.col(id_col), exact.alias("dist"))
        .orderBy(F.col("dist").asc_nulls_last(), F.col(id_col).asc())
        .limit(k)
    )


def ivf_pq_topk(
    df: DataFrame,
    query: Sequence[float],
    code_col: str,
    id_col: str,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 10,
    nprobe: int = 4,
    list_col: str = "ivf_list",
    refine: int = 0,
    vec_col: str | None = None,
    refine_metric: str = "l2",
) -> DataFrame:
    """IVF-PQ (the FAISS IVFPQ composition): the coarse quantizer prunes
    the scan to `nprobe` inverted lists (partition pruning when the corpus
    is written partitioned by `list_col` — push.IvfIndexViewDef), and PQ codes
    shrink what those lists read 16-32×; ADC + optional exact re-rank
    within the probed lists only. At 100 TB: scan nprobe/n_lists of the
    directories × m bytes per vector — both axes of the search cost cut by
    an order of magnitude, all JVM-side."""
    probed = df.filter(F.col(list_col).isin(ivf_probe_lists(query, centroids, nprobe)))
    return pq_topk(
        probed, query, code_col, id_col, codebooks, k=k, refine=refine,
        vec_col=vec_col, refine_metric=refine_metric,
    )
