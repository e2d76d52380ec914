"""Similarity-search operators over an embedding column
(array<float>): brute-force cosine top-k (the exact baseline),
label-partitioned search (the IVF-shaped scale path), and
random-hyperplane LSH bucketing.

The vector math has two interchangeable physical kernels (see
``VECTOR_KERNEL``): the compact JVM left-fold
``F.aggregate(zip_with(...))`` over doubles, and an Arrow-batched
numpy pandas_udf performing the SAME per-dimension IEEE operation
sequence (bit-identical outputs, pinned by
tests/test_vector_kernel_parity.py). Three options were measured
same-session interleaved at sf0.1:

* unrolling the fold into 64-term ``F.get`` chains — REJECTED
  (brute-force 0.97->2.27 s, IVF dedup 9.8->39.3 s): Catalyst planning
  + codegen compile cost scales with expression-tree size and repeats
  per Lloyd job;
* interpreted fold (CodegenFallback, per-element lambda) — the old
  default;
* numpy pandas_udf — WINNER (brute-force 0.583->0.518 s, IVF dedup
  6.40->3.27 s, IVF top-k 2.42->1.44 s medians): one vectorized op per
  dimension per Arrow batch amortizes the Python boundary, and the
  Lloyd/assign path drops the k x dim literal arrays from every plan.

The hyperplanes are ±1 constants derived from md5 at import time
(deterministic, replayable, and reproducible in the SQL oracle twin).

Scale design: brute force is O(Q x N) — correct as the rerank stage;
the bucketed variants cut the candidate set first (bucket equi-join =
the same shuffle shape as every other key join in the engine). At
corpus scale the vectors stay columnar (no Python round-trip) and the
query side broadcasts.
"""

from __future__ import annotations

import hashlib
import os

# module-level so pandas_udf type-hint strings (PEP 563 in this
# module) resolve 'pd.Series' against the function globals
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DIM = 64
N_PLANES = 16

# Which physical kernel computes the vector math: "fold" = the compact
# JVM higher-order-function fold (interpreted per element,
# CodegenFallback), "numpy" = an Arrow-batched pandas_udf doing the
# SAME left fold vectorized across the batch (one numpy op per
# dimension — bit-identical IEEE operation order, so the two kernels
# are interchangeable under the hash-exact oracles; pinned by
# tests/test_vector_kernel_parity.py). Both were A/B-measured
# same-session at sf0.1 (bench/BASELINE.md round 5): numpy wins ~2x on
# the Lloyd/assign path and holds even on join-heavy rerank paths, so
# it is the default; the env override exists for measurement and for
# Arrow-less fallback.
VECTOR_KERNEL = os.environ.get("ETL_SPARK_VECTOR_KERNEL", "numpy")


def _as_double(col: F.Column) -> F.Column:
    return col.cast("array<double>")


def dot(a: F.Column, b: F.Column) -> F.Column:
    """Deterministic left-fold dot product (index order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: F.Column) -> F.Column:
    return F.sqrt(dot(a, a))


def cosine(a: F.Column, b: F.Column) -> F.Column:
    return dot(a, b) / (norm(a) * norm(b))


def _cosine_np_udf():
    """Arrow-batched cosine: the numpy twin of :func:`cosine`. The
    accumulation loops over DIMENSIONS (64 vectorized ops per batch),
    acc = acc + a_i*b_i in index order — the exact IEEE operation
    sequence of the JVM fold, so results are bit-identical and the
    SQL-oracle hash checks hold under either kernel.

    Null semantics match the fold exactly: a null vector on either
    side yields NULL (which sorts LAST under the descending top-k
    windows — a NaN here would sort FIRST and poison every top-k), and
    a length-mismatched pair yields NULL too (the fold's
    ``zip_with`` pads the short side with nulls, nulling the sum).
    A null ELEMENT on either side yields NULL too (the fold's null
    product nulls its sum); Arrow hands a null element over as NaN, so
    such rows are nulled after the math. A NaN element cannot be told
    from a null one on this side of the boundary and yields NULL as
    well (the fold gives NaN): NaN embeddings are out of contract.
    Rows are batched per vector length so ragged inputs never crash
    ``np.stack``. Zero-length/zero-norm vectors are out of contract
    (both kernels produce a 0/0)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _cos(a: pd.Series, b: pd.Series) -> pd.Series:
        out = np.full(len(a), None, dtype=object)
        mask = (a.notna() & b.notna()).to_numpy()
        idx = np.flatnonzero(mask)
        if len(idx):
            av = a.to_numpy()[idx]
            bv = b.to_numpy()[idx]
            la = np.array([len(x) for x in av])
            lb = np.array([len(x) for x in bv])
            for d in np.unique(la[la == lb]):
                if d == 0:
                    continue
                sel = (la == d) & (lb == d)
                A = np.stack(av[sel])
                B = np.stack(bv[sel])
                dot_ = np.zeros(len(A))
                na = np.zeros(len(A))
                nb = np.zeros(len(A))
                for i in range(d):
                    dot_ = dot_ + A[:, i] * B[:, i]
                    na = na + A[:, i] * A[:, i]
                    nb = nb + B[:, i] * B[:, i]
                vals = dot_ / (np.sqrt(na) * np.sqrt(nb))
                ok = ~(np.isnan(A).any(axis=1) | np.isnan(B).any(axis=1))
                # object dtype: null-element rows stay None; a 0/0 NaN
                # from a zero-norm vector stays NaN
                out[idx[sel][ok]] = vals[ok]
        return pd.Series(out, index=a.index, dtype=object)

    return _cos


def cosine_cols(a: F.Column, b: F.Column) -> F.Column:
    """Kernel dispatch for the hot cosine paths. The module flag is
    read at PLAN-BUILD time, so an A/B run flips it mid-session via
    ``sim.VECTOR_KERNEL = "fold"`` (the env var is read once at
    import and only sets the initial value)."""
    if VECTOR_KERNEL == "numpy":
        return _cosine_np_udf()(a, b)
    return cosine(a, b)


def cosine_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    block_col: str | None = None,
) -> DataFrame:
    """(a < b) pairs with cosine >= threshold. ``block_col`` restricts
    pairing to equal blocking keys (turning the cross join into an
    equi-join — the scale lever)."""
    sel = [F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v")]
    if block_col:
        sel.append(F.col(block_col).alias("blk"))
    base = df.select(*sel)
    a = base.select(*[F.col(c).alias(f"a_{c}") for c in base.columns])
    b = base.select(*[F.col(c).alias(f"b_{c}") for c in base.columns])
    if block_col:
        joined = a.join(b, F.col("a_blk") == F.col("b_blk"))
    else:
        joined = a.crossJoin(b)
    cos = cosine_cols(F.col("a_v"), F.col("b_v"))
    return (
        joined.filter(F.col("a_id") < F.col("b_id"))
        .withColumn("cos_raw", cos)
        .filter(F.col("cos_raw") >= threshold)
        .select(
            F.col("a_id"),
            F.col("b_id"),
            F.round(F.col("cos_raw"), 4).alias("cosine"),
        )
    )


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
) -> DataFrame:
    """Exact top-k neighbors per query vector: broadcast the (small)
    query side, score all corpus rows, row_number per query. The
    correctness baseline every approximate variant reranks against."""
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    )
    c = corpus.select(
        F.col(id_col).alias("cand_id"), _as_double(F.col(vec_col)).alias("cv")
    )
    scored = c.crossJoin(F.broadcast(q)).filter(
        F.col("query_id") != F.col("cand_id")
    )
    cos = cosine_cols(F.col("qv"), F.col("cv"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_raw").desc(), F.col("cand_id").asc()
    )
    return (
        scored.withColumn("cos_raw", cos)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "rank",
            "cand_id",
            F.round(F.col("cos_raw"), 4).alias("cosine"),
        )
    )


def partitioned_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    part_col: str,
    k: int = 5,
) -> DataFrame:
    """IVF-shaped search: probe only the query's partition (here the
    given ``part_col`` plays the coarse-quantizer cell). The cross join
    becomes an equi-join on the cell — candidate count drops by the
    partition fan-out, the plan is the standard skew-aware key join."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _as_double(F.col(vec_col)).alias("qv"),
        F.col(part_col).alias("cell"),
    )
    c = corpus.select(
        F.col(id_col).alias("cand_id"),
        _as_double(F.col(vec_col)).alias("cv"),
        F.col(part_col).alias("cell"),
    )
    scored = c.join(F.broadcast(q), "cell").filter(
        F.col("query_id") != F.col("cand_id")
    )
    cos = cosine_cols(F.col("qv"), F.col("cv"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_raw").desc(), F.col("cand_id").asc()
    )
    return (
        scored.withColumn("cos_raw", cos)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "cell",
            "rank",
            "cand_id",
            F.round(F.col("cos_raw"), 4).alias("cosine"),
        )
    )


def multiprobe_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    cell_col: str,
    centroids: list[list[float]],
    n_probes: int = 2,
    k: int = 5,
    *,
    cell_ids: list[int],
) -> DataFrame:
    """IVF search probing the ``n_probes`` nearest cells per query —
    the recall knob on top of :func:`partitioned_topk`'s single-probe
    plan. Same shape at scale: the query side explodes to n_probes
    (query, cell) rows (still tiny, still broadcast), the corpus side
    stays a cell-partitioned equi-join with file pruning; candidate
    count grows linearly in n_probes, never quadratically.

    Probe selection is deterministic: squared-L2 to each centroid via
    the same ordered fold as the quantizer, ties broken by lowest cell
    id (array_sort over (dist, cell) structs) — so ``n_probes=1``
    reproduces the assigned cell exactly and ``n_probes=len(centroids)``
    degenerates to the brute-force ranking.

    ``cell_ids`` is keyword-required on purpose: it must be the ids
    kmeans_cells returned alongside ``centroids``. A positional
    ``range(len(centroids))`` default would silently mislabel
    centroids whenever a Lloyd cell emptied (surviving ids become
    non-contiguous) — probes would then target nonexistent cells.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _as_double(F.col(vec_col)).alias("qv"),
    )
    q = q.withColumn(
        "cell",
        F.explode(_probe_cells(F.col("qv"), centroids, cell_ids, n_probes)),
    )
    c = corpus.select(
        F.col(id_col).alias("cand_id"),
        _as_double(F.col(vec_col)).alias("cv"),
        F.col(cell_col).alias("cell"),
    )
    scored = c.join(F.broadcast(q), "cell").filter(
        F.col("query_id") != F.col("cand_id")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_raw").desc(), F.col("cand_id").asc()
    )
    return (
        scored.withColumn("cos_raw", cosine_cols(F.col("qv"), F.col("cv")))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "rank",
            "cand_id",
            F.round(F.col("cos_raw"), 4).alias("cosine"),
        )
    )


def _sq_dists_np(E, centroids):
    """(n, k) squared-L2 distances with the SAME left-fold operation
    order as :func:`_sq_dist_to_literal` — diff, square, accumulate per
    dimension index — so cell assignments and probe rankings are
    bit-identical between kernels."""
    import numpy as np

    n, d = E.shape
    dists = np.empty((n, len(centroids)))
    for j, c in enumerate(centroids):
        acc = np.zeros(n)
        for i in range(d):
            diff = E[:, i] - c[i]
            acc = acc + diff * diff
        dists[:, j] = acc
    return dists


def _assign_np_udf(centroids: list[list[float]], cell_ids: list[int]):
    """numpy twin of the assign expression: argmin over the distance
    fold, first-minimum (= lowest cell id among the listed order, which
    is ascending) tiebreak — matching array_position(array_min). A
    null or wrong-dimension vector assigns a NULL cell, exactly as the
    fold does (zip_with against the centroid nulls every distance)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    cents = [list(c) for c in centroids]
    ids = list(map(int, cell_ids))
    dim = len(cents[0]) if cents else 0

    @pandas_udf("int")
    def _assign(e: pd.Series) -> pd.Series:
        out = np.full(len(e), None, dtype=object)
        mask = e.notna().to_numpy()
        idx = np.flatnonzero(mask)
        if len(idx):
            ev = e.to_numpy()[idx]
            ok = np.array([len(x) == dim for x in ev])
            if ok.any():
                E = np.stack(ev[ok])
                best = np.argmin(_sq_dists_np(E, cents), axis=1)
                cells = np.asarray(ids, dtype="int64")[best]
                out[idx[ok]] = [int(c) for c in cells]
        return pd.Series(out, index=e.index, dtype=object)

    return _assign


def _probe_np_udf(
    centroids: list[list[float]], cell_ids: list[int], n_probes: int
):
    """numpy twin of :func:`_probe_cells`: per row, cells sorted by
    (distance, cell id) — np.lexsort is exactly array_sort's
    struct(d, cell) order — truncated to n_probes. A null or
    wrong-dimension vector probes NOTHING (null list -> explode drops
    the row), the sane documented behavior for invalid vectors."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    cents = [list(c) for c in centroids]
    ids_arr = list(map(int, cell_ids))
    dim = len(cents[0]) if cents else 0

    @pandas_udf("array<int>")
    def _probe(e: pd.Series) -> pd.Series:
        out = np.full(len(e), None, dtype=object)
        mask = e.notna().to_numpy()
        idx = np.flatnonzero(mask)
        if len(idx):
            ev = e.to_numpy()[idx]
            ok = np.array([len(x) == dim for x in ev])
            if ok.any():
                E = np.stack(ev[ok])
                dists = _sq_dists_np(E, cents)
                ids = np.asarray(ids_arr, dtype="int64")
                for p, r in zip(idx[ok], range(len(E))):
                    order = np.lexsort((ids, dists[r]))
                    # element-wise: bulk-assigning a list of lists makes
                    # numpy build a 2-D array and garble the object slots
                    out[p] = [int(ids[i]) for i in order[:n_probes]]
        return pd.Series(out, index=e.index, dtype=object)

    return _probe


def _sq_dist_to_literal(vec: F.Column, centroid: list[float]) -> F.Column:
    """Σ_i (v[i]-c[i])^2 as a deterministic left fold (index order) —
    the same operation order as the oracle's list_sum(list_transform)."""
    c = F.array(*[F.lit(float(x)) for x in centroid])
    return F.aggregate(
        F.zip_with(vec, c, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _probe_cells(
    vec: F.Column,
    centroids: list[list[float]],
    cell_ids: list[int],
    n_probes: int,
) -> F.Column:
    """The ``n_probes`` nearest cell ids for a vector, as an array
    expression — the ONE definition of the oracle-pinned probe ranking
    (squared-L2 fold in index order, ties to the lowest cell id) shared
    by multiprobe search and IVF dedup; a tweak here diverges both
    against their oracles together, never one silently."""
    if VECTOR_KERNEL == "numpy":
        return _probe_np_udf(centroids, cell_ids, n_probes)(vec)
    probe_structs = F.array(
        *[
            F.struct(
                _sq_dist_to_literal(vec, c).alias("d"),
                F.lit(int(cid)).alias("cell"),
            )
            for cid, c in zip(cell_ids, centroids)
        ]
    )
    return F.transform(
        F.slice(F.array_sort(probe_structs), 1, n_probes), lambda s: s["cell"]
    )


def kmeans_cells(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    iters: int = 2,
    dim: int = DIM,
    max_training_rows: int | None = 100_000,
) -> tuple[DataFrame, list[list[float]], list[int]]:
    """Deterministic Lloyd k-means coarse quantizer: returns
    ``(assignments(id, cell), final_centroids, cell_ids)``.

    ``cell_ids`` is parallel to ``final_centroids``: a cell that empties
    during a Lloyd iteration disappears, so the surviving ids can be
    non-contiguous — callers that rank cells (multiprobe) MUST use the
    returned ids, never ``range(len(centroids))``.

    Every step is replay-stable and engine-portable so the IVF index has
    an exact SQL oracle twin:
      * init: the k lowest-id vectors (cell = rank-1) — no RNG;
      * assignment: argmin of squared L2, first-lowest-cell tiebreak;
      * update: per-dim mean where the summation order is pinned to
        ascending id (ordered fold over array_sort(collect_list)) —
        double addition is not associative, so an unordered SUM would
        diverge bit-wise between engines and between replays.

    The centroid update materializes each cell's member vectors in ONE
    collect_list array — fine on a bounded training set, an executor
    OOM if a 100 TB corpus lands in one cell. ``max_training_rows``
    therefore ENFORCES train-on-sample as the only path: when the input
    exceeds it, Lloyd runs on the deterministic id-hash sample
    ``pmod(xxhash64(id), ceil(n/max)) == 0`` (replay-stable, no RNG) and
    only the final assignment pass sees the full corpus — the pass that
    is a pure per-row argmin, no per-cell state. Pass ``None`` to train
    on everything (the oracle-twin path at test scale, where DuckDB
    re-derives the full Lloyd loop in SQL).

    The per-iteration ``collect`` is k centroid rows — bounded driver
    state, the same reduce shape MLlib's k-means uses. At 100 TB the
    cell column becomes the Iceberg partition; probes are file-pruned
    joins.
    """
    v = df.select(
        F.col(id_col).alias("vid"), _as_double(F.col(vec_col)).alias("e")
    )
    train = v
    if max_training_rows is not None:
        # Overflow probe first: count(limit(cap+1)) stops scanning at
        # the cap, so a bounded input never pays a full-corpus count
        # just to learn it is under the cap; the exact count (needed
        # for sample_mod) is computed only when actually over.
        probe = v.limit(max_training_rows + 1).count()
        if probe > max_training_rows:
            n = v.count()
            sample_mod = -(-n // max_training_rows)  # ceil
            train = v.filter(
                F.pmod(F.xxhash64(F.col("vid")), F.lit(sample_mod)) == 0
            )
    init = train.orderBy("vid").limit(k).collect()
    # (cell_id, vector) pairs, always ascending cell_id: a cell that
    # empties mid-iteration disappears but the surviving ids are stable,
    # matching the SQL twin's GROUP BY cell exactly.
    centroids: list[tuple[int, list[float]]] = [
        (i, list(r.e)) for i, r in enumerate(init)
    ]

    def assign(frame: DataFrame) -> DataFrame:
        if VECTOR_KERNEL == "numpy":
            kernel = _assign_np_udf(
                [c for _, c in centroids], [cid for cid, _ in centroids]
            )
            return frame.withColumn("cell", kernel(F.col("e")))
        dists = F.array(
            *[_sq_dist_to_literal(F.col("e"), c) for _, c in centroids]
        )
        cells = F.array(*[F.lit(cid) for cid, _ in centroids])
        # first position of the minimum -> lowest cell id wins ties
        return frame.withColumn(
            "cell",
            F.element_at(cells, F.array_position(dists, F.array_min(dists)).cast("int")),
        )

    for _ in range(iters):
        assigned = assign(train)
        sorted_members = F.array_sort(
            F.collect_list(F.struct(F.col("vid"), F.col("e")))
        )
        centroid_expr = F.transform(
            F.sequence(F.lit(1), F.lit(dim)),
            lambda i: F.aggregate(
                F.col("members"),
                F.lit(0.0),
                lambda acc, s: acc + F.element_at(s["e"], i),
            )
            / F.size(F.col("members")),
        )
        rows = (
            assigned.groupBy("cell")
            .agg(sorted_members.alias("members"))
            .select("cell", centroid_expr.alias("ce"))
            .collect()
        )
        centroids = sorted((int(r.cell), list(r.ce)) for r in rows)

    return (
        assign(v).select(F.col("vid"), "cell"),
        [c for _, c in centroids],
        [cid for cid, _ in centroids],
    )


def ivf_dedup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    k: int = 8,
    iters: int = 2,
    n_probes: int = 2,
    dim: int = DIM,
    max_training_rows: int | None = 100_000,
) -> DataFrame:
    """End-to-end IVF embedding dedup — the production ANN-dedup shape:
    build the learned coarse quantizer (:func:`kmeans_cells`), generate
    candidate pairs by probing each vector's ``n_probes`` nearest cells
    against the corpus's assigned cells, then exact-cosine rerank and
    keep ``(a < b)`` pairs with cosine >= threshold.

    Scale shape: every stage is a key equi-join. The probe table is
    ``n_probes`` rows per vector (linear fan-out); the candidate join is
    cell-partitioned, so pair count is bounded by cell size x n_probes
    instead of corpus^2; the rerank is two id equi-joins back to the
    vectors. Probe #1 is always the assigned cell (same distance fold,
    same lowest-cell tiebreak), so n_probes=1 degenerates to
    within-cell dedup and recall grows monotonically with n_probes —
    the knob a user turns when the blocked-recall/all-pairs gap
    (dedup_embedding_cosine vs this) matters."""
    cells, centroids, cell_ids = kmeans_cells(
        df, id_col, vec_col, k=k, iters=iters, dim=dim,
        max_training_rows=max_training_rows,
    )
    v = df.select(
        F.col(id_col).alias("vid"), _as_double(F.col(vec_col)).alias("e")
    )
    probes = v.select(
        F.col("vid").alias("p_id"),
        F.explode(
            _probe_cells(F.col("e"), centroids, cell_ids, n_probes)
        ).alias("cell"),
    )
    assigned = cells.select(F.col("vid").alias("c_id"), "cell")
    pairs = (
        probes.join(assigned, "cell")
        .filter(F.col("p_id") != F.col("c_id"))
        .select(
            F.least("p_id", "c_id").alias("a_id"),
            F.greatest("p_id", "c_id").alias("b_id"),
        )
        .distinct()
    )
    va = v.select(F.col("vid").alias("a_id"), F.col("e").alias("a_v"))
    vb = v.select(F.col("vid").alias("b_id"), F.col("e").alias("b_v"))
    return (
        pairs.join(va, "a_id")
        .join(vb, "b_id")
        .withColumn("cos_raw", cosine_cols(F.col("a_v"), F.col("b_v")))
        .filter(F.col("cos_raw") >= threshold)
        .select(
            "a_id", "b_id", F.round(F.col("cos_raw"), 4).alias("cosine")
        )
    )


def hyperplanes(n_planes: int = N_PLANES, dim: int = DIM) -> list[list[int]]:
    """±1 hyperplanes from md5(plane|coord) parity — deterministic,
    engine-independent constants (the oracle SQL embeds the same
    literals)."""
    planes = []
    for p in range(n_planes):
        row = []
        for i in range(dim):
            h = hashlib.md5(f"{p}|{i}".encode()).hexdigest()
            row.append(1 if int(h[0], 16) % 2 == 0 else -1)
        planes.append(row)
    return planes


def lsh_signature(vec: F.Column, planes: list[list[int]]) -> F.Column:
    """Bit string: sign(dot(plane, v)) per plane."""
    bits = [
        F.when(
            dot(F.array(*[F.lit(float(x)) for x in row]), vec) > 0, F.lit("1")
        ).otherwise(F.lit("0"))
        for row in planes
    ]
    return F.concat(*bits)


def lsh_bucket_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 3,
    planes: list[list[int]] | None = None,
) -> DataFrame:
    """Random-hyperplane LSH: bucket = 16-bit sign signature; candidates
    share the query's bucket; exact cosine rerank inside the bucket.
    Approximate by design — recall is the banding trade — but fully
    deterministic, so the oracle twin reproduces it bit-for-bit."""
    planes = planes or hyperplanes()
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    ).withColumn("sig", lsh_signature(F.col("qv"), planes))
    c = corpus.select(
        F.col(id_col).alias("cand_id"), _as_double(F.col(vec_col)).alias("cv")
    ).withColumn("sig", lsh_signature(F.col("cv"), planes))
    scored = c.join(F.broadcast(q), "sig").filter(
        F.col("query_id") != F.col("cand_id")
    )
    cos = cosine_cols(F.col("qv"), F.col("cv"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_raw").desc(), F.col("cand_id").asc()
    )
    return (
        scored.withColumn("cos_raw", cos)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "rank",
            "cand_id",
            F.round(F.col("cos_raw"), 4).alias("cosine"),
        )
    )
