"""Similarity search over embedding columns (array<float>).

Two tiers:
  cosine_topk              exact brute-force top-k — the correctness
                           baseline; one pass over the table, JVM-side
                           arithmetic, no shuffle until the final top-k
                           (Spark's TakeOrdered is a per-partition heap
                           + driver merge, so it scales linearly)
  ivf_topk                 IVF-style approximate search: deterministic
                           seeded k-means centroids (min-key init,
                           fixed Lloyd iterations, rounded means),
                           assign every vector to its nearest centroid
                           (one map pass), search only the nprobe
                           closest cells — the 100 TB path
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import vectors as V
from ._common import col_ref


def _lit_vec(vec: list[float]) -> Column:
    # None elements stay NULL literals (a NULL-element center makes
    # every distance NULL, which null-skipping least()/greatest()
    # then ignore — the kcenter sql loop's NaN-lane contract)
    return F.array(
        *[
            F.lit(None).cast("double") if x is None else F.lit(float(x))
            for x in vec
        ]
    )


def _gather_vectors(base: DataFrame):
    """Driver gather of a (key, vec: array<double>) frame as
    (keys, float64 matrix) through the Arrow path: the list column's
    flat values buffer reshapes with O(1) copies — measured ~7×
    faster than a Row collect at 2·10⁵×64 (Row objects + per-element
    Python conversion dominate there).  NULL ELEMENTS arrive as NaN;
    NULL ROWS and ragged lengths are REJECTED here rather than trusted
    to fail in the reshape — flatten() silently drops a null row's
    slot, and (n-1)·dim rows still reshape "successfully" whenever the
    product divides by n (e.g. n=2, dim=2 → (2, 1)), misaligning every
    vector after the null (ADVICE r10).  All call sites pre-filter
    NULL rows, so the checks are a tripwire, not a live path."""
    import numpy as np
    import pyarrow.compute as pc

    tbl = base.toArrow()
    keys = tbl.column(0).to_pylist()
    if not keys:
        return keys, np.empty((0, 0), dtype=np.float64)
    col = tbl.column(1).combine_chunks()
    if col.null_count:
        raise ValueError(
            f"_gather_vectors: {col.null_count} NULL vector rows — "
            "filter them upstream, a dropped slot would misalign the "
            "fixed-dim reshape"
        )
    lens = pc.unique(pc.list_value_length(col)).to_pylist()
    if len(lens) != 1:
        raise ValueError(
            f"_gather_vectors: ragged vector lengths {sorted(lens)} — "
            "a fixed-dim matrix needs uniform dimensions"
        )
    flat = col.flatten().to_numpy(zero_copy_only=False)
    return keys, flat.reshape(len(keys), -1)


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
    impl: str = "expr",
) -> DataFrame:
    """Exact top-k by cosine similarity to a literal query vector.
    Deterministic tie-break on key. Returns (key, cosine) columns named
    (<key_col>, cosine).

    ``impl="arrow"`` swaps the per-row interpreted HOF cosine for the
    `_cosine_lit_arrow` kernel (exact fold replay + Spark-exact
    rounding — bit-identical scores): this is THE full-corpus scan of
    exact retrieval, so at 10⁹ rows the ~3·dim interpreted ops per
    row are the bottleneck the kernel removes; the final top-k stays
    Spark's TakeOrdered either way (per-partition heap + driver
    merge, no shuffle)."""
    if impl not in ("expr", "arrow"):
        raise ValueError(f"impl must be 'expr' or 'arrow', got {impl!r}")
    if impl == "arrow":
        score = _cosine_lit_arrow(query_vec, 6)(
            F.col(vec_col).cast("array<double>")
        )
    else:
        score = F.round(V.cosine(F.col(vec_col), _lit_vec(query_vec)), 6)
    scored = df.select(F.col(key_col), score.alias("cosine"))
    return scored.orderBy(F.col("cosine").desc(), F.col(key_col).asc()).limit(k)


def _cosine_lit_arrow(query_vec: list[float], dp: int):
    """Arrow kernel for ``round(cosine(vec, <literal query>), dp)`` —
    `cosine_topk(impl="arrow")`'s scan lever.  Exact replica of
    `vectors.cosine` against a constant query: dot and both squared
    norms fold left-to-right per dimension, cos = dot /
    (sqrt(nv)·sqrt(nq)), zero denominators → NULL (Spark's non-ANSI
    divide), rounding via `_kmeans_np.round_spark`; NULL vectors
    null-propagate."""
    import numpy as np
    import pandas as pd

    from ._kmeans_np import round_spark

    q = [float(x) for x in query_vec]
    nq = 0.0
    for x in q:
        nq = nq + x * x
    import math as _math

    nq_root = _math.sqrt(nq)

    def _fn(vs):
        n = len(vs)
        if n == 0:
            return pd.Series([], dtype="float64")
        valid = np.array([v is not None for v in vs], dtype=bool)
        out = pd.Series([None] * n, dtype="object")
        if valid.any():
            M = np.array(
                [np.asarray(v, dtype=np.float64) for v in vs[valid]]
            )
            dot = np.zeros(M.shape[0])
            nv = np.zeros(M.shape[0])
            for d in range(M.shape[1]):
                dot = dot + M[:, d] * q[d]
                nv = nv + M[:, d] * M[:, d]
            denom = np.sqrt(nv) * nq_root
            # zero denom → NULL (non-ANSI divide); non-finite (a NULL
            # element's NaN) → NULL, like the expression fold
            ok = np.isfinite(denom) & (denom != 0)
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = round_spark(dot / np.where(ok, denom, 1.0), dp)
            ok &= np.isfinite(cos)
            res = np.full(int(valid.sum()), None, dtype=object)
            res[ok] = cos[ok]
            o = out.to_numpy()
            o[valid] = res
            out = pd.Series(o, dtype="object")
        return out

    _fn.__annotations__ = {"vs": pd.Series, "return": pd.Series}
    return F.pandas_udf(_fn, "double")


def train_ivf_centroids(
    df: DataFrame,
    num_cells: int = 16,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
    iters: int = 2,
    round_dp: int = 6,
    assign_impl: str = "expr",
    engine: str = "sql",
    max_train_rows: int | None = None,
) -> list[list[float]]:
    """Deterministic Lloyd's k-means for IVF centroids.

    ``engine`` picks the executor for the SAME algorithm, the
    `quantize.pq_train` contract (unit-pinned identical centroids):

    * ``"sql"`` (default): the in-engine loop below — the cross-engine
      SPEC the q23 oracle unrolls CTE-for-CTE.  The default stays on
      the spec executor for the same reason `train_logreg`'s does: the
      numpy replica carries two documented tolerance-level channels
      (F.avg's partition fold vs np.mean's pairwise sum under the
      rounded mean; NaN-element argmax ordering), so the oracle-pinned
      path must not ride them by default (ADVICE r10).
      ``assign_impl="gemm"`` vectorizes its per-iteration assignment
      scan (see `assign_cells`) — the in-engine lever at large
      num_cells.
    * ``"numpy"``: collect the training frame ONCE and run the Lloyd
      loop driver-side (`_kmeans_np.ivf_train_np`) — O(1) Spark jobs
      instead of iters·2 per-iteration round-trips; centroids are
      metadata by construction.  REFUSES a pool larger than
      `_kmeans_np.DRIVER_TRAIN_CAP` unless ``max_train_rows`` opts
      into sampling.  ``assign_impl`` is moot here.
    * ``"auto"``: numpy while the (possibly capped) pool fits
      DRIVER_TRAIN_CAP, falling back to the distributed sql loop on
      the FULL pool above it — never a silent sample, so every engine
      choice computes exactly what the oracle spec says
      (`kcenter_select`'s fallback contract).

    ``max_train_rows`` is an OPT-IN cap (default None = train on the
    whole pool, the q23/q126 oracle spec): when set and the pool is
    larger, the deterministic 1/ceil(n/cap) md5 key-sample is applied
    before engine dispatch, so both engines train on identical frames.
    Sampling changes the trained centroids by construction — that is
    the caller's explicit scale/fidelity trade, never a default
    (ADVICE r10: the previous 100k default silently diverged from the
    oracle above 100k rows).

    Fully reproducible by construction: the init is the `num_cells`
    smallest-key vectors (a seedless deterministic sample, the same
    choice the pre-r5 IVF used as its FINAL centroids), the iteration
    count is fixed, and each iteration's per-dimension means are
    ROUNDED to `round_dp` decimals before reuse — summation order
    differs run-to-run (and engine-to-engine), so raw means drift by
    ulps; rounding pins them, which keeps the resulting plan
    oracle-reproducible in plain SQL (unrolled CTEs, one per
    iteration — see Q23_SQL in __spark_entry__.py).

    Scale shape (sql engine): each iteration is one distributed
    assignment map pass (centroids inlined as literals) plus one
    posexplode + (cell, dim)-keyed avg — map-side combinable,
    `num_cells * dim` output rows — and collects only that tiny grid.
    Cells that lose all members keep their previous centroid (k never
    shrinks).  Cosine assignment, so means are taken over raw
    vectors; for unit vectors this is spherical k-means without the
    re-normalize step.
    """
    if engine not in ("auto", "numpy", "sql"):
        raise ValueError(
            f"engine must be 'auto', 'numpy', or 'sql', got {engine!r}"
        )
    from ._iterate import iterate_fixed

    # NULL embeddings are excluded BEFORE the smallest-key init: NULL
    # keys/vectors sort first, so an unfiltered collect would seed
    # None and crash the float() unpack (kcenter_select's guard, here)
    clean = df.where(
        F.col(vec_col).isNotNull() & F.col(key_col).isNotNull()
    )
    exact_n = None  # pool size, when the branch below already measured it
    if max_train_rows is not None:
        n = clean.count()
        if n > max_train_rows:
            from ._sampling import hash_sample

            clean = hash_sample(
                clean, key_col, -(-n // max_train_rows)
            )
        else:
            exact_n = n  # unsampled: the count IS the pool size
    if engine != "sql":
        from ._kmeans_np import DRIVER_TRAIN_CAP

        # over-cap gate without a full scan (the pq_train ADVICE r11
        # fix, applied symmetrically): the dispatch only needs "more
        # than CAP?", so scan at most CAP+1 rows — or reuse the exact
        # count the max_train_rows branch took on an unsampled pool
        if exact_n is not None:
            over_cap = exact_n > DRIVER_TRAIN_CAP
        else:
            over_cap = (
                clean.limit(DRIVER_TRAIN_CAP + 1).count() > DRIVER_TRAIN_CAP
            )
        if over_cap:
            if engine == "numpy":
                raise ValueError(
                    f"train_ivf_centroids(engine='numpy') refuses a "
                    f"training pool over {DRIVER_TRAIN_CAP} rows: "
                    "pass max_train_rows to opt into the deterministic "
                    "hash-sample, or use engine='sql'/'auto'"
                )
            engine = "sql"  # auto: distributed loop on the full pool
    if engine != "sql":
        from ._kmeans_np import ivf_train_np

        keys, X = _gather_vectors(
            clean.select(
                F.col(key_col).alias("key"),
                F.col(vec_col).cast("array<double>").alias("vec"),
            )
        )
        return ivf_train_np(keys, X, num_cells, iters, round_dp)
    init = [
        [float(x) for x in r[1]]
        for r in clean.select(key_col, vec_col)
        .orderBy(F.col(key_col).asc())
        .limit(num_cells)
        .collect()
    ]
    dim = len(init[0]) if init else 0

    def step(cents: list[list[float]]):
        return (
            assign_cells(clean, cents, vec_col, impl=assign_impl)
            .select(
                "cell_id",
                F.posexplode(F.col(vec_col).cast("array<double>")).alias(
                    "pos", "val"
                ),
            )
            .groupBy("cell_id", "pos")
            .agg(F.round(F.avg("val"), round_dp).alias("m"))
            .collect()
        )

    def update(cents: list[list[float]], rows) -> list[list[float]]:
        by_cell: dict[int, dict[int, float]] = {}
        for r in rows:
            by_cell.setdefault(r["cell_id"], {})[r["pos"]] = r["m"]
        return [
            [by_cell[i][p] for p in range(dim)] if i in by_cell else cents[i]
            for i in range(len(cents))
        ]

    return iterate_fixed(init, iters, step, update)


def ivf_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
    num_cells: int = 16,
    nprobe: int = 4,
    train_iters: int = 2,
    impl: str = "expr",
) -> DataFrame:
    """IVF approximate top-k.

    Centroids come from `train_ivf_centroids` (deterministic seeded
    k-means; `train_iters=0` reproduces the pre-r5 min-key-sample
    centroids). The big table gets ONE extra map pass to tag each row
    with its nearest cell (centroids broadcast as literals); queries
    touch only `nprobe` cells, i.e. ~nprobe/num_cells of the data.
    With the table written partitioned by cell_id, partition pruning
    makes that literal.  ``impl`` feeds BOTH per-row passes the
    family's vectorized kernels: the assignment map pass takes
    `assign_cells(impl="gemm")` and the probe scan the `cosine_topk`
    arrow kernel — bit-identical results either way.
    """
    if impl not in ("expr", "gemm"):
        raise ValueError(f"impl must be 'expr' or 'gemm', got {impl!r}")
    centroids = train_ivf_centroids(
        df, num_cells, vec_col, key_col, iters=train_iters
    )
    assigned = assign_cells(df, centroids, vec_col, impl=impl)
    probe_order = sorted(
        range(len(centroids)),
        key=lambda i: -_py_cosine(query_vec, centroids[i]),
    )
    probes = probe_order[:nprobe]
    if impl == "gemm":
        score = _cosine_lit_arrow(query_vec, 6)(
            F.col(vec_col).cast("array<double>")
        )
    else:
        score = F.round(V.cosine(F.col(vec_col), _lit_vec(query_vec)), 6)
    return (
        assigned.where(F.col("cell_id").isin(probes))
        .select(F.col(key_col), score.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(key_col).asc())
        .limit(k)
    )


def assign_cells(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    impl: str = "expr",
) -> DataFrame:
    """Tag each row with the id of its max-cosine centroid, entirely
    with column expressions (centroids inlined as literals — they are
    small by construction).

    ``impl="gemm"`` is the ingest-scale path: higher-order-function
    expressions evaluate INTERPRETED per element, so the default costs
    ~num_cells·dim interpreted ops per row — fine at 16 cells, the
    dominant per-ingest cost at a 1024-cell index over 10⁹ rows.  The
    gemm variant runs one Arrow-batched (rows × dim)·(dim × cells)
    float64 matmul per batch (the dedup.py sign-LSH kernel's shape) —
    same lowest-index argmax tiebreak, centroids pre-normalized so the
    dot ranking equals the cosine ranking row-wise (norm(row) > 0 is a
    positive per-row constant; zero-norm rows get NULL cell_id, the
    expression path's null-propagation).  BLAS-vectorized ≈ two orders
    faster per row; ulp-level differences vs the interpreted fold can
    flip only exact near-ties (unit-pinned equal on the driver
    embeddings).

    Similarities go into ONE array column, computed by a single cosine
    lambda `transform`-ed over the constant-folded literal centroid
    array — num_cells·dim literal DATA, one expression of code, so
    plan compile and codegen are O(1) in num_cells (the r9 battery
    form from quantize._dist_battery; the previous per-centroid
    unrolled expressions made num_cells=1024 plans compile-bound, the
    same defect as the PQ k=256 ceiling). array_position(max) keeps
    the lowest index on ties, same as a strict-> when chain.
    """
    if impl == "gemm":
        return _assign_cells_gemm(df, centroids, vec_col)
    if impl != "expr":
        raise ValueError(f"impl must be 'expr' or 'gemm', got {impl!r}")
    cents = F.array(*[_lit_vec(c) for c in centroids])
    sims = F.transform(cents, lambda c: V.cosine(F.col(vec_col), c))
    return df.withColumn(
        "cell_id",
        (F.array_position(sims, F.array_max(sims)) - 1).cast("int"),
    )


def _assign_cells_gemm(
    df: DataFrame, centroids: list[list[float]], vec_col: str = "embedding"
) -> DataFrame:
    """Arrow-vectorized cell assignment (see `assign_cells` impl
    switch): one float64 GEMM against the pre-normalized centroid
    matrix per batch, first-occurrence argmax (numpy's rule == the
    expression path's lowest-index tiebreak)."""
    import numpy as np
    import pandas as pd

    C = np.asarray(centroids, dtype=np.float64)
    cn = np.linalg.norm(C, axis=1)
    cn[cn == 0] = 1.0  # zero-norm centroid: cosine 0/0 → keep dot=0
    Cn = (C / cn[:, None]).T  # (dim, cells)

    def _cell_fn(vs):
        n = len(vs)
        if n == 0:
            return pd.Series([], dtype="Int32")
        # NULL embeddings must survive with NULL cell_id (the
        # assign_cells contract semdedup relies on) — mask them out
        # BEFORE the matmul; np.array over a batch containing None
        # rows would raise instead of null-propagating.  Rows whose
        # norm is 0 or non-finite (a NULL/NaN element) go NULL too,
        # the expression path's cosine null-propagation.
        valid = np.array([v is not None for v in vs], dtype=bool)
        out = pd.Series([pd.NA] * n, dtype="Int32")
        if valid.any():
            M = np.array(
                [np.asarray(v, dtype=np.float64) for v in vs[valid]]
            )
            ids = pd.array(
                np.argmax(M @ Cn, axis=1).astype("int32"), dtype="Int32"
            )
            norms = np.linalg.norm(M, axis=1)
            ids[~(np.isfinite(norms) & (norms > 0))] = pd.NA
            out[valid] = ids
        return out

    # real-class annotations: `from __future__ import annotations`
    # stringifies inline ones, which pandas_udf rejects (the dedup.py
    # GEMM kernel's convention)
    _cell_fn.__annotations__ = {"vs": pd.Series, "return": pd.Series}
    _cell = F.pandas_udf(_cell_fn, "int")
    return df.withColumn("cell_id", _cell(F.col(vec_col).cast("array<double>")))


def build_ivf_index(
    df: DataFrame,
    path: str,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
    num_cells: int = 16,
    train_iters: int = 2,
    assign_impl: str = "expr",
) -> None:
    """Materialize the IVF index as a cell-partitioned parquet table.

    This is the 100 TB shape of ivf_topk: pay the centroid training +
    assignment pass ONCE at ingest, write `partitionBy(cell_id)`, and
    every subsequent query reads only its nprobe cell directories —
    probe selectivity becomes Catalyst partition pruning
    (PartitionFilters on the scan, zero bytes read from unprobed
    cells) instead of a filter over the full corpus. Centroids ride
    along in an underscore-prefixed side directory, which Spark's file
    listing ignores.
    """
    # NULL-embedding rows are dropped up front (the build_ivfpq_index
    # convention): they can neither train nor be assigned a cell, and
    # would otherwise land in a NULL partition directory
    clean = df.where(F.col(vec_col).isNotNull())
    centroids = train_ivf_centroids(
        clean, num_cells, vec_col, key_col, iters=train_iters,
        assign_impl=assign_impl,
    )
    # assign_impl="gemm" is the big-corpus lever: the assignment pass
    # is the one full-corpus scan here, and the Arrow GEMM kernel is
    # ~65x the interpreted expression battery at 1024 cells
    # (unit-pinned identical assignments; see assign_cells)
    assigned = assign_cells(clean, centroids, vec_col, impl=assign_impl)
    assigned.write.mode("overwrite").partitionBy("cell_id").parquet(path)
    spark = df.sparkSession
    cdf = spark.createDataFrame(
        list(enumerate(centroids)),
        "cell_id int, centroid array<double>",
    )
    cdf.coalesce(1).write.mode("overwrite").parquet(f"{path}/_ivf_centroids")


def append_to_ivf_index(
    spark,
    batch: DataFrame,
    path: str,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
    assign_impl: str = "expr",
) -> None:
    """Incremental IVF maintenance: assign a delta batch of vectors to
    the index's EXISTING trained centroids and append them to their
    cell partitions — the per-ingest path that keeps `build_ivf_index`
    a one-time cost.

    Centroids stay fixed (standard IVF practice: retraining moves cell
    boundaries and would strand previously-assigned vectors; re-run
    `build_ivf_index` offline when drift accumulates — compare
    `embedding_dim_stats` over time to decide). Cost per batch: one
    map-side assignment pass against the centroid literals + one
    partitioned append; the stored corpus is never read or rewritten.
    A replayed batch appends duplicate rows — callers needing
    exactly-once wrap this with the key anti-join guard the
    streaming-ingest module uses.
    """
    rows = spark.read.parquet(f"{path}/_ivf_centroids").collect()
    centroids = [
        [float(x) for x in r["centroid"]]
        for r in sorted(rows, key=lambda r: r["cell_id"])
    ]
    # append with the INDEX's exact column set: build_ivf_index wrote
    # every df column, so a (key, vec)-only append would leave the
    # directory with mixed parquet schemas and later reads would
    # nondeterministically drop or null the extra columns depending on
    # which footer Spark samples
    data_cols = [
        c for c in spark.read.parquet(path).columns if c != "cell_id"
    ]
    missing = [c for c in data_cols if c not in batch.columns]
    if missing:
        raise ValueError(
            f"batch is missing index columns {missing}; appends must "
            "carry the same columns the index was built with"
        )
    assigned = assign_cells(
        batch.select(*data_cols).where(F.col(vec_col).isNotNull()),
        centroids,
        vec_col,
        impl=assign_impl,
    )
    assigned.write.mode("append").partitionBy("cell_id").parquet(path)


def ivf_topk_indexed(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
    nprobe: int = 4,
    impl: str = "expr",
) -> DataFrame:
    """Query a build_ivf_index table: rank cells by centroid cosine on
    the driver (centroid set is tiny), then scan ONLY the nprobe
    nearest cell partitions — the cell_id filter is a partition-pruning
    predicate, so unprobed cells cost zero IO.  ``impl="arrow"`` swaps
    the probe scan's interpreted HOF cosine for the `cosine_topk`
    kernel (bit-identical scores) — the same lever, applied after the
    pruning has already cut the scan to nprobe/num_cells of the
    corpus."""
    if impl not in ("expr", "arrow"):
        raise ValueError(f"impl must be 'expr' or 'arrow', got {impl!r}")
    centroids = {
        r["cell_id"]: [float(x) for x in r["centroid"]]
        for r in spark.read.parquet(f"{path}/_ivf_centroids").collect()
    }
    probe_order = sorted(
        centroids, key=lambda i: -_py_cosine(query_vec, centroids[i])
    )
    probes = probe_order[:nprobe]
    if impl == "arrow":
        score = _cosine_lit_arrow(query_vec, 6)(
            F.col(vec_col).cast("array<double>")
        )
    else:
        score = F.round(V.cosine(F.col(vec_col), _lit_vec(query_vec)), 6)
    return (
        spark.read.parquet(path)
        .where(F.col("cell_id").isin(probes))
        .select(F.col(key_col), score.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(key_col).asc())
        .limit(k)
    )


def deterministic_hyperplanes(
    dim: int, n_planes: int = 3, seed: int = 20
) -> list[list[float]]:
    """Gaussian sign-LSH hyperplanes from a seeded PRNG — the SAME
    float64 values on every call, so they can be inlined as literals
    into both a Spark plan and an oracle SQL string (repr() round-trips
    doubles exactly)."""
    import random

    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def _py_cosine(a: list[float], b: list[float]) -> float:
    num = sum(x * y for x, y in zip(a, b))
    na = sum(x * x for x in a) ** 0.5
    nb = sum(y * y for y in b) ** 0.5
    return num / (na * nb) if na and nb else 0.0


def _sqdist_lit_arrow(center: list[float], dp: int):
    """Arrow kernel for ``round(sqdist(vec, <literal center>), dp)`` —
    the per-hop distance of `kcenter_select(impl="arrow")`.  Replays
    `vectors.sqdist`'s left-to-right fold dimension by dimension (acc
    = 0 + t₀² + t₁² + …) and rounds with Spark's exact F.round
    semantics (`_kmeans_np.round_spark`), so values are bit-equal to
    the expression path; NULL vectors null-propagate.  One fused
    numpy pass per batch instead of ~dim interpreted HOF ops per
    row."""
    import numpy as np
    import pandas as pd

    from ._kmeans_np import round_spark

    # a None element poisons every fold lane to NaN, which the
    # isfinite gate below turns into all-NULL distances — exactly the
    # expression path's null-propagation for a NULL-element literal
    cw = [float("nan") if x is None else float(x) for x in center]

    def _fn(vs):
        n = len(vs)
        if n == 0:
            return pd.Series([], dtype="float64")
        valid = np.array([v is not None for v in vs], dtype=bool)
        out = pd.Series([None] * n, dtype="object")
        if valid.any():
            M = np.array(
                [np.asarray(v, dtype=np.float64) for v in vs[valid]]
            )
            acc = np.zeros(M.shape[0])
            for d in range(M.shape[1]):
                t = M[:, d] - cw[d]
                acc = acc + t * t
            # NULL elements arrive as NaN and must null-propagate like
            # the expression fold (NULL element → NULL distance)
            ok = np.isfinite(acc)
            res = np.full(M.shape[0], None, dtype=object)
            if ok.any():
                res[ok] = round_spark(acc[ok], dp)
            o = out.to_numpy()
            o[valid] = res
            out = pd.Series(o, dtype="object")
        return out

    _fn.__annotations__ = {"vs": pd.Series, "return": pd.Series}
    return F.pandas_udf(_fn, "double")


def _pair_cosine_arrow(dp: int):
    """Arrow kernel for ``round(cosine(a, b), dp)`` over two array
    COLUMNS — the scoring row of `centroid_outlier_scores(
    impl="arrow")`, where every row meets a different (group) centroid
    so the literal-battery form doesn't apply.  Exact replica of
    `vectors.cosine`: dot and both squared norms are left-to-right
    per-dimension folds, cos = dot / (sqrt(na)·sqrt(nb)), zero
    denominators → NULL (Spark's non-ANSI divide), rounding via
    `round_spark`."""
    import numpy as np
    import pandas as pd

    from ._kmeans_np import round_spark

    def _fn(va, vb):
        n = len(va)
        if n == 0:
            return pd.Series([], dtype="float64")
        valid = np.array(
            [a is not None and b is not None for a, b in zip(va, vb)],
            dtype=bool,
        )
        out = pd.Series([None] * n, dtype="object")
        if valid.any():
            A = np.array(
                [np.asarray(v, dtype=np.float64) for v in va[valid]]
            )
            B = np.array(
                [np.asarray(v, dtype=np.float64) for v in vb[valid]]
            )
            dot = np.zeros(A.shape[0])
            na = np.zeros(A.shape[0])
            nb = np.zeros(A.shape[0])
            for d in range(A.shape[1]):
                dot = dot + A[:, d] * B[:, d]
                na = na + A[:, d] * A[:, d]
                nb = nb + B[:, d] * B[:, d]
            denom = np.sqrt(na) * np.sqrt(nb)
            # zero denom → NULL (non-ANSI divide); non-finite (a NULL
            # element's NaN) → NULL, like the expression fold
            ok = np.isfinite(denom) & (denom != 0)
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = round_spark(dot / np.where(ok, denom, 1.0), dp)
            ok &= np.isfinite(cos)
            res = np.full(valid.shape[0], None, dtype=object)
            res[np.flatnonzero(valid)[ok]] = cos[ok]
            out[:] = res
        return out

    _fn.__annotations__ = {
        "va": pd.Series,
        "vb": pd.Series,
        "return": pd.Series,
    }
    return F.pandas_udf(_fn, "double")


def centroid_outlier_scores(
    df: DataFrame,
    vec_col: str = "embedding",
    group_col: str = "label",
    key_col: str = "vec_id",
    round_dp: int = 6,
    impl: str = "expr",
) -> DataFrame:
    """Embedding-space outlier scoring: each vector's cosine to its
    GROUP's mean vector (per-label centroid). Low cosine = far from
    the group's center — the distributed form of the "drop embeddings
    that don't look like their cluster" curation filter (mislabeled
    data, encoder glitches, off-domain content).

    Returns (key_col, group_col, centroid_cosine).

    Scale shape: the centroid is a per-dimension average — ONE
    posexplode to (group, dim, value) rows, one (group, dim)-keyed
    aggregate (map-side combinable, G*dim output rows), one
    G-row array rebuild; scoring joins the tiny centroid table back by
    BROADCAST and evaluates one zip_with dot per row. No collect; the
    N*dim exploded shuffle is the only corpus-sized movement, and it
    carries 8-byte doubles, not vectors.

    ``impl="arrow"`` swaps the scoring row's interpreted HOF cosine
    (~3·dim interpreted ops per row) for the `_pair_cosine_arrow`
    kernel — bit-equal scores (exact fold replay + Spark-exact
    rounding), the corpus-scan lever at large dim (the `assign_cells`
    impl contract; per-row pairs, so the battery/GEMM form doesn't
    apply here).
    """
    if impl not in ("expr", "arrow"):
        raise ValueError(f"impl must be 'expr' or 'arrow', got {impl!r}")
    vd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    dims = df.select(
        F.col(group_col).alias("__g"),
        F.posexplode(vd).alias("__i", "__v"),
    )
    cent = (
        dims.groupBy("__g", "__i")
        .agg(F.avg("__v").alias("__av"))
        .groupBy("__g")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__i", "__av"))),
                lambda s: s["__av"],
            ).alias("__c")
        )
    )
    if impl == "arrow":
        score = _pair_cosine_arrow(round_dp)(
            F.col("__vd"), F.col("__c")
        )
    else:
        score = F.round(V.cosine(F.col("__vd"), F.col("__c")), round_dp)
    return (
        df.select(F.col(key_col), F.col(group_col), vd.alias("__vd"))
        .join(
            F.broadcast(cent), F.col(group_col) == F.col("__g")
        )
        .select(
            key_col,
            group_col,
            score.alias("centroid_cosine"),
        )
    )


def cosine_topk_batch(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
    query_vec_col: str = "embedding",
    query_key_col: str = "query_id",
    round_dp: int = 6,
    impl: str = "expr",
    max_query_rows: int = 100_000,
) -> DataFrame:
    """Exact top-k retrieval for a BATCH of query vectors in one corpus
    pass — the evaluation-retrieval shape (score every benchmark query
    against the corpus at once) where looping cosine_topk would scan
    the corpus per query.

    Returns (query_key_col, key_col, cosine, rank), rank 1..k per
    query by (rounded cosine DESC, corpus key ASC) — rounding before
    ranking keeps the k-boundary engine-stable.

    Scale shape: the query side BROADCASTS (eval sets are small), each
    corpus row scores all m queries map-side via a broadcast nested
    loop — corpus scanned ONCE, m*|corpus| scored rows — and the
    per-query ranking window gets Spark's WindowGroupLimit pushdown,
    so only each query's running top-k survives to the final shuffle.
    Beyond broadcastable query counts, loop over query chunks; beyond
    exact-scan budgets, IVF (build_ivf_index) is the path.

    ``impl="gemm"`` is the scan lever: the m·|corpus| interpreted HOF
    cosines (~3·dim interpreted ops EACH — the per-pair cost the
    broadcast NLJ pays) become one (batch×dim)·(dim×m) exact-fold
    pass per Arrow batch, emitted as a per-row score array and
    posexploded back to the identical long form — bit-identical
    scores/ranks (exact fold replay + Spark-exact rounding, NULL
    corpus/query vectors and zero norms null-propagate like the
    expression path).  The query side collects driver-side (it
    broadcasts anyway); ``max_query_rows`` guards the gather.
    """
    from pyspark.sql import Window

    if impl not in ("expr", "gemm"):
        raise ValueError(f"impl must be 'expr' or 'gemm', got {impl!r}")
    cd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    qd = F.transform(F.col(query_vec_col), lambda x: x.cast("double"))
    c = corpus.select(F.col(key_col), cd.alias("__cv"))
    q = queries.select(F.col(query_key_col), qd.alias("__qv"))
    if impl == "gemm":
        qrows = q.limit(max_query_rows + 1).collect()
        if len(qrows) > max_query_rows:
            raise ValueError(
                f"cosine_topk_batch(impl='gemm') refuses > "
                f"{max_query_rows} query rows — chunk the queries or "
                "use impl='expr'"
            )
        qkeys = [r[0] for r in qrows]
        qvecs = [r[1] for r in qrows]
        qk_arr = F.array(*[F.lit(kk) for kk in qkeys])
        scores = _batch_cosine_arrow(qvecs, round_dp)(F.col("__cv"))
        scored = c.select(
            F.col(key_col), F.posexplode(scores).alias("__qi", "cosine")
        ).select(
            F.element_at(qk_arr, F.col("__qi") + 1).alias(query_key_col),
            key_col,
            "cosine",
        )
    else:
        scored = c.crossJoin(F.broadcast(q)).select(
            query_key_col,
            key_col,
            F.round(V.cosine(F.col("__cv"), F.col("__qv")), round_dp).alias(
                "cosine"
            ),
        )
    w = Window.partitionBy(query_key_col).orderBy(
        F.col("cosine").desc(), F.col(key_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_key_col, key_col, "cosine", "rank")
    )


def _batch_cosine_arrow(qvecs: list, dp: int):
    """Arrow kernel behind `cosine_topk_batch(impl="gemm")`: one
    array<double> of per-query cosines per corpus row, computed over
    the whole Arrow batch with `_kmeans_np._cosine_matrix`'s exact
    left-to-right folds and Spark-exact rounding.  NULL corpus rows
    emit an all-NULL array; NULL query vectors own an all-NULL column;
    zero norms and NULL elements (NaN lanes) null-propagate — each
    matching the expression path's divide/fold semantics."""
    import numpy as np
    import pandas as pd

    from ._kmeans_np import _cosine_matrix, round_spark

    m = len(qvecs)
    q_ok = [i for i, v in enumerate(qvecs) if v is not None]
    Q = (
        np.array([np.asarray(qvecs[i], dtype=np.float64) for i in q_ok])
        if q_ok
        else None
    )

    def _fn(vs):
        n = len(vs)
        if n == 0:
            return pd.Series([], dtype=object)
        valid = np.array([v is not None for v in vs], dtype=bool)
        out = np.full(n, None, dtype=object)
        null_row = [None] * m
        for i in np.flatnonzero(~valid):
            out[i] = null_row
        if valid.any() and Q is not None:
            M = np.array(
                [np.asarray(v, dtype=np.float64) for v in vs[valid]]
            )
            cos = _cosine_matrix(M, Q)
            ok = np.isfinite(cos)
            with np.errstate(invalid="ignore"):
                cos = round_spark(np.where(ok, cos, 0.0), dp)
            for i, r_ok, r_cos in zip(np.flatnonzero(valid), ok, cos):
                row = null_row.copy()
                for j, qi in enumerate(q_ok):
                    if r_ok[j]:
                        row[qi] = float(r_cos[j])
                out[i] = row
        elif valid.any():
            for i in np.flatnonzero(valid):
                out[i] = null_row
        return pd.Series(out, dtype=object)

    _fn.__annotations__ = {"vs": pd.Series, "return": pd.Series}
    return F.pandas_udf(_fn, "array<double>")


def mutual_nearest_neighbors(
    a: DataFrame,
    b: DataFrame,
    vec_col: str = "embedding",
    a_key: str = "vec_id",
    b_key: str = "vec_id",
    a_out: str = "a_key",
    b_out: str = "b_key",
    round_dp: int = 6,
    impl: str = "expr",
    max_query_rows: int = 100_000,
) -> DataFrame:
    """Mutual-nearest-neighbor alignment between two embedding sets —
    the bitext/dataset-alignment primitive (Artetxe & Schwenk's margin
    mining starts here): pair (x, y) survives iff y is x's nearest
    neighbor in ``b`` AND x is y's nearest neighbor in ``a``.  The
    mutuality condition is what kills the hub problem a one-direction
    top-1 has (one popular item matching everything).

    Returns ``(a_out, b_out, cosine)``.

    Scale shape: the pair scores are computed ONCE — the query set
    ``a`` (the small side in the bitext framing) broadcasts against a
    single scan of ``b``, scoring map-side — and BOTH argmaxes derive
    from that one scored frame via two WindowGroupLimit-pruned top-1
    windows: the per-a window shuffles at most |a| candidates per
    input partition, the per-b window at most one row per b (each b's
    scores are partition-local to its own scan split), so nothing
    |a|x|b|-shaped ever shuffles and the LARGE side is never
    broadcast.  Both argmaxes rank on the ROUNDED cosine with key
    tiebreaks, so the result is engine-stable and
    oracle-reproducible.  Beyond broadcastable |a|, run per-chunk or
    swap the scoring leg for IVF (build_ivf_index) — the mutuality
    logic is unchanged.

    ``impl="gemm"`` swaps the |a|·|b| interpreted per-pair HOF
    cosines for the `cosine_topk_batch` batch kernel (exact folds,
    Spark-exact rounding, identical null propagation — bit-identical
    scored frame); the ``a`` side collects driver-side behind
    ``max_query_rows`` (it broadcast anyway).
    """
    from pyspark.sql import Window

    if impl not in ("expr", "gemm"):
        raise ValueError(f"impl must be 'expr' or 'gemm', got {impl!r}")
    cd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    bb = b.select(F.col(b_key).alias("__bk"), cd.alias("__bv"))
    aa = a.select(F.col(a_key).alias("__ak"), cd.alias("__av"))
    if impl == "gemm":
        arows = aa.limit(max_query_rows + 1).collect()
        if len(arows) > max_query_rows:
            raise ValueError(
                f"mutual_nearest_neighbors(impl='gemm') refuses > "
                f"{max_query_rows} query rows — chunk side a or use "
                "impl='expr'"
            )
        ak_arr = F.array(*[F.lit(r[0]) for r in arows])
        scores = _batch_cosine_arrow(
            [r[1] for r in arows], round_dp
        )(F.col("__bv"))
        scored = bb.select(
            "__bk", F.posexplode(scores).alias("__qi", "cosine")
        ).select(
            F.element_at(ak_arr, F.col("__qi") + 1).alias("__ak"),
            "__bk",
            "cosine",
        )
    else:
        scored = bb.crossJoin(F.broadcast(aa)).select(
            "__ak",
            "__bk",
            F.round(V.cosine(F.col("__av"), F.col("__bv")), round_dp).alias(
                "cosine"
            ),
        )
    w_ab = Window.partitionBy("__ak").orderBy(
        F.col("cosine").desc(), F.col("__bk").asc()
    )
    w_ba = Window.partitionBy("__bk").orderBy(
        F.col("cosine").desc(), F.col("__ak").asc()
    )
    ab = (
        scored.withColumn("__rn", F.row_number().over(w_ab))
        .where(F.col("__rn") == 1)
        .select("__ak", "__bk", "cosine")
    )
    ba = (
        scored.withColumn("__rn", F.row_number().over(w_ba))
        .where(F.col("__rn") == 1)
        .select(F.col("__ak").alias("__ak2"), F.col("__bk").alias("__bk2"))
    )
    return ab.join(
        ba,
        (F.col("__ak") == F.col("__ak2")) & (F.col("__bk") == F.col("__bk2")),
    ).select(
        F.col("__ak").alias(a_out), F.col("__bk").alias(b_out), "cosine"
    )


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
    label_col: str = "label",
    query_key_col: str = "vec_id",
    round_dp: int = 6,
    impl: str = "expr",
    max_query_rows: int = 100_000,
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query
    item, the ``k`` most-similar corpus items whose label DIFFERS —
    the negatives that sit closest to the decision boundary, which
    are the ones worth training on (random negatives are trivially
    separable).

    Returns ``(query_key, key_col, cosine, rank)``, rank 1..k per
    query among different-label corpus items only.

    Scale shape: the query set broadcasts against ONE corpus scan
    (the cosine_topk_batch shape) with the label-mismatch predicate
    folded in BEFORE ranking — so rank 1..k is computed over the
    eligible set, not truncated after the fact — and the per-query
    window gets WindowGroupLimit pushdown.  Ranking is on the ROUNDED
    cosine with a key tiebreak (engine-stable).  Beyond broadcastable
    query sets: chunk the queries, or generate candidates with the
    IVF index and re-rank — the mismatch predicate composes
    unchanged.

    ``impl="gemm"`` scores through the `cosine_topk_batch` batch
    kernel and applies the same label-mismatch predicate on the
    exploded rows — identical output (same-label pairs cost GEMM
    flops instead of being predicate-pruned pre-score, a trade that
    favors gemm well before the per-pair interpreted cost does).
    """
    from pyspark.sql import Window

    if impl not in ("expr", "gemm"):
        raise ValueError(f"impl must be 'expr' or 'gemm', got {impl!r}")
    cd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    c = corpus.select(
        F.col(key_col), cd.alias("__cv"), F.col(label_col).alias("__cl")
    )
    q = queries.select(
        F.col(query_key_col).alias("__qk"),
        cd.alias("__qv"),
        F.col(label_col).alias("__ql"),
    )
    if impl == "gemm":
        qrows = q.limit(max_query_rows + 1).collect()
        if len(qrows) > max_query_rows:
            raise ValueError(
                f"hard_negatives(impl='gemm') refuses > "
                f"{max_query_rows} query rows — chunk the queries or "
                "use impl='expr'"
            )
        qk_arr = F.array(*[F.lit(r[0]) for r in qrows])
        ql_arr = F.array(*[F.lit(r[2]) for r in qrows])
        scores = _batch_cosine_arrow(
            [r[1] for r in qrows], round_dp
        )(F.col("__cv"))
        scored = (
            c.select(
                F.col(key_col),
                F.col("__cl"),
                F.posexplode(scores).alias("__qi", "cosine"),
            )
            .select(
                F.element_at(qk_arr, F.col("__qi") + 1).alias("query_key"),
                F.element_at(ql_arr, F.col("__qi") + 1).alias("__ql"),
                F.col(key_col),
                F.col("__cl"),
                "cosine",
            )
            .where(
                F.col("__cl").isNotNull()
                & F.col("__ql").isNotNull()
                & (F.col("__cl") != F.col("__ql"))
            )
            .select("query_key", key_col, "cosine")
        )
    else:
        scored = (
            c.crossJoin(F.broadcast(q))
            # NULL-labeled rows match nothing negatively: a NULL label
            # is "unknown", not "different from everything"
            .where(
                F.col("__cl").isNotNull()
                & F.col("__ql").isNotNull()
                & (F.col("__cl") != F.col("__ql"))
            )
            .select(
                F.col("__qk").alias("query_key"),
                F.col(key_col),
                F.round(
                    V.cosine(F.col("__cv"), F.col("__qv")), round_dp
                ).alias("cosine"),
            )
        )
    w = Window.partitionBy("query_key").orderBy(
        F.col("cosine").desc(), F.col(key_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_key", key_col, "cosine", "rank")
    )


def embedding_dim_stats(
    df: DataFrame,
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """Per-dimension embedding health check: mean, sample std, and
    zero-fraction for every vector dimension — the quick diagnosis
    for dead dimensions (std ~ 0), scale drift between embedding
    versions, and collapsed encoders, run BEFORE any similarity
    pipeline trusts the vectors.

    Returns ``(dim, mean, std, zero_frac)``, one row per dimension.

    Scale shape: one posexplode to (dim, value) doubles — d x N
    narrow rows — then a map-side-combinable aggregate keyed on
    the dimension index (d groups).  The centroid-outlier operator
    shares this shape; the full d x d covariance is the documented
    extension (partial outer-product aggregation), not needed for the
    health check.
    """
    exploded = df.select(
        F.posexplode(
            F.transform(F.col(vec_col), lambda x: x.cast("double"))
        ).alias("dim", "v")
    )
    return (
        exploded.groupBy("dim")
        .agg(
            F.round(F.avg("v"), round_dp).alias("mean"),
            F.round(F.stddev_samp("v"), round_dp).alias("std"),
            F.round(
                F.avg(F.when(F.col("v") == 0.0, 1.0).otherwise(0.0)),
                round_dp,
            ).alias("zero_frac"),
        )
    )


def embedding_covariance(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    round_dp: int = 6,
) -> DataFrame:
    """Full d×d population covariance of the embedding columns — the
    partial outer-product extension `embedding_dim_stats` documents:
    feature-correlation diagnosis (redundant dimensions, whitening
    input, PCA preprocessing) as ONE corpus pass.

    Returns the upper triangle ``(i, j, cov)`` with 0-based i <= j
    (q104's dim convention), d(d+1)/2 rows.

    Scale shape — the treeAggregate pattern, NOT the N·d² exploded
    self-join: each Arrow batch folds into a d×d Gram partial
    (``X.T @ X``, BLAS), so every task ships d(d+1)/2 + d + 1 partial
    rows no matter how many vectors it read; one bounded-key groupBy
    merges partials and the mean/covariance algebra runs on the d²
    frame.  Per-task state is d² doubles (32 KB at d=64, 8 MB at
    d=1024) — constant in corpus size, which is what survives a
    100 TB scan on 1000 executors.  Sentinel rows carry the sums:
    (i, -1) per-dimension Σx, (-1, -1) the row count.
    """
    src = df.select(col_ref(vec_col).alias("v")).where(F.col("v").isNotNull())
    d = dim

    def gen(batches):
        import numpy as np
        import pandas as pd

        G = np.zeros((d, d))
        s = np.zeros(d)
        n = 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf["v"].to_numpy()).astype(np.float64, copy=False)
            if X.shape[1] != d:
                raise ValueError(
                    f"expected {d}-dim vectors, got {X.shape[1]}"
                )
            G += X.T @ X
            s += X.sum(axis=0)
            n += X.shape[0]
        iu, ju = np.triu_indices(d)
        yield pd.DataFrame(
            {
                "i": np.concatenate(
                    [iu, np.arange(d), [-1]]
                ).astype("int32"),
                "j": np.concatenate(
                    [ju, np.full(d, -1), [-1]]
                ).astype("int32"),
                "v": np.concatenate([G[iu, ju], s, [float(n)]]),
            }
        )

    partials = src.mapInPandas(gen, "i int, j int, v double")
    agg = partials.groupBy("i", "j").agg(F.sum("v").alias("v"))
    n_df = agg.where((F.col("i") == -1) & (F.col("j") == -1)).select(
        F.col("v").alias("nn")
    )
    s_df = agg.where((F.col("j") == -1) & (F.col("i") >= 0)).select(
        F.col("i").alias("k"), F.col("v").alias("s")
    )
    g_df = agg.where(F.col("j") >= 0)
    si = s_df.select(F.col("k").alias("ki"), F.col("s").alias("si"))
    sj = s_df.select(F.col("k").alias("kj"), F.col("s").alias("sj"))
    return (
        g_df.crossJoin(F.broadcast(n_df))
        .join(F.broadcast(si), F.col("i") == F.col("ki"))
        .join(F.broadcast(sj), F.col("j") == F.col("kj"))
        .select(
            "i",
            "j",
            # + 0.0 canonicalizes the sign of zero: a covariance of
            # ~ -1e-8 rounds to -0.0, whose sign bit is engine- and
            # summation-order-dependent; -0.0 + 0.0 == 0.0 by IEEE 754
            (
                F.round(
                    F.col("v") / F.col("nn")
                    - (F.col("si") / F.col("nn"))
                    * (F.col("sj") / F.col("nn")),
                    round_dp,
                )
                + F.lit(0.0)
            ).alias("cov"),
        )
    )


def kcenter_select(
    df: DataFrame,
    k: int = 8,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
    dist_dp: int = 9,
    round_dp: int = 6,
    impl: str = "expr",
    engine: str = "auto",
    max_driver_rows: int = 1_000_000,
) -> DataFrame:
    """Greedy k-center (farthest-point traversal) coreset selection:
    ``(sel_rank, key, radius)`` — the k most mutually-distant vectors,
    the classic diverse-subset rule for training-data selection /
    annotation budgeting (each pick is the point worst covered by the
    picks so far, so the selection 2-approximates the optimal k-center
    cover radius).

    Spark shape: the frame ``(key, vec, dmin)`` carries each point's
    distance to its nearest selected center.  Per iteration: ONE
    map-side ``least(dmin, d2(vec, newest_center))`` update (the newest
    center rides in as a literal array — no join, no shuffle) and one
    TakeOrdered(1) argmax (per-partition heap + driver merge).  The
    frame is localCheckpoint-ed per hop — `graph.py`'s lineage lesson:
    k self-referencing map steps would otherwise stack k regex/scan
    recomputes deep.  Driver traffic is one (key, vec) row per
    iteration — d floats, metadata-sized, same contract as
    `train_ivf_centroids`.

    Determinism contract (the DuckDB oracle unrolls the same k hops):
    distances are ROUNDED to ``dist_dp`` before both the ``least`` and
    the argmax, the argmax tiebreaks on ascending key, and the seed is
    the minimum key — no randomness anywhere.  Squared distance is a
    fixed left-to-right fold (`functions/vectors.py sqdist`).

    At 100 TB: each hop is a full scan of the narrow (key, vec, dmin)
    frame — k scans total, embarrassingly parallel, zero shuffle; for
    very large k switch to batched variants (pick per-partition
    farthest candidates first), documented rather than implemented.
    ``impl="arrow"`` swaps each hop's interpreted HOF sqdist (~dim
    interpreted ops per row per hop — k·dim per row over the full
    selection) for the `_sqdist_lit_arrow` kernel: bit-equal
    distances (exact fold replay + Spark-exact rounding), identical
    picks and radii including tiebreaks.

    ``engine`` picks the EXECUTION strategy for the same algorithm —
    identical output either way (unit-pinned), so the switch is pure
    strategy, unlike the trainers there is no sampling involved:

    * ``"auto"`` (default): when the candidate pool fits the driver
      (≤ ``max_driver_rows``, known from the count this function
      already takes), collect (key, vec) ONCE and run the whole
      greedy traversal in numpy (`_kmeans_np.kcenter_np`) — k
      round-trips and k localCheckpoint materializations collapse to
      one job (measured: 8.9 s → <0.5 s at k=32, sf0.1); larger
      pools fall back to the distributed loop automatically.
    * ``"numpy"`` / ``"sql"`` force the respective path ("numpy"
      raises if the pool exceeds ``max_driver_rows`` — selection is
      the OUTPUT here, so silently sampling would change results;
      pre-sample upstream or use the sql engine).
    """
    if impl not in ("expr", "arrow"):
        raise ValueError(f"impl must be 'expr' or 'arrow', got {impl!r}")
    if engine not in ("auto", "numpy", "sql"):
        raise ValueError(
            f"engine must be 'auto', 'numpy', or 'sql', got {engine!r}"
        )

    def _hop_dist(center: list[float]):
        if impl == "arrow":
            return _sqdist_lit_arrow(center, dist_dp)(F.col("vec"))
        return F.round(
            V.sqdist(F.col("vec"), _lit_vec(center)), dist_dp
        )

    base = (
        # NULL keys are excluded along with NULL vectors: selection is a
        # set of DISTINCT KEYS, and a NULL key can neither be anti-
        # filtered back out (`key != lit(NULL)` is NULL for every row,
        # emptying the candidate frame when NULL sorts first as seed)
        # nor meaningfully identify a center.
        df.where(F.col(vec_col).isNotNull() & F.col(key_col).isNotNull())
        .select(F.col(key_col).alias("key"), F.col(vec_col).alias("vec"))
        .localCheckpoint()
    )
    key_sql_type = base.schema["key"].dataType.simpleString()
    out_schema = f"sel_rank int, key {key_sql_type}, radius double"
    n = base.count()
    if n == 0 or k < 1:
        # k < 1 must not emit a phantom seed row (a computed selection
        # budget can legitimately hit zero)
        return df.sparkSession.createDataFrame([], out_schema)
    if engine == "numpy" and n > max_driver_rows:
        raise ValueError(
            f"kcenter_select(engine='numpy') refuses {n} rows > "
            f"max_driver_rows={max_driver_rows}: selection is the "
            "output, so sampling here would change results — "
            "pre-sample upstream or use engine='sql'"
        )
    if engine != "sql" and n <= max_driver_rows:
        from ._kmeans_np import kcenter_np

        keys, X = _gather_vectors(
            base.select(
                "key", F.col("vec").cast("array<double>").alias("vec")
            )
        )
        out = df.sparkSession.createDataFrame(
            kcenter_np(keys, X, k, dist_dp), out_schema
        )
        return out.select(
            "sel_rank", "key", F.round("radius", round_dp).alias("radius")
        )
    seed = base.orderBy(F.col("key").asc()).limit(1).collect()[0]
    selected = [(1, seed["key"], None)]
    # selected keys leave the candidate frame: a selected point sits at
    # dmin=0, and on an all-duplicate corpus every dmin is 0, so the
    # ascending-key tiebreak would re-pick an existing center and emit
    # duplicate keys (ADVICE r6) — anti-filtering each pick out makes
    # every sel_rank a distinct key by construction
    # the SEED itself may carry NULL elements (it is the min KEY, not
    # a cleanliness winner): its hop distances are then NULL for every
    # row, exactly the numpy engine's NaN-lane seed — found by the
    # r11 NULL-pattern property test, the same crash the rank-2+ loop
    # had below
    cur = (
        base.where(F.col("key") != F.lit(seed["key"]))
        .select(
            "key",
            "vec",
            _hop_dist(
                [None if x is None else float(x) for x in seed["vec"]]
            ).alias("dmin"),
        )
        .localCheckpoint()
    )
    for rank in range(2, min(k, n) + 1):
        far = (
            cur.orderBy(F.col("dmin").desc(), F.col("key").asc())
            .limit(1)
            .collect()[0]
        )
        # a NULL dmin pick happens when every remaining candidate's
        # distance is NULL (NULL-element vectors): desc-nulls-last then
        # takes the smallest key, radius stays NULL — same contract as
        # the numpy engine's alive-restricted argmax (ADVICE r10; the
        # bare float() here used to raise TypeError)
        picked = far["dmin"]
        selected.append(
            (rank, far["key"], None if picked is None else float(picked))
        )
        # the new center may itself carry NULL elements: its hop
        # distances are then NULL for every row and the null-skipping
        # least() keeps each old dmin, mirroring the numpy engine's
        # NaN-lane no-op update
        center = [None if x is None else float(x) for x in far["vec"]]
        cur = (
            cur.where(F.col("key") != F.lit(far["key"]))
            .select(
                "key",
                "vec",
                F.least(F.col("dmin"), _hop_dist(center)).alias("dmin"),
            )
            .localCheckpoint()
        )
    out = df.sparkSession.createDataFrame(
        [(r, key, d) for r, key, d in selected], out_schema
    )
    return out.select(
        "sel_rank", "key", F.round("radius", round_dp).alias("radius")
    )
