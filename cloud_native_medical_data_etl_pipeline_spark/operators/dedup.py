"""Deduplication operators for large-scale training-data pipelines.

Five strategies, cheapest to fuzziest, each as DataFrame -> DataFrame:

  exact_dedup        hash-groupBy on content, keep min-key row
  minhash_lsh_pairs  shingle -> minhash signature -> band buckets ->
                     candidate pairs -> exact Jaccard verification
  simhash_pairs      per-token portable hash -> bit-vote simhash ->
                     hamming-distance pairs
  ngram_jaccard_pairs word n-gram candidate generation + exact Jaccard
  embedding_near_dups cosine-similarity pairs over embedding vectors:
                     block column or banded sign-LSH buckets, one
                     grouped GEMM verify per bucket

Scale notes (100 TB design point): every text strategy generates
candidates with an EQUI-join (band bucket / shared n-gram), and the
embedding strategy groups by bucket — never an all-pairs cross join;
all text hashes are computed with JVM-side expressions (md5 /
polynomial rolling hash) so signatures parallelize map-side, and
verification runs only on the candidate set. Hash functions are chosen
to be expressible in ANSI SQL so every operator has a DuckDB oracle
(md5 hex strings compared lexicographically; integer rolling hashes).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import text as X

HASH_MOD = 2147483647  # 2^31 - 1, fits every SQL engine's int64


_REBALANCE_MIN_STATS_BYTES = 128 << 10  # absolute floor, see below


def _plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's optimized-plan size estimate for ``df``, via the
    private ``_jdf.queryExecution()`` bridge.

    The py4j path (`queryExecution().optimizedPlan().stats()
    .sizeInBytes()`) is not public API and has no cross-version
    stability guarantee, so any failure degrades to ``sys.maxsize``:
    rebalance_for_cpu then repartitions whenever the partition count is
    below the slot count. Over-parallelizing a CPU-bound kernel costs
    ~0.2 s of scheduling; silently serializing it on one core costs
    multiples of the kernel time — so the fail-open direction is the
    cheap one."""
    try:
        return _plan_size_bytes_raw(df)
    except Exception:
        import sys

        return sys.maxsize


def _plan_size_bytes_raw(df: DataFrame) -> int:
    # the private py4j probe, isolated so version-drift tests can break
    # it in place
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def rebalance_for_cpu(df: DataFrame, persist: bool = True) -> DataFrame:
    """Spread CPU-bound per-row kernels across all cores — but only
    when the input is big enough for parallelism to pay.

    Mid-size inputs can plan as a handful of file partitions (file
    splitting is byte-based, openCostInBytes-floored), which serializes
    hash/shingle kernels on a few threads. If the scan has fewer
    partitions than the cluster has slots and isn't unit-test tiny,
    round-robin repartition + persist. The persist is what makes the
    repartition effective: without the cache boundary, column pruning
    pushes downstream projections BELOW the exchange, moving the
    expensive expressions back to the map side.

    The gate is an ABSOLUTE stats floor, not bytes-per-slot: Catalyst's
    sizeInBytes for a pruned string column underestimates the real
    text volume ~40x (measured: 254 KB reported for ~10 MB of
    documents), so any per-slot proportional gate silently never
    fires. Measured at sf0.1/local[32]: the serialized shingle+minhash
    pass is 1.7 s on one core vs 0.67 s repartitioned — the ~0.2 s of
    32-task scheduling + cache build is far below the kernel win once
    the input clears the floor. For tiny inputs (unit tests, sf0.001)
    the fixed cost dominates, so they stay put; at 100 TB the scan
    already has >= slots partitions and this is a no-op.

    persist=False skips the cache barrier: correct ONLY when the
    downstream compute is a mapInPandas (a barrier node Catalyst
    cannot push below the Exchange), where it saves a cache
    materialization of the raw input.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    size = _plan_size_bytes(df)
    if size > _REBALANCE_MIN_STATS_BYTES:
        out = df.repartition(target)
        if persist:
            out = out.persist()
            # self-registration so operators can propagate the cache
            # into their result's release() set (caller-unpersists
            # contract, see release())
            out._cached_deps = [out]
        return out
    return df


def repartition_key_for_cpu(df: DataFrame, cols: list[Column]) -> DataFrame:
    """Hash-repartition on ``cols`` pinned to the slot count — the
    keyed sibling of :func:`rebalance_for_cpu`, for key-partitioned
    stages (windows, sessionization) rather than keyless kernels.

    Why pinning matters: a window's own ENSURE_REQUIREMENTS exchange
    is AQE-coalescible — at small shuffle volumes adaptive execution
    merges the post-shuffle partitions down to ~bytes/minPartitionSize
    (a handful of tasks), serializing the sort+window stage on a
    machine with far more slots.  An explicit ``repartition(n, key)``
    is exempt from coalescing, and because it hashes on the window's
    own partition key it satisfies the window's clustering
    requirement — the plan gets ONE pinned exchange, not two (r17
    measured on q37: 0.672 -> 0.555 s interleaved min at sf0.1).

    Same gates as rebalance_for_cpu, same scale story: inputs already
    at/above the slot count (any real-scale scan) return unchanged, so
    AQE keeps managing the exchange (including skew handling) where
    the shuffle is big enough for that to be the right call; inputs
    below the 128 KiB stats floor (unit tests) stay put so tiny plans
    don't pay a 32-task exchange.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    if _plan_size_bytes(df) > _REBALANCE_MIN_STATS_BYTES:
        return df.repartition(target, *cols)
    return df


def _with_cached_deps(result: DataFrame, *frames: DataFrame) -> DataFrame:
    """Record on ``result`` every intermediate frame the operator
    persisted (directly, or transitively via rebalance_for_cpu) so the
    caller can free them with :func:`release`. Frames that are not
    actually cached are skipped, so operators can pass candidates
    unconditionally."""
    # identity-dedup (DataFrame.__eq__ builds a Column, so `in` on a
    # list of frames would not mean membership)
    deps: list[DataFrame] = []
    seen: set[int] = set()

    def add(d: DataFrame) -> None:
        if id(d) not in seen:
            seen.add(id(d))
            deps.append(d)

    for f in frames:
        for d in getattr(f, "_cached_deps", ()):
            add(d)
        if f.is_cached:
            add(f)
    result._cached_deps = deps
    return result


def release(result: DataFrame) -> None:
    """Unpersist the intermediate frames cached on behalf of ``result``.

    Operators here return LAZY frames whose plans read persisted
    intermediates (band frames, shingle bases, fingerprint sets);
    unpersisting before returning would evict the cache before the
    caller's action ever runs, so the contract is caller-unpersists:
    consume the result (collect/write), then ``release(result)``.
    Harmless on frames with no recorded deps, and safe to call twice —
    one-query sessions can ignore it; long-lived pipelines should not
    (each un-released call leaks one cached frame for the session's
    lifetime)."""
    for dep in getattr(result, "_cached_deps", ()):
        dep.unpersist()


def exact_dedup(
    df: DataFrame,
    content_col: str = "text",
    key_col: str = "doc_id",
    payload: list[str] | None = None,
) -> DataFrame:
    """Exact dedup: one row per distinct content, keeping the row with
    the smallest key (deterministic, unlike dropDuplicates). One
    shuffle on the content hash; at scale group on sha2 rather than the
    full text to keep shuffle rows narrow.

    ``payload`` names the non-key columns the caller actually needs.
    When given, the kept row's (key, *payload) is computed in ONE
    map-side-combinable ``min(struct(key, *payload))`` aggregate — one
    scan and one Exchange, versus two scans + agg + semi-join for the
    full-row form (r16 A/B at sf0.1: 0.553 -> 0.432 s on local[32],
    0.612 -> 0.498 on local[8]). Identical keep-first semantics while
    ``key_col`` is unique (the struct comparison only reaches the
    payload fields on a key tie). The full-row form remains the default
    because it returns every column WITHOUT shipping wide content
    (e.g. the text itself) through the shuffle."""
    h = F.sha2(F.coalesce(F.col(content_col), F.lit("")), 256)
    if payload is not None:
        kept = (
            df.groupBy(h.alias("__h"))
            .agg(F.min(F.struct(key_col, *payload)).alias("__m"))
        )
        return kept.select(
            *[F.col(f"__m.{c}").alias(c) for c in (key_col, *payload)]
        )
    keep = (
        df.withColumn("__h", h)
        .groupBy("__h")
        .agg(F.min(key_col).alias(key_col))
        .drop("__h")
    )
    return df.join(keep, key_col, "left_semi")


def _poly_hash(col: Column, seed: int, mult: int = 31) -> Column:
    """Portable polynomial rolling hash of a string, seeded:
    h = fold(chars, seed, (acc, c) -> (acc*mult + ascii(c)) % (2^31-1)).
    Identical arithmetic is expressible in DuckDB via list_reduce, which
    is what makes the minhash/simhash oracles exact.

    ``mult`` exists because two hashes that differ only in ``seed`` are
    NOT independent: h = seed*mult^len + sum(c_i*mult^...), so for
    equal-length inputs a second seed is a constant offset of the first.
    Callers that need a structurally independent second hash (simhash's
    high bits) must vary the multiplier, not just the seed."""
    chars = F.split(F.coalesce(col, F.lit("")), "")
    return F.aggregate(
        chars,
        F.lit(seed).cast("long"),
        lambda acc, ch: (acc * mult + F.ascii(ch)) % HASH_MOD,
    )


def _minhash_band_cols(num_hashes: int, bands: int) -> list[Column]:
    """The ONE definition of the band bucket string ('<band>#<lane>#
    <lane>...'): both the self-join pair generator and the asymmetric
    probe join derive buckets from it, which is what makes a corpus
    indexed for self-dedup serve probe joins unchanged (and what the
    q17/q86 oracles mirror).

    bands must divide num_hashes: bands > num_hashes would make every
    bucket a lane-less constant — every doc in ONE bucket per band,
    i.e. the N² cross join banding exists to avoid — and a remainder
    would silently drop the trailing lanes, weakening recall below the
    configured signature size."""
    if bands < 1 or num_hashes % bands:
        raise ValueError(
            f"bands ({bands}) must be a positive divisor of "
            f"num_hashes ({num_hashes})"
        )
    rows_per_band = num_hashes // bands
    return [
        F.concat_ws(
            "#",
            F.lit(str(b)),
            *[
                F.col(f"mh{b * rows_per_band + r}")
                for r in range(rows_per_band)
            ],
        ).alias(f"band{b}")
        for b in range(bands)
    ]


def minhash_signature(
    shingles: Column, num_hashes: int = 8, prefix: str = "mh"
) -> list[Column]:
    """MinHash signature as md5-hex lane minima: one md5 digest per
    shingle per GROUP of four hashes, with signature component
    g*4+j = min over shingles of hex lane substr(md5(g || '|' || s),
    1+8j, 8). Each 32-bit lane is a distinct uniform hash of the
    shingle, so each lane-min is a valid minhash estimate, at a
    quarter of the md5 work of one-digest-per-hash (md5 dominates the
    signature stage; measured 2.3x on the sf0.1 corpus). Hex substrings
    order identically in Spark and DuckDB, which keeps the oracle
    exact. Catalyst CSEs the shared digest subtree across the four
    lane projections — verified faster than a persist barrier."""
    def digest(group: int):
        # NB: must be a ONE-arg lambda — Spark treats two-arg lambdas
        # as (element, index) and would bind the index to the second
        # parameter, clobbering a captured default.
        return lambda s: F.md5(F.concat(F.lit(f"{group}|"), s))

    def lane(group: int, pos: int):
        return lambda s: F.substring(digest(group)(s), pos, 8)

    return [
        F.array_min(
            F.transform(shingles, lane(i // 4, 1 + 8 * (i % 4)))
        ).alias(f"{prefix}{i}")
        for i in range(num_hashes)
    ]


def _minhash_base_arrow(
    pre: DataFrame, ngram_n: int, num_hashes: int
) -> DataFrame:
    """Arrow-batched (k, sh, mh0..mhN-1) base frame: word-ngram shingles
    plus md5-lane minhash signature, computed in ONE mapInPandas pass.

    Same output, bit for bit, as the expression path (`tokens` ->
    `word_ngrams_from_tokens` -> `minhash_signature`): Python `hashlib`
    md5 hex == Spark `md5`, ASCII `\\s+` split == Java regex split,
    `str.lower`/`min` == `lower`/`array_min` on the hex alphabet. The
    point is throughput — Spark's higher-order functions evaluate
    interpreted (outside codegen), so the n-gram zip_with passes and the
    per-shingle md5 transforms dominate the pipeline; a tight Python
    loop over Arrow batches is several times faster (same trade as the
    vectorized all-pairs cosine in embedding_near_dups, measured there
    30 s -> 0.8 s). Property tests assert both paths agree; the DuckDB
    oracle checks the Arrow path end-to-end.

    Docs with fewer than `ngram_n` tokens are dropped (mirrors
    `where(size(sh) > 0)`).
    """
    import hashlib
    import re as _re

    from pyspark.sql import types as T

    key_field = pre.schema["k"]
    out_schema = T.StructType(
        [
            T.StructField("k", key_field.dataType),
            T.StructField("sh", T.ArrayType(T.StringType())),
            *[T.StructField(f"mh{i}", T.StringType()) for i in range(num_hashes)],
        ]
    )
    groups = (num_hashes + 3) // 4
    # Java regex \s is ASCII-only; pin the Python side to match
    split = _re.compile(r"\s+", _re.ASCII).split

    def gen(batches):
        import pandas as pd

        # Grams repeat heavily across documents (natural-language
        # shingle vocabularies are Zipfian), so memoize each gram's
        # per-group lane substrings — identical md5 values, a fraction
        # of the digest work. The cache is BOUNDED: high-cardinality
        # corpora (IDs, codes) would otherwise grow it without limit
        # on a long-lived partition and OOM the Python worker; past
        # the cap new grams are computed without being stored (the
        # frequent grams that benefit are cached first anyway).
        _CACHE_MAX = 1 << 20
        lane_cache: dict[str, list[str]] = {}

        def gram_lanes(gram: str) -> list[str]:
            got = lane_cache.get(gram)
            if got is None:
                got = []
                for g in range(groups):
                    d = hashlib.md5(f"{g}|{gram}".encode()).hexdigest()
                    got.extend(d[8 * j : 8 * j + 8] for j in range(4))
                if len(lane_cache) < _CACHE_MAX:
                    lane_cache[gram] = got
            return got

        for pdf in batches:
            keys, shingles = [], []
            lanes: list[list[str]] = [[] for _ in range(num_hashes)]
            for k, txt in zip(pdf["k"], pdf["txt"]):
                # Arrow nulls may surface as None or NaN depending on
                # the batch dtype — treat anything non-str as empty.
                # Edge trim strips JAVA \s ([ \t\n\x0B\f\r]) ONLY: a
                # bare .strip() also eats Unicode whitespace (NBSP in
                # scraped HTML), silently diverging from the SQL
                # path's ASCII regexp trim — the bit-for-bit contract.
                s = (
                    txt.lower().strip(" \t\n\r\x0b\x0c")
                    if isinstance(txt, str)
                    else ""
                )
                toks = split(s) if s else []
                if len(toks) < ngram_n:
                    continue
                grams = list(
                    dict.fromkeys(
                        " ".join(toks[i : i + ngram_n])
                        for i in range(len(toks) - ngram_n + 1)
                    )
                )
                keys.append(k)
                shingles.append(grams)
                per_gram = [gram_lanes(gram) for gram in grams]
                for i in range(num_hashes):
                    lanes[i].append(min(pl[i] for pl in per_gram))
            # dtype=object throughout: a batch whose docs ALL filtered
            # out (e.g. a partition of empty texts) would otherwise
            # produce float64 empty columns, which pyarrow cannot
            # convert to list<string>/string and the task dies
            yield pd.DataFrame(
                {
                    "k": pd.Series(keys, dtype=object),
                    "sh": pd.Series(shingles, dtype=object),
                    **{
                        f"mh{i}": pd.Series(lanes[i], dtype=object)
                        for i in range(num_hashes)
                    },
                }
            )

    return pre.mapInPandas(gen, out_schema)


def minhash_base(
    df: DataFrame,
    content_col: str = "text",
    key_col: str = "doc_id",
    num_hashes: int = 8,
    ngram_n: int = 3,
) -> DataFrame:
    """The reusable MinHash signature frame ``(k, sh, mh0..mhN-1)`` for
    ``df`` — the persistable INDEX the banded operators consume.

    This is the word-mode Arrow base pass of :func:`minhash_lsh_pairs`
    exposed as a first-class product: compute it once, write it to
    parquet alongside the corpus, and every later
    :func:`minhash_lsh_pairs` / :func:`minhash_lsh_join` call can take
    it via their ``base=`` / ``corpus_base=`` hooks instead of
    re-hashing the corpus text (the per-batch cost of incremental
    ingest then tracks the DELTA, not the corpus). Signatures are pure
    functions of the text, so a stored base is bit-identical to a
    recomputed one. Docs producing no shingles (< ``ngram_n`` tokens)
    have no row. NOT persisted/cached here — callers decide (a
    parquet-backed base needs no cache at all)."""
    pre = rebalance_for_cpu(
        df.select(F.col(key_col).alias("k"), F.col(content_col).alias("txt")),
        persist=False,
    )
    return _minhash_base_arrow(pre, ngram_n, num_hashes)


def minhash_lsh_pairs(
    df: DataFrame,
    content_col: str = "text",
    key_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    jaccard_threshold: float = 0.5,
    ngram_n: int = 3,
    engine: str = "arrow",
    base: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs via MinHash + LSH banding over word
    ``ngram_n``-gram shingles.

    Plan shape (each step matters at 100 TB):
      * shingle/signature computation is one map pass, persisted so the
        candidate path and both verification joins reuse it instead of
        recomputing the md5 pipeline three times;
      * the band explode carries ONLY (key, bucket) — narrow shuffle
        rows; the shingle arrays never ride through the self-join;
      * candidates come from an equi-join on the band bucket, deduped,
        then verified by exact Jaccard via two narrow key joins.

    Word n-grams, not char shingles: char shingles over a small
    vocabulary give every doc pair a high baseline Jaccard, which
    floods the LSH buckets with candidates (the classic stop-gram
    problem). engine='arrow' computes the shingle + signature base
    frame in one Arrow mapInPandas pass — bit-identical output,
    several times faster than the interpreted higher-order-function
    path, which remains as engine='sql' and is cross-checked against
    the Arrow path by property tests. Returns
    (key_a, key_b, jaccard), key_a < key_b.
    """
    # barrier carries RAW text: tokenization + shingling + signatures
    # (the CPU-bound kernels) then run post-shuffle across all slots
    # instead of map-side on the scan's partitions. The Arrow engine
    # needs no persist barrier — mapInPandas itself blocks pushdown.
    # base= (a minhash_base product, possibly parquet-backed) skips the
    # signature computation entirely.
    if base is not None:
        verified = _minhash_verify_pairs(
            base, num_hashes, bands, jaccard_threshold
        )
        return _with_cached_deps(verified, base)
    use_arrow = engine == "arrow"
    pre = rebalance_for_cpu(
        df.select(F.col(key_col).alias("k"), F.col(content_col).alias("txt")),
        persist=not use_arrow,
    )
    # ONE persisted frame carries both the shingle sets (for the exact-
    # Jaccard verification joins) and the signature columns (for band
    # bucketing): a single cache-materialization pass does all the md5
    # work. The band explode is NOT persisted — each self-join side
    # re-derives it from this cache with a cheap concat+explode over
    # already-computed mh columns, which beats building and scanning a
    # second cache.
    if use_arrow:
        base = _minhash_base_arrow(pre, ngram_n, num_hashes).persist()
    else:
        shingled = pre.select(
            "k",
            X.word_ngrams_from_tokens(X.lower_tokens("txt"), ngram_n).alias("sh"),
        )
        base = (
            shingled.where(F.size("sh") > 0)
            .select("k", "sh", *minhash_signature(F.col("sh"), num_hashes))
            .persist()
        )
    verified = _minhash_verify_pairs(base, num_hashes, bands, jaccard_threshold)
    return _with_cached_deps(verified, base, pre)


def _minhash_verify_pairs(
    base: DataFrame, num_hashes: int, bands: int, jaccard_threshold: float
) -> DataFrame:
    """Band-bucket self-join + exact-Jaccard verification over a
    (k, sh, mh*) base frame -> (key_a, key_b, jaccard), key_a < key_b."""
    sh = base.select("k", "sh")
    band_cols = _minhash_band_cols(num_hashes, bands)
    banded = base.select("k", F.explode(F.array(*band_cols)).alias("bucket"))
    # r17: hash the candidates on key_a ONCE — hash(key_a) clusters the
    # (key_a, key_b) pair-dedup aggregate (subset of its grouping keys)
    # AND satisfies the key_a verification join's requirement, so both
    # ride a single exchange; without it the dedup shuffles on
    # (key_a, key_b) and the join re-shuffles the candidates on key_a
    # (invisible at sf0.1 where AQE broadcasts the verify joins, a full
    # extra candidate shuffle at SMJ scale). Trade, measured: a
    # near-dup hub's pairs concentrate on its low key_a (bounded by
    # cluster size per key; AQE cannot split an aggregate partition) —
    # on a synthetic 1000-copy hub corpus (457k verified pairs) the
    # shared-exchange form still won, 9.62 -> 7.71 s interleaved min.
    candidates = (
        banded.select(F.col("k").alias("key_a"), "bucket")
        .join(banded.select(F.col("k").alias("key_b"), "bucket"), "bucket")
        .where(F.col("key_a") < F.col("key_b"))
        .select("key_a", "key_b")
        .repartition(F.col("key_a"))
        .dropDuplicates(["key_a", "key_b"])
    )
    return (
        candidates.join(
            sh.select(F.col("k").alias("key_a"), F.col("sh").alias("sh_a")), "key_a"
        )
        .join(sh.select(F.col("k").alias("key_b"), F.col("sh").alias("sh_b")), "key_b")
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
                / F.size(F.array_union("sh_a", "sh_b")).cast("double"),
                6,
            ),
        )
        .where(F.col("jaccard") >= jaccard_threshold)
        .select("key_a", "key_b", "jaccard")
    )


def minhash_lsh_join(
    probe: DataFrame,
    corpus: DataFrame,
    content_col: str = "text",
    key_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    jaccard_threshold: float = 0.5,
    ngram_n: int = 3,
    probe_out: str = "probe_key",
    corpus_out: str = "corpus_key",
    probe_base: DataFrame | None = None,
    corpus_base: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric near-duplicate JOIN: which docs in ``probe`` are
    near-dups of something already in ``corpus``?  This is the
    incremental-ingest shape — at 100 TB nobody re-runs all-pairs
    dedup per batch; the corpus signatures are computed once (and in
    practice persisted as a table), each delta batch computes only its
    OWN signatures, and candidates come from the band equi-join
    BETWEEN the two frames.  Candidate volume is bounded by band-bucket
    co-occupancy between batch and corpus — proportional to the
    batch's true-match rate, never to |corpus|².

    Same signature family as :func:`minhash_lsh_pairs` (word-n-gram
    shingles, md5-lane minhash, Arrow base pass), so a corpus indexed
    for self-dedup serves probe joins unchanged.  Returns
    ``(probe_out, corpus_out, jaccard)`` for verified pairs with
    ``jaccard >= jaccard_threshold``.  Keys shared by both frames are
    the caller's concern (an ingest delta has fresh keys by
    construction); call :func:`release` on the result when done.

    ``probe_base`` / ``corpus_base`` take PRECOMPUTED signature frames
    (:func:`minhash_base` products — in the persisted-index ingest
    path, the corpus side is a parquet scan of the signature table, so
    per-batch hashing cost tracks the batch alone); when supplied, the
    corresponding text frame is not touched (and may be None).
    """
    def _base(df: DataFrame) -> DataFrame:
        pre = rebalance_for_cpu(
            df.select(
                F.col(key_col).alias("k"), F.col(content_col).alias("txt")
            ),
            persist=False,
        )
        return _minhash_base_arrow(pre, ngram_n, num_hashes).persist()

    def _banded(base: DataFrame, out: str) -> DataFrame:
        band_cols = _minhash_band_cols(num_hashes, bands)
        return base.select(
            F.col("k").alias(out), F.explode(F.array(*band_cols)).alias("bucket")
        )

    base_p = probe_base if probe_base is not None else _base(probe)
    base_c = corpus_base if corpus_base is not None else _base(corpus)
    candidates = (
        _banded(base_p, probe_out)
        .join(_banded(base_c, corpus_out), "bucket")
        .select(probe_out, corpus_out)
        .dropDuplicates([probe_out, corpus_out])
    )
    verified = (
        candidates.join(
            base_p.select(F.col("k").alias(probe_out), F.col("sh").alias("sh_p")),
            probe_out,
        )
        .join(
            base_c.select(F.col("k").alias(corpus_out), F.col("sh").alias("sh_c")),
            corpus_out,
        )
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh_p", "sh_c")).cast("double")
                / F.size(F.array_union("sh_p", "sh_c")).cast("double"),
                6,
            ),
        )
        .where(F.col("jaccard") >= jaccard_threshold)
        .select(probe_out, corpus_out, "jaccard")
    )
    return _with_cached_deps(verified, base_p, base_c)


def simhash(text_col: Column | str, bits: int = 60) -> Column:
    """SimHash over whitespace tokens with the portable polynomial
    hash: bit b of the result is 1 iff more tokens have bit b set in
    their hash than not (strict majority, ties -> 0). Returns a long.

    A single poly-hash mod 2^31-1 only yields ~31 usable bits, which
    caps the band space and makes banded blocking quadratic on a big
    corpus; for ``bits`` > 30 a SECOND polynomial hash supplies bits
    30..59, so the default 60-bit fingerprint supports 12-bit bands
    (4096 bucket values per band) that keep band-bucket occupancy
    ~N/4096.  The second hash varies the MULTIPLIER (37 vs 31), not
    just the seed — two seeds of the same polynomial differ only by
    seed_delta*31^len(token), a constant offset for equal-length
    tokens, which would correlate the high 30 bits with the low 30 and
    shrink the effective band entropy below the N/4096 claim."""
    _HALF = 30  # usable low bits per polynomial hash
    toks = F.array_distinct(X.lower_tokens(text_col))
    hashes_lo = F.transform(toks, lambda t: _poly_hash(t, 7))
    hashes_hi = (
        F.transform(toks, lambda t: _poly_hash(t, 13, mult=37))
        if bits > _HALF
        else None
    )
    n = F.size(hashes_lo)

    def bit_set(bit: int):
        return lambda h: F.shiftright(h, bit).bitwiseAND(1) == 1

    out = F.lit(0).cast("long")
    for b in range(bits):
        src, shift = (
            (hashes_lo, b) if b < _HALF else (hashes_hi, b - _HALF)
        )
        ones = F.size(F.filter(src, bit_set(shift)))
        out = out + F.when(ones * 2 > n, F.lit(1 << b)).otherwise(F.lit(0)).cast("long")
    return out


def simhash_pairs(
    df: DataFrame,
    content_col: str = "text",
    key_col: str = "doc_id",
    bits: int = 60,
    max_hamming: int = 3,
    band_bits: int = 12,
) -> DataFrame:
    """Near-dup pairs by simhash hamming distance <= max_hamming.

    Candidate generation: split the simhash into `bits/band_bits` bit
    bands; by pigeonhole any pair within hamming distance < #bands
    shares at least one identical band -> equi-join on (band index,
    band value), never a cross join. Returns (key_a, key_b, hamming).

    Scale shape: each band key ranges over 2^band_bits values, so a
    band bucket holds ~N/2^band_bits docs and the self-join emits
    ~num_bands * N^2 / 2^band_bits candidate rows for non-duplicate
    corpora. The old 16-bit/4-band-bit default collapsed to 16 bucket
    values per band (O(N^2/16) — quadratic in practice); the 60-bit /
    12-band-bit default keeps 4096 values per band while preserving
    the pigeonhole guarantee (5 bands > max_hamming=3).
    """
    num_bands = bits // band_bits
    if num_bands <= max_hamming:
        raise ValueError(
            f"pigeonhole violated: {num_bands} bands <= max_hamming={max_hamming}"
        )
    pre = rebalance_for_cpu(
        df.select(F.col(key_col).alias("k"), F.col(content_col).alias("txt"))
    )
    sh = pre.select("k", simhash("txt", bits).alias("sim"))
    band_cols = [
        F.concat_ws(
            "#",
            F.lit(str(b)),
            (F.shiftright(F.col("sim"), b * band_bits) % (1 << band_bits)).cast(
                "string"
            ),
        ).alias(f"band{b}")
        for b in range(num_bands)
    ]
    # cached: the self-join below would otherwise run the bit-vote
    # simhash expression over the corpus once per side
    banded = sh.select(
        "k", "sim", F.explode(F.array(*band_cols)).alias("bucket")
    ).persist()
    pairs = (
        banded.alias("a")
        .join(banded.alias("b"), "bucket")
        .where(F.col("a.k") < F.col("b.k"))
        .select(
            F.col("a.k").alias("key_a"),
            F.col("b.k").alias("key_b"),
            F.bit_count(F.col("a.sim").bitwiseXOR(F.col("b.sim"))).alias("hamming"),
        )
        .dropDuplicates(["key_a", "key_b"])
    )
    return _with_cached_deps(
        pairs.where(F.col("hamming") <= max_hamming), banded, pre
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    content_col: str = "text",
    key_col: str = "doc_id",
    n: int = 3,
    jaccard_threshold: float = 0.4,
    min_df_prune: int = 50,
    engine: str = "arrow",
) -> DataFrame:
    """Near-dup pairs by word n-gram Jaccard.

    Candidates share at least one n-gram (equi-join on the n-gram).
    n-grams appearing in more than `min_df_prune` docs are pruned from
    candidate generation (stop-gram skew guard — the classic salt
    against hot keys at scale); verification uses the FULL n-gram sets
    so pruning never changes a pair's score, only which pairs are
    discovered — pairs sharing only ultra-common n-grams score low and
    sit below any useful threshold anyway.
    """
    use_arrow = engine == "arrow"
    pre = rebalance_for_cpu(
        df.select(F.col(key_col).alias("k"), F.col(content_col).alias("txt")),
        persist=not use_arrow,
    )
    if use_arrow:
        # num_hashes=0 -> the Arrow pass emits just (k, sh): shared
        # tokenize+ngram kernel with the minhash path, no md5 work
        grams = (
            _minhash_base_arrow(pre, n, 0)
            .withColumnRenamed("sh", "g")
            .persist()  # reused by candidate explode + both verification joins
        )
    else:
        grams = (
            pre.select(
                "k",
                X.word_ngrams_from_tokens(X.lower_tokens("txt"), n).alias("g"),
            )
            .where(F.size("g") > 0)
            .persist()
        )
    exploded = grams.select("k", F.explode("g").alias("gram")).persist()
    rare = exploded.groupBy("gram").count().where(F.col("count") <= min_df_prune)
    cand_grams = exploded.join(rare.select("gram"), "gram")
    pairs = (
        cand_grams.alias("a")
        .join(cand_grams.alias("b"), "gram")
        .where(F.col("a.k") < F.col("b.k"))
        .select(F.col("a.k").alias("key_a"), F.col("b.k").alias("key_b"))
        .distinct()
    )
    ga = grams.select(F.col("k").alias("key_a"), F.col("g").alias("g_a"))
    gb = grams.select(F.col("k").alias("key_b"), F.col("g").alias("g_b"))
    inter = F.size(F.array_intersect("g_a", "g_b")).cast("double")
    union = F.size(F.array_union("g_a", "g_b")).cast("double")
    out = (
        pairs.join(ga, "key_a")
        .join(gb, "key_b")
        .withColumn("jaccard", F.round(inter / union, 6))
        .where(F.col("jaccard") >= jaccard_threshold)
        .select("key_a", "key_b", "jaccard")
    )
    return _with_cached_deps(out, grams, exploded, pre)


# A verify group holding more vectors than this is hash-split into
# chunk-pair groups (see _grouped_embedding_near_dups), bounding each
# applyInPandas group to ~2 * _CHUNK_CAP vectors however skewed the
# bucket.
_CHUNK_CAP = 32768
# Row-count ceiling of the opt-in all-pairs driver gather.
_MAX_GATHER_ROWS = 2_000_000


def _min_partition_bytes(spark) -> int:
    """The session's spark.sql.adaptive.coalescePartitions.
    minPartitionSize in bytes, parsed by Spark's own byte-string
    parser (the conf accepts "1MB", "512k", plain byte counts...)."""
    raw = spark.conf.get(
        "spark.sql.adaptive.coalescePartitions.minPartitionSize", "1MB"
    )
    jutils = spark.sparkContext._jvm.org.apache.spark.network.util.JavaUtils
    return int(jutils.byteStringAsBytes(raw))


def _grouped_embedding_near_dups(
    df: DataFrame,
    vec_col: str,
    key_col: str,
    threshold: float,
    block_col: str | None,
    plane_bands: list[list[list[float]]] | None,
) -> DataFrame:
    """Blocked near-dup pairs, verified GROUP-LOCALLY: every row lands
    in one or more buckets and one GEMM per bucket emits only the pairs
    that clear the threshold — no pair self-join, and vectors ship once
    per bucket, never once per candidate pair.

    The bucket is the ``block_col`` value (one bucket per row, e.g. an
    IVF cell id) or, for ``plane_bands``, one "band#code" sign-LSH
    bucket per band (OR-amplification: a pair is found if it shares ANY
    band's bucket; the cross-band dedup runs on the tiny verified set).

    Scale shape: in-bucket work is quadratic in BUCKET occupancy, which
    r (planes per band) or the block granularity tunes: high thresholds
    (0.9+) support r >= 12 (2^12 bucket values, sub-quadratic); low
    thresholds are intrinsically near-quadratic for ANY LSH family
    (rho ~ 0.67 at cosine 0.4) and IVF (similarity.py) is the better
    tool there.

    Hot buckets: a bucket with occupancy b > _CHUNK_CAP is hash-split
    into K = ceil(b/_CHUNK_CAP) chunks and verified as K*(K+1)/2
    chunk-pair groups, each holding at most ~2*_CHUNK_CAP vectors —
    same emitted pairs exactly (every (a, b) pair lands in precisely
    the group of its own chunk pair), ~2x the flops on split buckets
    only.

    Rows with a NULL vector or NULL block value, zero-norm vectors and
    vectors with NULL elements have an undefined cosine or no bucket
    and emit no pair. They are dropped inside the Python kernels, not
    by a Spark filter: Catalyst would push an IS NOT NULL filter below
    the caller's projection and evaluate a computed vector or block
    column (e.g. semdedup's cell assignment) twice.
    """
    import numpy as np
    import pandas as pd

    # The STORED vector type ships (float32 for the embeddings corpus):
    # every consumer of `v` is a NumPy kernel that widens to float64
    # itself (np.float64(float32) is exact), so a JVM-side cast would
    # only double the bytes of the bucket shuffle — the operator's
    # dominant byte mover.
    if block_col is not None:
        banded = df.select(
            F.col(key_col).alias("k"),
            F.col(vec_col).alias("v"),
            F.col(block_col).alias("bucket"),
        )
    else:
        # rebalance: a single parquet file plans as one partition, which
        # would serialize the bucket GEMM kernel onto one core
        base = rebalance_for_cpu(
            df.select(F.col(key_col).alias("k"), F.col(vec_col).alias("v")),
            persist=False,
        )
        # Bucket computation is one (batch x dim) @ (dim x B*r) GEMM per
        # Arrow batch instead of B*r interpreted zip_with/aggregate dots
        # per ROW (measured ~44 ms/row at B=12, r=4, dim=64 — interpreted
        # HOF eval re-builds the 64-literal plane array per evaluation).
        # Sign decisions agree with the oracle's list_dot_product up to
        # summation-order ulps; a Gaussian plane dot sits ~|sqrt(dim)|
        # from zero, so a flipped sign needs |dot| within an ulp of 0
        # (~1e-13 odds per dot).
        n_bands, r_planes = len(plane_bands), len(plane_bands[0])
        plane_mat = np.array(
            [p for band in plane_bands for p in band], dtype=np.float64
        )  # (B*r, dim)
        bit_weights = 1 << np.arange(r_planes)

        def _buckets_fn(vs):
            # a NULL vector gets a NULL bucket list, which explode drops
            live = vs.notna().to_numpy()
            out = [None] * len(vs)
            if live.any():
                M = np.array(list(vs[live]), dtype=np.float64)
                signs = (M @ plane_mat.T >= 0).reshape(len(M), n_bands, r_planes)
                codes = signs @ bit_weights  # (n, B)
                for i, row in zip(np.flatnonzero(live), codes):
                    out[i] = [f"{b}#{int(c)}" for b, c in enumerate(row)]
            return pd.Series(out, dtype=object)

        _buckets_fn.__annotations__ = {"vs": pd.Series, "return": pd.Series}
        _buckets = F.pandas_udf(_buckets_fn, "array<string>")
        banded = base.select("k", "v", F.explode(_buckets("v")).alias("bucket"))

    cached: list[DataFrame] = []
    grouped = None
    # A bucket can never hold more rows than the corpus: when the WHOLE
    # input fits under the cap, the memory bound holds trivially and the
    # split machinery (cache + occupancy pass) would be pure overhead.
    # The count is one cheap column-less scan job; at 100 TB the corpus
    # exceeds any sane cap and this gate falls through.
    if df.count() > _CHUNK_CAP:
        # Hot-bucket split: persist the (key, vector, bucket) frame ONCE
        # (MEMORY_AND_DISK — its byte volume is the same rows the verify
        # groupBy is about to shuffle, so the spillable cache costs one
        # extra shuffle-sized write; recomputing instead would run the
        # bucket GEMM stage twice, measured +0.9 s at sf0.1), count
        # bucket occupancy from it, and check the max. The max is ONE
        # scalar: when no bucket exceeds the cap — every
        # non-adversarial corpus — the split machinery short-circuits
        # to literal group columns with NO join and NO explode.
        from pyspark import StorageLevel

        banded = banded.persist(StorageLevel.MEMORY_AND_DISK)
        cached.append(banded)
        sizes = banded.groupBy("bucket").agg(F.count(F.lit(1)).alias("__bn"))
        max_occ = sizes.agg(F.max("__bn")).first()[0]
        if max_occ is not None and max_occ > _CHUNK_CAP:
            # Broadcast the small size table back and explode each hot
            # bucket's rows to its chunk-pair groups. K = 1 for every
            # bucket under the cap, so only skewed buckets replicate.
            k_col = F.ceil(F.col("__bn") / F.lit(_CHUNK_CAP)).cast("int")
            grouped = (
                banded.join(F.broadcast(sizes), "bucket")
                .withColumn("__ci", F.pmod(F.xxhash64("k"), k_col).cast("int"))
                .select(
                    "k",
                    "v",
                    "bucket",
                    "__ci",
                    F.explode(
                        F.transform(
                            F.sequence(F.lit(0), k_col - 1),
                            lambda j: F.struct(
                                F.least(F.col("__ci"), j).alias("i"),
                                F.greatest(F.col("__ci"), j).alias("j"),
                            ),
                        )
                    ).alias("__g"),
                )
                .select(
                    "k",
                    "v",
                    "bucket",
                    "__ci",
                    F.col("__g.i").alias("__gi"),
                    F.col("__g.j").alias("__gj"),
                )
            )
    if grouped is None:
        grouped = banded.select(
            "k",
            "v",
            "bucket",
            F.lit(0).alias("__ci"),
            F.lit(0).alias("__gi"),
            F.lit(0).alias("__gj"),
        )

    # Verify INSIDE each (bucket, chunk-pair) group. A pair is scored
    # only in the group matching its own (sorted) chunk pair, so split
    # buckets emit each pair exactly once. np.round(...,6) absorbs
    # GEMM-vs-sequential summation ulps against the oracles' exact
    # cosine. Key handling adapts to the frame's key type (any
    # orderable key: integral keys stay int64, others compare as
    # Python objects).
    key_sql = banded.schema["k"].dataType.simpleString()
    key_integral = key_sql in ("bigint", "int", "smallint", "tinyint")
    key_np = "int64" if key_integral else "object"

    no_pairs = pd.DataFrame({"key_a": [], "key_b": [], "cosine": []}).astype(
        {"key_a": key_np, "key_b": key_np, "cosine": "float64"}
    )

    def _bucket_pairs(pdf):
        # NULL block values group together but are no bucket; a NULL
        # vector (block_col input) has no cosine
        if len(pdf) < 2 or pd.isna(pdf["bucket"].iloc[0]):
            return no_pairs
        pdf = pdf[pdf["v"].notna()]
        if len(pdf) < 2:
            return no_pairs
        keys = pdf["k"].to_numpy(dtype=key_np)
        ci = pdf["__ci"].to_numpy(dtype=np.int64)
        gi = int(pdf["__gi"].iloc[0])
        gj = int(pdf["__gj"].iloc[0])
        M = np.array(list(pdf["v"]), dtype=np.float64)
        norms = np.sqrt((M * M).sum(axis=1))
        # zero norms / NaN elements give NaN cosines, which fail the
        # threshold test below: such vectors emit no pair
        with np.errstate(divide="ignore", invalid="ignore"):
            sims = np.round((M @ M.T) / np.outer(norms, norms), 6)
        own_group = (np.minimum(ci[:, None], ci[None, :]) == gi) & (
            np.maximum(ci[:, None], ci[None, :]) == gj
        )
        ia, ib = np.nonzero(
            (sims >= threshold) & (keys[:, None] < keys[None, :]) & own_group
        )
        return pd.DataFrame(
            {"key_a": keys[ia], "key_b": keys[ib], "cosine": sims[ia, ib]}
        )

    # The verify exchange is AQE-coalescible, and AQE's parallelism-
    # first coalescing floors partitions at minPartitionSize: a bucket
    # shuffle of a few MB gets bytes/minPartitionSize tasks — fewer than
    # the machine has slots — for a GEMM-bound stage. Pin the exchange
    # to the slot count exactly in that regime: above slots x
    # minPartitionSize the condition is false and AQE keeps managing
    # the exchange; below the unit-test stats floor tiny plans stay
    # untouched. Caveat: the plan-stats size underestimates the real
    # shuffle volume (see rebalance_for_cpu), so the pin can stay armed
    # somewhat past the true crossover — harmless, it only fixes the
    # task count at the slot count.
    spark = df.sparkSession
    slots = spark.sparkContext.defaultParallelism
    if (
        _REBALANCE_MIN_STATS_BYTES
        < _plan_size_bytes(grouped)
        < slots * _min_partition_bytes(spark)
    ):
        grouped = grouped.repartition(slots, "bucket", "__gi", "__gj")
    pairs = grouped.groupBy("bucket", "__gi", "__gj").applyInPandas(
        _bucket_pairs, f"key_a {key_sql}, key_b {key_sql}, cosine double"
    )
    if plane_bands is not None:
        # a pair sharing several bands' buckets is emitted once per band
        pairs = pairs.dropDuplicates(["key_a", "key_b"])
    return _with_cached_deps(pairs, *cached)


def embedding_near_dups(
    df: DataFrame,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
    threshold: float = 0.95,
    block_col: str | None = None,
    plane_bands: list[list[list[float]]] | None = None,
    allow_driver_gather: bool = False,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (key_a, key_b, cosine)
    with cosine >= threshold, key_a < key_b.

    The scale path is blocked candidate generation: pass either
    ``block_col`` (a precomputed bucket column, e.g. IVF cell ids) or
    ``plane_bands`` (SEVERAL independent sign-LSH plane sets —
    OR-amplified banded LSH: a pair is a candidate if it shares the
    bucket of ANY band, recall 1-(1-p^r)^B for per-plane agreement p,
    r planes per band, B bands). Both verify through the same grouped
    per-bucket GEMM (:func:`_grouped_embedding_near_dups`) — never
    all-pairs, never a driver gather — and every candidate is verified
    with the exact cosine, so blocking affects RECALL only, never
    precision.

    The exact all-pairs scan (broadcast-matrix BLAS) is gated behind
    ``allow_driver_gather=True`` plus a row-count guard
    (``_MAX_GATHER_ROWS``): it collects every vector to the driver,
    which is a deliberate "index fits in memory" baseline (and the
    exact reference recall is measured against), not a 100 TB plan.
    """
    if block_col is not None and plane_bands is not None:
        raise ValueError("pass block_col or plane_bands, not both")
    if block_col is not None or plane_bands is not None:
        return _grouped_embedding_near_dups(
            df, vec_col, key_col, threshold, block_col, plane_bands
        )

    # All-pairs scan: broadcast the index side as a float64 matrix,
    # stream the probe side through mapInPandas, and let BLAS do
    # A @ B.T in one fused pass per Arrow batch (dot / (|a||b|), round
    # 6dp, >= threshold). At scale the broadcast side is the "index
    # fits in executor memory" brute-force baseline — beyond that, IVF
    # (similarity.build_ivf_index) is the path.
    import numpy as np
    import pandas as pd

    if not allow_driver_gather:
        raise ValueError(
            "embedding_near_dups without block_col/plane_bands is an exact "
            "all-pairs scan that gathers every vector to the driver. "
            "Pass plane_bands= (sign-LSH blocking) for the distributed "
            "path, or opt in explicitly with allow_driver_gather=True."
        )
    spark = df.sparkSession
    n_rows = df.count()
    if n_rows > _MAX_GATHER_ROWS:
        raise ValueError(
            f"brute-force gather refused: {n_rows} rows > "
            f"{_MAX_GATHER_ROWS}; use plane_bands= blocking "
            "or similarity.build_ivf_index instead"
        )
    key_sql = df.schema[key_col].dataType.simpleString()
    key_np = (
        "int64"
        if key_sql in ("bigint", "int", "smallint", "tinyint")
        else "object"
    )
    gathered = df.select(key_col, vec_col).toPandas()  # Arrow path
    keys = gathered[key_col].to_numpy(dtype=key_np)
    mat = np.array(list(gathered[vec_col]), dtype=np.float64)
    norms = np.sqrt((mat * mat).sum(axis=1))
    bc = spark.sparkContext.broadcast((keys, mat, norms))

    def gen(batches):
        b_keys, b_mat, b_norms = bc.value
        for pdf in batches:
            a_keys = pdf[key_col].to_numpy(dtype=key_np)
            a_mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            a_norms = np.sqrt((a_mat * a_mat).sum(axis=1))
            sims = np.round(
                (a_mat @ b_mat.T) / np.outer(a_norms, b_norms), 6
            )
            ia, ib = np.nonzero(
                (sims >= threshold) & (a_keys[:, None] < b_keys[None, :])
            )
            yield pd.DataFrame(
                {
                    "key_a": a_keys[ia],
                    "key_b": b_keys[ib],
                    "cosine": sims[ia, ib],
                }
            )

    # persist=False: a cache barrier before a single-consumer
    # mapInPandas is wasted work, and the persisted frame could never
    # be released (the returned frame records no deps)
    probe = rebalance_for_cpu(df.select(key_col, vec_col), persist=False)
    return probe.mapInPandas(
        gen, f"key_a {key_sql}, key_b {key_sql}, cosine double"
    )


def winnow_fingerprints(
    df: DataFrame,
    content_col: str = "text",
    key_col: str = "doc_id",
    ngram_n: int = 3,
    window: int = 4,
    seed: int = 11,
) -> DataFrame:
    """MOSS-style winnowing fingerprints: hash the ordered word
    n-grams, slide a ``window``-wide window over the hash sequence,
    and keep the minimum of each window — a position-robust fingerprint
    set with density ~2/(window+1) that is guaranteed to share a value
    for any match of length >= window + ngram_n - 1 tokens (the
    winnowing guarantee; Schleimer/Wilkerson/Aiken, SIGMOD'03).

    Returns exploded distinct (key_col, fingerprint) rows — join two
    corpora's fingerprints on the hash to find local overlaps (the
    same equi-join shape as every other candidate generator here).
    Docs with fewer grams than ``window`` contribute min-of-all; docs
    with no grams contribute nothing.

    Scale shape: pure per-row expression work, NO shuffle — the
    portable polynomial hash keeps the oracle exact, and only the
    8-byte fingerprints (never gram text) leave the map stage.
    """
    toks = X.lower_tokens(content_col)
    grams = X.word_ngrams_ordered(toks, ngram_n)
    hashes = F.transform(grams, lambda g: _poly_hash(g, seed))
    m = F.size(hashes)
    windowed = F.transform(
        F.sequence(F.lit(1), m - F.lit(window - 1)),
        lambda i: F.array_min(F.slice(hashes, i, window)),
    )
    fps = F.when(m >= window, windowed).otherwise(
        F.when(m > 0, F.array(F.array_min(hashes))).otherwise(
            F.array().cast("array<long>")
        )
    )
    return df.select(
        F.col(key_col),
        F.explode(F.array_distinct(fps)).alias("fingerprint"),
    )


def winnow_overlap_pairs(
    df: DataFrame,
    content_col: str = "text",
    key_col: str = "doc_id",
    ngram_n: int = 3,
    window: int = 4,
    seed: int = 11,
    min_shared: int = 2,
    max_df_prune: int = 50,
) -> DataFrame:
    """Local-overlap candidate pairs from winnowing fingerprints:
    (key_a, key_b, n_shared) for documents sharing >= ``min_shared``
    fingerprints — MOSS's detection join.  Because winnowing keeps a
    fingerprint for every >= window+ngram_n-1 token run, this finds
    PARTIAL overlaps (shared paragraphs, quoted blocks) that whole-doc
    similarity scores dilute away.

    Scale shape: the self-join carries only (key, 8-byte fingerprint)
    rows; fingerprints present in more than ``max_df_prune`` docs are
    pruned before the join (the q18 stop-gram skew guard — ubiquitous
    boilerplate minima would otherwise form quadratic hot buckets),
    and the pair aggregation is one shuffle on the pair key.  The
    fingerprint frame is persisted (df-prune and self-join both read
    it); call :func:`release` on the result when done with it.
    """
    fps = winnow_fingerprints(
        df, content_col, key_col, ngram_n, window, seed
    ).persist()
    rare = (
        fps.groupBy("fingerprint")
        .count()
        .where(F.col("count") <= max_df_prune)
        .select("fingerprint")
    )
    pruned = fps.join(rare, "fingerprint")
    out = (
        pruned.alias("a")
        .join(pruned.alias("b"), "fingerprint")
        .where(F.col(f"a.{key_col}") < F.col(f"b.{key_col}"))
        .groupBy(
            F.col(f"a.{key_col}").alias("key_a"),
            F.col(f"b.{key_col}").alias("key_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )
    return _with_cached_deps(out, fps)


def ngram_contamination(
    corpus: DataFrame,
    probe: DataFrame,
    content_col: str = "text",
    key_col: str = "doc_id",
    ngram_n: int = 8,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Train/eval contamination check: corpus keys that share ANY
    length-``ngram_n`` word n-gram with the probe (benchmark/eval) set.

    Scale shape: each side explodes to distinct (key, hash(gram)) rows
    — the hash, never the gram text, rides the shuffle — and detection
    is a left-semi equi-join on the hash. The probe side (eval sets are
    small) broadcasts under AQE; corpus-side work is one map pass + one
    semi-join, the same plan at 100 TB.

    hash_fn: "xxhash64" (default — 8-byte rows, collision odds ~2^-64)
    or "md5" (32-byte hex, SQL-portable: DuckDB has md5 but not
    xxhash64, which is what makes the operator oracle-checkable).

    Returns distinct contaminated corpus keys as column ``key_col``.
    """
    hasher = F.xxhash64 if hash_fn == "xxhash64" else F.md5

    def grams(df: DataFrame, out: str) -> DataFrame:
        return (
            df.select(
                F.col(key_col).alias(out),
                F.explode(
                    X.word_ngrams_from_tokens(
                        X.lower_tokens(content_col), ngram_n
                    )
                ).alias("g"),
            )
            .select(out, hasher("g").alias("gh"))
            .dropDuplicates()
        )

    probe_hashes = grams(probe, "pk").select("gh").dropDuplicates()
    return (
        grams(corpus, key_col)
        .join(probe_hashes, "gh", "left_semi")
        .select(key_col)
        .dropDuplicates()
    )


def span_dedup_rebuild(
    df: DataFrame,
    content_col: str = "text",
    key_col: str = "doc_id",
    chunk_tokens: int = 32,
) -> DataFrame:
    """Span-level exact dedup with document reconstruction (the
    sub-document analogue of exact_dedup, after Lee et al.,
    "Deduplicating Training Data Makes Language Models Better",
    ACL'22): split every document into non-overlapping
    ``chunk_tokens``-token spans, keep only the FIRST corpus-wide
    occurrence of each distinct span (first = smallest
    (``key_col``, span index), the same deterministic keep rule
    exact_dedup uses), and rebuild each document from its surviving
    spans in order.

    Returns one row per document that produced at least one span:
    (key_col, text, n_spans_kept, n_spans_total) — ``text`` is the
    kept spans re-joined with single spaces (empty string when every
    span was a repeat of an earlier document's span).

    Scale shape: chunking is map-side expression work
    (operators/chunking.py — one posexplode, no UDFs); the keep-first
    decision is ONE window shuffle keyed by the span's md5 (uniform by
    construction, no skew), and reconstruction is ONE groupBy shuffle
    back on the document key. Both shuffles move the corpus once —
    the floor for any operator that must re-emit document text. The
    md5 keeps the winner rule oracle-expressible in ANSI SQL.
    """
    from pyspark.sql import Window

    from .chunking import chunk_documents

    spans = chunk_documents(
        df, content_col=content_col, key_col=key_col, chunk_tokens=chunk_tokens
    )
    w = Window.partitionBy("__h").orderBy(key_col, "chunk_id")
    flagged = (
        spans.withColumn("__h", F.md5("chunk_text"))
        .withColumn("kept", F.row_number().over(w) == F.lit(1))
    )
    spans_sorted = F.array_sort(
        F.collect_list(F.struct("chunk_id", "kept", "chunk_text"))
    )
    return (
        flagged.groupBy(key_col)
        .agg(
            spans_sorted.alias("__s"),
            F.sum(F.col("kept").cast("int")).alias("n_spans_kept"),
            F.count(F.lit(1)).alias("n_spans_total"),
        )
        .select(
            key_col,
            F.array_join(
                F.transform(
                    F.filter("__s", lambda s: s["kept"]),
                    lambda s: s["chunk_text"],
                ),
                " ",
            ).alias("text"),
            F.col("n_spans_kept").cast("long").alias("n_spans_kept"),
            F.col("n_spans_total").cast("long").alias("n_spans_total"),
        )
    )


def source_similarity_matrix(
    df: DataFrame,
    group_col: str = "source",
    content_col: str = "text",
    ngram_n: int = 8,
    hash_fn: str = "xxhash64",
    round_dp: int = 6,
) -> DataFrame:
    """Corpus-LEVEL overlap diagnostics: pairwise n-gram Jaccard
    between document GROUPS (sources, snapshots, mixture components)
    — the zoom-out of the doc-pair operators: before designing a
    mixture or debugging contamination you want "how much does source
    A repeat source B" as one small matrix, not a million doc pairs.

    Returns ``(group_a, group_b, n_a, n_b, n_common, jaccard)`` with
    group_a < group_b, over each group's DISTINCT gram-hash set.

    Scale shape: the corpus reduces map-side to distinct
    (group, hash(gram)) rows — hashes ride the shuffle, never text;
    per-group set sizes are one grouped count; the intersection
    self-join is keyed on the gram hash, where each gram shared by k
    groups emits C(k,2) pairs — bounded by |groups|² per gram, and
    |groups| is mixture-sized (tens), never corpus-sized.
    ``hash_fn='md5'`` is the SQL-portable oracle mode (the
    ngram_contamination switch).
    """
    from ._common import col_ref

    hasher = F.xxhash64 if hash_fn == "xxhash64" else F.md5
    g = col_ref(group_col)
    grams = (
        df.select(
            g.alias("__g"),
            F.explode(
                X.word_ngrams_from_tokens(
                    X.lower_tokens(content_col), ngram_n
                )
            ).alias("__gram"),
        )
        .select("__g", hasher("__gram").alias("__gh"))
        .dropDuplicates()
        .persist()
    )
    sizes = grams.groupBy("__g").agg(F.count(F.lit(1)).alias("__n"))
    inter = (
        grams.select(F.col("__g").alias("group_a"), "__gh")
        .join(grams.select(F.col("__g").alias("group_b"), "__gh"), "__gh")
        .where(F.col("group_a") < F.col("group_b"))
        .groupBy("group_a", "group_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    out = (
        inter.join(
            F.broadcast(
                sizes.select(F.col("__g").alias("group_a"), F.col("__n").alias("n_a"))
            ),
            "group_a",
        )
        .join(
            F.broadcast(
                sizes.select(F.col("__g").alias("group_b"), F.col("__n").alias("n_b"))
            ),
            "group_b",
        )
        .select(
            "group_a",
            "group_b",
            "n_a",
            "n_b",
            "n_common",
            F.round(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                round_dp,
            ).alias("jaccard"),
        )
    )
    return _with_cached_deps(out, grams)


def duplication_report(
    df: DataFrame,
    group_col: str = "source",
    content_col: str = "text",
    key_col: str = "doc_id",
    jaccard_threshold: float = 0.5,
    round_dp: int = 6,
    **lsh_kwargs,
) -> DataFrame:
    """Per-group duplication health report: how much of each source is
    exact-duplicate or near-duplicate content — the number that decides
    which upstream source gets throttled or re-crawled, and the first
    thing to check when a mixture suddenly trains worse.

    A document counts as `exact_dups` if it is a non-minimal copy of
    identical content (the copies `exact_dedup` would drop, attributed
    to THEIR source, so a scraper mirroring another source is charged
    for the copies) and as `near_dups` if it survives exact dedup but
    is the greater key of a minhash near-dup pair (the row
    `minhash_lsh_pairs`-based removal drops). Returns
    (group_col, n_docs, exact_dups, near_dups, dup_rate).

    Scale shape: exact dedup is one content-hash shuffle; near-dup is
    the q17 band-join kernel over the already-deduped set; everything
    aggregates to |groups| rows with map-side combine.
    """
    keys = df.select(key_col, group_col)
    totals = keys.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_docs"))

    kept = exact_dedup(df, content_col, key_col)
    exact_removed = (
        keys.join(kept.select(key_col), key_col, "left_anti")
        .groupBy(group_col)
        .agg(F.count(F.lit(1)).alias("exact_dups"))
    )

    pairs = minhash_lsh_pairs(
        kept,
        content_col=content_col,
        key_col=key_col,
        jaccard_threshold=jaccard_threshold,
        **lsh_kwargs,
    )
    near_removed = (
        pairs.select(F.col("key_b").alias(key_col))
        .dropDuplicates()
        .join(keys, key_col)
        .groupBy(group_col)
        .agg(F.count(F.lit(1)).alias("near_dups"))
    )

    out = (
        totals.join(exact_removed, group_col, "left")
        .join(near_removed, group_col, "left")
        .select(
            group_col,
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.coalesce("exact_dups", F.lit(0)).cast("bigint").alias("exact_dups"),
            F.coalesce("near_dups", F.lit(0)).cast("bigint").alias("near_dups"),
            F.round(
                (F.coalesce("exact_dups", F.lit(0)) + F.coalesce("near_dups", F.lit(0)))
                / F.col("n_docs"),
                round_dp,
            ).alias("dup_rate"),
        )
    )
    # the pair frame persists its signature scan (caller-unpersists
    # contract); the report is small, so materialize then release
    out = out.localCheckpoint(eager=True)
    release(pairs)
    return out


def ngram_novelty(
    corpus: DataFrame,
    probe: DataFrame,
    content_col: str = "text",
    key_col: str = "doc_id",
    ngram_n: int = 8,
    hash_fn: str = "xxhash64",
    round_dp: int = 6,
) -> DataFrame:
    """Per-probe-document n-gram novelty: the fraction of each probe
    doc's distinct ``ngram_n``-grams that do NOT appear anywhere in the
    corpus — the graded form of `ngram_contamination` (which answers
    "any overlap at all?"). Low novelty on an eval set means the
    benchmark leaks into training data; low novelty on candidate
    training data means it adds nothing the corpus doesn't have —
    both are drop signals, read from opposite ends.

    Returns (key_col, n_grams, known_grams, novelty_rate) — probe docs
    with fewer than ``ngram_n`` tokens emit nothing (no grams to
    judge).

    Scale shape: both sides explode to distinct (key, hash(gram)) rows
    — the hash, never the gram text, rides the shuffle — known-gram
    detection is one equi-join against the corpus's distinct gram
    hashes, then one probe-keyed rollup.
    """
    hasher = F.xxhash64 if hash_fn == "xxhash64" else F.md5

    def grams(df: DataFrame, out: str) -> DataFrame:
        return (
            df.select(
                F.col(key_col).alias(out),
                F.explode(
                    X.word_ngrams_from_tokens(
                        X.lower_tokens(content_col), ngram_n
                    )
                ).alias("g"),
            )
            .select(out, hasher("g").alias("gh"))
            .dropDuplicates()
        )

    corpus_hashes = grams(corpus, "ck").select("gh").dropDuplicates()
    pg = grams(probe, key_col)
    return (
        pg.join(
            corpus_hashes.withColumn("__known", F.lit(1)), "gh", "left"
        )
        .groupBy(key_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce("__known", F.lit(0)))
            .cast("bigint")
            .alias("known_grams"),
            F.round(
                1.0
                - F.sum(F.coalesce("__known", F.lit(0))) / F.count(F.lit(1)),
                round_dp,
            ).alias("novelty_rate"),
        )
    )
