"""Tests for dedup / similarity / text / multimodal operators on small
deterministic corpora plus the driver's sf0.001 tables."""

import pytest
from pyspark.sql import functions as F

from cloud_native_medical_data_etl_pipeline_spark.functions import text as X
from cloud_native_medical_data_etl_pipeline_spark.functions import vectors as V
from cloud_native_medical_data_etl_pipeline_spark.operators import (
    dedup,
    multimodal,
    similarity,
)

SF = "/root/testdata/sf0.001"


def _docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank"),
        (2, "the quick brown fox jumps over the lazy dog near the river bend"),  # near-dup of 1
        (3, "completely different content about spark query engines and shuffles"),
        (4, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup of 1
        (5, "spark query engines shuffle data between executors for joins"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark):
    out = dedup.exact_dedup(_docs(spark))
    ids = {r["doc_id"] for r in out.collect()}
    assert ids == {1, 2, 3, 5}  # 4 collapses into 1 (min key kept)


def test_exact_dedup_payload_path_matches_full_row(spark):
    """r16: the payload fast path (one min(struct) aggregate, no
    semi-join) must keep EXACTLY the rows the full-row form keeps,
    payload columns included — also under NULL text (hash of '')
    and NULL payload values."""
    rows = [
        (1, "same text", "en", "web"),
        (2, "same text", "de", "book"),   # dup of 1 -> dropped
        (3, None, "en", None),            # NULL text group...
        (4, None, None, "web"),           # ...dup of 3 -> dropped
        (5, "unique", "fr", "web"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    fast = dedup.exact_dedup(df, payload=["lang", "source"])
    slow = dedup.exact_dedup(df).select("doc_id", "lang", "source")
    got = {tuple(r) for r in fast.collect()}
    want = {tuple(r) for r in slow.collect()}
    assert got == want == {(1, "en", "web"), (3, "en", None), (5, "fr", "web")}
    # plan contract: single aggregate, no join anywhere
    plan = fast._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan


def test_minhash_lsh_finds_near_dup(spark):
    pairs = dedup.minhash_lsh_pairs(_docs(spark), jaccard_threshold=0.5)
    got = {(r["key_a"], r["key_b"]) for r in pairs.collect()}
    assert (1, 4) in got  # exact dup: jaccard 1.0
    assert (1, 2) in got  # near dup
    assert all(a < b for a, b in got)


def test_minhash_lsh_join_probe_vs_corpus(spark):
    """Asymmetric incremental shape: probe docs match only CORPUS
    near-dups — intra-probe and intra-corpus pairs never appear."""
    docs = _docs(spark)
    probe = docs.where(F.col("doc_id").isin(2, 5))
    corpus = docs.where(~F.col("doc_id").isin(2, 5))
    out = dedup.minhash_lsh_join(probe, corpus, jaccard_threshold=0.5)
    got = {
        (r["probe_key"], r["corpus_key"], r["jaccard"])
        for r in out.collect()
    }
    dedup.release(out)
    keys = {(p, c) for p, c, _ in got}
    # doc 2 near-dups 1 and its exact copy 4; doc 5 matches nothing
    assert keys == {(2, 1), (2, 4)}
    # and the two corpus hits carry the SAME jaccard (4 is 1's copy)
    js = {j for _, _, j in got}
    assert len(js) == 1


def test_minhash_lsh_join_matches_pairs_semantics(spark):
    """On a probe/corpus split of one corpus, the join must emit
    exactly the cross-set subset of minhash_lsh_pairs' output."""
    docs = _docs(spark)
    pairs = dedup.minhash_lsh_pairs(docs, jaccard_threshold=0.5)
    cross = {
        frozenset((r["key_a"], r["key_b"]))
        for r in pairs.collect()
        if (r["key_a"] in (2, 5)) != (r["key_b"] in (2, 5))
    }
    dedup.release(pairs)
    probe = docs.where(F.col("doc_id").isin(2, 5))
    corpus = docs.where(~F.col("doc_id").isin(2, 5))
    out = dedup.minhash_lsh_join(probe, corpus, jaccard_threshold=0.5)
    got = {
        frozenset((r["probe_key"], r["corpus_key"])) for r in out.collect()
    }
    dedup.release(out)
    assert got == cross


def test_minhash_arrow_equals_sql_engine(spark):
    """The Arrow mapInPandas base path must be bit-identical to the
    expression path — same pairs, same jaccard — on real corpus text."""
    docs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .limit(300)
        .select("doc_id", "text")
    )
    arrow = dedup.minhash_lsh_pairs(docs, engine="arrow").collect()
    sql = dedup.minhash_lsh_pairs(docs, engine="sql").collect()
    assert sorted(map(tuple, arrow)) == sorted(map(tuple, sql))
    assert len(arrow) > 0  # corpus has planted near-dups
    ja = dedup.ngram_jaccard_pairs(docs, engine="arrow").collect()
    js = dedup.ngram_jaccard_pairs(docs, engine="sql").collect()
    assert sorted(map(tuple, ja)) == sorted(map(tuple, js))


def test_simhash_pairs(spark):
    pairs = dedup.simhash_pairs(_docs(spark), max_hamming=3)
    got = {(r["key_a"], r["key_b"]) for r in pairs.collect()}
    assert (1, 4) in got
    hams = {(r["key_a"], r["key_b"]): r["hamming"] for r in pairs.collect()}
    assert hams[(1, 4)] == 0


def test_ngram_jaccard_pairs(spark):
    pairs = dedup.ngram_jaccard_pairs(_docs(spark), jaccard_threshold=0.4)
    got = {(r["key_a"], r["key_b"]) for r in pairs.collect()}
    assert (1, 4) in got
    assert (1, 2) in got
    assert (3, 5) not in got


def test_banded_lsh_recall_vs_exact(spark):
    """OR-amplified banded sign-LSH must recover most true pairs: the
    r2 single-band blocking had ~19% recall at threshold 0.4; the
    12-band default is measured >= 80% here against the exact gated
    all-pairs path, with perfect precision (every emitted pair is
    cosine-verified, so emitted ⊆ exact)."""
    import __spark_entry__ as entry_mod

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    exact = {
        (r["key_a"], r["key_b"])
        for r in dedup.embedding_near_dups(
            emb, threshold=0.4, allow_driver_gather=True
        ).collect()
    }
    banded = {
        (r["key_a"], r["key_b"])
        for r in dedup.embedding_near_dups(
            emb, threshold=0.4, plane_bands=entry_mod._HP_BANDS
        ).collect()
    }
    assert banded <= exact  # precision 1.0: only verified-true pairs
    assert len(banded) >= 0.8 * len(exact), (len(banded), len(exact))


def test_embedding_near_dups_and_topk(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = [float(x) for x in emb.where(F.col("vec_id") == 0).collect()[0]["embedding"]]
    topk = similarity.cosine_topk(emb, q, k=5).collect()
    assert topk[0]["vec_id"] == 0 and abs(topk[0]["cosine"] - 1.0) < 1e-6
    assert len(topk) == 5
    # scores non-increasing
    sims = [r["cosine"] for r in topk]
    assert sims == sorted(sims, reverse=True)


def test_ivf_topk_overlaps_exact(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = [float(x) for x in emb.where(F.col("vec_id") == 3).collect()[0]["embedding"]]
    exact = [r["vec_id"] for r in similarity.cosine_topk(emb, q, k=10).collect()]
    approx = [
        r["vec_id"]
        for r in similarity.ivf_topk(emb, q, k=10, num_cells=8, nprobe=4).collect()
    ]
    # approximate search must at least find the query itself and
    # overlap the exact set substantially
    assert 3 in approx
    assert len(set(exact) & set(approx)) >= 5
    # the gemm/arrow kernel pair produces identical rows end to end
    gemm = [
        tuple(r)
        for r in similarity.ivf_topk(
            emb, q, k=10, num_cells=8, nprobe=4, impl="gemm"
        ).collect()
    ]
    expr = [
        tuple(r)
        for r in similarity.ivf_topk(
            emb, q, k=10, num_cells=8, nprobe=4
        ).collect()
    ]
    assert gemm == expr
    with pytest.raises(ValueError, match="impl"):
        similarity.ivf_topk(emb, q, impl="simd")


def test_text_functions(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the hat"), (2, ""), (3, None)],
        "doc_id long, text string",
    )
    out = df.select(
        "doc_id",
        X.token_count("text").alias("n"),
        X.stopword_ratio("text").alias("sw"),
        X.fingerprint("text").alias("fp"),
        X.lang_id("text").alias("lang"),
    ).collect()
    rows = {r["doc_id"]: r for r in out}
    assert rows[1]["n"] == 5
    assert rows[2]["n"] == 0 and rows[3]["n"] == 0
    assert rows[1]["sw"] == pytest.approx(3 / 5)  # the, and, the
    assert rows[1]["lang"] == "en"
    assert rows[2]["fp"] == 0
    assert rows[1]["fp"] > 0


def test_fingerprint_matches_python(spark):
    # cross-check the portable rolling hash against a python impl
    s = "hello world"
    h = 0
    for ch in s:
        h = (h * 31 + ord(ch)) % 2147483647
    df = spark.createDataFrame([(s,)], "text string")
    assert df.select(X.fingerprint("text").alias("fp")).collect()[0]["fp"] == h


def test_shingles_and_ngrams(spark):
    df = spark.createDataFrame([("abcdef",)], "text string")
    sh = df.select(X.char_shingles("text", 5).alias("s")).collect()[0]["s"]
    assert sorted(sh) == ["abcde", "bcdef"]
    df2 = spark.createDataFrame([("a b c d",)], "text string")
    ng = df2.select(X.word_ngrams("text", 3).alias("g")).collect()[0]["g"]
    assert sorted(ng) == ["a b c", "b c d"]


def test_multimodal_plumbing(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(20)
    media = multimodal.attach_payload(docs)
    feats = multimodal.decode_features(media, dim=4)
    rows = feats.collect()
    assert len(rows) == 20
    r0 = rows[0]
    assert r0["n_bytes"] > 0
    assert len(r0["feature"]) == 4
    assert r0["byte_mean"] > 0
    # fake=False is the REAL PNG path now (tests/test_png.py); on a
    # non-PNG payload it must fail loudly inside the executor
    with pytest.raises(Exception, match="not a PNG"):
        multimodal.decode_features(media, fake=False).collect()


def test_vector_kernels(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0], [0.0, 1.0]), ([1.0, 1.0], [1.0, 1.0])], "a array<double>, b array<double>"
    )
    out = df.select(
        V.dot("a", "b").alias("d"), F.round(V.cosine("a", "b"), 6).alias("c")
    ).collect()
    assert out[0]["d"] == 0.0 and out[0]["c"] == 0.0
    assert out[1]["d"] == 2.0 and abs(out[1]["c"] - 1.0) < 1e-9


def test_ivf_index_roundtrip_matches_inline(spark, tmp_path):
    from cloud_native_medical_data_etl_pipeline_spark.operators import similarity as S

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = [float(x) for x in emb.where("vec_id = 0").first()["embedding"]]
    idx = str(tmp_path / "ivf")
    S.build_ivf_index(emb, idx, num_cells=16)
    inline = S.ivf_topk(emb, q, k=10, num_cells=16, nprobe=4).collect()
    indexed = S.ivf_topk_indexed(spark, idx, q, k=10, nprobe=4).collect()
    assert [(r["vec_id"], r["cosine"]) for r in indexed] == [
        (r["vec_id"], r["cosine"]) for r in inline
    ]
    # the arrow probe-scan kernel scores bit-identically
    arrow = S.ivf_topk_indexed(
        spark, idx, q, k=10, nprobe=4, impl="arrow"
    ).collect()
    assert [tuple(r) for r in arrow] == [tuple(r) for r in indexed]
    with pytest.raises(ValueError, match="impl"):
        S.ivf_topk_indexed(spark, idx, q, impl="simd")


def test_ivf_index_scan_prunes_partitions(spark, tmp_path):
    from cloud_native_medical_data_etl_pipeline_spark.operators import similarity as S

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = [float(x) for x in emb.where("vec_id = 3").first()["embedding"]]
    idx = str(tmp_path / "ivf")
    S.build_ivf_index(emb, idx, num_cells=8)
    df = S.ivf_topk_indexed(spark, idx, q, k=5, nprobe=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell_id" in plan
    assert df.count() == 5


def test_multimodal_resize_and_frames(spark):
    import pytest as _pytest

    from cloud_native_medical_data_etl_pipeline_spark.operators import multimodal as MM

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(20)
    media = MM.attach_payload(docs)

    resized = MM.resize_images(media, width=8, height=8)
    rows = resized.collect()
    assert len(rows) == 20
    assert all(len(r["payload"]) == 64 for r in rows)
    assert all(r["width"] == 8 and r["height"] == 8 for r in rows)

    frames = MM.sample_frames(media, every_n_bytes=64, max_frames=3)
    f = frames.collect()
    assert len(f) >= 20  # at least one frame per payload
    per_media = {}
    for r in f:
        per_media.setdefault(r["media_id"], []).append(r["frame_idx"])
    assert all(sorted(v) == list(range(len(v))) for v in per_media.values())
    assert max(len(v) for v in per_media.values()) <= 3

    # fake=False runs the REAL parsers now (tests/test_png.py,
    # tests/test_riff.py); non-media payloads fail loudly
    with _pytest.raises(Exception, match="not a PNG"):
        MM.resize_images(media, fake=False).collect()
    with _pytest.raises(Exception, match="not an AVI"):
        MM.sample_frames(media, fake=False).collect()


def test_redact_pii_and_normalize(spark):
    df = spark.createDataFrame(
        [
            (1, "mail me at alice@example.com or call +1 (555) 123-4567"),
            (2, "see https://example.com/docs?id=9 and ssn 123456789"),
            (3, "plain \x07text\t with   runs\n\nhere"),
            (4, None),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["red"], r["norm"])
        for r in df.select(
            "doc_id",
            X.redact_pii("text").alias("red"),
            X.normalize_text("text").alias("norm"),
        ).collect()
    }
    assert "<EMAIL>" in out[1][0] and "<PHONE>" in out[1][0]
    assert "alice@example.com" not in out[1][0]
    assert "<URL>" in out[2][0] and "<ID>" in out[2][0]
    assert "https://" not in out[2][0]
    assert out[3][1] == "plain text with runs here"
    assert out[4][1] == ""
    # idempotent
    twice = df.select(
        X.normalize_text(X.normalize_text("text")).alias("n2")
    ).collect()
    assert [r["n2"] for r in twice] == [out[i][1] for i in (1, 2, 3, 4)]


def test_ngram_contamination(spark):
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today ok"),
            (2, "completely unrelated text about spark partitions and shuffles"),
            (3, "THE QUICK BROWN FOX JUMPS OVER THE LAZY DOG tonight"),
        ],
        "doc_id long, text string",
    )
    probe = spark.createDataFrame(
        [(100, "benchmark says the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    hits = sorted(
        r["doc_id"]
        for r in dedup.ngram_contamination(corpus, probe, ngram_n=8).collect()
    )
    # docs 1 and 3 share the 8-gram (case-insensitive); doc 2 does not
    assert hits == [1, 3]


def test_cap_per_group_deterministic(spark):
    from cloud_native_medical_data_etl_pipeline_spark.operators import curate

    docs = spark.read.parquet(f"{SF}/documents.parquet").withColumn(
        "domain", F.col("doc_id") % 7
    )
    capped = curate.cap_per_group(docs, "domain", 10)
    sizes = capped.groupBy("domain").count().collect()
    assert all(r["count"] <= 10 for r in sizes)
    # deterministic across layouts
    a = sorted(r["doc_id"] for r in capped.collect())
    b = sorted(
        r["doc_id"]
        for r in curate.cap_per_group(docs.repartition(17), "domain", 10).collect()
    )
    assert a == b
    # groups smaller than the cap pass through whole
    tiny = docs.where(F.col("doc_id") < 3)
    assert curate.cap_per_group(tiny, "domain", 10).count() == 3


def test_mix_corpora_deterministic_proportions(spark):
    from cloud_native_medical_data_etl_pipeline_spark.operators import curate

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    a = docs.where(F.col("doc_id") % 2 == 0)
    b = docs.where(F.col("doc_id") % 2 == 1)
    mixed = curate.mix_corpora({"web": (a, 1.0), "books": (b, 0.3)})
    counts = {r["source"]: r["count"] for r in mixed.groupBy("source").count().collect()}
    na, nb = a.count(), b.count()
    assert counts["web"] == na  # weight 1.0 keeps everything
    assert 0.15 * nb < counts.get("books", 0) < 0.45 * nb  # ~30%
    # deterministic across layouts
    again = curate.mix_corpora({"web": (a.repartition(9), 1.0), "books": (b.repartition(5), 0.3)})
    assert sorted(r["doc_id"] for r in mixed.collect()) == sorted(
        r["doc_id"] for r in again.collect()
    )


def test_winnow_fingerprints_guarantee(spark):
    """Winnowing guarantee: two docs sharing a run of >= window+n-1
    tokens share at least one fingerprint; short docs get min-of-all;
    empty docs get nothing."""
    shared = "alpha beta gamma delta epsilon zeta eta"  # 7 tokens >= 4+3-1
    df = spark.createDataFrame(
        [
            (1, f"intro words {shared} closing remarks here"),
            (2, f"{shared} completely different tail text follows"),
            (3, "tiny doc"),          # < 3 tokens -> no grams -> no rows
            (4, "one two three"),     # exactly one gram -> min-of-all
            (5, ""),
        ],
        "doc_id long, text string",
    )
    fps = dedup.winnow_fingerprints(df, ngram_n=3, window=4)
    by_doc = {}
    for r in fps.collect():
        by_doc.setdefault(r["doc_id"], set()).add(r["fingerprint"])
    assert by_doc[1] & by_doc[2], "shared run must share a fingerprint"
    assert 3 not in by_doc and 5 not in by_doc
    assert len(by_doc[4]) == 1


def test_winnow_overlap_detects_partial_overlap(spark):
    """A shared paragraph inside otherwise-different docs must produce
    a pair; unrelated docs must not."""
    para = " ".join(f"shared{i}" for i in range(12))
    df = spark.createDataFrame(
        [
            (1, f"unique one opening text {para} unique one closing"),
            (2, f"{para} totally different framing with other words"),
            (3, "nothing in common with the others at all here"),
        ],
        "doc_id long, text string",
    )
    pairs = {
        (r["key_a"], r["key_b"]): r["n_shared"]
        for r in dedup.winnow_overlap_pairs(df, min_shared=2).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] >= 2
    assert not any(3 in p for p in pairs)


def _cached_ids(spark) -> set:
    """IDs of the session's persistent RDDs.  Compared as SETS, not
    counts: the shared suite session carries localCheckpoint RDDs
    from earlier tests that Spark's ContextCleaner removes
    ASYNCHRONOUSLY (GC-driven), so a count taken as 'baseline' can
    legitimately DROP mid-test — a serial-suite flake this test
    exhibited in r16.  The contract under test is only that ids
    created by the operator are gone after release()."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in jmap.keySet().toArray()}


def test_release_unpersists_operator_caches(spark):
    """Caller-unpersists contract: every pair generator that persists an
    intermediate frame records it on the result, and dedup.release()
    removes every cached RDD the operator created — no cache leaks
    into a long-lived pipeline."""
    from cloud_native_medical_data_etl_pipeline_spark.operators import curate as CU

    docs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .limit(200)
        .select("doc_id", "text")
    )
    base = _cached_ids(spark)
    for make in (
        lambda: dedup.minhash_lsh_pairs(docs),
        lambda: dedup.ngram_jaccard_pairs(docs),
        lambda: dedup.simhash_pairs(docs),
        lambda: dedup.winnow_overlap_pairs(docs),
        lambda: CU.curate(docs),
    ):
        out = make()
        out.count()  # materialize: the caches are live at this point
        assert _cached_ids(spark) - base, "operator created no cache?"
        dedup.release(out)
        assert not (_cached_ids(spark) - base), make
        dedup.release(out)  # idempotent
        assert not (_cached_ids(spark) - base)


def test_banded_chunk_split_equivalence(spark, monkeypatch):
    """Hot-bucket chunking is a physical re-shape only: a tiny chunk
    cap (forces K>1 in every bucket) must emit exactly the unsplit
    group-GEMM pair set."""
    import __spark_entry__ as entry_mod

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")

    def run(cap):
        monkeypatch.setattr(dedup, "_CHUNK_CAP", cap)
        out = dedup.embedding_near_dups(
            emb, threshold=0.4, plane_bands=entry_mod._HP_BANDS
        )
        rows = sorted(map(tuple, out.collect()))
        dedup.release(out)
        return rows

    baseline = run(1 << 40)                   # the input fits: no split
    assert len(baseline) > 0
    assert run(8) == baseline                 # every bucket splits
    assert run(40) == baseline                # mean occupancy ~31: hot ones split


def _brute_force_pairs(vecs, buckets, threshold):
    """{(key_a, key_b): cosine} over every pair sharing a bucket,
    scored pair by pair in Python with the operator's rounding; pairs
    with an undefined cosine (NULL vector, NULL element, zero norm)
    are skipped."""
    import math

    out = {}
    for ka, va in vecs.items():
        for kb, vb in vecs.items():
            if not ka < kb or not buckets[ka] & buckets[kb]:
                continue
            if va is None or vb is None or None in va or None in vb:
                continue
            na = math.sqrt(sum(x * x for x in va))
            nb = math.sqrt(sum(x * x for x in vb))
            if na == 0 or nb == 0:
                continue
            cos = round(sum(x * y for x, y in zip(va, vb)) / (na * nb), 6)
            if cos >= threshold:
                out[(ka, kb)] = cos
    return out


def test_grouped_verify_matches_brute_force(spark, monkeypatch):
    """The grouped-GEMM verifier, through both bucketings (block column
    and banded sign-LSH) and with the hot-bucket chunk split forced by
    a tiny _CHUNK_CAP, emits exactly the brute-force pair set: NULL
    block values, NULL vectors, NULL elements and zero vectors never
    pair, and string keys order like Python strings."""
    import random

    import numpy as np

    rng = random.Random(7)

    def near(axis):
        v = [rng.uniform(-0.01, 0.01) for _ in range(4)]
        v[axis] += 1.0
        return v

    rows = (
        [(f"a{i}", near(0), 1 if i < 4 else 2) for i in range(7)]
        + [(f"b{i}", near(1), 3) for i in range(5)]
        + [
            ("c0", near(0), None),                # NULL block values
            ("c1", near(0), None),
            ("n0", None, 1),                      # NULL vector
            ("e0", [1.0, None, 0.0, 0.0], 1),     # NULL element
            ("z0", [0.0] * 4, 1),                 # zero norm
            ("z1", [0.0] * 4, 3),
        ]
    )
    df = spark.createDataFrame(
        rows, "vec_id string, embedding array<float>, blk int"
    )
    # the column is array<float>: score what Spark stores
    vecs = {
        k: None
        if v is None
        else [None if x is None else float(np.float32(x)) for x in v]
        for k, v, _ in rows
    }
    planes = [
        similarity.deterministic_hyperplanes(4, n_planes=2, seed=40 + b)
        for b in range(3)
    ]

    def band_buckets(v):
        if v is None or None in v:
            return set()
        return {
            f"{b}#"
            + str(
                sum(
                    1 << i
                    for i, p in enumerate(band)
                    if sum(x * y for x, y in zip(v, p)) >= 0
                )
            )
            for b, band in enumerate(planes)
        }

    cases = [
        (
            dict(block_col="blk"),
            {k: set() if blk is None else {blk} for k, _, blk in rows},
        ),
        (dict(plane_bands=planes), {k: band_buckets(vecs[k]) for k in vecs}),
    ]
    default_cap = dedup._CHUNK_CAP
    for kw, buckets in cases:
        want = _brute_force_pairs(vecs, buckets, 0.98)
        assert want, kw
        # the default cap exceeds the input (no split); 2 is below the
        # occupancy of every bucket holding a pair, so those all split
        for cap in (default_cap, 2):
            monkeypatch.setattr(dedup, "_CHUNK_CAP", cap)
            out = dedup.embedding_near_dups(df, threshold=0.98, **kw)
            rows_out = out.collect()
            dedup.release(out)
            got = {(r["key_a"], r["key_b"]): r["cosine"] for r in rows_out}
            assert len(got) == len(rows_out), (kw, cap)  # each pair once
            assert got.keys() == want.keys(), (kw, cap)
            for p, cos in want.items():
                assert abs(got[p] - cos) <= 1e-6, (kw, cap, p)
    with pytest.raises(ValueError, match="not both"):
        dedup.embedding_near_dups(df, block_col="blk", plane_bands=planes)


# ---------------------------------------------------------------------------
# span_dedup_rebuild
# ---------------------------------------------------------------------------


def test_span_dedup_keeps_first_occurrence(spark):
    # spans of 2 tokens; doc 1 owns both spans of "a b c d";
    # doc 2 repeats span "a b" (dropped) but contributes "x y" (kept);
    # doc 3 is entirely doc 1's spans -> rebuilt text is empty
    rows = [
        (1, "a b c d"),
        (2, "a b x y"),
        (3, "c d a b"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in dedup.span_dedup_rebuild(df, chunk_tokens=2).collect()
    }
    assert out[1]["text"] == "a b c d"
    assert (out[1]["n_spans_kept"], out[1]["n_spans_total"]) == (2, 2)
    assert out[2]["text"] == "x y"
    assert (out[2]["n_spans_kept"], out[2]["n_spans_total"]) == (1, 2)
    assert out[3]["text"] == ""
    assert (out[3]["n_spans_kept"], out[3]["n_spans_total"]) == (0, 2)


def test_span_dedup_orders_rebuilt_spans(spark):
    # kept spans must re-join in chunk order even when the window
    # decision shuffles them by hash
    toks = " ".join(f"t{i}" for i in range(10))
    df = spark.createDataFrame([(1, toks)], "doc_id long, text string")
    out = dedup.span_dedup_rebuild(df, chunk_tokens=3).collect()[0]
    assert out["text"] == toks
    assert out["n_spans_total"] == 4  # 3+3+3+1


def test_span_dedup_skips_empty_docs(spark):
    df = spark.createDataFrame(
        [(1, "some text"), (2, ""), (3, None), (4, "   ")],
        "doc_id long, text string",
    )
    out = dedup.span_dedup_rebuild(df, chunk_tokens=4).collect()
    assert [r["doc_id"] for r in out] == [1]


# ---------------------------------------------------------------------------
# centroid_outlier_scores
# ---------------------------------------------------------------------------


def test_centroid_outlier_flags_planted_outlier(spark):
    # group 1: three near-identical vectors + one opposite-direction
    # outlier; the outlier must get the lowest centroid cosine
    rows = [
        (1, [1.0, 0.1, 0.0], 1),
        (2, [1.0, 0.0, 0.1], 1),
        (3, [0.9, 0.1, 0.1], 1),
        (4, [-1.0, 0.0, 0.0], 1),   # outlier
        (5, [0.0, 1.0, 0.0], 2),    # singleton group -> cosine 1.0
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = {
        r["vec_id"]: r["centroid_cosine"]
        for r in similarity.centroid_outlier_scores(df).collect()
    }
    assert len(out) == 5
    assert min(out[1], out[2], out[3]) > 0.9
    assert out[4] == min(out.values()) and out[4] < 0.0
    assert out[5] == 1.0


def test_cosine_topk_batch_matches_single_query_loop(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = (
        emb.orderBy(F.col("vec_id").asc())
        .limit(3)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    batch = similarity.cosine_topk_batch(emb, queries, k=4).collect()
    by_q = {}
    for r in sorted(batch, key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(r["query_id"], []).append((r["vec_id"], r["cosine"]))
    assert set(len(v) for v in by_q.values()) == {4}
    for qrow in queries.collect():
        single = similarity.cosine_topk(
            emb, [float(x) for x in qrow["embedding"]], k=4
        ).collect()
        assert by_q[qrow["query_id"]] == [(r["vec_id"], r["cosine"]) for r in single]


def test_mutual_nn_kills_hub_matches(spark):
    """a2's best is the hub b1, but b1's best is a1 — mutuality keeps
    only (a1, b1); likewise b2 -> a2 is one-directional."""
    a = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1])], "vec_id long, embedding array<float>"
    )
    b = spark.createDataFrame(
        [(10, [1.0, 0.01]), (20, [0.0, 1.0])], "vec_id long, embedding array<float>"
    )
    out = similarity.mutual_nearest_neighbors(a, b).collect()
    assert [(r["a_key"], r["b_key"]) for r in out] == [(1, 10)]
    assert out[0]["cosine"] > 0.99


def test_mutual_nn_perfect_pairing(spark):
    """Orthogonal matched sets pair off completely."""
    a = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0]), (3, [0.0, 0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    b = spark.createDataFrame(
        [(10, [0.9, 0.1, 0.0]), (20, [0.1, 0.9, 0.0]), (30, [0.0, 0.1, 0.9])],
        "vec_id long, embedding array<float>",
    )
    got = {
        (r["a_key"], r["b_key"])
        for r in similarity.mutual_nearest_neighbors(a, b).collect()
    }
    assert got == {(1, 10), (2, 20), (3, 30)}


def test_hard_negatives_excludes_same_label(spark):
    """The nearest neighbor overall shares the probe's label and must
    NOT appear; ranks cover only different-label items; NULL labels
    are excluded entirely."""
    corpus = spark.createDataFrame(
        [
            (10, [1.0, 0.0], 1),    # same label as probe, closest -> excluded
            (20, [0.9, 0.1], 2),    # different label, very close -> rank 1
            (30, [0.5, 0.5], 2),    # different label -> rank 2
            (40, [0.99, 0.01], None),  # null label -> never a negative
        ],
        "vec_id long, embedding array<float>, label int",
    )
    probe = spark.createDataFrame(
        [(1, [1.0, 0.0], 1)], "vec_id long, embedding array<float>, label int"
    )
    out = similarity.hard_negatives(corpus, probe, k=2).collect()
    assert [(r["vec_id"], r["rank"]) for r in out] == [(20, 1), (30, 2)]
    assert all(r["query_key"] == 1 for r in out)


def test_source_similarity_matrix(spark):
    """Two sources sharing half their grams score the exact Jaccard;
    a disjoint source scores 0 rows against... nothing shared -> no
    pair row at all (inner intersection semantics)."""
    rows = [
        (1, "one two three four five six seven eight nine", "A"),
        (2, "one two three four five six seven eight nine", "B"),  # same grams as A
        (3, "totally different words that never repeat anywhere else ok", "C"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = dedup.source_similarity_matrix(df, ngram_n=3, hash_fn="md5")
    got = {
        (r["group_a"], r["group_b"]): (r["n_a"], r["n_b"], r["n_common"], r["jaccard"])
        for r in out.collect()
    }
    dedup.release(out)
    # A and B have identical 3-gram sets (7 grams) -> jaccard 1.0;
    # C shares nothing with either -> no rows for (A,C)/(B,C)
    assert got == {("A", "B"): (7, 7, 7, 1.0)}


def test_embedding_dim_stats_detects_dead_dim(spark):
    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 2.0]),
            (2, [3.0, 0.0, 2.0]),
            (3, [5.0, 0.0, 2.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    got = {
        r["dim"]: (r["mean"], r["std"], r["zero_frac"])
        for r in similarity.embedding_dim_stats(emb).collect()
    }
    assert got[0] == (3.0, 2.0, 0.0)
    assert got[1] == (0.0, 0.0, 1.0)   # dead dimension
    assert got[2] == (2.0, 0.0, 0.0)   # constant but nonzero


def test_trained_ivf_recall_on_planted_clusters(spark):
    # 4 well-separated planted clusters in 8-d, members = center + tiny
    # jitter. The min-key init (train_iters=0) takes the 16 smallest
    # keys, i.e. 16 vectors from cluster 0 only; training must migrate
    # centroids toward the true clusters and lift (or at worst match)
    # recall of the exact top-10 for a query in the LAST cluster.
    import random

    rng = random.Random(7)
    centers = [
        [10.0 if d == c * 2 else 1.0 for d in range(8)] for c in range(4)
    ]
    rows = []
    for i in range(80):
        c = i // 20  # keys 0-19 -> cluster 0, ..., 60-79 -> cluster 3
        vec = [x + rng.gauss(0, 0.05) for x in centers[c]]
        rows.append((i, vec))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = rows[70][1]

    exact = {r["vec_id"] for r in similarity.cosine_topk(emb, q, k=10).collect()}

    def recall(train_iters):
        got = {
            r["vec_id"]
            for r in similarity.ivf_topk(
                emb, q, k=10, num_cells=4, nprobe=1, train_iters=train_iters
            ).collect()
        }
        return len(got & exact) / len(exact)

    r_untrained, r_trained = recall(0), recall(2)
    assert r_trained >= r_untrained
    assert r_trained == 1.0  # trained cells isolate the planted cluster


def test_train_ivf_centroids_deterministic(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    a = similarity.train_ivf_centroids(emb, num_cells=8, iters=2)
    b = similarity.train_ivf_centroids(emb, num_cells=8, iters=2)
    assert a == b  # rounded means pin run-to-run summation order
    assert len(a) == 8 and all(len(c) == 64 for c in a)


def test_gopher_quality_flags_rules(spark):
    long_good = ("the quick brown fox jumps over a lazy dog " * 10).strip()
    rows = [
        (1, long_good),                                # passes everything
        (2, "too short to keep"),                      # word_count fails
        (3, long_good + " ##### ### " + "# " * 30),    # symbol_ratio fails
        (4, "\n".join(["- bullet item " + long_good] * 10)),  # bullets only
        (5, ("a b c d e " * 20).strip()),              # mean_word_len < 3
        (6, long_good.replace("the", "123").replace("over", "456")),  # alpha+stops
        (7, None),                                     # null -> everything fails
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id", X.gopher_quality_flags("text", min_words=50).alias("g")
        ).select("doc_id", "g.*").collect()
    }
    assert out[1]["keep"]
    assert not out[2]["word_count"] and not out[2]["keep"]
    assert not out[3]["symbol_ratio"] and not out[3]["keep"]
    assert not out[4]["bullet_lines"]  # 10/10 bullet lines > 0.9
    assert not out[5]["mean_word_len_ok"]
    assert not out[6]["stop_hits"]  # 'the' removed -> only 1 distinct stopword
    assert not out[7]["word_count"] and out[7]["n_words"] == 0
    # every flag is attributable: struct carries one boolean per rule
    rule_cols = [
        "word_count", "mean_word_len_ok", "symbol_ratio", "bullet_lines",
        "ellipsis_lines", "stop_hits", "alpha_ratio",
    ]
    assert all(isinstance(out[1][c], bool) for c in rule_cols)


def test_train_ivf_centroids_partitioning_invariant(spark):
    # the rounded-means claim: summation order (partition layout) must
    # not change the trained centroids
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    a = similarity.train_ivf_centroids(emb.repartition(1), num_cells=8, iters=2)
    b = similarity.train_ivf_centroids(emb.repartition(13), num_cells=8, iters=2)
    assert a == b


def test_duplication_report_attribution(spark):
    # srcA holds the originals; srcB mirrors doc 1 exactly (charged to
    # srcB) and near-duplicates doc 2 (charged to srcB as key_b > 2)
    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank", "srcA"),
        (2, "spark shuffles data between executors for wide joins and aggs", "srcA"),
        (3, "completely unrelated content about medical trial enrollment", "srcA"),
        (10, "the quick brown fox jumps over the lazy dog near the river bank", "srcB"),
        (11, "spark shuffles data between executors for wide joins and sorts", "srcB"),
        (12, "another unique document with entirely fresh words inside", "srcB"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {
        r["source"]: r
        for r in dedup.duplication_report(df, jaccard_threshold=0.5).collect()
    }
    assert out["srcA"]["n_docs"] == 3
    assert out["srcA"]["exact_dups"] == 0 and out["srcA"]["near_dups"] == 0
    assert out["srcB"]["exact_dups"] == 1  # doc 10, the mirror copy
    assert out["srcB"]["near_dups"] == 1   # doc 11, near-dup of 2
    assert out["srcB"]["dup_rate"] == pytest.approx(2 / 3, abs=1e-6)


def test_ngram_novelty_graded(spark):
    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    probe = spark.createDataFrame(
        [
            (10, "alpha beta gamma delta epsilon zeta"),  # fully known
            (11, "alpha beta gamma delta nine ten eleven twelve"),  # partial
            (12, "one two three four five six"),  # fully novel
            (13, "too short"),  # < n tokens -> omitted
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in dedup.ngram_novelty(corpus, probe, ngram_n=4, hash_fn="md5").collect()
    }
    assert set(out) == {10, 11, 12}
    assert out[10]["novelty_rate"] == 0.0
    assert out[12]["novelty_rate"] == 1.0
    # doc 11: grams = 5, known = 1 ("alpha beta gamma delta")
    assert out[11]["n_grams"] == 5 and out[11]["known_grams"] == 1
    assert out[11]["novelty_rate"] == pytest.approx(0.8)


def test_rebalance_stats_probe_failure_fails_open(spark, monkeypatch):
    """If the private queryExecution stats bridge breaks (Spark version
    drift), rebalance_for_cpu must degrade to repartitioning (fail-open
    for parallelism), never raise."""
    from cloud_native_medical_data_etl_pipeline_spark.operators import dedup as D

    df = spark.range(100).coalesce(1)

    def boom(_df):
        raise AttributeError("queryExecution bridge gone")

    monkeypatch.setattr(D, "_plan_size_bytes_raw", boom)
    out = D.rebalance_for_cpu(df, persist=False)
    # fail-open: with the probe gone the frame still gets repartitioned
    target = spark.sparkContext.defaultParallelism
    assert out.rdd.getNumPartitions() == target
    assert out.count() == 100


def test_resize_images_null_payload_passthrough(spark):
    """NULL payloads pass through as NULL resized payloads on BOTH the
    fake and the real decode path (matching decode_features): a missing
    image is a data condition, not a job-killing error."""
    from cloud_native_medical_data_etl_pipeline_spark.functions import png as _png
    from cloud_native_medical_data_etl_pipeline_spark.operators import multimodal as MM

    real = _png.encode(bytes(range(12)), 2, 2, 3)
    df = spark.createDataFrame(
        [(1, bytearray(real)), (2, None)], "media_id long, payload binary"
    )
    for fake in (True, False):
        rows = {
            r["media_id"]: r["payload"]
            for r in MM.resize_images(df, width=2, height=2, fake=fake).collect()
        }
        assert rows[2] is None
        assert rows[1] is not None and len(rows[1]) > 0


def test_minhash_arrow_survives_all_filtered_partition(spark):
    """A partition whose docs ALL drop below the shingle threshold must
    yield an empty Arrow batch, not a float64-typed frame pyarrow
    cannot convert (regression: empty pd.DataFrame dtype bug)."""
    from cloud_native_medical_data_etl_pipeline_spark.operators import dedup as D

    rows = [(1, ""), (2, "one two"), (3, None), (4, "")]  # all < 3 tokens
    docs = spark.createDataFrame(rows, "doc_id long, text string").repartition(4)
    assert D.minhash_lsh_pairs(docs, jaccard_threshold=0.1).count() == 0


def test_bloom_contamination_no_false_negatives_and_broadcast(spark):
    """Bloom membership can false-positive but never false-negative: a
    doc whose grams all come from the eval set MUST flag, a doc with
    entirely novel vocabulary must not (at default m the fixture's
    collision odds are nil), and the filter side must broadcast."""
    from cloud_native_medical_data_etl_pipeline_spark.operators import bloom as B

    ev = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        "doc_id long, text string",
    )
    docs = spark.createDataFrame(
        [
            (10, "alpha beta gamma delta epsilon"),          # fully contained
            (11, "totally different words about nothing"),   # novel
            (12, "xy"),                                      # no grams
        ],
        "doc_id long, text string",
    )
    filt = B.build_ngram_bloom(ev)
    out = B.bloom_contamination(docs, filt)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows[10]["contaminated"] and rows[10]["n_hit"] == rows[10]["n_grams"] > 0
    assert not rows[11]["contaminated"] and rows[11]["n_hit"] == 0
    assert rows[12]["n_grams"] == 0 and not rows[12]["contaminated"]


def test_ivf_append_lands_in_trained_cells(spark, tmp_path):
    """Appending a delta batch must reuse the STORED centroids (no
    retrain): appended vectors land in the cell assign_cells gives
    them, the index stays partition-pruned for queries, and the
    centroid sidecar is unchanged."""
    from cloud_native_medical_data_etl_pipeline_spark.operators import similarity as S

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    corpus = emb.where(F.col("vec_id") % 10 != 0)
    batch = emb.where(F.col("vec_id") % 10 == 0)
    path = str(tmp_path / "index")
    S.build_ivf_index(corpus, path, num_cells=8, train_iters=1)
    cents_before = sorted(
        (r["cell_id"], tuple(r["centroid"]))
        for r in spark.read.parquet(path + "/_ivf_centroids").collect()
    )
    S.append_to_ivf_index(spark, batch, path)
    assert sorted(
        (r["cell_id"], tuple(r["centroid"]))
        for r in spark.read.parquet(path + "/_ivf_centroids").collect()
    ) == cents_before

    idx = spark.read.parquet(path)
    assert idx.count() == emb.count()
    # appended rows sit exactly where a fresh assignment puts them
    centroids = [
        [float(x) for x in r["centroid"]]
        for r in sorted(
            spark.read.parquet(path + "/_ivf_centroids").collect(),
            key=lambda r: r["cell_id"],
        )
    ]
    want = {
        r["vec_id"]: r["cell_id"]
        for r in S.assign_cells(batch, centroids).collect()
    }
    got = {
        r["vec_id"]: r["cell_id"]
        for r in idx.where(F.col("vec_id") % 10 == 0).collect()
    }
    assert got == want
    # queries still prune partitions after the append
    q = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
    df = S.ivf_topk_indexed(spark, path, q, k=5, nprobe=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell_id" in plan


def test_count_min_overestimates_never_under(spark):
    """CMS property: estimate >= exact for every token that was in the
    build stream; with w far above the vocabulary, estimates are
    exact. The sketch must stay <= d*w rows and broadcast on probe."""
    from cloud_native_medical_data_etl_pipeline_spark.operators import sketch as SK

    docs = spark.createDataFrame(
        [(1, "a a a b b c"), (2, "a b d d"), (3, None)],
        "doc_id long, text string",
    )
    cms = SK.build_count_min(docs, d=3, w=64)
    assert cms.count() <= 3 * 64
    toks = spark.createDataFrame(
        [("a",), ("b",), ("d",), ("zz",)], "tok string"
    )
    est = {r["tok"]: r["n_est"] for r in SK.count_min_estimate(toks, cms, d=3, w=64).collect()}
    exact = {"a": 4, "b": 3, "d": 2}
    for t, n in exact.items():
        assert est[t] >= n
    # tiny vocabulary in a 64-wide sketch: collisions vanish, est exact
    assert est == {**exact, "zz": est["zz"]}
    assert est["zz"] >= 0  # unseen probe may collide but never negative

    out = SK.count_min_estimate(toks, cms, d=3, w=64)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_hll_tracks_exact_within_error_bound(spark):
    """HLL property: at p=8 the standard error is 1.04/sqrt(256)=6.5%;
    the estimate over n distinct values must land within 4 sigma of
    exact, register state must stay <= 2^p rows per group regardless
    of input size, and duplicate values must not move the estimate
    (cardinality, not count)."""
    from cloud_native_medical_data_etl_pipeline_spark.operators import sketch as SK

    n = 2000
    rows = [(i, f"value-{i}", "s1") for i in range(n)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    est = SK.hll_cardinality(df, "text", "source", p=8).first()["hll_est"]
    assert abs(est - n) / n < 4 * 1.04 / 16

    regs = SK.hll_register_maxes(df, "text", "source", p=8)
    assert regs.count() <= 256

    # duplicating every row leaves all register maxes — and hence the
    # estimate — bit-identical
    dup = df.union(df).union(df)
    est_dup = SK.hll_cardinality(dup, "text", "source", p=8).first()["hll_est"]
    assert est_dup == est

    # small-range linear counting: a tiny group is near-exact
    small = spark.createDataFrame(
        [(i, f"v{i}", "s2") for i in range(20)],
        "doc_id long, text string, source string",
    )
    est_small = SK.hll_cardinality(small, "text", "source", p=8).first()["hll_est"]
    assert abs(est_small - 20) <= 2


def test_embedding_covariance_exact_and_partition_invariant(spark):
    """Covariance of a known 2-vector set is exact; the Gram-partial
    merge makes the result invariant to partitioning (the property
    that lets every task ship d(d+1)/2+d+1 rows instead of N*d^2)."""
    import numpy as np

    from cloud_native_medical_data_etl_pipeline_spark.operators.similarity import (
        embedding_covariance,
    )

    rng = np.random.default_rng(7)
    X = rng.normal(size=(50, 4)).round(3)
    rows = [(int(i), [float(v) for v in X[i]]) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (r["i"], r["j"]): r["cov"]
        for r in embedding_covariance(df, dim=4).collect()
    }
    C = np.cov(X, rowvar=False, ddof=0)
    assert len(got) == 10
    for (i, j), v in got.items():
        assert v == pytest.approx(round(C[i, j], 6), abs=2e-6)

    re7 = {
        (r["i"], r["j"]): r["cov"]
        for r in embedding_covariance(df.repartition(7), dim=4).collect()
    }
    assert re7 == got

    # wrong-width vectors fail loud, not silently truncated
    with pytest.raises(Exception, match="expected 4-dim"):
        embedding_covariance(
            spark.createDataFrame(
                [(1, [1.0, 2.0])], "vec_id long, embedding array<double>"
            ),
            dim=4,
        ).collect()


def test_minhash_bands_must_divide_num_hashes(spark):
    """bands > num_hashes would put every doc in ONE bucket per band
    (the N^2 cross join banding exists to avoid); a non-divisor would
    silently drop trailing lanes — both must raise."""
    import pytest as _pytest

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d f")], "doc_id long, text string"
    )
    with _pytest.raises(ValueError):
        dedup.minhash_lsh_pairs(docs, num_hashes=4, bands=8).collect()
    with _pytest.raises(ValueError):
        dedup.minhash_lsh_pairs(docs, num_hashes=8, bands=3).collect()


def test_minhash_arrow_equals_sql_on_unicode_edge_whitespace(spark):
    """Leading NBSP (ubiquitous in scraped HTML): the Arrow path must
    trim ONLY Java-\\s whitespace, exactly like the SQL path — a bare
    .strip() also ate Unicode whitespace and silently diverged."""
    rows = [
        (1, " alpha beta gamma delta epsilon"),
        (2, "alpha beta gamma delta epsilon"),
        (3, "alpha beta gamma delta epsilon zeta"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    arrow = dedup.minhash_lsh_pairs(docs, engine="arrow", jaccard_threshold=0.3).collect()
    sql = dedup.minhash_lsh_pairs(docs, engine="sql", jaccard_threshold=0.3).collect()
    assert sorted(map(tuple, arrow)) == sorted(map(tuple, sql))


def test_embedding_near_dups_string_keys_group_verify(spark):
    """The banded group-verify path must accept non-integer keys."""
    rows = [
        ("doc-a", [1.0, 0.0, 0.0, 0.0]),
        ("doc-b", [1.0, 0.001, 0.0, 0.0]),
        ("doc-z", [0.0, 1.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id string, embedding array<float>")
    bands = [[[1.0, 0.5, -0.25, 0.125]], [[-0.5, 1.0, 0.25, -0.125]]]
    pairs = dedup.embedding_near_dups(
        emb, threshold=0.99, plane_bands=bands
    ).collect()
    assert [(r["key_a"], r["key_b"]) for r in pairs] == [("doc-a", "doc-b")]


def test_ivf_append_preserves_index_schema(spark, tmp_path):
    """build_ivf_index writes every df column; appends must carry the
    same set (mixed parquet schemas read back nondeterministically) —
    extra batch columns are projected away, missing ones raise."""
    from cloud_native_medical_data_etl_pipeline_spark.operators import similarity as S

    base = spark.createDataFrame(
        [(i, [float(i), 1.0], f"lbl{i % 2}") for i in range(8)],
        "vec_id long, embedding array<float>, label string",
    )
    path = str(tmp_path / "idx")
    S.build_ivf_index(base, path, num_cells=2, train_iters=1)
    batch = spark.createDataFrame(
        [(100, [9.0, 1.0], "lblX", "extra")],
        "vec_id long, embedding array<float>, label string, junk string",
    )
    S.append_to_ivf_index(spark, batch, path)
    stored = spark.read.parquet(path)
    assert set(stored.columns) == {"vec_id", "embedding", "label", "cell_id"}
    assert stored.where("vec_id = 100").first()["label"] == "lblX"
    import pytest as _pytest

    bad = spark.createDataFrame(
        [(101, [8.0, 1.0])], "vec_id long, embedding array<float>"
    )
    with _pytest.raises(ValueError):
        S.append_to_ivf_index(spark, bad, path)


def test_assign_cells_gemm_matches_expression_path(spark):
    """The Arrow GEMM assignment (assign_cells impl="gemm" — the
    1024-cell ingest lever, ~65x the interpreted expression battery)
    must produce IDENTICAL cell ids to the expression path on real
    embeddings and trained centroids, including the lowest-index
    argmax tiebreak; zero-norm rows get NULL either way."""
    from cloud_native_medical_data_etl_pipeline_spark.operators import similarity as S

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = S.train_ivf_centroids(emb, 8, iters=1)
    a = sorted(
        tuple(r)
        for r in S.assign_cells(emb, cents).select("vec_id", "cell_id").collect()
    )
    b = sorted(
        tuple(r)
        for r in S.assign_cells(emb, cents, impl="gemm")
        .select("vec_id", "cell_id")
        .collect()
    )
    assert a == b
    # zero-norm row -> NULL cell id on the gemm path (the expression
    # path's null-propagating division)
    z = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    got = {
        r["vec_id"]: r["cell_id"]
        for r in S.assign_cells(z, [[1.0, 0.0], [0.0, 1.0]], impl="gemm").collect()
    }
    assert got[1] is None and got[2] == 0
    # NULL embeddings and NULL elements must null-propagate, not crash
    # (semantic_dedup_keep passes the UNFILTERED frame to assign_cells
    # and promises NULL-embedding rows survive with NULL cell_id)
    nl = spark.createDataFrame(
        [(1, None), (2, [1.0, 0.0]), (3, [None, 1.0]), (4, [0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    for impl in ("expr", "gemm"):
        got = {
            r["vec_id"]: r["cell_id"]
            for r in S.assign_cells(
                nl, [[1.0, 0.0], [0.0, 1.0]], impl=impl
            ).collect()
        }
        assert got[1] is None and got[3] is None and got[4] is None, impl
        assert got[2] == 0, impl
    with pytest.raises(ValueError, match="impl"):
        S.assign_cells(z, [[1.0, 0.0]], impl="simd")


def test_train_ivf_centroids_gemm_assignment_matches(spark):
    # gemm-assigned training produces the same centroids: identical
    # member sets per iteration => identical rounded means
    from cloud_native_medical_data_etl_pipeline_spark.operators import similarity as S

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = S.train_ivf_centroids(emb, 8, iters=2)
    b = S.train_ivf_centroids(emb, 8, iters=2, assign_impl="gemm")
    assert a == b


def test_train_ivf_centroids_engines_agree(spark):
    """engine="numpy" (what auto resolves to — the driver-side Lloyd
    loop) must produce IDENTICAL centroids to the in-engine sql spec
    the q23 oracle unrolls, on real embeddings and on edge shapes:
    zero-norm rows (NULL cosine → assigned nowhere), cells that lose
    every member (keep previous centroid), fewer rows than cells."""
    from cloud_native_medical_data_etl_pipeline_spark.operators import similarity as S

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    for iters in (0, 1, 2):
        a = S.train_ivf_centroids(emb, 8, iters=iters, engine="numpy")
        b = S.train_ivf_centroids(emb, 8, iters=iters, engine="sql")
        assert a == b, iters
    edge = spark.createDataFrame(
        [
            (1, [0.0, 0.0]),          # zero norm: no cell either engine
            (2, [1.0, 0.0]),
            (3, [0.9, 0.1]),
            (4, [-1.0, 0.05]),
            (None, [5.0, 5.0]),       # NULL key: excluded
            (5, None),                # NULL vec: excluded
        ],
        "vec_id long, embedding array<double>",
    )
    for cells in (2, 3, 10):
        a = S.train_ivf_centroids(edge, cells, iters=3, engine="numpy")
        b = S.train_ivf_centroids(edge, cells, iters=3, engine="sql")
        assert a == b, cells
    with pytest.raises(ValueError, match="engine"):
        S.train_ivf_centroids(edge, 2, engine="simd")


def test_train_ivf_centroids_auto_caps_collect(spark):
    # max_train_rows mirrors pq_train's guard: auto-derived md5 sample
    # applied before engine dispatch, identical across engines
    from cloud_native_medical_data_etl_pipeline_spark.operators import similarity as S
    from cloud_native_medical_data_etl_pipeline_spark.operators._sampling import (
        hash_sample,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    capped_np = S.train_ivf_centroids(
        emb, 4, iters=1, max_train_rows=100, engine="auto"
    )
    capped_sql = S.train_ivf_centroids(
        emb, 4, iters=1, max_train_rows=100, engine="sql"
    )
    n = emb.count()
    explicit = S.train_ivf_centroids(
        hash_sample(emb, "vec_id", -(-n // 100)), 4, iters=1,
        max_train_rows=None,
    )
    assert capped_np == capped_sql == explicit


def test_centroid_outlier_arrow_matches_expr(spark):
    """impl="arrow" (the corpus-scan lever replacing the interpreted
    per-row HOF cosine) must score bit-identically to the expression
    path — real embeddings, plus NULL-embedding null-propagation and
    the zero-norm → NULL divide contract."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    a = sorted(
        tuple(r)
        for r in similarity.centroid_outlier_scores(emb).collect()
    )
    b = sorted(
        tuple(r)
        for r in similarity.centroid_outlier_scores(
            emb, impl="arrow"
        ).collect()
    )
    assert a == b and len(a) > 0
    edge = spark.createDataFrame(
        [
            (1, [1.0, 0.0], 1),
            (2, None, 1),
            (3, [0.0, 0.0], 1),
            (4, [None, 1.0], 2),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    for impl in ("expr", "arrow"):
        got = {
            r["vec_id"]: r["centroid_cosine"]
            for r in similarity.centroid_outlier_scores(
                edge, impl=impl
            ).collect()
        }
        assert got[2] is None and got[3] is None and got[4] is None, impl
        assert got[1] is not None, impl
    with pytest.raises(ValueError, match="impl"):
        similarity.centroid_outlier_scores(edge, impl="simd")


def test_cosine_topk_arrow_matches_expr(spark):
    """impl="arrow" (the exact-retrieval scan lever) must score and
    rank bit-identically to the expression path, including NULL /
    zero-norm propagation."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = [float(x) for x in emb.where(F.col("vec_id") == 3).first()["embedding"]]
    a = [tuple(r) for r in similarity.cosine_topk(emb, q, k=20).collect()]
    b = [
        tuple(r)
        for r in similarity.cosine_topk(emb, q, k=20, impl="arrow").collect()
    ]
    assert a == b and len(a) == 20
    edge = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, None), (3, [0.0, 0.0]), (4, [None, 1.0])],
        "vec_id long, embedding array<float>",
    )
    for impl in ("expr", "arrow"):
        got = {
            r["vec_id"]: r["cosine"]
            for r in similarity.cosine_topk(
                edge, [1.0, 1.0], k=4, impl=impl
            ).collect()
        }
        assert got[2] is None and got[3] is None and got[4] is None, impl
        assert got[1] is not None, impl
    with pytest.raises(ValueError, match="impl"):
        similarity.cosine_topk(edge, [1.0, 1.0], impl="simd")


def test_cosine_topk_batch_gemm_matches_expr(spark):
    """impl="gemm" (one exact-fold batch pass instead of m·|corpus|
    interpreted HOF cosines) must emit identical (query, key, cosine,
    rank) rows to the broadcast-NLJ expression path, including NULL
    corpus vectors, NULL query vectors, and zero norms."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    a = sorted(
        tuple(r)
        for r in similarity.cosine_topk_batch(emb, queries, k=7).collect()
    )
    b = sorted(
        tuple(r)
        for r in similarity.cosine_topk_batch(
            emb, queries, k=7, impl="gemm"
        ).collect()
    )
    assert a == b and len(a) == 35
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, None), (3, [0.0, 0.0]), (4, [None, 2.0]), (5, [0.5, 0.5])],
        "vec_id long, embedding array<float>",
    )
    qs = spark.createDataFrame(
        [(10, [1.0, 1.0]), (11, None), (12, [3.0, -1.0])],
        "query_id long, embedding array<float>",
    )
    x = sorted(
        tuple(r)
        for r in similarity.cosine_topk_batch(corpus, qs, k=5).collect()
    )
    y = sorted(
        tuple(r)
        for r in similarity.cosine_topk_batch(
            corpus, qs, k=5, impl="gemm"
        ).collect()
    )
    assert x == y
    with pytest.raises(ValueError, match="impl"):
        similarity.cosine_topk_batch(corpus, qs, impl="simd")
    with pytest.raises(ValueError, match="query rows"):
        similarity.cosine_topk_batch(
            corpus, qs, impl="gemm", max_query_rows=2
        )


def test_mutual_nn_and_hard_negatives_gemm_match_expr(spark):
    """The gemm scoring leg must leave mutual-NN pairs and hard-
    negative rankings bit-identical to the expression path, including
    NULL vectors and NULL labels."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    a = emb.where(F.col("vec_id") < 20)
    b = emb.where(F.col("vec_id") >= 20)
    x = sorted(
        tuple(r)
        for r in similarity.mutual_nearest_neighbors(a, b).collect()
    )
    y = sorted(
        tuple(r)
        for r in similarity.mutual_nearest_neighbors(
            a, b, impl="gemm"
        ).collect()
    )
    assert x == y and len(x) > 0
    hx = sorted(
        tuple(r)
        for r in similarity.hard_negatives(emb, a, k=3).collect()
    )
    hy = sorted(
        tuple(r)
        for r in similarity.hard_negatives(
            emb, a, k=3, impl="gemm"
        ).collect()
    )
    assert hx == hy and len(hx) > 0
    corpus = spark.createDataFrame(
        [
            (1, [1.0, 0.0], "en"),
            (2, None, "de"),
            (3, [0.5, 0.5], None),
            (4, [0.0, 1.0], "fr"),
        ],
        "vec_id long, embedding array<float>, label string",
    )
    qs = spark.createDataFrame(
        [(10, [1.0, 0.2], "en"), (11, None, "fr"), (12, [2.0, 1.0], None)],
        "vec_id long, embedding array<float>, label string",
    )
    for fn, kw in (
        (similarity.hard_negatives, {"k": 4}),
        (similarity.mutual_nearest_neighbors, {}),
    ):
        e = sorted(tuple(r) for r in fn(corpus, qs, **kw).collect())
        g = sorted(
            tuple(r) for r in fn(corpus, qs, impl="gemm", **kw).collect()
        )
        assert e == g, fn.__name__
    with pytest.raises(ValueError, match="query rows"):
        similarity.hard_negatives(corpus, qs, impl="gemm", max_query_rows=1)
    with pytest.raises(ValueError, match="query rows"):
        similarity.mutual_nearest_neighbors(
            qs, corpus, impl="gemm", max_query_rows=1
        )


def test_gemm_lever_plan_shapes(spark, tmp_path):
    """Plan pins for the r10 kernel levers: the gemm batch scorer must
    NOT plan a broadcast nested-loop join (that is exactly the shape
    it replaces — the score array + Generate carries the fan-out
    instead), and the arrow probe scan must keep the partition-pruned
    read (the UDF must not defeat PartitionFilters)."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    gemm = similarity.cosine_topk_batch(emb, queries, k=3, impl="gemm")
    plan = gemm._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Generate" in plan  # the posexplode fan-out
    expr = similarity.cosine_topk_batch(emb, queries, k=3)
    eplan = expr._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in eplan  # the shape being replaced
    # arrow probe scan keeps pruning
    q = [float(x) for x in emb.where("vec_id = 3").first()["embedding"]]
    idx = str(tmp_path / "ivf_arrow")
    similarity.build_ivf_index(emb, idx, num_cells=8)
    df = similarity.ivf_topk_indexed(spark, idx, q, k=5, nprobe=2, impl="arrow")
    aplan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in aplan and "cell_id" in aplan
    assert df.count() == 5


def test_gather_vectors_matches_row_collect(spark):
    """`_gather_vectors` (the Arrow flat-buffer gather every driver-
    side engine rides) must reproduce a Row collect exactly: same key
    order, same float64 values (float→double widening is exact), NULL
    ELEMENTS as NaN, and a loud error on ragged vectors."""
    import math

    import numpy as np

    from cloud_native_medical_data_etl_pipeline_spark.operators.similarity import (
        _gather_vectors,
    )

    emb = (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .select(
            F.col("vec_id").alias("key"),
            F.col("embedding").cast("array<double>").alias("vec"),
        )
    )
    keys, X = _gather_vectors(emb)
    rows = {r["key"]: r["vec"] for r in emb.collect()}
    assert sorted(keys) == sorted(rows)
    for i, k in enumerate(keys):
        assert X[i].tolist() == rows[k]
    # NULL elements arrive as NaN
    df = spark.createDataFrame(
        [(1, [1.0, None]), (2, [3.0, 4.0])], "key long, vec array<double>"
    )
    keys2, X2 = _gather_vectors(df)
    byk = dict(zip(keys2, X2))
    assert math.isnan(byk[1][1]) and byk[1][0] == 1.0
    assert byk[2].tolist() == [3.0, 4.0]
    # ragged vectors cannot silently reshape
    ragged = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [3.0])], "key long, vec array<double>"
    )
    with pytest.raises(ValueError):
        _gather_vectors(ragged)


def test_train_ivf_default_is_uncapped_oracle_spec(spark):
    # ADVICE r10: defaults must compute exactly what the q23/q126
    # oracle unrolls — sql engine, whole pool, no silent sample.  An
    # explicit uncapped sql run IS the default run.
    from cloud_native_medical_data_etl_pipeline_spark.operators import similarity as S

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    default = S.train_ivf_centroids(emb, 4, iters=1)
    spec = S.train_ivf_centroids(
        emb, 4, iters=1, engine="sql", max_train_rows=None
    )
    assert default == spec


def test_train_ivf_numpy_refuses_overcap_auto_falls_back(
    spark, monkeypatch
):
    # engine="numpy" REFUSES a pool over DRIVER_TRAIN_CAP instead of
    # silently sampling it; engine="auto" falls back to the
    # distributed sql loop on the FULL pool — identical output to the
    # spec executor either way
    from cloud_native_medical_data_etl_pipeline_spark.operators import _kmeans_np
    from cloud_native_medical_data_etl_pipeline_spark.operators import similarity as S

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).limit(20)
    monkeypatch.setattr(_kmeans_np, "DRIVER_TRAIN_CAP", 5)
    with pytest.raises(ValueError, match="refuses"):
        S.train_ivf_centroids(emb, 4, iters=1, engine="numpy")
    auto = S.train_ivf_centroids(emb, 4, iters=1, engine="auto")
    sql = S.train_ivf_centroids(emb, 4, iters=1, engine="sql")
    assert auto == sql
    # with an explicit cap the pool shrinks below the gate and numpy
    # runs again — all three engines on the identical sampled frame
    # (max_train_rows=2 -> mod=10 keeps 5 of these 20 keys, at the
    # monkeypatched gate; the md5 sample is approximate, so a looser
    # cap could still overshoot the gate and correctly refuse)
    capped = [
        S.train_ivf_centroids(
            emb, 4, iters=1, engine=e, max_train_rows=2
        )
        for e in ("numpy", "auto", "sql")
    ]
    assert capped[0] == capped[1] == capped[2]


def test_gather_vectors_rejects_null_rows_and_ragged(spark):
    # ADVICE r10: flatten() silently drops a NULL row's slot and the
    # (n-1)*dim values can still reshape "successfully" (n=2, dim=2 ->
    # (2,1)), misaligning every vector after the null — reject loudly.
    from cloud_native_medical_data_etl_pipeline_spark.operators.similarity import (
        _gather_vectors,
    )

    nulls = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, None)], "key long, vec array<double>"
    )
    with pytest.raises(ValueError, match="NULL vector rows"):
        _gather_vectors(nulls)
    ragged = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [3.0])], "key long, vec array<double>"
    )
    with pytest.raises(ValueError, match="ragged"):
        _gather_vectors(ragged)
    empty = spark.createDataFrame([], "key long, vec array<double>")
    keys, X = _gather_vectors(empty)
    assert keys == [] and X.shape == (0, 0)


def test_train_ivf_overcap_gate_boundary_and_exact_n_reuse(
    spark, monkeypatch
):
    # the pq_train ADVICE r11 gate, applied symmetrically: dispatch
    # reads at most CAP+1 rows (or reuses the max_train_rows branch's
    # exact count) and the DECISION is unchanged — pool == CAP stays
    # on numpy, CAP+1 refuses / falls back identically
    from cloud_native_medical_data_etl_pipeline_spark.operators import _kmeans_np
    from cloud_native_medical_data_etl_pipeline_spark.operators import similarity as S

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).limit(12)
    monkeypatch.setattr(_kmeans_np, "DRIVER_TRAIN_CAP", 12)
    at_cap_np = S.train_ivf_centroids(emb, 4, iters=1, engine="numpy")
    at_cap_sql = S.train_ivf_centroids(emb, 4, iters=1, engine="sql")
    assert at_cap_np == at_cap_sql
    monkeypatch.setattr(_kmeans_np, "DRIVER_TRAIN_CAP", 11)
    with pytest.raises(ValueError, match="refuses"):
        S.train_ivf_centroids(emb, 4, iters=1, engine="numpy")
    assert (
        S.train_ivf_centroids(emb, 4, iters=1, engine="auto") == at_cap_sql
    )
    # exact-count reuse: unsampled max_train_rows pool (12 <= 1000)
    # knows n without the limit scan and must gate identically
    with pytest.raises(ValueError, match="refuses"):
        S.train_ivf_centroids(
            emb, 4, iters=1, engine="numpy", max_train_rows=1000
        )
    monkeypatch.setattr(_kmeans_np, "DRIVER_TRAIN_CAP", 12)
    assert (
        S.train_ivf_centroids(
            emb, 4, iters=1, engine="numpy", max_train_rows=1000
        )
        == at_cap_sql
    )
