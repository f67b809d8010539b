"""The benchmark's workloads: inputs, one timed job, its output check,
and the traced-run hooks that put spans around each layer.

A workload object is built once per run. Its constructor writes the
run's one seeded input (a day, a shard) and computes the oracle answers
before anything is timed; every job, the warm-up (i = -1) included,
processes that input again, as a re-run of the day would.
``prepare(i)`` runs before job i and ``check(i, out)`` after it, both
outside the timed region; ``job(spark, i, tracer)`` is the timed unit.
"""

from __future__ import annotations

import contextlib
import os
import shutil
from collections import defaultdict

from . import gen, oracle
from .trace import Tracer


def _dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``, ignoring checksum and marker files."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                total += os.path.getsize(os.path.join(root, n))
                files += 1
    return total, files


@contextlib.contextmanager
def patched(patches):
    """Swap module attributes for the duration of one traced job."""
    saved = [(mod, attr, getattr(mod, attr)) for mod, attr, _ in patches]
    for mod, attr, fn in patches:
        setattr(mod, attr, fn)
    try:
        yield
    finally:
        for mod, attr, fn in saved:
            setattr(mod, attr, fn)


class DailyEtl:
    """One day of raw FDA events + trials on the `cli transform` path:
    lake.read_partition (JSON) -> pipeline.run (transforms, enrich,
    parquet + CSV writes, quality gate)."""

    name = "daily_etl"
    item_unit = "records/s"
    # the layers whose span self times must add up to a traced job
    LAYERS = ("sources.lake", "operators.transforms", "operators.enrich", "operators.quality", "plans.pipeline")

    def __init__(self, work: str, seed: int):
        self.lake = os.path.join(work, "lake")
        self.out = os.path.join(work, "out")
        self.day = gen.write_etl_day(self.lake, seed, 0)
        self.expected = oracle.etl_expected(self.day["fda_path"], self.day["ct_path"])
        self.out_ratio: list[float] = []

    def items(self, i: int) -> int:
        return self.day["records"]

    def prepare(self, i: int) -> None:
        """Remove the previous job's lake output, so each check reads
        only what its own job wrote."""
        shutil.rmtree(self.out, ignore_errors=True)

    def job(self, spark, i: int, tr):
        from cloud_native_medical_data_etl_pipeline_spark import schemas
        from cloud_native_medical_data_etl_pipeline_spark.plans import pipeline
        from cloud_native_medical_data_etl_pipeline_spark.sources import lake

        date = self.day["date"]

        def read(sub, schema):
            with tr.span("sources.lake.read") as s:
                df = tr.lazy(s, lambda: lake.read_partition(
                    spark, f"{self.lake}/raw/{sub}", date, schema=schema, fmt="json"))
                return df if df.take(1) else None

        fda = read("fda", schemas.FDA_EVENTS)
        ct = read("clinicaltrials", schemas.CLINICAL_TRIALS)
        with tr.span("plans.pipeline"):
            if tr.active:
                tr.cache_baseline = tr.storage_bytes()
            return pipeline.run(spark, date, fda, ct, self.out)

    def check(self, i: int, result) -> list[str]:
        from cloud_native_medical_data_etl_pipeline_spark.sources import lake

        processed = lake.partition_path(f"{self.out}/processed", self.day["date"])
        summary = lake.partition_path(f"{self.out}/summary", self.day["date"])
        errs = oracle.check_etl(result, self.expected, processed, summary)
        if i >= 0:
            written = _dir_bytes(processed)[0] + _dir_bytes(summary)[0]
            self.out_ratio.append(written / self.day["raw_bytes"])
        return errs

    def hooks(self, tr: Tracer):
        from cloud_native_medical_data_etl_pipeline_spark.operators import enrich, quality, transforms
        from cloud_native_medical_data_etl_pipeline_spark.sources import lake

        def rows_in(span, out, df, *a, **k):
            span.add("rows_in", df.count())

        def pipeline_cache(*a, **k):
            pipe = tr.stack[-1]
            pipe.add("cached_bytes", tr.storage_bytes() - tr.cache_baseline)

        def written(span, out, df, base, date, *a, **k):
            nbytes, nfiles = _dir_bytes(lake.partition_path(base, date))
            span.add("write_bytes", nbytes)
            span.add("write_files", nfiles)

        return [
            (transforms, "transform_fda_events",
             tr.wrap_lazy("operators.transforms", transforms.transform_fda_events, after=rows_in)),
            (transforms, "transform_clinical_trials",
             tr.wrap_lazy("operators.transforms", transforms.transform_clinical_trials, after=rows_in)),
            (enrich, "enrich", tr.wrap_lazy("operators.enrich", enrich.enrich)),
            (lake, "write_partitioned",
             tr.wrap_eager("sources.lake.write", lake.write_partitioned, after=written)),
            (lake, "write_csv_head", tr.wrap_eager("sources.lake.csv", lake.write_csv_head)),
            (quality, "run_quality_checks",
             tr.wrap_eager("operators.quality", quality.run_quality_checks, before=pipeline_cache)),
        ]

    def job_counts(self, i: int) -> dict:
        """None: the theta-join counts come from the program's SQL metrics."""
        return {}

    def extra_metrics(self) -> dict:
        from .loop import median

        return {"out_bytes_per_in_byte": (median(self.out_ratio), "B/B")}


class CorpusCuration:
    """One crawl shard: curate.curate (lang/quality filter -> exact dedup
    -> MinHash LSH) and dedup.embedding_near_dups over the shard's
    embedding table."""

    name = "corpus_curation"
    item_unit = "docs/s"
    LAYERS = ("sources.lake", "operators.curate", "functions.text", "operators.dedup")
    EMB_THRESHOLD = 0.9
    # the q20 headline banding: 12 OR-ed bands of 4 sign planes
    EMB_BANDS, EMB_PLANES = 12, 4

    def __init__(self, work: str, seed: int):
        from cloud_native_medical_data_etl_pipeline_spark.operators import similarity

        self.base = os.path.join(work, "corpus")
        self.shard = gen.write_corpus_shard(self.base, seed, 0)
        self.planes = [similarity.deterministic_hyperplanes(gen.EMB_DIM, n_planes=self.EMB_PLANES, seed=20 + b)
                       for b in range(self.EMB_BANDS)]
        self.emb_expected = oracle.emb_expected(
            self.shard["vec_ids"], self.shard["vecs"], self.planes, self.EMB_THRESHOLD)
        self.cur_expected = oracle.curation_expected(*self.shard["docs"])
        self.totals: dict[str, int] = defaultdict(int)
        self.emb_recall: list[float] = []

    def items(self, i: int) -> int:
        return self.shard["records"]

    def prepare(self, i: int) -> None:
        """Nothing to clear: a job returns its output, it writes none."""

    def job(self, spark, i: int, tr):
        from cloud_native_medical_data_etl_pipeline_spark.operators import curate, dedup
        from cloud_native_medical_data_etl_pipeline_spark.sources import lake

        date = self.shard["date"]

        def read(sub):
            with tr.span("sources.lake.read") as s:
                return tr.lazy(s, lambda: lake.read_partition(spark, f"{self.base}/{sub}", date))

        docs, emb = read("docs"), read("emb")
        with tr.span("operators.curate") as s:
            cur = tr.timed(s, "plan_s", lambda: curate.curate(docs))
            kept = tr.timed(s, "exec_s", lambda: [r[0] for r in cur.select("doc_id").collect()])
            dedup.release(cur)
        with tr.span("operators.dedup.embedding") as s:
            near = tr.timed(s, "plan_s", lambda: dedup.embedding_near_dups(
                emb, threshold=self.EMB_THRESHOLD, plane_bands=self.planes))
            pairs = tr.timed(s, "exec_s", lambda: [tuple(r) for r in near.collect()])
            s.add("rows_out", len(pairs))
            dedup.release(near)
        return kept, pairs

    def check(self, i: int, out) -> list[str]:
        kept, pairs = out
        errs, counts = oracle.check_curation(kept, self.shard["manifest"], self.cur_expected)
        emb_errs, recall = oracle.check_emb(pairs, self.emb_expected, self.shard["planted_pairs"])
        if i >= 0:
            for k, v in counts.items():
                self.totals[k] += v
            self.emb_recall.append(recall)
        return errs + emb_errs

    def hooks(self, tr: Tracer):
        from cloud_native_medical_data_etl_pipeline_spark.operators import dedup

        exact_dedup = dedup.exact_dedup

        def filtered_then_exact(df, *a, **k):
            # curate hands exact_dedup its persisted lang/quality-filtered
            # corpus: counting it first materializes the filter on its own
            with tr.span("functions.text.filter") as s:
                s.add("rows_out", tr.timed(s, "exec_s", df.count))
            with tr.span("operators.dedup.exact") as s:
                return tr.lazy(s, lambda: exact_dedup(df, *a, **k))

        return [
            (dedup, "exact_dedup", filtered_then_exact),
            (dedup, "minhash_lsh_pairs", tr.wrap_lazy("operators.dedup.minhash", dedup.minhash_lsh_pairs)),
        ]

    def job_counts(self, i: int) -> dict:
        """Candidate pairs of the shard's two LSH stages, from the
        oracles: fixed by the input, they do not move with the program
        (its group-local verification never materializes candidates)."""
        return {"operators.dedup.lsh_candidates": self.cur_expected["candidates"],
                "operators.dedup.emb_candidates": self.emb_expected["candidates"]}

    def extra_metrics(self) -> dict:
        from .loop import median

        t = self.totals
        return {
            "dup_recall": (t["dups_removed"] / max(1, t["dups_planted"]), "ratio"),
            "false_drop_frac": (t["unique_removed"] / max(1, t["unique"]), "ratio"),
            "emb_pair_recall": (median(self.emb_recall), "ratio"),
        }


WORKLOADS = {w.name: w for w in (DailyEtl, CorpusCuration)}
