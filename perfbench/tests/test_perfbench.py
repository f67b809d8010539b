"""Spark-free tests of the benchmark's own machinery:

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
import types

import numpy as np
import pytest

from perfbench import gen, oracle, run, workloads
from perfbench.loop import TAIL_BEYOND, closed_loop, tail

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
METRIC_NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _etl_bytes(base, seed, index=0):
    day = gen.write_etl_day(str(base), seed, index)
    return [open(day[k], "rb").read() for k in ("fda_path", "ct_path")]


def test_etl_inputs_repeat_for_a_seed_and_differ_across_seeds(tmp_path):
    a = _etl_bytes(tmp_path / "a", 7)
    assert a == _etl_bytes(tmp_path / "b", 7)
    assert a[0] != _etl_bytes(tmp_path / "c", 8)[0]
    assert a[1] != _etl_bytes(tmp_path / "c", 8)[1]


def test_corpus_inputs_repeat_for_a_seed_and_differ_across_seeds():
    assert gen.corpus_shard(3, 1) == gen.corpus_shard(3, 1)
    assert gen.corpus_shard(3, 1)[1] != gen.corpus_shard(4, 1)[1]
    ids, vecs, planted = gen.embedding_shard(3, 1)
    ids2, vecs2, planted2 = gen.embedding_shard(3, 1)
    assert np.array_equal(ids, ids2) and np.array_equal(vecs, vecs2) and planted == planted2
    assert not np.array_equal(vecs, gen.embedding_shard(4, 1)[1])


def test_corpus_shard_files_repeat_for_a_seed(tmp_path):
    a = gen.write_corpus_shard(str(tmp_path / "a"), 5, 0)
    b = gen.write_corpus_shard(str(tmp_path / "b"), 5, 0)
    for key in ("doc_path", "emb_path"):
        assert open(a[key], "rb").read() == open(b[key], "rb").read()
    assert a["manifest"] == b["manifest"]


def test_planted_duplicates_follow_their_original():
    ids, texts, roles, origs = gen.corpus_shard(2, 0)
    by_id = dict(zip(ids, texts))
    for doc, role, orig in zip(ids, roles, origs):
        if role in ("exact_dup", "near_dup"):
            assert orig < doc
        if role == "exact_dup":
            assert by_id[doc] == by_id[orig]


def test_metric_names_and_units_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == run.END_TO_END
    assert layers == run.PER_LAYER
    for name in [*e2e, *run.REPORTED, *layers, *(w["name"] for w in bench["workloads"])]:
        assert METRIC_NAME.match(name), name
    assert {w["name"] for w in bench["workloads"]} == set(workloads.WORKLOADS)


@pytest.mark.parametrize("n", [1, 5, 10, 11, 12, 20, 57, 100, 1000])
def test_tail_has_ten_samples_beyond(n):
    xs = [float((i * 37) % n) + i / 1e6 for i in range(n)]
    value, pct, count, beyond = tail(xs)
    assert count == n
    s = sorted(xs)
    if n <= TAIL_BEYOND:
        assert (value, pct, beyond) == (s[-1], 100.0, 0)
        return
    assert beyond == TAIL_BEYOND == sum(x > value for x in xs)
    # highest such percentile: the next sample up has fewer than ten beyond
    assert sum(x > s[s.index(value) + 1] for x in xs) < TAIL_BEYOND
    assert pct == pytest.approx(100.0 * (n - TAIL_BEYOND) / n)


def test_raising_or_wrong_jobs_count_as_failed():
    def job(i):
        if i == 1:
            raise RuntimeError("boom")
        return i

    def check(i, out):
        if i == 2:
            return ["wrong output"]
        if i == 3:
            raise ValueError("checker crashed")
        return []

    clock = iter(range(1000)).__next__
    res = closed_loop(job, check, lambda i: 10, seconds=5, min_jobs=6, max_wall=1e9,
                      clock=lambda: float(clock()))
    assert res.attempted == 6
    assert res.failed == 3
    assert [i for i, _ in res.outputs] == [0, 4, 5]
    assert res.items == 30
    assert len(res.times) == 3
    assert any("boom" in e for e in res.errors)


def _write_day_output(wl, rows):
    """Write what a correct daily_etl job leaves in the lake: the
    enriched partition (as parquet) and the CSV head."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cloud_native_medical_data_etl_pipeline_spark.sources import lake

    cols = ["adverse_event_count", "avg_severity_score", "death_count", "hospitalization_count",
            "trial_count", "total_enrollment", "completed_trials"]
    processed = lake.partition_path(f"{wl.out}/processed", wl.day["date"])
    summary = lake.partition_path(f"{wl.out}/summary", wl.day["date"])
    os.makedirs(processed)
    os.makedirs(summary)
    table = {"drug_name": list(rows)}
    for j, c in enumerate(cols):
        table[c] = [v[j] for v in rows.values()]
    pq.write_table(pa.table(table), os.path.join(processed, "part-0.parquet"))
    with open(os.path.join(summary, "part-0.csv"), "w") as fh:
        fh.write("drug_name\n" + "".join(f"{d}\n" for d in list(rows)[:1000]))


def test_etl_job_that_writes_nothing_counts_as_failed(tmp_path):
    wl = workloads.DailyEtl(str(tmp_path), 4)
    want = wl.expected
    result = types.SimpleNamespace(status="success", fda_records=want["fda_records"],
                                   ct_records=want["ct_records"], enriched_records=len(want["rows"]))

    def job(i):
        if i == 0:  # only the first job writes its outputs
            _write_day_output(wl, want["rows"])
        return result

    wl.prepare(-1)
    _write_day_output(wl, want["rows"])  # a warm-up's outputs are still there
    res = closed_loop(job, wl.check, wl.items, seconds=0, min_jobs=2, max_wall=1e9, prepare=wl.prepare)
    assert [i for i, _ in res.outputs] == [0]
    assert res.failed == 1
    assert "drug sets differ" in res.errors[0]


def test_layer_closure_flags_uncovered_time_and_missing_layers():
    from perfbench.trace import Span, Tracer

    tr = Tracer(types.SimpleNamespace(setJobGroup=lambda *a: None))

    def span(sid, name, parent, start, end, job=0):
        tr.spans.append(Span(sid, name, parent, job, start, end))

    layers = ("sources.lake", "plans.pipeline", "operators.enrich")
    span(0, "job", None, 0.0, 10.0)
    span(1, "sources.lake.read", 0, 0.0, 1.0)
    span(2, "plans.pipeline", 0, 1.0, 10.0)
    span(3, "operators.enrich", 2, 2.0, 6.0)
    gaps, missing = run.layer_closure(tr, [(0, 0)], layers)
    assert gaps == [pytest.approx(0.0)] and missing == []
    # job 1 spends 4 s outside any layer span and never enters enrich
    span(4, "job", None, 20.0, 30.0, job=1)
    span(5, "sources.lake.read", 4, 20.0, 21.0, job=1)
    span(6, "plans.pipeline", 4, 25.0, 30.0, job=1)
    gaps, missing = run.layer_closure(tr, [(1, 4)], layers)
    assert gaps == [pytest.approx(4.0)] and missing == ["operators.enrich"]


def test_curation_oracle_drops_filtered_exact_and_near_copies():
    words = [f"w{i:03d}x" for i in range(120)]
    a, b = " ".join(words[:100]), " ".join(words[20:])
    near = " ".join(words[:50] + ["zzzz"] + words[51:100])  # one word swapped
    ids = [1, 2, 3, 4, 5]
    texts = [a, b, a, near, "la la la"]
    roles = ["unique", "unique", "exact_dup", "near_dup", "non_en"]
    exp = oracle.curation_expected(ids, texts, roles)
    assert exp["kept"] == {1, 2}
    assert exp["verified"] == 1  # (1, 4); a and b share too little


def test_curation_check_flags_wrong_kept_sets():
    ids, texts, roles, origs = gen.corpus_shard(9, 0)
    manifest = dict(zip(ids, zip(roles, origs)))
    exp = oracle.curation_expected(ids, texts, roles)
    good = sorted(exp["kept"])
    errs, counts = oracle.check_curation(good, manifest, exp)
    assert errs == []
    assert counts["unique_removed"] == 0 and counts["dups_removed"] > 0.9 * counts["dups_planted"]
    exact = next(d for d, r in zip(ids, roles) if r == "exact_dup")
    unique = next(d for d, r in zip(ids, roles) if r == "unique")
    assert oracle.check_curation(good + [exact], manifest, exp)[0]  # exact copy kept
    assert oracle.check_curation([d for d in good if d != unique], manifest, exp)[0]  # unique dropped
    assert oracle.check_curation(good + good[:1], manifest, exp)[0]  # repeated id


def test_embedding_check_matches_bruteforce_lsh():
    ids, vecs, planted = gen.embedding_shard(1, 0)
    ids, vecs = ids[:300], vecs[:300]
    planes = [np.random.default_rng(b).standard_normal((4, gen.EMB_DIM)).tolist() for b in range(3)]
    exp = oracle.emb_expected(ids, vecs, planes, 0.9)
    m = vecs.astype(np.float64)
    codes = [tuple(int(c) for c in ((m @ np.array(p).T >= 0) @ (1 << np.arange(4)))) for p in planes]
    brute = set()
    for a in range(len(m)):
        for b in range(a + 1, len(m)):
            if any(c[a] == c[b] for c in codes):
                cos = round(float(m[a] @ m[b] / np.linalg.norm(m[a]) / np.linalg.norm(m[b])), 6)
                if cos >= 0.9:
                    brute.add((int(min(ids[a], ids[b])), int(max(ids[a], ids[b]))))
    assert set(exp["pairs"]) == brute
    got = [(a, b, c) for (a, b), c in exp["pairs"].items()]
    assert oracle.check_emb(got, exp, [])[0] == []
    if got:
        assert oracle.check_emb(got[1:], exp, [])[0]


def test_run_refuses_a_directory_without_the_package(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".runs", "__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "daily_etl", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def test_status_api_metric_strings_parse():
    from perfbench.trace import _rows, _size

    assert _rows("4,400") == 4400
    assert _rows("total (min, med, max)\n12 (1, 2, 3)") == 12
    assert _size("113.8 KiB") == pytest.approx(113.8 * 1024)
    assert _size("0.0 B") == 0.0


def test_theta_join_counts_read_the_plan_graph():
    from perfbench.trace import _theta_join_counts

    def node(nid, name, rows=None):
        metrics = [] if rows is None else [{"name": "number of output rows", "value": rows}]
        return {"nodeId": nid, "nodeName": name, "metrics": metrics}

    ex = {
        "nodes": [node(1, "BroadcastNestedLoopJoin", "66,527"), node(2, "Project"),
                  node(3, "HashAggregate", "5,217"), node(4, "BroadcastExchange", "1,517"),
                  node(5, "HashAggregate", "9")],
        # the streamed side reaches the join through a projection with no row metric
        "edges": [{"fromId": 2, "toId": 1}, {"fromId": 3, "toId": 2}, {"fromId": 4, "toId": 1},
                  {"fromId": 5, "toId": 4}],
    }
    assert _theta_join_counts(ex) == {"theta_pairs": 5217 * 1517, "theta_matched": 66527}
    assert _theta_join_counts({"nodes": [node(1, "SortMergeJoin", "3")], "edges": []}) == {
        "theta_pairs": 0, "theta_matched": 0}
