"""Output checks, computed outside the timed region and independently of
Spark.

daily_etl        the enriched per-drug partition the pipeline wrote is
                 compared with a DuckDB query over the same raw JSON
                 (the reference semantics, spelled in SQL like the q02
                 oracle in __spark_entry__.py).
corpus_curation  the kept document set is checked against the planted
                 roles plus a pure-Python MinHash LSH, and the
                 embedding near-dup pairs against a NumPy evaluation of
                 the same banded sign-LSH.
"""

from __future__ import annotations

import glob
import hashlib
import itertools
import math
import os
import re

import numpy as np

_STRIP = r"regexp_replace({}, '^\s+|\s+$', '', 'g')"


def _norm(col: str) -> str:
    # functions.medical.normalize_for_join
    return "replace(lower(" + _STRIP.format(f"coalesce(CAST({col} AS VARCHAR), '')") + "), ' ', '')"


_FDA_COLS = (
    "{'safetyreportid': 'VARCHAR', 'receivedate': 'DATE', 'serious': 'INTEGER',"
    " 'seriousnessdeath': 'INTEGER', 'seriousnesshospitalization': 'INTEGER',"
    " 'drug_name': 'VARCHAR', 'drug_indication': 'VARCHAR', 'reaction': 'VARCHAR',"
    " 'patient_age': 'DOUBLE', 'patient_sex': 'VARCHAR'}"
)
_CT_COLS = (
    "{'nct_id': 'VARCHAR', 'brief_title': 'VARCHAR', 'overall_status': 'VARCHAR',"
    " 'phase': 'VARCHAR', 'enrollment_count': 'DOUBLE', 'conditions': 'VARCHAR',"
    " 'start_date': 'DATE', 'completion_date': 'DATE'}"
)


def _connect():
    """A DuckDB connection that prints no progress bar on stdout (the
    benchmark's last stdout line is its result)."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    return con


def etl_expected(fda_path: str, ct_path: str) -> dict:
    """Reference enrichment of one raw day.

    Returns {"rows": {drug_name: (adverse_event_count, avg_severity,
    death_count, hospitalization_count, trial_count, total_enrollment,
    completed_trials)}, "fda_records", "ct_records"}."""
    con = _connect()
    try:
        con.execute(f"""
CREATE TEMP TABLE fda AS SELECT DISTINCT * FROM read_json('{fda_path}',
  format='newline_delimited', columns={_FDA_COLS});
CREATE TEMP TABLE ct AS SELECT DISTINCT * FROM read_json('{ct_path}',
  format='newline_delimited', columns={_CT_COLS});
CREATE TEMP TABLE fda_t AS SELECT *,
  upper({_STRIP.format('drug_name')}) AS drug_name_clean,
  2.0 * coalesce(serious, 0) + 10.0 * coalesce(seriousnessdeath, 0)
    + 5.0 * coalesce(seriousnesshospitalization, 0) AS severity_score,
  {_STRIP.format("coalesce(drug_indication, '')")} AS ind
FROM fda;
CREATE TEMP TABLE drugs AS SELECT drug_name_clean AS drug_name,
  count(safetyreportid) AS adverse_event_count,
  avg(severity_score) AS avg_severity_score,
  coalesce(sum(seriousnessdeath), 0) AS death_count,
  coalesce(sum(seriousnesshospitalization), 0) AS hospitalization_count
FROM fda_t GROUP BY drug_name_clean;
CREATE TEMP TABLE indications AS SELECT DISTINCT drug_name_clean AS drug_name,
  {_norm('ind')} AS indication_norm FROM fda_t WHERE {_norm('ind')} <> '';
CREATE TEMP TABLE conds AS SELECT upper(conditions) AS condition,
  count(nct_id) AS trial_count,
  CAST(coalesce(sum(enrollment_count), 0) AS DOUBLE) AS total_enrollment,
  coalesce(sum(CAST(coalesce(overall_status = 'COMPLETED', false) AS INTEGER)), 0)
    AS completed_trials,
  {_norm('upper(conditions)')} AS condition_norm
FROM ct GROUP BY upper(conditions);
CREATE TEMP TABLE matched AS SELECT DISTINCT i.drug_name, c.condition,
  c.trial_count, c.total_enrollment, c.completed_trials
FROM indications i JOIN conds c
  ON contains(c.condition_norm, i.indication_norm)
  OR contains(i.indication_norm, c.condition_norm);
""")
        rows = con.execute("""
SELECT d.drug_name, d.adverse_event_count, d.avg_severity_score, d.death_count,
  d.hospitalization_count, coalesce(s.trial_count, 0), coalesce(s.total_enrollment, 0.0),
  coalesce(s.completed_trials, 0)
FROM drugs d LEFT JOIN (SELECT drug_name, sum(trial_count) AS trial_count,
  sum(total_enrollment) AS total_enrollment, sum(completed_trials) AS completed_trials
  FROM matched GROUP BY drug_name) s ON d.drug_name = s.drug_name
""").fetchall()
        n = lambda q: con.execute(q).fetchone()[0]  # noqa: E731
        return {
            "rows": {r[0]: tuple(r[1:]) for r in rows},
            "fda_records": n("SELECT count(*) FROM fda"),
            "ct_records": n("SELECT count(*) FROM ct"),
        }
    finally:
        con.close()


def _close(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def check_etl(result, expected: dict, processed_dir: str, csv_dir: str) -> list[str]:
    """Errors in one day's run: RunResult fields, the written enriched
    partition against the oracle, and the CSV head's row count."""
    errs = []
    if result.status != "success":
        errs.append(f"status {result.status!r}")
    for field in ("fda_records", "ct_records"):
        if getattr(result, field) != expected[field]:
            errs.append(f"{field} {getattr(result, field)} != {expected[field]}")
    want = expected["rows"]
    if result.enriched_records != len(want):
        errs.append(f"enriched_records {result.enriched_records} != {len(want)}")
    files = glob.glob(os.path.join(processed_dir, "*.parquet"))
    got = {}
    if files:
        con = _connect()
        try:
            for r in con.execute(
                "SELECT drug_name, adverse_event_count, avg_severity_score, death_count, "
                "hospitalization_count, trial_count, total_enrollment, completed_trials "
                f"FROM read_parquet({files!r})"
            ).fetchall():
                if r[0] in got:
                    errs.append(f"drug {r[0]!r} written twice")
                got[r[0]] = tuple(r[1:])
        finally:
            con.close()
    if set(got) != set(want):
        errs.append(f"drug sets differ: {len(set(got) ^ set(want))} drugs")
    bad = [d for d in set(got) & set(want) if not all(map(_close, got[d], want[d]))]
    if bad:
        errs.append(f"{len(bad)} drugs with wrong values, e.g. {bad[0]!r}: {got[bad[0]]} != {want[bad[0]]}")
    csv_rows = 0
    for path in glob.glob(os.path.join(csv_dir, "*.csv")):
        with open(path) as fh:
            csv_rows += max(0, sum(1 for _ in fh) - 1)
    if csv_rows != min(1000, len(want)):
        errs.append(f"csv head has {csv_rows} rows, want {min(1000, len(want))}")
    return errs


def _word_shingles(text: str, n: int) -> set[str] | None:
    """Distinct word n-grams of the lowercased text, split on ASCII
    whitespace; None below n tokens (such a doc has no signature)."""
    s = text.lower().strip(" \t\n\r\x0b\x0c")
    toks = re.split(r"\s+", s, flags=re.ASCII) if s else []
    if len(toks) < n:
        return None
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def curation_expected(ids: list[int], texts: list[str], roles: list[str],
                      num_hashes: int = 8, bands: int = 4, ngram_n: int = 3,
                      jaccard_threshold: float = 0.5) -> dict:
    """The doc ids curate.curate must keep, computed from the planted
    roles and a pure-Python MinHash LSH with curate's parameters.

    Filter-failing docs (planted non-English / low-quality) go; exact
    copies keep their smallest id; among the survivors a doc goes when
    it is the larger id of a pair that shares a band bucket (md5 lane
    minima over word 3-grams, num_hashes lanes in `bands` bands) and
    has word-3-gram Jaccard >= the threshold."""
    first: dict[str, int] = {}
    for doc, text, role in sorted(zip(ids, texts, roles)):
        if role in ("unique", "exact_dup", "near_dup"):
            first.setdefault(text, doc)
    shingles = {doc: _word_shingles(text, ngram_n) for text, doc in first.items()}
    shingles = {doc: sh for doc, sh in shingles.items() if sh}
    groups, per = (num_hashes + 3) // 4, num_hashes // bands
    gram_lanes: dict[str, list[str]] = {}

    def lanes_of(gram: str) -> list[str]:
        if gram not in gram_lanes:
            digests = [hashlib.md5(f"{g}|{gram}".encode()).hexdigest() for g in range(groups)]
            gram_lanes[gram] = [d[8 * j:8 * j + 8] for d in digests for j in range(4)][:num_hashes]
        return gram_lanes[gram]

    buckets: dict[tuple, list[int]] = {}
    for doc, sh in shingles.items():
        lanes = [min(col) for col in zip(*map(lanes_of, sh))]
        for b in range(bands):
            buckets.setdefault((b, *lanes[b * per:(b + 1) * per]), []).append(doc)
    candidates = {p for docs in buckets.values() for p in itertools.combinations(sorted(docs), 2)}
    verified = {(a, b) for a, b in candidates
                if round(len(shingles[a] & shingles[b]) / len(shingles[a] | shingles[b]), 6)
                >= jaccard_threshold}
    return {
        "kept": set(first.values()) - {b for _, b in verified},
        "candidates": len(candidates),
        "verified": len(verified),
    }


def check_curation(kept_ids: list[int], manifest: dict, expected: dict) -> tuple[list[str], dict]:
    """Errors in one shard's kept set against ``curation_expected``, plus
    the planted-duplicate counts behind dup_recall and false_drop_frac."""
    kept = set(kept_ids)
    errs = []
    if len(kept) != len(kept_ids):
        errs.append("kept set holds repeated doc ids")
    for what, docs in (("kept but should go", kept - expected["kept"]),
                       ("dropped but should stay", expected["kept"] - kept)):
        if docs:
            roles = sorted({manifest.get(d, ("not in input",))[0] for d in docs})
            errs.append(f"{len(docs)} docs {what} (roles {roles})")
    by_role: dict[str, list[int]] = {}
    for doc, (role, _) in manifest.items():
        by_role.setdefault(role, []).append(doc)
    removed = {role: sum(d not in kept for d in docs) for role, docs in by_role.items()}
    counts = {
        "dups_planted": len(by_role.get("exact_dup", [])) + len(by_role.get("near_dup", [])),
        "dups_removed": removed.get("exact_dup", 0) + removed.get("near_dup", 0),
        "unique": len(by_role.get("unique", [])),
        "unique_removed": removed.get("unique", 0),
    }
    return errs, counts


def sign_lsh_candidates(vecs: np.ndarray, plane_bands: list) -> np.ndarray:
    """Distinct index pairs (i < j) sharing a sign-LSH bucket in any
    band, as sorted int64 codes i * n + j."""
    n = len(vecs)
    m = vecs.astype(np.float64)
    codes = []
    for band in plane_bands:
        bits = (m @ np.asarray(band, dtype=np.float64).T) >= 0
        code = bits @ (1 << np.arange(bits.shape[1]))
        order = np.argsort(code, kind="stable")
        sc = code[order]
        starts = np.flatnonzero(np.r_[True, sc[1:] != sc[:-1]])
        ends = np.r_[starts[1:], n]
        for s, e in zip(starts, ends):
            if e - s > 1:
                members = np.sort(order[s:e])
                a, b = np.triu_indices(e - s, 1)
                codes.append(members[a] * n + members[b])
    if not codes:
        return np.empty(0, dtype=np.int64)
    return np.unique(np.concatenate(codes))


def emb_expected(ids: np.ndarray, vecs: np.ndarray, plane_bands: list, threshold: float) -> dict:
    """Pairs the banded embedding near-dup operator must emit, as
    {(key_a, key_b): cosine}, plus the candidate count."""
    n = len(vecs)
    cand = sign_lsh_candidates(vecs, plane_bands)
    i, j = cand // n, cand % n
    m = vecs.astype(np.float64)
    norms = np.sqrt((m * m).sum(axis=1))
    cos = np.round((m[i] * m[j]).sum(axis=1) / (norms[i] * norms[j]), 6)
    keep = cos >= threshold
    a, b = ids[i[keep]], ids[j[keep]]
    pairs = {(int(min(x, y)), int(max(x, y))): float(c) for x, y, c in zip(a, b, cos[keep])}
    return {"pairs": pairs, "candidates": int(len(cand)), "threshold": threshold}


def check_emb(got: list[tuple[int, int, float]], expected: dict, planted: list) -> tuple[list[str], float]:
    """Errors in one shard's embedding pairs, plus planted-pair recall.
    A pair may differ from the oracle only when its cosine sits within
    1e-6 of the threshold (summation-order ulps)."""
    thr, want = expected["threshold"], expected["pairs"]
    got_map = {(int(a), int(b)): float(c) for a, b, c in got}
    errs = []
    if len(got_map) != len(got):
        errs.append("embedding pairs repeated")
    diff = [p for p in set(got_map) ^ set(want)
            if abs(got_map.get(p, want.get(p, thr)) - thr) > 1e-6]
    if diff:
        errs.append(f"{len(diff)} embedding pairs differ from the LSH oracle, e.g. {diff[0]}")
    wrong = [p for p in set(got_map) & set(want) if abs(got_map[p] - want[p]) > 1e-5]
    if wrong:
        errs.append(f"{len(wrong)} embedding cosines off, e.g. {wrong[0]}")
    found = sum((min(a, b), max(a, b)) in got_map for a, b in planted)
    return errs, found / max(1, len(planted))
