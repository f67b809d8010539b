"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its arguments: the same seed
writes byte-identical files, a different seed different ones. Nothing
here imports Spark, so the generators (and their tests) run without a
JVM.

daily_etl        raw JSON day partitions of FDA adverse events and
                 clinical trials, in the Hive layout `cli transform`
                 reads (`<base>/raw/{fda,clinicaltrials}/year=/month=/day=`).
corpus_curation  parquet document shards with planted exact and near
                 duplicates, filter-failing documents, and an embedding
                 table with planted near-duplicate vectors, each with a
                 ground-truth manifest.
"""

from __future__ import annotations

import datetime as dt
import itertools
import json
import os
import random

import numpy as np

# ---------------------------------------------------------------------------
# input sizes (listed in METRICS.md)
# ---------------------------------------------------------------------------
ETL_EVENTS_PER_DAY = 20_000
ETL_TRIALS_PER_DAY = 2_000
ETL_DRUG_UNIVERSE = 1_200
ETL_DUP_FRAC = 0.01  # exact re-delivered raw rows (transform dedups them)

CORPUS_DOCS_PER_SHARD = 1_000
CORPUS_VECS_PER_SHARD = 1_000
EMB_DIM = 64

_BASE_DATE = dt.date(2024, 1, 1)

_CONSONANTS = "bcdfghklmnprstvz"
_VOWELS = "aeiou"

_DISEASES = [
    "heart failure", "hypertension", "type 2 diabetes", "type 1 diabetes",
    "asthma", "copd", "breast cancer", "lung cancer", "prostate cancer",
    "colorectal cancer", "pancreatic cancer", "melanoma", "leukemia",
    "lymphoma", "multiple myeloma", "rheumatoid arthritis", "osteoarthritis",
    "psoriasis", "atopic dermatitis", "crohn disease", "ulcerative colitis",
    "major depressive disorder", "bipolar disorder", "schizophrenia",
    "generalized anxiety disorder", "migraine", "epilepsy",
    "parkinson disease", "alzheimer disease", "multiple sclerosis",
    "chronic kidney disease", "hepatitis c", "hepatitis b", "hiv infection",
    "influenza", "pneumonia", "sepsis", "obesity", "hyperlipidemia",
    "atrial fibrillation", "coronary artery disease", "stroke",
    "pulmonary hypertension", "cystic fibrosis", "sickle cell disease",
    "hemophilia", "anemia", "osteoporosis", "gout", "lupus",
    "glaucoma", "macular degeneration", "insomnia", "adhd", "autism",
    "chronic pain", "neuropathic pain", "urinary tract infection",
    "tuberculosis", "malaria",
]
_QUALIFIERS = [
    "", "", "", "chronic ", "acute ", "severe ", "moderate ", "recurrent ",
    "advanced ", "early ", "refractory ", "pediatric ",
]
_TRIAL_SUFFIXES = [
    "", "", "", " in adults", " in children", " stage ii", " stage iii",
    " with complications", " (maintenance)", " and comorbidities",
]
_STATUSES = [
    "COMPLETED", "COMPLETED", "RECRUITING", "ACTIVE_NOT_RECRUITING",
    "ENROLLING_BY_INVITATION", "TERMINATED", "WITHDRAWN", "NOT_YET_RECRUITING",
]
_PHASES = ["PHASE1", "PHASE2", "PHASE3", "PHASE4", "EARLY_PHASE1", "NA", "PHASE2/PHASE3"]
_REACTIONS = ["NAUSEA", "HEADACHE", "RASH", "DIZZINESS", "FATIGUE", "VOMITING",
              "DIARRHOEA", "PYREXIA", "DYSPNOEA", "PRURITUS"]


def _rng(seed: int, *stream: object) -> random.Random:
    """Independent deterministic stream per (seed, purpose)."""
    return random.Random("|".join(map(str, (seed, *stream))))


def _pseudo_word(rng: random.Random, syllables: int) -> str:
    return "".join(rng.choice(_CONSONANTS) + rng.choice(_VOWELS) for _ in range(syllables))


def day_date(index: int) -> str:
    return (_BASE_DATE + dt.timedelta(days=index)).isoformat()


def _partition_dir(base: str, date: str) -> str:
    y, m, d = date.split("-")
    return os.path.join(base, f"year={y}", f"month={m}", f"day={d}")


def _zipf_weights(n: int, s: float) -> list[float]:
    return [1.0 / (r + 1) ** s for r in range(n)]


def _maybe(rng: random.Random, p: float, value):
    return None if rng.random() < p else value


def _vary_case(rng: random.Random, s: str) -> str:
    r = rng.random()
    if r < 0.4:
        return s.title()
    if r < 0.7:
        return s.upper()
    return s


def _etl_universe(seed: int) -> tuple[list[str], list[str]]:
    rng = _rng(seed, "universe")
    drugs: set[str] = set()
    while len(drugs) < ETL_DRUG_UNIVERSE:
        drugs.add(_pseudo_word(rng, rng.choice((2, 3, 3, 4))) + rng.choice(("", "mab", "ine", "ol", "x")))
    conditions = [q + d for d in _DISEASES for q in _QUALIFIERS[2:]]
    return sorted(drugs), conditions


def write_etl_day(base: str, seed: int, index: int) -> dict:
    """Write one day's raw FDA and trial JSON partitions under ``base``;
    return {"date", "fda_path", "ct_path", "raw_bytes", "records"}."""
    drugs, conditions = _etl_universe(seed)
    rng = _rng(seed, "etl-day", index)
    date = day_date(index)
    drug_w = _zipf_weights(len(drugs), 0.9)
    rng.shuffle(drug_w)
    # each drug has a small stable set of indications (label uses)
    ind_rng = _rng(seed, "indications")
    drug_inds = {d: ind_rng.sample(_DISEASES, ind_rng.choice((1, 2, 2, 3))) for d in drugs}

    events = []
    picked = rng.choices(drugs, weights=drug_w, k=ETL_EVENTS_PER_DAY)
    for i, drug in enumerate(picked):
        ind = rng.choice(drug_inds[drug])
        if rng.random() < 0.3:
            ind = rng.choice(_QUALIFIERS[3:]) + ind
        recv = _BASE_DATE + dt.timedelta(days=index - rng.randrange(30))
        name = _vary_case(rng, drug)
        if rng.random() < 0.1:
            name = " " + name + rng.choice((" ", "\t", "  "))
        serious = rng.random() < 0.35
        events.append({
            "safetyreportid": f"{seed % 1000:03d}{index:03d}{i:07d}",
            "receivedate": _maybe(rng, 0.01, recv.isoformat()),
            "serious": _maybe(rng, 0.03, int(serious)),
            "seriousnessdeath": _maybe(rng, 0.03, int(serious and rng.random() < 0.08)),
            "seriousnesshospitalization": _maybe(rng, 0.03, int(serious and rng.random() < 0.5)),
            "drug_name": _maybe(rng, 0.02, name),
            "drug_indication": _maybe(rng, 0.05, _vary_case(rng, ind) if rng.random() > 0.02 else ""),
            "reaction": _maybe(rng, 0.05, rng.choice(_REACTIONS)),
            "patient_age": _maybe(rng, 0.05, float(rng.randrange(1, 100))),
            "patient_sex": _maybe(rng, 0.1, rng.choice(("1", "2"))),
        })
    trials = []
    for i in range(ETL_TRIALS_PER_DAY):
        start = _BASE_DATE - dt.timedelta(days=rng.randrange(700, 3000))
        end = start + dt.timedelta(days=rng.randrange(30, 650))
        cond = rng.choice(conditions) + rng.choice(_TRIAL_SUFFIXES)
        trials.append({
            "nct_id": f"NCT{seed % 100:02d}{index:02d}{i:05d}",
            "brief_title": _maybe(rng, 0.02, f"Study of {rng.choice(drugs).title()} in {cond}"),
            "overall_status": _maybe(rng, 0.01, rng.choice(_STATUSES)),
            "phase": _maybe(rng, 0.05, rng.choice(_PHASES)),
            "enrollment_count": _maybe(rng, 0.03, float(rng.randrange(5, 3000))),
            "conditions": _maybe(rng, 0.01, _vary_case(rng, cond)),
            "start_date": _maybe(rng, 0.02, start.isoformat()),
            "completion_date": _maybe(rng, 0.1, end.isoformat()),
        })
    for rows in (events, trials):
        rows.extend(rng.sample(rows, int(len(rows) * ETL_DUP_FRAC)))
        rng.shuffle(rows)

    out = {"date": date, "records": len(events) + len(trials), "raw_bytes": 0}
    for key, sub, rows in (("fda_path", "fda", events), ("ct_path", "clinicaltrials", trials)):
        d = _partition_dir(os.path.join(base, "raw", sub), date)
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, "part-00000.json")
        with open(path, "w") as fh:
            for r in rows:
                fh.write(json.dumps(r, separators=(",", ":")))
                fh.write("\n")
        out[key] = path
        out["raw_bytes"] += os.path.getsize(path)
    return out


# ---------------------------------------------------------------------------
# corpus_curation
# ---------------------------------------------------------------------------
# English marker/stop words (the lang-ID markers are a subset) and a
# Spanish marker set for the planted non-English documents.
_EN_FUNCTION = ["the", "and", "of", "to", "is", "a", "in", "it", "for", "on",
                "with", "as", "at", "by", "this", "that", "an", "or"]
# the five lang-ID markers lead, as "the"/"and"/"of" do in real English
_EN_FUNCTION_W = [4] * 5 + [1] * (len(_EN_FUNCTION) - 5)
_ES_FUNCTION = ["el", "la", "de", "que", "los", "y", "en", "con", "por", "una"]


def _vocab(seed: int) -> list[str]:
    rng = _rng(seed, "vocab")
    words: set[str] = set()
    while len(words) < 6000:
        # >= 2 syllables: 4+ letters, so no content word collides with a
        # 2-3 letter lang-ID marker
        words.add(_pseudo_word(rng, rng.choice((2, 2, 3, 3, 4))))
    return sorted(words)


def _english_doc(rng: random.Random, vocab: list[str], vocab_cum: list[float]) -> list[str]:
    n = rng.randrange(70, 140)
    content = rng.choices(vocab, cum_weights=vocab_cum, k=n)
    toks = []
    for i, w in enumerate(content):
        toks.append(rng.choices(_EN_FUNCTION, weights=_EN_FUNCTION_W)[0] if rng.random() < 0.4 else w)
        if i % 15 == 14:
            toks[-1] += "."
    return toks


def corpus_shard(seed: int, index: int) -> tuple[list[int], list[str], list[str], list[int]]:
    """One document shard: (doc_id, text, role, orig_id) lists, rows in
    storage order. Originals get smaller ids than their copies, so the
    min-key survivor of every planted cluster is the original."""
    vocab = _vocab(seed)
    vocab_cum = list(itertools.accumulate(_zipf_weights(len(vocab), 1.0)))
    rng = _rng(seed, "corpus", index)
    n = CORPUS_DOCS_PER_SHARD
    n_exact, n_near = int(n * 0.05), int(n * 0.10)
    n_es, n_lowq = int(n * 0.03), int(n * 0.03)
    n_orig = n - n_exact - n_near - n_es - n_lowq
    id0 = index * 1_000_000
    ids, texts, roles, origs = [], [], [], []

    def add(text: str, role: str, orig: int) -> int:
        ids.append(id0 + len(ids))
        texts.append(text)
        roles.append(role)
        origs.append(orig)
        return ids[-1]

    originals = []
    for _ in range(n_orig):
        toks = _english_doc(rng, vocab, vocab_cum)
        originals.append((add(" ".join(toks), "unique", -1), toks))
    for _ in range(n_es):
        k = rng.randrange(70, 140)
        toks = [rng.choice(_ES_FUNCTION) if rng.random() < 0.5 else rng.choice(vocab) for _ in range(k)]
        add(" ".join(toks), "non_en", -1)
    for _ in range(n_lowq):
        toks = [rng.choice(vocab) + rng.choice(("!!", "??", "#$", "...", "**")) for _ in range(rng.randrange(3, 9))]
        add(" ".join(toks), "low_quality", -1)
    for _ in range(n_exact):
        oid, toks = rng.choice(originals)
        add(" ".join(toks), "exact_dup", oid)
    for _ in range(n_near):
        oid, toks = rng.choice(originals)
        # ~5% token substitutions: word-3-gram Jaccard to the original ~0.75
        copy = [rng.choice(vocab) if rng.random() < 0.05 else t for t in toks]
        add(" ".join(copy), "near_dup", oid)
    order = list(range(len(ids)))
    rng.shuffle(order)
    return ([ids[i] for i in order], [texts[i] for i in order],
            [roles[i] for i in order], [origs[i] for i in order])


def embedding_shard(seed: int, index: int) -> tuple[np.ndarray, np.ndarray, list[tuple[int, int]]]:
    """(vec_id int64[n], float32[n, EMB_DIM], planted (orig, copy) pairs).
    10% of rows are perturbed copies of an original at cosine ~0.995."""
    rs = np.random.default_rng([seed, 7, index])
    n = CORPUS_VECS_PER_SHARD
    n_copy = n // 10
    base = rs.standard_normal((n - n_copy, EMB_DIM))
    src = rs.integers(0, n - n_copy, n_copy)
    copies = base[src] + 0.1 * rs.standard_normal((n_copy, EMB_DIM)) * np.linalg.norm(base[src], axis=1, keepdims=True) / np.sqrt(EMB_DIM)
    vecs = np.vstack([base, copies]).astype(np.float32)
    ids = np.arange(n, dtype=np.int64) + index * 1_000_000
    planted = [(int(ids[s]), int(ids[n - n_copy + j])) for j, s in enumerate(src)]
    perm = rs.permutation(n)
    return ids[perm], vecs[perm], planted


def write_corpus_shard(base: str, seed: int, index: int) -> dict:
    """Write one document shard and one embedding shard as parquet day
    partitions under ``base``; return paths plus the ground truth."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    date = day_date(index)
    ids, texts, roles, origs = corpus_shard(seed, index)
    ddir = _partition_dir(os.path.join(base, "docs"), date)
    os.makedirs(ddir, exist_ok=True)
    doc_path = os.path.join(ddir, "part-00000.parquet")
    pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()), "text": texts}), doc_path)

    vids, vecs, planted = embedding_shard(seed, index)
    edir = _partition_dir(os.path.join(base, "emb"), date)
    os.makedirs(edir, exist_ok=True)
    emb_path = os.path.join(edir, "part-00000.parquet")
    flat = pa.array(vecs.reshape(-1), pa.float32())
    emb_col = pa.FixedSizeListArray.from_arrays(flat, EMB_DIM).cast(pa.list_(pa.float32()))
    pq.write_table(pa.table({"vec_id": pa.array(vids), "embedding": emb_col}), emb_path)
    return {
        "date": date,
        "doc_path": doc_path,
        "emb_path": emb_path,
        "docs": (ids, texts, roles),
        "manifest": dict(zip(ids, zip(roles, origs))),
        "vec_ids": vids,
        "vecs": vecs,
        "planted_pairs": planted,
        "records": len(ids),
    }
