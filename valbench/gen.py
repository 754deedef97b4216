"""Seeded input generators for the benchmark workloads.

Each generator is a pure function of ``(seed, size)`` built on numpy's
PCG64 stream, and writes plain parquet with pyarrow: no Spark, and no
import of the engine's own generators (``corpus.py``,
``tools/gen_sf.py``), so an edit there cannot silently change a workload.
The distributions mirror those generators (skewed repo keys, weighted
language mix, log-uniform content length, planted violations at fixed
residues) and every generator returns its ground truth next to the data,
computed from the generated arrays alone.

Results are cached on disk under
``<cache>/<workload>-s<seed>-n<size>-v<version>/`` (``data.parquet`` +
``truth.json``, the newest CACHE_KEEP entries); generation is never timed.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GENERATOR_VERSION = 2

# ---------------------------------------------------------------------------
# corpus: (row_id, repo, path, commit, lang, content)
# ---------------------------------------------------------------------------

CORPUS_LANGS = ["python", "java", "go", "js", "rust", "c", "md"]
CORPUS_LANG_CUM = [0.40, 0.60, 0.72, 0.84, 0.92, 0.97, 1.0]
CORPUS_WORDS = ["scan", "filter", "join", "agg", "shuffle", "batch", "column",
                "row", "hash", "merge", "sort", "spill", "codegen", "vector",
                "sketch", "plan"]
N_REPOS = 200
HUGE_LEN = 100_000
LEN_LO, LEN_SPAN = 5.0, 3.0
# constraint-suite parameters the corpus workload runs with (the engine's
# corpus_constraint_codes defaults, restated so the truth is independent)
LEN_LL, LEN_UL, LEN_STAGE = 10.0, 50_000.0, 0.98

# planted violations: row id i is planted when i % mod == (base + 31 * seed) % mod
PLANTS = {
    "null_path": (8009, 11),
    "bad_commit": (9973, 7),
    "bad_lang": (7919, 3),
    "empty": (10007, 5),
    "huge": (20011, 9),
    "dup": (6007, 13),
}


def plant_residue(kind: str, seed: int) -> tuple[int, int]:
    mod, base = PLANTS[kind]
    return mod, (base + 31 * seed) % mod


def planted_count(kind: str, seed: int, n: int) -> int:
    """How many ids in [0, n) a plant hits — closed form, no arrays."""
    mod, off = plant_residue(kind, seed)
    first = off if kind != "dup" or off > 0 else off + mod  # dup needs i > 0
    return 0 if first >= n else (n - 1 - first) // mod + 1


def planted_code_counts(seed: int, n: int) -> list[tuple[str, int, int]]:
    """(code column, code, expected rows) of the corpus constraint suite,
    by modular arithmetic over the ids alone: each plant is the only
    source of its constraint's -1 (error) or 2 (undefined) codes. The
    border check errs on the union of the empty and huge plants."""
    ids = np.arange(n, dtype=np.int64)
    hit = {k: _planted(k, seed, ids) for k in PLANTS}
    border = int((hit["empty"] | hit["huge"]).sum())
    return [
        ("c_path_not_null", -1, 0),
        ("c_path_not_null", 2, planted_count("null_path", seed, n)),
        ("c_commit_format", -1, planted_count("bad_commit", seed, n)),
        ("c_commit_format", 2, 0),
        ("c_lang_domain", -1, planted_count("bad_lang", seed, n)),
        ("c_lang_domain", 2, 0),
        ("c_content_len_border", -1, border),
        ("c_content_len_border", 2, 0),
    ]


def _planted(kind: str, seed: int, ids: np.ndarray) -> np.ndarray:
    mod, off = plant_residue(kind, seed)
    hit = ids % mod == off
    if kind == "dup":
        hit &= ids > 0
    return hit


def _hex(rng: np.random.Generator, n: int, width: int) -> list[str]:
    raw = rng.bytes(n * (width // 2)).hex()
    return [raw[i * width:(i + 1) * width] for i in range(n)]


def _word_salad(rng: np.random.Generator, words: list[str], n_chars: int) -> str:
    n_words = n_chars // 4 + 16
    picks = rng.integers(0, len(words), n_words)
    return " ".join(words[k] for k in picks)[:n_chars]


def gen_corpus(seed: int, n: int) -> tuple[pa.Table, dict]:
    rng = np.random.default_rng([seed, 1])
    ids = np.arange(n, dtype=np.int64)
    repo_idx = np.floor(rng.random(n) ** 3 * N_REPOS).astype(np.int64)
    lang_idx = np.searchsorted(CORPUS_LANG_CUM, rng.random(n), side="right")
    lang_idx = np.minimum(lang_idx, len(CORPUS_LANGS) - 1)
    lens = np.floor(np.exp(LEN_LO + LEN_SPAN * rng.random(n))).astype(np.int64)
    paths_h = _hex(rng, n, 14)
    commits = _hex(rng, n, 40)

    p = {k: _planted(k, seed, ids) for k in PLANTS}
    lens[p["huge"]] = HUGE_LEN
    lens[p["empty"]] = 0
    salad = _word_salad(rng, CORPUS_WORDS, 8192)
    starts = rng.integers(0, 4096, n)
    huge_text = (salad + " ") * (HUGE_LEN // len(salad) + 1)

    repo = [f"org{r % 20}/repo{r}" for r in repo_idx]
    path = [f"src/{h[:6]}/{h[6:]}_{i}.txt" for i, h in enumerate(paths_h)]
    lang = [CORPUS_LANGS[k] for k in lang_idx]
    content = []
    for i in range(n):
        ln = int(lens[i])
        if ln > 4096:
            content.append(huge_text[:ln])
        else:
            s = int(starts[i])
            content.append(salad[s:s + ln])
    for i in np.flatnonzero(p["dup"]):
        repo[i], path[i], commits[i] = repo[i - 1], path[i - 1], commits[i - 1]
    for i in np.flatnonzero(p["bad_commit"]):
        commits[i] = commits[i][:12].upper()
    for i in np.flatnonzero(p["bad_lang"]):
        lang[i] = "klingon"
    for i in np.flatnonzero(p["null_path"]):
        path[i] = None

    table = pa.table({
        "row_id": ids, "repo": repo, "path": path, "commit": commits,
        "lang": lang, "content": content,
    })
    return table, corpus_truth(table, seed)


def corpus_truth(table: pa.Table, seed: int) -> dict:
    """Expected suite outcomes, from the generated arrays alone."""
    import pandas as pd

    df = table.to_pandas()
    n = len(df)
    lens = df["content"].str.len().to_numpy(dtype=np.float64)
    vn = 2.0 * (lens - (LEN_UL + LEN_LL) / 2.0) / (LEN_UL - LEN_LL)
    border_err = (vn > 1.0) | (vn < -1.0)
    border_warn = ~border_err & (np.abs(vn) > LEN_STAGE)
    commit_ok = df["commit"].str.fullmatch(r"[0-9a-f]{40}").fillna(False)
    lang_ok = df["lang"].isin(CORPUS_LANGS)
    path_null = df["path"].isna()
    n_error = int((~commit_ok).sum() + (~lang_ok).sum() + border_err.sum())
    keys = df[["repo", "path", "commit"]].fillna({"path": "\x00"})
    content_bytes = df["content"].map(lambda s: len(s.encode())).to_numpy()
    return {
        "n_rows": n,
        "n_error": n_error,
        "n_warning": int(border_warn.sum()),
        "n_undefined": int(path_null.sum()),
        "content_bytes": int(content_bytes.sum()),
        "content_len_mean": float(lens.mean()),
        "dup_rows": int(keys.duplicated(keep=False).sum()),
        "bad_lang_rows": int((~lang_ok).sum()),
        "planted": {k: planted_count(k, seed, n) for k in PLANTS},
        "input_bytes": int(content_bytes.sum() + sum(
            pd.Series(df[c]).fillna("").str.len().sum()
            for c in ("repo", "path", "commit", "lang")) + 8 * n),
    }


# ---------------------------------------------------------------------------
# series: (series, ts, value, label)
# ---------------------------------------------------------------------------

SPIKE_RATE = 0.004
SPIKE_SIZE = 60.0          # far above every band the config uses
SERIES_BASE, SERIES_AMP, SERIES_NOISE = 20.0, 5.0, 0.5


def gen_series(seed: int, n: int, n_series: int) -> tuple[pa.Table, dict]:
    """Multi-series sensor events: a per-series sinusoid plus noise, with
    planted, labelled one-sample spikes (never in a series' first 40
    samples, where the recurrences are still warming up)."""
    rng = np.random.default_rng([seed, 2])
    per = n // n_series
    n = per * n_series
    sid = np.repeat(np.arange(n_series), per)
    k = np.tile(np.arange(per), n_series)
    phase = rng.random(n_series)[sid] * 2 * np.pi
    period = (40 + rng.integers(0, 40, n_series))[sid]
    value = (SERIES_BASE + SERIES_AMP * np.sin(2 * np.pi * k / period + phase)
             + SERIES_NOISE * rng.standard_normal(n))
    label = (rng.random(n) < SPIKE_RATE) & (k >= 40)
    sign = np.where(rng.random(n) < 0.5, -1.0, 1.0)
    value = np.where(label, value + sign * SPIKE_SIZE, value)
    ts = (1_700_000_000 + k * 60).astype("datetime64[s]").astype("datetime64[us]")
    table = pa.table({
        "series": pa.array([f"s{i:05d}" for i in sid]),
        "ts": pa.array(ts, type=pa.timestamp("us", tz="UTC")),
        "value": np.round(value, 4),
        "label": label.astype(np.int32),
    })
    truth = {"n_rows": n, "n_series": n_series, "n_spikes": int(label.sum()),
             "input_bytes": int(n * (6 + 8 + 8 + 4))}
    return table, truth


# reference-shape check-suite config (the `main.py -f -c conf.json` file):
# one detector per implementing layer — constraints (BorderCheck),
# sequential (EMA), windowed (Welford over N), mvoutlier (IsolationForest).
# Every band sits well inside +-SPIKE_SIZE, so planted spikes are errors.
SERIES_CONFIG = {
    "anomaly_detection_alg": [
        "BorderCheck()", "EMA()", "Welford()", "IsolationForest()",
    ],
    "anomaly_detection_conf": [
        {"UL": 50.0, "LL": -10.0, "warning_stages": [0.9]},
        {"N": 5, "UL": 35.0, "LL": 5.0, "warning_stages": [0.9]},
        {"N": 30, "X": 6.0, "warning_stages": [0.8]},
        {"max_samples": 256, "contamination": 0.005},
    ],
}


def split_series_files(table: pa.Table, out_dir: str, n_files: int) -> None:
    """The series as ``n_files`` parquet files of consecutive time slices,
    (key, order, value) rows, for the streaming step. Modification times
    increase with the slice, so a file source reads them in time order."""
    os.makedirs(out_dir, exist_ok=True)
    ts = table.column("ts").cast(pa.int64()).to_numpy()
    order = (ts - ts.min()) // 60_000_000          # sample index per series
    edges = np.linspace(0, order.max() + 1, n_files + 1).astype(np.int64)
    stamp = 1_700_000_000
    for f in range(n_files):
        rows = np.flatnonzero((order >= edges[f]) & (order < edges[f + 1]))
        part = pa.table({
            "key": table.column("series").take(rows),
            "order": pa.array(order[rows].astype(np.float64)),
            "value": table.column("value").take(rows),
        })
        path = os.path.join(out_dir, f"part-{f:03d}.parquet")
        pq.write_table(part, path)
        os.utime(path, (stamp + f, stamp + f))


def welford_stream_codes(table: pa.Table, X: float,
                         stages: tuple[float, ...]) -> dict:
    """Expected streaming-Welford verdicts, computed per series in numpy:
    each row is scored against the population mean / stddev of all of its
    series' earlier rows (rows with at most one earlier row: 2; |vn| > 1:
    -1; |vn| above the lowest warning stage: 0; else 1). Returns
    {(key, order): (code, |vn|)}."""
    key = np.asarray(table.column("series").to_pylist())
    ts = table.column("ts").cast(pa.int64()).to_numpy()
    order = ((ts - ts.min()) // 60_000_000).astype(np.float64)
    value = table.column("value").to_numpy()
    out = {}
    for k in np.unique(key):
        idx = np.flatnonzero(key == k)
        idx = idx[np.argsort(order[idx], kind="stable")]
        v = value[idx]
        cnt = np.arange(len(v), dtype=np.float64)
        cs = np.concatenate(([0.0], np.cumsum(v)[:-1]))
        cq = np.concatenate(([0.0], np.cumsum(v * v)[:-1]))
        with np.errstate(divide="ignore", invalid="ignore"):
            mean = cs / cnt
            sd = np.sqrt(np.maximum(cq / cnt - mean * mean, 0.0))
            vn = np.where(sd > 0, (v - mean) / (X * sd),
                          np.where(v == mean, 0.0, np.inf))
        codes = np.ones(len(v), dtype=np.int64)
        if stages:
            codes[np.abs(vn) > min(stages)] = 0
        codes[np.abs(vn) > 1.0] = -1
        codes[cnt <= 1] = 2
        for j, i in enumerate(idx):
            out[(str(k), float(order[i]))] = (int(codes[j]), float(abs(vn[j])))
    return out


# ---------------------------------------------------------------------------
# docs: (doc_id, lang, text) for curation with exact and near duplicates
# ---------------------------------------------------------------------------

DOC_WORDS = 60             # words per regular document (~380 characters)
DOC_OTHER_LANGS = ["de", "fr", "es"]
DOC_NON_EN, DOC_TINY = 0.15, 0.05       # shares dropped by the gate
DOC_EXACT_GROUPS, DOC_NEAR_GROUPS = 0.05, 0.05   # shares of the base docs


def _doc_vocab() -> list[str]:
    """A fixed vocabulary of lowercase pseudo-words (seed-independent)."""
    rng = np.random.default_rng(12345)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    return ["".join(rng.choice(letters, int(n)))
            for n in rng.integers(3, 9, 400)]


def _edit_last_letter(text: str, j: int) -> str:
    """``text`` with its last letter shifted by ``j + 1``: only the final
    8-char shingle changes, so variant j and the base (or another
    variant) share all but one of ~370 shingles (Jaccard ~0.995), and
    MinHash-LSH misses such a pair with probability ~1e-7."""
    c = chr(ord("a") + (ord(text[-1]) - ord("a") + 1 + j) % 26)
    return text[:-1] + c


def gen_docs(seed: int, n: int) -> tuple[pa.Table, dict]:
    """Documents for curate(): an en-heavy language mix, tiny documents
    that fail the token gate, exact-copy groups and near-duplicate groups
    (last-letter edits of a base document). Copies and variants follow all
    base documents, so every group's minimum id is its base."""
    rng = np.random.default_rng([seed, 3])
    vocab = _doc_vocab()
    n_base = int(n / (1 + DOC_EXACT_GROUPS * 1.5 + DOC_NEAR_GROUPS * 1.5))
    kind = rng.choice(["en", "other", "tiny"], n_base,
                      p=[1 - DOC_NON_EN - DOC_TINY, DOC_NON_EN, DOC_TINY])
    texts, langs = [], []
    for k in kind:
        n_words = int(rng.integers(3, 8)) if k == "tiny" else DOC_WORDS
        texts.append(" ".join(vocab[w] for w in
                              rng.integers(0, len(vocab), n_words)))
        langs.append(str(rng.choice(DOC_OTHER_LANGS)) if k == "other" else "en")
    regular = np.flatnonzero(kind == "en")
    n_groups = int(len(regular) * DOC_EXACT_GROUPS), \
        int(len(regular) * DOC_NEAR_GROUPS)
    bases = rng.choice(regular, sum(n_groups), replace=False)
    exact_bases, near_bases = bases[:n_groups[0]], bases[n_groups[0]:]
    n_copies = n_variants = 0
    for b in exact_bases:
        for _ in range(int(rng.integers(1, 3))):
            texts.append(texts[b])
            langs.append("en")
            n_copies += 1
    for b in near_bases:
        for j in range(int(rng.integers(1, 3))):
            texts.append(_edit_last_letter(texts[b], j))
            langs.append("en")
            n_variants += 1
    n_total = len(texts)
    n_gated = n_total - int((kind != "en").sum())
    keep = np.ones(n_total, dtype=bool)
    keep[np.flatnonzero(kind != "en")] = False
    keep[n_base:] = False                    # copies and variants lose
    table = pa.table({
        "doc_id": np.arange(n_total, dtype=np.int64),
        "lang": langs,
        "text": texts,
    })
    truth = {
        "n_rows": n_total,
        # curate()'s report rows: (stage, rows_in, rows_out, dropped)
        "stages": [["quality_lang_gate", n_total, n_gated, n_total - n_gated],
                   ["exact_dedup", n_gated, n_gated - n_copies, n_copies],
                   ["near_dedup", n_gated - n_copies,
                    n_gated - n_copies - n_variants, n_variants]],
        "kept_ids": np.flatnonzero(keep).tolist(),
        "near_groups": len(near_bases),
        "input_bytes": int(sum(len(t) for t in texts) + 2 * n_total
                           + 8 * n_total),
    }
    return table, truth


# ---------------------------------------------------------------------------
# cache
# ---------------------------------------------------------------------------

@dataclass
class Inputs:
    path: str          # parquet file
    truth: dict
    rows: int


CACHE_KEEP = 8   # most recently generated inputs kept on disk


def cached(cache_dir: str, workload: str, seed: int, size: int,
           make) -> Inputs:
    """Generate once per (workload, seed, size, generator version);
    later calls read the cached truth and reuse the parquet file."""
    key = f"{workload}-s{seed}-n{size}-v{GENERATOR_VERSION}"
    d = os.path.join(cache_dir, key)
    data, truth_f = os.path.join(d, "data.parquet"), os.path.join(d, "truth.json")
    if not os.path.exists(truth_f):
        _evict(cache_dir, CACHE_KEEP - 1)
        table, truth = make()
        tmp = d + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        pq.write_table(table, os.path.join(tmp, "data.parquet"),
                       row_group_size=max(1, table.num_rows // 8))
        with open(os.path.join(tmp, "truth.json"), "w") as f:
            json.dump(truth, f)
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    with open(truth_f) as f:
        truth = json.load(f)
    return Inputs(path=data, truth=truth, rows=int(truth["n_rows"]))


def _evict(cache_dir: str, keep: int) -> None:
    """Drop all but the ``keep`` newest cache entries."""
    if not os.path.isdir(cache_dir):
        return
    entries = sorted((os.path.getmtime(p), p) for p in (
        os.path.join(cache_dir, n) for n in os.listdir(cache_dir)))
    for _, p in entries[:max(0, len(entries) - keep)]:
        shutil.rmtree(p, ignore_errors=True)
