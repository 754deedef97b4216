"""Tests for the benchmark's own code (generators, metric names,
span arithmetic, event-log attribution).

    python3 -m pytest valbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import numpy as np
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


# ---------------------------------------------------------------------------
# generators
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("make", [
    lambda s: gen.gen_corpus(s, 3_000),
    lambda s: gen.gen_series(s, 2_000, 10),
    lambda s: gen.gen_docs(s, 500),
])
def test_generator_deterministic_and_seed_sensitive(make):
    a, ta = make(7)
    b, tb = make(7)
    c, _ = make(8)
    assert a.equals(b) and ta == tb
    assert not a.equals(c)


def test_corpus_plants_match_closed_form():
    n = 30_000
    for seed in (0, 1, 123):
        table, truth = gen.gen_corpus(seed, n)
        ids = np.arange(n)
        for kind in gen.PLANTS:
            assert truth["planted"][kind] == int(gen._planted(kind, seed, ids).sum())
        assert truth["n_undefined"] == truth["planted"]["null_path"]
        assert truth["bad_lang_rows"] == truth["planted"]["bad_lang"]
        # every planted duplicate makes a pair of rows sharing the key
        assert truth["dup_rows"] == 2 * truth["planted"]["dup"]


def test_planted_code_counts_match_the_generated_rows():
    n = 30_000
    for seed in (0, 5):
        table, _ = gen.gen_corpus(seed, n)
        df = table.to_pandas()
        lens = df["content"].str.len()
        actual = {
            ("c_path_not_null", 2): int(df["path"].isna().sum()),
            ("c_commit_format", -1): int(
                (~df["commit"].str.fullmatch(r"[0-9a-f]{40}")).sum()),
            ("c_lang_domain", -1): int((~df["lang"].isin(gen.CORPUS_LANGS)).sum()),
            ("c_content_len_border", -1): int(
                ((lens < gen.LEN_LL) | (lens > gen.LEN_UL)).sum()),
        }
        for col, code, want in gen.planted_code_counts(seed, n):
            assert actual.get((col, code), 0) == want, (col, code)


def test_docs_truth_follows_the_plants():
    table, truth = gen.gen_docs(4, 1_000)
    df = table.to_pandas()
    gated = (df["lang"] == "en") & (df["text"].str.split().str.len() >= 10)
    stages = truth["stages"]
    assert stages[0][1:3] == [len(df), int(gated.sum())]
    exact_out = df[gated].drop_duplicates("text")
    assert stages[1][2] == len(exact_out)
    # near variants differ from their base in the last letter only
    key = exact_out["text"].str[:-1]
    assert stages[2][2] == key.nunique() == len(truth["kept_ids"])
    kept = set(truth["kept_ids"])
    assert kept == set(exact_out.groupby(key)["doc_id"].min())
    for _, rows_in, rows_out, dropped in stages:
        assert rows_in - rows_out == dropped


def test_stream_codes_match_a_direct_loop():
    table, _ = gen.gen_series(2, 600, 3)
    got = gen.welford_stream_codes(table, 4.0, (0.8,))
    series = table.column("series").to_pylist()
    value = table.column("value").to_pylist()
    seen: dict[str, list[float]] = {}
    order: dict[str, int] = {}
    for k, v in zip(series, value):           # rows are in time order
        prior = seen.setdefault(k, [])
        i = order[k] = order.get(k, -1) + 1
        if len(prior) <= 1:
            want = 2
        else:
            sd = float(np.std(prior))
            vn = abs(v - np.mean(prior)) / (4.0 * sd)
            want = -1 if vn > 1 else 0 if vn > 0.8 else 1
        assert got[(k, float(i))][0] == want
        prior.append(v)


def test_split_series_files_keeps_every_row(tmp_path):
    table, truth = gen.gen_series(1, 1_000, 5)
    gen.split_series_files(table, str(tmp_path), 3)
    files = sorted(os.listdir(tmp_path))
    parts = [pq.read_table(os.path.join(tmp_path, f)) for f in files]
    assert len(files) == 3 and sum(p.num_rows for p in parts) == truth["n_rows"]
    mtimes = [os.path.getmtime(os.path.join(tmp_path, f)) for f in files]
    assert mtimes == sorted(mtimes)
    assert max(parts[0].column("order").to_pylist()) < \
        min(parts[1].column("order").to_pylist())


def test_series_spikes_are_labelled_and_large():
    table, truth = gen.gen_series(3, 4_000, 20)
    label = np.asarray(table.column("label")) == 1
    value = np.asarray(table.column("value"))
    assert label.sum() == truth["n_spikes"] > 0
    assert np.all(np.abs(value[label] - gen.SERIES_BASE) > 40)
    assert np.all(np.abs(value[~label] - gen.SERIES_BASE) < 10)


def test_cache_reuses_generated_inputs(tmp_path):
    calls = []

    def make():
        calls.append(1)
        return gen.gen_series(1, 1_000, 10)
    a = gen.cached(str(tmp_path), "series_config", 1, 1_000, make)
    b = gen.cached(str(tmp_path), "series_config", 1, 1_000, make)
    assert len(calls) == 1 and a.path == b.path and a.truth == b.truth


# ---------------------------------------------------------------------------
# metric names
# ---------------------------------------------------------------------------

def test_metric_names_and_benchmark_json_agree():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == run.END_TO_END_UNITS
    assert layer == run.per_layer_units()
    assert len(layer) <= 128
    for name in list(e2e) + list(layer):
        assert NAME_RE.fullmatch(name), name
    assert not set(e2e) & set(layer)
    from workloads import WORKLOADS
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("n,pct", [(5, 50.0), (20, 50.0), (40, 75.0),
                                   (100, 90.0), (1000, 99.0),
                                   (20_000, 99.9)])
def test_tail_percentile_keeps_ten_samples_beyond(n, pct):
    xs = [float(i) for i in range(n)]
    p, v = workloads.tail_percentile(xs)
    assert p == pct
    if n >= 2 * workloads.TAIL_MIN_BEYOND:
        assert sum(x > v for x in xs) >= workloads.TAIL_MIN_BEYOND


def test_self_time_subtracts_covered_child_interval():
    s = [
        spans.Span("pass", 0.0, 10.0, None, 0, 0),
        spans.Span("a", 1.0, 3.0, 0, 0, 1),
        spans.Span("b", 2.0, 5.0, 0, 0, 2),     # overlaps a: union 1..5
        spans.Span("c", 9.0, 12.0, 0, 0, 3),    # clipped to the parent
        spans.Span("d", 2.5, 3.5, 2, 0, 4),     # grandchild: only b's
    ]
    st = spans.self_times(s)
    assert st[0] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st[2] == pytest.approx(3.0 - 1.0)
    assert st[1] == pytest.approx(2.0)
    assert st[4] == pytest.approx(1.0)


def test_tracer_self_times_add_up_to_the_pass():
    import time

    tr = spans.Tracer(enabled=True)
    with tr.run_pass(0):
        with tr.span("outer"):
            time.sleep(0.01)
            with tr.span("inner"):
                time.sleep(0.02)
        with tr.span("inner"):
            time.sleep(0.01)
    per = tr.layer_self_times([0])
    total = tr.spans[0].end - tr.spans[0].start
    assert sum(v[0] for v in per.values()) == pytest.approx(total, abs=1e-9)
    assert per["inner"][0] >= 0.03
    assert tr.current() == spans.ROOT


def test_untraced_tracer_records_nothing():
    tr = spans.Tracer(enabled=False)
    assert tr.call("x", lambda: 3) == 3
    with tr.run_pass(0):
        pass
    assert tr.spans == []


# ---------------------------------------------------------------------------
# event-log attribution (a small local Spark session in a child process)
# ---------------------------------------------------------------------------

def test_job_group_attribution_from_event_log(tmp_path):
    pytest.importorskip("pyspark")
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "attribution_job.py"),
         str(tmp_path / "work")],
        capture_output=True, text=True, timeout=300, cwd=ROOT)
    assert proc.returncode == 0, proc.stderr[-3000:]
    c = json.loads(proc.stdout.strip().splitlines()[-1])
    assert c["scan"]["jobs"] >= 1 and c["scan"]["tasks"] >= 1
    assert c["scan"]["input_mb"] > 0
    assert c["scan"]["files_read"] == 3         # bucket 3 pruned away
    assert c["agg"]["shuffle_mb"] > 0 and c["agg"]["cpu_s"] > 0
