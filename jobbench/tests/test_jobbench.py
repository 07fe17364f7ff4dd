"""Tests of the benchmark itself.

    python3 -m pytest jobbench/tests -q

The first groups need no Spark.  ``test_traced_and_untraced_counts``
starts one local session and runs each workload's repetition traced and
untraced on a tiny input (about a minute on four cores).
"""

from __future__ import annotations

import json
import os
import re
import shutil

import pyarrow as pa
import pytest

from jobbench import extraction, inputs, neardup, run

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def spec() -> dict:
    with open(run.BENCH) as f:
        return json.load(f)


# -- inputs ---------------------------------------------------------------------


@pytest.mark.parametrize("workload", sorted(inputs.GENERATORS))
def test_same_seed_same_digest_other_seed_other_digest(workload):
    a = inputs.generate(workload, 7, 64).digest()
    assert a == inputs.generate(workload, 7, 64).digest()
    assert a != inputs.generate(workload, 8, 64).digest()


def test_near_dup_plants_pairs_above_threshold():
    data = inputs.near_dup(3, 400)
    grams = data.truth["grams"]
    assert data.truth["planted"]
    for a, b in data.truth["planted"]:
        assert inputs.jaccard(grams[a], grams[b]) >= inputs.NEAR_DUP_THRESHOLD
    texts = data.table.column("text").to_pylist()
    assert sum(t.endswith(" dup") for t in texts) == round(400 * inputs.DUP_SHARE)
    assert data.vectors.num_rows == 160


# -- metric names -----------------------------------------------------------------


def test_metric_names_are_well_formed_and_unique():
    s = spec()
    names = [m["name"] for part in ("end_to_end", "per_layer") for m in s[part]]
    names += [w["name"] for w in s["workloads"]]
    assert all(NAME.fullmatch(n) for n in names), names
    assert len(names) == len(set(names))
    assert all(UNIT.fullmatch(m["unit"]) for part in ("end_to_end", "per_layer") for m in s[part])
    assert all(0 < m["bound"] <= 0.25 for m in s["end_to_end"])
    setup = next(m for m in s["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in s["end_to_end"])


def test_workloads_and_end_to_end_names_match_the_code():
    s = spec()
    assert {w["name"] for w in s["workloads"]} == set(inputs.GENERATORS)
    assert [m["name"] for m in s["end_to_end"]] == list(run.END_TO_END)
    layers = {n for k in (extraction.ExtractionWorkload, neardup.NearDupWorkload)
              for n in k.LAYER_METRICS + run.RUN_LAYER_METRICS}
    assert layers == {m["name"] for m in s["per_layer"]}


def test_a_missing_or_unlisted_metric_fails_the_run():
    units = {"a": "s", "b": "s"}
    run.check_metric_names({"a": 1.0, "b": 0.0}, ("a", "b"), units)
    with pytest.raises(KeyError, match="no value"):
        run.check_metric_names({"a": 1.0}, ("a", "b"), units)
    with pytest.raises(KeyError, match="unlisted"):
        run.check_metric_names({"a": 1.0, "b": 2.0, "c": 3.0}, ("a", "b"), units)
    with pytest.raises(KeyError, match="BENCHMARK.json"):
        run.check_metric_names({"a": 1.0, "c": 3.0}, ("a", "c"), units)


# -- planted faults make the checks fail -------------------------------------------


def _chunks(rows):
    cols = list(zip(*rows))
    return pa.table({c: list(v) for c, v in zip(extraction.CHUNK_COLS, cols)})


CHUNK_ROWS = [
    ("u1", 0, "alpha beta", "alpha beta", "alpha beta", "t", "html", 11),
    ("u1", 1, "gamma", "gamma", "gamma", "t", "html", 12),
    ("u2", 0, "delta", "delta", "delta", "", "txt", 13),
]


def test_planted_wrong_chunk_fails():
    ref = extraction.url_digests(_chunks(CHUNK_ROWS))
    assert not extraction.check_chunks(ref, extraction.url_digests(_chunks(CHUNK_ROWS[::-1])))
    wrong = list(CHUNK_ROWS)
    wrong[1] = wrong[1][:2] + ("gamma!",) + wrong[1][3:]
    assert extraction.check_chunks(ref, extraction.url_digests(_chunks(wrong))) == {"u1"}
    assert extraction.check_chunks(ref, extraction.url_digests(_chunks(CHUNK_ROWS[:2]))) == {"u2"}


def test_planted_manifest_fault_fails():
    chunks = _chunks(CHUNK_ROWS).append_column("bucket", pa.array([0, 0, 1]))
    rows = [
        {"bucket": 0, "status": "done", "n_pages": 1, "n_chunks": 2},
        {"bucket": 1, "status": "done", "n_pages": 1, "n_chunks": 1},
    ]
    assert not extraction.check_manifest(pa.Table.from_pylist(rows), chunks, 2, 2)
    rows[1]["n_chunks"] = 2
    assert extraction.check_manifest(pa.Table.from_pylist(rows), chunks, 2, 2)
    rows[1]["n_chunks"], rows[1]["n_pages"] = 1, 0
    assert extraction.check_manifest(pa.Table.from_pylist(rows), chunks, 2, 2)


def test_planted_wrong_text_fails():
    expected = {"u1": "one\ntwo", "u2": "three"}
    got = pa.table({"url": ["u1", "u2"], "text": ["one\ntwo ", "three"]})
    assert extraction.truth_matches(expected, got) == 2
    got = pa.table({"url": ["u1", "u2"], "text": ["one two", "three"]})
    assert extraction.truth_matches(expected, got) == 1


def test_planted_wrong_pairs_fail():
    texts = ["a b c d e f", "A  b c d e f", "a b c d e g", "x y z w v u"]
    grams = [inputs.word_shingles(t) for t in texts]
    groups = [{"canonical_id": 0, "n_dups": 2}, {"canonical_id": 2, "n_dups": 1},
              {"canonical_id": 3, "n_dups": 1}]
    assert not neardup.check_exact(texts, groups)
    assert neardup.check_exact(texts, groups[:1] + [{"canonical_id": 2, "n_dups": 2}])
    true = round(inputs.jaccard(grams[0], grams[2]), 6)
    assert not neardup.check_minhash(grams, [{"id_a": 0, "id_b": 2, "jaccard": true}], 0.5)
    assert neardup.check_minhash(grams, [{"id_a": 0, "id_b": 2, "jaccard": true + 0.01}], 0.5)
    assert neardup.check_minhash(grams, [{"id_a": 0, "id_b": 3, "jaccard": 0.9}], 0.5)
    sigs = {0: 0b1011, 1: 0b1001, 2: -1}
    assert not neardup.check_simhash(sigs, [{"id_a": 0, "id_b": 1, "hamming": 1}], 3)
    assert neardup.check_simhash(sigs, [{"id_a": 0, "id_b": 1, "hamming": 2}], 3)
    assert neardup.check_simhash(sigs, [{"id_a": 0, "id_b": 2, "hamming": 61}], 3)


def test_planted_wrong_neighbour_fails():
    import numpy as np

    emb = np.array([[1, 0], [0.9, 0.1], [0, 1], [0.7, 0.7]], dtype=np.float32)
    cos = neardup.exact_cosines(emb, [0])[0]
    right = [(1, 1, round(cos[1], 6)), (2, 3, round(cos[3], 6))]
    assert not neardup.topk_problems(cos, right, 2, exact_set=True)
    wrong = [(1, 1, round(cos[1], 6)), (2, 2, round(cos[2], 6))]
    assert neardup.topk_problems(cos, wrong, 2, exact_set=True)
    assert neardup.topk_problems(cos, [(1, 1, 0.5)], 2, exact_set=False)


# -- traced and untraced repetitions agree ----------------------------------------


@pytest.fixture(scope="module")
def spark():
    work = os.path.join(run.WORK, f"tests-{os.getpid()}")
    run._environment(work)
    from ragflow_spark.session import get_spark

    session = get_spark("jobbench-tests")
    session.sparkContext.setLogLevel("ERROR")
    yield session, work
    session.stop()
    shutil.rmtree(work, ignore_errors=True)


@pytest.mark.parametrize("workload", ["crawl_mix", "near_dup"])
def test_traced_and_untraced_counts(spark, workload):
    from jobbench import trace

    session, work = spark
    work = os.path.join(work, workload)
    data = inputs.generate(workload, 5, 160)
    kind = neardup.NearDupWorkload if workload == "near_dup" else extraction.ExtractionWorkload
    kind.prepare(data, work)
    wl = kind(session, data, work, trace.Tracer("test"))
    wl.warm_up()
    traced, plain = wl.rep(0, True), wl.rep(1, False)
    assert not traced.problems and not plain.problems
    counts = ("failed", "out_bytes", "n_chunks", "manifest", "truth")
    for c in counts:
        assert getattr(traced, c, None) == getattr(plain, c, None), c
    layer, block = wl.per_layer([traced, plain], 2)
    assert block and 0 <= layer["layers.unattributed_share"] < 0.5
    assert set(layer) == set(kind.LAYER_METRICS)


def test_unattributed_time_counts_only_jobs_outside_named_spans():
    from jobbench.trace import busy_within

    assert busy_within([(1, 3), (2, 5)], 0, 10, []) == 4
    assert busy_within([(1, 3), (2, 5)], 0, 10, [(0, 2.5)]) == 2.5
    assert busy_within([(1, 3), (6, 20)], 0, 10, [(1, 3)]) == 4
    assert busy_within([], 0, 10, []) == 0


def test_busy_python_memory_counts_at_most_slots_workers_per_daemon(monkeypatch):
    from jobbench import trace

    # jvm 1 -> daemons 2 and 3; daemon 2 has six workers, daemon 3 one
    kids = {1: [2, 3], 2: [20, 21, 22, 23, 24, 25], 3: [30]}
    rss = {1: 1000.0, 2: 60.0, 3: 60.0, 30: 60.0,
           20: 140.0, 21: 140.0, 22: 140.0, 23: 140.0, 24: 60.0, 25: 60.0}
    monkeypatch.setattr(trace, "_children", lambda: kids)
    monkeypatch.setattr(trace, "_rss_mb", lambda pid: rss[pid])
    m = trace.RssSampler(1, slots=4)
    m._sample()
    assert m.jvm_peak == 1000.0
    assert m.workers_peak == 60 + 4 * 140 + 2 * 60 + 60 + 60
    assert m.busy_workers_peak == 60 + 4 * 140 + 60 + 60
