"""The ``near_dup`` workload: the ``ops.dedup`` and ``ops.simsearch``
operators over a generated ``documents`` table and ``vectors`` table.

One repetition runs the suite ``dedup_exact``, ``minhash_dedup_pairs``,
``simhash_pairs``, ``knn_lsh`` and ``knn_bruteforce``, each collected to
this process as Arrow.  Checks (outside the timed window):

* ``dedup_exact`` groups equal the canonical-text groups;
* every minhash pair meets the threshold and reports the pair's true
  word-shingle Jaccard;
* every simhash pair lies within the radius, with the Hamming distance
  of the two documents' ``simhash64`` signatures;
* ``knn_bruteforce`` is a correct top-k under numpy's cosine, and every
  ``knn_lsh`` similarity is exact.

``truth_rate`` counts planted near-duplicate pairs found plus ``knn_lsh``
answers equal to the exact top-k.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np

from . import inputs as gen
from . import trace
from .extraction import write_input

OPS = ("dedup.exact", "dedup.minhash", "dedup.simhash", "simsearch.lsh", "simsearch.bruteforce")
SIM_TOL = 2e-6  # Spark rounds cosines to 6 decimals


# -- pure checks (unit-tested with planted faults) ----------------------------


def check_exact(texts: list[str], rows: list[dict]) -> list[str]:
    groups: dict[str, list[int]] = {}
    for i, t in enumerate(texts):
        groups.setdefault(gen.canon(t), []).append(i)
    want = sorted((min(ids), len(ids)) for ids in groups.values())
    got = sorted((r["canonical_id"], r["n_dups"]) for r in rows)
    return [] if got == want else [f"dedup_exact: {len(got)} groups, expected {len(want)}"]


def check_minhash(grams: list[frozenset], rows: list[dict], threshold: float) -> list[str]:
    problems = []
    for r in rows:
        a, b, j = r["id_a"], r["id_b"], r["jaccard"]
        true = gen.jaccard(grams[a], grams[b])
        if not a < b or j < threshold or abs(j - true) > SIM_TOL:
            problems.append(f"minhash pair ({a}, {b}) reports {j}, true Jaccard {true:.6f}")
    if len({(r["id_a"], r["id_b"]) for r in rows}) != len(rows):
        problems.append("minhash pairs repeat")
    return problems[:5]


def check_simhash(sigs: dict[int, int], rows: list[dict], radius: int) -> list[str]:
    problems = []
    for r in rows:
        a, b, h = r["id_a"], r["id_b"], r["hamming"]
        true = bin((sigs[a] ^ sigs[b]) & (2**64 - 1)).count("1")
        if not a < b or h > radius or h != true:
            problems.append(f"simhash pair ({a}, {b}) reports {h}, true distance {true}")
    return problems[:5]


def exact_cosines(emb: np.ndarray, query_ids: list[int]) -> np.ndarray:
    """(n_queries, n_docs) float64 cosines; self-similarity set to -inf."""
    e = emb.astype(np.float64)
    n = e / np.linalg.norm(e, axis=1, keepdims=True)
    cos = n[query_ids] @ n.T
    cos[np.arange(len(query_ids)), query_ids] = -np.inf
    return cos


def topk_problems(cos_row: np.ndarray, got: list[tuple[int, int, float]], k: int,
                  exact_set: bool) -> list[str]:
    """``got`` = [(rank, neighbor, sim)] for one query.  Checks every
    reported similarity; with ``exact_set`` also that the neighbours are
    a top-k under the exact cosines (ties within rounding allowed)."""
    problems = []
    got = sorted(got)
    for _rank, nb, sim in got:
        if abs(sim - cos_row[nb]) > SIM_TOL:
            problems.append(f"neighbor {nb} reports {sim}, exact {cos_row[nb]:.7f}")
    if exact_set:
        if len(got) != k or [g[0] for g in got] != list(range(1, k + 1)):
            problems.append(f"ranks {[g[0] for g in got]} are not 1..{k}")
        kth = np.sort(cos_row)[-k] if len(cos_row) >= k else -np.inf
        ids = {g[1] for g in got}
        if any(cos_row[nb] < kth - SIM_TOL for nb in ids):
            problems.append("a reported neighbour is outside the exact top-k")
        missed = np.flatnonzero(cos_row > min((g[2] for g in got), default=np.inf) + SIM_TOL)
        if any(m not in ids for m in missed):
            problems.append("an exact top-k neighbour is missing")
    return problems


def by_query(rows: list[dict]) -> dict[int, list[tuple[int, int, float]]]:
    out: dict[int, list] = {}
    for r in rows:
        out.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"], r["sim"]))
    return out


# -- the workload ---------------------------------------------------------------


class Rep:
    def __init__(self, index: int, traced: bool):
        self.index = index
        self.traced = traced
        self.wall = 0.0
        self.op_walls: dict[str, float] = {}
        self.rows: dict[str, int] = {}  # result rows per operator
        self.failed = 0  # operators that raised or returned a wrong result
        self.problems: list[str] = []
        self.out_bytes = 0
        self.truth = 0.0
        self.layers: dict = {}


class NearDupWorkload:
    # the per-layer metrics a traced run reports
    LAYER_METRICS = (
        *(f"{op}_s" for op in OPS),
        "dedup.minhash_candidates_s", "dedup.minhash_candidates", "dedup.minhash_pairs",
        "dedup.minhash_precision", "dedup.simhash_pairs", *trace.SPARK_METRICS,
        "neardup.suite_s", "layers.unattributed_share", "trace.overhead_share",
    )

    def __init__(self, spark, inputs, work_dir: str, tracer: trace.Tracer | None):
        self.spark = spark
        self.inputs = inputs
        self.work = work_dir
        self.tracer = tracer
        self.n_docs = inputs.n_docs
        self.per_rep = len(OPS)  # operator results attempted per repetition
        self.query_ids = list(range(0, inputs.vectors.num_rows, gen.QUERY_EVERY))

    @staticmethod
    def prepare(inputs, work_dir: str) -> None:
        write_input(inputs.table, os.path.join(work_dir, "docs"))
        write_input(inputs.vectors, os.path.join(work_dir, "vectors"))

    def _suite(self, docs):
        from pyspark.sql import functions as F

        from ragflow_spark.ops import dedup as D
        from ragflow_spark.ops import simsearch as S

        vecs = self.spark.read.parquet(os.path.join(self.work, "vectors"))
        queries = vecs.where(F.col("vec_id") % gen.QUERY_EVERY == 0).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        knn = {"k": gen.KNN_K}
        return {
            "dedup.exact": lambda: D.dedup_exact(docs),
            "dedup.minhash": lambda: D.minhash_dedup_pairs(
                docs, threshold=gen.NEAR_DUP_THRESHOLD, shingle="word"
            ),
            "dedup.simhash": lambda: D.simhash_pairs(docs, max_hamming=gen.SIMHASH_RADIUS),
            "simsearch.lsh": lambda: S.knn_lsh(vecs, queries, **knn),
            "simsearch.bruteforce": lambda: S.knn_bruteforce(vecs, queries, **knn),
        }

    def _docs(self):
        return self.spark.read.parquet(os.path.join(self.work, "docs"))

    def warm_up(self) -> None:
        """One untimed suite over the table (codegen, JIT and Python
        worker start), then the references the checks need."""
        from ragflow_spark.ops import dedup as D
        from ragflow_spark.ops.textstats import norm_text

        for op in self._suite(self._docs()).values():
            op().toArrow()
        sig = self._docs().select("doc_id", D.simhash64(norm_text("text")).alias("sh")).toArrow()
        self.sigs = dict(zip(sig.column("doc_id").to_pylist(), sig.column("sh").to_pylist()))
        self.cos = exact_cosines(self.inputs.truth["embedding"], self.query_ids)

    def rep(self, index: int, traced: bool) -> Rep:
        r = Rep(index, traced)
        suite = self._suite(self._docs())
        results = {}
        if traced:
            self.spark.sparkContext.setJobGroup(f"rep-{index}", "jobbench repetition")
        t_rep = time.perf_counter()
        if traced:
            with self.tracer.span("neardup.suite"):
                root = len(self.tracer.spans) - 1
                self._run_ops(suite, results, r)
        else:
            self._run_ops(suite, results, r)
        r.wall = time.perf_counter() - t_rep
        if traced:
            self.spark.sparkContext.setJobGroup("jobbench-untimed", "checks")
            spans = {s["name"]: s["end"] - s["start"]
                     for s in self.tracer.spans if s["parent"] == root}
            r.layers = {"spans": spans, "layers.unattributed_s": r.wall - sum(spans.values()),
                        **trace.spark_stats(self.spark, f"rep-{index}")}
        self._check(r, results)
        return r

    def _run_ops(self, suite: dict, results: dict, r: Rep) -> None:
        for name, op in suite.items():
            t0 = time.perf_counter()
            try:
                if r.traced:
                    with self.tracer.span(name):
                        results[name] = op().toArrow()
                else:
                    results[name] = op().toArrow()
                r.rows[name] = results[name].num_rows
            except Exception as e:  # noqa: BLE001 - a failed operator fails its result
                r.failed += 1
                r.problems.append(f"{name}: {type(e).__name__}: {e}")
            r.op_walls[name] = time.perf_counter() - t0

    def _check(self, r: Rep, results: dict) -> None:
        truth = self.inputs.truth
        texts = self.inputs.table.column("text").to_pylist()
        rows = {k: v.to_pylist() for k, v in results.items()}
        r.out_bytes = sum(v.nbytes for v in results.values())
        checks = {
            "dedup.exact": lambda x: check_exact(texts, x),
            "dedup.minhash": lambda x: check_minhash(truth["grams"], x, gen.NEAR_DUP_THRESHOLD),
            "dedup.simhash": lambda x: check_simhash(self.sigs, x, gen.SIMHASH_RADIUS),
            "simsearch.lsh": lambda x: self._check_knn(x, exact_set=False),
            "simsearch.bruteforce": lambda x: self._check_knn(x, exact_set=True),
        }
        for name, rs in rows.items():
            problems = checks[name](rs)
            if problems:
                r.failed += 1
                r.problems += [f"{name}: {p}" for p in problems]
        found = 0
        if "dedup.minhash" in rows:
            pairs = {(x["id_a"], x["id_b"]) for x in rows["dedup.minhash"]}
            found = sum(1 for p in truth["planted"] if p in pairs)
        exact_answers = 0
        if "simsearch.lsh" in rows and "simsearch.bruteforce" in rows:
            lsh, brute = by_query(rows["simsearch.lsh"]), by_query(rows["simsearch.bruteforce"])
            exact_answers = sum(
                1 for q in self.query_ids
                if sorted(g[1] for g in lsh.get(q, [])) == sorted(g[1] for g in brute.get(q, []))
            )
        r.truth = (found + exact_answers) / (len(truth["planted"]) + len(self.query_ids))

    def _check_knn(self, rows: list[dict], exact_set: bool) -> list[str]:
        got = by_query(rows)
        problems = []
        for qi, q in enumerate(self.query_ids):
            problems += topk_problems(self.cos[qi], got.get(q, []), gen.KNN_K, exact_set)
        extra = set(got) - set(self.query_ids)
        if extra:
            problems.append(f"answers for {len(extra)} unknown queries")
        return problems[:5]

    # -- after the timed window --------------------------------------------------

    def describe(self, reps: list[Rep]) -> str:
        return "operator medians " + " ".join(
            f"{op} {statistics.median(r.op_walls[op] for r in reps):.2f}" for op in OPS
        )

    def suite_seconds(self, reps: list[Rep]) -> float:
        """Sum over operators of each operator's median wall."""
        return sum(statistics.median(r.op_walls[op] for r in reps) for op in OPS)

    def end_to_end(self, reps: list[Rep]) -> dict:
        return {
            "docs_per_s": self.n_docs / self.suite_seconds(reps),
            "truth_rate": statistics.median(r.truth for r in reps),
            "out_bytes_per_doc": statistics.median(r.out_bytes for r in reps) / self.n_docs,
        }

    def per_layer(self, reps: list[Rep], slots: int) -> tuple[dict, list[str]]:
        from ragflow_spark.ops import dedup as D

        traced = [r for r in reps if r.traced]
        plain = [r for r in reps if not r.traced]
        out = {f"{op}_s": statistics.median(r.op_walls[op] for r in traced) for op in OPS}
        with self.tracer.span("dedup.minhash_candidates"):
            t0 = time.perf_counter()
            n_cand = D.minhash_lsh_candidates(self._docs(), shingle="word").count()
            out["dedup.minhash_candidates_s"] = time.perf_counter() - t0
        n_pairs = traced[0].rows["dedup.minhash"]
        n_sim = traced[0].rows["dedup.simhash"]
        out["dedup.minhash_candidates"] = n_cand
        out["dedup.minhash_pairs"] = n_pairs
        out["dedup.minhash_precision"] = n_pairs / n_cand if n_cand else 1.0
        out["dedup.simhash_pairs"] = n_sim
        for k in trace.SPARK_METRICS:
            out[k] = statistics.median(r.layers[k] for r in traced)
        wall = statistics.median(r.wall for r in traced)
        unattributed = statistics.median(r.layers["layers.unattributed_s"] for r in traced)
        out["neardup.suite_s"] = wall
        out["layers.unattributed_share"] = unattributed / wall
        out["trace.overhead_share"] = (
            wall / statistics.median(r.wall for r in plain) - 1.0
        )
        # the block shows the median-wall traced suite, whose parts add
        # up to its wall exactly
        mid = sorted(traced, key=lambda r: r.wall)[len(traced) // 2]
        block = [f"layers (the median of {len(traced)} traced suites, wall {mid.wall:.3f} s)"]
        for name, sec in mid.layers["spans"].items():
            block.append(f"  {name + '_s':<28}{sec:9.3f} s  {sec / mid.wall:6.1%}")
        un = mid.layers["layers.unattributed_s"]
        block.append(f"  {'layers.unattributed_s':<28}{un:9.3f} s  {un / mid.wall:6.1%}")
        block.append(f"    minhash candidates alone: {out['dedup.minhash_candidates_s']:.3f} s"
                     f" for {n_cand} pairs, {n_pairs} verified")
        return out, block
