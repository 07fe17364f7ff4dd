"""The ``crawl_mix`` workload: the shipped extraction job,
``spark.pipeline.run_pipeline`` under the default ``PipelineConfig``, one
fresh output directory per repetition.

Checks (outside the timed window, after every repetition):

* the manifest's summed ``n_pages`` equals the input rows, every bucket
  has exactly one ``done`` row, and each bucket's ``n_chunks`` equals
  the chunk rows committed under it;
* the committed chunk set is byte-identical, url by url, to an untimed
  ``transform_chunks`` pass over the same pages (so it is also
  identical across repetitions).

``truth_rate`` compares the shipped extraction (``transform_extracted``)
with the generator's expected text.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import time

import pyarrow.dataset as ds
import pyarrow.parquet as pq

from . import trace

CHUNK_COLS = (
    "url", "chunk_ord", "content", "content_ltks", "content_sm_ltks",
    "title", "doc_type", "chunk_id",
)
N_INPUT_FILES = 8


def write_input(table, path: str, n_files: int = N_INPUT_FILES) -> None:
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        part = table.slice(i * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{i:03d}.parquet"))


# -- pure checks (unit-tested with planted faults) ----------------------------


def url_digests(table) -> dict[str, str]:
    """url -> sha256 over that url's chunk rows in ``chunk_ord`` order."""
    cols = [table.column(c).to_pylist() for c in CHUNK_COLS]
    rows: dict[str, list] = {}
    for row in zip(*cols):
        rows.setdefault(row[0], []).append(row)
    out = {}
    for url, rs in rows.items():
        rs.sort(key=lambda r: r[1])
        out[url] = hashlib.sha256(repr(rs).encode("utf-8")).hexdigest()
    return out


def set_digest(digests: dict[str, str]) -> str:
    return hashlib.sha256(repr(sorted(digests.items())).encode()).hexdigest()


def check_chunks(ref: dict[str, str], got: dict[str, str]) -> set[str]:
    """Urls whose committed chunks differ from the reference pass."""
    return {u for u in ref.keys() | got.keys() if ref.get(u) != got.get(u)}


def check_manifest(manifest, chunks, n_pages: int, n_buckets: int) -> list[str]:
    """Problems found in one repetition's manifest (empty when sound)."""
    problems = []
    rows = manifest.to_pylist()
    if sum(r["n_pages"] for r in rows) != n_pages:
        problems.append(f"manifest n_pages {sum(r['n_pages'] for r in rows)} != {n_pages}")
    buckets = sorted(r["bucket"] for r in rows)
    if buckets != list(range(n_buckets)) or any(r["status"] != "done" for r in rows):
        problems.append(f"manifest buckets {buckets} are not one done row per bucket")
    per_bucket: dict[int, int] = {}
    for b in chunks.column("bucket").to_pylist():
        per_bucket[int(b)] = per_bucket.get(int(b), 0) + 1
    for r in rows:
        if r["n_chunks"] != per_bucket.get(r["bucket"], 0):
            problems.append(
                f"bucket {r['bucket']}: manifest n_chunks {r['n_chunks']} != "
                f"{per_bucket.get(r['bucket'], 0)} rows committed"
            )
    return problems


def truth_matches(expected: dict[str, str | None], extracted) -> int:
    """Documents whose extracted text equals the expected text."""
    got = dict(zip(extracted.column("url").to_pylist(), extracted.column("text").to_pylist()))
    return sum(
        1 for u, want in expected.items() if (got.get(u) or "").strip() == (want or "").strip()
    )


def read_output(out_dir: str):
    """(chunks, manifest, chunk bytes) as committed under ``out_dir``."""
    chunks = ds.dataset(
        os.path.join(out_dir, "chunks"), format="parquet", partitioning="hive"
    ).to_table()
    manifest = ds.dataset(os.path.join(out_dir, "manifest"), format="parquet").to_table()
    n_bytes = 0
    for root, _dirs, files in os.walk(os.path.join(out_dir, "chunks")):
        n_bytes += sum(os.path.getsize(os.path.join(root, f)) for f in files if f.endswith(".parquet"))
    return chunks, manifest, n_bytes


# -- the workload ---------------------------------------------------------------


class Rep:
    def __init__(self, index: int, traced: bool):
        self.index = index
        self.traced = traced
        self.wall = 0.0
        self.error: str | None = None
        self.n_chunks = 0
        self.out_bytes = 0
        self.failed = 0
        self.problems: list[str] = []
        self.manifest: dict = {}
        self.layers: dict = {}


class ExtractionWorkload:
    # the per-layer metrics a traced run reports
    LAYER_METRICS = (
        *trace.REPLAY_LAYERS, "udfs.python_s", "udfs.crossing_share",
        "udfs.docs_html", "udfs.docs_pdf", "udfs.docs_txt", "udfs.docs_empty",
        "udfs.chunks_per_doc", "udfs.out_rows_per_batch", "parsers.pdf_fallbacks",
        "udfs.extract_errors", "pipeline.wall_s", "pipeline.count_only_s",
        "pipeline.stage_write_s", "catalog.commit_s", "catalog.manifest_s", "pipeline.driver_s",
        *trace.SPARK_METRICS, "layers.unattributed_share", "trace.overhead_share",
    )

    def __init__(self, spark, inputs, work_dir: str, tracer: trace.Tracer | None):
        from ragflow_spark.spark.pipeline import PipelineConfig

        self.spark = spark
        self.inputs = inputs
        self.work = work_dir
        self.tracer = tracer
        self.cfg = PipelineConfig(out_dir="")
        self.n_docs = inputs.n_docs
        self.per_rep = inputs.n_docs  # documents attempted per repetition
        self.pages_dir = os.path.join(work_dir, "pages")

    @staticmethod
    def prepare(inputs, work_dir: str) -> None:
        write_input(inputs.table, os.path.join(work_dir, "pages"))

    def _pages(self):
        return self.spark.read.parquet(self.pages_dir)

    def warm_up(self) -> None:
        """Reference passes (kept for the checks) then one untimed
        pipeline repetition."""
        from ragflow_spark.spark.pipeline import transform_chunks, transform_extracted

        pages = self._pages()
        self.ref_chunks = transform_chunks(pages, self.cfg).select(*CHUNK_COLS).toArrow()
        self.ref_text = transform_extracted(pages).select("url", "text").toArrow()
        self._run(pages, os.path.join(self.work, "out-warm"), None)
        shutil.rmtree(os.path.join(self.work, "out-warm"), ignore_errors=True)
        self.ref_digests = url_digests(self.ref_chunks)

    def _run(self, pages, out_dir: str, catalog):
        from ragflow_spark.spark.pipeline import PipelineConfig, run_pipeline

        return run_pipeline(self.spark, pages, PipelineConfig(out_dir=out_dir), catalog=catalog)

    def rep(self, index: int, traced: bool) -> Rep:
        r = Rep(index, traced)
        out_dir = os.path.join(self.work, f"out-{index}")
        pages = self._pages()
        catalog = None
        sc = self.spark.sparkContext
        if traced:
            catalog = trace.TracingCatalog(self.spark, self.tracer)
            sc.setJobGroup(f"rep-{index}", "jobbench repetition")
            first = len(self.tracer.spans)
        t0 = time.perf_counter()
        try:
            if traced:
                with self.tracer.span("pipeline.run"):
                    self._run(pages, out_dir, catalog)
            else:
                self._run(pages, out_dir, catalog)
        except Exception as e:  # noqa: BLE001 - a failed repetition fails its documents
            r.error = f"{type(e).__name__}: {e}"
        r.wall = time.perf_counter() - t0
        if traced:
            sc.setJobGroup("jobbench-untimed", "checks")
        self._check(r, out_dir)
        if traced and r.error is None:
            r.layers = self._layers(index, first)
        shutil.rmtree(out_dir, ignore_errors=True)
        return r

    def _check(self, r: Rep, out_dir: str) -> None:
        if r.error is not None:
            r.failed = self.n_docs
            r.problems.append(r.error)
            return
        chunks, manifest, r.out_bytes = read_output(out_dir)
        r.n_chunks = chunks.num_rows
        broken = check_manifest(manifest, chunks, self.n_docs, self.cfg.n_buckets)
        r.problems += broken
        r.manifest = {
            k: sum(manifest.column(k).to_pylist())
            for k in ("n_pages", "n_chunks", "n_pdf", "n_pdf_fallback", "n_extract_err")
        }
        bad = check_chunks(self.ref_digests, url_digests(chunks))
        if bad:
            r.problems.append(f"{len(bad)} urls' chunks differ from transform_chunks")
        # a broken manifest fails every document of the repetition
        r.failed = self.n_docs if broken else len(bad)
        r.failed = min(self.n_docs, r.failed + r.manifest["n_extract_err"])

    def _layers(self, index: int, first: int) -> dict:
        spans = self.tracer.spans[first:]
        root = next(s for s in spans if s["name"] == "pipeline.run")
        named = {n: [s for s in spans if s["name"] == n]
                 for n in ("catalog.read", "catalog.commit", "catalog.manifest")}
        commits = named["catalog.commit"]
        reads = named["catalog.read"]
        stage_lo = max((s["end"] for s in reads), default=root["start"])
        stage_hi = commits[0]["start"] if commits else stage_lo
        covered = [(s["start"], s["end"]) for v in named.values() for s in v]
        covered.append((stage_lo, stage_hi))
        stats = trace.spark_stats(self.spark, f"rep-{index}")
        wall = root["end"] - root["start"]
        unattributed = trace.busy_within(
            stats.pop("job_intervals"), root["start"], root["end"], covered
        )
        dur = lambda v: sum(s["end"] - s["start"] for s in v)  # noqa: E731
        parts = {
            "pipeline.stage_write_s": stage_hi - stage_lo,
            "catalog.commit_s": dur(commits),
            "catalog.manifest_s": dur(named["catalog.manifest"]),
        }
        parts["pipeline.driver_s"] = wall - sum(parts.values()) - unattributed
        return {"pipeline.wall_s": wall, "layers.unattributed_s": unattributed, **parts, **stats}

    # -- after the timed window --------------------------------------------------

    def describe(self, reps: list[Rep]) -> str:
        return (f"{reps[0].n_chunks} chunks per repetition, chunk-set digest "
                f"{set_digest(self.ref_digests)[:16]}")

    def truth_rate(self) -> float:
        return truth_matches(self.inputs.truth["expected"], self.ref_text) / self.n_docs

    def end_to_end(self, reps: list[Rep]) -> dict:
        return {
            "docs_per_s": self.n_docs / statistics.median(r.wall for r in reps),
            "truth_rate": self.truth_rate(),
            "out_bytes_per_doc": statistics.median(r.out_bytes for r in reps) / self.n_docs,
        }

    def per_layer(self, reps: list[Rep], slots: int) -> tuple[dict, list[str]]:
        """Per-layer metrics and the printed layers block."""
        from ragflow_spark.spark.pipeline import transform_chunks
        from pyspark.sql import functions as F

        traced = [r for r in reps if r.traced and r.layers]
        plain = [r for r in reps if not r.traced]
        med = lambda k: statistics.median(r.layers[k] for r in traced)  # noqa: E731
        out = {k: med(k) for k in traced[0].layers}
        pages = self._pages()
        with self.tracer.span("pipeline.count_only"):
            t0 = time.perf_counter()
            transform_chunks(pages, self.cfg).count()
            out["pipeline.count_only_s"] = time.perf_counter() - t0
        part_rows = [r[1] for r in pages.groupBy(F.spark_partition_id()).count().collect()]
        batch = int(self.spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
        n_batches = sum(-(-n // batch) for n in part_rows)
        with self.tracer.span("replay"):
            rp = trace.replay(self.inputs.table, self.cfg.template, self.cfg.budget, self.cfg.delimiters)
        out.update(rp["seconds"])
        for t in ("html", "pdf", "txt", "empty"):
            out[f"udfs.docs_{t}"] = rp["types"].get(t, 0)
        out["udfs.chunks_per_doc"] = rp["n_chunks"] / self.n_docs
        out["udfs.out_rows_per_batch"] = rp["n_chunks"] / max(n_batches, 1)
        out["udfs.crossing_share"] = 1.0 - rp["seconds"]["udfs.python_s"] / (
            out["pipeline.count_only_s"] * slots
        )
        last = traced[-1].manifest
        out["parsers.pdf_fallbacks"] = last["n_pdf_fallback"]
        out["udfs.extract_errors"] = last["n_extract_err"]
        out["layers.unattributed_share"] = out.pop("layers.unattributed_s") / out["pipeline.wall_s"]
        out["trace.overhead_share"] = (
            statistics.median(r.wall for r in traced) / statistics.median(r.wall for r in plain) - 1.0
        )
        # the block shows the median-wall traced repetition, whose parts
        # add up to its wall exactly
        mid = sorted(traced, key=lambda r: r.wall)[len(traced) // 2].layers
        wall = mid["pipeline.wall_s"]
        python_wall = out["udfs.python_s"] / slots
        block = [f"layers (the median of {len(traced)} traced repetitions, wall {wall:.3f} s)"]
        for k in ("pipeline.stage_write_s", "catalog.commit_s", "catalog.manifest_s",
                  "pipeline.driver_s", "layers.unattributed_s"):
            block.append(f"  {k:<28}{mid[k]:9.3f} s  {mid[k] / wall:6.1%}")
        block.append(f"    of the commit: python (replay / {slots} slots) {python_wall:.3f} s,"
                     f" scan + Arrow + write {mid['catalog.commit_s'] - python_wall:.3f} s")
        return out, block
