"""Tracing for the benchmark's traced runs.

Spans are recorded only here, in the benchmark, around calls into the
program's public functions; nothing inside ``ragflow_spark`` is
instrumented.  Spans stay in memory and are written out once, at the
end of the run.

Besides spans this module holds the other per-layer probes:

* :class:`TracingCatalog` wraps the ``catalog=`` argument of
  ``run_pipeline`` so commit writes, manifest appends and the resume
  probe each get a span;
* :func:`replay` re-runs the per-document functions the chunk UDF calls,
  one document at a time in this process, and sums the time per layer;
* :func:`spark_stats` reads job, stage and task metrics for one job
  group from Spark's own status store;
* :class:`RssSampler` samples the resident memory of the JVM and its
  Python workers.
"""

from __future__ import annotations

import json
import os
import threading
import time

from ragflow_spark.catalog import Catalog


class Tracer:
    """In-memory spans: name, start, end, parent and run id."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str):
        return _Span(self, name)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer = tracer
        self.name = name

    def __enter__(self):
        t = self.tracer
        self.rec = {
            "name": self.name,
            "start": time.time(),
            "end": None,
            "parent": t._stack[-1] if t._stack else None,
            "run": t.run_id,
        }
        t.spans.append(self.rec)
        t._stack.append(len(t.spans) - 1)
        return self.rec

    def __exit__(self, *exc):
        self.rec["end"] = time.time()
        self.tracer._stack.pop()
        return False


class TracingCatalog(Catalog):
    """The shipped parquet/Iceberg catalog with a span around each call."""

    def __init__(self, spark, tracer: Tracer):
        super().__init__(spark)
        self.tracer = tracer

    def read(self, table_or_path):
        with self.tracer.span("catalog.read"):
            return super().read(table_or_path)

    def overwrite_partitions(self, df, table_or_path, partition_col, codec=None):
        with self.tracer.span("catalog.commit"):
            return super().overwrite_partitions(df, table_or_path, partition_col, codec)

    def append(self, df, table_or_path, codec=None):
        with self.tracer.span("catalog.manifest"):
            return super().append(df, table_or_path, codec)


# -- per-document replay ------------------------------------------------------

REPLAY_LAYERS = (
    "udfs.sniff_s",
    "extract.html_s",
    "parsers.pdf_s",
    "parsers.other_s",
    "chunk.merge_s",
    "text.tokenize_s",
)


def replay(table, template: str = "naive", budget: int = 128,
           delimiters: str = "\n!?。；！？") -> dict:
    """Per-layer seconds and per-type counts from calling, document by
    document, the same functions the chunk UDF calls
    (``spark.udfs.make_chunk_batches``) with the same arguments."""
    from ragflow_spark.chunk.templates import chunk_sections
    from ragflow_spark.extract.html import extract_html
    from ragflow_spark.parsers.pdf import extract_pdf_text_mode
    from ragflow_spark.spark.udfs import extract_document_ex, sniff_doc_type
    from ragflow_spark.text.tokenizer import content_tokens

    ns = time.perf_counter_ns
    acc = dict.fromkeys(REPLAY_LAYERS, 0)
    types: dict[str, int] = {}
    n_chunks = 0
    kw = {"budget": budget, "delimiters": delimiters} if template == "naive" else {}
    cols = [table.column(c).to_pylist() for c in ("html", "text", "lang")]
    for html, text, lang in zip(*cols):
        t0 = ns()
        doc_type = sniff_doc_type(html, text)
        t1 = ns()
        acc["udfs.sniff_s"] += t1 - t0
        layer = {"html": "extract.html_s", "pdf": "parsers.pdf_s"}.get(
            doc_type, "parsers.other_s"
        )
        try:
            if doc_type == "html":
                sections = [s for s in extract_html(html).sections if s]
            elif doc_type == "pdf":
                body, _mode = extract_pdf_text_mode(bytes(html))
                if not body and text:
                    body = text
                sections = [s for s in (body or "").split("\n") if s]
            else:
                sections = extract_document_ex(html, text, lang)[3]
        except Exception:  # noqa: BLE001 - the UDF degrades such rows too
            sections = extract_document_ex(html, text, lang)[3]
        acc[layer] += ns() - t1
        types[doc_type] = types.get(doc_type, 0) + 1
        t2 = ns()
        chunks = chunk_sections(template, sections, **kw)
        t3 = ns()
        for ck in chunks:
            content_tokens(ck)
        acc["chunk.merge_s"] += t3 - t2
        acc["text.tokenize_s"] += ns() - t3
        n_chunks += len(chunks)
    out = {k: v / 1e9 for k, v in acc.items()}
    out["udfs.python_s"] = sum(out.values())
    return {"seconds": out, "types": types, "n_chunks": n_chunks}


# -- Spark's status store ---------------------------------------------------


SPARK_METRICS = ("spark.jobs", "spark.task_skew", "spark.shuffle_bytes",
                 "spark.output_bytes", "spark.gc_s")


def _opt_time(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def spark_stats(spark, group: str) -> dict:
    """Job, stage and task metrics of one job group, read from the
    SparkContext's AppStatusStore (populated with or without the UI)."""
    sc = spark.sparkContext
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    job_ids = sorted(tracker.getJobIdsForGroup(group))
    intervals = []
    stage_ids: set[int] = set()
    for jid in job_ids:
        job = store.job(jid)
        start, end = _opt_time(job.submissionTime()), _opt_time(job.completionTime())
        if start is not None and end is not None:
            intervals.append((start, end))
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    no_status = jvm.java.util.ArrayList()
    no_quantiles = sc._gateway.new_array(jvm.double, 0)
    gc_ms = shuffle = output = 0
    heaviest = (0, None)
    for sid in sorted(stage_ids):
        attempts = store.stageData(sid, False, no_status, False, no_quantiles)
        for i in range(attempts.size()):
            st = attempts.apply(i)
            gc_ms += st.jvmGcTime()
            shuffle += st.shuffleWriteBytes()
            output += st.outputBytes()
            if st.executorRunTime() > heaviest[0]:
                heaviest = (st.executorRunTime(), (sid, st.attemptId()))
    skew = 1.0
    if heaviest[1] is not None:
        tasks = store.taskList(heaviest[1][0], heaviest[1][1], 1 << 20)
        times = []
        for i in range(tasks.size()):
            m = tasks.apply(i).taskMetrics()
            if m.isDefined():
                times.append(m.get().executorRunTime())
        if times and sum(times) > 0:
            skew = max(times) / (sum(times) / len(times))
    return {
        "spark.jobs": len(job_ids),
        "spark.task_skew": skew,
        "spark.shuffle_bytes": shuffle,
        "spark.output_bytes": output,
        "spark.gc_s": gc_ms / 1000.0,
        "job_intervals": intervals,
    }


def busy_within(intervals: list[tuple[float, float]], lo: float, hi: float,
                exclude: list[tuple[float, float]]) -> float:
    """Seconds of [lo, hi] during which some Spark job ran, outside the
    ``exclude`` intervals (the spans already named)."""
    marks = []
    for a, b in intervals:
        a, b = max(a, lo), min(b, hi)
        if a < b:
            marks.append((a, b))
    marks.sort()
    merged: list[list[float]] = []
    for a, b in marks:
        if merged and a <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], b)
        else:
            merged.append([a, b])
    total = 0.0
    for a, b in merged:
        covered = 0.0
        for ea, eb in exclude:
            covered += max(0.0, min(b, eb) - max(a, ea))
        total += max(0.0, (b - a) - covered)
    return total


# -- resident memory ----------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class RssSampler:
    """Peak RSS of the JVM and of its Python side, sampled every
    ``interval`` seconds while the ``with`` block runs.

    ``workers_peak`` sums every descendant process: the Python daemons
    and all their workers.  ``busy_workers_peak`` counts, per daemon,
    only its ``slots`` largest workers: no more than ``slots`` tasks run
    at once, so further workers are idle surplus.  Spark forks such
    surplus workers in some runs and not in others."""

    def __init__(self, jvm_pid: int, slots: int, interval: float = 0.1):
        self.jvm_pid = jvm_pid
        self.slots = slots
        self.interval = interval
        self.jvm_peak = 0.0
        self.workers_peak = 0.0
        self.busy_workers_peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        kids = _children()
        total = busy = 0.0
        for daemon in kids.get(self.jvm_pid, []):
            rss = [_rss_mb(daemon)]
            todo = list(kids.get(daemon, []))
            while todo:
                pid = todo.pop()
                rss.append(_rss_mb(pid))
                todo.extend(kids.get(pid, []))
            total += sum(rss)
            busy += rss[0] + sum(sorted(rss[1:])[-self.slots:])
        jvm = _rss_mb(self.jvm_pid)
        self.jvm_peak = max(self.jvm_peak, jvm)
        self.workers_peak = max(self.workers_peak, total)
        self.busy_workers_peak = max(self.busy_workers_peak, busy)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def __enter__(self):
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()
        return False
