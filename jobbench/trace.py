"""Spans, Spark event-log parsing and the single-core kernel pass.

Spans are recorded from the benchmark's own files around each call into a
layer's public functions. In a traced run every span also tags the Spark
jobs it triggers with ``sc.setJobGroup(<span>#<run>)``, so the event log's
task metrics can be attributed to the span that caused them.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import time

# per-layer metric -> (unit, better); the traced run reports every one, as
# 0 where the workload does not drive the layer. BENCHMARK.json lists the
# same names.
PER_LAYER = {
    "session.build_s": ("s", "lower"),
    "session.warm_s": ("s", "lower"),
    "kernels.html.us_p50": ("us", "lower"),
    "kernels.html.us_p99": ("us", "lower"),
    "kernels.classify.us_p50": ("us", "lower"),
    "kernels.sha256.us_p50": ("us", "lower"),
    "kernels.single_core_docs_per_sec": ("docs/s", "higher"),
    "kernels.pdf.us_p50": ("us", "lower"),
    "kernels.pdf.us_p99": ("us", "lower"),
    "kernels.layout.fast_us_per_page": ("us", "lower"),
    "kernels.docs.html": ("count", "higher"),
    "kernels.docs.layout": ("count", "higher"),
    "kernels.docs.none": ("count", "lower"),
    "kernels.blocks_kept": ("count", "higher"),
    "kernels.blocks_dropped": ("count", "lower"),
    "extract_job.plan_s": ("s", "lower"),
    "extract_job.noop_s": ("s", "lower"),
    "extract_job.tasks": ("count", "lower"),
    "extract_job.task_skew": ("ratio", "lower"),
    "extract_job.shuffle_write_bytes": ("B", "lower"),
    "extract_job.executor_cpu_s": ("s", "lower"),
    "extract_job.gc_s": ("s", "lower"),
    "extract_job.kernel_efficiency": ("ratio", "higher"),
    "checkpoint.write_s": ("s", "lower"),
    "checkpoint.write_overhead_s": ("s", "lower"),
    "checkpoint.files_written": ("count", "lower"),
    "checkpoint.bytes_written": ("B", "lower"),
    "checkpoint.lineage_s": ("s", "lower"),
    "checkpoint.append_s": ("s", "lower"),
    "checkpoint.resume_probe_s": ("s", "lower"),
    "delta.stats_s": ("s", "lower"),
    "delta.extract_s": ("s", "lower"),
    "delta.to_extract_frac": ("ratio", "lower"),
    "delta.shuffle_bytes": ("B", "lower"),
    "spark.jobs": ("count", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.spill_bytes": ("B", "lower"),
    "spark.gc_s": ("s", "lower"),
    "tracing.docs_per_sec_delta": ("docs/s", "higher"),
}

# Layers only the doc_layout and curate_funnel workloads drive; reported in
# the traced run's detail record, not in its result line.
EXTRA_LAYER = {
    "kernels.layout.numpy_us_per_page": ("us", "lower"),
    "kernels.scan.ocr_us_per_page": ("us", "lower"),
    "curate.extract_s": ("s", "lower"),
    "textstats.langid_s": ("s", "lower"),
    "textstats.quality_s": ("s", "lower"),
    "dedup.exact_s": ("s", "lower"),
    "dedup.minhash_s": ("s", "lower"),
    "dedup.lsh_pairs": ("count", "lower"),
    **{f"curate.funnel.{stage}": ("count", "higher") for stage in (
        "docs_in", "extracted_ok", "after_lang", "after_quality",
        "after_exact_dedup", "after_near_dedup",
    )},
}


class Tracer:
    """In-memory spans; ``enabled=False`` records nothing and leaves the
    Spark job group untouched, so untraced runs pay nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: dict[str, list] = {}
        self.run = 0
        self._stack: list[int] = []
        self._sc = None

    def bind(self, spark) -> None:
        self._sc = spark.sparkContext

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        rec = {"name": name, "run": self.run, "parent": parent,
               "group": f"{name}#{self.run}", **attrs}
        self.spans.append(rec)
        self._stack.append(idx)
        self._sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self._sc.setJobGroup(self.spans[self._stack[-1]]["group"], "")
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)

    def count(self, name: str, value) -> None:
        """Record a count or ratio measured at a layer boundary."""
        if self.enabled:
            self.counts.setdefault(name, []).append(value)

    def wrap(self, module, attr: str, name: str) -> None:
        """Route ``module.attr`` through a span (traced runs only)."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        setattr(module, attr, traced)

    def seconds(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def groups(self, prefix: str) -> set[str]:
        return {s["group"] for s in self.spans if s["name"].startswith(prefix)}


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

def parse_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: jobs, stages, tasks, task-time skew, executor CPU,
    GC, shuffle write and spill, from every event log under ``log_dir``."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}

    def g(name):
        return groups.setdefault(name, {
            "jobs": 0, "stages": set(), "task_ms": [], "cpu_s": 0.0,
            "gc_s": 0.0, "shuffle_write_bytes": 0, "spill_bytes": 0,
        })

    for fn in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, fn)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    name = props.get("spark.jobGroup.id") or "(none)"
                    g(name)["jobs"] += 1
                    for sid in ev.get("Stage IDs", ()):
                        stage_group[sid] = name
                elif kind == "SparkListenerTaskEnd":
                    name = stage_group.get(ev["Stage ID"], "(none)")
                    rec = g(name)
                    rec["stages"].add(ev["Stage ID"])
                    info = ev.get("Task Info") or {}
                    m = ev.get("Task Metrics") or {}
                    rec["task_ms"].append(info.get("Finish Time", 0) - info.get("Launch Time", 0))
                    rec["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    rec["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    sw = m.get("Shuffle Write Metrics") or {}
                    rec["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    rec["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    return groups


def merge_groups(groups: dict[str, dict], names) -> dict:
    """Sum the event-log records of several job groups."""
    out = {"jobs": 0, "stages": 0, "tasks": 0, "task_skew": 0.0, "cpu_s": 0.0,
           "gc_s": 0.0, "shuffle_write_bytes": 0, "spill_bytes": 0}
    task_ms: list[float] = []
    for n in names:
        rec = groups.get(n)
        if rec is None:
            continue
        out["jobs"] += rec["jobs"]
        out["stages"] += len(rec["stages"])
        task_ms += rec["task_ms"]
        for k in ("cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes"):
            out[k] += rec[k]
    out["tasks"] = len(task_ms)
    if task_ms and statistics.median(task_ms) > 0:
        out["task_skew"] = max(task_ms) / statistics.median(task_ms)
    return out


# ---------------------------------------------------------------------------
# Single-core kernel pass
# ---------------------------------------------------------------------------

def _pct(values: list[float], q: float) -> float:
    if not values:
        return 0.0
    s = sorted(values)
    return s[min(len(s) - 1, int(q * len(s)))]


def kernel_pass(payloads: list[bytes]) -> dict:
    """Time each kernel directly, in this process, on one core: classify,
    the HTML kernel, the PDF page parse, the per-page geometry chain (both
    branches), scanned-page OCR, and the text digest. Also the whole-doc
    rate through ``extract_document`` and its branch / block counts."""
    from paddle_spark.config import DEFAULT_CONFIG as cfg
    from paddle_spark.kernels.classify import KIND_HTML, KIND_PDF, classify_payload
    from paddle_spark.kernels.extract import extract_document, sha256_text
    from paddle_spark.kernels.geometry_fast import FAST_PATH_MAX_BOXES
    from paddle_spark.kernels.html import extract_html
    from paddle_spark.kernels.layout import pdf_pages, process_page
    from paddle_spark.kernels.scan import ocr_page

    clock = time.perf_counter_ns
    t = {"classify": [], "html": [], "pdf": [], "fast": [], "numpy": [], "ocr": [], "sha": []}
    for p in payloads:
        t0 = clock()
        kind = classify_payload(p)
        t["classify"].append(clock() - t0)
        text = None
        try:
            if kind == KIND_HTML:
                t0 = clock()
                text = extract_html(p, cfg)[0]
                t["html"].append(clock() - t0)
            elif kind == KIND_PDF:
                t0 = clock()
                pages = pdf_pages(p, max_pages=cfg.hard_page_cap)
                t["pdf"].append(clock() - t0)
                parts = []
                for page in pages:
                    t0 = clock()
                    blocks, _ = process_page(page, cfg)
                    dt = clock() - t0
                    if page.get("boxes"):
                        big = len(page["boxes"]) > FAST_PATH_MAX_BOXES
                        t["numpy" if big else "fast"].append(dt)
                    parts += [b["text"] for b in blocks]
                    for img in page.get("images", ()) if not blocks else ():
                        t0 = clock()
                        r = ocr_page(img, cfg)
                        t["ocr"].append(clock() - t0)
                        parts.append(r.text or "")
                text = "\n".join(parts)
        except ValueError:
            text = None  # unparseable: extract_document maps it to parse_ok=false
        if text is not None:
            t0 = clock()
            sha256_text(text)
            t["sha"].append(clock() - t0)

    t0 = time.perf_counter()
    results = [extract_document(p) for p in payloads]
    whole_s = time.perf_counter() - t0

    us = {k: [v / 1e3 for v in vs] for k, vs in t.items()}

    def mean(vs):
        return statistics.fmean(vs) if vs else 0.0

    branches = {"html": 0, "layout": 0, "none": 0}
    for r in results:
        if r.branch in branches:
            branches[r.branch] += 1
    return {
        "kernels.html.us_p50": _pct(us["html"], 0.5),
        "kernels.html.us_p99": _pct(us["html"], 0.99),
        "kernels.classify.us_p50": _pct(us["classify"], 0.5),
        "kernels.sha256.us_p50": _pct(us["sha"], 0.5),
        "kernels.single_core_docs_per_sec": len(payloads) / whole_s,
        "kernels.pdf.us_p50": _pct(us["pdf"], 0.5),
        "kernels.pdf.us_p99": _pct(us["pdf"], 0.99),
        "kernels.layout.fast_us_per_page": mean(us["fast"]),
        "kernels.layout.numpy_us_per_page": mean(us["numpy"]),
        "kernels.scan.ocr_us_per_page": mean(us["ocr"]),
        **{f"kernels.docs.{b}": n for b, n in branches.items()},
        "kernels.blocks_kept": sum(r.n_blocks_kept for r in results),
        "kernels.blocks_dropped": sum(r.n_blocks_dropped for r in results),
        "samples": {k: len(v) for k, v in t.items()},
    }
