"""Extraction-job benchmark: job-level workloads with checked outputs.

    python3 jobbench/run.py --workload crawl_job --seed 1 --seconds 10 --trace 0

Run from the repository root. Each process builds its inputs from
``--seed`` (cached under ``.jobbench_work/cache``), builds the Spark
session at ``local[nproc]``, makes the workload's untimed set-up, then
repeats complete job runs for ``--seconds`` (at least one; the first meets
a JVM that has not run the job, as each launch of a job does) and checks
every run's output against single-process reference digests. ``setup_s``
is this process's one session build, from process start.

The last stdout line is one JSON object: ``correct``; ``attempted`` and
``failed``, counting job runs and the runs that raised or failed the
output check; and ``metrics``. With ``--trace 0`` those are the end-to-end
metrics, medians over the runs. With ``--trace 1`` they are the per-layer
metrics (``trace.PER_LAYER``). A detail record with the host stamp,
quartiles, per-run values and ``run_fail_frac`` goes to
``.jobbench_work/results``; a traced run also writes its spans and
event-log summary to ``.jobbench_work/trace-<workload>-<seed>.json``.

Workloads (BENCHMARK.json lists the ones the regression gate runs):
  crawl_job      crawl mix through checkpoint.run_extract_job + resume probe
  recrawl_delta  snapshot B through delta.delta_extract against A's output
  doc_layout     all-%PDF mix through run_extract_job (kernel branches)
  curate_funnel  curate.curate over the crawl mix, written as jobs/curate.py
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".jobbench_work")
N_BUCKETS = 64  # jobs/extract.py default; map width = n_buckets
CACHE_KEEP = 8
# crawl_job, recrawl_delta: the largest size at which the gate's 48
# processes (one cold run each) fit its 3420 s on a 4-core host with room
# for a slow minute; README has the sizing runs.
DOCS = {"crawl_job": 600, "recrawl_delta": 600, "doc_layout": 200, "curate_funnel": 300}


def _process_age_s() -> float:
    """Seconds since this process started (``/proc/self/stat`` starttime)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def _log(msg: str) -> None:
    print(f"jobbench: {_process_age_s():6.1f}s {msg}", file=sys.stderr, flush=True)


def _data_files(path: str) -> list[str]:
    return [
        os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    ]


def _read(path: str, columns: list[str]):
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet", partitioning="hive").to_table(columns=columns)


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return path


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def environment():
    """Keep every file this process, Spark and the JVM write inside the
    checkout, and return the host record. Fails (ImportError) when the
    checkout does not hold the program."""
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    import paddle_spark  # noqa: F401

    from jobbench.procs import Host

    host = Host()
    # driver heap well below physical RAM; 1 GiB holds these corpora
    os.environ["SPARK_DRIVER_MEM"] = f"{min(1024, host.mem_mb // 4)}m"
    return host


# ---------------------------------------------------------------------------
# Inputs
# ---------------------------------------------------------------------------

def inputs(kind: str, n: int, seed: int) -> str:
    """Directory holding the seeded corpus for ``kind`` and its reference
    digests; generated once per (kind, n, seed, generator versions)."""
    from paddle_spark.sources import synth

    from jobbench import corpus

    cache = os.path.join(WORK, "cache")
    key = f"{kind}-n{n}-s{seed}-c{corpus.CORPUS_VERSION}-g{synth.GEN_VERSION}"
    d = os.path.join(cache, key)
    if os.path.exists(os.path.join(d, "ref.json")):
        return d
    tmp = _fresh(d + ".tmp")
    os.makedirs(tmp)
    rows = corpus.layout_rows(n, seed) if kind == "layout" else corpus.crawl_rows(n, seed)
    corpus.write_pages(os.path.join(tmp, "pages.parquet"), rows)
    if kind == "delta":
        rows = corpus.snapshot_b(rows, seed)
        corpus.write_pages(os.path.join(tmp, "pages_b.parquet"), rows)
    with open(os.path.join(tmp, "ref.json"), "w") as f:
        json.dump(corpus.reference(rows), f)
    _fresh(d)
    os.rename(tmp, d)
    old = sorted(
        (os.path.join(cache, e) for e in os.listdir(cache) if e != key),
        key=os.path.getmtime,
    )
    for e in old[: max(0, len(old) - CACHE_KEEP + 1)]:
        shutil.rmtree(e, ignore_errors=True)
    return d


# ---------------------------------------------------------------------------
# Output checks (pure functions of files on disk; selftest.py plants faults)
# ---------------------------------------------------------------------------

def check_digests(table, ref: dict) -> list[str]:
    """Exactly the reference urls, once each, with the reference digests."""
    urls = table.column("url").to_pylist()
    shas = table.column("text_sha256").to_pylist()
    oks = table.column("parse_ok").to_pylist()
    errs = []
    if len(urls) != len(ref) or len(set(urls)) != len(ref):
        errs.append(f"{len(urls)} rows / {len(set(urls))} distinct urls, expected {len(ref)}")
    missing = set(ref) - set(urls)
    if missing:
        errs.append(f"{len(missing)} urls missing, e.g. {sorted(missing)[0]}")
    bad = [u for u, s, ok in zip(urls, shas, oks) if u in ref and ref[u] != [s, ok]]
    if bad:
        errs.append(f"{len(bad)} digests differ from the reference, e.g. {bad[0]}")
    return errs


def check_extract_job(out: str, cp: str, run_id: str, ref: dict, summary: dict,
                      resume: dict | None) -> list[str]:
    """A run_extract_job output: digests, run_id stamps, lineage rows that
    sum to N with one success row per bucket, and a no-op resume (when a
    resume probe ran)."""
    table = _read(out, ["url", "text_sha256", "parse_ok", "run_id"])
    errs = check_digests(table, ref)
    if set(table.column("run_id").to_pylist()) != {run_id}:
        errs.append("output rows stamped with another run_id")
    lin = [r for r in _read(cp, ["run_id", "bucket", "n_docs", "status"]).to_pylist()
           if r["run_id"] == run_id]
    buckets = [r["bucket"] for r in lin]
    n_lin = sum(r["n_docs"] for r in lin)
    if n_lin != len(ref):
        errs.append(f"lineage sums to {n_lin} docs, expected {len(ref)}")
    if len(buckets) != len(set(buckets)) or any(r["status"] != "success" for r in lin):
        errs.append("lineage has duplicate or unsuccessful bucket rows")
    n_fail = sum(1 for _, ok in ref.values() if not ok)
    if (summary["n_docs"], summary["n_failures"]) != (len(ref), n_fail):
        errs.append(f"summary {summary['n_docs']}/{summary['n_failures']}, "
                    f"expected {len(ref)}/{n_fail}")
    if resume and (resume["n_docs"] != 0 or resume["buckets_skipped"] != len(set(buckets))):
        errs.append(f"resume probe re-extracted: {resume}")
    return errs


def curated_digest(out: str) -> tuple[str, list[tuple[str, str]]]:
    """Order-free digest of the curated (url, text_sha256) set, and the set."""
    t = _read(out, ["url", "text_sha256"])
    pairs = sorted(zip(t.column("url").to_pylist(), t.column("text_sha256").to_pylist()))
    h = hashlib.sha256("\n".join(f"{u}\t{s}" for u, s in pairs).encode()).hexdigest()
    return h, pairs


# ---------------------------------------------------------------------------
# Workloads
# ---------------------------------------------------------------------------

class Meter:
    """Wall time, process-tree CPU and peak summed PSS of the enclosed
    block, written into ``res``."""

    def __init__(self, res: dict):
        self.res = res

    def __enter__(self):
        from jobbench.procs import PeakPss, tree_cpu_s

        self._mem = PeakPss().__enter__()
        self._cpu = tree_cpu_s()
        self._t0 = time.perf_counter()

    def __exit__(self, *exc):
        from jobbench.procs import tree_cpu_s

        self.res["wall_s"] = time.perf_counter() - self._t0
        self.res["cpu_s"] = tree_cpu_s() - self._cpu
        self._mem.__exit__(*exc)
        self.res["peak_rss_mb"] = self._mem.peak_mb


class Workload:
    """Inputs, untimed preparation, one timed run, and its output check."""

    kind = "crawl"

    def __init__(self, name: str, seed: int, tracer):
        self.name, self.seed, self.tr = name, seed, tracer
        self.dir = inputs(self.kind, DOCS[name], seed)
        with open(os.path.join(self.dir, "ref.json")) as f:
            self.ref = json.load(f)
        self.scratch = os.path.join(WORK, "runs", name)

    @property
    def pages_path(self) -> str:
        return os.path.join(self.dir, "pages.parquet")

    def kernel_payloads(self) -> list[bytes]:
        return _read(self.pages_path, ["html"]).column("html").to_pylist()

    def prepare(self, spark) -> None:
        """Untimed set-up the runs need, after the session is built."""

    def run(self, spark, k: int) -> dict:
        raise NotImplementedError

    def layer_probe(self, spark) -> None:
        """Traced run only, after the measured runs: drive the layers this
        workload's timed run does not reach through a span of its own."""

    def extract(self, spark, tag: str, res: dict | None = None, resume: bool = True) -> dict:
        """checkpoint.run_extract_job over ``pages_path`` with the
        jobs/extract.py defaults and a fresh run_id, then, with ``resume``,
        a same-run_id resume probe. ``res`` receives the meter readings of
        the job."""
        from paddle_spark.config import ExtractConfig
        from paddle_spark.operators.checkpoint import run_extract_job

        out = _fresh(os.path.join(self.scratch, f"{tag}_out"))
        cp = _fresh(os.path.join(self.scratch, f"{tag}_cp"))
        run_id = f"s{self.seed}-{tag}-{uuid.uuid4().hex[:8]}"
        cfg = ExtractConfig(n_buckets=N_BUCKETS)
        pages = spark.read.parquet(self.pages_path)
        with Meter({} if res is None else res), self.tr.span("checkpoint.run_extract_job"):
            summary = run_extract_job(spark, pages, out, cp, run_id=run_id, cfg=cfg)
        probe = None
        if resume:
            with self.tr.span("checkpoint.resume_probe"):
                probe = run_extract_job(spark, pages, out, cp, run_id=run_id, cfg=cfg)
        files = _data_files(out)
        job = {"out": out, "cp": cp, "run_id": run_id, "summary": summary,
               "resume": probe, "files": len(files),
               "out_bytes": sum(os.path.getsize(f) for f in files)}
        self.tr.count("checkpoint.files_written", job["files"])
        self.tr.count("checkpoint.bytes_written", job["out_bytes"])
        return job


class ExtractJob(Workload):
    """checkpoint.run_extract_job with jobs/extract.py defaults and a fresh
    run_id per run. Traced runs follow each with a same-run_id resume
    probe; untraced processes have no room for it, as the probe's first
    checkpoint read in a cold JVM takes about 10 s on a 4-core host."""

    def run(self, spark, k):
        res = {"docs": len(self.ref)}
        job = self.extract(spark, "run", res, resume=self.tr.enabled)
        res.update(
            written=job["summary"]["n_docs"], fails=job["summary"]["n_failures"],
            files=job["files"], out_bytes=job["out_bytes"],
            errors=check_extract_job(job["out"], job["cp"], job["run_id"], self.ref,
                                     job["summary"], job["resume"]),
        )
        return res


class DocLayout(ExtractJob):
    kind = "layout"


class RecrawlDelta(Workload):
    """delta_stats + delta_extract of snapshot B against A's extracted
    output, written with a static overwrite and counted, as jobs/delta.py
    does."""

    kind = "delta"

    def prepare(self, spark):
        """Build A's output: the crawl corpus through extract_pages, written
        partitioned by bucket as run_extract_job writes it, on one map task
        per core rather than one per bucket so that set-up stays short."""
        from paddle_spark.config import ExtractConfig
        from paddle_spark.operators.extract_job import extract_pages

        self.prev = _fresh(os.path.join(self.scratch, "prev_out"))
        pages = spark.read.parquet(self.pages_path)
        extract_pages(pages, ExtractConfig(n_buckets=N_BUCKETS), spark.sparkContext.defaultParallelism,
                      shuffle=True).write.partitionBy("bucket").parquet(self.prev)
        _log("A's output built")

    def kernel_payloads(self):
        return _read(os.path.join(self.dir, "pages_b.parquet"), ["html"]).column("html").to_pylist()

    def run(self, spark, k):
        from paddle_spark.config import ExtractConfig
        from paddle_spark.operators.delta import delta_extract, delta_stats

        from jobbench import corpus

        out = _fresh(os.path.join(self.scratch, "out"))
        cfg = ExtractConfig(n_buckets=N_BUCKETS)
        res = {"docs": len(self.ref)}
        with Meter(res):
            pages_new = spark.read.parquet(os.path.join(self.dir, "pages_b.parquet"))
            prev = spark.read.parquet(self.prev)
            with self.tr.span("delta.stats"):
                stats = delta_stats(pages_new, prev)
            with self.tr.span("delta.extract"):
                merged = delta_extract(pages_new, prev, cfg)
                merged.write.mode("overwrite").partitionBy("bucket").parquet(out)
            written = spark.read.parquet(out).count()
        self.tr.count("delta.to_extract_frac", stats["to_extract"] / stats["snapshot_docs"])
        table = _read(out, ["url", "text_sha256", "parse_ok"])
        errs = check_digests(table, self.ref)
        n = DOCS[self.name]
        expect = round(n * corpus.DELTA_CHANGED) + round(n * corpus.DELTA_ADDED)
        if stats["to_extract"] != expect or written != len(self.ref):
            errs.append(f"stats {stats} / written {written}, expected to_extract {expect}")
        files = _data_files(out)
        res.update(
            written=written, fails=table.column("parse_ok").to_pylist().count(False),
            files=len(files), out_bytes=sum(os.path.getsize(f) for f in files), errors=errs,
        )
        return res


class CurateFunnel(Workload):
    """curate.curate over the crawl mix, written as jobs/curate.py does.
    Funnel counts and the curated digest must repeat the first run's (and
    any earlier process's on this seed); every curated digest must be the
    url's reference digest."""

    expect = None

    def run(self, spark, k):
        from paddle_spark.operators.curate import curate

        out = _fresh(os.path.join(self.scratch, "out"))
        res = {"docs": len(self.ref)}
        with Meter(res):
            with self.tr.span("curate.curate"):
                curated, counts = curate(spark.read.parquet(self.pages_path))
                curated.write.mode("overwrite").parquet(out)
            counts["written"] = spark.read.parquet(out).count()
        digest, pairs = curated_digest(out)
        errs = [f"curated {u} digest differs from the reference" for u, s in pairs
                if self.ref[u][0] != s][:3]
        got = {"counts": counts, "digest": digest}
        path = os.path.join(self.dir, "funnel.json")
        if self.expect is None and os.path.exists(path):
            with open(path) as f:
                self.expect = json.load(f)
        if self.expect is None:
            self.expect = got
            if not errs:
                with open(path, "w") as f:
                    json.dump(got, f)
        elif got != self.expect:
            errs.append(f"funnel {got} differs from the first run's {self.expect}")
        if counts["docs_in"] != len(self.ref) or counts["written"] != counts["after_near_dedup"]:
            errs.append(f"funnel counts inconsistent: {counts}")
        for stage, n in counts.items():
            self.tr.count(f"curate.funnel.{stage}", n)
        files = _data_files(out)
        res.update(
            written=counts["written"], fails=counts["docs_in"] - counts["extracted_ok"],
            files=len(files), out_bytes=sum(os.path.getsize(f) for f in files), errors=errs,
        )
        return res

    def layer_probe(self, spark):
        """Each curate stage on its own, forced through a noop sink."""
        from pyspark.sql import functions as F

        from paddle_spark.operators.dedup import drop_exact_dups, minhash_dedup_candidates
        from paddle_spark.operators.extract_job import extract_pages
        from paddle_spark.operators.textstats import langid, quality_features

        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        pages = spark.read.parquet(self.pages_path)
        with self.tr.span("curate.extract"):
            ext = extract_pages(pages).filter(F.col("parse_ok") & (F.length("text") > 0)).persist()
            ext.count()
        with self.tr.span("textstats.langid"):
            noop(langid(ext, id_col="url", text_col="text"))
        with self.tr.span("textstats.quality"):
            noop(quality_features(ext, id_col="url", text_col="text"))
        with self.tr.span("dedup.exact"):
            exact = drop_exact_dups(ext, id_col="url", key=F.col("text")).persist()
            exact.count()
        with self.tr.span("dedup.minhash"):
            pairs = minhash_dedup_candidates(exact, id_col="url", text_col="text",
                                             num_perm=32, bands=8)
            self.tr.count("dedup.lsh_pairs", pairs.count())
        exact.unpersist()
        ext.unpersist()


WORKLOADS = {
    "crawl_job": ExtractJob, "recrawl_delta": RecrawlDelta,
    "doc_layout": DocLayout, "curate_funnel": CurateFunnel,
}


# ---------------------------------------------------------------------------
# Session
# ---------------------------------------------------------------------------

def _warm_task(batches):
    from paddle_spark.kernels.extract import extract_document

    for b in batches:
        extract_document(b"<html><body><p>warm</p></body></html>")
        yield b


def build(nproc: int, event_log: str | None = None):
    """plans.session.build_session sized to this host, then one job that
    warms a Python worker per core. Returns (spark, build_s, warm_s)."""
    from paddle_spark.plans.session import build_session

    conf = {
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # java.io.tmpdir into the checkout; no hsperfdata file in /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={WORK}/tmp -XX:-UsePerfData",
    }
    if event_log:
        conf.update({
            "spark.eventLog.enabled": "true", "spark.eventLog.dir": event_log,
            "spark.eventLog.compress": "false", "spark.eventLog.rolling.enabled": "false",
        })
    t0 = time.perf_counter()
    spark = build_session("jobbench", cores=nproc, extra_conf=conf)
    t1 = time.perf_counter()
    spark.range(0, nproc, 1, nproc).mapInPandas(_warm_task, "id long").count()
    return spark, t1 - t0, time.perf_counter() - t1


def stop_processes() -> None:
    """Stop the Spark context, if one is up, end the JVM PySpark launched,
    and wait until it and every other descendant are gone. The JVM exits
    when its stdin closes; waiting lets its shutdown hooks finish."""
    from jobbench.procs import stop_tree

    context = sys.modules.get("pyspark.context")
    gateway = context and context.SparkContext._gateway
    if gateway is not None:
        sc = context.SparkContext._active_spark_context
        try:
            if sc is not None:
                sc.stop()
            gateway.close()
        finally:
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
    stop_tree()


# ---------------------------------------------------------------------------
# Driver
# ---------------------------------------------------------------------------

def measure(wl: Workload, spark, seconds: float, runs: list, first: int) -> None:
    """Complete runs, numbered from ``first``, until ``seconds`` have
    passed (at least one)."""
    t_end = time.perf_counter() + seconds
    k = first
    while k == first or time.perf_counter() < t_end:
        runs.append(attempt(wl, spark, k))
        k += 1


def attempt(wl: Workload, spark, k: int) -> dict:
    """Run ``k`` of the workload; a run that raises is a failed result."""
    wl.tr.run = k
    try:
        with wl.tr.span("run"):
            res = wl.run(spark, k)
    except Exception as exc:  # noqa: BLE001 — a failed run is a result
        res = {"errors": [f"{type(exc).__name__}: {exc}"]}
    res["k"] = k
    for e in res["errors"]:
        print(f"jobbench: run {k} FAILED: {e}", file=sys.stderr)
    return res


def quartiles(values: list[float]) -> dict:
    if len(values) < 2:
        return {"median": values[0], "q1": values[0], "q3": values[0], "n": len(values)}
    q1, _, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3, "n": len(values)}


def end_to_end(runs: list, setup: tuple) -> dict[str, tuple[list, str]]:
    ok = [r for r in runs if "wall_s" in r]
    return {
        "setup_s": ([sum(setup)], "s"),
        "docs_per_sec": ([r["docs"] / r["wall_s"] for r in ok], "docs/s"),
        "cpu_s_per_kdoc": ([1000 * r["cpu_s"] / r["docs"] for r in ok], "CPU-s/kdoc"),
        "peak_rss_mb": ([r["peak_rss_mb"] for r in ok], "MB"),
        "output_bytes_per_doc": ([r["out_bytes"] / r["written"] for r in ok], "B/doc"),
        "doc_fail_frac": ([r["fails"] / r["docs"] for r in ok], "ratio"),
    }


def per_layer(wl: Workload, runs: list, setup: tuple, untraced: list, events: dict,
              kernels: dict, nproc: int) -> dict[str, float]:
    """Every per-layer metric (``trace.PER_LAYER`` and ``trace.EXTRA_LAYER``);
    0 where this workload does not drive the layer."""
    from jobbench.trace import EXTRA_LAYER, PER_LAYER, merge_groups

    tr = wl.tr
    m = dict.fromkeys([*PER_LAYER, *EXTRA_LAYER], 0.0)
    m.update({k: v for k, v in kernels.items() if k in m})
    m.update({k: _median(v) for k, v in tr.counts.items() if k in m})
    m["session.build_s"], m["session.warm_s"] = setup

    noop = merge_groups(events, tr.groups("extract_job.noop"))
    m["extract_job.plan_s"] = _median(tr.seconds("extract_job.plan"))
    m["extract_job.noop_s"] = _median(tr.seconds("extract_job.noop"))
    m["extract_job.tasks"] = noop["tasks"]
    m["extract_job.task_skew"] = noop["task_skew"]
    m["extract_job.shuffle_write_bytes"] = noop["shuffle_write_bytes"]
    m["extract_job.executor_cpu_s"] = noop["cpu_s"]
    m["extract_job.gc_s"] = noop["gc_s"]
    # noop docs/s over what nproc cores would do running only the kernels
    m["extract_job.kernel_efficiency"] = (DOCS[wl.name] / m["extract_job.noop_s"]) / (
        nproc * kernels["kernels.single_core_docs_per_sec"]
    )

    write = tr.seconds("checkpoint.write_extracted")
    if write:
        append = tr.seconds("checkpoint.append_checkpoint")
        whole = tr.seconds("checkpoint.run_extract_job")
        m["checkpoint.write_s"] = _median(write)
        m["checkpoint.write_overhead_s"] = m["checkpoint.write_s"] - m["extract_job.noop_s"]
        m["checkpoint.append_s"] = _median(append)
        # resume probes return before writing, so the write and append
        # spans pair one-to-one with the run_extract_job spans
        m["checkpoint.lineage_s"] = _median(w - a - b for w, a, b in zip(whole, write, append))
        m["checkpoint.resume_probe_s"] = _median(tr.seconds("checkpoint.resume_probe"))
    m["delta.stats_s"] = _median(tr.seconds("delta.stats"))
    m["delta.extract_s"] = _median(tr.seconds("delta.extract"))
    m["delta.shuffle_bytes"] = _median(
        merge_groups(events, [g])["shuffle_write_bytes"] for g in tr.groups("delta.extract")
    )
    for stage in ("curate.extract", "textstats.langid", "textstats.quality",
                  "dedup.exact", "dedup.minhash"):
        m[f"{stage}_s"] = _median(tr.seconds(stage))

    ok = [r for r in runs if "wall_s" in r]
    per_run = [
        merge_groups(events, {s["group"] for s in tr.spans if s["run"] == r["k"]}) for r in ok
    ]
    for key in ("jobs", "stages", "spill_bytes", "gc_s"):
        m[f"spark.{key}"] = _median(p[key] for p in per_run)
    m["tracing.docs_per_sec_delta"] = (
        _median(r["docs"] / r["wall_s"] for r in ok)
        - _median(r["docs"] / r["wall_s"] for r in untraced[1:] if "wall_s" in r)
    )
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    from jobbench.procs import become_subreaper

    become_subreaper()
    # a SIGTERM unwinds through the finally below like any other exit
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        return bench(args)
    finally:
        stop_processes()


def bench(args: argparse.Namespace) -> int:
    """One benchmark process: set-up, runs, checks and the result line."""
    host = environment()
    pre_s = _process_age_s()
    from jobbench import trace

    tracer = trace.Tracer(enabled=False)
    wl = WORKLOADS[args.workload](args.workload, args.seed, tracer)

    spark, b, w = build(host.nproc)
    # process start (interpreter, imports) counts as build time
    setup = (b + pre_s, w)
    _log(f"session built in {b:.1f}s, workers warm in {w:.1f}s")
    wl.prepare(spark)

    runs: list[dict] = []
    untraced: list[dict] = []
    detail: dict = {}
    if not args.trace:
        # No warm-up run: a process of the regression gate has room for one
        # job run at this host's speed, and a job launch meets a cold JVM.
        measure(wl, spark, args.seconds, runs, 0)
        _log(f"{len(runs)} measured run(s) done")
        spark.stop()
        values = end_to_end(runs, setup)
        if not all(v for v, _ in values.values()):
            print("jobbench: no completed run to report", file=sys.stderr)
            return 1
        for name, (vals, _) in values.items():
            detail[name] = quartiles(vals)
        metrics = {name: {"value": detail[name]["median"], "unit": unit}
                   for name, (_, unit) in values.items()}
    else:
        # Untraced: the cold run, then a warm one. Traced: a new context
        # with the event log on in the same (warm) JVM, spans and job
        # groups on; its runs against the warm untraced run give the
        # tracing overhead.
        untraced += [attempt(wl, spark, 0), attempt(wl, spark, 1)]
        spark.stop()
        log_dir = _fresh(os.path.join(WORK, "events"))
        os.makedirs(log_dir)
        spark, _, _ = build(host.nproc, event_log=log_dir)
        tracer.enabled = True
        tracer.bind(spark)
        from paddle_spark.operators import checkpoint
        from paddle_spark.operators.extract_job import extract_pages

        tracer.wrap(checkpoint, "write_extracted", "checkpoint.write_extracted")
        tracer.wrap(checkpoint, "append_checkpoint", "checkpoint.append_checkpoint")
        tracer.run = -2  # probes: not part of any measured run
        kernels = trace.kernel_pass(wl.kernel_payloads())
        pages = spark.read.parquet(wl.pages_path)
        with tracer.span("extract_job.plan"):
            df = extract_pages(pages)
        with tracer.span("extract_job.noop"):
            df.write.format("noop").mode("overwrite").save()
        measure(wl, spark, args.seconds / 2, runs, len(untraced))
        tracer.run = -2
        wl.layer_probe(spark)
        spark.stop()
        events = trace.parse_event_log(log_dir)
        layer = per_layer(wl, runs, setup, untraced, events, kernels, host.nproc)
        metrics = {k: {"value": layer[k], "unit": unit} for k, (unit, _) in trace.PER_LAYER.items()}
        detail["extra_layer"] = {k: layer[k] for k in trace.EXTRA_LAYER}
        detail["kernel_samples"] = kernels["samples"]
        with open(os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
            json.dump({"spans": tracer.spans, "counts": tracer.counts, "events": {
                g: {**v, "stages": sorted(v["stages"])} for g, v in events.items()
            }}, f)
    shutil.rmtree(wl.scratch, ignore_errors=True)

    all_runs = untraced + runs
    failed = sum(1 for r in all_runs if r["errors"])
    detail.update(
        workload=args.workload, seed=args.seed, trace=args.trace, host=host.stamp(),
        n_docs=DOCS[args.workload], run_fail_frac=failed / len(all_runs),
        runs=[{k: v for k, v in r.items() if k != "errors"} for r in all_runs],
    )
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    name = f"{args.workload}-{args.seed}-{args.trace}.json"
    with open(os.path.join(WORK, "results", name), "w") as f:
        json.dump(detail, f, indent=1)
    print("jobbench: " + json.dumps({k: detail[k] for k in (
        "workload", "seed", "n_docs", "host", "run_fail_frac")}))
    print(json.dumps({
        "correct": failed == 0, "attempted": len(all_runs), "failed": failed, "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
