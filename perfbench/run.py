#!/usr/bin/env python3
"""Benchmark of the extraction pipeline on one machine.

Run from the repository root:

    python3 perfbench/run.py --workload bulk --seed 1 --seconds 12 --trace 0

One run is one Python process driving one local Spark JVM at
``local[4]``. It

1. generates the workload's pages table from ``--seed`` (corpus.py);
2. sets up five times -- Spark session start plus staging of the input --
   and reports the median as ``setup_s``;
3. checks the program's output against the reference implementation
   (``oracle.pipeline.convert_ocr_result``), outside the timed window;
4. with ``--trace 0`` measures the workload for ``--seconds`` seconds and
   prints the end-to-end metrics; with ``--trace 1`` it instead times the
   pipeline's layer prefixes under a Spark listener and the UDF profiler,
   runs the checkpointed job once (``bulk``) and its share of the
   registry's solver queries (solvers.py), and prints the per-layer
   metrics.

Every metric is printed as ``name median q1 q3 n unit``; the last line
of standard output is one JSON object (correct, attempted, failed,
metrics). The exit code is 0 only when every check passed.

The program is driven only through its public entry points:
``plans.extract.extract_documents`` and ``CheckpointedExtractJob``, the
prefixes ``sources.pages.select_extractable`` ->
``operators.parse.parse_pages`` -> ``operators.assemble.assemble_documents``,
``session.get_spark``, and the ``__spark_entry__`` query registry. Metric
definitions, the workloads' reasons and the layer-to-metric map are in
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field, replace

from corpus import CorpusSize, generate_pages, stage_pages
from probes import RssSampler, Tracer, cpu_seconds, cpu_snapshot, steal_ticks, stop_tree
import solvers

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
SLOTS = 4
# the JVM heap is fixed and touched up front (-Xms = -Xmx, AlwaysPreTouch):
# a heap that grows with GC timing would make peak memory a matter of
# luck; this way the heap is a constant and peak_rss_mb moves with Python
# (driver and workers) and the JVM's off-heap memory
DRIVER_MEMORY = "2g"
# the first set-up launches the JVM; restarts get faster over the first few
# (JIT), so the median is taken over enough of them to sit past that
SETUPS = 9
# at least this many timed pairs, however short --seconds is: their median
# is the run's figure
TIMED_PAIRS = 2
SAMPLE_DOCS = 100
LARGEST_CHECKED = 3
TRACE_REPEATS = 2
# the traced run warms up less than a timed run: it must end within 180 s
TRACE_WARMUP_PASSES = 2
DRIVER_TIMING_DOCS = 1000
RESUME_BUCKETS = 8
RESUME_GROUPS = 2


@dataclass(frozen=True)
class Workload:
    name: str
    size: CorpusSize
    # passes before anything is timed. The JVM compiles the hot code over
    # the first ten or so passes, and its CPU per pass falls from about
    # 6 s to 1.5 s meanwhile; a count rather than a time, so that the
    # timed passes are as warm on a slow box as on a fast one
    warmup_passes: int
    traces_job: bool  # the traced run also runs CheckpointedExtractJob
    # the solver queries the traced run also runs: one pass of all
    # fourteen takes about 50 s, so each traced run takes a share, split
    # so that both traced runs take about the same time (120 s; a run
    # must end within 180 s)
    solver_queries: tuple[str, ...]


GIANT_SOLVERS = ("web_hits_scores", "web_rank_correlation")
WORKLOADS = {
    "bulk": Workload("bulk", CorpusSize(
        docs=8000, pdf_share=0.2, giant_share=0.0, megas=0, mega_pages=0, files=8,
    ), warmup_passes=5, traces_job=True, solver_queries=tuple(
        q for q in solvers.QUERIES if q not in GIANT_SOLVERS)),
    "giant": Workload("giant", CorpusSize(
        docs=2000, pdf_share=0.0, giant_share=0.02, megas=1, mega_pages=20000, files=8,
    ), warmup_passes=3, traces_job=False, solver_queries=GIANT_SOLVERS),
}


def quarter(size: CorpusSize) -> CorpusSize:
    """Equal work per slot: the 1-slot baseline gets a quarter of the
    documents, and mega PDFs of a quarter of the pages."""
    return replace(size, docs=size.docs // SLOTS, mega_pages=size.mega_pages // SLOTS, files=1)


def check_same_paths(full, part) -> None:
    """Both sides of scaling_eff must take the same code paths: when the
    input has a document above the giant gate, so must its quarter."""
    from paper2llm_spark.operators.parse import DEFAULT_GIANT_BYTES

    def largest(table):
        return max(len(b) for b in table.column("html").to_pylist())

    if (largest(full) > DEFAULT_GIANT_BYTES) != (largest(part) > DEFAULT_GIANT_BYTES):
        raise ValueError(f"the quarter's largest document ({largest(part)} bytes) is on "
                         f"the other side of the {DEFAULT_GIANT_BYTES}-byte giant gate")


# -- statistics ---------------------------------------------------------------

def summary(values: list[float]) -> tuple[float, float, float, int]:
    """(median, q1, q3, n) -- quartiles as statistics.quantiles gives them."""
    vals = [float(v) for v in values]
    if len(vals) == 1:
        return vals[0], vals[0], vals[0], 1
    q1, med, q3 = statistics.quantiles(vals, n=4)
    return statistics.median(vals), q1, q3, len(vals)


@dataclass
class Metrics:
    units: dict = field(default_factory=dict)
    samples: dict = field(default_factory=dict)
    ungated: set = field(default_factory=set)

    def add(self, name: str, unit: str, values, gated: bool = True) -> None:
        """Record a metric; one that is not ``gated`` is printed but left
        out of the result object."""
        vals = list(values) if isinstance(values, (list, tuple)) else [values]
        self.units[name] = unit
        self.samples[name] = vals
        if not gated:
            self.ungated.add(name)

    def report(self, out=sys.stdout) -> dict:
        result = {}
        for name, vals in self.samples.items():
            med, q1, q3, n = summary(vals)
            print(f"{name:40s} median={med:.6g} q1={q1:.6g} q3={q3:.6g} "
                  f"n={n} unit={self.units[name]}", file=out)
            if name not in self.ungated:
                result[name] = {"value": med, "unit": self.units[name]}
        return result


# -- session and input --------------------------------------------------------

def start_session():
    from paper2llm_spark.session import get_spark

    local = os.path.join(WORK, "spark-local")
    os.makedirs(local, exist_ok=True)
    return get_spark(app_name="perfbench", cpus=SLOTS, extra_conf={
        "spark.local.dir": local,
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={local} -Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    })


ONE_SLOT_CONF = {
    # every stage at one partition, so one task runs at a time -- except
    # the stage that unions the small- and giant-document parse branches,
    # which runs one task per branch
    "spark.sql.shuffle.partitions": "1",
    "spark.sql.files.minPartitionNum": "1",
}


def one_slot(spark, fn):
    """Run ``fn`` with :data:`ONE_SLOT_CONF`, then restore the session's
    values (``unset`` would fall back to Spark's defaults, not the
    session's)."""
    old = {k: spark.conf.get(k, None) for k in ONE_SLOT_CONF}
    for k, v in ONE_SLOT_CONF.items():
        spark.conf.set(k, v)
    try:
        return fn()
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# -- one unit of work -----------------------------------------------------------

def noop_pass(spark, path: str) -> float:
    """The unit of work: the full pipeline to the noop sink (count()
    would let Catalyst prune the convert UDF)."""
    from paper2llm_spark.plans.extract import extract_documents

    t0 = time.monotonic()
    out = extract_documents(spark.read.parquet(path))
    out.write.format("noop").mode("overwrite").save()
    return time.monotonic() - t0


def resume_cycle(spark, path: str, out_dir: str) -> float:
    """CheckpointedExtractJob (``descriptions`` mode) stopped after half
    its commit groups, then resumed by a second job on the same output
    directory."""
    from paper2llm_spark.plans.extract import CheckpointedExtractJob

    shutil.rmtree(out_dir, ignore_errors=True)
    half = RESUME_GROUPS // 2

    def job():
        return CheckpointedExtractJob(
            spark, path, out_dir, mode="descriptions",
            n_buckets=RESUME_BUCKETS, n_groups=RESUME_GROUPS,
        )

    t0 = time.monotonic()
    first = job().run(max_groups=half)
    second = job().run()
    wall = time.monotonic() - t0
    if first["groups_processed"] != half or second["groups_processed"] != RESUME_GROUPS - half:
        raise RuntimeError(f"resume processed {first} then {second}")
    return wall


class Runner:
    """Everything one run needs: the workload, its working directory and
    the live session."""

    def __init__(self, wl: Workload, seed: int):
        self.wl, self.seed = wl, seed
        self.dir = os.path.join(WORK, f"{wl.name}-s{seed}-p{os.getpid()}")
        self.spark = None

    def restart(self) -> float:
        """Stop the session, if any, and start a new one; returns the
        start time, the stop not included. Restarts happen only before the
        first pipeline runs: the program memoises its pandas UDF objects,
        which stay bound to the SparkContext that first ran them."""
        if self.spark is not None:
            self.spark.stop()
        t0 = time.monotonic()
        self.spark = start_session()
        return time.monotonic() - t0


# -- correctness ----------------------------------------------------------------

OUT_FIELDS = [
    "markdown", "main_content", "backmatter", "appendix", "title", "bibtex",
    "bibtex_key", "bibtex_formatted", "page_count", "image_references", "model",
    "title_validation",
]


def reference(payload: bytes, mode: str) -> dict:
    from paper2llm_spark.html_extract import html_to_ocr_result
    from paper2llm_spark.oracle.pipeline import convert_ocr_result
    from paper2llm_spark.oracle.urls import detect_payload
    from paper2llm_spark.pdf.parser import parse_pdf

    ocr = parse_pdf(payload) if detect_payload(payload) == "pdf" else html_to_ocr_result(payload)
    ref = convert_ocr_result(ocr, process_images=(mode == "descriptions"))
    ref["title_validation"] = ref["bibtex_title_validation"]
    return {k: ref[k] for k in OUT_FIELDS}


def _plain(v):
    if hasattr(v, "asDict"):
        return {k: _plain(x) for k, x in v.asDict().items()}
    if isinstance(v, list):
        return [_plain(x) for x in v]
    return v


@dataclass
class Check:
    expected: int = 0
    checked: int = 0
    matched: int = 0
    quarantined: int = 0
    missing: int = 0
    unexpected: int = 0
    duplicated: int = 0
    output_bytes: int = 0
    output_hash: str = ""
    mismatched_urls: list = field(default_factory=list)
    notes: list = field(default_factory=list)

    @property
    def failed_docs(self) -> int:
        return (self.checked - self.matched) + self.quarantined + self.missing \
            + self.unexpected + self.duplicated

    @property
    def match_rate(self) -> float:
        return self.matched / self.checked if self.checked else 0.0


def sample_urls(table, seed: int) -> tuple[list[str], dict[str, bytes]]:
    """The English urls (every one must come out), and the checked sample:
    a seeded sample plus the largest documents."""
    rows = [r for r in table.select(["url", "html", "lang"]).to_pylist() if r["lang"] == "en"]
    rng = random.Random(seed ^ 0x5EED)
    sample = rng.sample(rows, min(SAMPLE_DOCS, len(rows)))
    largest = sorted(rows, key=lambda r: len(r["html"]), reverse=True)[:LARGEST_CHECKED]
    picked = {r["url"]: r["html"] for r in sample + largest}
    return [r["url"] for r in rows], picked


def check_output(df, table, seed: int, mode: str) -> Check:
    """Compare one evaluated output table with the reference.

    Every expected url must come out exactly once and unquarantined; the
    sampled urls must equal the reference field by field; the whole
    output is hashed (sha256 of url + row sha256, sorted by url) so two
    commits can be compared for byte identity."""
    from pyspark.sql import functions as F

    expected, picked = sample_urls(table, seed)
    rows = df.select(
        "url", "err",
        F.sha2(F.to_json(F.struct(*OUT_FIELDS)), 256).alias("h"),
        F.coalesce(F.octet_length("markdown"), F.lit(0)).alias("nbytes"),
        F.when(F.col("url").isin(list(picked)), F.struct(*OUT_FIELDS)).alias("full"),
    ).collect()

    c = Check(expected=len(expected), checked=len(picked))
    seen: dict[str, int] = {}
    digest = []
    for r in rows:
        seen[r["url"]] = seen.get(r["url"], 0) + 1
        c.output_bytes += r["nbytes"]
        if r["err"] is not None:
            c.quarantined += 1
            c.notes.append(f"quarantined {r['url']}: {r['err'][:120]}")
        digest.append(f"{r['url']}\t{r['h']}\n")
    want = set(expected)
    c.missing = len(want - seen.keys())
    c.unexpected = len(seen.keys() - want)
    c.duplicated = sum(1 for n in seen.values() if n > 1)
    c.output_hash = hashlib.sha256("".join(sorted(digest)).encode()).hexdigest()

    got = {r["url"]: _plain(r["full"]) for r in rows if r["full"] is not None}
    for url, payload in picked.items():
        want_row = reference(payload, mode)
        have = got.get(url)
        if have == want_row:
            c.matched += 1
            continue
        c.mismatched_urls.append(url)
        if have is not None:
            diff = [k for k in OUT_FIELDS if have.get(k) != want_row.get(k)]
            c.notes.append(f"{url} differs in {diff}")
    return c


def verify_pipeline(runner: Runner, table, path: str) -> Check:
    """Evaluate the pipeline once more, with a collecting sink, and check it."""
    from paper2llm_spark.plans.extract import extract_documents

    out = extract_documents(runner.spark.read.parquet(path))
    return check_output(out, table, runner.seed, "placeholder")


def verify_written(runner: Runner, table, out_dir: str) -> Check:
    """Check what a kill+resume cycle wrote: the output as above, and
    every bucket checkpointed exactly once. ``duplicated`` is redo_docs:
    urls written more than once across the kill and the resume."""
    spark = runner.spark
    out = spark.read.parquet(os.path.join(out_dir, "extracted"))
    c = check_output(out, table, runner.seed, "descriptions")
    done = spark.read.parquet(os.path.join(out_dir, "checkpoint")).collect()
    buckets = sorted(r["bucket"] for r in done if r["status"] == "done")
    if buckets != list(range(RESUME_BUCKETS)):
        c.notes.append(f"checkpoint buckets {buckets}")
        c.unexpected += 1
    return c


# -- the timed run ---------------------------------------------------------------

def timed(unit, seconds: float, min_units: int = 1) -> tuple[list, int]:
    """Call ``unit`` back to back for about ``seconds``, at least
    ``min_units`` times, and not again when less than half a call's mean
    time is left; returns (results of the calls that succeeded, calls
    that raised)."""
    walls, failed = [], 0
    start = time.monotonic()
    deadline = start + seconds

    def more() -> bool:
        done = len(walls) + failed
        now = time.monotonic()
        return done < min_units or now + (now - start) / max(1, done) / 2 < deadline

    while more():
        try:
            walls.append(unit())
        except Exception as exc:  # a failed run is counted, not fatal
            print(f"unit failed: {type(exc).__name__}: {exc}"[:400], file=sys.stderr)
            failed += 1
            if failed >= 3 and not walls:
                break
    return walls, failed


def _phase(name: str, t0: list) -> None:
    now = time.monotonic()
    print(f"phase {name}: {now - t0[0]:.2f} s", file=sys.stderr)
    t0[0] = now


def run(workload: str, seed: int, seconds: int, trace: bool) -> dict:
    """One run of ``workload``; returns the metrics, the checks and the
    counts of attempted and failed operations."""
    clock = [time.monotonic()]
    written = solved = None  # checks of the job and the solvers (traced runs)
    wl = WORKLOADS[workload]
    runner = Runner(wl, seed)
    os.makedirs(runner.dir, exist_ok=True)
    metrics = Metrics()

    quarter_size = quarter(wl.size)
    full_table = generate_pages(wl.size, seed)
    quarter_table = generate_pages(quarter_size, seed + 1)
    check_same_paths(full_table, quarter_table)
    docs_full = sum(1 for lang in full_table.column("lang").to_pylist() if lang == "en")
    docs_quarter = sum(1 for lang in quarter_table.column("lang").to_pylist() if lang == "en")
    _phase("generate", clock)

    with RssSampler() as rss:
        # set-up: session start (the first one launches the JVM) plus
        # staging of the generated input
        setup, starts = [], []
        for k in range(SETUPS):
            starts.append(runner.restart())
            t0 = time.monotonic() - starts[-1]
            full_path = os.path.join(runner.dir, f"input{k}", "full")
            quarter_path = os.path.join(runner.dir, f"input{k}", "quarter")
            stage_pages(full_table, full_path, wl.size.files)
            stage_pages(quarter_table, quarter_path, quarter_size.files)
            runner.spark.read.parquet(full_path).schema
            runner.spark.read.parquet(quarter_path).schema
            setup.append(time.monotonic() - t0)
        _phase("setup " + " ".join(f"{t:.2f}" for t in setup), clock)

        # the check is one more evaluation of the pipeline, so it doubles
        # as the warm-up (Python workers, JIT)
        check = verify_pipeline(runner, full_table, full_path)
        _phase("check and warm-up", clock)

        if trace:
            layer, written, solved = trace_layers(runner, full_path, full_table)
            units = layer.pop("_units")[1]
            failed_units = 0
        else:
            peaks, cpus = [], []
            pid = os.getpid()

            def quarter_pass_at_one_slot():
                return one_slot(runner.spark, lambda: noop_pass(runner.spark, quarter_path))

            def pair():
                """The unit (a 4-slot pass over the input) and the scaling
                baseline (a 1-slot pass over a quarter of it), recording
                the tree's CPU time over both and its peak memory during
                the unit."""
                rss.reset()
                cpu0 = cpu_snapshot(pid, rss.tid)
                w4 = noop_pass(runner.spark, full_path)
                peak = rss.peak
                w1 = quarter_pass_at_one_slot()
                cpus.append(cpu_seconds(cpu0, cpu_snapshot(pid, rss.tid)))
                peaks.append(peak)
                return w4, w1

            # warm up, then time pairs; both sides of a pair share what
            # warm-up is left
            for _ in range(wl.warmup_passes):
                noop_pass(runner.spark, full_path)
            quarter_pass_at_one_slot()
            _phase("warm-up", clock)
            steal0 = steal_ticks()
            pairs, failed = timed(pair, seconds, min_units=TIMED_PAIRS)
            steal1 = steal_ticks()
            units, failed_units = 2 * (len(pairs) + failed), 2 * failed
            walls = [w4 for w4, _ in pairs]
            _phase("timed pairs", clock)
        runner.spark.stop()

    if trace:
        metrics.add("session.start_s", "s", starts[1:])
        metrics.add("session.jvm_launch_s", "s", starts[0])
        for name, (unit, vals) in layer.items():
            metrics.add(name, unit, vals)
        metrics.add("operators.enhance.bytes_out", "bytes", check.output_bytes)
    else:
        metrics.add("setup_s", "s", setup)
        metrics.add("docs_per_cpu_s", "1/s", [(docs_full + docs_quarter) / c for c in cpus] or [0.0])
        metrics.add("scaling_eff", "ratio", [
            (docs_full / w4) / (SLOTS * docs_quarter / w1) for w4, w1 in pairs] or [0.0])
        metrics.add("match_rate", "ratio", check.match_rate)
        metrics.add("peak_rss_mb", "MB", [p / 2**20 for p in peaks] or [0.0])
        # printed, not gated: walls move with the time the hypervisor
        # steals from the virtual CPUs (perfbench/README.md)
        metrics.add("wall_s", "s", walls or [0.0], gated=False)
        metrics.add("docs_per_s", "1/s", [docs_full / w for w in walls] or [0.0], gated=False)
        metrics.add("cpu_s", "s", cpus or [0.0], gated=False)
        metrics.add("box.steal_share", "ratio",
                    (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]), gated=False)

    shutil.rmtree(runner.dir, ignore_errors=True)
    _phase("stop", clock)
    checks = [check] + [c for c in (written, solved) if c]
    attempted = units + sum(c.expected for c in checks)
    failed = failed_units + sum(c.failed_docs for c in checks)
    return {
        "metrics": metrics,
        "checks": checks,
        "redo_docs": written.duplicated if written else 0,
        "attempted": attempted,
        "failed": failed,
        "docs": docs_full,
        "correct": failed == 0 and all(c.match_rate == 1.0 for c in checks),
    }


# -- the traced run ---------------------------------------------------------------

def _median(vals):
    return statistics.median(vals) if vals else 0.0


def _quantile(vals, q):
    if not vals:
        return 0.0
    vals = sorted(vals)
    return vals[min(len(vals) - 1, int(q * len(vals)))]


def trace_layers(runner: Runner, path: str, table) -> tuple[dict, Check | None, Check]:
    """Per-layer metrics, {name: (unit, samples)}, the check of what the
    checkpointed job wrote (None when the workload does not run it) and
    the check of the solver queries.

    Busy times are differences of layer prefixes, each written to the
    noop sink in its own span: scan = select_extractable, +parse =
    parse_pages, +assemble = assemble_documents, full = extract_documents."""
    from paper2llm_spark.operators.assemble import assemble_documents
    from paper2llm_spark.operators.parse import DEFAULT_GIANT_BYTES, parse_pages, plan_chunks
    from paper2llm_spark.sources.pages import select_extractable
    from pyspark.sql import functions as F

    spark, wl = runner.spark, runner.wl
    out: dict = {}

    # tracing overhead: the unit before the listener exists (a py4j
    # listener cannot be removed, so untraced passes come first, after
    # a short warm-up), then under it
    for _ in range(TRACE_WARMUP_PASSES):
        noop_pass(spark, path)
    untraced = [noop_pass(spark, path) for _ in range(TRACE_REPEATS)]
    tracer = Tracer(spark)
    traced = []
    for r in range(TRACE_REPEATS):
        with tracer.span(f"unit#{r}"):
            traced.append(noop_pass(spark, path))
    out["_units"] = ("count", 2 * TRACE_REPEATS)

    def prefix(name: str):
        from paper2llm_spark.plans.extract import extract_documents

        pages = spark.read.parquet(path)
        if name == "full":
            return extract_documents(pages)
        df = select_extractable(pages)
        if name in ("parse", "assemble"):
            df = parse_pages(df)
        if name == "assemble":
            df = assemble_documents(df)
        return df

    names = ("scan", "parse", "assemble", "full")
    walls = {n: [] for n in names}
    for r in range(TRACE_REPEATS):
        for n in names:
            with tracer.span(f"{n}#{r}") as span:
                prefix(n).write.format("noop").mode("overwrite").save()
            walls[n].append(span["end_s"] - span["start_s"])
    tracer.settle()

    def per_pass(n, fn):
        return [fn(tracer.listener.rows(f"{n}#{r}")) for r in range(TRACE_REPEATS)]

    def total(key):
        return lambda rows: sum(t[key] for t in rows)

    def last_stage(rows):
        top = max((t["stage"] for t in rows), default=None)
        return [t for t in rows if t["stage"] == top]

    def heaviest_stage(rows):
        by: dict[int, list] = {}
        for t in rows:
            by.setdefault(t["stage"], []).append(t)
        return max(by.values(), key=lambda ts: sum(t["run_ms"] for t in ts), default=[])

    def max_over_p50(tasks, key):
        vals = [t[key] for t in tasks]
        med = _median(vals)
        return max(vals) / med if vals and med > 0 else 0.0

    with tracer.span("counts"):
        selected = select_extractable(spark.read.parquet(path))
        rows_out = selected.count()
        agg = parse_pages(selected).agg(
            F.count("*").alias("pages"), F.count("err").alias("quarantined"),
        ).collect()[0]
        chunk_rows = plan_chunks(
            selected.filter(F.octet_length("html") > DEFAULT_GIANT_BYTES)
        ).count()

    m_scan, m_parse, m_asm = (_median(walls[n]) for n in names[:3])
    out["sources.pages.busy_s"] = ("s", walls["scan"])
    out["sources.pages.rows_out"] = ("count", rows_out)
    out["operators.parse.busy_s"] = ("s", [w - m_scan for w in walls["parse"]])
    out["operators.parse.pages_out"] = ("count", agg["pages"])
    out["operators.parse.quarantined"] = ("count", agg["quarantined"])
    out["operators.parse.chunk_rows"] = ("count", chunk_rows)
    spread = per_pass("parse", total("shuffle_write_bytes"))
    out["operators.parse.spread_shuffle_bytes"] = ("bytes", spread)
    out["operators.parse.task_max_over_p50"] = (
        "ratio", per_pass("parse", lambda rows: max_over_p50(heaviest_stage(rows), "run_ms")))
    out["operators.assemble.busy_s"] = ("s", [w - m_parse for w in walls["assemble"]])
    asm_bytes = per_pass("assemble", total("shuffle_write_bytes"))
    out["operators.assemble.shuffle_bytes"] = ("bytes", [a - _median(spread) for a in asm_bytes])
    out["operators.assemble.shuffle_records"] = ("count", [
        a - p for a, p in zip(per_pass("assemble", total("shuffle_write_records")),
                              per_pass("parse", total("shuffle_write_records")))])
    out["operators.assemble.partition_skew"] = (
        "ratio", per_pass("assemble", lambda rows: max_over_p50(last_stage(rows), "shuffle_read_bytes")))
    out["operators.assemble.spill_bytes"] = ("bytes", [
        a - p for a, p in zip(per_pass("assemble", total("spill_bytes")),
                              per_pass("parse", total("spill_bytes")))])
    out["operators.enhance.busy_s"] = ("s", [w - m_asm for w in walls["full"]])

    # engine totals and read amplification over the unit
    unit_rows = [tracer.listener.rows(f"unit#{r}") for r in range(TRACE_REPEATS)]
    out["sources.pages.read_amplification"] = (
        "ratio", [sum(t["input_records"] for t in rows) / table.num_rows for rows in unit_rows])
    out["spark.executor_cpu_s"] = ("s", [sum(t["cpu_ns"] for t in rows) / 1e9 for rows in unit_rows])
    out["spark.gc_s"] = ("s", [sum(t["gc_ms"] for t in rows) / 1e3 for rows in unit_rows])
    out["spark.core_busy_share"] = ("ratio", [
        sum(t["run_ms"] for t in rows) / 1e3 / (w * SLOTS) for rows, w in zip(unit_rows, traced)])
    out["trace.overhead_s"] = ("s", [w - _median(untraced) for w in traced])

    written = None
    if wl.traces_job:
        written = trace_checkpointed_job(runner, tracer, path, table, out)
    else:
        for name, unit in (("run_s", "s"), ("spark_jobs", "count"), ("files_written", "count"),
                           ("bytes_written", "bytes"), ("completed_buckets_s", "s"),
                           ("read_amplification", "ratio")):
            out[f"plans.extract.{name}"] = (unit, 0)

    solved = trace_solvers(runner, tracer, out)

    out.update(udf_profile(runner, path))
    out.update(driver_timings(table))
    tracer.settle()
    tracer.write(os.path.join(WORK, "spans", f"{wl.name}-s{runner.seed}.json"))
    return out, written, solved


def trace_checkpointed_job(runner: Runner, tracer, path: str, table, out: dict) -> Check:
    """The production path (jobs/extract.py): one CheckpointedExtractJob
    kill+resume cycle over the workload's input in ``descriptions`` mode,
    writing parquet output, lineage, checkpoint and stage metrics. Fills
    the ``plans.extract.*`` metrics; returns the check of its output."""
    from paper2llm_spark.plans.extract import CheckpointedExtractJob

    out_dir = os.path.join(runner.dir, "job")
    with tracer.span("job") as span:
        resume_cycle(runner.spark, path, out_dir)
    rows = tracer.listener.rows("job")
    written = [os.path.join(d, f) for d, _, fs in os.walk(out_dir)
               for f in fs if not f.startswith((".", "_"))]
    out["plans.extract.run_s"] = ("s", span["end_s"] - span["start_s"])
    out["plans.extract.spark_jobs"] = ("count", tracer.listener.job_count("job"))
    out["plans.extract.files_written"] = ("count", len(written))
    out["plans.extract.bytes_written"] = ("bytes", sum(map(os.path.getsize, written)))
    out["plans.extract.read_amplification"] = (
        "ratio", sum(t["input_records"] for t in rows) / table.num_rows)
    job = CheckpointedExtractJob(runner.spark, path, out_dir, n_buckets=RESUME_BUCKETS,
                                 n_groups=RESUME_GROUPS)
    t0 = time.monotonic()
    job.completed_buckets()
    out["plans.extract.completed_buckets_s"] = ("s", time.monotonic() - t0)
    return verify_written(runner, table, out_dir)


def trace_solvers(runner: Runner, tracer, out: dict) -> Check:
    """One pass of the workload's share of the registry's solver queries
    over seeded tables, each in its own span; fills ``solvers.<query>_s``
    (zero for the other workload's share) and returns the check against
    the DuckDB duals (one "document" per query)."""
    names = runner.wl.solver_queries
    sf_dir = os.path.join(runner.dir, "sf")
    solvers.stage_tables(solvers.generate_tables(runner.seed), sf_dir)
    walls, failures, digest = solvers.run_queries(runner.spark, sf_dir, names, tracer.span)
    for name in solvers.QUERIES:
        out[f"solvers.{name}_s"] = ("s", walls.get(name, 0.0))
    n = len(names)
    return Check(expected=n, checked=n, matched=n - len(failures), output_hash=digest,
                 notes=failures)


UDF_TOP = 3


def udf_profile(runner: Runner, path: str) -> dict:
    """Python self time inside the pipeline's UDFs, from one full pass
    under ``spark.sql.pyspark.udf.profiler=perf``."""
    import pstats

    from paper2llm_spark.plans.extract import extract_documents

    spark = runner.spark
    spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
    try:
        extract_documents(spark.read.parquet(path)).write.format("noop").mode("overwrite").save()
    finally:
        spark.conf.unset("spark.sql.pyspark.udf.profiler")
    dump = os.path.join(runner.dir, "profile")
    spark.profile.dump(dump, type="perf")
    spark.profile.clear(type="perf")

    per_udf = {"parse": 0.0, "plan_chunks": 0.0, "convert": 0.0}
    funcs: dict[str, float] = {}
    for f in sorted(os.listdir(dump)) if os.path.isdir(dump) else []:
        st = pstats.Stats(os.path.join(dump, f)).stats
        names = {fn for (_, _, fn) in st}
        files = {os.path.basename(fl) for (fl, _, _) in st}
        if names & {"parse_pdf", "html_to_ocr_result"}:
            kind = "parse"
        elif names & {"count_pages", "slice"}:
            kind = "plan_chunks"
        elif "enhance.py" in files:
            kind = "convert"
        else:
            continue
        for (fl, line, fn), (_, _, tt, _, _) in st.items():
            per_udf[kind] += tt
            key = f"{os.path.basename(fl)}:{line}({fn})"
            funcs[key] = funcs.get(key, 0.0) + tt
    out = {f"udf.{k}.self_s": ("s", v) for k, v in per_udf.items()}
    top = sorted(funcs.items(), key=lambda kv: -kv[1])[:UDF_TOP]
    for i in range(UDF_TOP):
        name, tt = top[i] if i < len(top) else ("-", 0.0)
        print(f"udf top{i + 1}: udf.{name}.self_s = {tt:.4f} s")
        out[f"udf.top{i + 1}.self_s"] = ("s", tt)
    return out


def driver_timings(table) -> dict:
    """Direct calls from the driver, one document at a time: PDF parse,
    HTML extraction, and page-range slicing of documents above the
    giant gate."""
    from paper2llm_spark.html_extract import html_to_ocr_result
    from paper2llm_spark.operators.parse import DEFAULT_CHUNK_PAGES, DEFAULT_GIANT_BYTES
    from paper2llm_spark.oracle.urls import detect_payload
    from paper2llm_spark.pdf.parser import count_pages, parse_pdf
    from paper2llm_spark.pdf.slicer import PdfSlicer

    pdf_ms, html_ms, slice_ms = [], [], []
    for r in table.select(["html", "lang"]).to_pylist():
        payload = r["html"]
        if r["lang"] != "en":
            continue
        if detect_payload(payload) == "pdf":
            if len(payload) > DEFAULT_GIANT_BYTES:
                n = count_pages(payload)
                slicer = PdfSlicer(payload)
                for lo in range(0, min(n, 20 * DEFAULT_CHUNK_PAGES), DEFAULT_CHUNK_PAGES):
                    t0 = time.perf_counter()
                    slicer.slice(lo, min(lo + DEFAULT_CHUNK_PAGES, n) - 1)
                    slice_ms.append((time.perf_counter() - t0) * 1e3)
            elif len(pdf_ms) < DRIVER_TIMING_DOCS:
                t0 = time.perf_counter()
                parse_pdf(payload)
                pdf_ms.append((time.perf_counter() - t0) * 1e3)
        elif len(html_ms) < DRIVER_TIMING_DOCS:
            t0 = time.perf_counter()
            html_to_ocr_result(payload)
            html_ms.append((time.perf_counter() - t0) * 1e3)
    print(f"driver timings: pdf n={len(pdf_ms)} html n={len(html_ms)} slices n={len(slice_ms)}")
    return {
        "pdf.parser.doc_ms_p50": ("ms", _quantile(pdf_ms, 0.5)),
        "pdf.parser.doc_ms_p99": ("ms", _quantile(pdf_ms, 0.99)),
        "html_extract.doc_ms_p50": ("ms", _quantile(html_ms, 0.5)),
        "html_extract.doc_ms_p99": ("ms", _quantile(html_ms, 0.99)),
        "pdf.slicer.slice_ms_p50": ("ms", _quantile(slice_ms, 0.5)),
    }


# -- entry point ----------------------------------------------------------------

def _environment() -> None:
    """Point Spark's Python workers and every temporary file at the checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEMORY
    # every JVM would otherwise keep its performance counters in
    # /tmp/hsperfdata_<user>, whatever its temporary directory
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    import tempfile

    tempfile.tempdir = tmp


def stop_spark() -> None:
    """Stop the session, if one is live, and every process it started
    (the JVM and its Python workers), and wait until each has ended."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    stop_tree(getattr(SparkContext._gateway, "proc", None))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    try:
        import paper2llm_spark.plans.extract  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the program is not importable here: {exc}", file=sys.stderr)
        return 2
    _environment()
    # a SIGTERM unwinds like an exception, so that the processes still stop
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    try:
        res = run(args.workload, args.seed, args.seconds, bool(args.trace))
    except Exception:  # the program failed outside a counted unit of work
        traceback.print_exc()
        print("perfbench: run failed; no result", file=sys.stderr)
        return 1
    finally:
        stop_spark()
    print(f"workload={args.workload} seed={args.seed} docs={res['docs']} "
          f"slots={SLOTS} trace={args.trace}")
    for check in res["checks"]:
        print(f"check: expected={check.expected} checked={check.checked} "
              f"matched={check.matched} quarantined={check.quarantined} "
              f"missing={check.missing} unexpected={check.unexpected} "
              f"duplicated={check.duplicated} output_sha256={check.output_hash}")
        for note in check.notes[:10]:
            print(f"check note: {note}")
        for url in check.mismatched_urls[:10]:
            print(f"check mismatch: {url}")
    err_rate = res["failed"] / res["attempted"]
    print(f"{'err_rate':40s} value={err_rate:.6g} unit=ratio "
          f"(failed={res['failed']} attempted={res['attempted']})")
    print(f"{'redo_docs':40s} value={res['redo_docs']} unit=count")
    metrics = res["metrics"].report()
    print(json.dumps({
        "correct": res["correct"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
