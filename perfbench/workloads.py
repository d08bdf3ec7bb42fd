"""The three workloads and the code that sets up, times and traces them.

Each workload is a closed loop with one client (this process): the next
operation starts only when the previous one has returned. An operation is
one dedup run (``batch_dedup``), one crawl job (``crawl_job``) or one
micro-batch (``incremental_stream``, driven a whole stream pass at a
time). Output checks run after each call, outside its timed wall.
"""

from __future__ import annotations

import contextlib
import math
import os
import re
import shutil
import statistics
import sys
import threading
import time
from collections.abc import Callable
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

from perfbench import checks, eventlog, inputs
from perfbench.eventlog import TOTAL_KEYS, totals
from perfbench.tracing import Tracer

# Sizes: the largest that keep a run (set-up, timed loop, checks) near
# 45 s at local[4], so 22 runs per workload fit in an hour. A crawl job or
# micro-batch is mostly fixed Spark job overhead, so fewer of them, not
# fewer docs, is what shortens a run. BATCH_DOCS stays above the engine's
# 16k-doc gate for the broadcast verify.
BATCH_DOCS = 20_000
CRAWL_DOCS = 6_000
STREAM_DOCS = 6_000
STREAM_BATCHES = 2
WARM_DOCS = 2_000

LAYERS = ("warc", "recrawl", "signatures", "candidates", "verify", "cc", "pipeline", "stream")
PER_LAYER = [
    "session.start_s", "session.warmup_s", "session.peak_rss_mb",
    "warc.parse_s", "warc.records", "warc.input_bytes", "warc.sink_s", "warc.sink_records",
    "recrawl.s", "recrawl.rows_out",
    "signatures.s", "signatures.rows", "signatures.task_max_s", "signatures.task_p50_s",
    "candidates.s", "candidates.band_rows", "candidates.pairs", "candidates.pairs_per_doc",
    "candidates.max_bucket", "candidates.task_max_s",
    "verify.s", "verify.pairs_in", "verify.pairs_out", "verify.accept_ratio",
    "verify.path_broadcast", "verify.path_join",
    "cc.s", "cc.edges", "cc.clusters", "cc.jobs",
    "pipeline.signatures_s", "pipeline.cand_pairs_s", "pipeline.dup_pairs_s",
    "pipeline.clusters_s", "pipeline.keep_list_s", "pipeline.metrics_s", "pipeline.resume_s",
    "checkpoint.bytes_written", "checkpoint.files",
    "stream.first_batch_s", "stream.last_batch_s", "stream.first_batch_input_bytes",
    "stream.last_batch_input_bytes", "stream.store_bytes", "stream.store_files", "stream.pairs",
    "trace.traced_s", "trace.untraced_s", "trace.overhead_s",
] + [f"{layer}.{k}" for layer in LAYERS for k in TOTAL_KEYS]


def _cfg():
    from neural_locality_sensitive_hashing_spark import DedupConfig

    # 4-byte shingle hashes, as bench.py and tools/run_dedup_job.py run it
    return DedupConfig(shingle_hash_bytes=4)


def _dir_size(path: str) -> tuple[int, int]:
    n_bytes = n_files = 0
    for root, _, files in os.walk(path):
        for f in files:
            n_bytes += os.path.getsize(os.path.join(root, f))
            n_files += 1
    return n_bytes, n_files


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return path


def _canonical_by_doc(ids: np.ndarray, labels: np.ndarray, n: int) -> np.ndarray:
    return checks.label_by_doc(ids, checks.canonical(ids, labels), n)


# --------------------------------------------------------------------------
# process-tree RSS
# --------------------------------------------------------------------------


def _tree_rss_bytes(root: int) -> int:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    total, todo, page = 0, [root], os.sysconf("SC_PAGE_SIZE")
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            continue
    return total


class RssSampler:
    """Peak summed RSS of the Spark driver JVM and its Python workers
    (the JVM's process tree), sampled from /proc every 50 ms on a
    background thread."""

    def __init__(self, jvm_pid: int):
        self.pid = jvm_pid
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(self.pid))
            self._stop.wait(0.05)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# --------------------------------------------------------------------------
# set-up, timed loop, traced call
# --------------------------------------------------------------------------


@dataclass
class Workload:
    warm: Callable  # spark -> None: the untimed warm-up pass
    op: Callable  # spark -> out: one call (one op, or one stream pass)
    check: Callable  # out -> [failure messages]; appends to recalls
    walls: Callable  # out -> per-operation walls inside the call
    docs: Callable  # out -> input docs (or records) the call processed
    traced_op: Callable  # (spark, tracer) -> out, each layer call in a span
    layers: Callable  # (tracer, event log, out) -> None: fills per-layer metrics
    recalls: list[float] = field(default_factory=list)


class Run:
    def __init__(self, work: str, seed: int, seconds: float, trace: bool, inject: str | None, scale: float):
        self.work = work
        self.cache = os.path.join(work, "cache")
        self.scratch = _fresh(os.path.join(work, "run"))
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.inject = inject
        self.scale = scale
        self.spark = None
        self.failures: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.per_layer = dict.fromkeys(PER_LAYER, 0.0)
        self.event_log_dir = os.path.join(self.scratch, "eventlog")
        os.makedirs(self.event_log_dir)

    def size(self, n: int) -> int:
        return max(200, int(n * self.scale))

    def session(self):
        """A local[4] session; scratch dirs under the work dir, and in a
        traced run the event log on (compress=false)."""
        from neural_locality_sensitive_hashing_spark import spark_session

        conf = {
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} -XX:-UsePerfData"
            ),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_log_dir,
                "spark.eventLog.compress": "false",
            })
        spark = spark_session("perfbench", master="local[4]", shuffle_partitions=4, extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def setup(self, warm) -> float:
        """Start the session (this launches the JVM) and run the warm-up
        pass; returns the set-up wall."""
        t0 = time.time()
        self.spark = self.session()
        t1 = time.time()
        warm(self.spark)
        t2 = time.time()
        self.per_layer["session.start_s"] = t1 - t0
        self.per_layer["session.warmup_s"] = t2 - t1
        return t2 - t0

    def attempt(self, w: Workload, out) -> None:
        n_ops = len(w.walls(out))
        errors = w.check(out)
        self.attempted += n_ops
        if errors:
            self.failed += n_ops
            self.failures.extend(errors)

    def drive(self, w: Workload) -> dict[str, tuple[float, str]]:
        setup_s = self.setup(w.warm)
        print(f"# set-up {setup_s:.1f}s (session {self.per_layer['session.start_s']:.1f}s)", file=sys.stderr)
        if self.trace:
            self.traced(w)
            return {}
        walls: list[float] = []
        docs = 0
        deadline = time.time() + self.seconds
        while not walls or time.time() < deadline:
            try:
                out = w.op(self.spark)
            except Exception as e:  # an operation that raises is a failed operation
                self.attempted += 1
                self.failed += 1
                self.failures.append(f"operation raised {type(e).__name__}: {e}")
                return {}
            walls.extend(w.walls(out))
            docs += w.docs(out)
            self.attempt(w, out)
        late = walls[-math.ceil(len(walls) / 4):]
        return {
            "docs_per_s": (docs / sum(walls), "docs/s"),
            "pair_recall": (statistics.median(w.recalls), "fraction"),
            "setup_s": (setup_s, "s"),
            "batch_p50_s": (statistics.median(walls), "s"),
            "late_batch_s": (statistics.median(late), "s"),
        }

    def traced(self, w: Workload) -> None:
        """An untraced call (peak RSS sampled), the traced call, and
        another untraced call, in one session. Tracing overhead (job
        labels and the per-layer barriers; the event log is on for all
        three) is the traced wall minus the mean of the untraced walls
        before and after it, which cancels a steady warm-up drift."""
        jvm = int(self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        with RssSampler(jvm) as rss:
            t0 = time.time()
            out = w.op(self.spark)
            before = time.time() - t0
        self.per_layer["session.peak_rss_mb"] = rss.peak / 2**20
        self.attempt(w, out)
        tracer = Tracer(self.spark.sparkContext)
        t0 = time.time()
        traced_out = w.traced_op(self.spark, tracer)
        traced = time.time() - t0
        self.attempt(w, traced_out)
        t0 = time.time()
        out = w.op(self.spark)
        after = time.time() - t0
        self.attempt(w, out)
        untraced = (before + after) / 2
        self.per_layer.update({
            "trace.traced_s": traced,
            "trace.untraced_s": untraced,
            "trace.overhead_s": traced - untraced,
        })
        app = self.spark.sparkContext.applicationId
        self.stop()  # flushes the event log
        w.layers(tracer, eventlog.load(self.event_log_dir, app), traced_out)
        tracer.dump(os.path.join(self.scratch, "spans.json"))

    def layer_totals(self, layer: str, tasks) -> dict[str, float]:
        tot = totals(tasks)
        for k in TOTAL_KEYS:
            self.per_layer[f"{layer}.{k}"] += tot[k]
        return tot

    def skew(self, layer: str, tot: dict[str, float]) -> None:
        self.per_layer[f"{layer}.task_max_s"] = tot["task_max_s"]
        if f"{layer}.task_p50_s" in self.per_layer:
            self.per_layer[f"{layer}.task_p50_s"] = tot["task_p50_s"]

    def verify_path(self, plans: list[str]) -> None:
        """The broadcast verify is one mapInArrow over the candidate
        stream; the join verify gathers both shingle sets through joins."""
        paths = ["broadcast" if "MapInArrow" in p else "join" for p in plans]
        self.per_layer["verify.path_broadcast"] = float(paths.count("broadcast"))
        self.per_layer["verify.path_join"] = float(paths.count("join"))


def _in_groups(spans: list[dict]):
    ids = {s["id"] for s in spans}
    return lambda job: job.group in ids


def _plan_write_path(plan: str) -> str:
    m = re.search(r"InsertIntoHadoopFsRelationCommand\s*\n(?:.*\n)*?Arguments: (\S+?),", plan)
    return m.group(1) if m else ""


# --------------------------------------------------------------------------
# batch_dedup
# --------------------------------------------------------------------------


def batch_dedup(run: Run) -> Workload:
    from neural_locality_sensitive_hashing_spark.operators.dedup import minhash_dedup_clusters

    cfg = _cfg()
    cdir = inputs.corpus(run.cache, run.size(BATCH_DOCS), run.seed, run.size(WARM_DOCS))
    pages_path = os.path.join(cdir, "pages.parquet")
    truth = pq.read_table(os.path.join(cdir, "truth_groups.parquet"))
    n = truth.num_rows
    ref = np.load(os.path.join(cdir, "ref_pairs.npy"))
    ref_lab = checks.components(n, ref)

    def op_on(path):
        def op(spark):
            t0 = time.time()
            pdf = minhash_dedup_clusters(spark.read.parquet(path), cfg).toPandas()
            wall = time.time() - t0
            spark.catalog.clearCache()
            return wall, pdf
        return op

    # the cluster count every run must give: the components of the
    # reference pairs, fixed before the first run
    ref_count = len(np.unique(ref_lab))

    def check(out):
        _, pdf = out
        ids = pdf["doc_id"].to_numpy()
        labels = pdf["cluster_id"].to_numpy().copy()
        if run.inject == "split_exact_group":
            kinds = np.array(truth.column("kind").to_pylist(), dtype=object)
            victim = truth.column("doc_id").to_numpy()[kinds == "exact"][0]
            labels[ids == victim] = -1
        lab = _canonical_by_doc(ids, labels, n)
        w.recalls.append(checks.pair_recall(lab, ref))
        errs = checks.planted_groups_whole(lab, truth, ref_lab) + checks.recall_at_least(w.recalls[-1])
        n_clusters = len(np.unique(labels))
        if n_clusters != ref_count:
            errs.append(f"cluster count {n_clusters} != reference {ref_count}")
        return errs

    def traced_op(spark, tr):
        t0 = time.time()
        pdf = _batch_traced(spark, tr, pages_path, cfg, run)
        return time.time() - t0, pdf

    def layers(tr, log, out):
        for layer in ("signatures", "candidates", "verify", "cc"):
            spans = tr.named(layer)
            tot = run.layer_totals(layer, log.tasks_where(_in_groups(spans)))
            run.per_layer[f"{layer}.s"] = sum(tr.self_time(s) for s in spans)
            if layer in ("signatures", "candidates"):
                run.skew(layer, tot)
        run.per_layer["cc.jobs"] = sum(map(_in_groups(tr.named("cc")), log.jobs.values()))

    w = Workload(
        warm=op_on(os.path.join(cdir, "warm.parquet")),
        op=op_on(pages_path),
        check=check,
        walls=lambda out: [out[0]],
        docs=lambda out: n,
        traced_op=traced_op,
        layers=layers,
    )
    return w


def _batch_traced(spark, tr: Tracer, pages_path: str, cfg, run: Run):
    """minhash_dedup_clusters' public calls, each materialised in its span."""
    from pyspark.sql import functions as F

    from neural_locality_sensitive_hashing_spark.operators.candidates import (
        bucket_stats,
        candidate_pairs,
    )
    from neural_locality_sensitive_hashing_spark.operators.connected_components import (
        clusters_with_singletons,
        connected_components,
    )
    from neural_locality_sensitive_hashing_spark.operators.dedup import (
        banded_signatures_fused,
        explode_fused_bands,
    )
    from neural_locality_sensitive_hashing_spark.operators.verify import (
        jaccard_verify,
        jaccard_verify_bcast,
    )

    pages = spark.read.parquet(pages_path)
    with tr.span("signatures"):
        sigs = banded_signatures_fused(pages, cfg).persist()
        n_docs = sigs.count()
    with tr.span("candidates"):
        bands = explode_fused_bands(sigs)
        cands = candidate_pairs(bands, cfg).persist()
        n_cands = cands.count()
        with tr.span("bucket_stats"):
            max_bucket = bucket_stats(bands).agg(F.max("max_bucket")).first()[0]
    with tr.span("verify"):
        # the gate minhash_dup_pairs applies (DedupConfig's doc-count bounds)
        sets = sigs.select("doc_id", "sh")
        lo, hi = cfg.verify_broadcast_min_docs, cfg.verify_broadcast_max_docs
        fn = jaccard_verify_bcast if hi and lo < n_docs <= hi else jaccard_verify
        dups = fn(cands, sets, cfg).persist()
        n_dups = dups.count()
        run.verify_path([dups._jdf.queryExecution().executedPlan().toString()])
    with tr.span("cc"):
        labels = connected_components(dups, cfg.max_cc_iterations)
        pdf = clusters_with_singletons(labels, pages).toPandas()
    spark.catalog.clearCache()
    run.per_layer.update({
        "signatures.rows": n_docs,
        "candidates.band_rows": n_docs * cfg.num_bands,
        "candidates.pairs": n_cands,
        "candidates.pairs_per_doc": n_cands / n_docs,
        "candidates.max_bucket": max_bucket,
        "verify.pairs_in": n_cands,
        "verify.pairs_out": n_dups,
        "verify.accept_ratio": n_dups / n_cands if n_cands else 0.0,
        "cc.edges": n_dups,
        "cc.clusters": pdf["cluster_id"].nunique(),
    })
    return pdf


# --------------------------------------------------------------------------
# crawl_job
# --------------------------------------------------------------------------

_BASE_ID = re.compile(r"/p/(\d+)")


def _crawl_fresh(spark, arch_dir: str, ckpt: str, cfg, span):
    """WARC -> recrawl tier -> checkpointed DedupPipeline, as
    tools/run_dedup_job.py --from-warc --recrawl-dedup --checkpoint-dir
    composes it: doc_id is the content-derived crawl_id, the narrow page
    projection is cached."""
    from neural_locality_sensitive_hashing_spark.operators.recrawl import latest_crawl_per_url
    from neural_locality_sensitive_hashing_spark.plans.pipeline import DedupPipeline
    from neural_locality_sensitive_hashing_spark.sources.warc import warc_pages

    with span("warc.parse"):
        pages = (
            warc_pages(spark, arch_dir)
            .withColumnRenamed("crawl_id", "doc_id")
            .select("doc_id", "url", "warc_ts", "text")
            .persist()
        )
        n_records = pages.count()
    with span("recrawl") as rspan:
        latest = latest_crawl_per_url(pages).select("doc_id", "text")
        if rspan is not None:  # traced: the tier gets its own barrier
            latest = latest.persist()
            latest.count()
    with span("pipeline") as pspan:
        pipe = DedupPipeline(spark, cfg, _fresh(ckpt), input_token=f"{arch_dir}@{n_records}")
        clusters, report = pipe.run(latest)
        fresh = clusters.toPandas()
    return pages, latest, pipe, clusters, report, fresh, n_records, pspan


def _crawl_op(spark, arch_dir: str, work: str, cfg, tr=None) -> dict:
    """The fresh job, the WET sink of its survivors, then
    drop_from("clusters") and a resume. With a tracer, each call runs in
    its span."""
    from pyspark.sql import functions as F

    from neural_locality_sensitive_hashing_spark.sources.warc import write_wet

    span = tr.span if tr is not None else (lambda name: contextlib.nullcontext())
    ckpt = os.path.join(work, "ckpt")
    wet_dir = _fresh(os.path.join(work, "wet"))
    t0 = time.time()
    pages, latest, pipe, clusters, report, fresh, n_records, pspan = _crawl_fresh(
        spark, arch_dir, ckpt, cfg, span
    )
    ckpt_bytes, ckpt_files = _dir_size(ckpt)
    with span("warc.sink"):
        survivors = clusters.where(F.col("doc_id") == F.col("cluster_id")).select("doc_id")
        manifest = write_wet(
            pages.join(survivors, "doc_id").select("url", "warc_ts", "text"), wet_dir
        ).collect()
    keep_rows = pipe.catalog.read_snapshot("keep_list").count()
    pipe.drop_from("clusters")
    t1 = time.time()
    with span("resume"):
        resumed = pipe.run(latest)[0].toPandas()
    resume_s = time.time() - t1
    wall = time.time() - t0
    urls = pages.select("doc_id", "url").toPandas()  # for the checks, outside the wall
    max_bucket = 0.0
    if tr is not None:
        # per-band bucket_stats the pipeline logs to its _metrics table
        max_bucket = pipe.catalog.metrics().where(
            F.col("metric").endswith("_max_bucket")
        ).agg(F.max("value")).first()[0]
    spark.catalog.clearCache()
    return {
        "wall": wall, "records": n_records, "fresh": fresh, "resumed": resumed, "urls": urls,
        "keep_rows": keep_rows, "wet_dir": wet_dir, "resume_s": resume_s,
        "report": report, "pipeline_span": pspan,
        "sink_records": sum(m.records for m in manifest),
        "ckpt_bytes": ckpt_bytes, "ckpt_files": ckpt_files, "max_bucket": max_bucket,
    }


def crawl_job(run: Run) -> Workload:
    cfg = _cfg()
    cdir = inputs.corpus(run.cache, run.size(CRAWL_DOCS), run.seed, run.size(WARM_DOCS))
    wdir = inputs.crawl(run.cache, cdir, run.seed)
    arch = os.path.join(wdir, "archives")
    n = pq.read_metadata(os.path.join(cdir, "pages.parquet")).num_rows
    ref = np.load(os.path.join(cdir, "ref_pairs.npy"))
    work = os.path.join(run.scratch, "crawl")
    # the cluster count batch_dedup must give on the un-augmented corpus:
    # the components of its reference pairs
    ref_count = len(np.unique(checks.components(n, ref)))

    def warm(spark):
        # the fresh job on one archive; the sink and resume reuse its code
        _crawl_fresh(spark, os.path.join(wdir, "warm"), os.path.join(work, "warm-ckpt"), cfg,
                     lambda name: contextlib.nullcontext())
        spark.catalog.clearCache()

    def check(out):
        fresh = out["fresh"].sort_values("doc_id", ignore_index=True)
        resumed = out["resumed"].sort_values("doc_id", ignore_index=True)
        errs = []
        n_clusters = fresh["cluster_id"].nunique()
        if n_clusters != ref_count:
            errs.append(f"crawl_job clusters {n_clusters} != reference clusters {ref_count}")
        if not fresh.equals(resumed):
            errs.append("resumed clusters differ from the fresh run's")
        if run.inject == "wet_count":
            parts = sorted(f for f in os.listdir(out["wet_dir"]) if f.startswith("part-"))
            os.unlink(os.path.join(out["wet_dir"], parts[0]))
        n_wet = inputs.count_wet_records(out["wet_dir"])
        if n_wet != out["keep_rows"]:
            errs.append(f"WET records {n_wet} != keep-list rows {out['keep_rows']}")
        # crawl_id -> base doc id, from the URL path every recrawl variant keeps
        urls = out["urls"]
        base_of = dict(zip(urls["doc_id"], (int(_BASE_ID.search(u).group(1)) for u in urls["url"])))
        base = np.array([base_of[d] for d in fresh["doc_id"]])
        lab = _canonical_by_doc(base, fresh["cluster_id"].to_numpy(), n)
        w.recalls.append(checks.pair_recall(lab, ref))
        return errs + checks.recall_at_least(w.recalls[-1])

    def traced_op(spark, tr):
        out = _crawl_op(spark, arch, work, cfg, tr)
        _crawl_report(run, tr, out, cfg)
        return out

    w = Workload(
        warm=warm,
        op=lambda spark: _crawl_op(spark, arch, work, cfg),
        check=check,
        walls=lambda out: [out["wall"]],
        docs=lambda out: out["records"],
        traced_op=traced_op,
        layers=lambda tr, log, out: _crawl_events(run, tr, log),
    )
    return w


_STAGE_LAYER = {"signatures": "signatures", "cand_pairs": "candidates", "dup_pairs": "verify", "clusters": "cc"}


def _crawl_report(run: Run, tr: Tracer, out: dict, cfg) -> None:
    """Layer figures from the returned PipelineReport; its stages become
    child spans of the pipeline span, laid end to end."""
    rep = {s.stage: s for s in out["report"].stages}
    pspan = out["pipeline_span"]
    t = pspan["start"]
    for s in out["report"].stages:
        tr.add(f"pipeline.{s.stage}", t, t + s.wall_sec, pspan, rows=s.rows, cached=s.cached)
        t += s.wall_sec
        run.per_layer[f"pipeline.{s.stage}_s"] = s.wall_sec
    run.per_layer["pipeline.metrics_s"] = pspan["end"] - t
    n_docs = rep["signatures"].rows
    n_cands = rep["cand_pairs"].rows
    n_dups = rep["dup_pairs"].rows
    run.per_layer.update({
        "pipeline.resume_s": out["resume_s"],
        "checkpoint.bytes_written": out["ckpt_bytes"],
        "checkpoint.files": out["ckpt_files"],
        "warc.records": out["records"],
        "warc.sink_records": out["sink_records"],
        "recrawl.rows_out": n_docs,
        "signatures.s": rep["signatures"].wall_sec,
        "signatures.rows": n_docs,
        "candidates.s": rep["cand_pairs"].wall_sec,
        "candidates.band_rows": n_docs * cfg.num_bands,
        "candidates.pairs": n_cands,
        "candidates.pairs_per_doc": n_cands / n_docs,
        "candidates.max_bucket": out["max_bucket"],
        "verify.s": rep["dup_pairs"].wall_sec,
        "verify.pairs_in": n_cands,
        "verify.pairs_out": n_dups,
        "verify.accept_ratio": n_dups / n_cands if n_cands else 0.0,
        "cc.s": rep["clusters"].wall_sec,
        "cc.edges": n_dups,
        "cc.clusters": out["fresh"]["cluster_id"].nunique(),
    })


def _crawl_events(run: Run, tr: Tracer, log) -> None:
    """Event-log totals per span. Jobs inside the pipeline span go to the
    pipeline stage whose reconstructed span covers their submit time."""
    parse, sink, recrawl = tr.named("warc.parse"), tr.named("warc.sink"), tr.named("recrawl")
    run.layer_totals("warc", log.tasks_where(_in_groups(parse + sink)))
    run.per_layer["warc.parse_s"] = sum(tr.self_time(s) for s in parse)
    run.per_layer["warc.sink_s"] = sum(tr.self_time(s) for s in sink)
    run.per_layer["warc.input_bytes"] = sum(t.input_bytes for t in log.tasks_where(_in_groups(parse)))
    run.per_layer["recrawl.s"] = sum(tr.self_time(s) for s in recrawl)
    run.layer_totals("recrawl", log.tasks_where(_in_groups(recrawl)))
    in_pipeline = _in_groups(tr.named("pipeline"))
    run.layer_totals("pipeline", log.tasks_where(in_pipeline))
    for stage, layer in _STAGE_LAYER.items():
        sp = tr.named(f"pipeline.{stage}")[0]
        lo, hi = sp["start"] * 1000, sp["end"] * 1000

        def inside(job, lo=lo, hi=hi):
            return in_pipeline(job) and lo <= job.submit_ms < hi

        tot = run.layer_totals(layer, log.tasks_where(inside))
        if layer in ("signatures", "candidates"):
            run.skew(layer, tot)
        if layer == "cc":
            run.per_layer["cc.jobs"] = sum(map(inside, log.jobs.values()))
        if layer == "verify":
            run.verify_path([
                ex.plan for ex in log.executions.values()
                if _plan_write_path(ex.plan).endswith("/dup_pairs/data") and lo <= ex.start_ms < hi
            ])


# --------------------------------------------------------------------------
# incremental_stream
# --------------------------------------------------------------------------


def _stream_pass(spark, batch_paths: list[str], state: str, cfg, tr=None):
    """Every micro-batch through IncrementalDeduper.process_batch against
    a fresh state dir; returns (per-batch walls, stored pairs)."""
    from neural_locality_sensitive_hashing_spark.streaming.incremental import IncrementalDeduper

    dedup = IncrementalDeduper(spark, cfg, _fresh(state))
    walls = []
    for k, path in enumerate(batch_paths):
        t0 = time.time()
        if tr is None:
            dedup.process_batch(spark.read.parquet(path), k)
        else:
            with tr.span("stream.batch", batch=k):
                dedup.process_batch(spark.read.parquet(path), k)
        walls.append(time.time() - t0)
    pairs = dedup.dup_pairs().select("a", "b").toPandas().to_numpy()
    return walls, pairs


def incremental_stream(run: Run) -> Workload:
    cfg = _cfg()
    cdir = inputs.corpus(run.cache, run.size(STREAM_DOCS), run.seed, run.size(WARM_DOCS), STREAM_BATCHES)
    batches = [os.path.join(cdir, f"batch-{k}.parquet") for k in range(STREAM_BATCHES)]
    texts = pq.read_table(os.path.join(cdir, "pages.parquet"), columns=["text"]).column("text").to_pylist()
    n = len(texts)
    ref = np.load(os.path.join(cdir, "ref_pairs.npy"))
    state = os.path.join(run.scratch, "state")
    ref_lab = checks.components(n, ref)

    def warm(spark):
        # the warm-up slice as two micro-batches into a scratch state dir,
        # so the store probes of later batches run warm too
        _stream_pass(spark, [os.path.join(cdir, f"warm-{k}.parquet") for k in range(2)],
                     os.path.join(run.scratch, "warm-state"), cfg)

    def check(out):
        _, pairs = out
        if run.inject == "drop_pair":
            # drop the only stored pair of a two-doc cluster
            comp = checks.components(n, pairs)
            sizes = np.bincount(comp, minlength=n)
            lone = np.flatnonzero(sizes[comp[pairs[:, 0]]] == 2)[0]
            pairs = np.delete(pairs, lone, axis=0)
        lab = checks.components(n, pairs)
        w.recalls.append(checks.pair_recall(lab, ref))
        return (
            checks.reverify_sample(pairs, texts)
            + checks.same_partition(lab, ref_lab, "stored-pair clusters vs reference")
            + checks.recall_at_least(w.recalls[-1])
        )

    def traced_op(spark, tr):
        out = _stream_pass(spark, batches, state, cfg, tr)
        store_bytes, store_files = _dir_size(state)
        run.per_layer.update({
            "stream.first_batch_s": out[0][0],
            "stream.last_batch_s": out[0][-1],
            "stream.store_bytes": store_bytes,
            "stream.store_files": store_files,
            "stream.pairs": len(out[1]),
            "signatures.rows": n,
            "candidates.band_rows": n * cfg.num_bands,
        })
        return out

    w = Workload(
        warm=warm,
        op=lambda spark: _stream_pass(spark, batches, state, cfg),
        check=check,
        walls=lambda out: out[0],
        docs=lambda out: n,
        traced_op=traced_op,
        layers=lambda tr, log, out: _stream_events(run, tr, log, n),
    )
    return w


def _stream_layer(plan: str) -> str:
    """Which layer a micro-batch's SQL execution serves, from its plan:
    the pair-store append runs the verify, the band/signature appends are
    store writes, the id-prefix probe materialises the candidates (the
    grouped self-join), and the bucket-prefix probe the signatures."""
    path = _plan_write_path(plan)
    if path:
        return "verify" if path.rstrip("/").endswith("dup_pairs") else "stream"
    return "candidates" if "collect_list" in plan else "signatures"


# the verify's scan of a micro-batch's persisted candidate pairs
_CANDS_SCAN = re.compile(r"InMemoryTableScan \[a#\d+L?, b#\d+L?\]")


def _stream_events(run: Run, tr: Tracer, log, n_docs: int) -> None:
    spans = tr.named("stream.batch")
    run.layer_totals("stream", log.tasks_where(_in_groups(spans)))
    for end, span in (("first", spans[0]), ("last", spans[-1])):
        run.per_layer[f"stream.{end}_batch_input_bytes"] = sum(
            t.input_bytes for t in log.tasks_where(_in_groups([span]))
        )
    in_batches = _in_groups(spans)
    batch_execs = {j.execution for j in log.jobs.values() if in_batches(j)}
    layer_of = {e: _stream_layer(log.executions[e].plan) for e in batch_execs if e in log.executions}
    for layer in ("signatures", "candidates", "verify"):
        eids = {e for e, lay in layer_of.items() if lay == layer}
        tot = run.layer_totals(layer, log.tasks_where(lambda j, eids=eids: j.execution in eids))
        run.per_layer[f"{layer}.s"] = sum(
            (log.executions[e].end_ms - log.executions[e].start_ms) / 1000.0 for e in eids
        )
        if layer in ("signatures", "candidates"):
            run.skew(layer, tot)
        if layer == "verify":
            n_cands = sum(log.rows_out(log.executions[e], _CANDS_SCAN.match) for e in eids)
            n_dups = tot["output_records"]
            run.per_layer.update({
                "candidates.pairs": n_cands,
                "candidates.pairs_per_doc": n_cands / n_docs,
                "verify.pairs_in": n_cands,
                "verify.pairs_out": n_dups,
                "verify.accept_ratio": n_dups / n_cands if n_cands else 0.0,
            })
            run.verify_path([log.executions[e].plan for e in eids])


WORKLOADS = {
    "batch_dedup": batch_dedup,
    "crawl_job": crawl_job,
    "incremental_stream": incremental_stream,
}
