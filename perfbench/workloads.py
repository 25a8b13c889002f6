"""The two workloads. Each returns a ``Run``: end-to-end metrics, per-layer
metrics of traced runs, operation counts and host metadata. The caller
shuts the session down.

A run is a closed loop: one client, one operation in flight. Set-up
(session start, input generation, load) runs ``SETUPS`` times. The first
also launches the JVM; ``setup_s`` is the median of the restarts.
"""

from __future__ import annotations

import os
import statistics
import time
from collections import Counter
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import functions as F

from rkmh_spark.functions.shingles import sketch_texts_batch
from rkmh_spark.operators.components import connected_components
from rkmh_spark.operators.dedup import dedup_pages
from rkmh_spark.operators.lsh import band_buckets, bucket_census, candidate_pairs
from rkmh_spark.operators.signatures import compute_signatures
from rkmh_spark.operators.verify import verify_pairs
from rkmh_spark.session import get_spark
from rkmh_spark.sources.pages import pages_schema
from rkmh_spark.streaming.stream_classify import (
    compact_assignments,
    process_incremental_batch,
)

from perfbench import checks, headline, host, inputs
from perfbench.inputs import CONFIG
from perfbench.trace import COUNTERS, Tracer

SETUPS = 4
WARMUP_PASSES = 4
MIN_PASSES = 3
TRACED_PASSES = 2
DEDUP_LAYERS = (
    "signatures", "lsh.bands", "lsh.candidates", "verify", "components",
    "assignments",
)

LAYER_COUNTERS = ("stages", "run_s", "shuffle_write_bytes", "spill_bytes",
                  "task_skew")

median = statistics.median


@dataclass
class Run:
    e2e: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    meta: dict = field(default_factory=dict)
    spans: list = field(default_factory=list)
    groups: dict = field(default_factory=dict)  # job group -> stage metrics

    def check(self, name: str, ok: bool) -> None:
        self.attempted += 1
        self.failed += 0 if ok else 1
        self.meta.setdefault("checks", {})[name] = bool(ok)

    def layer(self, name: str, stage: dict, **extra) -> None:
        """Record ``<name>.<counter>`` for the printed stage counters and
        the extras; the rest stay in the trace file."""
        for c in LAYER_COUNTERS:
            self.layers[f"{name}.{c}"] = stage[c]
        for k, v in extra.items():
            self.layers[f"{name}.{k}"] = v


def _session(tmp: str):
    spark = get_spark(
        app_name="perfbench", cores=host.cores(), extra_conf=host.spark_conf(tmp)
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _setup(run: Run, tmp: str, load, setups: int):
    """Session start + ``load(spark)``, ``setups`` times; keeps the last.
    ``setup_s`` is the median of the restarts."""
    times = []
    for i in range(setups):
        t0 = time.perf_counter()
        spark = _session(tmp)
        loaded = load(spark)
        times.append(time.perf_counter() - t0)
        if i < setups - 1:
            spark.catalog.clearCache()
            spark.stop()
    if setups > 1:
        run.e2e["setup_s"] = median(times[1:])
    run.layers["setup.first_s"] = times[0]
    run.meta["setup_times_s"] = times
    return spark, loaded


def _dataframe(spark, pdf):
    return spark.createDataFrame(
        pdf.drop(columns="true_cluster_id"), schema=pages_schema()
    )


def _finish(run: Run, ops: list[float], cold_s: float) -> None:
    run.meta["steal_s_end"] = host.steal_s()
    run.layers["pipeline.cold_wall_s"] = cold_s
    run.layers["host.peak_rss_mb"] = host.peak_rss_mb(
        host.process_tree(host.jvm_pid())
    )
    run.meta["op_times_s"] = ops


def _median_stage(stage: dict, groups: list[str]) -> dict:
    return {c: median(stage[g][c] for g in groups) for c in COUNTERS}


# ---------------------------------------------------------------------------
# longdoc_crawl


def _dedup_pass(pages):
    res = dedup_pages(pages, CONFIG)
    res.assignments.write.format("noop").mode("overwrite").save()
    return res


def _release(res) -> None:
    res.pairs.unpersist()
    res.signatures.unpersist()


def _staged_pass(pages, tracer: Tracer, pass_id: int) -> dict:
    """dedup_pages split at its layer calls, each materialized in a span.
    Calls and persists are those of dedup_pages, plus a persist of the
    candidates so verify starts from them. The buckets stay unpersisted,
    as in dedup_pages, so candidates recompute them."""
    rows, keep, cleanup = {}, [], []

    def held(df):
        keep.append(df.persist())
        return keep[-1]

    with tracer.span("signatures", pass_id):
        sigs = held(compute_signatures(pages, CONFIG))
        rows["signatures"] = sigs.count()
    with tracer.span("lsh.bands", pass_id):
        buckets = band_buckets(sigs, CONFIG)
        rows["lsh.bands"] = buckets.count()
    with tracer.span("lsh.candidates", pass_id):
        cands = held(candidate_pairs(buckets, CONFIG, materialize=False,
                                     cleanup=cleanup))
        rows["lsh.candidates"] = cands.count()
    with tracer.span("verify", pass_id):
        pairs = held(verify_pairs(cands, sigs, CONFIG))
        rows["verify"] = pairs.count()
        for df in cleanup:
            df.unpersist()
    with tracer.span("components", pass_id):
        labels = held(connected_components(
            pairs.select("url_a", "url_b"), CONFIG.max_cc_iterations,
            n_edges=rows["verify"], driver_threshold=CONFIG.cc_driver_threshold,
        ))
        rows["components"] = labels.count()
    with tracer.span("assignments", pass_id):
        # the final join of dedup_pages
        assignments = held(
            pages.select("url")
            .join(labels.withColumnRenamed("node", "url"), "url", "left")
            .select("url", F.coalesce("label", "url").alias("cluster_id"))
        )
        rows["assignments"] = assignments.count()
    return {"rows": rows, "keep": keep, "buckets": buckets,
            "pairs": pairs, "assignments": assignments}


def _unpersist(staged: dict) -> None:
    for df in staged["keep"]:
        df.unpersist()


def _check_dedup(run: Run, tag: str, pdf, assignments, pairs, truth, in_sample):
    """Coverage, recall and no false pairs on the oracle sample; returns
    recall and the cluster sizes."""
    got = assignments.select("url", "cluster_id").collect()
    run.check(f"{tag}.coverage", checks.coverage_ok([r.url for r in got], pdf.url))
    found = {
        (r.url_a, r.url_b) for r in pairs.select("url_a", "url_b").collect()
        if r.url_a in in_sample and r.url_b in in_sample
    }
    recall = checks.pair_recall(truth, found)
    run.check(f"{tag}.recall", recall >= checks.MIN_RECALL)
    run.check(f"{tag}.no_false_pairs", not (found - truth))
    return recall, Counter(r.cluster_id for r in got)


def longdoc_crawl(seed: int, seconds: float, trace: bool, tmp: str):
    """Cold pass and ``WARMUP_PASSES`` untimed passes, then dedup_pages
    passes for ``seconds`` (at least ``MIN_PASSES``); wall_s is their
    median. A traced run sets up once, makes its cold pass staged, and
    after the warm-up alternates untraced and staged passes."""
    run = Run()

    def load(spark):
        pdf = inputs.longdoc_pages(seed)
        pages = _dataframe(spark, pdf).select("url", "text").persist()
        pages.count()
        return pdf, pages

    spark, (pdf, pages) = _setup(run, tmp, load, 1 if trace else SETUPS)
    tracer = Tracer(spark) if trace else None

    t0 = time.perf_counter()
    if trace:
        _unpersist(_staged_pass(pages, tracer, 0))
    else:
        _release(_dedup_pass(pages))
    cold_s = time.perf_counter() - t0
    run.attempted += 1

    warmup = []
    for _ in range(WARMUP_PASSES):
        t0 = time.perf_counter()
        _release(_dedup_pass(pages))
        warmup.append(time.perf_counter() - t0)
        run.attempted += 1
    run.meta["warmup_times_s"] = warmup

    smp = checks.sample(pdf, seed)
    truth, in_sample = checks.oracle_url_pairs(smp), set(smp.url)
    if trace:
        ops = _trace_longdoc(run, pages, pdf, tracer, truth, in_sample,
                             seed, tmp)
    else:
        ops, res = [], None
        run.meta["steal_s_start"] = host.steal_s()
        start = time.perf_counter()
        while len(ops) < MIN_PASSES or time.perf_counter() - start < seconds:
            if res is not None:
                _release(res)
            t0 = time.perf_counter()
            res = _dedup_pass(pages)
            ops.append(time.perf_counter() - t0)
            run.attempted += 1
        wall = median(ops)
        run.e2e["wall_s"] = wall
        run.e2e["pages_per_s"] = len(pdf) / wall
        run.e2e["dup_pair_recall"], _ = _check_dedup(
            run, "untraced", pdf, res.assignments, res.pairs, truth, in_sample
        )
        _release(res)
    _finish(run, ops, cold_s)
    return run


def _trace_longdoc(run, pages, pdf, tracer, truth, in_sample, seed, tmp):
    """``TRACED_PASSES`` rounds of one untraced and one staged pass; the
    layer metrics are the staged passes' medians, and returns the
    untraced pass times."""
    ops, passes = [], list(range(1, TRACED_PASSES + 1))
    for p in passes:
        t0 = time.perf_counter()
        res = _dedup_pass(pages)
        ops.append(time.perf_counter() - t0)
        run.attempted += 1
        if p == passes[-1]:
            _check_dedup(run, "untraced", pdf, res.assignments, res.pairs,
                         truth, in_sample)
        _release(res)
        staged = _staged_pass(pages, tracer, p)
        run.attempted += 1
        if p != passes[-1]:
            _unpersist(staged)

    walls = {(s["name"], s["pass"]): s["wall_s"] for s in tracer.spans}
    stage = tracer.stage_metrics(
        [f"{l}@{p}" for l in DEDUP_LAYERS for p in [0] + passes]
    )
    rows = staged["rows"]
    for l in DEDUP_LAYERS:
        run.layer(l, _median_stage(stage, [f"{l}@{p}" for p in passes]),
                  wall_s=median(walls[l, p] for p in passes),
                  cold_s=walls[l, 0], rows_out=rows[l])

    run.layers["lsh.candidates.hot_buckets"] = (
        bucket_census(staged["buckets"], ["band_id", "band_hash"])
        .where(F.col("sz") > CONFIG.bucket_cap)
        .select("band_id", "band_hash").distinct().count()
    )
    run.layers["verify.precision"] = rows["verify"] / max(rows["lsh.candidates"], 1)
    _, sizes = _check_dedup(run, "traced", pdf, staged["assignments"],
                            staged["pairs"], truth, in_sample)
    run.layers["components.edges"] = rows["verify"]
    run.layers["components.largest"] = max(sizes.values())
    run.meta["components_distributed"] = rows["verify"] > CONFIG.cc_driver_threshold
    _unpersist(staged)

    # the signature kernel alone, Spark-free, on the same texts
    texts = pdf.text.tolist()
    t0 = time.perf_counter()
    sketch_texts_batch(texts, CONFIG.k, CONFIG.sketch_size, CONFIG.hash_seed,
                       num_bins=CONFIG.num_perms)
    kernel = time.perf_counter() - t0
    run.layers["shingles.kernel_s"] = kernel
    run.layers["shingles.per_s"] = len(texts) / kernel

    traced = median(sum(walls[l, p] for l in DEDUP_LAYERS) for p in passes)
    run.layers["trace.overhead"] = traced / median(ops)
    _trace_headline(run, pages.sparkSession, tracer, seed, tmp,
                    headline.BY_WORKLOAD["longdoc_crawl"])
    run.spans, run.groups = tracer.spans, tracer.groups
    return ops


# ---------------------------------------------------------------------------
# incremental_crawl


def incremental_crawl(seed: int, seconds: float, trace: bool, tmp: str):
    """A fixed plan of micro-batches, each fed to process_incremental_batch
    after the previous one returns, then one compact_assignments. Batch 0
    is the cold batch; wall_s is the median of the others. ``seconds``
    does not bound the plan: stored state, and so the work of each batch,
    must not depend on host speed."""
    run = Run()
    batches: list[pd.DataFrame] = []
    state = os.path.join(tmp, "incremental")
    dirs = [os.path.join(state, d) for d in ("signatures", "bands", "assignments")]

    def load(spark):
        batches[:] = inputs.incremental_batches(seed)
        dfs = [_dataframe(spark, b).persist() for b in batches]
        for df in dfs:
            df.count()
        return dfs

    spark, dfs = _setup(run, tmp, load, 1 if trace else SETUPS)
    tracer = Tracer(spark) if trace else None

    def op(name: str, pass_id: int, fn):
        t0 = time.perf_counter()
        if tracer is None:
            out = fn()
        else:
            with tracer.span(name, pass_id):
                out = fn()
        run.attempted += 1
        return out, time.perf_counter() - t0

    ops = []
    run.meta["steal_s_start"] = host.steal_s()
    for b, df in enumerate(dfs):
        ops.append(op("incremental.batch", b, lambda: process_incremental_batch(
            spark, df, b, CONFIG, *dirs))[1])
    assignments, compact_s = op("incremental.compact", 0,
                                lambda: compact_assignments(spark, CONFIG, *dirs))

    warm = ops[1:]
    run.e2e["wall_s"] = median(warm)
    run.e2e["pages_per_s"] = sum(len(b) for b in batches[1:]) / sum(warm)
    run.meta["compact_s"] = compact_s

    pdf = pd.concat(batches, ignore_index=True)
    got = assignments.select("url", "cluster_id").collect()
    run.check("coverage", checks.coverage_ok([r.url for r in got], pdf.url))
    truth = checks.oracle_url_pairs(checks.sample(pdf, seed))
    cluster_of = {r.url: r.cluster_id for r in got}
    recall = checks.pair_recall(truth, checks.coclustered(truth, cluster_of))
    run.check("recall", recall >= checks.MIN_RECALL)
    run.e2e["dup_pair_recall"] = recall

    if trace:
        warm_ids = range(1, len(ops))
        stage = tracer.stage_metrics(
            [f"incremental.batch@{b}" for b in range(len(ops))]
            + ["incremental.compact@0"]
        )
        batch = _median_stage(stage, [f"incremental.batch@{b}" for b in warm_ids])
        run.layer("incremental.batch", batch,
                  wall_s=median(warm), cold_s=ops[0],
                  rows_out=median(len(batches[b]) for b in warm_ids),
                  input_bytes=batch["input_bytes"])
        run.layer("incremental.compact", stage["incremental.compact@0"],
                  wall_s=compact_s, cold_s=compact_s, rows_out=len(got))
        timed = sum(ops) + compact_s
        run.layers["trace.overhead"] = (timed + tracer.bookkeeping_s) / timed
        _trace_headline(run, spark, tracer, seed, tmp,
                        headline.BY_WORKLOAD["incremental_crawl"])
        run.spans, run.groups = tracer.spans, tracer.groups
    _finish(run, ops, ops[0])
    return run


# ---------------------------------------------------------------------------
# headline queries (traced runs only)


def _trace_headline(run: Run, spark, tracer: Tracer, seed: int, tmp: str,
                    names: tuple[str, ...]):
    """A cold pass of the headline queries ``names`` over seeded tables,
    whose rows are checked, then a warm pass; ``q.<query>.wall_s`` and
    ``.stages`` are the warm pass's."""
    sf_dir = os.path.join(tmp, "headline")
    headline.write_tables(seed, sf_dir)
    outputs = headline.run_pass(spark, tracer, sf_dir, names, 0, collect=True)
    headline.run_pass(spark, tracer, sf_dir, names, 1, collect=False)
    run.attempted += 2 * len(names)
    walls = {s["name"]: s["wall_s"] for s in tracer.spans
             if s["name"].startswith("q.") and s["pass"] == 1}
    stage = tracer.stage_metrics([f"q.{q}@1" for q in names])
    for q in names:
        run.layers[f"q.{q}.wall_s"] = walls[f"q.{q}"]
        run.layers[f"q.{q}.stages"] = stage[f"q.{q}@1"]["stages"]
    for q, ok in headline.check(spark, sf_dir, outputs).items():
        run.check(f"q.{q}.oracle", ok)


WORKLOADS = {
    "longdoc_crawl": longdoc_crawl,
    "incremental_crawl": incremental_crawl,
}
