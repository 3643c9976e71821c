"""`pipeline_ingest`: the operator library in batch and incremental use.

One caller runs passes. A pass is four composed pipelines through
the program's QUERIES registry, then one ingest commit (`admit_batch`
of a seeded micro-batch into a corpus seeded by `init_ingest` with the
minhash fingerprint sidecar and cluster labels). The order is fixed:
at this run length a run makes one pass, and a seeded order would add
the extra cost of whichever step runs first on a cold JVM to the
run-to-run spread.
The pipelines read the fixed tables in data/; every output is compared
with its pin in pins.json.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field
from statistics import median

import pyarrow.parquet as pq

import check
import gen
from harness import CORES, dir_bytes, spark_totals

# construct-heavy iterative CC solves (pretrain: connected_components
# over ngram-Jaccard pairs; star: the small-star solver) beside
# exec-heavy final actions (ccnet, the SRP-blocked knn self-join)
PIPELINES = [
    "pipeline_pretrain",
    "dedup_clusters_star",
    "pipeline_ccnet",
    "knn_graph",
]
ADMIT = "admit_batch"
FIRST_BATCH_ID = 1_000_000  # micro-batch doc ids start here, above the corpus
MIN_PASSES = 1
# per-layer metrics this workload measures (run.py reports the other
# workload's as 0 here)
LAYER_METRICS = [
    f"workload.{m}.{q}"
    for m in ("construct_share", "exec_share", "construct_jobs", "exec_jobs")
    for q in PIPELINES
] + [
    "cluster.solve_share", "cluster.solve_jobs", "cluster.solve_calls",
    "cluster.update_share", "cluster.update_jobs",
    "dedup.pairs_share", "dedup.pairs_jobs",
    "similarity.topk_share", "similarity.topk_jobs",
    "ingest.admit_share", "ingest.admit_jobs", "ingest.admitted_ratio",
    "ingest.write_amplification", "ingest.space_amplification",
]
PINS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pins.json")

# traced operator groups: (layer, group) -> functions, wrapped under
# every name the program's modules bind them to
TRACED = {
    ("cluster", "solve"): (
        "chapterhousedb_spark.operators.cluster",
        ["connected_components", "connected_components_star", "dedup_survivors"],
    ),
    ("cluster", "update"): (
        "chapterhousedb_spark.operators.cluster", ["components_update"],
    ),
    ("dedup", "pairs"): (
        "chapterhousedb_spark.operators.dedup",
        ["minhash_near_dup_pairs", "ngram_jaccard_pairs", "two_stage_dedup",
         "contamination_pairs"],
    ),
    ("similarity", "topk"): (
        "chapterhousedb_spark.operators.similarity",
        ["knn_join", "knn_join_cross", "cosine_topk"],
    ),
    ("ingest", "admit"): ("chapterhousedb_spark.operators.ingest", ["admit_batch"]),
}


class Ingest:
    """A versioned corpus with its fingerprint sidecar and labels,
    seeded from a seed-drawn share of the documents; the rest are held
    out for the micro-batches (gen.corpus_split)."""

    def __init__(self, spark, root: str, docs_path: str, seed: int):
        from pyspark.sql import functions as F

        from chapterhousedb_spark.operators.ingest import fingerprint_kit, init_ingest

        self.spark = spark
        self.seed = seed
        self.corpus = os.path.join(root, "corpus")
        self.labels = os.path.join(root, "labels")
        self.fp = os.path.join(root, "fp")
        self.fp_fn, self.gate_fn = fingerprint_kit("minhash")
        docs = pq.read_table(docs_path, columns=["doc_id", "text"])
        text = dict(zip(docs.column("doc_id").to_pylist(),
                        docs.column("text").to_pylist()))
        corpus_ids, held_out = gen.corpus_split(seed, list(text))
        self.texts = [text[i] for i in corpus_ids]
        self.held_out = [text[i] for i in held_out]
        self.n_seed = len(corpus_ids)
        self.next_id = FIRST_BATCH_ID
        corpus = spark.read.parquet(docs_path).where(
            F.col("doc_id").isin(corpus_ids)
        ).select("doc_id", "text", F.lit(0).cast("int").alias("version"))
        init_ingest(
            corpus, self.corpus, labels_root=self.labels,
            fingerprint_root=self.fp, fingerprint_fn=self.fp_fn,
        )
        self.bytes_after_init = self.disk_bytes()

    def disk_bytes(self) -> int:
        return sum(dir_bytes(p) for p in (self.corpus, self.labels, self.fp))

    def batch(self, k: int):
        """(DataFrame, offered ids, planted ids) of micro-batch k."""
        rows, planted = gen.ingest_batch(
            self.seed, k, self.next_id, self.held_out, self.texts)
        self.next_id += len(rows)
        df = self.spark.createDataFrame(
            [(r["doc_id"], r["text"], k + 1) for r in rows],
            "doc_id long, text string, version int",
        )
        return df, [r["doc_id"] for r in rows], planted

    def admit(self, df) -> dict:
        from chapterhousedb_spark.operators.ingest import admit_batch

        return admit_batch(
            df, self.corpus, labels_root=self.labels,
            fingerprint_root=self.fp, fingerprint_fn=self.fp_fn,
            fp_gate_fn=self.gate_fn,
        )


@dataclass
class Commit:
    offered: list[int]
    planted: set[int]
    result: dict
    seconds: float
    jobs: int


@dataclass
class Step:
    name: str
    construct_s: float = 0.0
    exec_s: float = 0.0
    rows: int = 0
    digest: str = ""
    jobs: tuple[int, int, int] = (0, 0, 0)  # job ids at start, after construct, end


@dataclass
class Passes:
    steps: list[Step] = field(default_factory=list)
    commits: list[Commit] = field(default_factory=list)
    pass_bounds: list[tuple[int, int]] = field(default_factory=list)  # job ids
    failed: int = 0  # steps and commits that raised


def span_tag(span) -> str:
    return f"perfbench-span-{span.sid}"


def install_tracing(tracer) -> None:
    """Wrap the operator groups. Each span tags the Spark jobs its
    thread submits while it is open (job tags are thread-local and
    stack), so a span's job count is exact even when the program runs
    it on a writer thread beside other jobs."""
    import importlib

    from pyspark import SparkContext

    from spans import wrap_module_functions

    for (layer, group), (mod_name, names) in TRACED.items():
        def enter(span, group=group):
            span.note = group
            SparkContext._active_spark_context.addJobTag(span_tag(span))

        def leave(span, args, result):
            SparkContext._active_spark_context.removeJobTag(span_tag(span))

        wrap_module_functions(
            tracer, importlib.import_module(mod_name), layer, names,
            "chapterhousedb_spark", annotate=leave, enter=enter,
        )


def _run_pipeline(h, spark, data_dir, name, tracer) -> tuple[Step, object]:
    from chapterhousedb_spark.operators.dedup import release_self_join_caches
    from chapterhousedb_spark.workload import QUERIES

    st = Step(name)
    j0 = h.next_job_id()
    t0 = time.perf_counter()
    if tracer is not None:
        sp = tracer.begin(name, "workload", trace=name)
        sp.note = "construct"
    df = QUERIES[name](spark, data_dir)
    t1 = time.perf_counter()
    j1 = h.next_job_id()
    if tracer is not None:
        tracer.end(sp)
        sp = tracer.begin(name, "workload", trace=name)
        sp.note = "exec"
    table = df.toArrow()
    t2 = time.perf_counter()
    if tracer is not None:
        tracer.end(sp)
    st.construct_s, st.exec_s = t1 - t0, t2 - t1
    st.jobs = (j0, j1, h.next_job_id())
    release_self_join_caches(spark)
    return st, table


def run(h, args, setup, tracer=None) -> dict:
    spark, data_dir, ing = h.spark, setup.data_dir, setup.ingest
    with open(PINS) as fh:
        pins = json.load(fh)["pins"]
    failures: list[str] = []
    ps = Passes()
    start = time.perf_counter()
    k = 0
    # a pass is never cut: passes run until --seconds, at least MIN_PASSES
    while k < MIN_PASSES or time.perf_counter() - start < args.seconds:
        pj0 = h.next_job_id()
        for name in PIPELINES + [ADMIT]:
            # a failed step or commit is a failed operation: count it
            # and go on with the pass
            if name == ADMIT:
                df, offered, planted = ing.batch(k)
                j0 = h.next_job_id()
                t0 = time.perf_counter()
                try:
                    res = ing.admit(df)
                except Exception as exc:
                    failures.append(f"commit {k}: {type(exc).__name__}: {exc}")
                    ps.failed += 1
                    continue
                ps.commits.append(Commit(offered, planted, res,
                                         time.perf_counter() - t0,
                                         h.next_job_id() - j0))
                if res["n_admitted"] + res["n_rejected"] != len(offered):
                    failures.append(f"commit {k}: admitted + rejected != offered")
                continue
            try:
                st, table = _run_pipeline(h, spark, data_dir, name, tracer)
            except Exception as exc:
                failures.append(f"{name} pass {k}: {type(exc).__name__}: {exc}")
                ps.failed += 1
                continue
            st.rows, st.digest = table.num_rows, check.digest(table)
            pin = pins.get(name)
            if pin is None or (st.rows, st.digest) != (pin["rows"], pin["digest"]):
                failures.append(
                    f"{name} pass {k}: ({st.rows}, {st.digest}) != pin {pin}"
                )
            ps.steps.append(st)
        ps.pass_bounds.append((pj0, h.next_job_id()))
        k += 1
    window = time.perf_counter() - start
    try:
        failures += _check_ingest(spark, ing, ps.commits)
    except Exception as exc:
        failures.append(f"ingest check: {type(exc).__name__}: {exc}")

    per_pipe = {n: [s.construct_s + s.exec_s for s in ps.steps if s.name == n]
                for n in PIPELINES}
    out = {
        "attempted": len(ps.steps) + len(ps.commits) + ps.failed,
        "failures": failures,
        "window_s": window,
        "e2e": {
            # an operation that raised has no time: the window stands
            # in for it (the run is reported incorrect anyway)
            "main_op_s": sum(_median(v, window) for v in per_pipe.values()),
            "side_op_s": _median([c.seconds for c in ps.commits], window),
            "throughput_per_s": (len(ps.steps) + len(ps.commits)) / window,
        },
        "detail": {
            "passes": k,
            "pipeline_median_s": {n: _median(v, None) for n, v in per_pipe.items()},
            "offered_docs": sum(len(c.offered) for c in ps.commits),
            "commit_jobs": [c.jobs for c in ps.commits],
        },
    }
    if tracer is not None:
        out["layers"] = _layers(h, ing, tracer, ps, start, start + window)
    return out


def _median(values: list[float], default):
    return median(values) if values else default


def _check_ingest(spark, ing: Ingest, commits: list[Commit]) -> list[str]:
    """The write-path invariants over the final corpus version."""
    from chapterhousedb_spark.streaming.batcher import read_versioned_base

    corpus, ver = read_versioned_base(spark, ing.corpus)
    ids = [r[0] for r in corpus.select("doc_id").collect()]
    labels = spark.read.parquet(f"{ing.labels}/v{ver}")
    label_ids = {r[0] for r in labels.select("id").collect()}
    admitted = sum(c.result["n_admitted"] for c in commits)
    failures = []
    if len(ids) != len(set(ids)):
        failures.append("corpus holds a doc id more than once")
    if len(ids) != ing.n_seed + admitted:
        failures.append(f"corpus has {len(ids)} docs, expected "
                        f"{ing.n_seed} seed + {admitted} admitted")
    planted = set().union(*(c.planted for c in commits)) if commits else set()
    if planted & set(ids):
        failures.append(f"{len(planted & set(ids))} planted copies admitted")
    if not set(ids) <= label_ids:
        failures.append(f"{len(set(ids) - label_ids)} corpus docs lack a label")
    if ver != len(commits):
        failures.append(f"corpus at version {ver} after {len(commits)} commits")
    return failures


def _layers(h, ing, tracer, ps: Passes, t0, t1) -> dict:
    from spans import self_times

    window = t1 - t0
    spans = [s for s in tracer.spans if s.start >= t0 and s.end <= t1]
    selft = self_times(spans)
    by_id = {s.sid: s for s in spans}
    # components_update solves the touched components with the batch
    # solvers: those nested solves are label maintenance, not pipeline
    # solves, so they count toward the update group
    for s in spans:
        p = by_id.get(s.parent)
        while p is not None and s.note == "solve":
            if p.note == "update":
                s.note = "update"
            p = by_id.get(p.parent)
    n_pass = len(ps.pass_bounds)
    layers: dict[str, float] = {}
    for name in PIPELINES:
        mine = [s for s in ps.steps if s.name == name]
        layers[f"workload.construct_share.{name}"] = sum(
            s.construct_s for s in mine) / window
        layers[f"workload.exec_share.{name}"] = sum(s.exec_s for s in mine) / window
        layers[f"workload.construct_jobs.{name}"] = _median(
            [s.jobs[1] - s.jobs[0] for s in mine], 0)
        layers[f"workload.exec_jobs.{name}"] = _median(
            [s.jobs[2] - s.jobs[1] for s in mine], 0)

    jobs = h.stage_table()
    tagged: dict[str, int] = {}
    for info in jobs.values():
        for tag in info["tags"]:
            tagged[tag] = tagged.get(tag, 0) + 1

    def group_metrics(prefix, group, per=None):
        """Self-time share of the group and, given `per`, its jobs per
        pass/commit; calls nested in a call of the same group count once."""
        top = [s for s in spans if s.note == group and not (
            s.parent in by_id and by_id[s.parent].note == group)]
        layers[f"{prefix}_share"] = sum(
            selft[s.sid] for s in spans if s.note == group) / window
        if per is not None:
            layers[f"{prefix}_jobs"] = sum(
                tagged.get(span_tag(s), 0) for s in top) / per
        return top

    n_commit = max(len(ps.commits), 1)
    top = group_metrics("cluster.solve", "solve", n_pass)
    layers["cluster.solve_calls"] = len(top) / n_pass
    group_metrics("cluster.update", "update", n_commit)
    group_metrics("dedup.pairs", "pairs", n_pass)
    group_metrics("similarity.topk", "topk", n_pass)
    group_metrics("ingest.admit", "admit")
    # from the job-id counter around each commit, not from job tags
    layers["ingest.admit_jobs"] = _median([c.jobs for c in ps.commits], 0)

    offered = sum(len(c.offered) for c in ps.commits)
    admitted = sum(c.result["n_admitted"] for c in ps.commits)
    layers["ingest.admitted_ratio"] = admitted / max(offered, 1)
    text_bytes, admitted_bytes = _live_text_bytes(ing)
    written = ing.disk_bytes() - ing.bytes_after_init
    layers["ingest.write_amplification"] = written / max(admitted_bytes, 1)
    layers["ingest.space_amplification"] = ing.disk_bytes() / text_bytes

    # every job of the timed window
    totals = spark_totals(jobs, range(ps.pass_bounds[0][0], ps.pass_bounds[-1][1]))
    layers.update({f"spark.{k}": v for k, v in totals.items()})
    layers["spark.core_busy_ratio"] = totals["task_time_s"] / (window * CORES)
    return layers


def _live_text_bytes(ing: Ingest) -> tuple[int, int]:
    """UTF-8 text bytes of the latest corpus version: all docs, and the
    docs admitted by commits (ids at or above the first batch id)."""
    from chapterhousedb_spark.streaming.batcher import read_versioned_base

    corpus, _ = read_versioned_base(ing.spark, ing.corpus)
    rows = corpus.selectExpr("doc_id", "octet_length(text) AS b").collect()
    return (sum(r[1] for r in rows),
            sum(r[1] for r in rows if r[0] >= FIRST_BATCH_ID))
