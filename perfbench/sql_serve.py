"""`sql_serve`: the engine's own user path as a closed loop.

Two QueryClient connections talk to an in-process QueryServer over
localhost. Each client loops: submit, status(wait_s) until terminal,
fetch the first 50-row page, then up to three more pages of a wide
result. Statements come from gen.statements: four TPC-H-shaped
templates over read_files(...) with seed-drawn constants, so no
statement repeats.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq

import check
import gen
from harness import CLIENTS, CORES, PAGE, Stack, spark_totals
from stats import percentile

# per-layer metrics this workload measures (run.py reports the other
# workload's as 0 here)
LAYER_METRICS = [
    "sqlfront.rewrite_share",
    "engine.plan_share",
    "engine.queue_share",
    "engine.exec_share",
    "results.manifest_share",
    "results.fetch_share",
    "server.rpc_share",
    "engine.jobs_per_query",
    "engine.tasks_per_query",
    "engine.result_files_per_query",
    "results.rows_read_per_row_returned",
    "server.page_bytes",
    "server.status_calls_per_query",
]
EXTRA_PAGES = 3
# the page median needs 10 samples beyond it (stats.percentile), and
# each template's latency median wants 6 samples: the loop runs past
# --seconds until it has these many queries and pages
MIN_QUERIES = 24
MIN_PAGES = 24
STATUS_WAIT_S = 30.0


@dataclass
class QueryRecord:
    template: str
    sql: str
    qid: str = ""
    status: str = ""
    error: str | None = None
    num_rows: int = 0
    latency_s: float = 0.0
    status_calls: int = 0
    first_page: object = None
    page_s: list[float] = field(default_factory=list)
    page_bytes: list[int] = field(default_factory=list)


def _enough(records: list[QueryRecord]) -> bool:
    return (len(records) >= MIN_QUERIES
            and sum(len(r.page_s) for r in records) >= MIN_PAGES)


def _client_loop(cl, stmts, deadline, hard_deadline, records, lock):
    for template, sql in stmts:
        now = time.perf_counter()
        with lock:
            enough = _enough(records)
        if now >= hard_deadline or (now >= deadline and enough):
            return
        rec = QueryRecord(template, sql)
        t0 = time.perf_counter()
        try:
            rec.qid = cl.submit(sql)[0]["query_id"]
            while True:
                rec.status_calls += 1
                st = cl.status(rec.qid, wait_s=STATUS_WAIT_S)
                if st["status"] in ("COMPLETE", "ERROR"):
                    break
            rec.status, rec.error = st["status"], st["error"]
            if rec.status == "COMPLETE":
                rec.num_rows = st["num_rows"]
                rec.first_page = cl.fetch(rec.qid, 0, PAGE)
                rec.latency_s = time.perf_counter() - t0
                pages = min(EXTRA_PAGES, (rec.num_rows - 1) // PAGE)
                for p in range(1, pages + 1):
                    t1 = time.perf_counter()
                    page = cl.fetch(rec.qid, p * PAGE, PAGE)
                    rec.page_s.append(time.perf_counter() - t1)
                    rec.page_bytes.append(page.nbytes)
        except Exception as exc:  # a failed request is a failed query
            rec.status, rec.error = "ERROR", f"{type(exc).__name__}: {exc}"
        with lock:
            records.append(rec)


def _check(stack: Stack, records: list[QueryRecord], data_dir: str) -> list[str]:
    """Re-run every completed statement in DuckDB on the same parquet
    and compare: row count and values as a multiset, plus the order of
    the first page's ORDER BY columns for ordered templates. Returns
    the failures."""
    import duckdb

    from chapterhousedb_spark.results import ResultCursor

    con = duckdb.connect()
    failures = []
    try:
        for rec in records:
            if rec.status != "COMPLETE":
                failures.append(f"{rec.template} {rec.qid}: {rec.error}")
                continue
            want = con.sql(check.duckdb_sql(rec.sql, data_dir)).arrow()
            if hasattr(want, "read_all"):
                want = want.read_all()
            h = stack.engine.handle(rec.qid)
            got = ResultCursor(h.result_dir).fetch(0, h.num_rows)
            diff = check.rows_match(
                check.rows_of(got, by_name=False),
                check.rows_of(want, by_name=False),
                ordered=False,
            )
            cols = gen.order_columns(rec.template)
            if diff is None and cols is not None:
                diff = check.rows_match(
                    [tuple(r[i] for i in cols)
                     for r in check.rows_of(rec.first_page, by_name=False)],
                    [tuple(r[i] for i in cols)
                     for r in check.rows_of(want.slice(0, PAGE), by_name=False)],
                    ordered=True,
                )
            if diff is not None:
                failures.append(f"{rec.template} {rec.qid}: {diff}")
    finally:
        con.close()
    return failures


def _rows_read(result_dir: str, offset: int, limit: int) -> int:
    """Rows ResultCursor.fetch decodes for one page: every row of each
    row group overlapping [offset, offset + limit)."""
    from chapterhousedb_spark.results import ResultManifest

    m = ResultManifest.load(result_dir)
    end = min(offset + limit, m.total_rows)
    read, file0 = 0, 0
    for name, n in zip(m.files, m.rows_per_file):
        if file0 < end and file0 + n > offset:
            md = pq.read_metadata(os.path.join(result_dir, name))
            g0 = file0
            for g in range(md.num_row_groups):
                gn = md.row_group(g).num_rows
                if g0 < end and g0 + gn > offset:
                    read += gn
                g0 += gn
        file0 += n
    return read


def install_tracing(tracer) -> None:
    """Spans around the public calls of the serving path. Engine and
    results spans run on server threads; their trace id (the query id)
    is recovered from the call, not from the thread."""
    from pyspark import SparkContext

    from chapterhousedb_spark import engine, results, server
    from chapterhousedb_spark.sqlfront import table_funcs
    from spans import wrap_method

    def by_handle(span, args, result):
        if result is not None:
            span.trace = result.query_id

    def by_job_group(span):
        # Engine._run sets the query's job group before planning; read
        # it on entry so the nested rewrite span inherits the query id
        group = SparkContext._active_spark_context.getLocalProperty(
            "spark.jobGroup.id")
        if group and group.startswith("chdb-"):
            span.trace = group[len("chdb-"):]

    def by_dir(span, args, result):
        span.trace = os.path.basename(args[0].rstrip("/"))

    def by_cursor(span, args, result):
        span.trace = os.path.basename(args[0].result_dir.rstrip("/"))
        span.note = f"{args[1]}:{args[2]}"

    def by_request(span, args, result):  # QueryClient.fetch(qid, offset, limit)
        span.trace = args[1]
        span.note = f"{args[2]}:{args[3]}"

    wrap_method(tracer, engine.Engine, "submit", "engine", "submit", by_handle)
    wrap_method(tracer, engine.Engine, "dataframe", "engine", "plan",
                enter=by_job_group)
    wrap_method(tracer, table_funcs.TableFunctionRegistry, "rewrite", "sqlfront",
                "rewrite")
    wrap_method(tracer, results.ResultManifest, "build", "results", "manifest",
                by_dir)
    wrap_method(tracer, results.ResultCursor, "fetch", "results", "fetch", by_cursor)
    wrap_method(tracer, server.QueryClient, "fetch", "server", "client_fetch",
                by_request)


def run(h, args, setup, tracer=None) -> dict:
    """Measure the closed loop for `args.seconds`; returns the result
    fields for run.py."""
    stack, data_dir = setup.stack, setup.data_dir
    stmts = gen.statements(args.seed, CLIENTS, 500)
    records: list[QueryRecord] = []
    lock = threading.Lock()
    j0 = h.next_job_id()
    start = time.perf_counter()
    deadline = start + args.seconds
    hard = start + 3 * args.seconds + 30
    threads = [
        threading.Thread(
            target=_client_loop,
            args=(cl, stmts[c], deadline, hard, records, lock),
        )
        for c, cl in enumerate(stack.clients)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    window = time.perf_counter() - start
    j1 = h.next_job_id()

    failures = _check(stack, records, data_dir)
    ok = [r for r in records if r.status == "COMPLETE"]
    pages = [s for r in ok for s in r.page_s]
    out = {
        "attempted": len(records),
        "failures": failures,
        "window_s": window,
        "e2e": {
            "main_op_s": balanced_median(
                [(r.template, r.latency_s) for r in ok]),
            "side_op_s": percentile(pages, 0.5),
            "throughput_per_s": len(ok) / window,
        },
        "detail": {
            "queries": len(records),
            "pages": len(pages),
            "templates": {
                t: sum(r.template == t for r in records) for t, _, _ in gen.TEMPLATES
            },
        },
    }
    if tracer is not None:
        out["layers"] = _layers(h, stack, tracer, ok, start, start + window,
                                range(j0, j1))
    return out


def balanced_median(samples: list[tuple[str, float]]) -> float:
    """Mean over templates of each template's median latency. Each
    template's latencies form their own cluster (q6 about half of q3),
    so the median of the whole mix jumps from one cluster to the next
    when a window completes one query more of some template; this
    statistic moves only with the latencies."""
    by_t: dict[str, list[float]] = {}
    for template, seconds in samples:
        by_t.setdefault(template, []).append(seconds)
    return sum(statistics.median(v) for v in by_t.values()) / len(by_t)


def _mode(values):
    return max(sorted(set(values)), key=values.count)


def _per_template(ok, values_by_qid) -> float:
    """Mean over templates of each template's most common value: a
    per-query count that does not move with the template mix."""
    by_t: dict[str, list] = {}
    for r in ok:
        by_t.setdefault(r.template, []).append(values_by_qid[r.qid])
    return sum(_mode(v) for v in by_t.values()) / len(by_t)


def _layers(h, stack, tracer, ok, t0, t1, window_jobs) -> dict:
    from spans import self_times

    window = t1 - t0
    spans = [s for s in tracer.spans if s.start >= t0 and s.end <= t1]
    selft = self_times(spans)
    qids = {r.qid for r in ok}
    caller_s = window * CLIENTS

    def share(layer, name):
        return sum(
            selft[s.sid] for s in spans
            if s.layer == layer and s.name == name and s.trace in qids
        ) / caller_s

    first = {}
    for s in spans:
        if s.trace in qids:
            first.setdefault((s.trace, s.name), s)
    queue = execute = 0.0
    for q in qids:
        sub, plan, man = (first.get((q, n)) for n in ("submit", "plan", "manifest"))
        if sub and plan and man:
            queue += plan.start - sub.end
            execute += man.start - plan.end
    # client fetch minus the ResultCursor.fetch it caused, per page
    cursor = {(s.trace, s.note): s.dur for s in spans if s.name == "fetch"}
    rpc = sum(
        s.dur - cursor[(s.trace, s.note)] for s in spans
        if s.name == "client_fetch" and (s.trace, s.note) in cursor
        and s.trace in qids
    )
    rows_read = rows_out = 0
    for s in spans:
        if s.name == "fetch" and s.trace in qids:
            off, lim = (int(x) for x in s.note.split(":"))
            h_ = stack.engine.handle(s.trace)
            rows_read += _rows_read(h_.result_dir, off, lim)
            rows_out += max(0, min(off + lim, h_.num_rows) - off)

    jobs = h.stage_table()
    per_q = {}
    for r in ok:
        ids = [j for j, info in jobs.items() if info["group"] == f"chdb-{r.qid}"]
        per_q[r.qid] = spark_totals(jobs, ids)
    from chapterhousedb_spark.results import ResultManifest

    files = {
        r.qid: len(ResultManifest.load(stack.engine.handle(r.qid).result_dir).files)
        for r in ok
    }
    # every job of the timed window, not only those of the query groups
    totals = spark_totals(jobs, window_jobs)
    layers = {
        "sqlfront.rewrite_share": share("sqlfront", "rewrite"),
        "engine.plan_share": share("engine", "plan"),
        "engine.queue_share": queue / caller_s,
        "engine.exec_share": execute / caller_s,
        "results.manifest_share": share("results", "manifest"),
        "results.fetch_share": share("results", "fetch"),
        "server.rpc_share": rpc / caller_s,
        "engine.jobs_per_query": _per_template(
            ok, {q: t["jobs"] for q, t in per_q.items()}),
        "engine.tasks_per_query": _per_template(
            ok, {q: t["tasks"] for q, t in per_q.items()}),
        "engine.result_files_per_query": _per_template(ok, files),
        "results.rows_read_per_row_returned": rows_read / max(rows_out, 1),
        "server.page_bytes": statistics.median(b for r in ok for b in r.page_bytes),
        "server.status_calls_per_query": _per_template(
            ok, {r.qid: r.status_calls for r in ok}),
        **{f"spark.{k}": v for k, v in totals.items()},
        "spark.core_busy_ratio": totals["task_time_s"] / (window * CORES),
    }
    return layers
