"""Process-level plumbing shared by the workloads: the temp root, the
Spark session, the engine + server + client stack, the Spark status
store readers and the peak-RSS probe."""

from __future__ import annotations

import os
import shutil
import sys

CORES = 4
CLIENTS = 2
PAGE = 50


class Harness:
    """Owns everything one benchmark process creates. Every byte goes
    under `tmp`, which `close()` removes; `close()` also stops the
    Spark JVM and waits for it to exit."""

    def __init__(self, tmp: str):
        self.tmp = tmp
        self.spark = None
        os.makedirs(tmp)
        for sub in ("py", "spark-local", "java"):
            os.makedirs(os.path.join(tmp, sub))
        # Python temp files (tempfile users in the program, PySpark
        # broadcast spills) and Spark scratch both land under tmp
        os.environ["TMPDIR"] = os.path.join(tmp, "py")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
        os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
        os.environ["PYSPARK_PYTHON"] = sys.executable
        import tempfile

        tempfile.tempdir = os.environ["TMPDIR"]

    def path(self, *parts: str) -> str:
        return os.path.join(self.tmp, *parts)

    # ------------------------------------------------------------ session

    def build_session(self):
        from chapterhousedb_spark.session import build_session

        self.spark = build_session(
            app_name="perfbench",
            shuffle_partitions=CORES,
            extra_conf={
                "spark.sql.warehouse.dir": self.path("warehouse"),
                "spark.local.dir": self.path("spark-local"),
                # C1 only: a run lasts tens of seconds from a cold JVM,
                # and C2 recompiling hot Spark code during it made the
                # measured window depend on how far the JIT had got
                # (cold passes spread 20-26 s with C2, 18-21 s with C1).
                # C1 alone gets a 48 MB code cache by default, which
                # pipeline_ingest work filled after 75 s of JVM time;
                # the JIT then switches off and new code stays
                # interpreted. No perf-data file in /tmp: the run writes
                # only under tmp.
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={self.path('java')} "
                    f"-Dderby.system.home={self.path('java')} "
                    "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=256m "
                    "-XX:-UsePerfData"
                ),
                "spark.ui.showConsoleProgress": "false",
                # keep every job and stage of a run in the status store
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.ui.retainedExecutions": "100000",
            },
        )
        return self.spark

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop Spark, end the JVM process and remove the temp root."""
        try:
            self.stop_session()
        finally:
            jvm_proc = _jvm_proc()
            if jvm_proc is not None:
                from pyspark import SparkContext

                try:
                    SparkContext._gateway.shutdown()
                except Exception:  # already gone: the wait below decides
                    pass
                try:
                    jvm_proc.stdin.close()
                    jvm_proc.wait(timeout=30)
                except Exception:
                    jvm_proc.kill()
                    jvm_proc.wait(timeout=30)
            shutil.rmtree(self.tmp, ignore_errors=True)

    # ------------------------------------------------------- spark counters

    def next_job_id(self) -> int:
        """Id the next Spark job will get (jobs are numbered from 0 in
        submission order), read from the DAG scheduler."""
        return self.spark.sparkContext._jsc.sc().dagScheduler().nextJobId()

    def stage_table(self) -> dict:
        """job id -> {group, tags, stages: [(numTasks, failed,
        runTimeMs, shuffleWriteBytes, spillBytes)]} for every job the
        status store holds (it works with the UI off)."""
        sc = self.spark.sparkContext
        jvm = sc._jvm
        store = sc._jsc.sc().statusStore()
        conv = jvm.scala.jdk.javaapi.CollectionConverters
        stages = {}
        no_quantiles = sc._gateway.new_array(jvm.double, 0)
        for st in conv.asJava(
            store.stageList(None, False, False, no_quantiles, None)
        ):
            if str(st.status()) == "SKIPPED":  # listed by a job, never run
                continue
            stages[(st.stageId(), st.attemptId())] = (
                st.numTasks(),
                st.numFailedTasks(),
                st.executorRunTime(),
                st.shuffleWriteBytes(),
                st.memoryBytesSpilled() + st.diskBytesSpilled(),
            )
        attempts: dict[int, list] = {}
        for (sid, _att), v in stages.items():
            attempts.setdefault(sid, []).append(v)
        jobs = {}
        seen: set[int] = set()  # a stage counts for the first job running it
        for jd in sorted(
            conv.asJava(store.jobsList(None)), key=lambda jd: jd.jobId()
        ):
            group = jd.jobGroup()
            rows = []
            for sid in conv.asJava(jd.stageIds()):
                if sid not in seen:
                    seen.add(sid)
                    rows.extend(attempts.get(sid, []))
            jobs[jd.jobId()] = {
                "group": group.get() if group.isDefined() else None,
                "tags": set(conv.asJava(jd.jobTags())),
                "stages": rows,
            }
        return jobs


def _jvm_proc():
    try:
        from pyspark import SparkContext
    except ImportError:
        return None
    gw = SparkContext._gateway
    return getattr(gw, "proc", None) if gw is not None else None


def spark_totals(jobs: dict, job_ids) -> dict:
    """Sum the status-store rows of `job_ids`."""
    out = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0,
           "task_time_s": 0.0, "shuffle_write_bytes": 0, "spill_bytes": 0}
    for j in job_ids:
        info = jobs.get(j)
        if info is None:
            continue
        out["jobs"] += 1
        for ntask, nfail, run_ms, shuf, spill in info["stages"]:
            out["stages"] += 1
            out["tasks"] += ntask
            out["failed_tasks"] += nfail
            out["task_time_s"] += run_ms / 1000.0
            out["shuffle_write_bytes"] += shuf
            out["spill_bytes"] += spill
    return out


def peak_rss_mb() -> float:
    """Peak resident set of this process plus the Spark JVM, from the
    kernel's high-water marks (VmHWM). It follows how far G1 grew the
    heap (runs of one workload spread 13-18 %), so it is a per-layer
    figure, not an end-to-end metric with a bound."""
    pids = [os.getpid()]
    proc = _jvm_proc()
    if proc is not None:
        pids.append(proc.pid)
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except FileNotFoundError:
            pass
    return total_kb / 1024.0


def dir_bytes(path: str) -> int:
    total = 0
    for dp, _dn, fns in os.walk(path):
        for f in fns:
            total += os.path.getsize(os.path.join(dp, f))
    return total


class Stack:
    """Engine + QueryServer + clients on one session: the serving stack
    of `sql_serve`."""

    def __init__(self, h: Harness, data_dir: str, n_clients: int):
        import chapterhousedb_spark as chdb

        self.spark = h.build_session()
        self.engine = chdb.Engine(
            spark=self.spark,
            results_dir=h.path("results"),
            connections=chdb.ConnectionRegistry(
                {"bench": chdb.FsConnection(name="bench", base_path=data_dir)}
            ),
        )
        self.server = chdb.serve(self.engine)
        self.clients = [
            chdb.QueryClient(self.server.host, self.server.port)
            for _ in range(n_clients)
        ]

    def warmup(self, statement: str) -> None:
        cl = self.clients[0]
        qid = cl.submit(statement)[0]["query_id"]
        st = cl.wait(qid, timeout=120)
        if st["status"] != "COMPLETE":
            raise RuntimeError(f"warm-up query failed: {st}")
        cl.fetch(qid, 0, PAGE)

    def close(self) -> None:
        for cl in self.clients:
            cl.close()
        self.server.close()
        self.engine.close()
