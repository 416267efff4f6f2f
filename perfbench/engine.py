"""Session lifecycle and Spark status readers shared by every workload.

Everything here reads the engine from outside: the session comes from
``ssp_spark.session.get_spark`` with the same input-sized knobs bench.py
passes, and job/stage/task counts come from ``SparkContext.statusTracker``
keyed by the job groups the benchmark sets around each call.
"""

from __future__ import annotations

import os
import shlex
import subprocess
import time


def prepare_env(root: str, work: str, cores: int) -> None:
    """Point the engine at ``cores`` local threads and keep every file it
    writes (shuffle, temp, Python worker imports) inside ``work``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH", "")) if p
    )
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell"
    )


def start_session(data_dir: str, app: str):
    """The engine's own session factory, sized from the input like bench.py."""
    from ssp_spark.session import adaptive_enabled_for, get_spark, sized_shuffle_partitions

    spark = get_spark(
        app,
        shuffle_partitions=sized_shuffle_partitions(data_dir),
        adaptive=adaptive_enabled_for(data_dir),
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session, then shut the JVM down and wait for it to exit;
    Python workers are its children and end with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    reap_children()


def reap_children(timeout_s: float = 10.0) -> None:
    """Wait for every remaining descendant process to end, killing any
    that outlive ``timeout_s``."""
    from probes import tree

    deadline = time.time() + timeout_s
    while True:
        left = [p for p in tree() if p != os.getpid()]
        if not left:
            return
        if time.time() > deadline:
            for p in left:
                try:
                    os.kill(p, 9)
                except OSError:
                    pass
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.05)


class JobGroups:
    """Tags each call with a job group and counts its jobs, stages and
    tasks afterwards through the public status tracker."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.n = 0

    def tag(self, prefix: str) -> str:
        self.n += 1
        group = f"{prefix}-{self.n}"
        self.sc.setJobGroup(group, group)
        return group

    def counts(self, group: str) -> dict[str, int]:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = failed = 0
        for j in jobs:
            info = st.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                si = st.getStageInfo(s)
                ran = 0 if si is None else si.numCompletedTasks + si.numFailedTasks
                if ran:  # stages reused from an earlier job never run
                    stages += 1
                    tasks += ran
                    failed += si.numFailedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "tasks_failed": failed}
