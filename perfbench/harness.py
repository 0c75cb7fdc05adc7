"""Session sizing, set-up timing and the timed link operation.

The session is the library's own ``get_spark`` with deployment settings
only: cores from the CPU affinity mask (``nproc``), driver heap from
MemTotal, and every local, temporary and warehouse directory under the
benchmark's work area inside the checkout. No other Spark setting is
changed.
"""

from __future__ import annotations

import ctypes
import os
import signal
import time

PR_SET_CHILD_SUBREAPER = 36


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def driver_heap() -> str:
    """A quarter of MemTotal, at most 16 GiB."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{min(kb // 4 // 1024, 16 * 1024)}m"


def prepare_env(root: str, work: str) -> None:
    """Point every path the library, Spark and Python write to inside
    ``work``. Must run before ``mix_blink_spark.session`` is imported
    (it reads the warehouse location at import)."""
    for d in ("spark-local", "tmp", "warehouse", "eventlog", "state"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    # spark-submit's launcher JVM: temp files inside the checkout, no hsperfdata under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    # Python workers import the library from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )


def start_session(work: str, cores: int, eventlog: bool = False):
    from mix_blink_spark.session import get_spark

    extra = {
        "spark.driver.memory": driver_heap(),
        "spark.local.dir": os.path.join(work, "spark-local"),
        # JVM temp files inside the checkout; no hsperfdata file under /tmp
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        ),
    }
    # set either way: pyspark's session builder keeps options across sessions
    extra["spark.eventLog.enabled"] = str(eventlog).lower()
    if eventlog:
        extra["spark.eventLog.dir"] = "file://" + os.path.join(work, "eventlog")
        extra["spark.eventLog.compress"] = "false"
    return get_spark("perfbench", master=f"local[{cores}]", extra_conf=extra)


def shutdown(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers) to exit."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def become_subreaper() -> None:
    """Descendants orphaned while this process runs (Spark's Python
    workers once the JVM exits) are re-parented to it instead of to init,
    so ``reap_children`` can wait for them."""
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _children() -> list[int]:
    me, kids = os.getpid(), []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        if int(stat.rsplit(")", 1)[1].split()[1]) == me:
            kids.append(int(d))
    return kids


def reap_children(grace_s: float = 10.0) -> None:
    """Wait until every child process has exited; after ``grace_s``
    seconds, kill those still running."""
    deadline = time.monotonic() + grace_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for kid in _children():
                try:
                    os.kill(kid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def link_op(spark, inputs: str, cfg, timings: dict | None = None) -> tuple[dict, float]:
    """One operation: read the input set, link it with LinkConfig ``cfg``,
    materialize the clusters. Returns (link output, wall seconds)."""
    from mix_blink_spark.plans.pipeline import link

    t0 = time.monotonic()
    spans = spark.read.parquet(os.path.join(inputs, "spans"))
    ents = spark.read.parquet(os.path.join(inputs, "entities"))
    out = link(
        spark, os.path.join(inputs, "pages"), spans, ents, cfg, timings=timings,
    )
    out["clusters"].count()
    return out, time.monotonic() - t0


def collect_assignment(out: dict) -> list[tuple[str, str]]:
    pdf = out["clusters"].toPandas()
    rows = list(zip(pdf["member"], pdf["cluster_id"]))
    out["clusters"].unpersist()
    return rows


def timed_setup(work: str, warmup: str, cores: int, cfg, eventlog: bool = False):
    """Fresh session plus one small link until its first result."""
    t0 = time.monotonic()
    spark = start_session(work, cores, eventlog)
    out, _ = link_op(spark, warmup, cfg)
    out["clusters"].unpersist()
    return spark, time.monotonic() - t0
