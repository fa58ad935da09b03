"""Start and stop the benchmark's local Spark session: the engine's own
``get_spark`` with every scratch path inside the checkout, and a teardown
that waits until the JVM and its Python workers have exited. Also the
process-wide teardown: the benchmark adopts every process it starts,
directly or not, and waits until each has ended before it exits."""

from __future__ import annotations

import os
import signal
import time

# reap_all: SIGTERM first, SIGKILL after REAP_GRACE_S, give up after
# REAP_LIMIT_S (only a process stuck in the kernel outlasts that)
REAP_GRACE_S = 10.0
REAP_LIMIT_S = 40.0


def start_spark(run_dir: str, app: str, nproc: int, event_dir: str | None = None):
    from opps_feedcrawler_spark.session import get_spark

    tmp = os.environ["TMPDIR"]
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
        # no hsperfdata files under /tmp: every file stays in the checkout
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData"
        ),
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(
        f"perfbench-{app}", cores=nproc, shuffle_partitions=nproc, extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until the JVM and every
    process under it (the PySpark daemon and its workers) have exited."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    reap_all()


def adopt_orphans() -> None:
    """Make this process the Linux child subreaper of everything it starts:
    a descendant whose parent exits first (the PySpark daemon's workers once
    the JVM has gone, multiprocessing's resource tracker) is re-parented
    here instead of to init, so ``reap_all`` can still wait for it."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _reap_exited() -> None:
    try:
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass
    except ChildProcessError:
        pass


def reap_all() -> list[int]:
    """Stop every process this one started, directly or not, and wait until
    each has ended: multiprocessing's resource tracker first (it outlives
    its parent by design), then the rest by signal. Returns the pids still
    present at the limit."""
    from multiprocessing import resource_tracker

    from sysprobe import descendants

    try:
        resource_tracker._resource_tracker._stop()
    except Exception:
        pass
    me = os.getpid()
    t0 = time.monotonic()
    while True:
        _reap_exited()
        left = descendants(me)
        if not left or time.monotonic() - t0 > REAP_LIMIT_S:
            return left
        sig = signal.SIGKILL if time.monotonic() - t0 > REAP_GRACE_S else signal.SIGTERM
        for pid in filter(_alive, left):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.1)
