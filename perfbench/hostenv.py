"""Host sizing, the Spark session, memory sampling and the host canary.

Everything here adapts to the host instead of assuming one: the core
count comes from the affinity mask, the driver heap from ``MemTotal``, and
every file Spark or Python writes stays under the run's work directory.
"""

from __future__ import annotations

import os
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

RSS_PERIOD_S = 0.1


def n_cores() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_mem_mb(total_mb: int) -> int:
    """An eighth of RAM, between 1 and 2 GiB: the benchmark's inputs are
    small, and the host's memory is shared."""
    return max(1024, min(2048, total_mb // 8))


def prepare_env(work: str, event_log_dir: str | None) -> None:
    """Environment read when the JVM and its Python workers start.  Python
    workers import ``emailcdc`` by module path, so the repo root goes on
    their ``PYTHONPATH`` whatever the current directory is."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = f"{driver_mem_mb(mem_total_mb())}m"
    os.environ["EMAILCDC_DRIVER_JAVA_OPTS"] = (
        f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}")
    args = ["--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"]
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        args += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", "spark.eventLog.compress=false",
                 "--conf", "spark.eventLog.rolling.enabled=false",
                 "--conf", f"spark.eventLog.dir=file://{event_log_dir}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])


def start_session():
    from emailcdc.session import get_spark
    n = n_cores()
    spark = get_spark(app="perfbench", master=f"local[{n}]", shuffle_partitions=n)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss_mb(pid: int) -> float:
    """Resident memory of ``pid`` and all its descendants (the JVM and the
    Python workers are children of this process)."""
    kids, todo, total_kb = _children(), [pid], 0
    while todo:
        p = todo.pop()
        todo.extend(kids.get(p, ()))
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmRSS:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024


class RssSampler:
    """Samples ``tree_rss_mb`` of this process every ``RSS_PERIOD_S`` in a
    daemon thread; ``peak_mb`` is the largest sample."""

    def __init__(self):
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(pid))
            self._stop.wait(RSS_PERIOD_S)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


def canary(spark) -> dict:
    """Fixed work whose time tracks the host, not the code under test: a
    ``spark.range`` sum and a pure-Python ``extract_event`` loop over fixed
    fixtures.  The work never depends on the workload or its seed, so runs
    from different days compare by these."""
    from emailcdc.extract import extract_event
    from emailcdc.fixtures import make_eml, make_mbox

    t0 = time.perf_counter()
    total = spark.range(0, 20_000_000, numPartitions=n_cores()) \
        .selectExpr("sum(id) AS s").collect()[0]["s"]
    t1 = time.perf_counter()
    docs = [("eml", make_eml(i)) for i in range(150)] + \
           [("mbox", make_mbox(3, start_seq=i)) for i in range(50)]
    t2 = time.perf_counter()
    for i, (lang, content) in enumerate(docs):
        extract_event("canary/repo", f"f{i}.{lang}", i, "c", lang, content)
    t3 = time.perf_counter()
    if total != 20_000_000 * 19_999_999 // 2:
        raise RuntimeError(f"canary sum is wrong: {total}")
    return {"canary_range_sum_s": t1 - t0, "canary_extract_loop_s": t3 - t2}


def stop_jvm() -> None:
    """Shut down the py4j gateway and wait for the JVM (and with it the
    Python workers it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
