"""One local Spark engine for a benchmark run, confined to the run's work
directory: scratch space, temp files and the warehouse all live there."""

from __future__ import annotations

import os


#: The JVM heap is fixed and touched at start, so its size does not follow
#: GC timing: RSS then varies only with memory outside the heap (metaspace,
#: code cache, threads, state stores, Python workers).
HEAP = "2g"


def cores() -> int:
    return len(os.sched_getaffinity(0))


class Engine:
    """Starts, restarts and finally shuts down the SparkSession and the
    JVM behind it. Starting again keeps the JVM and makes a new context."""

    def __init__(self, work: str, repo_root: str):
        self.work = work
        self.spark = None
        for d in ("tmp", "spark-local"):
            os.makedirs(os.path.join(work, d), exist_ok=True)
        os.environ["TMPDIR"] = os.path.join(work, "tmp")
        # takes precedence over spark.local.dir when set in the environment
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
        # Python workers (mapInPandas, pandas UDFs) import the package by
        # name; they inherit the JVM's environment, not this sys.path
        paths = [repo_root] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
        os.environ["PYTHONPATH"] = ":".join(paths)

    def start(self, *, master_cores: int | None = None, ui: bool = False):
        from pyspark.sql import SparkSession

        self.stop()
        n = master_cores or cores()
        tmp = os.path.join(self.work, "tmp")
        self.spark = (
            SparkSession.builder.master(f"local[{n}]")
            .appName("audit-sessions-perfbench")
            .config("spark.sql.shuffle.partitions", str(n))
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.driver.memory", HEAP)
            .config("spark.local.dir", os.path.join(self.work, "spark-local"))
            .config("spark.sql.warehouse.dir", os.path.join(self.work, "warehouse"))
            .config("spark.driver.extraJavaOptions",
                    f"-Xms{HEAP} -XX:+AlwaysPreTouch "
                    f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}")
            .config("spark.driver.host", "127.0.0.1")
            .config("spark.driver.bindAddress", "127.0.0.1")
            .config("spark.ui.enabled", "true" if ui else "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
            .getOrCreate()
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the context, close the gateway and wait for the JVM."""
        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
