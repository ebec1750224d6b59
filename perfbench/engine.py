"""The benchmark's view of the program: build it, start a JVM with the
compiled classes on the driver class path, get sessions from
`graft.Engine.session`, and drain every op through an order-insensitive
digest.

The digest of a frame is `(count(*), sum(CAST(xxhash64(<all columns>) AS
DECIMAL(38,0))))`. A DECIMAL(38,0) sum cannot overflow for fewer than
~10^19 rows, so it reads the same with `spark.sql.ansi.enabled` on or off
(a BIGINT sum of hashes aborts with ARITHMETIC_OVERFLOW under ANSI mode).
"""
import hashlib
import os
import shlex
import subprocess
import sys
import time

import numpy as np

SOURCES = ("build.sbt", "project", "src/main")


def source_stamp(root):
    """Hash of everything the compiled classes depend on."""
    h = hashlib.sha256()
    for rel in SOURCES:
        path = os.path.join(root, rel)
        if os.path.isfile(path):
            files = [path]
        else:
            files = sorted(
                os.path.join(d, f) for d, dirs, fs in os.walk(path)
                for f in fs if "target" not in d.split(os.sep))
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root, work):
    """Compile the program with sbt unless the classes match the sources.
    Returns the driver class path."""
    if not os.path.isfile(os.path.join(root, "build.sbt")):
        raise SystemExit("perfbench: no build.sbt here; run from the root of a checkout")
    classes = os.path.join(root, "target", "scala-2.13", "classes")
    stamp_file = os.path.join(work, "build.stamp")
    stamp = source_stamp(root)
    built = os.path.isfile(stamp_file) and open(stamp_file).read() == stamp
    if not (built and os.path.isdir(classes)):
        t0 = time.time()
        log = os.path.join(work, "build.log")
        with open(log, "w") as out:
            rc = subprocess.call(
                ["sbt", "--batch", "-Dsbt.log.noformat=true",
                 "-Dsbt.server.forcestart=false", "compile"],
                cwd=root, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL)
        if rc != 0 or not os.path.isdir(classes):
            sys.stderr.write(open(log).read()[-4000:])
            raise SystemExit(f"perfbench: sbt compile failed (exit {rc}); see {log}")
        with open(stamp_file, "w") as f:
            f.write(stamp)
        print(f"[perfbench] built in {time.time() - t0:.1f} s", file=sys.stderr)
    return os.pathsep.join([classes, os.path.join(root, "src", "main", "resources")])


class Jvm:
    """One driver JVM (spark-submit gateway) shared by every session of a
    run. The confs below become JVM system properties, so the sessions
    `graft.Engine.session` builds pick them up; they keep every file the
    run writes inside `work`."""

    def __init__(self, class_path, work, heap):
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        opts = f"-Djava.io.tmpdir={tmp} -XX:ReservedCodeCacheSize=1g"
        conf = {"spark.local.dir": tmp,
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions": opts,
                "spark.graft.scratch": os.path.join(work, "scratch")}
        args = ["--driver-memory", heap, "--driver-class-path", class_path]
        for k, v in conf.items():
            args += ["--conf", f"{k}={v}"]
        os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
        from pyspark.java_gateway import launch_gateway
        self.gateway = launch_gateway()
        self.jvm = self.gateway.jvm
        self.spark = None

    def session(self, master):
        """A graft session (stopping any previous one) wrapped for pyspark."""
        from pyspark import SparkContext
        from pyspark.sql import SparkSession
        self.stop_session()
        jss = self.jvm.graft.Engine.session("perfbench", master)
        jsc = self.jvm.org.apache.spark.api.java.JavaSparkContext(jss.sparkContext())
        sc = SparkContext(gateway=self.gateway, jsc=jsc)
        self.spark = SparkSession(sc, jss)
        sc.setLogLevel("ERROR")
        return self.spark

    def stop_session(self):
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def start_event_log(self, log_dir):
        """Spark's EventLoggingListener on the live session, writing one
        uncompressed JSON event file under `log_dir`; returns the listener."""
        sc = self.spark._jsc.sc()
        conf = sc.conf().clone().set("spark.eventLog.rolling.enabled", "false") \
            .set("spark.eventLog.compress", "false")
        listener = self.jvm.org.apache.spark.scheduler.EventLoggingListener(
            f"perfbench-{time.time_ns()}", self.jvm.scala.Option.empty(),
            self.jvm.java.net.URI("file://" + log_dir), conf, sc.hadoopConfiguration())
        listener.start()
        sc.addSparkListener(listener)
        return listener

    def stop_event_log(self, listener):
        """Detach the listener once it has seen every posted event, and close
        its file."""
        sc = self.spark._jsc.sc()
        sc.listenerBus().waitUntilEmpty()
        sc.removeSparkListener(listener)
        listener.stop()

    def close(self):
        self.stop_session()
        try:
            self.gateway.shutdown()
        finally:
            proc = getattr(self.gateway, "proc", None)
            if proc is not None:
                try:
                    proc.stdin.close()
                except Exception:
                    pass
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()

    # ── JVM-side helpers ────────────────────────────────────────────────
    def seq(self, items):
        return self.jvm.scala.jdk.javaapi.CollectionConverters.asScala(list(items)).toSeq()

    def fs_stats(self):
        """Hadoop FileSystem byte counters summed over schemes (the local
        file system counts bytes only, no operations)."""
        tot = {"bytes_read": 0, "bytes_written": 0}
        for s in self.jvm.org.apache.hadoop.fs.FileSystem.getAllStatistics():
            tot["bytes_read"] += s.getBytesRead()
            tot["bytes_written"] += s.getBytesWritten()
        return tot

    def live_heap_mb(self):
        """Heap still in use right after a full GC: the old generation's
        collection usage, where a full GC leaves every live object (a young
        GC that runs later only moves the young pools). Spark's cleaner
        frees blocks only after a GC has found their handles dead, so GCs
        repeat until the figure stops falling."""
        self.spark._jsc.sc().listenerBus().waitUntilEmpty()
        mf = self.jvm.java.lang.management.ManagementFactory
        old = [p for p in mf.getMemoryPoolMXBeans()
               if str(p.getType().toString()) == "Heap memory"
               and any(g in str(p.getName()) for g in ("Old", "Tenured"))]
        last = None
        for _ in range(4):
            mf.getMemoryMXBean().gc()
            used = sum(p.getCollectionUsage().getUsed() for p in old) / 2**20
            if last is not None and used > last - 1:
                break
            last = used
            time.sleep(0.3)
        return min(used, last)

    def code_cache_mb(self):
        mf = self.jvm.java.lang.management.ManagementFactory
        return sum(p.getUsage().getUsed() for p in mf.getMemoryPoolMXBeans()
                   if "Code" in str(p.getName())) / 2**20


def clear_state(spark):
    """Drop what an op persisted, so ops stay independent. The RDDs go
    first and blocking: the cache manager's own unpersist does not wait, and
    its removals would overlap the next op."""
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)
    spark._jsparkSession.sharedState().cacheManager().clearCache()


def digest_frame(df):
    import pyspark.sql.functions as F
    h = F.xxhash64(*[df[c] for c in df.columns]).cast("decimal(38,0)")
    return df.select(h.alias("h")).agg(F.count(F.lit(1)).alias("n"), F.sum("h").alias("s"))


def drain(df):
    """Run the digest frame; returns ((rows, hash_sum), digest frame)."""
    d = digest_frame(df)
    row = d.collect()[0]
    return (int(row["n"]), int(row["s"] or 0)), d


# ── Spark's XXH64 (seed 42) for LONG columns, vectorised ────────────────
_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)


def _rotl(x, r):
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _hash_long(v, seed):
    with np.errstate(over="ignore"):
        h = seed + _P5 + np.uint64(8)
        h ^= _rotl(v * _P2, 31) * _P1
        h = _rotl(h, 27) * _P1 + _P4
        h ^= h >> np.uint64(33)
        h *= _P2
        h ^= h >> np.uint64(29)
        h *= _P3
        h ^= h >> np.uint64(32)
    return h


def long_digest(*cols):
    """The digest Spark computes for a frame of non-null LONG columns."""
    n = len(cols[0]) if cols else 0
    h = np.full(n, 42, dtype=np.uint64)
    for c in cols:
        h = _hash_long(np.asarray(c, dtype=np.int64).view(np.uint64), h)
    return n, int(h.view(np.int64).astype(object).sum()) if n else 0
