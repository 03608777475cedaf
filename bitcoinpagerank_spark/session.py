"""SparkSession factory.

Replaces the reference's per-job Hadoop ``Configuration`` + ``Job`` setup
(e.g. /root/reference/src/main/java/com/mikolaj/app/PrepareDataset.java:126-170)
with a single session whose defaults are tuned for iterative graph work:
Arrow enabled for pandas UDFs, a fixed shuffle-partition count so the
iterate loop keeps a stable partitioning (the reference preserved partition
counts by counting part-files + a non-splittable input format,
RunPageRankBasic.java:365-379 / NonSplitableSequenceFileInputFormat.java:23-27;
here partitioning is an explicit property of the plan).
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
MAX_DRIVER_HEAP_GB = 16
SHM_SHUFFLE_BYTES = 8 << 30


def memory_defaults(phys_bytes: int | None,
                    shm_free_bytes: int | None) -> tuple[str, bool]:
    """(driver heap, whether ``spark.local.dir`` goes on /dev/shm) for a
    machine with ``phys_bytes`` of RAM and ``shm_free_bytes`` free on
    /dev/shm (None when unknown or absent).

    The heap is half of RAM in whole GiB, between 1g and 16g — and
    deliberately NOT larger: on a single local JVM a huge heap plus many
    task threads collapses into GC thrash (measured 6× slower at
    local[32] with 64g vs 16g); executors on a real cluster size their
    own heaps per-node. /dev/shm is tmpfs, i.e. RAM, so shuffle files
    there compete with the heap: it is taken only when it has 8 GiB free
    and the RAM beyond the heap holds those 8 GiB twice over (shuffle
    files, plus Python workers, page cache and the OS). On a 4-core
    15.7 GiB machine, where this rule picks disk, a CLI PageRank of an
    866k-edge R-MAT graph ran no faster with its shuffle on /dev/shm
    (medians of 5: 43.4 s with a 7g heap and 43.9 s with 16g on
    /dev/shm, 45.5 s with 7g on disk; single runs 36-54 s)."""
    if not phys_bytes:
        return f"{MAX_DRIVER_HEAP_GB}g", False
    heap_gb = min(MAX_DRIVER_HEAP_GB, max(1, (phys_bytes // 2) >> 30))
    use_shm = (
        shm_free_bytes is not None
        and shm_free_bytes >= SHM_SHUFFLE_BYTES
        and phys_bytes - (heap_gb << 30) >= 2 * SHM_SHUFFLE_BYTES
    )
    return f"{heap_gb}g", use_shm


def _machine_memory() -> tuple[int | None, int | None]:
    """(physical RAM bytes, free /dev/shm bytes), None where unknown."""
    try:
        phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    except (AttributeError, OSError, ValueError):
        phys = None
    try:
        st = os.statvfs("/dev/shm")
        shm = st.f_bavail * st.f_frsize
    except (AttributeError, OSError):
        shm = None
    return phys, shm


def ship_package(spark: SparkSession) -> None:
    """Ship this package to executor Python workers (``sc.addPyFile``).

    On a real cluster this is what ``spark-submit --py-files engine.zip``
    does (the north_rule's deployment shape); in local mode it covers the
    case where the driver imported the package from a path the spawned
    Python workers don't share. Idempotent per session.
    """
    sc = spark.sparkContext
    if sc.environment.get("_bpr_shipped"):
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zpath = os.path.join(
        tempfile.mkdtemp(prefix="bpr_pyfiles"), "bitcoinpagerank_spark.zip"
    )
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _dirs, files in os.walk(pkg_dir):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                    z.write(full, rel)
    sc.addPyFile(zpath)
    sc.environment["_bpr_shipped"] = "1"


def get_spark(
    app_name: str = "bitcoinpagerank_spark",
    master: str | None = None,
    shuffle_partitions: int = DEFAULT_SHUFFLE_PARTITIONS,
    adaptive: bool = True,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a SparkSession with engine defaults, or return the active
    session as it is: its caller's conf (shuffle partitions, AQE, ...)
    is never overwritten by these defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, fallback
    ``local[*]``). AQE is on by default — the PageRank loop pins its own
    partitioning per-stage and disables AQE coalescing locally where a
    stable layout matters (SURVEY.md §4.2 R3).
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        ship_package(active)
        return active
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    heap, use_shm = memory_defaults(*_machine_memory())
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true" if adaptive else "false")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true" if adaptive else "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", heap))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
    )
    # Shuffle/spill files on RAM-backed storage when RAM has room for
    # them (memory_defaults): iterative graph work writes ~|E|-scale
    # shuffle data per iteration, and tmpfs can beat a slow disk. On a
    # real cluster the analog is node-local NVMe (or ramdisk) shuffle
    # dirs — standard practice, set per-node.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None and use_shm:
        local_dir = "/dev/shm/bpr-spark-local"
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    # e.g. -XX:ParallelGCThreads=N when the JVM is taskset-pinned to fewer
    # cpus than the machine reports (the JVM sizes GC threads from the
    # MACHINE's cpu count, oversubscribing the pinned set during GC)
    extra_java = os.environ.get("SPARK_GRAFT_EXTRA_JAVA")
    if extra_java:
        builder = builder.config("spark.driver.extraJavaOptions", extra_java)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ship_package(spark)
    return spark
