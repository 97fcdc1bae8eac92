"""SparkSession construction tuned for the record-linkage pipeline.

Local mode in the sandbox; the same config block is what we'd ship in
``spark-submit --conf`` form on a real cluster. AQE is on (runtime
coalescing + skew-join splitting), shuffle partitions track core count
instead of the 200 default, and Arrow is enabled for the pandas-UDF
similarity stage.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

_BYTE_UNITS = {"b": 0, "k": 1, "m": 2, "g": 3, "t": 4, "p": 5}


def get_spark(
    app_name: str = "rlr_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env; default the
    number of cores this process may run on, ``os.sched_getaffinity``).
    ``shuffle_partitions`` defaults to the local core count — on a real
    cluster this would be ~2-3x total executor cores instead.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0)))
        master = f"local[{cpus}]"

    # Python workers unpickle our pandas UDFs, so the package root must be
    # importable in the *worker* interpreter, not just the driver. Locally
    # that's PYTHONPATH; on a real cluster the same is achieved with
    # ``spark-submit --py-files rlr_spark.zip`` (BASELINE.md deployment shape).
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + existing if existing else "")
        )
    extra_conf = dict(extra_conf or {})
    # local-cluster / standalone executors are separate JVMs whose Python
    # workers don't inherit the driver env — ship the path explicitly
    extra_conf.setdefault("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
    cores = _master_cores(master)
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 4)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # 3 tasks per core (the standard Spark sizing): fine enough that
        # a skewed straggler doesn't idle the other cores, and the floor
        # AQE's parallelismFirst coalescing respects
        .config("spark.default.parallelism", str(max(cores * 3, 4)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # NOTE on AQE and explode-joins: AQE sizes post-shuffle
        # partitions from the shuffle's INPUT bytes, but candidate-pair
        # joins have quadratic OUTPUT — a few MB of (key, salt) rows
        # explode into tens of millions of pairs, and the default 1 MB
        # minPartitionSize coalesced those join stages to 1-6 tasks
        # (measured: 62 s of join CPU on 6 tasks at 32 cores). Rather
        # than lower the floor session-wide (a 64 KB floor fixed the
        # pair joins but cost every small latency-bound query ~0.5-1 s
        # in tiny-task overhead — measured, interleaved A/B), the pair
        # generators repartition their join inputs explicitly by
        # (key, salt) to defaultParallelism (blocking.py), which AQE
        # does not coalesce. Everything else keeps default AQE sizing.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Sort-based shuffle writer for everything but the tiniest
        # shuffles: the bypass writer opens ONE FILE PER REDUCE
        # PARTITION per map task, so a 192-task map stage feeding 96
        # reduce partitions creates ~18k shuffle files — measured as
        # ~0.25 s/task of non-CPU time that dominated every small-input
        # stage of the pairs job (pairs stage 8.5 s -> 4.7 s from this
        # alone). The sort writer emits one file + index per map task.
        # At scale the default (200) is moot anyway: shuffle partition
        # counts exceed it and the sort path is already taken; this just
        # stops the small-shuffle regime from paying the file fan-out.
        .config("spark.shuffle.sort.bypassMergeThreshold", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config(
            "spark.driver.memory",
            os.environ.get("RLR_DRIVER_MEM")
            or _driver_memory(
                os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
            ),
        )
        .config("spark.ui.enabled", "false")
        # binary html columns can make fat rows; keep broadcasts conservative
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # file-scan split sizing: splits = totalBytes/defaultParallelism
        # floored by openCostInBytes. The 4 MB default floor leaves a
        # ~25 MB compressed-text corpus at <8 tasks even with 16+ cores;
        # ER stages do heavy CPU per input byte (extract UDF, 48-perm
        # minhash), so small splits are right. At 100 TB the
        # bytes-per-core term dominates and this floor is irrelevant.
        .config("spark.sql.files.openCostInBytes", str(512 * 1024))
        # stage outputs: multiple row groups per file so downstream
        # scans can split single files (parquet writer flush size)
        .config("spark.hadoop.parquet.block.size", str(8 * 1024 * 1024))
    )
    # shuffle spill dir: prefer tmpfs when present (the local analogue of
    # pointing spark.local.dir at executor-local NVMe on a real cluster);
    # override with RLR_LOCAL_DIR, opt out with RLR_LOCAL_DIR="".
    local_dir = os.environ.get("RLR_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/rlr_spark_local"
    if local_dir:
        os.makedirs(local_dir, exist_ok=True)
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _driver_memory(phys_bytes: int) -> str:
    """Default ``spark.driver.memory``: 16g, or half of physical memory
    on a smaller host, so the driver heap never claims the whole box
    (``RLR_DRIVER_MEM`` overrides)."""
    return f"{min(16 * 1024, phys_bytes // 2**20 // 2)}m"


def byte_size(text: str) -> int:
    """A Spark byte-size setting in bytes: ``"67108864"``, ``"10MB"``,
    ``"64m"``, ``"-1"`` (Spark's rules: binary units, case free, an
    optional ``b`` after the letter, a bare number in bytes)."""
    m = re.fullmatch(r"\s*(-?\d+)\s*([bkmgtp]?)b?\s*", text.lower())
    if m is None:
        raise ValueError(f"not a byte size: {text!r}")
    return int(m.group(1)) * 1024 ** _BYTE_UNITS[m.group(2) or "b"]


def _master_cores(master: str) -> int:
    """Parse the total core count out of local[N] / local-cluster[N,C,mem]."""
    if master.startswith("local[") and master.endswith("]"):
        inner = master[len("local[") : -1]
        if inner == "*":
            return os.cpu_count() or 4
        try:
            return int(inner)
        except ValueError:
            return 4
    if master.startswith("local-cluster[") and master.endswith("]"):
        # N executors x C cores: defaultParallelism must track the real
        # core count or scan-split sizing and repartition targets are
        # computed for the wrong cluster size
        try:
            n, c, _ = master[len("local-cluster[") : -1].split(",")
            return int(n) * int(c)
        except ValueError:
            return os.cpu_count() or 4
    return os.cpu_count() or 4
