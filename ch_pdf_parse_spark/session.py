"""SparkSession factory with scale-oriented defaults.

Defaults target the sandbox (single-JVM local[N]) but every knob is the one
that matters on a real multi-executor cluster at 10^12 documents:

* AQE on (runtime coalescing + skew-join splitting, SURVEY.md §4 Q5/Q6),
* Arrow execution for the pandas-UDF kernels (no per-row Python, input_hint),
* nested-schema pruning so the `spans` struct scans only referenced fields.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the driver heap's share of physical RAM: the rest stays for the Python
# workers (a few GiB under load), the OS page cache and the JVM's off-heap
DRIVER_MEM_FRACTION = 0.5
DRIVER_MEM_CAP_MB = 48 * 1024


def default_driver_memory(phys_bytes: int | None = None) -> str:
    """The driver heap to launch with: the smaller of 48g and
    ``DRIVER_MEM_FRACTION`` of physical RAM (``phys_bytes``, read from the
    OS when None), so the defaults also launch on a small host. 48g when
    the OS does not report its memory."""
    if phys_bytes is None:
        try:
            phys_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        except (AttributeError, OSError, ValueError):
            phys_bytes = 0
    if phys_bytes <= 0:
        return f"{DRIVER_MEM_CAP_MB}m"
    mb = int(phys_bytes * DRIVER_MEM_FRACTION) // (1024 * 1024)
    return f"{max(1, min(DRIVER_MEM_CAP_MB, mb))}m"


def get_spark(
    app_name: str = "ch-pdf-parse-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    **extra: str,
) -> SparkSession:
    if cores is None:
        cores_s = os.environ.get("SPARK_GRAFT_CPUS", "*")
    else:
        cores_s = str(cores)
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))

    # JVM stability: this box's Xeon + OpenJDK 17 crashed the driver JVM with
    # SIGSEGV in StubRoutines::jlong_disjoint_arraycopy_avx3 under sustained
    # 32-way Arrow/parquet load (round-6 bench at sf1.0 — 2 of 3 bench
    # repeats + warmup died; VERDICT.md recounts the r6 crash). That stub
    # family is the AVX-512 arraycopy intrinsic; capping the JIT at AVX2
    # avoids it with negligible cost for this workload (measured: within
    # run-to-run noise).
    # Applies at JVM launch (client mode passes driver extraJavaOptions to the
    # java command line); env-overridable for hosts without the erratum.
    java_opts = os.environ.get("SPARK_GRAFT_JAVA_OPTS", "-XX:UseAVX=2")

    b = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores_s}]")
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.executor.extraJavaOptions", java_opts)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # measured r2 on the 40k flagship: one Arrow batch usually covers a
        # whole ~400-doc task, so this is NOT a big lever; 8192 keeps the
        # small consistent edge (~5%) on unevenly-coalesced partitions while
        # bounding batch memory (~30MB/worker at ~4KB/doc). 40000 regressed
        # 30% (giant batches kill pipelining) — don't chase it higher.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        # AQE is OFF for cached-plan subtrees unless this is set (Spark
        # keeps cached output partitioning stable by default so existing
        # cache entries stay reusable). This engine persists shared
        # intermediates precisely in its widest compositions (shingle +
        # fused-signature tables under the dedup detectors, the two
        # relational-twin intermediates), so with the default every stage
        # under a persist runs at the full initial shuffle partition count
        # — measured round 6 on dedup_clusters at local[32]/128 partitions
        # over sf0.1: 21 s warm with the default, 8.3-9.7 s with this on
        # (the 128 near-empty reduce tasks per detector stage collapse),
        # matching what hard-coding shuffle.partitions=16 achieves while
        # keeping the scale-correct high initial partitioning.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
                "true")
        # heap must cover (concurrent scan tasks x reader-batch bytes): the
        # nested spans rows are wide, so a 32-way scan of an oversized-doc
        # corpus OOM'd the vectorized reader at 8g ("Cannot reserve additional
        # contiguous bytes"). Shrinking columnarReaderBatchSize instead would
        # also fix it but costs 2.4x wall (measured 1024 vs 4096 at 32 cores);
        # size the heap, keep the reader batch at its default.
        #
        # r7: 16g -> 48g. BOTH JVM SIGSEGVs on the 32-core bench host (the r6
        # crash VERDICT.md recounts, and a later one) struck arraycopy stubs
        # at ~85-95% heap occupancy under GC storms (740 GCs at 186 s; 20
        # FULL GCs at 112 s), with the faulting address OUTSIDE the Java
        # heap — an unmapped native/mmap region touched mid-copy, the classic
        # near-OOM off-heap use-after-free window. The sf1.0 composable wire
        # path holds 32 in-flight ~82 MB binary rows plus the full spans
        # payload both directions; 16g sat permanently at the GC ceiling. 48g
        # (of the 125 GiB box) keeps the same workload under ~40% occupancy;
        # python workers use a few GiB. A smaller host gets half its RAM
        # (default_driver_memory): with a 48g heap, a default session on a
        # 15 GiB host was OOM-killed on a dedup workload.
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in extra.items():
        b = b.config(k, v)
    return b.getOrCreate()
