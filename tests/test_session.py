"""What the long-lived driver keeps between passes over the same plans."""

from __future__ import annotations


def test_generated_code_is_compiled_once_per_process(spark, sf_dir):
    """A second pass of the gated benchmark workloads' builders compiles
    no generated class.  CodeGenerator keys its cache by (classloader,
    source); one pass of store_updates fills 98 entries and one of
    parse_kernels 43.  At Spark's default of 100 entries a pass evicted
    part of its own working set, so every later pass compiled those
    classes again.  Which entries a 100-entry cache keeps depends on the
    classloader's identity hash, so store_updates alone fits by chance in
    some processes; the two workloads together never fit."""
    from perfbench.workloads import workloads
    from vunnel_spark.registry import all_queries

    builders = all_queries()
    names = [q for w in ("store_updates", "parse_kernels") for q in workloads()[w].queries]
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def one_pass():
        for name in names:
            builders[name](spark, sf_dir)._jdf.queryExecution().toRdd().count()
            spark.catalog.clearCache()

    one_pass()
    before = compiles.getCount()
    one_pass()
    assert compiles.getCount() == before


def test_python_tasks_reuse_zip_directories(spark):
    """A Python task after the first reads no zip archive's directory
    again.  PySpark's worker calls importlib.invalidate_caches() at the
    start of every task; before CPython 3.13 each of a worker's
    zipimporters then read its archive's whole directory (pyspark.zip has
    1,328 entries).  The workers fork from vunnel_spark.worker_daemon,
    which reads an archive again only when it has changed.  The row
    function counts the reads one more invalidate_caches() makes."""
    from vunnel_spark.row_stage import row_stage

    assert spark.conf.get("spark.python.daemon.module") == "vunnel_spark.worker_daemon"

    def count_reads(_):
        import importlib
        import zipimport

        read = zipimport._read_directory
        reads = []

        def counted(archive):
            reads.append(archive)
            return read(archive)

        zipimport._read_directory = counted
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        yield (len(reads),)

    df = spark.range(1).coalesce(1)
    stage = row_stage(df, "reads int", ["id"], count_reads)
    stage.collect()
    assert stage.collect()[0].reads == 0


def test_python_tasks_freeze_the_worker_heap(spark):
    """After a reused worker's first task, its post-task collections scan
    only what the last task made.  PySpark's daemon runs a full
    gc.collect() after every task; vunnel_spark.worker_daemon freezes the
    survivors after each, so the import-time heap (about 74k objects) is
    walked once per worker, not once per task.  The row function reports
    its worker's unfrozen GC-tracked objects and frozen count; the frozen
    count staying flat over repeated tasks guards against the freeze
    holding on to each task's objects."""
    from collections import defaultdict

    from vunnel_spark.row_stage import row_stage

    def probe(_):
        import gc
        import os

        yield (os.getpid(), len(gc.get_objects()), gc.get_freeze_count())

    stage = row_stage(spark.range(1).coalesce(1), "pid int, unfrozen int, frozen long",
                      ["id"], probe)
    seen = defaultdict(list)  # worker pid -> its probes, in task order
    for _ in range(150):  # idle workers take tasks in turn: a few may share them
        row = stage.collect()[0]
        seen[row.pid].append(row)
        if len(seen[row.pid]) == 12:
            break
    runs = max(seen.values(), key=len)
    assert len(runs) == 12, {pid: len(r) for pid, r in seen.items()}
    assert all(r.unfrozen < 5000 for r in runs[1:]), [r.unfrozen for r in runs]
    assert len({r.frozen for r in runs[2:]}) == 1, [r.frozen for r in runs]
