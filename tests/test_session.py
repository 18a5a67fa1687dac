"""Session factory: machine-derived defaults and compiled-code reuse
across repeated calls of the registered queries."""

from __future__ import annotations

import os
import subprocess
import sys

from tests.conftest import REPO_ROOT


def test_defaults_follow_the_machine():
    """With the sizing variables unset, the CPU count is the process's
    affinity set and the driver heap stays below physical memory."""
    env = {
        k: v
        for k, v in os.environ.items()
        if k not in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM")
    }
    out = subprocess.run(
        [
            sys.executable,
            "-c",
            "from mpi_mapreduce_spark import session as s; "
            "print(s.DEFAULT_CPUS, s.DEFAULT_DRIVER_MEM)",
        ],
        cwd=REPO_ROOT,
        env=env,
        capture_output=True,
        text=True,
        check=True,
    ).stdout.split()
    cpus, mem = int(out[0]), out[1]
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    assert cpus == len(os.sched_getaffinity(0))
    assert mem.endswith("m") and 0 < int(mem[:-1]) < phys_mb


def test_warm_calls_reuse_compiled_code(spark, sf_dir):
    """The codegen cache holds the curation jobs' working set, so once
    warm a registered query compiles nothing. Two warm-up calls: the
    second dedup_canonical_corpus call reads its persisted shingle
    index, which is a new plan."""
    from mpi_mapreduce_spark.plans.registry import QUERIES
    from mpi_mapreduce_spark.session import CODEGEN_CACHE_ENTRIES

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    names = (
        "dedup_canonical_corpus",
        "pipeline_canonical_minhash",
        "text_bpe_encode",
    )

    def one_pass():
        before = metrics.METRIC_COMPILATION_TIME().getCount()
        for name in names:
            QUERIES[name](spark, sf_dir).toPandas()
        return metrics.METRIC_COMPILATION_TIME().getCount() - before

    one_pass()
    one_pass()
    assert one_pass() == 0
