#!/usr/bin/env python3
"""The engine's benchmark: seeded inputs, closed-loop workloads,
checked outputs, one JSON result line.

    python3 perfbench/run.py --workload analytics_batch --seed 1 --seconds 10 --trace 0

One client submits each job after the previous one finishes, on
``local[<cpus>]``. A run measures set-up, one cold pass in the fresh
session, then warm passes until ``--seconds`` have elapsed and the
workload's minimum pass count ran. Every job's output is checked
outside the timed region. ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer ones (see README.md).
The last stdout line is the result; the line before it holds the
details (environment, input sizes, tail percentile, recall, per job).
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import time
import traceback

from sparkenv import WORK, configure_env, mem_total_mb, start_session, stop_session


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class Runner:
    """Runs passes of a workload's jobs against one session and keeps
    every sample, failure and (when tracing) stage metric."""

    def __init__(self, spark, workload, table_dir, meta, tracer, stages):
        self.spark, self.workload = spark, workload
        self.table_dir, self.meta = table_dir, meta
        self.tracer, self.stages = tracer, stages
        self.attempted = 0
        self.failures: list[dict] = []
        self.outputs: dict[str, object] = {}  # last result per job

    def run_pass(self, phase: str, traced: bool) -> dict:
        """One pass over the jobs; returns per-job walls (and stage
        metrics when ``traced``) plus the pass wall."""
        from mpi_mapreduce_spark.plans.registry import QUERIES

        import workloads as W
        from tracing import tree_cpu_s

        jobs, checks = {}, []
        self.tracer.enabled = traced
        t_pass = time.perf_counter()
        with self.tracer.span(phase, "bench", phase=phase):
            for job in self.workload.jobs:
                group = f"{self.tracer.run_id}:{phase}:{job.name}"
                if traced:
                    self.stages.set_group(group)
                self.attempted += 1
                cpu0 = tree_cpu_s(os.getpid())
                try:
                    with self.tracer.span(job.name, job.module, phase=phase) as js:
                        with self.tracer.span("construct", "plans", phase=phase) as cs:
                            df = QUERIES[job.name](self.spark, self.table_dir)
                        pdf = df.toPandas()
                except Exception:  # a failed job is counted, not fatal
                    self.failures.append(
                        {"job": job.name, "phase": phase, "error": traceback.format_exc(limit=3)}
                    )
                    continue
                jobs[job.name] = {
                    "wall_s": js.seconds,
                    "construct_s": cs.seconds,
                    "cpu_s": tree_cpu_s(os.getpid()) - cpu0,
                }
                checks.append((job, pdf))
        wall = time.perf_counter() - t_pass
        if traced:
            self.stages.set_group(None)
            for name, rec in jobs.items():
                rec["stages"] = self.stages.read(f"{self.tracer.run_id}:{phase}:{name}")
        for job, pdf in checks:  # outside the timed region
            err = W.check_output(job, pdf, self.meta["expected"])
            if err and "digest" in err:
                err += "; " + W.oracle_diff(job, pdf, self.table_dir)
            if err:
                self.failures.append({"job": job.name, "phase": phase, "error": err})
            self.outputs[job.name] = pdf
        return {"jobs": jobs, "wall_s": wall}


def _end_to_end(workload, meta, setup_s, cold, warm, rss_mb) -> tuple[dict, dict]:
    """End-to-end figures: set-up wall, and CPU seconds of the driver
    JVM and its Python workers, which steal time on a shared machine
    does not inflate. Wall-clock figures go to the details. Warm figures
    use each job's best (lowest) value over the warm passes."""
    import workloads as W
    from tracing import median, tail_percentile

    def best(field: str) -> dict[str, float]:
        return {
            job.name: min(p["jobs"][job.name][field] for p in warm if job.name in p["jobs"])
            for job in workload.jobs
            if any(job.name in p["jobs"] for p in warm)
        }

    cpu, wall = best("cpu_s"), best("wall_s")
    rows = W.rows_per_pass(workload, meta)
    samples = [r["wall_s"] for p in warm for r in p["jobs"].values()]
    metrics = {
        "setup_s": (setup_s, "s"),
        "cold_pass_cpu_s": (sum(r["cpu_s"] for r in cold["jobs"].values()), "s"),
        "rows_per_cpu_s": (rows / sum(cpu.values()) if cpu else 0.0, "rows/s"),
    }
    details = {
        "job_p50_cpu_s": median(cpu.values()),
        "cold_pass_s": sum(r["wall_s"] for r in cold["jobs"].values()),
        "job_p50_s": median(wall.values()),
        "throughput_rows_s": rows / sum(wall.values()) if wall else 0.0,
        "peak_rss_mb": rss_mb,
        "warm_passes": len(warm),
        "warm_jobs": len(samples),
        "job_tail": tail_percentile(samples),
        "rows_per_pass": rows,
        "cold_jobs_s": {k: r["wall_s"] for k, r in cold["jobs"].items()},
        "warm_jobs_s": [{k: r["wall_s"] for k, r in p["jobs"].items()} for p in warm],
        "warm_cpu_s": [{k: r["cpu_s"] for k, r in p["jobs"].items()} for p in warm],
    }
    return metrics, details


def _per_layer(ctx) -> tuple[dict, dict]:
    """Per-layer metrics from the traced sections of a --trace 1 run."""
    import workloads as W
    from tracing import STAGE_FIELDS, add_into, median

    traced, untraced, single = ctx["traced"], ctx["untraced"], ctx["single"]
    night = ctx.get("nightly") or {}
    by_module = {m: {} for m in W.MODULES}
    module_wall = dict.fromkeys(W.MODULES, 0.0)
    batch_wall = dict.fromkeys(W.MODULES, 0.0)
    batch_wall_1 = dict.fromkeys(W.MODULES, 0.0)
    batch = dict.fromkeys(STAGE_FIELDS, 0.0)
    for job in ctx["workload"].jobs:
        rec = traced["jobs"].get(job.name)
        if rec:
            add_into(by_module[job.module], rec["stages"])
            add_into(batch, rec["stages"])
            batch_wall[job.module] += rec["wall_s"]
        rec1 = single["jobs"].get(job.name)
        if rec1:
            batch_wall_1[job.module] += rec1["wall_s"]
    module_wall = dict(batch_wall)
    everything = dict(batch)
    for leg in night.get("legs", []):
        # a leg the composite adds later lands under "nightly"
        add_into(by_module.setdefault(leg["module"], {}), leg["stages"])
        add_into(everything, leg["stages"])
        module_wall[leg["module"]] = module_wall.get(leg["module"], 0.0) + leg["seconds"]
    for part in night.get("other_stages", []):
        add_into(everything, part)
    self_s = ctx["self_s"]

    m: dict[str, tuple[float, str]] = {
        "session.start_s": (ctx["setup_s"], "s"),
        "sources.scan_s": (everything.get("scan_s", 0.0), "s"),
        "sources.input_bytes": (everything.get("input_bytes", 0.0), "bytes"),
        "sources.input_rows": (everything.get("input_rows", 0.0), "rows"),
        "sources.output_bytes": (everything.get("output_bytes", 0.0), "bytes"),
        "plans.construct_s": (sum(r["construct_s"] for r in traced["jobs"].values()), "s"),
        "plans.jobs": (batch["jobs"], "count"),
        "plans.stages": (batch["stages"], "count"),
        "plans.tasks": (batch["tasks"], "count"),
    }
    for mod in W.MODULES:
        st = by_module[mod]
        m[f"{mod}.exec_s"] = (module_wall[mod], "s")
        m[f"{mod}.self_s"] = (self_s.get(mod, 0.0), "s")
        m[f"{mod}.executor_cpu_s"] = (st.get("executor_cpu_s", 0.0), "s")
        m[f"{mod}.shuffle_write_bytes"] = (st.get("shuffle_write_bytes", 0.0), "bytes")
        m[f"{mod}.spill_bytes"] = (st.get("spill_bytes", 0.0), "bytes")
        m[f"{mod}.gc_s"] = (st.get("gc_s", 0.0), "s")
        m[f"{mod}.task_skew"] = (st.get("task_skew", 0.0), "ratio")
        one, many = batch_wall_1[mod], batch_wall[mod]
        m[f"{mod}.speedup_1core"] = (one / many if one and many else 0.0, "ratio")
    cand = ctx.get("candidate_pairs", 0)
    verified = ctx.get("verified_pairs", 0)
    m["dedup.candidate_pairs"] = (cand, "count")
    m["dedup.verified_pairs"] = (verified, "count")
    m["dedup.verify_yield"] = (verified / cand if cand else 0.0, "ratio")
    for leg, _ in W.NIGHT_LEGS:
        warm_legs = [
            x["seconds"] for x in night.get("legs", [])
            if x["leg"] == leg and x["kind"] == "night" and x["night"] > 0
        ]
        m[f"nightly.{leg}_s"] = (median(warm_legs), "s")
    m["nightly.compaction_s"] = (night.get("compaction_s", 0.0), "s")
    m["nightly.audit_s"] = (night.get("audit_s", 0.0), "s")
    m["nightly.state_bytes"] = (night.get("state_bytes", 0), "bytes")
    m["nightly.self_s"] = (self_s.get("nightly", 0.0), "s")
    overhead = traced["wall_s"] - untraced["wall_s"]
    m["trace.overhead_s"] = (overhead, "s")
    m["trace.overhead_share"] = (overhead / untraced["wall_s"], "ratio")
    m["pass.speedup_1core"] = (single["wall_s"] / untraced["wall_s"], "ratio")
    details = {
        "per_job": {
            name: {
                "wall_s": rec["wall_s"],
                "construct_s": rec["construct_s"],
                "jobs": rec["stages"]["jobs"],
                "stages": rec["stages"]["stages"],
                "tasks": rec["stages"]["tasks"],
                "task_skew": rec["stages"]["task_skew"],
            }
            for name, rec in traced["jobs"].items()
        },
        "traced_pass_s": traced["wall_s"],
        "untraced_pass_s": untraced["wall_s"],
        "single_core_pass_s": single["wall_s"],
    }
    return m, details


def _candidate_pairs(spark, table_dir, stages, group) -> int:
    """Candidate pairs banded MinHash proposes on the exact-collapsed
    corpus, i.e. the attempts behind pipeline_canonical_minhash."""
    from mpi_mapreduce_spark.datamodel import load_table
    from mpi_mapreduce_spark.operators.dedup import exact_canonical_docs, minhash_candidates

    stages.set_group(group)
    n = minhash_candidates(exact_canonical_docs(load_table(spark, table_dir, "documents"))).count()
    stages.set_group(None)
    return n


def _environment(spark, env: dict, seed: int) -> dict:
    import pyspark

    return {
        "seed": seed,
        "cpus": int(env["SPARK_GRAFT_CPUS"]),
        "driver_mem": env["SPARK_GRAFT_DRIVER_MEM"],
        "mem_total_mb": mem_total_mb(),
        "spark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "master": spark.sparkContext.master,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    env = configure_env()
    import mpi_mapreduce_spark.session  # noqa: F401  (part of set-up)

    from tracing import since_process_start, steal_s

    boot_s = since_process_start()
    steal0 = steal_s()

    import nightly_run
    import workloads as W
    from tracing import RssSampler, StageMetrics, Tracer

    if args.workload not in W.WORKLOADS:
        print(f"unknown workload {args.workload!r}; have {sorted(W.WORKLOADS)}", file=sys.stderr)
        return 2
    workload = W.WORKLOADS[args.workload]
    trace = bool(args.trace)
    phase_s = {}
    t = time.perf_counter()
    table_dir, meta = W.prepare(workload, args.seed, os.path.join(WORK, "cache"))
    phase_s["prepare"] = time.perf_counter() - t
    tracer = Tracer(enabled=False)
    with RssSampler() as rss:
        t0 = time.perf_counter()
        spark = start_session()
        spark.range(1).count()
        main_setup = boot_s + time.perf_counter() - t0
        try:
            env_info = _environment(spark, env, args.seed)
            stages = StageMetrics(spark)
            runner = Runner(spark, workload, table_dir, meta, tracer, stages)
            cold = runner.run_pass("cold", traced=False)
            phase_s["cold"] = time.perf_counter() - t0 - main_setup + boot_s
            warm = []
            t_warm = time.perf_counter()
            # a traced run needs one warm pass before its traced one
            while len(warm) < (1 if trace else workload.min_warm_passes) or (
                not trace and time.perf_counter() - t_warm < args.seconds
            ):
                warm.append(runner.run_pass(f"warm{len(warm)}", traced=False))
            phase_s["warm"] = time.perf_counter() - t_warm
            details: dict = {"workload": workload.name, "env": env_info, "input": meta["tables"]}
            if "planted" in meta:
                details["dedup"] = W.dup_recall(runner.outputs["dedup_canonical_corpus"], meta["planted"])
            ctx = {"workload": workload, "setup_s": main_setup}
            if trace:
                # untraced passes on both sides of the traced one, so
                # the overhead estimate is not a warm-up effect
                ctx["traced"] = runner.run_pass("traced", traced=True)
                after = runner.run_pass("untraced", traced=False)
                ctx["untraced"] = {
                    "jobs": after["jobs"],
                    "wall_s": (warm[-1]["wall_s"] + after["wall_s"]) / 2,
                }
                if "pipeline_canonical_minhash" in runner.outputs:
                    ctx["verified_pairs"] = len(runner.outputs["pipeline_canonical_minhash"])
                    ctx["candidate_pairs"] = _candidate_pairs(
                        spark, table_dir, stages, f"{tracer.run_id}:candidates"
                    )
                # the nightly sequence rides in the lighter of the two
                # traced runs, so neither nears the per-run time limit
                if workload.name == "analytics_batch":
                    ctx["nightly"] = nightly_run.run_sequence(
                        spark, args.seed, os.path.join(WORK, f"nightly-{os.getpid()}"),
                        tracer, stages,
                    )
                    details["nightly"] = ctx["nightly"]["details"]
                    runner.failures.extend(ctx["nightly"]["failures"])
                    runner.attempted += ctx["nightly"]["attempted"]
                ctx["self_s"] = tracer.self_seconds(phases={"traced", "nightly"})
                # single-core baseline: same plans, one task slot
                shuffle = spark.conf.get("spark.sql.shuffle.partitions")
                spark.stop()
                spark = start_session(cpus=1, shuffle_partitions=int(shuffle))
                spark.range(1).count()
                runner.spark = spark
                ctx["single"] = runner.run_pass("single_core", traced=False)
                phase_s["trace_extras"] = time.perf_counter() - t_warm - phase_s["warm"]
        finally:
            stop_session(spark)
    for leftover in _wait_children():
        details.setdefault("killed_processes", []).append(leftover)

    if trace:
        metrics, extra = _per_layer(ctx)
        tracer.write(os.path.join(WORK, "traces", f"{workload.name}-s{args.seed}-{tracer.run_id}.jsonl"))
        details["spans"] = len(tracer.spans)
    else:
        rss_mb = rss.peak_mb
        metrics, extra = _end_to_end(workload, meta, main_setup, cold, warm, rss_mb)
    details.update(extra)
    details["unmeasured"] = W.UNMEASURED
    phase_s["total"] = since_process_start()
    phase_s["steal"] = steal_s() - steal0
    details["phase_s"] = phase_s
    failed = len(runner.failures)
    details["failures"] = runner.failures[:10]
    details["fail_ratio"] = failed / runner.attempted
    print(json.dumps(details, default=float))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": runner.attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        ),
        flush=True,
    )
    return 0


def _wait_children(timeout_s: float = 30.0) -> list[int]:
    """Wait for every process this run started to exit; kill and
    report any still alive after ``timeout_s``."""
    from tracing import descendants

    deadline = time.monotonic() + timeout_s
    while (kids := descendants(os.getpid())) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in kids:
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass
    return kids


if __name__ == "__main__":
    try:
        sys.exit(main())
    finally:
        shutil.rmtree(os.path.join(WORK, "tmp"), ignore_errors=True)
