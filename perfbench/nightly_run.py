"""The nightly ingest sequence, traced.

Stages a few seeded nights into a batch directory and calls
``nightly_curation_update`` once per night, runs
``weekly_curation_compaction`` after the configured night and
``curation_state_audit`` at the end. The staging and state
directories are removed whatever happens.
"""

from __future__ import annotations

import os
import shutil
import time

import gen
import workloads as W


class LegClock(dict):
    """Passed as a composite's ``timings=`` argument. The composite
    stores each leg's seconds when the leg ends; at that moment this
    records the leg's span and moves the job group on to the next leg,
    so stage metrics split by leg. Work before the first leg (listing
    new files) is grouped with it; work after the last goes to a
    ``commit`` group."""

    def __init__(self, tracer, stages, legs, prefix: str):
        super().__init__()
        self.tracer, self.stages, self.legs, self.prefix = tracer, stages, legs, prefix
        self.done: list[tuple[str, str, float, str]] = []  # leg, module, s, group
        self.in_order = True
        stages.set_group(self._group(0))

    def _group(self, i: int) -> str:
        leg = self.legs[i][0] if i < len(self.legs) else "commit"
        return f"{self.prefix}:{leg}"

    def __setitem__(self, leg: str, seconds: float) -> None:
        super().__setitem__(leg, seconds)
        now = time.perf_counter()
        i = len(self.done)
        expected, module = self.legs[i] if i < len(self.legs) else (None, "nightly")
        self.in_order &= leg == expected
        self.tracer.record(leg, module, now - seconds, now, phase="nightly")
        self.done.append((leg, module, seconds, self._group(i)))
        self.stages.set_group(self._group(i + 1))

    def legs_with_metrics(self, kind: str, night: int) -> list[dict]:
        return [
            {"leg": leg, "module": module, "seconds": s, "kind": kind,
             "night": night, "stages": self.stages.read(group)}
            for leg, module, s, group in self.done
        ]

    def commit_metrics(self) -> dict:
        return self.stages.read(self._group(len(self.legs)))


def _flagged(out: dict) -> set[int]:
    """Doc ids tonight's minhash leg marks as near-duplicates."""
    rows = out["minhash"].select("doc_id", "is_near_dup", "keep").collect()
    return {r["doc_id"] for r in rows if r["is_near_dup"] or not r["keep"]}


def run_sequence(spark, seed: int, root: str, tracer, stages) -> dict:
    from mpi_mapreduce_spark.operators.nightly import (
        curation_state_audit,
        nightly_curation_update,
        weekly_curation_compaction,
    )

    tracer.enabled = True
    shutil.rmtree(root, ignore_errors=True)
    try:
        src, batch, state = (os.path.join(root, d) for d in ("src", "batch", "state"))
        plan = gen.nightly_batches(
            seed, src, W.NIGHTS, W.DOCS_PER_NIGHT, W.VECS_PER_NIGHT
        )
        legs, other, failures, nights = [], [], [], []
        flagged: set[int] = set()
        compaction_s = 0.0
        with tracer.span("nightly", "bench", phase="nightly"):
            for k in range(W.NIGHTS):
                for sub in ("docs", "vecs"):
                    os.makedirs(os.path.join(batch, sub), exist_ok=True)
                    shutil.copy(
                        os.path.join(src, f"night{k}", sub, "part.parquet"),
                        os.path.join(batch, sub, f"night{k}.parquet"),
                    )
                clock = LegClock(tracer, stages, W.NIGHT_LEGS, f"{tracer.run_id}:night{k}")
                with tracer.span(f"night{k}", "nightly", phase="nightly") as ns:
                    out, files = nightly_curation_update(spark, batch, state, timings=clock)
                stages.set_group(None)
                legs.extend(clock.legs_with_metrics("night", k))
                other.append(clock.commit_metrics())
                nights.append({"night": k, "seconds": ns.seconds, "files": len(files),
                               "legs_in_order": clock.in_order})
                if out is None or len(files) != 2:
                    failures.append({"job": f"night{k}", "phase": "nightly",
                                     "error": f"ingested {len(files)} files, expected 2"})
                else:
                    flagged |= _flagged(out)
                if k == W.COMPACT_AFTER_NIGHT:
                    clock = LegClock(tracer, stages, W.COMPACTION_LEGS,
                                     f"{tracer.run_id}:compaction")
                    with tracer.span("compaction", "nightly", phase="nightly") as cs:
                        weekly_curation_compaction(spark, state, timings=clock)
                    stages.set_group(None)
                    compaction_s = cs.seconds
                    legs.extend(clock.legs_with_metrics("compaction", k))
            stages.set_group(f"{tracer.run_id}:audit")
            with tracer.span("audit", "nightly", phase="nightly") as aus:
                audit = [r.asDict() for r in curation_state_audit(spark, state).collect()]
            stages.set_group(None)
            other.append(stages.read(f"{tracer.run_id}:audit"))
        violations = W.audit_violations(audit)
        if violations:
            failures.append({"job": "curation_state_audit", "phase": "nightly",
                             "error": f"violations: {violations}"})
        state_bytes = W.dir_bytes(state)
        ingested = sum(n["bytes"] for n in plan["nights"])
        planted = plan["planted"]
        hits = [copy_id in flagged for copy_id, _, _ in planted]
        return {
            "legs": legs,
            "other_stages": other,
            "compaction_s": compaction_s,
            "audit_s": aus.seconds,
            "state_bytes": state_bytes,
            "failures": failures,
            "attempted": W.NIGHTS + 2,
            "details": {
                "nights": nights,
                "ingested_bytes": ingested,
                "state_bytes_per_input_byte": state_bytes / ingested,
                "audit_violations": violations,
                "audit_counters": len(audit),
                "dup_recall": sum(hits) / len(hits) if hits else None,
                "planted": len(hits),
            },
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)
