#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload crmls_trickle --seed 1 --seconds 5 --trace 0

Flow of one run (one process, one JVM, ``local[<cpus>]``):

1. generate the workload's inputs from ``--seed`` (not timed);
2. set-up, whose driver + JVM CPU seconds are ``setup_s`` (its wall
   time is ``setup_wall_s``): start the session, the workload's own
   start (the CRMLS bootstrap load), then ``warmup`` untimed reps of
   exactly the timed shape;
3. timed reps until ``--seconds`` have passed and at least the
   workload's ``min_reps`` have run; every rep's output is checked
   against a plain-Python reference;
4. with ``--trace 1`` the first half of ``--seconds`` runs untraced
   reps and the second half reps with spans around the program's
   public calls; the run then restarts the context at ``local[1]`` for
   a single-threaded baseline rep and prints the per-layer metrics
   instead of the end-to-end ones.

A detail file with every rep, the host-speed probe, the host's CPU
steal share and (traced) the span summary is written under
``.perfbench_out/`` at the repo root.
"""

from __future__ import annotations

import argparse
import collections
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
OUT_ROOT = os.path.join(ROOT, ".perfbench_out")

# Wall times (latency_p50_s, records_per_s, latency_tail_s,
# setup_wall_s) are per-layer diagnostics: on a host whose CPU is shared
# with other guests they did not repeat within a tenth from run to run
# (steal of up to 23% moved set-up wall time by about 50% and a
# near-dup job by 57%), while CPU time moved by about 15%. setup_s is
# therefore the CPU the set-up interval costs, like cpu_s for a rep;
# both leave out the JVM's JIT compiler threads (see measure.CpuMeter).
END_TO_END = {
    "setup_s": "s",
    "cpu_s": "s",
}

PER_LAYER = {
    "session.start_s": "s",
    "setup_wall_s": "s",
    "pipeline.ingest_s": "s",
    "dedup_stream.upsert_s": "s",
    "dedup_stream.upsert_max_s": "s",
    # median upsert time per CRMLS topic
    **{f"dedup_stream.upsert_s.{t}": "s"
       for t in ("listings", "agents", "openhouse", "offices", "media", "history")},
    "versioned.commit_s": "s",
    "versioned.commits": "count",
    "dedup_stream.replace_s": "s",
    "dedup_stream.replace_cpu_s": "s",
    "pipeline.emit_s": "s",
    "store.rows_rewritten": "count",
    "store.write_amp": "ratio",
    "join.recompute_ratio": "ratio",
    "text.filter_s": "s",
    "similarity.pairs_s": "s",
    "similarity.pairs_cpu_s": "s",
    "similarity.pairs": "count",
    "similarity.recall": "ratio",
    "graph.cc_s": "s",
    "graph.cc_stages": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.exec_cpu_s": "s",
    "spark.gc_s": "s",
    "jvm.jit_cpu_s": "s",
    "spark.driver_cpu_s": "s",
    "spark.shuffle_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.task_skew": "ratio",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "records_per_s": "1/s",
    "trace.overhead_s": "s",
    "baseline.local1_latency_s": "s",
}


def _workloads():
    from perfbench.crmls import CrmlsTrickle
    from perfbench.neardup import NearDupCuration

    return {w.name: w for w in (CrmlsTrickle, NearDupCuration)}


def _median(xs, default=0.0):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else default


def _rate(records: list, latencies: list) -> float:
    """Input records of one rep over the median rep time."""
    p50 = _median(latencies)
    return _median(records) / p50 if p50 else 0.0


def _configure_env(cpus: int, work: str) -> None:
    """Everything the JVM and Python write goes under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.pop("SPARK_MASTER", None)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    # -UsePerfData: HotSpot would otherwise keep a counters file in the
    # system temp directory, outside the checkout
    # -UseDynamicNumberOfCompilerThreads: the JIT compiler threads, whose
    # CPU measure.CpuMeter leaves out of cpu_s, must not come and go
    os.environ["SPARK_GRAFT_DRIVER_JAVA_OPTS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads"
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} pyspark-shell"
    )


def _stop(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    gateway = spark.sparkContext._gateway  # noqa: SLF001
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


class Harness:
    def __init__(self, wl, args):
        from perfbench import measure
        from perfbench.trace import Tracer, nullspan

        self.wl, self.args = wl, args
        self.measure = measure
        self.tracer = Tracer() if args.trace else None
        self.nullspan = nullspan
        self.reps: list[dict] = []
        self.warmup_problems: list[str] = []
        self.warmup_latency_s: list[float] = []
        self.final_problems: list[str] = []
        self.session_s = 0.0
        self.setup_s = 0.0  # CPU seconds, driver + JVM
        self.setup_wall_s = 0.0
        self.baseline: dict = {}
        self.tail_pct = 0.0
        self.span_cost_s = 0.0
        self.setup_jit_cpu_s = 0.0

    def _span(self, name: str):
        return self.tracer.span(name) if self.tracer else self.nullspan(name)

    def run(self, baseline_workload) -> None:
        """The measured run; traced runs then add the single-threaded
        baseline on a fresh ``local[1]`` context in the same JVM."""
        from fink_joiner_spark import session

        wl = self.wl
        t0, py_cpu0 = time.perf_counter(), time.process_time()
        with self._span("session.get_spark"):
            spark = session.get_spark(f"perfbench-{wl.name}")
        self.session_s = time.perf_counter() - t0
        try:
            try:
                self._run(spark, t0, py_cpu0)
            except Exception:  # noqa: BLE001 — a failed set-up is reported, not fatal
                self.warmup_problems.append(traceback.format_exc(limit=5))
            if self.args.trace:
                spark.stop()
                os.environ["SPARK_GRAFT_CPUS"] = "1"  # sizes shuffles like a one-core host
                spark = session.get_spark(f"perfbench-{wl.name}-local1")
                try:
                    self.baseline = self._baseline(spark, baseline_workload())
                except Exception:  # noqa: BLE001
                    self.warmup_problems.append("local[1] baseline: " + traceback.format_exc(limit=5))
        finally:
            _stop(spark)

    def _baseline(self, spark, wl) -> dict:
        """The workload's start and one timed rep at ``local[1]`` (the
        JVM is already warm from the measured run), with its checks;
        returns the rep's figures."""
        wl.span = self.nullspan
        t0 = time.perf_counter()
        problems = wl.start(spark)
        setup_wall = time.perf_counter() - t0
        latency, records = wl.rep(0)
        problems += wl.check() + wl.final_check()
        self.warmup_problems += [f"local[1] baseline: {p}" for p in problems]
        return {"latency_s": latency, "records": records, "setup_wall_s": setup_wall}

    def _run(self, spark, t0: float, py_cpu0: float) -> None:
        wl, args = self.wl, self.args
        wl.span = self.nullspan
        wl.collect_counts = bool(args.trace)
        cpu = self.measure.CpuMeter(spark)
        if self.tracer:
            self.tracer.cpu_clock = lambda: sum(cpu.now())
        self.warmup_problems += wl.start(spark)
        warmup = wl.warmup
        for i in range(warmup):
            self.warmup_latency_s.append(wl.rep(i)[0])
            self.warmup_problems += wl.check()
        self.setup_wall_s = time.perf_counter() - t0
        py_cpu, jvm_cpu = cpu.now()  # the JVM started inside the interval
        self.setup_s = (py_cpu - py_cpu0) + jvm_cpu
        self.setup_jit_cpu_s = cpu.jit_s()

        stages = self.measure.StageReader(spark) if args.trace else None
        phases = [("untraced", args.seconds / 2), ("traced", args.seconds / 2)] if args.trace \
            else [("untraced", args.seconds)]
        i = warmup
        for phase, budget in phases:
            if phase == "traced":
                wl.install_spans(self.tracer)
                wl.span = self.tracer.span
            start = time.perf_counter()
            n = 0
            min_reps = 1 if args.trace else wl.min_reps
            while n < min_reps or time.perf_counter() - start < budget:
                self.reps.append(self._timed_rep(i, phase, cpu, stages))
                i += 1
                n += 1
        if self.tracer:
            self.tracer.restore()
            self.span_cost_s = self.tracer.span_cost_s()
        self.final_problems = wl.final_check()

    def _timed_rep(self, i: int, phase: str, cpu, stages) -> dict:
        wl = self.wl
        if self.tracer:
            self.tracer.rep = i
        rec: dict = {"rep": i, "phase": phase, "problems": []}
        if stages is not None:
            stages.since_last()  # drop the previous check's stages
        c0, jit0 = cpu.now(), cpu.jit_s()
        try:
            latency, records = wl.rep(i)
        except Exception:  # noqa: BLE001 — a failed rep is counted, not fatal
            rec["problems"].append(traceback.format_exc(limit=5))
            return rec
        c1, jit1 = cpu.now(), cpu.jit_s()
        rec.update(latency_s=latency, records=records,
                   cpu_s=(c1[0] - c0[0]) + (c1[1] - c0[1]), driver_py_cpu_s=c1[0] - c0[0],
                   jit_cpu_s=jit1 - jit0)
        if stages is not None:
            st = stages.since_last()
            rec.update(
                stages=st.stages, tasks=st.tasks, exec_cpu_s=st.exec_cpu_s, gc_s=st.gc_s,
                shuffle_bytes=st.shuffle_bytes, spill_bytes=st.spill_bytes,
                task_skew=st.task_skew, stage_submitted_ms=list(st.submitted_ms),
            )
        try:
            rec["problems"] += wl.check()
        except Exception:  # noqa: BLE001
            rec["problems"].append(traceback.format_exc(limit=5))
        if not rec["problems"]:
            rec["counts"] = wl.counts(records)
        return rec

    # -- results ----------------------------------------------------------

    def ok_reps(self) -> list[dict]:
        return [r for r in self.reps if "latency_s" in r]

    def failed(self) -> int:
        if not self.reps:
            return 1  # set-up failed before the first timed rep
        bad = sum(1 for r in self.reps if r["problems"])
        if self.final_problems and not self.reps[-1]["problems"]:
            bad += 1  # the final snapshot check belongs to the last rep
        return bad

    def end_to_end(self) -> dict[str, float]:
        return {
            "setup_s": self.setup_s,
            "cpu_s": _median([r["cpu_s"] for r in self.ok_reps()]),
        }

    def per_layer(self) -> dict[str, float]:
        """Span times are medians over traced reps; counts come from
        the first timed rep, whose input is the same in every run with
        one seed."""
        ok = self.ok_reps()
        first = ok[0] if ok else {}
        untraced = [r["latency_s"] for r in ok if r["phase"] == "untraced"]
        tail, self.tail_pct = self.measure.tail_percentile([r["latency_s"] for r in ok]) if ok else (0.0, 0.0)
        out = dict.fromkeys(PER_LAYER, 0.0)
        out.update({
            "session.start_s": self.session_s,
            "setup_wall_s": self.setup_wall_s,
            "spark.exec_cpu_s": _median([r.get("exec_cpu_s") for r in ok]),
            "spark.gc_s": _median([r.get("gc_s") for r in ok]),
            "jvm.jit_cpu_s": _median([r["jit_cpu_s"] for r in ok]),
            "spark.driver_cpu_s": _median([r["cpu_s"] - r["exec_cpu_s"] for r in ok if "exec_cpu_s" in r]),
            "spark.shuffle_bytes": _median([r.get("shuffle_bytes") for r in ok]),
            "spark.spill_bytes": _median([r.get("spill_bytes") for r in ok]),
            "spark.task_skew": _median([r.get("task_skew") for r in ok]),
            "latency_p50_s": _median(untraced),
            "latency_tail_s": tail,
            "records_per_s": _rate([r["records"] for r in ok], [r["latency_s"] for r in ok]),
            "baseline.local1_latency_s": self.baseline.get("latency_s", 0.0),
        })
        out["spark.stages"] = first.get("stages", 0)
        out["spark.tasks"] = first.get("tasks", 0)
        out.update({k: v for k, v in first.get("counts", {}).items() if k in PER_LAYER})
        out.update(self._span_metrics())
        return out

    def span_cpu_per_rep(self, name: str) -> list[float]:
        """Driver + JVM CPU seconds inside ``name`` spans, per traced
        rep (concurrent spans, like the upserts, overlap)."""
        return [sum(s.cpu_end - s.cpu_start for s in spans)
                for spans in self.tracer.by_rep(name).values()]

    def _span_metrics(self) -> dict[str, float]:
        t = self.tracer
        rounds = t.by_rep("round")
        ups, reps_, comm = t.by_rep("dedup_stream.upsert"), t.by_rep("dedup_stream.replace"), t.by_rep("versioned.commit")
        ingest, emit, up_max, commit_sum = [], [], [], []
        for rep, (rnd, *_rest) in rounds.items():
            if ups.get(rep):
                ingest.append(max(s.end for s in ups[rep]) - rnd.start)
                up_max.append(max(s.end - s.start for s in ups[rep]))
            if reps_.get(rep):
                emit.append(rnd.end - reps_[rep][-1].end)
            if comm.get(rep):
                commit_sum.append(sum(s.end - s.start for s in comm[rep]))

        def durations(name):
            return [s.end - s.start for spans in t.by_rep(name).values() for s in spans]

        by_topic = collections.defaultdict(list)
        for spans in ups.values():
            for s in spans:
                by_topic[s.tag].append(s.end - s.start)
        spans_per_rep = collections.Counter(s.rep for s in t.spans if s.rep >= 0)
        out = {
            "pipeline.ingest_s": _median(ingest),
            "dedup_stream.upsert_s": _median(durations("dedup_stream.upsert")),
            "dedup_stream.upsert_max_s": _median(up_max),
            **{f"dedup_stream.upsert_s.{topic}": _median(d) for topic, d in by_topic.items()},
            "versioned.commit_s": _median(commit_sum),
            "dedup_stream.replace_s": _median(durations("dedup_stream.replace")),
            "dedup_stream.replace_cpu_s": _median(self.span_cpu_per_rep("dedup_stream.replace")),
            "pipeline.emit_s": _median(emit),
            "text.filter_s": _median(durations("text.filter")),
            "similarity.pairs_s": _median(durations("similarity.pairs")),
            "similarity.pairs_cpu_s": _median(self.span_cpu_per_rep("similarity.pairs")),
            "graph.cc_s": _median(durations("graph.cc")),
            # what the spans cost the traced reps, measured directly: a
            # traced-minus-untraced rep time would mostly measure JIT
            # warming, as the traced reps always run later
            "trace.overhead_s": _median(spans_per_rep.values()) * self.span_cost_s,
        }
        cc = t.by_rep("graph.cc")
        traced_ok = [r for r in self.ok_reps() if r["phase"] == "traced" and r["rep"] in cc]
        if traced_ok:
            r = traced_ok[0]
            span = cc[r["rep"]][0]
            lo, hi = span.epoch_ms, span.epoch_ms + (span.end - span.start) * 1e3
            out["graph.cc_stages"] = sum(1 for ms in r["stage_submitted_ms"] if lo <= ms <= hi)
        return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full", help="tiny: self-test inputs")
    args = p.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import fink_joiner_spark
    except ImportError as e:
        print(f"perfbench: cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(fink_joiner_spark.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: imported the program from {fink_joiner_spark.__file__}, not {ROOT}",
              file=sys.stderr)
        return 2
    workloads = _workloads()
    if args.workload not in workloads:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(workloads)}", file=sys.stderr)
        return 2

    from perfbench import measure

    cpus = len(os.sched_getaffinity(0))
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-cpus{cpus}-{os.getpid()}"
    work = os.path.join(WORK_ROOT, run_id)
    shutil.rmtree(work, ignore_errors=True)
    _configure_env(cpus, work)
    try:
        wl = workloads[args.workload](args.seed, os.path.join(work, "main"), args.size)
        probe_start, ticks_start = measure.host_probe(), measure.host_ticks()
        h = Harness(wl, args)
        h.run(lambda: workloads[args.workload](args.seed, os.path.join(work, "local1"), args.size))
        probe_end, ticks_end = measure.host_probe(), measure.host_ticks()
    finally:
        shutil.rmtree(work, ignore_errors=True)

    failed = h.failed()
    problems = h.warmup_problems + h.final_problems + [p for r in h.reps for p in r["problems"]]
    if args.trace:
        values, units = h.per_layer(), PER_LAYER
    else:
        values, units = h.end_to_end(), END_TO_END
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpus": cpus, "size": args.size,
        "host_probe_s": {"start": probe_start, "end": probe_end},
        "host_steal_share": (ticks_end[0] - ticks_start[0]) / max(1, ticks_end[1] - ticks_start[1]),
        "session_s": h.session_s, "setup_s": h.setup_s, "setup_wall_s": h.setup_wall_s,
        "setup_jit_cpu_s": h.setup_jit_cpu_s,
        "warmup_latency_s": h.warmup_latency_s,
        "error_rate": failed / max(1, len(h.reps)),
        "problems": problems[:20],
        "reps": h.reps,
        "metrics": values,
    }
    os.makedirs(OUT_ROOT, exist_ok=True)
    stem = os.path.join(OUT_ROOT, run_id)
    if h.tracer:
        h.tracer.write(stem + ".spans.jsonl")
        detail["self_s"] = h.tracer.self_times()
        detail["span_cpu_s_median_per_rep"] = {
            name: _median(h.span_cpu_per_rep(name)) for name in sorted({s.name for s in h.tracer.spans})
        }
        ok = h.ok_reps()
        detail["cpu_s_median_traced_rep"] = _median([r["cpu_s"] for r in ok if r["phase"] == "traced"])
        detail["span_cost_s"] = h.span_cost_s
        detail["traced_minus_untraced_rep_s"] = (
            _median([r["latency_s"] for r in ok if r["phase"] == "traced"])
            - _median([r["latency_s"] for r in ok if r["phase"] == "untraced"])
        )
        detail["baseline"] = h.baseline
        detail["latency_tail_pct"] = h.tail_pct
    with open(stem + ".json", "w", encoding="utf-8") as fh:
        json.dump(detail, fh, indent=1, default=str)
    for prob in problems[:5]:
        print(f"perfbench: check failed: {prob}", file=sys.stderr)
    print(f"perfbench: host probe {probe_start:.4f}s -> {probe_end:.4f}s; detail {stem}.json",
          file=sys.stderr)
    result = {
        "correct": not problems,
        "attempted": max(1, len(h.reps)),
        "failed": failed,
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
