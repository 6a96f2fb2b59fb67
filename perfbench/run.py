"""Outside-in benchmark of the engine's core operators.

Usage (from the repository root):

    python3 perfbench/run.py --workload simjoin --seed 1 --seconds 20 --trace 0

Workloads: ``simjoin`` (contract row ``join_sim_parts_l2``) and ``dedup``
(contract row ``dedup_remove_docs_lsh``). One run generates its inputs
from ``--seed``, starts a session with the program's own defaults on
``local[<cpus>]``, runs a fixed number of warm-up ops and then a closed
loop of ops (one client) for ``--seconds``, checks every op's output
against the repo's DuckDB oracles, and prints a summary followed by one
JSON line: end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``. See ``perfbench/NOTES.md``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shutil
import signal
import statistics
import sys
import time
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
SAMPLE_INTERVAL_S = 0.2
TOKENIZE_REPS = 3

END_TO_END = {
    "setup_s": "s",
    "jobs_per_op": "count",
    "shuffle_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s",
    "text.tokenize_s": "s",
    "join_sim.build_s": "s",
    "join_sim.build_jobs": "count",
    "join_sim.action_s": "s",
    "join_sim.action_jobs": "count",
    "join_sim.tasks": "count",
    "join_sim.par_eff": "ratio",
    "join_sim.shuffle_mb": "MB",
    "join_sim.spill_mb": "MB",
    "join_sim.materialize_s": "s",
    "join_sim.probe_build_s": "s",
    "join_sim.probe_action_s": "s",
    "join_sim.probe_jobs": "count",
    "join_sim.append_s": "s",
    "join_sim.append_jobs": "count",
    "dedup.build_s": "s",
    "dedup.build_jobs": "count",
    "dedup.action_s": "s",
    "dedup.pairs_s": "s",
    "dedup.pairs": "count",
    "dedup.cc_s": "s",
    "dedup.cc_jobs": "count",
    "cache.live_rdds": "count",
    "cache.storage_mb": "MB",
    "workers.spawned": "count",
    "cpu.pyworkers_s": "s",
    "rss.pyworkers_mb": "MB",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "jvm.task_cpu_s": "s",
    "jvm.task_run_s": "s",
    "jvm.gc_s": "s",
    "jvm.jit_ms": "ms",
    "jvm.codegen_classes": "count",
    "jvm.classes_loaded": "count",
    "cpu.jvm_s": "s",
    "rss.jvm_mb": "MB",
    "rss.peak_mb": "MB",
    "cpu.driver_s": "s",
    "trace.overhead_frac": "ratio",
}


@dataclass
class OpRecord:
    i: int
    warmup: bool
    traced: bool
    wall: float = 0.0
    build_s: float = 0.0
    action_s: float = 0.0
    cpu: dict = field(default_factory=dict)
    jvm: object = None  # measure.JvmSample delta over the op
    digest: list | None = None
    error: str | None = None
    build: object = None  # measure.GroupStats, traced ops only
    action: object = None
    live_rdds: int = 0
    storage_mb: float = 0.0
    spawned: int = 0

    def as_dict(self) -> dict:
        out = dict(self.__dict__)
        for name in ("build", "action", "jvm"):
            if out[name] is not None:
                out[name] = out[name].__dict__
        return out


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


class Bench:
    """One run of one workload: session, inputs, warm-up, window, checks."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, workdir: str):
        import measure
        import oracle
        from workloads import WORKLOADS

        self.m = measure
        self.wl = WORKLOADS[workload]()
        self.seed, self.seconds, self.trace = seed, seconds, trace
        self.workdir = workdir
        self.cpus = len(os.sched_getaffinity(0))
        self.tree = measure.ProcTree()
        self.sampler = measure.PeakSampler(self.tree, SAMPLE_INTERVAL_S)
        self.tracer = measure.Tracer(trace)
        self.oracle_cache = oracle.DigestCache(os.path.join(STATE, "oracle-cache.json"))
        self.ops: list[OpRecord] = []
        self.extra: dict[str, float] = {}
        self.failures: list[str] = []
        self.spark = None

    # -- helpers the workloads use too ---------------------------------
    def call(self, group: str, fn):
        """``fn()`` with its Spark jobs in job group ``group``."""
        self.status.set_group(group)
        try:
            return fn()
        finally:
            self.status.clear_group()

    def checksum(self, df, cols, group: str) -> list[int]:
        """The op's action: ``[bit_xor(xxhash64(cols)), count(*)]`` over all rows."""
        from pyspark.sql import functions as F

        agg = df.agg(F.bit_xor(F.xxhash64(*cols)), F.count(F.lit(1)))
        row = self.call(group, agg.collect)[0]
        return [int(row[0] or 0), int(row[1])]

    def fail(self, message: str) -> None:
        self.failures.append(message)

    # -- one op -------------------------------------------------------
    def run_op(self, i: int, *, warmup: bool, traced: bool) -> OpRecord:
        from polars_sim_spark import cache as cache_registry

        rec = OpRecord(i, warmup, traced)
        sites = self.m.CallSites()
        known_workers = self.sampler.workers()
        layer = self.wl.layer
        c0, j0 = self.tree.sample(), self.jvm.sample()
        try:
            with self.tracer.span(f"{layer}.op", i, traced) as whole:
                with self.tracer.span(f"{layer}.build", i, traced) as b:
                    with sites if traced else contextlib.nullcontext():
                        df = self.call(f"op{i}.build", self.wl.build)
                with self.tracer.span(f"{layer}.action", i, traced) as a:
                    rec.digest = self.checksum(df, self.wl.checksum_cols(), f"op{i}.action")
            rec.wall, rec.build_s, rec.action_s = whole.seconds, b.seconds, a.seconds
        except Exception as e:  # an op that raises is a failed op, not a failed run
            rec.error = f"{type(e).__name__}: {(str(e).splitlines() or [''])[0][:300]}"
        c1, j1 = self.tree.sample(), self.jvm.sample()
        rec.cpu = {k: c1.cpu[k] - c0.cpu[k] for k in c1.cpu}
        rec.jvm = j1 - j0
        self.sampler.observe(c1)
        rec.spawned = len(self.sampler.workers() - known_workers)
        if traced:
            rec.build = self.status.group(f"op{i}.build", sites)
            rec.action = self.status.group(f"op{i}.action")
            # What the op leaves persisted, read before the cleanup below.
            rec.live_rdds, rec.storage_mb = self.status.cache_state()
        with self.tracer.span("cache.cleanup", i, traced):
            cache_registry.unpersist_all()
            cache_registry.sweep_persistent_rdds(self.spark)
        self.ops.append(rec)
        return rec

    # -- the run ------------------------------------------------------
    def run(self, t_start: float) -> None:
        from polars_sim_spark.session import get_spark

        os.environ["SPARK_GRAFT_CPUS"] = str(self.cpus)
        with self.tracer.span("session.start") as s:
            self.spark = get_spark("perfbench")
        self.extra["session.start_s"] = s.seconds
        self.sampler.start()
        self.jvm = self.m.Jvm(self.spark)
        self.status = self.m.SparkStatus(self.spark)
        inputs = os.path.join(self.workdir, "inputs")
        os.makedirs(inputs)
        with self.tracer.span("inputs.generate"):
            self.wl.generate(random.Random(self.seed), inputs)
        self.wl.setup(self.spark)
        i = 0
        for _ in range(self.wl.warmup):
            last = self.run_op(i, warmup=True, traced=False)
            i += 1
        self.setup_s = time.perf_counter() - t_start
        host0 = self.m.host_cpu()
        t0 = time.perf_counter()
        # Closed loop, one client. An op starts only if it is expected to end
        # less than half an op past the window, so runs of one workload time
        # about the same number of ops.
        while time.perf_counter() - t0 + last.wall / 2 < self.seconds:
            # The traced run alternates untraced and traced ops, so the
            # tracing overhead is measured on the same JVM at the same age.
            traced = self.trace and (i - self.wl.warmup) % 2 == 0
            last = self.run_op(i, warmup=False, traced=traced)
            i += 1
        self.timed_s = time.perf_counter() - t0
        host1 = self.m.host_cpu()
        self.steal = (host1[1] - host0[1]) / max(1, host1[0] - host0[0])
        # Untraced ops' engine counters, read only now so the window saw no
        # status-store reads.
        for r in self.ops:
            if not r.warmup and not r.traced:
                r.build = self.status.group(f"op{r.i}.build")
                r.action = self.status.group(f"op{r.i}.action")
        self.sampler.stop()
        if self.trace:
            self._trace_extras()

    def _trace_extras(self) -> None:
        """Calls outside the op loop, traced only: a tokenize pass over the
        workload's strings and the workload's split of its layers."""
        from pyspark.sql import functions as F

        from polars_sim_spark.functions.text import trigram_tokens

        path, col = self.wl.strings
        df = self.spark.read.parquet(path)
        tok = df.select(F.size(trigram_tokens(F.col(col))).alias("n")).agg(F.sum("n"))
        times = []
        for _ in range(TOKENIZE_REPS):
            with self.tracer.span("text.tokenize") as s:
                tok.collect()
            times.append(s.seconds)
        self.extra["text.tokenize_s"] = median(times)
        self.extra.update(self.wl.split(self))

    def check(self) -> None:
        """Compare every op's digest with the oracle's, after the timed region."""
        want = self.wl.expected(self.oracle_cache)
        for r in self.ops:
            if r.error is None and r.digest != want:
                r.error = f"checksum {r.digest} != oracle {want}"

    def close(self) -> None:
        """Stop the session, the JVM and every process it started, and wait
        for each to end."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.sampler.stop()
        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            gateway.shutdown()
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        others = [p for p in self.tree.seen if p != os.getpid()]
        deadline = time.time() + 15
        while others and time.time() < deadline:
            others = [p for p in others if os.path.exists(f"/proc/{p}")]
            time.sleep(0.1)
        for p in others:
            with contextlib.suppress(ProcessLookupError):
                os.kill(p, signal.SIGKILL)

    # -- metrics ------------------------------------------------------
    def timed(self, traced: bool) -> list[OpRecord]:
        return [r for r in self.ops if not r.warmup and r.traced == traced and r.error is None]

    def end_to_end(self) -> dict[str, float]:
        ops = self.timed(traced=False)
        return {
            "setup_s": self.setup_s,
            "jobs_per_op": median(r.build.jobs + r.action.jobs for r in ops),
            "shuffle_mb": median((r.build.shuffle_bytes + r.action.shuffle_bytes) / 2**20 for r in ops),
        }

    def per_layer(self) -> dict[str, float]:
        traced = self.timed(traced=True)
        both = [r.build.add(r.action) for r in traced]
        out = dict.fromkeys(PER_LAYER, 0.0)
        out.update(self.extra)

        def med(f, recs=traced) -> float:
            return median(f(r) for r in recs)

        layer = self.wl.layer
        out[f"{layer}.build_s"] = med(lambda r: r.build_s)
        out[f"{layer}.build_jobs"] = med(lambda r: r.build.jobs)
        out[f"{layer}.action_s"] = med(lambda r: r.action_s)
        if layer == "join_sim":
            out["join_sim.action_jobs"] = med(lambda r: r.action.jobs)
            out["join_sim.tasks"] = median(g.tasks for g in both)
            out["join_sim.par_eff"] = med(lambda r: r.action.task_run_s / (r.action_s * self.cpus))
            out["join_sim.shuffle_mb"] = median(g.shuffle_bytes / 2**20 for g in both)
            out["join_sim.spill_mb"] = median(g.spill_bytes / 2**20 for g in both)
        out["cache.live_rdds"] = med(lambda r: r.live_rdds)
        out["cache.storage_mb"] = med(lambda r: r.storage_mb)
        out["workers.spawned"] = med(lambda r: r.spawned)
        out["cpu.pyworkers_s"] = med(lambda r: r.cpu["pydaemon"] + r.cpu["pyworkers"])
        out["cpu.jvm_s"] = med(lambda r: r.cpu["jvm"])
        out["cpu.driver_s"] = med(lambda r: r.cpu["driver"])
        peak = self.sampler.peak
        out["rss.pyworkers_mb"] = (peak["pydaemon"] + peak["pyworkers"]) / 2**20
        out["rss.jvm_mb"] = peak["jvm"] / 2**20
        out["rss.peak_mb"] = self.sampler.peak_total / 2**20
        out["spark.jobs"] = median(g.jobs for g in both)
        out["spark.stages"] = median(g.stages for g in both)
        out["spark.tasks"] = median(g.tasks for g in both)
        out["jvm.task_cpu_s"] = median(g.task_cpu_s for g in both)
        out["jvm.task_run_s"] = median(g.task_run_s for g in both)
        out["jvm.gc_s"] = med(lambda r: r.jvm.gc_s)
        out["jvm.jit_ms"] = med(lambda r: r.jvm.jit_ms)
        out["jvm.codegen_classes"] = med(lambda r: r.jvm.codegen)
        out["jvm.classes_loaded"] = med(lambda r: r.jvm.classes)
        out["trace.overhead_frac"] = median(self.overhead_ratios()) - 1 if traced else 0.0
        return out

    def overhead_ratios(self) -> list[float]:
        """Each traced op's wall ÷ the mean wall of the untraced ops next to
        it, so the JIT ramp over the window does not bias the comparison."""
        ops = [r for r in self.ops if not r.warmup and r.error is None]
        ratios = []
        for k, r in enumerate(ops):
            near = [o.wall for o in ops[max(0, k - 1) : k + 2] if not o.traced]
            if r.traced and near:
                ratios.append(r.wall / statistics.mean(near))
        return ratios

    # -- reporting ----------------------------------------------------
    def report(self, metrics: dict[str, float]) -> list[str]:
        timed = [r for r in self.ops if not r.warmup]
        failed = [r for r in timed if r.error is not None]
        untraced = self.timed(traced=False)
        walls = [r.wall for r in untraced]
        lines = [
            f"perfbench {self.wl.name} seed={self.seed} trace={int(self.trace)} local[{self.cpus}] "
            f"rows/op={self.wl.rows} warm-up ops={sum(r.warmup for r in self.ops)} "
            f"timed ops={len(timed)} in {self.timed_s:.1f} s; hypervisor steal "
            f"{self.steal:.1%} of host CPU time meanwhile",
            f"  fail_frac {len(failed) / max(1, len(timed)):.4f} ratio ({len(failed)}/{len(timed)})",
            "  op wall ms (w = warm-up, t = traced) [JIT ms]: "
            + " ".join(
                f"{r.wall * 1e3:.0f}{'w' if r.warmup else ''}{'t' if r.traced else ''}[{r.jvm.jit_ms:.0f}]"
                for r in self.ops
            ),
        ]
        lines += [f"  FAILED op {r.i}: {r.error}" for r in self.ops if r.error is not None]
        lines += [f"  FAILED {msg}" for msg in self.failures]
        if walls:
            # Wall-clock and whole-tree figures, printed but not gated (NOTES.md).
            lines.append(f"  rows_per_s {self.wl.rows / median(walls):.6g} rows/s (n={len(walls)} ops)")
            lines.append(f"  op_p50_ms {median(walls) * 1e3:.6g} ms (n={len(walls)} ops)")
            lines.append(
                f"  cpu_s {median(sum(r.cpu.values()) for r in untraced):.6g} s per op, whole "
                f"process tree (n={len(walls)} ops)"
            )
            lines.append(f"  peak_rss_mb {self.sampler.peak_total / 2**20:.6g} MB, whole process tree")
            task_cpu = median(r.build.task_cpu_s + r.action.task_cpu_s for r in untraced)
            lines.append(f"  task_cpu_s {task_cpu:.6g} s per op, executor tasks (n={len(walls)} ops)")
            jit = median(r.jvm.jit_ms for r in untraced)
            gc = median(r.jvm.gc_s for r in untraced)
            cg = median(r.jvm.codegen for r in untraced)
            lines.append(
                f"  warm-up guard: JIT compile {jit:.0f} ms per timed op (summed over compiler "
                f"threads) against a median op wall of {median(walls) * 1e3:.0f} ms; GC {gc:.3f} s/op; "
                f"{cg:.0f} codegen classes compiled per op"
            )
        units = PER_LAYER if self.trace else END_TO_END
        samples = {"jobs_per_op": len(walls), "shuffle_mb": len(walls)}
        for k, v in metrics.items():
            n = f" (n={samples[k]} ops)" if k in samples else ""
            lines.append(f"  {k} {v:.6g} {units[k]}{n}")
        if self.trace:
            traced = self.timed(traced=True)
            lines.append(
                f"  trace.overhead_frac base: median over {len(self.overhead_ratios())} traced ops of "
                f"(traced wall / mean wall of the adjacent untraced ops); traced median "
                f"{median(r.wall for r in traced) * 1e3:.1f} ms (n={len(traced)}), untraced "
                f"{median(walls) * 1e3:.1f} ms (n={len(walls)})"
            )
            if self.wl.layer == "join_sim":
                lines.append(f"  join_sim.par_eff base: action task run time / (action wall x {self.cpus} cores)")
            lines.append("  self time by span, summed over the run (s):")
            for span, t in sorted(self.tracer.self_times().items(), key=lambda kv: -kv[1]):
                lines.append(f"    {t:9.3f}  {span}")
            sites: dict[str, int] = {}
            for r in traced:
                for site in r.build.call_sites:
                    sites[site] = sites.get(site, 0) + 1
            lines.append(
                f"  eager jobs (run inside the {self.wl.layer} call, before the action) "
                f"per traced op (n={len(traced)}), by call site:"
            )
            for site, c in sorted(sites.items(), key=lambda kv: -kv[1]):
                lines.append(f"    {c / max(1, len(traced)):6.2f}  {site}")
        return lines

    def write_trace(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": [s.__dict__ for s in self.tracer.spans],
                    "ops": [r.as_dict() for r in self.ops],
                    "self_times": self.tracer.self_times(),
                },
                f,
            )


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["simjoin", "dedup"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    t_start = time.perf_counter()
    if not os.path.isfile(os.path.join(ROOT, "polars_sim_spark", "__init__.py")):
        print(f"perfbench: no polars_sim_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    # Fresh warehouse, local dirs and temp dirs per run, all inside the checkout.
    workdir = os.path.join(STATE, f"run-{os.getpid()}")
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(workdir, sub))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "local")
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={workdir}/tmp pyspark-shell"
    )
    os.chdir(workdir)
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace), workdir)
    try:
        bench.run(t_start)
    finally:
        bench.close()
        os.chdir(ROOT)
    bench.check()
    metrics = bench.per_layer() if args.trace else bench.end_to_end()
    if args.trace:
        bench.write_trace(os.path.join(STATE, f"trace-{args.workload}-seed{args.seed}.json"))
    shutil.rmtree(workdir, ignore_errors=True)
    for line in bench.report(metrics):
        print(line)
    timed = [r for r in bench.ops if not r.warmup]
    units = PER_LAYER if args.trace else END_TO_END
    result = {
        "correct": not bench.failures and all(r.error is None for r in bench.ops),
        "attempted": len(timed),
        "failed": sum(r.error is not None for r in timed),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
