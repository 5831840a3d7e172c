"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 8 --trace 0

Run from the repository root. The run first does the harness's own set-up
(fixtures; for ETL the target bases and expected digests), then starts the
engine's Spark session on ``local[<cores>]``, binds the workload to it,
warms every op kind until its time levels off, then runs whole rounds of
ops (each round a seeded permutation of the kinds) for ``--seconds``
seconds with one closed-loop client. Every op's output is checked against
expected values outside the timed region.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. ``--trace 0`` reports the end-to-end metrics;
``setup_s`` runs from process start to the first timed op, warm-up
included, less the harness's own work in that time (fixtures, expected
values, and the resets and checks of warm-up ops). ``--trace 1``
alternates untraced and traced rounds and reports per-layer metrics,
including the tracing overhead. A readable summary goes to stderr and the
full record (spans included) to ``perfbench/.work/results/``.
The exit code is 1 when any op's output is wrong.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import engine  # noqa: E402
import measure  # noqa: E402
import workloads  # noqa: E402

WORKLOADS = ("etl_daily", "query_heavy")

# Warm-up: an op kind has levelled off once its last call (of at least
# WARM_MIN) is no more than WARM_DROP faster than its best earlier call.
# Every kind gets WARM_MIN calls, the first of them cold. The JIT keeps
# speeding some kinds up for many calls, so further rounds of the kinds not
# yet levelled stop once WARM_CAP_S have passed since warm-up began. The
# summary says which kinds had levelled off, and the stationarity check
# flags a timed phase that still drifts.
WARM_DROP = 0.08
WARM_MIN = 3
WARM_CAP_S = 25.0
# Timed rounds at least: enough for a per-kind median that one slow op
# cannot move; a traced run needs two untraced and two traced rounds.
MIN_ROUNDS = 3
MIN_ROUNDS_TRACED = 4


def process_age() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as fh:
        raw = fh.read()
    start_ticks = int(raw[raw.rindex(")") + 2 :].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def levelled(times: list[float]) -> bool:
    if len(times) < WARM_MIN:
        return False
    return times[-1] >= (1.0 - WARM_DROP) * min(times[:-1])


class Harness:
    """Runs, times and checks ops; keeps every record in memory."""

    def __init__(self, workload, tracer, stage_stats) -> None:
        self.wl = workload
        self.tracer = tracer
        self.stage_stats = stage_stats
        self.records: list[dict] = []
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        # Seconds spent in ops outside their timed region: reset, check and
        # the process-tree snapshots.
        self.harness_s = 0.0

    def op(self, kind: str, phase: str, traced: bool = False) -> dict:
        t_in = time.perf_counter()
        self.wl.reset(kind)
        op_id = len(self.records)
        tracer = self.tracer if traced else None
        group = f"op{op_id}"
        if traced:
            self.stage_stats.begin(group)
        cpu0 = measure.tree_stats()
        t0 = time.perf_counter()
        try:
            if traced:
                with tracer.span("bench.op", op=op_id, kind=kind):
                    out = self.wl.run(kind, tracer)
            else:
                out = self.wl.run(kind, None)
            err = None
        except Exception as exc:  # noqa: BLE001 — a failed op is counted
            out, err = None, f"{kind}: {type(exc).__name__}: {exc}"[:500]
        t1 = time.perf_counter()
        cpu1 = measure.tree_stats()
        rec = {
            "id": op_id,
            "kind": kind,
            "phase": phase,
            "traced": traced,
            "wall_s": t1 - t0,
            "cpu_s": measure.tree_cpu_delta(cpu0, cpu1),
        }
        if traced:
            rec["spark"] = self.stage_stats.end(group)
            self.wl.after_traced()
        ok, rows = False, 0
        if err is None:
            try:
                ok, rows = self.wl.check(kind, out)
            except Exception as exc:  # noqa: BLE001 — a failed check is counted
                err = f"{kind}: check failed: {type(exc).__name__}: {exc}"[:500]
        if not ok and err is None:
            err = f"{kind}: output differs from the expected values"
        rec.update(ok=ok, rows=rows)
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(err)
            print(f"FAILED op {op_id} ({phase}) {err}", file=sys.stderr, flush=True)
        self.records.append(rec)
        self.harness_s += time.perf_counter() - t_in - rec["wall_s"]
        return rec

    def warm(self) -> dict:
        """Round-robin warm-up: WARM_MIN calls of every kind, then more
        rounds of the kinds not levelled off until WARM_CAP_S have passed."""
        times: dict[str, list[float]] = {k: [] for k in self.wl.kinds}
        deadline = time.perf_counter() + WARM_CAP_S
        rounds = 0
        todo = self.wl.kinds
        while todo and (rounds < WARM_MIN or time.perf_counter() < deadline):
            for k in todo:
                times[k].append(self.op(k, "warm")["wall_s"])
            rounds += 1
            todo = [k for k in self.wl.kinds if not levelled(times[k])]
        return {
            "times_s": times,
            "levelled": {k: levelled(v) for k, v in times.items()},
        }

    def timed(self, seconds: float, rng: random.Random, trace: bool) -> None:
        """Whole rounds until ``seconds`` have passed (and the minimum number
        of rounds ran); with ``trace`` every other round is traced."""
        t_end = time.perf_counter() + seconds
        rounds = 0
        need = MIN_ROUNDS_TRACED if trace else MIN_ROUNDS
        while rounds < need or time.perf_counter() < t_end:
            traced = trace and rounds % 2 == 1
            order = list(self.wl.kinds)
            rng.shuffle(order)
            for k in order:
                self.op(k, "timed", traced)
            rounds += 1


def _per_op(values: list[float]) -> float:
    return sum(values) / len(values)


def _kind_summary(recs: list[dict], kind: str) -> dict:
    ts = [r["wall_s"] for r in recs if r["kind"] == kind]
    return {"median_s": statistics.median(ts), **measure.latency_summary(ts)}


def _round_of_medians(recs: list[dict], field: str) -> tuple[float, int]:
    """Sum over op kinds of the kind's median ``field``: one round as its
    typical ops would take it, unmoved by a single slow op."""
    kinds = {r["kind"] for r in recs}
    return sum(
        statistics.median(r[field] for r in recs if r["kind"] == k) for k in kinds
    ), len(kinds)


def cpu_s_per_op(recs: list[dict]) -> float:
    cpu, k = _round_of_medians(recs, "cpu_s")
    return cpu / k


def end_to_end(recs: list[dict], setup_s: float) -> dict:
    wall, k = _round_of_medians(recs, "wall_s")
    return {
        "ops_per_s": {"value": k / wall, "unit": "1/s"},
        "setup_s": {"value": setup_s, "unit": "s"},
    }


def per_layer(h: Harness, session_s: float, peak_rss: int) -> tuple[dict, dict]:
    """(metrics printed for the traced run, full layer detail)."""
    timed = [r for r in h.records if r["phase"] == "timed"]
    traced = [r for r in timed if r["traced"]]
    plain = [r for r in timed if not r["traced"]]
    spans = h.tracer.spans
    self_sum = measure.layer_self_seconds(spans)
    ops_with: dict[str, set] = {}
    for s in spans:
        ops_with.setdefault(s["name"], set()).add(s["op"])
    n = len(traced)
    detail = {
        f"{k}.self_s": v / len(ops_with[k]) for k, v in sorted(self_sum.items())
    }
    detail.update(h.wl.layers(spans, n))
    spark = {f: _per_op([r["spark"][f] for r in traced]) for f in traced[0]["spark"]}
    for f, v in spark.items():
        detail[f"spark.{f}_per_op"] = v
    # Tracing overhead: per kind, median traced over median untraced time.
    ratios = []
    for k in h.wl.kinds:
        a = [r["wall_s"] for r in traced if r["kind"] == k]
        b = [r["wall_s"] for r in plain if r["kind"] == k]
        if a and b:
            ratios.append(statistics.median(a) / statistics.median(b))
    overhead = statistics.median(ratios) - 1.0
    unattributed = self_sum.get("bench.op", 0.0) / sum(r["wall_s"] for r in traced)
    build = sum(self_sum.get(k, 0.0) for k in workloads.BUILD_LAYERS) / n
    metrics = {
        "session.start_s": (session_s, "s"),
        "process.peak_rss_mb": (peak_rss / 2**20, "MB"),
        "process.cpu_s_per_op": (cpu_s_per_op(plain), "s"),
        "plan_build_s_per_op": (build, "s"),
        "spark.jobs_per_op": (spark["jobs"], "count"),
        "spark.stages_per_op": (spark["stages"], "count"),
        "spark.tasks_per_op": (spark["tasks"], "count"),
        "spark.executor_cpu_s_per_op": (spark["executor_cpu_s"], "s"),
        "spark.gc_s_per_op": (spark["gc_s"], "s"),
        "spark.shuffle_write_bytes_per_op": (spark["shuffle_write_bytes"], "bytes"),
        "trace.overhead_share": (overhead, "share"),
        "trace.unattributed_share": (unattributed, "share"),
    }
    detail.update({k: v for k, (v, _) in metrics.items()})
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}, detail


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    engine.prepare_env()
    # Fail fast, before any work, when the engine is not importable.
    import extract_transform_load_template_multidb_spark  # noqa: F401

    run_dir = os.path.join(engine.WORK, f"run-{os.getpid()}")
    os.makedirs(run_dir)
    tracer = measure.Tracer() if args.trace else None
    rng = random.Random(args.seed)
    try:
        # The harness's own work (fixtures, ETL bases, expected digests, and
        # the resets and checks of warm-up ops) is not the engine's set-up:
        # it is timed and left out of setup_s.
        t0 = time.perf_counter()
        prepared = workloads.prepare(args.workload, args.seed, run_dir)
        prep_s = time.perf_counter() - t0
        with measure.RssSampler(interval=0.25) as rss:
            t0 = time.perf_counter()
            spark = engine.start_session()
            session_s = time.perf_counter() - t0
            try:
                wl = workloads.make(args.workload, spark, prepared)
                stage_stats = engine.StageStats(spark) if args.trace else None
                h = Harness(wl, tracer, stage_stats)
                warm = h.warm()
                warm_harness_s = h.harness_s
                setup_s = process_age() - prep_s - warm_harness_s
                rss.peak = 0  # steady state: the timed phase's peak only
                h.timed(args.seconds, rng, bool(args.trace))
                peak_rss = rss.peak
                wl.close()
            finally:
                engine.stop_session(spark)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    canary_s = measure.host_canary()

    timed = [r for r in h.records if r["phase"] == "timed"]
    plain = [r for r in timed if not r["traced"]]
    stat = measure.stationarity([r["wall_s"] for r in plain], [r["kind"] for r in plain])
    summary = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "cores": engine.cores(),
        "kinds": wl.kinds,
        "warm": warm,
        "latency": measure.latency_summary([r["wall_s"] for r in plain]),
        "per_kind": {k: _kind_summary(plain, k) for k in wl.kinds},
        "rows_per_s": sum(r["rows"] for r in plain) / sum(r["wall_s"] for r in plain),
        "error_rate": h.failed / h.attempted,
        "errors": h.errors,
        "stationarity": stat,
        "host_canary_s": canary_s,
        "harness_prep_s": prep_s,
        "warm_harness_s": warm_harness_s,
        "session_start_s": session_s,
        "peak_rss_mb": peak_rss / 2**20,
        "cpu_s_per_op": cpu_s_per_op(plain),
    }
    if args.trace:
        metrics, summary["layers"] = per_layer(h, session_s, peak_rss)
    else:
        metrics = end_to_end(plain, setup_s)
    summary["metrics"] = metrics
    out_dir = os.path.join(engine.WORK, "results")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json"
    with open(os.path.join(out_dir, name), "w") as fh:
        json.dump(
            {"summary": summary, "ops": h.records, "spans": tracer.spans if tracer else []},
            fh,
            indent=1,
        )
    print(json.dumps({k: summary[k] for k in (
        "warm", "latency", "per_kind", "rows_per_s", "error_rate",
        "stationarity", "host_canary_s", "peak_rss_mb", "cpu_s_per_op")} | {"layers": summary.get("layers")}, indent=1),
        file=sys.stderr)
    if stat["drift"]:
        print(f"STATIONARITY: timed ops drifted (ratio {stat['ratio']:.3f})",
              file=sys.stderr)
    print(json.dumps({
        "correct": h.failed == 0,
        "attempted": h.attempted,
        "failed": h.failed,
        "metrics": metrics,
    }))
    return 0 if h.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
