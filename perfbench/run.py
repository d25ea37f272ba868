"""Benchmark entry point.

    python3 perfbench/run.py --workload agent_mix --seed 1 --seconds 15 --trace 0

Run from the repository root. Generates the workload's inputs from the
seed, starts Spark with pinned settings, sets up (several times, the
median is reported), measures for ``--seconds``, checks every answer
against the benchmark's own oracle, and prints a report line followed by
the result line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
BENCHMARK.json, with ``--trace 1`` its per-layer metrics. Everything the
run writes goes under ``.perfbench_work/`` (removed at exit) and
``.perfbench_out/`` (span files) in the repository root.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "secure_agent_api_vector_search_spark"
WORKLOADS = ("agent_mix", "ingest_index", "curate")


def _median(xs) -> float:
    return float(statistics.median(xs))


def _specs() -> tuple[dict, dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def preflight() -> str | None:
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        return f"engine package {PACKAGE!r} not found next to {os.path.basename(HERE)}/"
    if not os.path.isfile(os.path.join(ROOT, "BENCHMARK.json")):
        return "BENCHMARK.json not found at the repository root"
    return None


def run_agent_mix(seed: int, seconds: float, work: str, cpus: int, sampler) -> tuple[dict, dict, list]:
    import runtime
    from oracle import latency_summary
    from workloads import MAX_CLIENTS, SETUP_ROUNDS, WARM_SESSIONS_PER_CLIENT, AgentMix

    clients = min(MAX_CLIENTS, cpus)
    wl = AgentMix(seed, work, clients)
    report = {"inputs": wl.properties()}
    with sampler:
        t0 = time.perf_counter()
        spark = runtime.start_session(cpus)
        session_s = time.perf_counter() - t0
        try:
            rounds = [wl.setup_round(spark, r, keep=r == SETUP_ROUNDS - 1)
                      for r in range(SETUP_ROUNDS)]
            warm_s = wl.warm_up(WARM_SESSIONS_PER_CLIENT)
            rec, wall = wl.measure(seconds)
            jvm_mb = runtime.jvm_retained_mb(spark.sparkContext)
        finally:
            wl.stop()
            runtime.stop_session(spark)
    calls = len(rec["exact"]) + len(rec["ann"]) + len(rec["lookup"])
    tools = {k: latency_summary(rec[k]) for k in ("exact", "ann", "lookup")}
    seen: set[int] = set()
    repeats = 0
    for q in rec["queries"]:
        repeats += q in seen
        seen.add(q)
    report.update({
        "setup": {"session_s": session_s, "rounds_s": rounds, "warm_up_s": warm_s},
        "measured_s": wall,
        "sessions": latency_summary(rec["session"]),
        "tools": tools,
        "repeat_share": repeats / max(1, len(rec["queries"])),
        "calls_per_s_by_half": rec["calls_per_s_by_half"],
        "ann_recalls": len(rec["recall"]),
        "jvm_retained_mb": jvm_mb,
    })
    metrics = {
        "setup_s": session_s + _median(rounds) + warm_s,
        "throughput_per_s": calls / wall,
        # the two search tools weigh alike, however rare exact searches
        # are: a k-fold slowdown of either moves this by sqrt(k)
        "p50_ms": math.sqrt(tools["exact"]["p50_ms"] * tools["ann"]["p50_ms"]),
        "recall": float(sum(rec["recall"]) / max(1, len(rec["recall"]))),
        "samples": {"throughput_per_s": calls, "p50_ms": tools["exact"]["n"] + tools["ann"]["n"],
                    "recall": len(rec["recall"]), "setup_s": SETUP_ROUNDS},
    }
    return metrics, report, [wl.checks]


def _batch(seconds: float, cpus: int, sampler, setup_one, measure_one):
    """Set-up rounds on the warm-up input, then back-to-back measured
    repetitions until ``seconds`` have passed (at least one)."""
    import runtime
    from workloads import SETUP_ROUNDS

    with sampler:
        t0 = time.perf_counter()
        spark = runtime.start_session(cpus)
        session_s = time.perf_counter() - t0
        try:
            rounds = []
            for r in range(SETUP_ROUNDS):
                t = time.perf_counter()
                setup_one(spark, r)
                rounds.append(time.perf_counter() - t)
            reps = []
            start = time.perf_counter()
            while True:
                reps.append(measure_one(spark, len(reps)))
                if time.perf_counter() - start >= seconds:
                    break
            jvm_mb = runtime.jvm_retained_mb(spark.sparkContext)
        finally:
            runtime.stop_session(spark)
    return session_s, rounds, reps, jvm_mb


def _batch_metrics(session_s, rounds, reps, jvm_mb, key, items) -> tuple[dict, dict]:
    from oracle import latency_summary

    lat = latency_summary([r[key] for r in reps])
    total = sum(r[key] for r in reps)
    metrics = {
        "setup_s": session_s + _median(rounds),
        "throughput_per_s": items * len(reps) / total,
        "p50_ms": lat["p50_ms"],
        "recall": float(sum(r["recall"] for r in reps) / len(reps)),
        "samples": {"throughput_per_s": items * len(reps), "p50_ms": lat["n"],
                    "recall": len(reps), "setup_s": len(rounds)},
    }
    report = {"setup": {"session_s": session_s, "rounds_s": rounds}, "reps": lat,
              "jvm_retained_mb": jvm_mb}
    return metrics, report


def run_ingest_index(seed, seconds, work, cpus, sampler):
    from workloads import IngestIndex

    wl = IngestIndex(seed, work)
    session_s, rounds, reps, jvm_mb = _batch(
        seconds, cpus, sampler,
        lambda spark, r: wl.cycle(spark, wl.warm_raw, wl.warm_queries, "warm", check=False),
        lambda spark, i: wl.cycle(spark, wl.raw, wl.queries, "run", check=True),
    )
    metrics, report = _batch_metrics(session_s, rounds, reps, jvm_mb, "cycle_s", len(wl.corpus.texts))
    report["inputs"] = wl.properties()
    report["phases"] = {
        "ingest_docs_per_s": len(wl.corpus.texts) / _median([r["backfill_s"] for r in reps]),
        "index_build_s": _median([r["index_s"] for r in reps]),
        "ann_join_queries_per_s": len(wl.q_ids) / _median([r["join_s"] for r in reps]),
        "n_lists": reps[0]["n_lists"],
    }
    return metrics, report, [wl.checks]


def run_curate(seed, seconds, work, cpus, sampler):
    from workloads import Curate

    wl = Curate(seed, work)
    out = os.path.join(wl.dir, "out")
    session_s, rounds, reps, jvm_mb = _batch(
        seconds, cpus, sampler,
        lambda spark, r: wl.rep(spark, wl.warm_dump, os.path.join(wl.dir, "out-warm"), check=False),
        lambda spark, i: wl.rep(spark, wl.dump, out, check=True),
    )
    metrics, report = _batch_metrics(session_s, rounds, reps, jvm_mb, "rep_s", len(wl.corpus.texts))
    report["inputs"] = wl.properties()
    report["stage_counts"] = reps[0]["counts"]
    return metrics, report, [wl.checks]


def run_traced(name, seed, work, cpus, out_dir):
    import runtime
    from layers import traced_run
    from workloads import AgentMix, Curate, IngestIndex

    agent = AgentMix(seed, work, 1)
    ingest = IngestIndex(seed, work)
    curate = Curate(seed, work)
    spark = runtime.start_session(cpus)
    try:
        spans_path = os.path.join(out_dir, f"spans-{name}-s{seed}.json")
        metrics = traced_run(name, agent, ingest, curate, spark, cpus, spans_path)
    finally:
        agent.stop()
        runtime.stop_session(spark)
    report = {"spans": os.path.relpath(spans_path, ROOT)}
    return metrics, report, [agent.checks, ingest.checks, curate.checks]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    problem = preflight()
    if problem:
        print(f"perfbench: {problem}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import runtime

    e2e_units, layer_units = _specs()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-p{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    settings = runtime.pin_environment(ROOT, work)
    cpus = runtime.cpu_count()
    sampler = runtime.RssSampler()
    steal0, ticks0 = runtime.cpu_ticks()
    try:
        if args.trace:
            metrics, report, checks = run_traced(args.workload, args.seed, work, cpus, out_dir)
            units, samples = layer_units, {}
        else:
            runner = {"agent_mix": run_agent_mix, "ingest_index": run_ingest_index,
                      "curate": run_curate}[args.workload]
            metrics, report, checks = runner(args.seed, args.seconds, work, cpus, sampler)
            # the JVM counts with what it retains, not with its RSS
            metrics["mem_mb"] = sampler.peak_mb(exclude="jvm") + report["jvm_retained_mb"]
            report["peak_rss_mb"] = sampler.peak_mb()
            report["peak_rss_mb_by_process"] = sampler.breakdown_mb()
            samples = metrics.pop("samples")
            samples["mem_mb"] = 1
            units = e2e_units
    except Exception:  # noqa: BLE001 — report the crash, exit non-zero
        traceback.print_exc()
        return 1
    finally:
        runtime.wait_children_gone()
        runtime.remove_tree(work)

    if set(metrics) != set(units):
        print(f"perfbench: metrics {sorted(set(metrics) ^ set(units))} disagree with BENCHMARK.json",
              file=sys.stderr)
        return 1
    attempted = sum(c.attempted for c in checks)
    failed = sum(c.failed for c in checks)
    # a metric with no samples (every call of its kind failed) is NaN,
    # which JSON cannot carry; the run is then reported as not correct
    finite = all(math.isfinite(v) for v in metrics.values())
    metrics = {k: v if math.isfinite(v) else 0.0 for k, v in metrics.items()}
    steal1, ticks1 = runtime.cpu_ticks()
    report.update({
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "runtime": settings,
        "cpu_steal_share": (steal1 - steal0) / max(1, ticks1 - ticks0),
        "metrics": {k: {"value": v, "unit": units[k], **({"samples": samples[k]} if k in samples else {})}
                    for k, v in metrics.items()},
        "error_rate": failed / max(1, attempted),
        "failures": [f for c in checks for f in c.failures][:20],
    })
    print(json.dumps({"report": report}))
    print(json.dumps({
        "correct": failed == 0 and attempted > 0 and finite,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
