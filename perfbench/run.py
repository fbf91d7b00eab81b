"""Lakehouse benchmark: one workload per invocation, one client, closed loop.

    python3 perfbench/run.py --workload sql_dashboard --seed 1 --seconds 8 --trace 0

Run from the repository root. The process generates its inputs from
``--seed`` under ``perfbench/.work/``, starts a ``local[<cores>]`` Spark
session with the engine's ``build_session``, runs one untimed warm-up
pass, then timed passes (each call is issued after the previous one
returns), checks every output, and prints one JSON line last on stdout:

    {"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}

The query workloads repeat the same pass until ``--seconds`` have
elapsed and at least ``MIN_PASSES`` untraced passes are done, and report
medians over them. ``ingest_merge`` grows its tables with every round,
so it runs a fixed number of rounds, the same work at any speed.

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json;
``--trace 1`` reports its per-layer metrics, including the tracing
overhead (traced minus untraced pass): query workloads alternate
untraced and traced passes, ``ingest_merge`` replays each round traced
on a second copy of the same seeded inputs, next to the untraced
round. Spans and per-call records go to
``perfbench/.work/trace-<workload>-s<seed>.json``.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MAX_PASSES = 200
# untraced passes a query workload times at least (one at smoke scale):
# warm passes still get faster one after another, so a median over a
# single pass would follow how warm that one happened to be
MIN_PASSES = 3


def declared() -> tuple[dict[str, str], dict[str, str]]:
    """``{name: unit}`` of the end-to-end and the per-layer metrics, as
    BENCHMARK.json at the repository root declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    return tuple({m["name"]: m["unit"] for m in spec[k]} for k in ("end_to_end", "per_layer"))


def cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def median(xs) -> float:
    xs = [x for x in xs if x == x]  # drop NaN (failed calls)
    return statistics.median(xs) if xs else 0.0


def pass_stats(recs: list[dict]) -> tuple[float, float]:
    """(sum of call walls, geometric mean over the pass's distinct calls
    of each one's median wall) of one pass. A call repeated in a pass
    (the ingest point lookups) counts once, so every call weighs the
    same however often it runs."""
    walls: dict[str, list[float]] = {}
    for r in recs:
        if not r.get("failed"):
            walls.setdefault(r["name"], []).append(r["wall_s"])
    if not walls:
        return math.nan, math.nan
    meds = [statistics.median(w) for w in walls.values()]
    return (sum(map(sum, walls.values())),
            math.exp(sum(math.log(max(m, 1e-9)) for m in meds) / len(meds)))


def span_layers(spans: list[dict], traced: list[dict], names) -> dict:
    """Per-pass medians of the wrapped module functions' time and
    counters, from the spans of the traced passes (metric ``names``)."""
    by_id = {s["id"]: s for s in spans}

    def dur(s):
        return s["end"] - s["start"]

    def top(s):
        while s.get("parent") is not None:
            s = by_id[s["parent"]]
        return s

    out: dict = {}
    per_pass: dict[int, dict] = {p["n"]: {} for p in traced}
    for s in spans:
        if "pass" not in top(s):
            continue
        acc = per_pass[top(s)["pass"]]

        def add(k, v):
            acc[k] = acc.get(k, 0.0) + v

        name = s["name"]
        if name in (
            "plans.ivm.commit_fact_increment",
            "plans.ivm.refresh_gold_incremental",
            "sources.snapshots.write_snapshot",
            "sources.snapshots.read_snapshot",
            "sources.deletes.merge_upsert_dv",
        ):
            add(f"{name}.s", dur(s))
        if name == "plans.ivm.refresh_gold_incremental":
            add("plans.ivm.files_read", s.get("files_read", 0))
        if name == "sources.snapshots.plan_scan":
            parent = by_id.get(s.get("parent"), {}).get("name", "")
            if parent == "sources.snapshots.scan_snapshot":
                add("_pruned", s.get("pruned", 0))
                add("_candidates", s.get("candidates", 0))
            if parent.startswith("sources.deletes."):
                add("sources.deletes.files_scanned", s.get("candidates", 0) - s.get("pruned", 0))
        if name in ("streaming.sinks.merge_batch", "sources.sql_dml.execute_dml"):
            kids = sum(dur(c) for c in spans if c.get("parent") == s["id"]
                       and c["name"].startswith("sources.deletes."))
            add(f"{name}.self_s", dur(s) - kids)
    for acc in per_pass.values():
        if acc.get("_candidates"):
            acc["sources.snapshots.plan_scan.pruned_ratio"] = acc["_pruned"] / acc["_candidates"]
    for k in names:
        vals = [acc[k] for acc in per_pass.values() if k in acc]
        if vals:
            out[k] = median(vals)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--small", action="store_true", help="smoke-test input sizes")
    ap.add_argument("--corrupt", metavar="QUERY",
                    help="test hook: alter this query's result so the checks fail")
    args = ap.parse_args(argv)

    # the engine and its DuckDB oracle helpers live in the checkout
    sys.path[:0] = [HERE, ROOT]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE, *filter(None, [os.environ.get("PYTHONPATH")])]
    )
    try:
        import __spark_entry__  # noqa: F401
        import tests.oracle  # noqa: F401
        from e_commerce_lakehouse_spark.session import build_session
    except ImportError as e:
        print(f"perfbench: engine sources not found under {ROOT}: {e}", file=sys.stderr)
        return 2
    from tracing import Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    e2e_units, layer_units = declared()
    run_id = f"{args.workload}-s{args.seed}-{os.getpid()}"
    work = os.path.join(HERE, ".work", run_id)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    n_cores = cores()

    def make(sub: str):
        return WORKLOADS[args.workload](os.path.join(work, sub), args.seed, args.small,
                                        args.corrupt)

    wl = make("a")
    spark = None
    try:
        t0 = time.perf_counter()
        wl.make_inputs()
        inputs_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        spark = build_session(
            app_name="perfbench",
            master=f"local[{n_cores}]",
            shuffle_partitions=n_cores,
            extra_conf={
                "spark.local.dir": os.path.join(work, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp "
                f"-Dderby.system.home={work}/tmp",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        build_s = time.perf_counter() - t0
        tracer = Tracer(spark, run_id)
        t0 = time.perf_counter()
        wl.start(spark, tracer)
        start_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.run_pass(-1)
        warmup_s = time.perf_counter() - t0
        runs = [wl]
        if args.trace and wl.rounds is not None:
            # a second copy of the same seeded inputs, whose rounds run
            # traced, each next to its untraced twin (the pair's order
            # alternates, so neither side gets the other's residual
            # warm-up): the tracing overhead then compares the same rounds
            runs.append(make("b"))
            runs[1].make_inputs()
            runs[1].start(spark, tracer)
            runs[1].run_pass(-1)
        setup_s = time.time() - T_START

        passes: list[dict] = []
        t_loop = time.perf_counter()
        if wl.rounds is None:
            # every pass does the same work: alternate untraced and
            # traced passes until --seconds have elapsed and enough
            # untraced passes are done
            min_untraced = 1 if args.small else MIN_PASSES
            while len(passes) < MAX_PASSES:
                run_pass(wl, tracer, passes, bool(args.trace) and len(passes) % 2 == 1)
                done = time.perf_counter() - t_loop >= args.seconds
                n_untraced = sum(not p["traced"] for p in passes)
                if done and n_untraced >= min_untraced and (not args.trace or len(passes) >= 2):
                    break
        else:
            # each round adds state, so a run does a fixed number of
            # rounds whatever the speed
            for i in range(wl.rounds):
                for w in runs if i % 2 == 0 else runs[::-1]:
                    run_pass(w, tracer, passes, w is not wl, i)
        loop_s = time.perf_counter() - t_loop
        t0 = time.perf_counter()
        checks = 0
        for w in runs:
            w.finish()
            checks += w.check()
        check_s = time.perf_counter() - t0
        failures = [f for w in runs for f in w.failures]

        untraced = [p for p in passes if not p["traced"]]
        traced_p = [p for p in passes if p["traced"]]
        stats = [pass_stats(p["recs"]) for p in untraced]
        e2e = {
            "setup_s": setup_s,
            "pass_s": median(s[0] for s in stats),
            "call_geomean_s": median(s[1] for s in stats),
        }
        if args.trace:
            layers = {k: 0.0 for k in layer_units}
            for k in layer_units:
                if k.startswith(("spark.", "python.", "driver.")):
                    layers[k] = median(
                        sum(r.get(k, 0.0) for r in p["recs"]) for p in traced_p
                    )
            walls = [sum(r["wall_s"] for r in p["recs"]) for p in traced_p]
            layers["spark.parallel_eff"] = median(
                sum(r.get("spark.run_s", 0.0) for r in p["recs"]) / (w * n_cores)
                for p, w in zip(traced_p, walls)
            )
            layers["trace.harvest_s"] = median(
                sum(r.get("harvest_s", 0.0) for r in p["recs"]) for p in traced_p
            )
            tstats = [pass_stats(p["recs"]) for p in traced_p]
            layers["trace.overhead_pass_s"] = median(s[0] for s in tstats) - e2e["pass_s"]
            layers["trace.overhead_call_geomean_s"] = (
                median(s[1] for s in tstats) - e2e["call_geomean_s"]
            )
            layers.update(span_layers(tracer.spans, traced_p, layer_units))
            for k, vals in wl.layer_metrics(untraced).items():
                layers[k] = median(vals)
            layers["session.build_s"] = build_s
            layers["session.warmup_s"] = warmup_s
            metrics = {k: {"value": layers[k], "unit": u} for k, u in layer_units.items()}
            tracer.dump(
                os.path.join(HERE, ".work", f"trace-{args.workload}-s{args.seed}.json"),
                {"passes": passes, "end_to_end": e2e, "failures": failures},
            )
        else:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in e2e_units.items()}
        for f in failures:
            print(f"perfbench: FAILED {f}", file=sys.stderr)
        attempted = sum(w.attempted for w in runs) + checks
        failed = min(len(failures), attempted)
        print(f"perfbench: {args.workload} seed={args.seed} passes={len(passes)} "
              f"inputs={inputs_s:.1f}s build={build_s:.1f}s start={start_s:.1f}s warmup={warmup_s:.1f}s loop={loop_s:.1f}s "
              f"finish+check={check_s:.1f}s e2e={json.dumps(e2e)}", file=sys.stderr)
        for p in passes:
            print(f"perfbench: pass {p['n']} (round {p['i']}, traced={p['traced']}) calls "
                  + " ".join(f"{r['name']}={r['wall_s']:.3f}" for r in p["recs"]),
                  file=sys.stderr)
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        }
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def run_pass(wl, tracer, passes: list[dict], traced: bool, i: int | None = None) -> None:
    """Run pass ``i`` (default: the next sequence number) of ``wl`` and
    append its record; a traced pass wraps the storage layer and spans
    the whole pass."""
    n = len(passes)
    i = n if i is None else i
    tracer.enabled = traced
    if traced:
        tracer.sync()
        wl.wrap(tracer)
    with tracer.span("pass", **{"pass": n}):
        recs = wl.run_pass(i)
    tracer.unwrap_all()
    tracer.enabled = False
    passes.append({"n": n, "i": i, "traced": traced, "recs": recs})


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM the gateway launched."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


if __name__ == "__main__":
    sys.exit(main())
