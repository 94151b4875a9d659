#!/usr/bin/env python3
"""Benchmark of the engine's two uses: batch duplicate detection
(``dedup_batch``) and load-once/search-many serving (``index_serve``).

    python3 perfbench/run.py --workload dedup_batch --seed 1 --seconds 22 --trace 0

Run from the repository root. One process, one client, closed loop, Spark
at ``local[N]`` with N = min(2, cpu count). Phases:

1. set-up (``setup_s``): session start, seeded input generation and, for
   ``index_serve``, embedding the corpus and queries and loading the index;
2. the cold op (``cold_op_s``);
3. the timed phase: ops back to back until ``--seconds`` have passed;
4. checks and quality: every op's output is checked, the pool is scored
   against the exact tier, and the quality outputs are compared with any
   earlier run of the same code, workload and seed.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` turns on the
Spark event log and spans around the public calls and prints the
per-layer metrics (see README.md). The last stdout line is the result
JSON; the line before it is a detail record.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import glob  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
LEDGER = os.path.join(WORK_ROOT, "ledger.json")
sys.path[:0] = [ROOT, HERE]

if not os.path.isfile(os.path.join(ROOT, "job_post_similarity_spark", "__init__.py")):
    sys.exit(f"perfbench: no engine package under {ROOT}; run from a full checkout")

import spans  # noqa: E402
from gen import RATES  # noqa: E402

#: metric names and units, as BENCHMARK.json declares them
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    _BENCH = json.load(_fh)
END_TO_END = {m["name"]: m["unit"] for m in _BENCH["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _BENCH["per_layer"]}

STAGE_LAYERS = ("operators.preprocess", "functions.embed", "operators.ann.pair_join")


def code_digest() -> str:
    """Hash of the engine's and the benchmark's sources: the determinism
    ledger compares only runs of identical code and identical inputs."""
    h = hashlib.sha256()
    paths = glob.glob(os.path.join(ROOT, "job_post_similarity_spark", "**", "*.py"),
                      recursive=True) + glob.glob(os.path.join(HERE, "*.py"))
    for path in sorted(paths):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def ledger_check(key: str, quality: dict, untraced: dict | None) -> tuple[bool, dict]:
    """Compare quality with the first run recorded under ``key`` (same
    code, workload, seed, size); record it if it is the first. Returns
    (match, entry)."""
    try:
        with open(LEDGER) as fh:
            ledger = json.load(fh)
    except (OSError, ValueError):
        ledger = {}
    entry = ledger.setdefault(key, {"quality": quality})
    same = entry["quality"] == quality
    if untraced is not None:
        entry["untraced"] = untraced
    tmp = LEDGER + f".{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump(ledger, fh)
    os.replace(tmp, LEDGER)
    return same, entry


def start_session(trace: bool, work: str):
    """local[N] session through the engine's factory, with every scratch
    path inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    conf = {
        "spark.driver.memory": "2g",
        # the throughput collector: its heap footprint repeats run to run
        # (G1's adaptive region sizing made peak RSS spread ~20%);
        # no hsperfdata file, which the JVM would write outside the checkout
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:+UseParallelGC -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        events = os.path.join(work, "eventlog")
        os.makedirs(events)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": "file://" + events,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    from job_post_similarity_spark.session import get_spark

    cpus = min(2, os.cpu_count() or 1)
    return get_spark("perfbench", cpus=cpus, extra_conf=conf), cpus


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it launched, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


def install_stage_spans(tracer) -> None:
    """Span each ``sources.io.cached_stage`` call, which ``run_pipeline``
    makes once per stage, and record the Catalyst time of the stage plan."""
    from job_post_similarity_spark.sources import io

    names = {"processed": "operators.preprocess", "embeddings": "functions.embed",
             "similar_pairs": "operators.ann.pair_join"}
    original = io.cached_stage

    def cached_stage(spark, path, compute, fmt="parquet"):
        frames = []

        def traced_compute():
            frames.append(compute())
            return frames[-1]

        with tracer.span(names.get(os.path.basename(path), "sources.io.cached_stage")) as rec:
            out = original(spark, path, traced_compute, fmt)
            rec["catalyst_ms"] = sum(spans.catalyst_ms(f) for f in frames)
        return out

    io.cached_stage = cached_stage


def percentile_line(lat: list[float]) -> dict:
    """Median, plus the highest of p75/p90/p95/p99 with at least ten
    samples beyond it."""
    out = {"samples": len(lat), "p50_s": statistics.median(lat),
           "latencies_s": [round(x, 4) for x in lat]}
    qs = statistics.quantiles(lat, n=100, method="inclusive") if len(lat) > 1 else []
    for p in (99, 95, 90, 75):
        if len(lat) * (100 - p) / 100 >= 10:
            out[f"p{p}_s"] = qs[p - 1]
            break
    return out


def per_layer(tracer, wl, quality, work, calib_cpu, calib_shuffle, host0, session_s,
              overhead) -> dict:
    """Aggregate spans and event-log counters into the per-layer record."""
    groups = spans.read_event_log(os.path.join(work, "eventlog"))

    def layer(name, phase=None):
        rows = [spans.span_metrics(tracer, groups, s["id"]) for s in tracer.spans
                if s["name"] == name and (phase is None or s["phase"] == phase)]
        return spans.mean_metrics(rows)

    rec = {"session": {"start_s": session_s}}
    for name in STAGE_LAYERS:
        rec[name] = layer(name, "timed") or layer(name, "setup")
    pj = rec["operators.ann.pair_join"]
    if pj:
        pj["shuffle_records_per_pair"] = (
            pj["output_rows"] / pj["shuffle_write_records"] if pj["shuffle_write_records"] else 0.0)
    for name, phase in (("index_api.search", "timed"), ("index_api.search.cold", "cold"),
                        ("index_api.add", None), ("index_api.remove", None),
                        ("index_api.search.after_mutation", None)):
        rec[name] = layer(name, phase)
    op = layer("op", "timed")
    rec["driver"] = {"non_job_s": op.get("non_job_s", 0.0),
                     "catalyst_planning_ms": statistics.mean(wl.catalyst_ms or [0.0])}
    rec["operators.knn"] = {"exact_s": quality["exact_s_per_batch"]}
    rec["spark"] = {"persisted_rdds_delta": statistics.mean(wl.persisted_delta or [0])}
    rec["trace"] = {"unattributed_frac": op["self_s"] / op["wall_s"] if op else 0.0,
                    "overhead_frac": overhead}
    steal, total = spans.cpu_times()
    rec["host"] = {"calib_s": calib_cpu[-1] + calib_shuffle, "calib_cpu_start_s": calib_cpu[0],
                   "calib_cpu_end_s": calib_cpu[-1], "calib_shuffle_s": calib_shuffle,
                   "steal_frac": (steal - host0[0]) / (total - host0[1]) if total > host0[1] else 0.0,
                   "loadavg1": os.getloadavg()[0]}
    return rec


def flat_metric(rec: dict, name: str) -> float:
    for layer in sorted(rec, key=len, reverse=True):
        if name.startswith(layer + "."):
            return float(rec[layer].get(name[len(layer) + 1:], 0.0))
    raise KeyError(name)


def main() -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "smoke"), default="full",
                    help="input size; 'smoke' is the smoke test's tiny size")
    args = ap.parse_args()
    trace = bool(args.trace)

    os.makedirs(WORK_ROOT, exist_ok=True)
    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    host0 = spans.cpu_times()
    spark = None
    try:
        t0 = time.perf_counter()
        spark, cpus = start_session(trace, work)
        session_s = time.perf_counter() - t0
        tracer = spans.Tracer(spark.sparkContext, enabled=trace)
        if trace:
            install_stage_spans(tracer)
        wl = WORKLOADS[args.workload](spark, tracer, args.seed, args.scale,
                                      os.path.join(work, "ops"))
        wl.setup()
        setup_s = time.perf_counter() - T_START
        calib_cpu = [spans.calibrate_cpu()] if trace else []

        tracer.phase = "cold"
        cold_s = wl.op(0, *wl.cold_spans)
        tracer.phase = "warmup"
        pool = wl.size["pool"]
        for i in range(1, pool):
            wl.op(i, *wl.op_spans)

        tracer.phase = "timed"
        jsc = spark.sparkContext._jsc
        lat: list[float] = []
        i = pool
        t_phase = time.perf_counter()
        while time.perf_counter() - t_phase < args.seconds:
            before = jsc.getPersistentRDDs().size() if trace else 0
            lat.append(wl.op(i, *wl.op_spans))
            if trace:
                wl.persisted_delta.append(jsc.getPersistentRDDs().size() - before)
            i += 1

        tracer.phase = "quality"
        quality = wl.finish()
        if trace and args.workload == "index_serve":
            tracer.phase = "probe"
            try:
                wl.mutation_probe()
            except Exception as exc:  # noqa: BLE001
                wl.fail("mutation probe", f"{type(exc).__name__}: {exc}")
        if trace:
            calib_cpu.append(spans.calibrate_cpu())
            calib_shuffle = spans.calibrate_shuffle(spark)

        from pyspark import SparkContext

        jvm_pid = SparkContext._gateway.proc.pid
        rss_parts = (spans.vm_hwm_mb(os.getpid()), spans.vm_hwm_mb(jvm_pid))
        peak_rss = sum(rss_parts)
        stop_session(spark)
        spark = None

        ok_lat = [x for x in lat if not math.isnan(x)]
        qkey = {k: v for k, v in quality.items() if k != "exact_s_per_batch"}
        key = f"{code_digest()}:{args.workload}:{args.seed}:{json.dumps(wl.size, sort_keys=True)}"
        p50 = statistics.median(ok_lat) if ok_lat else 0.0
        same, entry = ledger_check(key, qkey, None if trace else {"op_p50_s": p50})
        if not same:
            wl.fail("determinism", "quality differs from an earlier run of the same code and seed")
        attempted = wl.ops_run
        failed = min(attempted, len(wl.failures))
        if math.isnan(cold_s):
            cold_s = 0.0  # the failure is recorded; keep the line valid JSON
        e2e = {
            "setup_s": setup_s,
            "cold_op_s": cold_s,
            "op_p50_s": p50,
            "items_per_s": wl.items_per_op * len(ok_lat) / sum(ok_lat) if ok_lat else 0.0,
            "result_recall": quality["result_recall"],
            "ok_ops_ratio": (attempted - failed) / attempted,
            "peak_rss_mb": peak_rss,
        }
        detail = {
            "workload": args.workload, "seed": args.seed, "scale": args.scale,
            "spark_master": f"local[{cpus}]", "input": wl.size, "generator": RATES,
            "timed_ops": percentile_line(ok_lat) if ok_lat else {"samples": 0},
            "quality": {k: v for k, v in qkey.items() if k != "digest"},
            "failures": wl.failures, "peak_rss_mb_python_jvm": rss_parts,
        }
        if trace:
            untraced = entry.get("untraced", {}).get("op_p50_s")
            overhead = (p50 - untraced) / untraced if untraced else None
            rec = per_layer(tracer, wl, quality, work, calib_cpu, calib_shuffle, host0,
                            session_s, overhead)
            detail["per_layer"] = rec
            metrics = {n: {"value": flat_metric(rec, n), "unit": u} for n, u in PER_LAYER.items()}
        else:
            detail["end_to_end"] = e2e
            metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END.items()}
            for n, u in END_TO_END.items():
                print(f"{n:>14} = {e2e[n]:.6g} {u}", file=sys.stderr)
        print(json.dumps(detail, default=str))
        print(json.dumps({"correct": not wl.failures, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        return 0
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
