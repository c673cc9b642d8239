"""Benchmark entry point.

    python3 perfbench/run.py --workload qa_batch --seed 1 --seconds 15 --trace 0

Run from the root of a checkout of the repository. Each run is one
fresh process on ``local[k]``, k = min(nproc, 4):

  1. set up: start the session, generate the seeded inputs
     (perfbench/gen.py) and run a fixed number of warm-up iterations.
     The first one is the expected-output pass: its chunk count, result
     digest or verdicts are what every later iteration must reproduce.
  2. measure: a fixed number of timed iterations, about ``--seconds``
     of work, each followed by its output checks and a session probe
     (persisted RDDs, storage memory, GC time) for the drift and leak
     guard;
  3. report: a detailed record on stdout and under perfbench/out/records/,
     then, as the last line, the contract JSON object.

End-to-end metrics are CPU time of the whole process tree (driver, JVM,
Python workers), not wall time: on a shared virtual host the hypervisor
takes a share of the CPUs that moves by several times between minutes,
and wall time moves with it. CPU time still drifts with the load other
tenants put on the host, so the per-item figure is scaled by a reference
job (common.reference_job: a fixed Spark job that uses no engine code)
measured in the same process between the timed iterations:
``scaled_cpu_ms_per_item = cpu_ms_per_item * REF_NOMINAL_CPU_S / median(reference)``.
``setup_s`` is the set-up's CPU seconds, unscaled. Wall-clock figures,
the host steal share and the unscaled CPU figure are in the record.

``--trace 1`` runs the same set-up and timed iterations with the Spark
UI on, then one traced iteration in which each public call is a span
with its own job group, and reports the per-layer metrics read from the
UI REST API. The record also carries the tracing overhead: the traced
iteration minus the untraced ones.

Any failed output check exits non-zero without a result line.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import common  # noqa: E402  (stdlib only; needs the path above)

STEAL_START = common.steal_s()

WORKLOADS = ("qa_batch", "ingest_dedup")
MIN_TIMED_ITERS = 2
# Wall time of one warm iteration of either workload on a quiet 4-core
# host. The timed-iteration count is fixed from --seconds with it, so
# every run measures the same iterations of the warm-up ramp whatever
# the host's speed at the time.
NOMINAL_ITER_S = 7.5

E2E = {  # name -> unit, as in BENCHMARK.json
    "setup_s": "s",
    "scaled_cpu_ms_per_item": "ms",
}
PER_LAYER = {  # name -> unit, as in BENCHMARK.json
    "session.gc_s": "s",
    "session.jobs_per_iter": "count",
    "session.stages_per_iter": "count",
    "session.tasks_per_iter": "count",
    "session.persisted_rdds_after_iter": "count",
    "session.storage_mem_mb_after_iter": "MB",
    "sources.results_write_s": "s",
    "sources.results_bytes": "bytes",
    "sources.store_bytes_after_epoch": "bytes",
    "sources.store_files_after_epoch": "count",
    "functions.chunk_s": "s",
    "functions.chars_chunked_per_s": "chars/s",
    "functions.chunks_per_question": "count",
    "llm.map_calls": "count",
    "llm.reduce_calls": "count",
    "llm.judge_calls": "count",
    "llm.input_tokens": "tokens",
    "llm.output_tokens": "tokens",
    "llm.attempts": "count",
    "llm.retries": "count",
    "llm.failures": "count",
    "llm.map_s": "s",
    "llm.reduce_s": "s",
    "llm.judge_s": "s",
    "llm.arrow_bytes_to_python": "bytes",
    "llm.arrow_bytes_from_python": "bytes",
    "plans.join_s": "s",
    "plans.filter_s": "s",
    "plans.gather_s": "s",
    "plans.kept_ratio": "ratio",
    "plans.shuffle_write_mb": "MB",
    "plans.shuffle_read_mb": "MB",
    "plans.spill_mb": "MB",
    "plans.gather_task_skew": "ratio",
    "serve.jobs_per_request": "count",
    "serve.stages_per_request": "count",
    "serve.tasks_per_request": "count",
    "serve.job_s_per_request": "s",
    "serve.driver_s_per_request": "s",
    "serve.request_s": "s",
    "dedup.jobs": "count",
    "dedup.stages": "count",
    "dedup.shuffle_write_mb": "MB",
    "dedup.shuffle_read_mb": "MB",
    "dedup.spill_mb": "MB",
    "dedup.max_task_skew": "ratio",
    "dedup.survivors": "count",
    "streaming.epochs": "count",
    "streaming.add_batch_s": "s",
    "streaming.planning_s": "s",
    "streaming.store_rows_read_per_epoch": "count",
    "streaming.admitted": "count",
    "streaming.rejected": "count",
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description="finspark benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def configure_env(work: str) -> int:
    """Environment the engine reads at session start. Everything the run
    writes stays under ``work``; Python workers get the engine and this
    directory on their import path (they do not inherit sys.path)."""
    k = max(1, min(os.cpu_count() or 1, 4))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(k)
    os.environ["SPARK_GRAFT_MASTER"] = f"local[{k}]"
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    return k


def stop_spark(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for both."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:
            pass
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import finmapreduce_spark  # noqa: F401  the engine must be in the checkout
    except ImportError as e:
        print(f"perfbench: engine not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    import gen

    out = os.path.join(HERE, "out")
    work = os.path.join(out, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    k = configure_env(work)
    mod = __import__(args.workload)

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "tmp"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.enabled": "true" if args.trace else "false",
    }
    from finmapreduce_spark.session import get_spark
    from spans import Tracer

    spark = None
    try:
        t = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}", extra_conf=conf)
        setup = {"session_s": time.perf_counter() - t}

        t = time.perf_counter()
        inputs = os.path.join(work, "inputs")
        manifest = gen.generate(args.seed, inputs, mod.INPUTS)
        setup["inputs_s"] = time.perf_counter() - t

        tracer = Tracer(spark, enabled=bool(args.trace))
        wl = mod.Workload(spark, inputs, manifest, work, tracer)

        warmup = []
        t = time.perf_counter()
        for n in range(mod.WARMUP_ITERS):
            warmup.append(wl.iteration(n)["wall_s"])
        setup["warmup_s"] = time.perf_counter() - t
        setup["wall_s"] = time.perf_counter() - T_START
        setup["cpu_s"] = common.tree_cpu_s()
        setup["steal_s"] = common.steal_s() - STEAL_START

        for _ in range(2):  # the reference job's own warm-up, not kept
            common.reference_job(spark)
        refs = [common.reference_job(spark)]
        iters, probes = [], []
        t_meas = time.perf_counter()
        n_timed = max(MIN_TIMED_ITERS, round(args.seconds / NOMINAL_ITER_S))
        for n in range(mod.WARMUP_ITERS, mod.WARMUP_ITERS + n_timed):
            iters.append(wl.iteration(n))
            probes.append(common.session_probe(spark))
            refs.append(common.reference_job(spark))
        measured_s = time.perf_counter() - t_meas
        scale = common.REF_NOMINAL_CPU_S / common.median(refs)

        cpu_ms_per_item = 1000 * sum(i["cpu_s"] for i in iters) / sum(i["items"] for i in iters)
        e2e = {
            "setup_s": setup["cpu_s"],
            "scaled_cpu_ms_per_item": cpu_ms_per_item * scale,
        }
        host_speed = {
            "reference_cpu_s": refs,
            "reference_nominal_cpu_s": common.REF_NOMINAL_CPU_S,
            "scale": scale,
            "cpu_ms_per_item_unscaled": cpu_ms_per_item,
        }
        walls = [i["wall_s"] for i in iters]
        ncpu = os.cpu_count() or 1
        wall_clock = {  # reported, not gated: host steal moves them too much
            "setup_wall_s": setup["wall_s"],
            "items_per_s": sum(i["items"] for i in iters) / sum(walls),
            "iter_p50_s": common.median(walls),
            "iter_p50_less_steal_s": common.median(
                [i["wall_s"] - i["steal_s"] / ncpu for i in iters]
            ),
            "host_steal_share": sum(i["steal_s"] for i in iters) / (ncpu * sum(walls)),
        }
        gc_per_iter = [b["gc_s"] - a["gc_s"] for a, b in zip(probes, probes[1:])]
        drift = {
            "iter_s": common.trend(walls, 0.05),
            "iter_cpu_s": common.trend([i["cpu_s"] for i in iters], 0.05),
            "persisted_rdds": common.trend([p["persisted_rdds"] for p in probes]),
            "storage_mem_mb": common.trend([p["storage_mem_mb"] for p in probes], 0.05),
            "gc_s_per_iter": common.trend(gc_per_iter, 0.05),
        }
        drift["flagged"] = sorted(k for k, v in drift.items() if v["monotone"])

        record = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "run_seconds": args.seconds,
            "host": common.host_stamp(spark),
            "local_cores": k,
            "inputs": manifest,
            "setup": setup,
            "warmup_iter_s": warmup,
            "timed_iter_s": walls,
            "timed_iter_cpu_s": [i["cpu_s"] for i in iters],
            "timed_iter_steal_s": [i["steal_s"] for i in iters],
            "measured_s": measured_s,
            "probes": probes,
            "drift": drift,
            "end_to_end": {m: {"value": e2e[m], "unit": E2E[m]} for m in E2E},
            "wall_clock": wall_clock,
            "host_speed": host_speed,
            "workload_metrics": mod.named_metrics(iters),
        }
        attempted = sum(i["items"] for i in iters)
        failed = sum(i["failed"] for i in iters)

        if args.trace:
            layers = dict.fromkeys(PER_LAYER, 0)
            layers.update(session_layer(tracer, iters, probes, gc_per_iter))
            layers.update(wl.traced())
            traced = wl.traced_iteration
            record["tracing_overhead"] = {
                "scaled_cpu_ms_per_item": 1000 * traced["cpu_s"] / wl.n_items * scale
                - e2e["scaled_cpu_ms_per_item"],
                "iter_p50_s": traced["wall_s"] - wall_clock["iter_p50_s"],
                "note": "the traced iteration minus the median untraced iteration "
                        "of the same UI-enabled process",
            }
            record["per_layer"] = {m: {"value": layers[m], "unit": u} for m, u in PER_LAYER.items()}
            record["spans"] = tracer.spans
            metrics = record["per_layer"]
        else:
            metrics = record["end_to_end"]

        common.dump(
            os.path.join(out, "records", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
            record,
        )
        summary = {
            k: record[k] for k in (
                "workload", "seed", "trace", "local_cores", "setup", "warmup_iter_s",
                "timed_iter_s", "drift", "end_to_end", "host_speed", "wall_clock",
                "workload_metrics",
            )
        }
        summary["host"] = {k: v for k, v in record["host"].items() if k != "spark_conf"}
        if args.trace:
            summary["tracing_overhead"] = record["tracing_overhead"]
        print(json.dumps(summary, default=str))
        print(json.dumps({
            "correct": True,
            "attempted": attempted,
            "failed": failed,
            "metrics": {m: {"value": v["value"], "unit": v["unit"]} for m, v in metrics.items()},
        }))
        return 0
    except common.CheckFailed as e:
        print(f"perfbench: output check failed: {e}", file=sys.stderr)
        return 1
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def session_layer(tracer, iters, probes, gc_per_iter) -> dict:
    """session.* from the timed iterations of the traced process: job,
    stage and task counts per iteration from the REST API, the leak
    probes after the last iteration."""
    from spans import group_metrics, jobs_metrics

    jobs = tracer.jobs()
    per = []
    for it in iters:
        if "run_id" in it:  # streaming: the query's run id is the job group
            per.append(jobs_metrics(tracer, [j for j in jobs if j.get("jobGroup") == it["run_id"]]))
    if not per:
        spans = [s for s in tracer.spans if s["name"].endswith(".iteration")][-len(iters):]
        per = [group_metrics(tracer, jobs, {s["id"]}) for s in spans]
    return {
        "session.gc_s": common.median(gc_per_iter) if gc_per_iter else 0.0,
        "session.jobs_per_iter": common.median([p["jobs"] for p in per]),
        "session.stages_per_iter": common.median([p["stages"] for p in per]),
        "session.tasks_per_iter": common.median([p["tasks"] for p in per]),
        "session.persisted_rdds_after_iter": probes[-1]["persisted_rdds"],
        "session.storage_mem_mb_after_iter": probes[-1]["storage_mem_mb"],
    }


if __name__ == "__main__":
    sys.exit(main())
