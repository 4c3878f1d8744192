"""Repository benchmark: closed-loop, single-client crawl workloads.

    python3 perfbench/run.py --workload crawl_codec --seed 1 --seconds 15 --trace 0

Runs from the root of a checkout. ``--trace 0`` prints the end-to-end
metrics: median set-up CPU seconds, CPU milliseconds of the whole
process tree per URL crawled, and store bytes per URL. ``--trace 1`` is a separate
traced run that prints the per-layer metrics: wall-clock set-up time,
throughput and round latency, commit timings, bloom/compaction counts, store sizes,
frontier/known/select_round probes, the image-kernel probe, and Spark's
event log attributed to the timed rounds. The last stdout line is one
JSON object: {"correct", "attempted", "failed", "metrics"}. The exit code
is non-zero when any output is wrong, a round failed or a metric named in
BENCHMARK.json was not produced.

A run does a fixed amount of work per workload (``timed_rounds`` in
config.json), sized so that its timed rounds take about ``--seconds``
(BENCHMARK.json's ``run_seconds``) on a 4-core box; ``--seconds`` is
recorded with the run and does not change the work, so every run of a
workload crawls the same rounds and the digest can be pinned.

Workloads, world configs, the box and the pinned digests live in
perfbench/config.json; ``--config`` points at another copy of it and
``--smoke`` runs its tiny worlds (perfbench/smoke_test.py uses both).
Scratch files go to .perfbench/ in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench")
# per-process scratch (stores, Spark local dirs, event log), removed at exit
WORK = os.path.join(OUT, f"work-{os.getpid()}")
TMP = os.path.join(WORK, "tmp")


def isolate_env() -> None:
    """Call before numpy or Spark is imported."""
    # one BLAS thread: the kernel probe times single calls, and Spark's
    # Python workers already run one task per core
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    # keep every scratch file (Spark local dirs, the shipped package zip)
    # inside the checkout
    os.environ["TMPDIR"] = TMP
    os.environ["SPARK_LOCAL_DIRS"] = TMP
    os.makedirs(TMP, exist_ok=True)


def parse_args() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--config", default=os.path.join(HERE, "config.json"))
    p.add_argument("--smoke", action="store_true", help="tiny worlds (self-test)")
    return p.parse_args()


def fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(box: dict, event_dir: str | None):
    from housing_crawler_spark.session import spark_session

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", box["driver_mem"])
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": TMP,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={TMP} -XX:-UsePerfData",
    }
    if event_dir is not None:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + event_dir
        # one plain JSON-lines file (Spark 4 defaults to rolling, compressed logs)
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    cores = nproc()
    return spark_session("perfbench", cores=cores, shuffle_partitions=cores, extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait until it and the Python
    workers it started have exited."""
    from tracing import _tree_pids

    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while len(_tree_pids(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.2)


def main() -> int:
    args = parse_args()
    if not os.path.isdir(os.path.join(ROOT, "housing_crawler_spark")):
        fail(f"no housing_crawler_spark package under {ROOT}")
    try:
        with open(args.config) as f:
            cfg = json.load(f)
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
    except (OSError, ValueError) as e:
        fail(f"cannot read the benchmark config: {e}")
    table = cfg["smoke"] if args.smoke else cfg["workloads"]
    if args.workload not in table:
        fail(f"unknown workload {args.workload!r}; have {sorted(table)}")
    wl = table[args.workload]

    isolate_env()
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import kernels
    import tracing
    import workloads

    event_dir = os.path.join(WORK, "events") if args.trace else None
    if event_dir:
        os.makedirs(event_dir)
    spans = tracing.Spans(bool(args.trace))
    # the sampler walks /proc on a driver thread: traced runs only
    rss = tracing.RssSampler().start() if args.trace else None
    ticks0 = tracing.cpu_ticks()
    with spans.span("session"):
        t0 = time.perf_counter()
        spark = start_spark(cfg["box"], event_dir)
        session_s = time.perf_counter() - t0
    try:
        res = workloads.run_crawl(spark, wl, args.seed, os.path.join(WORK, "store"), spans)
        e2e = workloads.end_to_end(res) if res["timed"] else {}
        layers = {}
        if args.trace and res["timed"]:
            layers = workloads.wall_clock(res)
            layers.update(workloads.layer_metrics(res, spark, spans))
    finally:
        peak_mb = rss.stop() if rss else None
        steal = tracing.steal_frac(ticks0, tracing.cpu_ticks())
        stop_spark(spark)

    problems = [res["error"]] if res["error"] else []
    pins = cfg.get("pinned_smoke" if args.smoke else "pinned", {}).get(args.workload, {})
    problems += workloads.check(res, args.seed, pins)
    attempted = len(res["rounds"]) + res["failed"]

    if args.trace:
        kworld = workloads.world_of(table["crawl_codec"], args.seed)
        layers.update(kernels.probe(kworld, spans))
        layers.update(span_layers(spans, res, event_dir, tracing))
        layers.update(
            {
                "setup.session_s": session_s,
                "peak_rss_mb": peak_mb,
                "host.steal_frac": steal,
                "failed_ops_frac": res["failed"] / attempted,
                "crawl.rounds": len(res["timed"]),
                **{f"trace.{k}": v for k, v in e2e.items()},
            }
        )
    chosen = bench["per_layer"] if args.trace else bench["end_to_end"]
    values = layers if args.trace else e2e
    metrics = {m["name"]: {"value": values.get(m["name"]), "unit": m["unit"]} for m in chosen}
    missing = [name for name, m in metrics.items() if m["value"] is None]
    if missing:
        problems.append(f"metrics not produced: {', '.join(missing)}")

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cores": nproc(),
        "session_s": session_s,
        "steal_frac": steal,
        "wall_s": time.perf_counter() - T_START,
        "setups_s": res["setups"],
        "rounds": [
            {"round": x["round"], "s": x["s"], "cpu_s": x["cpu_s"], **{k: x["metrics"].get(k) for k in (
                "n_selected", "n_known", "n_seen", "timings", "bloom_n_bits")}}
            for x in res["rounds"]
        ],
        "digest": res.get("digest"),
        "problems": problems,
        "metrics": metrics,
    }
    with open(os.path.join(OUT, f"run-{args.workload}-{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)
    if args.trace:
        spans.write(os.path.join(OUT, f"spans-{args.workload}-{args.seed}.json"))
    shutil.rmtree(WORK, ignore_errors=True)

    for p in problems:
        print(f"perfbench: {p}", file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": not problems,
                "attempted": attempted,
                "failed": res["failed"],
                "metrics": metrics,
            }
        )
    )
    return 1 if problems else 0


def span_layers(spans, res: dict, event_dir: str, tracing) -> dict:
    """Spark event-log metrics over the timed rounds, attributed to each
    round by job submission time inside the round's span."""
    ev = tracing.read_event_log(event_dir)
    windows = [(s["start"], s["end"]) for s in spans.named("round") if s["round"] > 1]
    out = tracing.spark_layer(ev, windows)
    per = [tracing.jobs_in(ev, lo, hi) for lo, hi in windows]
    n = max(1, len(per))
    out["crawl.jobs_per_round"] = sum(j for j, _ in per) / n
    out["crawl.tasks_per_round"] = sum(t for _, t in per) / n
    return out


if __name__ == "__main__":
    sys.exit(main())
