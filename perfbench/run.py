#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout.  The program is imported from that
checkout only.  One process: set up Spark on ``local[nproc]``, build the
seeded inputs, run one cold pass, then warm passes until ``--seconds`` of
warm work is measured, checking every pass's output.  With ``--trace 0`` the
last stdout line carries the end-to-end metrics of ``BENCHMARK.json``; with
``--trace 1`` warm passes alternate untraced/traced and it carries the
per-layer metrics, and the spans go to ``.perfbench/traces/``.  All scratch
files live under ``.perfbench/`` in the checkout."""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import probe  # noqa: E402

NPROC = len(os.sched_getaffinity(0))

#: The reference's fan-out shape (bench_parity.py) with its latencies cut
#: 30x so a run fits the time budget: 32 partitions x 32 threads, one
#: wave of fetches per task, pipelined sink, healthy receiver.
FANOUT = dict(devices=1024, device_latency_s=0.2, post_delay_s=0.1,
              reject_every=0, fanout_partitions=32, lanes=None)
#: Engine defaults (10 lanes, batch 200), zero device latency, every 5th
#: POST rejected: the CPU-bound per-row path with spill and replay.
RECOVERY = dict(devices=20_000, device_latency_s=0.0, post_delay_s=0.0,
                reject_every=5, fanout_partitions=None, lanes=10)
QUERY_SF = 0.01
#: data-bound scan/join/window/text queries, then one job-bound loop query
QUERIES = ["agg_pricing_summary", "join_q5_local_supplier",
           "window_running_sum", "text_tfidf", "graph_kcore"]


def make_workload(name: str, bench):
    from perfbench.etl import EtlShape, EtlWorkload
    from perfbench.queries import QueryWorkload

    if name == "etl_fanout":
        return EtlWorkload(EtlShape(**FANOUT), bench)
    if name == "etl_recovery":
        return EtlWorkload(EtlShape(**RECOVERY), bench)
    return QueryWorkload(QUERIES, QUERY_SF, bench)


class Bench:
    """One run: the session, the probes and the pass loop."""

    def __init__(self, args, workdir: str):
        self.root, self.workdir = ROOT, workdir
        self.seed, self.seconds, self.trace = args.seed, args.seconds, bool(args.trace)
        self.exclude: set[int] = set()
        self.tracer = probe.Tracer(f"{args.workload}-s{args.seed}-{os.getpid()}", self.trace)
        self.pass_span = None
        from concurrent_etl_go_spark.session import get_spark

        self.spark = get_spark(app_name="perfbench",
                               extra_conf={"spark.ui.showConsoleProgress": "false"})
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.range(1).count()
        self.probe = probe.SparkProbe(self.spark)

    def cpu_s(self) -> float:
        return probe.tree_cpu_s(os.getpid(), self.exclude)

    def measure(self, wl) -> tuple[float, list[dict]]:
        """One cold pass, then warm passes until ``seconds`` of warm passes
        are measured, at least two.  A traced run alternates untraced and
        traced warm passes."""
        first = wl.run_pass(0, traced=False)
        print(f"pass 0 (cold): {first:.3f} s", file=sys.stderr)
        warm_s, index = 0.0, 1
        while warm_s < self.seconds or index <= 2:
            traced = self.trace and index % 2 == 0
            start = time.monotonic()
            self.pass_span = (self.tracer.add("harness:pass", start, start, index=index)
                              if traced else None)
            secs = wl.run_pass(index, traced)
            warm_s += secs
            print(f"pass {index}{' (traced)' if traced else ''}: {secs:.3f} s",
                  file=sys.stderr)
            if self.pass_span is not None:
                self.tracer.spans[self.pass_span]["end"] = time.monotonic()
            index += 1
        return first, wl.passes[1:]


def end_to_end(wl, setup_s, first_s, warm, peak_rss_mb) -> tuple[dict, dict]:
    e2e = wl.end_to_end(warm)
    lat = e2e["latency"]
    tail_v, tail_pct = probe.tail(lat)
    values = {
        "setup_s": setup_s,
        "first_pass_s": first_s,
        "pass_s": probe.median(p["s"] for p in warm),
        "rows_per_s": e2e["rows_per_s"],
        "latency_p50_s": probe.median(lat),
        "latency_tail_s": tail_v,
        "ok_share": 1.0 - wl.failed / max(1, wl.attempted),
        "peak_rss_mb": peak_rss_mb,
    }
    notes = {"pass_s": f"median of {len(warm)} warm passes",
             "latency_p50_s": f"median of {len(lat)} samples",
             "latency_tail_s": f"p{tail_pct} of {len(lat)} samples",
             "ok_share": f"{wl.attempted - wl.failed} of {wl.attempted}"}
    return values, notes


def per_layer(bench, wl, traced, untraced) -> dict:
    median = probe.median
    out = wl.layer_metrics(traced)
    out["process.cpu_busy_share"] = median(p["cpu_s"] / (p["s"] * NPROC) for p in traced)
    out["session.jvm_heap_mb"] = bench.probe.jvm_heap_mb()
    out["trace.overhead_s"] = median(p["s"] for p in traced) - median(p["s"] for p in untraced)
    roots = {s["id"] for s in bench.tracer.spans if s["name"] == "harness:pass"}
    for layer, secs in bench.tracer.self_times(roots).items():
        out[f"self_s.{layer}"] = secs / max(1, len(traced))
    return out


def stop_tree(spark, pids: list[int]) -> None:
    """Stop Spark, its JVM and Python workers, and wait until each has ended."""
    gateway = spark.sparkContext._gateway  # noqa: SLF001
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.monotonic() + 15
    alive = [p for p in pids if probe.alive(p)]
    for pid in alive:
        _signal(pid, signal.SIGTERM)
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if probe.alive(p)]
    for pid in alive:
        _signal(pid, signal.SIGKILL)


def _children(exclude: set[int]) -> list[int]:
    return [p for p in probe.tree_pids(os.getpid(), exclude) if p != os.getpid()]


def _signal(pid: int, sig) -> None:
    try:
        os.kill(pid, sig)
    except OSError:
        pass


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True,
                   choices=["etl_fanout", "etl_recovery", "query_mix"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args()

    missing = [f for f in ("concurrent_etl_go_spark/engine.py", "scripts/gen_sf.py",
                           "scripts/driver_dryrun.py", "BENCHMARK.json")
               if not os.path.isfile(os.path.join(ROOT, f))]
    if missing:
        print(f"not a checkout of the engine: missing {missing}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    workdir = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    for sub in ("spark", "tmp"):
        os.makedirs(os.path.join(workdir, sub))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(NPROC),
        "SPARK_LOCAL_DIRS": os.path.join(workdir, "spark"),
        "TMPDIR": os.path.join(workdir, "tmp"),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(workdir, 'tmp')} -XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join([ROOT] + [x for x in os.environ.get(
            "PYTHONPATH", "").split(os.pathsep) if x]),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_DRIVER_MEM": "1g",
    })
    os.chdir(workdir)  # spark-warehouse and friends land in the scratch dir

    bench = wl = sampler = None
    try:
        bench = Bench(args, workdir)
        setup_s = probe.since_process_start()
        wl = make_workload(args.workload, bench)
        wl.prepare()
        bench.exclude = wl.harness_pids()
        sampler = probe.MemorySampler(bench.exclude).start()
        first_s, warm = bench.measure(wl)
        peak_rss = sampler.stop()
        sampler = None
        if args.trace:
            values = per_layer(bench, wl, [w for w in warm if w["traced"]],
                               [w for w in warm if not w["traced"]])
            wanted, notes = spec["per_layer"], {}
            trace_path = os.path.join(ROOT, ".perfbench", "traces",
                                      f"{bench.tracer.run_id}.jsonl")
            bench.tracer.write(trace_path)
            print(f"spans: {len(bench.tracer.spans)} written to {trace_path}",
                  file=sys.stderr)
        else:
            values, notes = end_to_end(wl, setup_s, first_s, warm, peak_rss)
            wanted = spec["end_to_end"]
    finally:
        if sampler is not None:
            sampler.stop()
        if wl is not None:
            wl.close()
        if bench is not None:
            stop_tree(bench.spark, _children(bench.exclude))
        os.chdir(ROOT)
        shutil.rmtree(workdir, ignore_errors=True)

    metrics = {}
    for m in wanted:
        value = float(values.get(m["name"], 0.0))
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
        note = notes.get(m["name"], "")
        print(f"{m['name']:44s} {value:14.6g} {m['unit']:6s} {note}")
    result = {"correct": wl.failed == 0, "attempted": wl.attempted,
              "failed": wl.failed, "metrics": metrics}
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
