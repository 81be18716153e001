"""ETL workloads: one pass is one ``engine.run_etl`` call over a seeded
appliance CSV, against the harness device and receiver."""

from __future__ import annotations

import glob
import gzip
import json
import os
import random
import subprocess
import sys
import time
from collections import Counter
from dataclasses import dataclass

from perfbench import probe
from perfbench.device import Device, read_logs, reading
from perfbench.receiver import read_log

INDICATORS = ("utilization", "nice", "user", "system", "irq")
#: share of CSV lines with fewer than 2 fields, which the scan must drop
MALFORMED_LINES = 0.02
TOKEN = "perfbench"


@dataclass(frozen=True)
class EtlShape:
    devices: int
    device_latency_s: float
    post_delay_s: float
    reject_every: int
    fanout_partitions: int | None
    lanes: int | None


def write_appliances(path: str, seed: int, devices: int) -> list[tuple[str, str]]:
    """Seeded headerless ``ip,hostname`` CSV in shuffled order; returns the
    valid ``(ip, hostname)`` pairs.  Some valid lines carry a third field,
    which the scan ignores; malformed lines hold one field."""
    rng = random.Random(seed)
    valid, lines = [], []
    for i in range(devices):
        ip = f"10.{i >> 16 & 255}.{i >> 8 & 255}.{i & 255}"
        host = f"dev{seed}-{i:06d}"
        valid.append((ip, host))
        lines.append(f"{ip},{host},rack{i % 7}" if rng.random() < 0.05 else f"{ip},{host}")
    lines += [f"172.16.{i >> 8 & 255}.{i & 255}"
              for i in range(int(devices * MALFORMED_LINES))]
    rng.shuffle(lines)
    with open(path, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    return valid


def _num(text: str) -> float:
    try:
        return float(text)
    except ValueError:
        return 0.0  # the reference's zero-on-failure cast


def expected_row(seed: int, ip: str, host: str) -> tuple:
    """Independent restatement of the transform, timestamp left out."""
    r = reading(seed, ip)
    values = (100.0 - _num(r["p_idle"]), _num(r["p_nice"]), _num(r["p_user"]),
              _num(r["p_sys"]), _num(r["p_irq"]))
    return (host, r["cpu_number"], tuple(zip(INDICATORS, values)))


def row_key(row: dict) -> tuple:
    return (row["name"], row["cpu_number"],
            tuple((i["name"], i["value"]) for i in row["indicators"]))


def dlq_contents(dlq_dir: str) -> tuple[list[str], Counter]:
    files = sorted(glob.glob(os.path.join(dlq_dir, "buffer_failed_worker*.json.gz")))
    rows: Counter = Counter()
    for path in files:
        with gzip.open(path, "rt") as fh:
            rows.update(row_key(r) for r in json.load(fh))
    return files, rows


class EtlWorkload:
    def __init__(self, shape: EtlShape, bench):
        self.shape = shape
        self.bench = bench
        self.csv = os.path.join(bench.workdir, "appliances.csv")
        self.dlq_dir = os.path.join(bench.workdir, "dlq")
        self.recv_log = os.path.join(bench.workdir, "receiver.log")
        self.recv = None
        self.offset = 0
        self.attempted = self.failed = 0
        self.passes: list[dict] = []

    # -- set-up ------------------------------------------------------------

    def prepare(self) -> None:
        seed = self.bench.seed
        valid = write_appliances(self.csv, seed, self.shape.devices)
        self.expected = Counter(expected_row(seed, ip, h) for ip, h in valid)
        self.valid_rows = len(valid)
        port_file = os.path.join(self.bench.workdir, "receiver.port")
        self.recv = subprocess.Popen(
            [sys.executable, os.path.join(os.path.dirname(__file__), "receiver.py"),
             "--log", self.recv_log, "--port-file", port_file,
             "--delay", str(self.shape.post_delay_s),
             "--reject-every", str(self.shape.reject_every), "--token", TOKEN],
        )
        deadline = time.monotonic() + 30
        while not os.path.exists(port_file):
            if self.recv.poll() is not None or time.monotonic() > deadline:
                raise RuntimeError("receiver did not start")
            time.sleep(0.05)
        with open(port_file) as fh:
            port = int(fh.read())
        from concurrent_etl_go_spark.sinks import HttpSinkConfig

        self.sink = HttpSinkConfig(endpoint=f"http://127.0.0.1:{port}/load",
                                   auth_token=TOKEN, dlq_dir=self.dlq_dir)

    def close(self) -> None:
        if self.recv is not None:
            self.recv.terminate()
            self.recv.wait(timeout=30)

    def harness_pids(self) -> set[int]:
        return {self.recv.pid} if self.recv is not None else set()

    # -- one pass ----------------------------------------------------------

    def run_pass(self, index: int, traced: bool) -> float:
        from concurrent_etl_go_spark.engine import run_etl
        from concurrent_etl_go_spark.operators.extract import ExtractorConfig

        b, shape = self.bench, self.shape
        files_before, dlq_before = dlq_contents(self.dlq_dir)
        log_dir = os.path.join(b.workdir, f"device-{index}")
        if traced:
            os.makedirs(log_dir)
        device = Device(b.seed, shape.device_latency_s, log_dir if traced else None)
        group = f"pass{index}"
        b.probe.set_group(group)
        cpu0 = b.cpu_s() if traced else 0.0
        t0 = time.monotonic()
        report = run_etl(
            b.spark, self.csv, self.sink, fetch_fn=device,
            extractor=ExtractorConfig(),
            lanes=shape.lanes, fanout_partitions=shape.fanout_partitions,
        )
        t1 = time.monotonic()
        cpu1 = b.cpu_s() if traced else 0.0
        # -- untimed: correctness from the receiver log and the DLQ files
        posts, rows, self.offset = read_log(self.recv_log, self.offset)
        files_after, dlq_after = dlq_contents(self.dlq_dir)
        got = Counter(row_key(r) for r in rows) + dlq_after
        want = self.expected + dlq_before
        errors = (sum((want - got).values()) + sum((got - want).values())
                  + report.quarantined_rows)
        self.attempted += self.valid_rows
        self.failed += errors
        accepted = [p for p in posts if p["accepted"]]
        rec = {
            "traced": traced, "s": t1 - t0, "cpu_s": cpu1 - cpu0,
            "accepted_rows": len(rows),
            "latencies": [p["done"] - t0 for p in accepted],
        }
        if traced:
            rec.update(self._layers(group, t0, t1, report, posts, accepted,
                                    files_before, dlq_before, files_after,
                                    dlq_after, log_dir))
        self.passes.append(rec)
        return t1 - t0

    def _layers(self, group, t0, t1, report, posts, accepted, files_before,
                dlq_before, files_after, dlq_after, log_dir) -> dict:
        b = self.bench
        spark_m = b.probe.group_metrics(group)
        calls = read_logs(log_dir)
        acc_rows = sum(p["rows"] for p in accepted)
        out = {
            "extract.peak_inflight": probe.peak_overlap([(s, e) for s, e, _, _ in calls]),
            "extract.fetches_per_row": len(calls) / self.valid_rows,
            "extract.tasks": len({task for _, _, task, _ in calls}),
            "sink.first_post_s": min((p["arrive"] for p in accepted), default=t1) - t0,
            "sink.posts": len(posts),
            "sink.rows_per_post": acc_rows / max(1, len(accepted)),
            "sink.bytes_per_row": sum(p["bytes"] for p in accepted) / max(1, acc_rows),
            "sink.rejected_posts": len(posts) - len(accepted),
            "dlq.files_spilled": len(files_after),
            "dlq.rows_spilled": sum(dlq_after.values()),
            "dlq.rows_replayed": sum(dlq_before.values()),
            "dlq.replay_tasks": spark_m["job_tasks"][0] if files_before else 0,
            "dlq.replay_s": report.phases.get("dlq_replay_s", 0.0),
            "report.delivered_overcount": report.delivered_rows - acc_rows,
            "report.plan_s": report.phases.get("plan_s", 0.0),
            "report.load_s": report.phases.get("load_s", 0.0),
        }
        out.update({f"spark.{k}": spark_m[k] for k in probe.SPARK_KEYS})
        # spans: the call, its RunReport phases, Spark jobs, device tasks, POSTs
        tr = b.tracer
        call = tr.add("engine:run_etl", t0, t1, b.pass_span)
        phases, at = [], t0
        for key, name in (("dlq_replay_s", "sinks.dlq:replay"),
                          ("plan_s", "plans.etl_pipeline:plan"),
                          ("load_s", "sinks.http_sink:load")):
            dur = report.phases.get(key, 0.0)
            phases.append(tr.add(name, at, at + dur, call))
            at += dur
        jobs = [tr.add(n, s, e, call) for n, s, e in spark_m["job_spans"]]
        tr.nest(call, phases, jobs)
        by_task: dict[int, list] = {}
        for s, e, task, _ in calls:
            by_task.setdefault(task, []).append((s, e))
        leaves = [tr.add(f"operators.extract:task{task}", min(s for s, _ in iv),
                         max(e for _, e in iv), call, fetches=len(iv))
                  for task, iv in by_task.items()]
        leaves += [tr.add("sinks.http_sink:post", p["arrive"], p["done"], call,
                          rows=p["rows"], accepted=p["accepted"]) for p in posts]
        tr.nest(call, jobs, leaves)
        return out

    # -- results -----------------------------------------------------------

    def layer_metrics(self, traced: list[dict]) -> dict:
        keys = {k for p in traced for k in p if "." in k}
        return {k: probe.median(p[k] for p in traced) for k in keys}

    def end_to_end(self, warm: list[dict]) -> dict:
        lat = [x for p in warm for x in p["latencies"]]
        return {
            "rows_per_s": probe.median(p["accepted_rows"] / p["s"] for p in warm),
            "latency": lat,
        }
