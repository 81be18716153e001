"""Query workloads: one pass runs a fixed list of registry queries over
seeded data from ``scripts/gen_sf.py``; every call is checked against a
DuckDB oracle hash computed once per seed."""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import sys
import time
import traceback

from perfbench import probe


def frame_hash(pdf) -> str:
    """Order-insensitive hash of a result: column names, dtypes and values
    after the driver's canonicalization (``scripts/driver_dryrun.py``)."""
    import pandas as pd
    from driver_dryrun import canonicalize

    pdf = pdf.copy()
    for c in pdf.columns:
        if pd.api.types.is_float_dtype(pdf[c]):
            pdf[c] = pdf[c] + 0.0  # -0.0 and 0.0 compare equal
    pdf = canonicalize(pdf)
    h = hashlib.sha256(repr([(c, str(t)) for c, t in pdf.dtypes.items()]).encode())
    h.update(pd.util.hash_pandas_object(pdf, index=False).values.tobytes())
    return h.hexdigest()


def oracle_hashes(root: str, sf_dir: str, sf: float, seed: int,
                  names: list[str]) -> dict[str, str]:
    """DuckDB oracle hash per query, cached per (scale, seed) in the checkout."""
    path = os.path.join(root, ".perfbench", "oracle", f"sf{sf}-seed{seed}.json")
    cached: dict[str, str] = {}
    if os.path.exists(path):
        with open(path) as fh:
            cached = json.load(fh)
    missing = [n for n in names if n not in cached]
    if missing:
        import duckdb
        from driver_dryrun import TABLES

        from concurrent_etl_go_spark import operators

        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        for name in missing:
            cached[name] = frame_hash(con.execute(operators.ORACLES[name]).df())
        con.close()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path + ".tmp", "w") as fh:
            json.dump(cached, fh, indent=1, sort_keys=True)
        os.replace(path + ".tmp", path)
    return {n: cached[n] for n in names}


class QueryWorkload:
    def __init__(self, names: list[str], sf: float, bench):
        self.names = names
        self.sf = sf
        self.bench = bench
        self.sf_dir = os.path.join(bench.workdir, "sf")
        self.attempted = self.failed = 0
        self.passes: list[dict] = []

    def prepare(self) -> None:
        b = self.bench
        sys.path.insert(0, os.path.join(b.root, "scripts"))
        import gen_sf

        with contextlib.redirect_stdout(sys.stderr):
            gen_sf.gen(self.sf, self.sf_dir, b.seed)
        self.oracle = oracle_hashes(b.root, self.sf_dir, self.sf, b.seed, self.names)

    def close(self) -> None:
        pass

    def harness_pids(self) -> set[int]:
        return set()

    def run_pass(self, index: int, traced: bool) -> float:
        from concurrent_etl_go_spark import operators
        from concurrent_etl_go_spark.operators.registry import release_caches

        b = self.bench
        rec: dict = {"traced": traced, "calls": {}, "rows": 0, "cpu_s": 0.0}
        for name in self.names:
            group = f"pass{index}:{name}"
            b.probe.set_group(group)
            cpu0 = b.cpu_s() if traced else 0.0
            t0 = time.monotonic()
            t1 = t2 = None
            try:
                df = operators.QUERIES[name](b.spark, self.sf_dir)
                t1 = time.monotonic()
                pdf = df.toPandas()
                t2 = time.monotonic()
            except Exception:  # noqa: BLE001 — a raising call counts as failed
                print(f"query {name} raised:", file=sys.stderr)
                traceback.print_exc(file=sys.stderr)
                pdf = None
            finally:
                release_caches()
            t3 = time.monotonic()
            rec["cpu_s"] += (b.cpu_s() - cpu0) if traced else 0.0
            self.attempted += 1
            # -- untimed: oracle compare
            if pdf is None or frame_hash(pdf) != self.oracle[name]:
                self.failed += 1
                if pdf is not None:
                    print(f"query {name} mismatched its oracle", file=sys.stderr)
            call = {"s": t3 - t0}
            if pdf is not None:
                rec["rows"] += len(pdf)
            if traced and t2 is not None:
                call.update(self._layers(name, group, t0, t1, t2, t3))
            rec["calls"][name] = call
        rec["s"] = sum(c["s"] for c in rec["calls"].values())
        self.passes.append(rec)
        return rec["s"]

    def _layers(self, name, group, t0, t1, t2, t3) -> dict:
        b, tr = self.bench, self.bench.tracer
        cached_after = b.probe.persistent_rdds()
        spark_m = b.probe.group_metrics(group)
        call = tr.add(f"query:{name}", t0, t3, b.pass_span)
        parts = [tr.add("query:fn", t0, t1, call),
                 tr.add("query:action", t1, t2, call),
                 tr.add("operators.registry:release_caches", t2, t3, call)]
        jobs = [tr.add(n, s, e, call) for n, s, e in spark_m["job_spans"]]
        tr.nest(call, parts, jobs)
        return {"fn_s": t1 - t0, "action_s": t2 - t1, "cached_after": cached_after,
                "spark": spark_m}

    def layer_metrics(self, traced: list[dict]) -> dict:
        """``query.*`` per pass and per query name, Spark totals per pass and
        the persisted RDDs left after ``release_caches()``; medians over
        the traced passes."""
        def per_pass(p, names):
            calls = [p["calls"][n] for n in names if "fn_s" in p["calls"][n]]
            fn = sum(c["fn_s"] for c in calls)
            act = sum(c["action_s"] for c in calls)
            jobs = sum(c["spark"]["jobs"] for c in calls)
            return {"fn_s": fn, "action_s": act, "s_per_job": (fn + act) / max(1, jobs)}

        out = {}
        for prefix, names in [("query", self.names)] + [(f"query.{n}", [n]) for n in self.names]:
            rows = [per_pass(p, names) for p in traced]
            for k in ("fn_s", "action_s", "s_per_job"):
                out[f"{prefix}.{k}"] = probe.median(r[k] for r in rows)
        for k in probe.SPARK_KEYS:
            out[f"spark.{k}"] = probe.median(
                sum(c["spark"][k] for c in p["calls"].values() if "spark" in c)
                for p in traced)
        out["registry.cached_rdds_after_release"] = max(
            (c["cached_after"] for p in traced for c in p["calls"].values()
             if "cached_after" in c), default=0)
        return out

    def end_to_end(self, warm: list[dict]) -> dict:
        return {
            "rows_per_s": probe.median(p["rows"] / p["s"] for p in warm),
            # time from the start of the pass to each query's result
            "latency": [sum(c["s"] for c in list(p["calls"].values())[: k + 1])
                        for p in warm for k in range(len(p["calls"]))],
        }
