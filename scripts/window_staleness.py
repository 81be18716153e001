#!/usr/bin/env python
"""Driver-window staleness report (VERDICT r12 §Next #4).

With 391 registry queries and a 50-slot per-round driver window, a
query re-proven in round N can age ~8 rounds before its next driver
check.  This script parses every committed ``CORRECTNESS_r*.json``,
reports each query's LAST driver-proof round (green rows only), and
fails when the oldest proof exceeds the threshold — the close-out gate
that forces ``__spark_entry__``'s window to rotate the stale tail in.

A full rotation of 391 queries through 50 slots takes ceil(391/50) = 8
rounds, so the default threshold is 9 (one slack round); pass
``--max-age`` to tighten.  Queries never seen in any driver window are
reported separately (they are covered by the full-registry sweeps, but
should still rotate through the driver's own artifact).

Usage: python scripts/window_staleness.py [--max-age N] [--top K]
Exit 1 if any query's last proof is older than max-age rounds.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

from __spark_entry__ import last_proof_rounds  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--max-age", type=int, default=9)
    ap.add_argument("--top", type=int, default=60)
    ap.add_argument("--json-out", default="")
    args = ap.parse_args()

    import concurrent_etl_go_spark.operators as ops

    registry = list(ops.QUERIES)
    last, latest = last_proof_rounds()
    rows = sorted(
        ((last.get(n, 0), n) for n in registry),
        key=lambda t: (t[0], t[1]),
    )
    never = [n for rnd, n in rows if rnd == 0]
    stale = [
        (rnd, n) for rnd, n in rows if rnd > 0 and latest - rnd > args.max_age
    ]

    print(f"registry queries: {len(registry)}; latest driver round: r{latest}")
    print(f"never in a driver window: {len(never)}")
    for n in never[: args.top]:
        print(f"  NEVER  {n}")
    print(f"stale (> {args.max_age} rounds old): {len(stale)}")
    for rnd, n in stale[: args.top]:
        print(f"  r{rnd:02d}  {n}")
    print("oldest-proof-first (rotation order for the next window):")
    for rnd, n in rows[: args.top]:
        print(f"  r{rnd:02d}  {n}")

    if args.json_out:
        with open(args.json_out, "w") as f:
            json.dump(
                {
                    "latest_round": latest,
                    "max_age": args.max_age,
                    "last_proof": {n: last.get(n, 0) for n in registry},
                    "never": never,
                    "stale": [n for _, n in stale],
                },
                f,
                indent=1,
            )
    return 1 if stale or never else 0


if __name__ == "__main__":
    sys.exit(main())
