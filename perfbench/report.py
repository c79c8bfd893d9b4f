#!/usr/bin/env python3
"""Per-layer table from a traced run.

    python3 perfbench/report.py .perfbench_out/trace-adhoc_sql-1.json

For every span name it prints the count, the total self time (duration
minus the time its child spans cover) and that self time's share of the
traced ops' wall time, then the run's per-layer metrics and the tracing
overhead (traced against untraced ops of the same run).
"""

from __future__ import annotations

import json
import sys

from tracing import Tracer


def load(path: str) -> tuple[dict, Tracer]:
    with open(path) as fh:
        doc = json.load(fh)
    tracer = Tracer(enabled=True)
    tracer.spans = [[s["name"], s["start"], s["end"], s["parent"], s["op"]] for s in doc["spans"]]
    return doc["meta"], tracer


def render(meta: dict, tracer: Tracer) -> str:
    wall = sum(tracer.durations("op"))
    rows = sorted(tracer.self_times().items(), key=lambda kv: -kv[1][0])
    out = [
        f"workload {meta.get('workload')}  seed {meta.get('seed')}  "
        f"traced ops {len(tracer.durations('op'))}  traced op wall {wall:.3f} s",
        "",
        f"{'layer (span)':<34}{'count':>8}{'self s':>12}{'share':>9}",
    ]
    for name, (self_s, count) in rows:
        share = self_s / wall if wall else 0.0
        out.append(f"{name:<34}{count:>8}{self_s:>12.3f}{share:>8.1%}")
    out += ["", "per-layer metrics:"]
    for name, value in meta.get("layers", {}).items():
        out.append(f"  {name:<32}{value:>14.4f}")
    overhead = meta.get("layers", {}).get("trace.overhead_pct")
    out += ["", f"tracing overhead: {overhead:+.2f}% (traced vs untraced ops, same run)"]
    return "\n".join(out)


def main(argv: list[str]) -> int:
    if len(argv) != 1:
        print(__doc__, file=sys.stderr)
        return 2
    print(render(*load(argv[0])))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
