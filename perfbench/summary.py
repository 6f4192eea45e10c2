"""Summarise the run records the benchmark leaves behind.

    python3 perfbench/summary.py [records_dir]

For each workload, over its untraced runs: every end-to-end metric's
median and quartile spread ((q3 - q1) / median, quartiles as
``statistics.quantiles(values, n=4)`` gives them). Over the traced runs:
the same figures of the end-to-end metrics measured with the tracer on,
and the tracing overhead as the relative change of their medians.
``records_dir`` defaults to ``.perfbench_work/records``.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spread(values: list[float]) -> tuple[float, float]:
    med = statistics.median(values)
    if len(values) < 2:
        return med, 0.0
    q1, _q2, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else 0.0


def main(argv: list[str]) -> int:
    root = argv[0] if argv else os.path.join(os.path.dirname(HERE),
                                             ".perfbench_work", "records")
    runs: dict[tuple[str, int], list[dict]] = {}
    for path in glob.glob(os.path.join(root, "*.json")):
        if path.endswith(".spans.json"):
            continue
        with open(path) as f:
            rec = json.load(f)
        runs.setdefault((rec["workload"], rec["trace"]), []).append(rec)
    for workload in sorted({w for w, _ in runs}):
        plain = runs.get((workload, 0), [])
        traced = runs.get((workload, 1), [])
        print(f"{workload}: {len(plain)} untraced runs, "
              f"{len(traced)} traced runs")
        if not plain:
            continue
        for name in plain[0]["e2e"]:
            med, sp = spread([r["e2e"][name][0] for r in plain])
            line = f"  {name:<28} median {med:>14.6g}  spread {sp:7.2%}"
            if traced:
                tmed, _ = spread([r["e2e"][name][0] for r in traced])
                line += f"  traced {tmed:>14.6g} ({(tmed - med) / med:+.2%})"
            print(line)
        failed = sum(r["failed"] for r in plain + traced)
        print(f"  failed operations: {failed}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
