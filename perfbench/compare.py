#!/usr/bin/env python3
"""Compare two result records written by perfbench/run.py (under
.bench_build/results/). Records from different hosts are not compared:
core count, CPU model, memory and the local[N] master must all match.

Usage: python3 perfbench/compare.py <before.json> <after.json>
"""
import json
import sys

HOST_KEYS = ("nproc", "cpu_model", "mem_total", "master", "jdk", "spark")


def compare(before, after):
    """Return (lines, refused): a ratio per shared metric, or the reason
    the two records cannot be compared."""
    a_host, b_host = before["host"], after["host"]
    diff = [f"{k}: {a_host.get(k)} vs {b_host.get(k)}" for k in HOST_KEYS if a_host.get(k) != b_host.get(k)]
    if diff:
        return [f"different hosts ({'; '.join(diff)}); not comparing"], True
    if before["workload"] != after["workload"]:
        return [f"different workloads ({before['workload']} vs {after['workload']}); not comparing"], True
    lines = []
    for section in ("end_to_end", "per_layer"):
        a, b = before.get(section, {}), after.get(section, {})
        for k in a:
            if k in b:
                ratio = b[k] / a[k] if a[k] else float("nan")
                lines.append(f"{k:<30} {a[k]:>12.5g} {b[k]:>12.5g}  x{ratio:.3f}")
    return lines, False


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip().splitlines()[-1], file=sys.stderr)
        return 2
    with open(argv[1]) as fa, open(argv[2]) as fb:
        lines, refused = compare(json.load(fa), json.load(fb))
    print("\n".join(lines))
    return 1 if refused else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
