"""Compare two run records side by side.

    python3 perfbench/compare.py perfbench/work/records/A.json perfbench/work/records/B.json

Prints, for every metric both records carry, A, B and B/A. Records
taken at different core counts are not comparable: the script says so
and exits with code 2. The machine canary of each record is printed as
a diagnostic of host speed, never compared as a metric.
"""

from __future__ import annotations

import json
import sys


def compare(a: dict, b: dict) -> list[str]:
    if a["host"]["cores"] != b["host"]["cores"]:
        raise ValueError(
            f"records taken at {a['host']['cores']} and {b['host']['cores']} cores "
            "are not comparable"
        )
    lines = [
        f"workload {a['workload']} vs {b['workload']}; cores {a['host']['cores']}; "
        f"machine canary {a['host']['machine_canary_s']:.4f} s vs {b['host']['machine_canary_s']:.4f} s"
    ]
    for section in ("end_to_end", "per_layer"):
        for name, va in a[section].items():
            vb = b[section].get(name)
            if vb is None:
                continue
            ratio = f"{vb / va:.3f}" if va else "n/a"
            lines.append(f"{section} {name} {va:.6g} {vb:.6g} {ratio}")
    return lines


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    records = []
    for path in argv:
        with open(path) as fh:
            records.append(json.load(fh))
    try:
        lines = compare(*records)
    except ValueError as ex:
        print(f"compare: {ex}", file=sys.stderr)
        return 2
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
