"""Compare two benchmark records of the same workload.

    python3 perfbench/compare.py BASE.json NEW.json

A record is the full JSON line ``run.py`` prints before its result line
(also saved under ``.perfbench/results/``). Results taken at different
core counts are not comparable: the tool refuses them with exit code 2.
"""

from __future__ import annotations

import json
import sys


def load(path: str) -> dict:
    with open(path) as fh:
        return json.load(fh)


def compare(base: dict, new: dict) -> list[str]:
    """Lines of ``metric base new new/base`` for the metrics both share.
    Raises ``ValueError`` when the two records must not be compared."""
    for key in ("cores", "master"):
        if base["provenance"][key] != new["provenance"][key]:
            raise ValueError(
                f"refusing to compare: {key} {base['provenance'][key]} vs "
                f"{new['provenance'][key]}")
    if base["workload"] != new["workload"]:
        raise ValueError(f"refusing to compare: workload {base['workload']} vs {new['workload']}")
    lines = []
    for k in ("setup_s", "pass_s", "op_p50_s", "op_p90_s", "rows_per_s", "peak_rss_mb",
              "stored_bytes_per_input_byte", "ops_failed_frac", "wrong_results"):
        a, b = base.get(k), new.get(k)
        if a is None or b is None:
            continue
        ratio = f"{b / a:.3f}" if a else "-"
        lines.append(f"{k:32s} {a:12.4g} {b:12.4g} {ratio:>8s}")
    return lines


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    try:
        lines = compare(load(argv[0]), load(argv[1]))
    except ValueError as e:
        print(e, file=sys.stderr)
        return 2
    print(f"{'metric':32s} {'base':>12s} {'new':>12s} {'new/base':>8s}")
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
