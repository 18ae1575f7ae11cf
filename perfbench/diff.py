"""Compare two runs metric by metric.

    python3 perfbench/diff.py BASE NEW

BASE and NEW are files holding a run's output: either the captured standard
output of ``run.py`` (the last line is the result) or the ``.json`` file
``run.py --out DIR`` writes. Traced runs give the per-layer comparison.
Each line shows the metric, its base value, the new value and the change,
absolute and as a share of the base.
"""

from __future__ import annotations

import argparse
import json
import sys


def load(path: str) -> dict:
    with open(path) as fh:
        text = fh.read().strip()
    try:
        return json.loads(text)
    except json.JSONDecodeError:
        return json.loads(text.splitlines()[-1])


def diff_lines(base: dict, new: dict) -> list[str]:
    b, n = base["metrics"], new["metrics"]
    lines = [
        f"correct: {base['correct']} -> {new['correct']}; failed/attempted: "
        f"{base['failed']}/{base['attempted']} -> {new['failed']}/{new['attempted']}"
    ]
    for name in sorted(set(b) | set(n)):
        if name not in b or name not in n:
            side = "base" if name not in b else "new"
            lines.append(f"{name}: missing from {side}")
            continue
        bv, nv, unit = b[name]["value"], n[name]["value"], b[name]["unit"]
        delta = nv - bv
        share = f"{100.0 * delta / bv:+.1f}%" if bv else "n/a (base is 0)"
        lines.append(f"{name} [{unit}]: {bv:.6g} -> {nv:.6g}  delta {delta:+.6g} ({share})")
    return lines


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("base")
    ap.add_argument("new")
    args = ap.parse_args(argv)
    print("\n".join(diff_lines(load(args.base), load(args.new))))
    return 0


if __name__ == "__main__":
    sys.exit(main())
