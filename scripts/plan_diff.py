#!/usr/bin/env python3
"""Compare two normalized graft.PlanDump directories key by key.

Usage: python3 scripts/plan_diff.py <before> <after>

Each directory holds one `<key>.txt` per registry key, as written by
`sbt "runMain graft.PlanDump <sfDir> <out>"` (plans normalized by
`PlanDump.normalize`, so unchanged plans are byte-identical). Prints the
number of keys compared and identical, then one line per key whose plan
differs or exists on one side only, with its exchange count before and
after: the `Exchange` and `BroadcastExchange` nodes of the formatted
plan's detail section. Exits 1 when a directory holds no plans.
"""
import re
import sys
from pathlib import Path

EXCHANGE = re.compile(r"^\(\d+\) (?:Broadcast)?Exchange\b", re.M)


def plans(d):
    return {p.stem: p.read_text() for p in sorted(Path(d).glob("*.txt"))}


def exchanges(plan):
    return "-" if plan is None else str(len(EXCHANGE.findall(plan)))


def main(before_dir, after_dir):
    before, after = plans(before_dir), plans(after_dir)
    if not before or not after:
        print(f"no plans in {before_dir if not before else after_dir}")
        return 1
    keys = sorted(before.keys() | after.keys())
    changed = [k for k in keys if before.get(k) != after.get(k)]
    print(f"{len(keys)} keys, {len(keys) - len(changed)} identical, "
          f"{len(changed)} differ")
    if changed:
        print("| key | exchanges before | exchanges after |")
        print("|---|---|---|")
        for k in changed:
            b, a = before.get(k), after.get(k)
            print(f"| `{k}` | {exchanges(b)} | {exchanges(a)} |")
    return 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
