"""Interleaved A/B timing of catalog entries across two git trees.

The round-12 verdict's standing perf flags could not be adjudicated
from single-tree runs: this box's co-tenant waves last minutes, so an
"A then B" comparison mostly measures which run caught the wave.
Interleaving alternates fresh-process bench_entries.py invocations
A,B,A,B,... so both trees sample the same noise regime; the per-tree
min over alternations is then comparable.

    python tools/ab_interleave.py /path/treeA /path/treeB ENTRY [ENTRY...]

Env: SPARK_GRAFT_AB_ALTERNATIONS (default 3) pairs of invocations,
SPARK_GRAFT_BENCH_RUNS (default 3) timed runs inside each invocation.
Prints one JSON line: per entry, each tree's min/all samples plus the
B/A ratio of mins, and each invocation's sentinel noise factor. Exits
non-zero when any entry has no sample from one of the trees.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys


def run_tree(tree: str, names: list[str]) -> dict:
    out = subprocess.run(
        # absolute: the child runs with cwd=tree, so a relative script
        # path would resolve against the tree twice
        [sys.executable, os.path.join(os.path.abspath(tree), "tools", "bench_entries.py"), *names],
        capture_output=True,
        text=True,
        cwd=tree,
        check=False,
    )
    last = [l for l in out.stdout.strip().splitlines() if l.startswith("{")]
    # bench_entries.py exits non-zero when ANY entry failed but still
    # prints the valid entries' timings: keep those
    res = json.loads(last[-1]) if last else {}
    if out.returncode != 0 or not last:
        res["error"] = (out.stderr or out.stdout)[-400:]
    return res


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("-")]
    if len(args) < 3:
        print("usage: ab_interleave.py TREE_A TREE_B ENTRY [ENTRY...]", file=sys.stderr)
        return 2
    tree_a, tree_b, names = args[0], args[1], args[2:]
    alternations = int(os.environ.get("SPARK_GRAFT_AB_ALTERNATIONS", "3"))

    samples: dict[str, dict[str, list[float]]] = {n: {"A": [], "B": []} for n in names}
    noise: dict[str, list[float]] = {"A": [], "B": []}
    for i in range(alternations):
        for label, tree in (("A", tree_a), ("B", tree_b)):
            res = run_tree(tree, names)
            if "error" in res:
                print(f"# alternation {i} tree {label}: {res['error']}", file=sys.stderr)
            if "entries" not in res:
                continue
            noise[label].append(res.get("noise_factor"))
            for n in names:
                if n in res.get("entries", {}):
                    samples[n][label].append(res["entries"][n])
            print(
                f"# alt {i} {label}: "
                + " ".join(f"{n}={res['entries'].get(n)}" for n in names)
                + f" noise={res.get('noise_factor')}",
                file=sys.stderr,
            )

    table = {}
    for n in names:
        a, b = samples[n]["A"], samples[n]["B"]
        table[n] = {
            "tree_a_min": min(a) if a else None,
            "tree_b_min": min(b) if b else None,
            "b_over_a": round(min(b) / min(a), 3) if a and b and min(a) > 0 else None,
            "tree_a_runs": a,
            "tree_b_runs": b,
        }
    print(
        json.dumps(
            {
                "tree_a": tree_a,
                "tree_b": tree_b,
                "alternations": alternations,
                "entries": table,
                "noise_factors": noise,
            }
        )
    )
    return 0 if all(t["tree_a_runs"] and t["tree_b_runs"] for t in table.values()) else 1


if __name__ == "__main__":
    raise SystemExit(main())
