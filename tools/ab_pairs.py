"""Interleaved perfbench A/B pairs of two checkouts, with host CPU steal.

    python tools/ab_pairs.py PARENT_DIR CHANGE_DIR --seeds 101-110 \\
        --out AB.json

Each checkout runs its own ``perfbench/run.py`` untraced (``--trace 0``,
``--seconds`` from BENCHMARK.json's ``run_seconds``), from its own root,
on every workload of BENCHMARK.json. For every seed and workload the two
sides run back to back, and the side that goes first alternates from seed
to seed and from workload to workload, so neither side always meets the
warmer host. Around each run the host's CPU steal share is read from
``/proc/stat`` (as tools/query_profile.py does), which a loadavg inside a
VM does not see.

The output JSON, rewritten after every run, holds every run (seed,
workload, side, the side that went first, steal, loadavg, the result's
``correct``/``attempted``/``failed`` and end-to-end metrics; a run that
exits non-zero or times out has no metrics) and, for each workload, the
:func:`summarize` of its pairs.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from query_profile import _cpu_jiffies, _steal_share  # noqa: E402

# A pair is low-steal when both its runs lost less than this share of the
# host CPU to steal.
_MAX_STEAL = 0.05


def verdict(
    parent: list[float], change: list[float], bound: float, better: str
) -> dict:
    """The benchmark rule over paired runs (``parent[i]`` with
    ``change[i]``) of one metric where ``better`` is "lower" or "higher".

    - ``worse``: the change's median is worse than the parent's by more
      than ``bound``, a fraction of the parent's median;
    - ``gain``: the change wins at least nine tenths of the pairs (ties
      count for neither side) and the medians differ by more than the
      parent's interquartile range;
    - ``unresolved``: neither, and a side's interquartile range exceeds
      ``bound`` of its median, unless every change run beats every parent
      run;
    - ``same``: none of these.
    """
    n = len(parent)
    if n < 2:
        return {"pairs": n, "verdict": "too few pairs"}
    s = 1 if better == "lower" else -1
    qp, qc = (
        statistics.quantiles(xs, n=4, method="inclusive")
        for xs in (parent, change)
    )
    wins = sum(s * (p - c) > 0 for p, c in zip(parent, change))
    losses = sum(s * (c - p) > 0 for p, c in zip(parent, change))
    worse_by = s * (qc[1] - qp[1]) / qp[1]
    spread = max((q[2] - q[0]) / q[1] for q in (qp, qc))
    if worse_by > bound:
        v = "worse"
    elif wins >= 0.9 * n and s * (qp[1] - qc[1]) > qp[2] - qp[0]:
        v = "gain"
    elif spread > bound and not all(
        s * (p - c) > 0 for p in parent for c in change
    ):
        v = "unresolved"
    else:
        v = "same"
    return {
        "pairs": n,
        "parent_q1_median_q3": [round(q, 4) for q in qp],
        "change_q1_median_q3": [round(q, 4) for q in qc],
        "change_wins": wins,
        "change_losses": losses,
        "worse_by": round(worse_by, 4),
        "spread": round(spread, 4),
        "verdict": v,
    }


def _failed_share(run: dict) -> float:
    return run["failed"] / max(run["attempted"], 1)


def summarize(runs: list[dict], bench: dict) -> dict:
    """{workload: {"dropped": {...}, "metrics": {metric: {"all": verdict,
    "low_steal": verdict}}}} over the pairs of ``runs``, per seed.

    A pair enters the verdicts only when both sides produced a result,
    both are ``correct`` and the change fails no larger share of its
    operations than the parent; ``dropped`` counts the other seeds by the
    first of these they miss (``incomplete``, ``incorrect``,
    ``more_failed``), since a change that breaks one of them fails the
    benchmark whatever its walls.
    """
    out = {}
    for w in sorted({r["workload"] for r in runs}):
        pairs = {}
        for r in runs:
            if r["workload"] == w:
                pairs.setdefault(r["seed"], {})[r["side"]] = r
        dropped = {"incomplete": 0, "incorrect": 0, "more_failed": 0}
        full = []
        for p in pairs.values():
            if len(p) < 2 or not all(x.get("metrics") for x in p.values()):
                dropped["incomplete"] += 1
            elif not all(x["correct"] for x in p.values()):
                dropped["incorrect"] += 1
            elif _failed_share(p["change"]) > _failed_share(p["parent"]):
                dropped["more_failed"] += 1
            else:
                full.append(p)
        calm = [
            p for p in full
            if max(x["steal"] for x in p.values()) < _MAX_STEAL
        ]
        out[w] = {"dropped": dropped, "metrics": {
            m["name"]: {
                label: verdict(
                    [p["parent"]["metrics"][m["name"]] for p in ps],
                    [p["change"]["metrics"][m["name"]] for p in ps],
                    m["bound"],
                    m["better"],
                )
                for label, ps in (("all", full), ("low_steal", calm))
            }
            for m in bench["end_to_end"]
        }}
    return out


def _run(tree: str, workload: str, seed: int, seconds: int) -> dict:
    cpu, load = _cpu_jiffies(), os.getloadavg()[0]
    try:
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
            cwd=tree, capture_output=True, text=True, timeout=900,
        )
    except subprocess.TimeoutExpired as e:
        proc = subprocess.CompletedProcess(
            e.cmd, None, "", f"timed out after {e.timeout} s")
    rec = {"steal": _steal_share(cpu, _cpu_jiffies()), "loadavg_1m": load,
           "returncode": proc.returncode}
    lines = proc.stdout.strip().splitlines()
    if proc.returncode == 0 and lines:
        res = json.loads(lines[-1])
        rec.update({k: res[k] for k in ("correct", "attempted", "failed")})
        rec["metrics"] = {k: v["value"] for k, v in res["metrics"].items()}
    else:
        rec["stderr_tail"] = proc.stderr[-2000:]
    return rec


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--seeds", required=True, help="FIRST-LAST")
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    first, last = (int(x) for x in args.seeds.split("-"))
    workloads = [w["name"] for w in bench["workloads"]]
    trees = {"parent": os.path.abspath(args.parent),
             "change": os.path.abspath(args.change)}
    runs: list[dict] = []
    for i, seed in enumerate(range(first, last + 1)):
        for j, w in enumerate(workloads):
            order = ("parent", "change") if (i + j) % 2 == 0 else (
                "change", "parent")
            for side in order:
                rec = {"seed": seed, "workload": w, "side": side,
                       "first": order[0]}
                rec.update(_run(trees[side], w, seed, bench["run_seconds"]))
                runs.append(rec)
                print(json.dumps(rec), flush=True)
                doc = {
                    "what": "perfbench/run.py --trace 0 pairs; steal is the "
                    "host CPU steal share of /proc/stat over each run",
                    "max_steal": _MAX_STEAL,
                    "summary": summarize(runs, bench),
                    "runs": runs,
                }
                with open(args.out, "w") as f:
                    json.dump(doc, f, indent=1)
    print(json.dumps(doc["summary"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
