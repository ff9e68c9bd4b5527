"""Interleaved parent/change A/B over the repository benchmark.

Given two checkouts, a workload and a seed list, runs
``python3 benchmark/run.py`` in each checkout once per seed, as pairs
that alternate which side runs first (even pairs parent first, odd
pairs change first), so drift in host load falls on both sides alike.
For every metric it prints each side's median and quartiles and the
fraction of pairs the change won (ties count for neither side). For
the end-to-end metrics of the parent's ``BENCHMARK.json`` it also
prints the verdict of ``verdict``:

- ``gain``: the change wins at least 9/10 of the pairs, its median
  beats the parent's by more than the parent's interquartile range,
  and its runs failed no more operations in total than the parent's;
- ``not worse``: every change run reads better than every parent run,
  or both sides spread within the metric's bound and the change's
  median is no worse than the parent's by more than that bound;
- ``unresolved``: either side's IQR/median exceeds the bound;
- ``worse``: otherwise.

The bound is relative to the parent's median, as in ``BENCHMARK.json``.
Every run takes ``benchmark/run.py``'s default run length, the
benchmark's ``run_seconds``.

    python3 tools/ab_pairs.py --parent ../parent --change . \\
        --workload minute_reports --seeds 11-20 --trace 0 --out ab.json

A run that prints no result line stops the A/B with its output; runs
reporting ``correct: false`` and each side's total ``failed``
operations are printed in the summary.

Each run's line also shows the notes line's ``ops`` and ``measured_s``
and the host's CPU steal ticks during the run (the ``steal`` column of
the ``cpu`` line of ``/proc/stat``, read before and after), so runs can
be sorted by contention. Next to each whole-set verdict the summary
prints the verdict over the quiet pairs only, those in which both runs
drew fewer than ``QUIET_STEAL_TICKS`` steal ticks, and how many pairs
that is: other tenants' CPU steal, not code, dominates the spread of a
contended run. A run whose ``measured_s`` is below the
benchmark's ``run_seconds`` drained its input before the time was up;
it is flagged ``early``, and the summary counts such runs per side.

Under the metric table, one line per query compares the two sides'
medians of the runs' per-query median latencies (the notes line's
``op_median_s``) and gives the change's win share, so a claim about
single queries can be read from the A/B itself.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

WIN_SHARE = 0.9
RUN_TIMEOUT_S = 900
# a pair is quiet when both of its runs drew fewer steal ticks than this
QUIET_STEAL_TICKS = 1000


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3), inclusive method; a single value is all three."""
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q2, q3


def win_share(parent: list[float], change: list[float], better: str) -> float:
    """Share of pairs (parent[i], change[i]) the change won; ties win
    for neither side."""
    sign = 1 if better == "lower" else -1
    wins = sum(1 for p, c in zip(parent, change) if sign * (p - c) > 0)
    return wins / len(parent)


def verdict(
    parent: list[float],
    change: list[float],
    better: str,
    bound: float,
    failed: tuple[int, int] = (0, 0),
) -> str:
    """Classify paired runs of one end-to-end metric (see module doc);
    ``failed`` is the (parent, change) total of failed operations."""
    if len(parent) != len(change) or not parent:
        raise ValueError("verdict needs the same non-zero number of runs per side")
    sign = 1 if better == "lower" else -1
    p1, pm, p3 = quartiles(parent)
    c1, cm, c3 = quartiles(change)
    gap = sign * (pm - cm)  # > 0: the change's median is better
    fails_more = failed[1] > failed[0]
    if win_share(parent, change, better) >= WIN_SHARE and gap > p3 - p1 and not fails_more:
        return "gain"
    if all(sign * (p - c) > 0 for p in parent for c in change):
        return "not worse"
    if max((p3 - p1) / abs(pm or 1), (c3 - c1) / abs(cm or 1)) > bound:
        return "unresolved"
    return "not worse" if -gap <= bound * abs(pm) else "worse"


def steal_ticks(stat_text: str) -> int:
    """The ``steal`` column (the 8th value) of the aggregate ``cpu``
    line of a ``/proc/stat`` text."""
    for line in stat_text.splitlines():
        fields = line.split()
        if fields and fields[0] == "cpu":
            return int(fields[8])
    raise ValueError("no aggregate cpu line")


def read_steal() -> int:
    with open("/proc/stat") as f:
        return steal_ticks(f.read())


def drained_early(result: dict, run_seconds: float) -> bool:
    """The run ran out of input before ``run_seconds`` had passed."""
    return result["notes"]["measured_s"] < run_seconds


def run_line(seed: int, side: str, result: dict, run_seconds: float) -> str:
    """The progress line printed after each run."""
    m = result["metrics"]
    p50 = m.get("op_latency_p50_s", m.get("trace.op_latency_p50_s", {})).get("value")
    notes = result["notes"]
    return (
        f"seed {seed} {side:6} p50={p50} correct={result['correct']} "
        f"failed={result['failed']} ops={notes['ops']} measured_s={notes['measured_s']} "
        f"steal={result['steal_ticks']}"
        + (" early" if drained_early(result, run_seconds) else "")
    )


def run_once(checkout: str, workload: str, seed: int, trace: int) -> dict:
    """One ``benchmark/run.py`` run; returns its result JSON with the
    notes line under ``notes`` and the host's steal ticks during the
    run under ``steal_ticks``."""
    cmd = [
        sys.executable, "benchmark/run.py", "--workload", workload,
        "--seed", str(seed), "--trace", str(trace),
    ]
    steal0 = read_steal()
    proc = subprocess.run(
        cmd, cwd=checkout, capture_output=True, text=True, timeout=RUN_TIMEOUT_S
    )
    steal = read_steal() - steal0
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
        result["notes"] = json.loads(lines[-2])
    except (IndexError, json.JSONDecodeError):
        raise RuntimeError(
            f"{checkout} seed {seed}: no result line (exit {proc.returncode})\n"
            f"{proc.stderr[-2000:]}"
        ) from None
    result["steal_ticks"] = steal
    return result


def parse_seeds(text: str) -> list[int]:
    """``11-20`` or ``11,12,15`` (or a mix) to a list of seeds."""
    seeds: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def _fmt(values: list[float]) -> str:
    return "/".join(f"{x:.4g}" for x in quartiles(values))


def drain_summary(pairs: list[dict], run_seconds: float) -> list[str]:
    """Per side: how many runs drained early, and the spread of the
    runs' ``measured_s``, ``ops`` and steal ticks."""
    lines = []
    for side in ("parent", "change"):
        runs = [p[side] for p in pairs]
        early = sum(drained_early(r, run_seconds) for r in runs)
        measured = [r["notes"]["measured_s"] for r in runs]
        ops = [r["notes"]["ops"] for r in runs]
        steal = [r["steal_ticks"] for r in runs]
        lines.append(
            f"{side}: {early}/{len(runs)} runs drained early (measured_s < {run_seconds:g}); "
            f"measured_s {_fmt(measured)}, ops {_fmt(ops)}, steal ticks {_fmt(steal)}"
        )
    return lines


def quiet_pairs(pairs: list[dict]) -> list[dict]:
    """The pairs in which both runs drew fewer than
    ``QUIET_STEAL_TICKS`` steal ticks."""
    return [
        p for p in pairs
        if max(p["parent"]["steal_ticks"], p["change"]["steal_ticks"]) < QUIET_STEAL_TICKS
    ]


def _values(pairs: list[dict], side: str, name: str) -> list[float]:
    return [r[side]["metrics"][name]["value"] for r in pairs]


def _verdict_over(pairs: list[dict], metric: dict) -> str:
    """``verdict`` of one end-to-end metric over ``pairs``; "-" for none."""
    if not pairs:
        return "-"
    failed = tuple(sum(r[side]["failed"] for r in pairs) for side in ("parent", "change"))
    name = metric["name"]
    return verdict(
        _values(pairs, "parent", name), _values(pairs, "change", name),
        metric["better"], metric["bound"], failed,
    )


def report(pairs: list[dict], spec: dict) -> list[str]:
    """One line per metric found in the runs; an end-to-end metric gets
    its verdict over all pairs and over the quiet pairs."""
    end_to_end = {m["name"]: m for m in spec["end_to_end"]}
    better = {m["name"]: m["better"] for m in spec["end_to_end"] + spec["per_layer"]}
    quiet = quiet_pairs(pairs)
    quiet_head = f"quiet verdict ({len(quiet)}/{len(pairs)} pairs < {QUIET_STEAL_TICKS} steal)"
    lines = [
        f"{'metric':36} {'parent q1/med/q3':>26} {'change q1/med/q3':>26} {'wins':>6}  "
        f"{'verdict':10}  {quiet_head}"
    ]
    for name in pairs[0]["parent"]["metrics"]:
        p, c = _values(pairs, "parent", name), _values(pairs, "change", name)
        m = end_to_end.get(name)
        v, qv = (_verdict_over(pairs, m), _verdict_over(quiet, m)) if m else ("-", "-")
        wins = win_share(p, c, better.get(name, "lower"))
        lines.append(f"{name:36} {_fmt(p):>26} {_fmt(c):>26} {wins:>6.2f}  {v:10}  {qv}")
    return lines


def per_query_report(pairs: list[dict]) -> list[str]:
    """One line per query of the runs' notes-line ``op_median_s``: the
    median over runs of each side's per-run median latency, and the
    share of pairs the change won, over the pairs in which both runs
    reached the query."""
    medians = [(p["parent"]["notes"]["op_median_s"], p["change"]["notes"]["op_median_s"]) for p in pairs]
    lines = [f"{'query':36} {'parent med':>11} {'change med':>11} {'wins':>6} {'pairs':>6}"]
    for name in sorted({n for pm, cm in medians for n in (*pm, *cm)}):
        both = [(pm[name], cm[name]) for pm, cm in medians if name in pm and name in cm]
        if not both:
            continue
        parent, change = zip(*both)
        lines.append(
            f"{name:36} {statistics.median(parent):>11.4g} {statistics.median(change):>11.4g} "
            f"{win_share(parent, change, 'lower'):>6.2f} {len(both):>6}"
        )
    return lines


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 11-20 or 11,12,15")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="write every run's result JSON here")
    args = ap.parse_args()

    with open(os.path.join(args.parent, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sides = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    pairs: list[dict] = []
    for i, seed in enumerate(parse_seeds(args.seeds)):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        pair = {"seed": seed, "first": order[0]}
        for side in order:
            pair[side] = run_once(sides[side], args.workload, seed, args.trace)
            print(run_line(seed, side, pair[side], spec["run_seconds"]), flush=True)
        pairs.append(pair)
        if args.out:
            with open(args.out, "w") as f:
                json.dump(pairs, f, indent=1)
    correct = {s: sum(p[s]["correct"] for p in pairs) for s in sides}
    failed = {s: sum(p[s]["failed"] for p in pairs) for s in sides}
    print(f"{args.workload}: {len(pairs)} pairs, --trace {args.trace}, "
          f"correct runs parent {correct['parent']}/{len(pairs)}, change {correct['change']}/{len(pairs)}, "
          f"failed ops parent {failed['parent']}, change {failed['change']}")
    print("\n".join(drain_summary(pairs, spec["run_seconds"])))
    print("\n".join(report(pairs, spec)))
    print("\n".join(per_query_report(pairs)))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
