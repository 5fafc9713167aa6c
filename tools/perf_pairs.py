#!/usr/bin/env python3
"""Compare a change against its parent with alternating benchmark pairs.

Usage, from the root of the graft checkout that holds the change:

    python3 tools/perf_pairs.py --workload analytics --parent HEAD~1 \
        [--pairs 10] [--seeds 1,2,...] [--parent-dir DIR] [--out FILE]

The parent is checked out as a detached `git worktree` under /tmp (reused
by later calls while it stays at the same commit), or taken from
--parent-dir as is. Each pair runs `perfbench/run.py` untraced once in each
checkout, with the same seed and the run length `BENCHMARK.json` sets; the
side that runs first alternates from pair to pair. The seed list must
include 7, the seed held out while changes are written.

For each end-to-end metric the report gives each side's median and
quartiles, the parent's interquartile range (IQR), the pairs the change
won (ties count for neither side) and a verdict:

- `gain`: the change won at least 9/10 of the pairs and the medians differ
  by more than the parent's IQR, in the metric's better direction;
- `worse`: the change's median is worse than the parent's by more than the
  metric's bound (a fraction of the parent's median);
- `unresolved`: neither, and the parent's IQR is wider than the bound;
- `same`: neither, within the bound.

It also lists every run with its CPU steal share from the run's detail
file, since runs that drew steal are slower for reasons outside the code,
and a per-op table: each run's op samples, read from the same file and
matched across runs by op name and occurrence (the k-th time a run ran
that op; `lake` runs one fixed sequence, `analytics` shuffles its panel
by seed), give each op's parent and change medians, so a report shows
which ops a saving or a loss came from.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HELD_OUT_SEED = 7


def log(msg):
    print(f"[perf_pairs] {msg}", file=sys.stderr, flush=True)


def git(*args):
    return subprocess.run(["git", "-C", ROOT] + list(args), check=True,
                          capture_output=True, text=True).stdout.strip()


def parent_checkout(rev):
    """A detached worktree of `rev` under /tmp, created on first use."""
    sha = git("rev-parse", "--verify", f"{rev}^{{commit}}")
    path = f"/tmp/graft-perf-parent-{sha[:12]}"
    if os.path.isdir(path):
        head = subprocess.run(["git", "-C", path, "rev-parse", "HEAD"],
                              capture_output=True, text=True).stdout.strip()
        if head == sha:
            return path
        raise SystemExit(f"{path} exists but is not at {sha}: remove it "
                         "with `git worktree remove --force` first")
    git("worktree", "add", "--detach", path, sha)
    return path


def run_once(checkout, workload, seed, seconds):
    """One untraced run; its result line plus the run's steal share."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        return {"ok": False, "rc": p.returncode}
    out = json.loads(lines[-1])
    detail = os.path.join(checkout, ".perfbench", "results",
                          f"{workload}-s{seed}-t0.detail.json")
    steal, ops = None, []
    if os.path.exists(detail):
        with open(detail) as f:
            d = json.load(f)
        steal = d.get("host", {}).get("steal_share")
        ops = [[s["op"], s["s"], s["ok"]] for s in d.get("samples", [])]
    return {"ok": True, "correct": out["correct"], "failed": out["failed"],
            "attempted": out["attempted"], "steal_share": steal,
            "metrics": {k: v["value"] for k, v in out["metrics"].items()},
            "ops": ops}


def per_op(pairs):
    """Per (op, occurrence): the runs that timed it on each side and the
    two medians, in the order the first run met them."""
    vals, order = {}, []
    for p in pairs:
        for side in ("parent", "change"):
            if not p[side]["ok"]:
                continue
            seen = {}
            for name, secs, ok in p[side].get("ops", []):
                seen[name] = seen.get(name, 0) + 1
                key = (name, seen[name])
                if key not in vals:
                    vals[key] = {"parent": [], "change": []}
                    order.append(key)
                if ok:
                    vals[key][side].append(secs)
    rows = []
    for name, k in order:
        v = vals[(name, k)]
        if v["parent"] and v["change"]:
            rows.append({"op": name, "occurrence": k,
                         "parent_n": len(v["parent"]),
                         "parent_median": statistics.median(v["parent"]),
                         "change_n": len(v["change"]),
                         "change_median": statistics.median(v["change"])})
    return rows


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def judge(metric, pairs):
    """Median, quartiles, wins and verdict for one metric over the pairs
    where both sides produced a value."""
    name, higher = metric["name"], metric["better"] == "higher"
    both = [(p["parent"]["metrics"][name], p["change"]["metrics"][name])
            for p in pairs if p["parent"]["ok"] and p["change"]["ok"]]
    if not both:
        return None
    par = [a for a, _ in both]
    chg = [b for _, b in both]
    wins = sum(1 for a, b in both if (b > a if higher else b < a))
    pm, cm = statistics.median(par), statistics.median(chg)
    pq, cq = quartiles(par), quartiles(chg)
    iqr = pq[1] - pq[0]
    gain = cm - pm if higher else pm - cm
    bound = metric["bound"] * pm
    if wins >= 0.9 * len(both) and gain > iqr:
        verdict = "gain"
    elif -gain > bound:
        verdict = "worse"
    elif iqr > bound:
        verdict = "unresolved"
    else:
        verdict = "same"
    return {"metric": name, "unit": metric["unit"], "pairs": len(both),
            "parent_median": pm, "parent_q1": pq[0], "parent_q3": pq[1],
            "parent_iqr": iqr, "change_median": cm, "change_q1": cq[0],
            "change_q3": cq[1], "change_wins": wins, "verdict": verdict}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--parent", help="git revision of the parent commit")
    ap.add_argument("--parent-dir",
                    help="an existing checkout of the parent, used as is")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seeds", default=None,
                    help="comma-separated seeds, cycled over the pairs "
                         "(default 1..pairs)")
    ap.add_argument("--out", help="write every run and verdict as JSON")
    a = ap.parse_args()
    if bool(a.parent) == bool(a.parent_dir):
        ap.error("give exactly one of --parent and --parent-dir")
    seeds = ([int(s) for s in a.seeds.split(",")] if a.seeds
             else list(range(1, a.pairs + 1)))
    if HELD_OUT_SEED not in seeds[:a.pairs]:
        ap.error(f"the seeds run must include the held-out seed {HELD_OUT_SEED}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    parent = a.parent_dir or parent_checkout(a.parent)
    log(f"parent {parent}, change {ROOT}, {a.pairs} pairs of "
        f"{a.workload} at {seconds} s")

    pairs = []
    for i in range(a.pairs):
        seed = seeds[i % len(seeds)]
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        pair = {"seed": seed, "first": order[0]}
        for side in order:
            pair[side] = run_once(parent if side == "parent" else ROOT,
                                  a.workload, seed, seconds)
        pairs.append(pair)
        log(f"pair {i + 1}/{a.pairs} seed {seed}: " + ", ".join(
            f"{s} {pair[s]['metrics'] if pair[s]['ok'] else 'FAILED'}"
            for s in ("parent", "change")))

    verdicts = [v for v in (judge(m, pairs) for m in bench["end_to_end"]) if v]
    print(f"{a.workload}: {a.pairs} pairs, seeds {seeds[:a.pairs]}")
    print(f"{'metric':<10} {'parent median [q1, q3]':>28} {'IQR':>8} "
          f"{'change median [q1, q3]':>28} {'wins':>6}  verdict")
    for v in verdicts:
        print(f"{v['metric']:<10} {v['parent_median']:>9.3f} "
              f"[{v['parent_q1']:.3f}, {v['parent_q3']:.3f}] "
              f"{v['parent_iqr']:>8.3f} {v['change_median']:>9.3f} "
              f"[{v['change_q1']:.3f}, {v['change_q3']:.3f}] "
              f"{v['change_wins']:>3}/{v['pairs']:<2}  {v['verdict']}")
    ops = per_op(pairs)
    if ops:
        print("per op, #k = the op's k-th run in a run (median seconds; "
              "n = runs that timed it, parent/change):")
        print(f"  {'op':<32} {'parent':>8} {'change':>8} {'delta':>8}  n")
        for o in ops:
            pm, cm = o["parent_median"], o["change_median"]
            print(f"  {o['op'] + '#' + str(o['occurrence']):<32} {pm:>8.3f} "
                  f"{cm:>8.3f} {(cm - pm) / pm * 100 if pm else 0.0:>+7.1f}%  "
                  f"{o['parent_n']}/{o['change_n']}")
    print("runs (pair, seed, side, steal share, correct, failed/attempted):")
    for i, p in enumerate(pairs):
        for side in (p["first"], "change" if p["first"] == "parent" else "parent"):
            r = p[side]
            if not r["ok"]:
                print(f"  {i + 1:>2} s{p['seed']} {side:<6} run failed (exit {r['rc']})")
                continue
            steal = "n/a" if r["steal_share"] is None else f"{r['steal_share']:.3f}"
            print(f"  {i + 1:>2} s{p['seed']} {side:<6} steal {steal} "
                  f"correct {r['correct']} failed {r['failed']}/{r['attempted']}")
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"workload": a.workload, "parent": parent,
                       "pairs": pairs, "verdicts": verdicts, "per_op": ops},
                      f, indent=1)
    ok = all(p[s]["ok"] and p[s]["correct"] for p in pairs
             for s in ("parent", "change"))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
