#!/usr/bin/env python3
"""Compare benchmark runs of a parent commit against a change.

Record alternating pairs (the side that runs first alternates):

    python3 perfbench/compare.py run --parent ../parent --change . \\
        --workload pgx_clinic --pairs 10 --out pairs.jsonl

Both sides run this copy of run.py, with the current directory set to the
side's checkout: each side builds its own library sources (src/main/scala)
with the same benchmark code, and every run lasts the run_seconds of the
BENCHMARK.json next to this script. Then report:

    python3 perfbench/compare.py report pairs.jsonl

For each workload and metric the report prints each side's median and
quartiles over its correct runs, the share of all recorded pairs the change
won (ties count for neither; a side whose run failed, timed out or was
incorrect loses that pair), and a verdict:

  improved       the change won at least nine tenths of the pairs, the
                 medians differ by more than the parent's own quartile
                 spread, and the change's share of failed operations is not
                 higher than the parent's;
  no worse       the change's median is not worse than the parent's by more
                 than the metric's bound, and the parent's spread is within it;
  unresolved     fewer than ten pairs were recorded, or the spread is wider
                 than the bound and not every change run beats every parent
                 run;
  worse          the change's median is worse than the parent's by more than
                 the bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


HERE = os.path.dirname(os.path.abspath(__file__))
RUN = os.path.join(HERE, "run.py")
SPEC = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")


def run_one(checkout, workload, seed, seconds, trace):
    cmd = [sys.executable, RUN, "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    r = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, timeout=1000)
    lines = r.stdout.decode(errors="replace").strip().splitlines()
    if r.returncode != 0 or not lines:
        return None
    return json.loads(lines[-1])


def cmd_run(a):
    seconds = json.load(open(SPEC))["run_seconds"]
    with open(a.out, "a") as out:
        for i in range(a.pairs):
            seed = a.first_seed + i
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            for side in order:
                res = run_one(getattr(a, side), a.workload, seed, seconds, a.trace)
                rec = {"workload": a.workload, "pair": i, "seed": seed, "side": side,
                       "trace": a.trace, "result": res}
                out.write(json.dumps(rec) + "\n")
                out.flush()
                print(f"pair {i} {side}: {'ok' if res else 'failed'}", file=sys.stderr)


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def verdict(parent, change, better, bound, wins, pairs, failed_more):
    if pairs < 10:
        return "unresolved"
    p_lo, p_med, p_hi = quartiles(parent)
    c_med = statistics.median(change)
    sign = 1 if better == "higher" else -1
    gain = sign * (c_med - p_med)
    spread = p_hi - p_lo
    if wins >= 0.9 * pairs and gain > spread and not failed_more:
        return "improved"
    if bound is None:
        return "unresolved"
    worse_by = -gain / abs(p_med) if p_med else 0.0
    if p_med and spread / abs(p_med) > bound:
        beats_all = (min(change) > max(parent)) if better == "higher" else (max(change) < min(parent))
        return "no worse" if beats_all else "unresolved"
    return "worse" if worse_by > bound else "no worse"


def ok(result):
    return bool(result) and result.get("correct") is True


def failed_share(results):
    """Failed operations over attempted ones; a run without a result counts
    as one failed operation."""
    failed = sum(r["failed"] if r else 1 for r in results)
    attempted = sum(r["attempted"] if r else 1 for r in results)
    return failed / max(1, attempted)


def cmd_report(a):
    spec = json.load(open(SPEC))
    meta = {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}
    recs = [json.loads(l) for l in open(a.pairs_file) if l.strip()]
    print(f"{'workload':14} {'metric':40} {'parent q1/med/q3':>32} {'change q1/med/q3':>32} "
          f"{'won':>6} verdict")
    for wl in sorted({r["workload"] for r in recs}):
        rs = [r for r in recs if r["workload"] == wl]
        by_pair = {}
        for r in rs:
            by_pair.setdefault(r["pair"], {})[r["side"]] = r["result"]
        share = {side: failed_share([r["result"] for r in rs if r["side"] == side])
                 for side in ("parent", "change")}
        bad = {side: sum(1 for r in rs if r["side"] == side and not ok(r["result"]))
               for side in ("parent", "change")}
        print(f"{wl}: failed or incorrect runs parent {bad['parent']}, change {bad['change']}; "
              f"failed operations parent {share['parent']:.4f}, change {share['change']:.4f}")
        failed_more = share["change"] > share["parent"]
        names = []
        for r in rs:
            for k in (r["result"] or {}).get("metrics", {}):
                if k not in names:
                    names.append(k)
        for name in names:
            m = meta.get(name, {"better": "lower"})
            higher = m["better"] == "higher"

            def value(res):
                return res["metrics"][name]["value"] if ok(res) and name in res["metrics"] else None

            par, chg, wins = [], [], 0
            for p in by_pair.values():
                x, y = value(p.get("parent")), value(p.get("change"))
                if x is not None:
                    par.append(x)
                if y is not None:
                    chg.append(y)
                if y is not None and (x is None or (y > x if higher else y < x)):
                    wins += 1
            fmt = lambda q: "/".join(f"{v:.4g}" for v in q)
            if not par or not chg:
                print(f"{wl:14} {name:40} {'-':>32} {'-':>32} {wins}/{len(by_pair):<4} unresolved")
                continue
            v = verdict(par, chg, m["better"], m.get("bound"), wins, len(by_pair), failed_more)
            print(f"{wl:14} {name:40} {fmt(quartiles(par)):>32} {fmt(quartiles(chg)):>32} "
                  f"{wins}/{len(by_pair):<4} {v}")


def main():
    p = argparse.ArgumentParser(description="Compare parent and change benchmark runs.")
    sub = p.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run", help="record alternating parent/change pairs")
    r.add_argument("--parent", required=True)
    r.add_argument("--change", required=True)
    r.add_argument("--workload", required=True)
    r.add_argument("--pairs", type=int, default=10)
    r.add_argument("--first-seed", type=int, default=1)
    r.add_argument("--trace", type=int, choices=[0, 1], default=0)
    r.add_argument("--out", required=True)
    q = sub.add_parser("report", help="summarise recorded pairs")
    q.add_argument("pairs_file")
    a = p.parse_args()
    if a.cmd == "run":
        a.parent, a.change = os.path.abspath(a.parent), os.path.abspath(a.change)
        cmd_run(a)
    else:
        cmd_report(a)


if __name__ == "__main__":
    main()
