#!/usr/bin/env python3
"""Compare two checkouts with the engine benchmark, in alternating pairs.

    python3 perfbench/compare.py run PARENT CHANGE [--pairs 10] [--trace 0|1]
                                     [--out pairs.jsonl]
    python3 perfbench/compare.py report pairs.jsonl [--spec BENCHMARK.json]

`run` makes each pair on one seed, running the parent first in even pairs and
the change first in odd ones, appends every result to --out, then reports.
Both checkouts must carry the same benchmark (BENCHMARK.json and perfbench/).

`report` gives, per workload and metric, each side's median and quartiles,
the change's win rate over the pairs, and a verdict:

- gain: the change wins at least 9 in 10 pairs (ties count for neither side)
  and the medians differ by more than the parent's interquartile range;
- no-regression: the change's median is worse than the parent's by no more
  than the metric's bound, with both sides' spreads within the bound;
- regression: worse by more than the bound, or more failed items;
- unresolved: a side's spread (interquartile range over median) exceeds the
  bound and not every change run beats every parent run.

Fewer than ten pairs give no verdict. Per-layer metrics have no bound: they
get the gain test only, and counts that repeat exactly on both sides are
reported as counts.
"""
import argparse
import hashlib
import json
import statistics
import subprocess
import sys
from pathlib import Path

MIN_PAIRS = 10
WIN_RATE = 0.9


def bench_digest(root):
    """Hash of the benchmark's own files, build and run output excluded."""
    h = hashlib.sha256((root / "BENCHMARK.json").read_bytes())
    bench = root / "perfbench"
    for p in sorted(bench.rglob("*")):
        rel = p.relative_to(bench)
        if p.is_file() and not {"target", "work"} & set(rel.parts) and "project/project" not in str(rel):
            h.update(str(rel).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def run_one(root, workload, seed, seconds, trace):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=root, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        return None
    return json.loads(lines[-1])


def cmd_run(args):
    parent, change = Path(args.parent).resolve(), Path(args.change).resolve()
    if bench_digest(parent) != bench_digest(change):
        sys.exit("compare: the two checkouts carry different benchmarks")
    spec = json.loads((parent / "BENCHMARK.json").read_text())
    workloads = [w["name"] for w in spec["workloads"]]
    out = Path(args.out)
    with out.open("a") as f:
        for i in range(args.pairs):
            sides = [("parent", parent), ("change", change)]
            if i % 2:
                sides.reverse()
            for w in workloads:
                for order, (side, root) in enumerate(sides):
                    res = run_one(root, w, i + 1, spec["run_seconds"], args.trace)
                    rec = {"pair": i, "side": side, "first": order == 0, "workload": w,
                           "seed": i + 1, "trace": args.trace, "result": res}
                    f.write(json.dumps(rec) + "\n")
                    f.flush()
                    print(f"pair {i} {w} {side}: "
                          f"{'ok' if res and res['correct'] else 'FAILED'}", file=sys.stderr)
    report(out, parent / "BENCHMARK.json")


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[1], q[2]


def wins(pairs, better):
    """Pairs the change wins; ties count for neither side."""
    sign = 1 if better == "higher" else -1
    return sum(1 for a, b in pairs if sign * (b - a) > 0)


def verdict(pairs, better, bound, failed):
    """pairs: [(parent, change)] values of one metric on one workload;
    failed: failed items on each side."""
    n = len(pairs)
    if n < MIN_PAIRS:
        return f"no verdict: {n} pairs, need {MIN_PAIRS}"
    p = [a for a, _ in pairs]
    c = [b for _, b in pairs]
    sign = 1 if better == "higher" else -1
    p1, pm, p3 = quartiles(p)
    c1, cm, c3 = quartiles(c)
    gap = sign * (cm - pm)
    if failed[1] > failed[0]:
        return "regression: more failed items"
    if wins(pairs, better) / n >= WIN_RATE and gap > p3 - p1:
        return "gain"
    if bound is None:
        if len(set(p)) == 1 and len(set(c)) == 1:
            return f"count {p[0]:g} -> {c[0]:g}"
        return "no claim"
    worse = -gap / abs(pm) if pm else 0.0
    spread = max((p3 - p1) / abs(pm) if pm else 0.0, (c3 - c1) / abs(cm) if cm else 0.0)
    if spread > bound:
        if min(sign * x for x in c) > max(sign * x for x in p):
            return "no-regression"
        return f"unresolved: spread {spread:.3f} > bound {bound}"
    if worse <= bound:
        return f"no-regression ({worse:+.3f} of parent median, bound {bound})"
    return f"regression ({worse:+.3f} of parent median, bound {bound})"


def report(path, spec_path):
    spec = json.loads(Path(spec_path).read_text())
    metrics = {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}
    recs = [json.loads(l) for l in Path(path).read_text().splitlines() if l.strip()]
    by = {}
    for r in recs:
        by.setdefault((r["workload"], r["trace"], r["pair"]), {})[r["side"]] = r["result"]
    rows = []
    for w in sorted({k[0] for k in by}):
        for trace in sorted({k[1] for k in by if k[0] == w}):
            runs = [v for k, v in sorted(by.items()) if k[0] == w and k[1] == trace]
            # a run that printed no result counts as failed
            failed = tuple(sum(v[s]["failed"] if v.get(s) else 1 for v in runs)
                           for s in ("parent", "change"))
            done = [v for v in runs if v.get("parent") and v.get("change")]
            names = [n for n in metrics if done and n in done[0]["parent"]["metrics"]]
            for name in names:
                m = metrics[name]
                pairs = [(d["parent"]["metrics"][name]["value"], d["change"]["metrics"][name]["value"])
                         for d in done]
                p = quartiles([a for a, _ in pairs])
                c = quartiles([b for _, b in pairs])
                rows.append((w, name, m["unit"], p, c, f"{wins(pairs, m['better'])}/{len(pairs)}",
                             verdict(pairs, m["better"], m.get("bound"), failed)))
    for w, name, unit, p, c, win, v in rows:
        print(f"{w:10} {name:36} {unit:7} parent {p[1]:.4g} [{p[0]:.4g}, {p[2]:.4g}]  "
              f"change {c[1]:.4g} [{c[0]:.4g}, {c[2]:.4g}]  wins {win:6} {v}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("parent")
    r.add_argument("change")
    r.add_argument("--pairs", type=int, default=MIN_PAIRS)
    r.add_argument("--trace", type=int, choices=(0, 1), default=0)
    r.add_argument("--out", default="pairs.jsonl")
    rep = sub.add_parser("report")
    rep.add_argument("pairs")
    rep.add_argument("--spec", default=str(Path(__file__).resolve().parent.parent / "BENCHMARK.json"))
    args = ap.parse_args()
    if args.cmd == "run":
        if args.pairs < MIN_PAIRS:
            sys.exit(f"compare: a verdict needs at least {MIN_PAIRS} pairs")
        cmd_run(args)
    else:
        report(args.pairs, args.spec)


if __name__ == "__main__":
    main()
