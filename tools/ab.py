#!/usr/bin/env python3
"""A/B the stream benchmark between two checkouts, pair by pair.

    python3 tools/ab.py PARENT CHANGE --pairs 10 --seed 2001 \\
        --workload upsert_growing --workload enrich_append [--out runs.json]

PARENT and CHANGE are checkouts of the repository (for example a
`git archive` of each commit). For each workload and each pair i, both
run `python3 perfbench/run.py --workload W --seed SEED+i-1 --seconds S
--trace 0` in their own checkout, one after the other: the parent first on
odd pairs, the change first on even ones. Each checkout builds its own
harness on its first run.

Per workload the script prints, for every gated end-to-end metric of
BENCHMARK.json and every recorded wall-clock metric:

- each side's median and quartiles (Q1-Q3);
- the pairs the change won, ties counting for neither;
- for gated metrics, whether a gain holds (the change wins at least 9/10
  of the pairs and the medians differ, in the better direction, by more
  than the parent's Q3-Q1; "n<10" when fewer than 10 pairs had both runs
  correct, too few to tell) and whether the bound holds (the change's
  median is no worse than the parent's by more than the metric's bound).

Two ungated lines per side follow, from each record's params: the
slowest measured trigger (the max of `measured_triggers_ms`, where
compactions land) and the warm set-up rounds (`setup_round_s[1:]`, pooled
over the runs), each as median [Q1-Q3].

A run fails when run.py exits non-zero or its result is not correct or
counts failed operations. Every run is made whatever fails; the script
then exits 1 if any run failed, else 0. --out writes every run's result
and wall-clock metrics as JSON.

    python3 tools/ab.py --report runs1.json runs2.json ...

re-prints the table from saved --out files without running anything,
pooling the pairs of every file by workload, so that sets run in
separate sessions combine into one table.
"""
import argparse
import json
import pathlib
import statistics
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
SIDES = ("parent", "change")
# fewer pairs than this cannot show a gain: at 3 pairs, identical code
# wins all three one time in eight
MIN_PAIRS = 10
# record params behind the ungated per-side lines
PARAMS = ("measured_triggers_ms", "setup_round_s")


def run(checkout, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    res = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, text=True)
    lines = [ln for ln in res.stdout.splitlines() if ln.strip()]
    if res.returncode != 0 or len(lines) < 2 or not lines[-2].startswith("record: "):
        return {"ok": False, "exit": res.returncode}
    summary = json.loads(lines[-1])
    record = json.loads((checkout / lines[-2].split()[1]).read_text())
    ok = bool(summary.get("correct")) and summary.get("failed") == 0
    return {"ok": ok, "exit": res.returncode, "correct": summary.get("correct"),
            "attempted": summary.get("attempted"), "failed": summary.get("failed"),
            "metrics": {k: m["value"] for k, m in summary["metrics"].items()},
            "wall_metrics": {k: m["value"] for k, m in record["wall_metrics"].items()},
            "params": {k: record["params"].get(k) for k in PARAMS}}


def quartiles(vals):
    if len(vals) < 2:
        return vals[0], vals[0]
    q = statistics.quantiles(vals, n=4, method="inclusive")
    return q[0], q[2]


def report(workload, pairs, spec, lower_is_better):
    """Prints one workload's table; pairs is a list of {side: run}."""
    good = [p for p in pairs if all(p[s]["ok"] for s in SIDES)]
    print(f"{workload}: {len(good)} of {len(pairs)} pairs with both runs correct")
    if not good:
        return
    print(f"  {'metric':24s} {'parent median [Q1-Q3]':>30s} {'change median [Q1-Q3]':>30s}"
          f" {'change':>8s} {'wins':>6s}  gain  bound")
    for key in ("metrics", "wall_metrics"):
        names = sorted({n for p in good for s in SIDES for n in p[s][key]},
                       key=lambda n: (n not in spec, n))
        for n in names:
            got = [p for p in good if all(n in p[s][key] for s in SIDES)]
            a = [p["parent"][key][n] for p in got]
            b = [p["change"][key][n] for p in got]
            lower = spec[n]["better"] == "lower" if n in spec else lower_is_better(n)
            wins = sum((y < x) if lower else (y > x) for x, y in zip(a, b))
            ma, mb = statistics.median(a), statistics.median(b)
            (qa1, qa3), (qb1, qb3) = quartiles(a), quartiles(b)
            d = (mb - ma) / abs(ma) if ma else 0.0
            gain = bound = "-"
            if n in spec:
                gap = (ma - mb) if lower else (mb - ma)
                if len(got) < MIN_PAIRS:
                    gain = f"n<{MIN_PAIRS}"
                else:
                    gain = "yes" if wins >= 0.9 * len(got) and gap > qa3 - qa1 else "no"
                worse = -gap / abs(ma) if ma else 0.0
                bound = "holds" if worse <= spec[n]["bound"] else "BROKEN"
            print(f"  {n:24s} {ma:12.4g} [{qa1:.4g}-{qa3:.4g}]".ljust(57)
                  + f" {mb:12.4g} [{qb1:.4g}-{qb3:.4g}]".ljust(31)
                  + f" {d:+8.1%} {wins:>3d}/{len(got):<2d}  {gain:5s} {bound}")
    # ungated: where compactions land, and the set-up once the JIT is warm
    for side in SIDES:
        ps = [p[side].get("params") or {} for p in good]
        slowest = [max(q["measured_triggers_ms"]) for q in ps if q.get("measured_triggers_ms")]
        warm = [v for q in ps for v in (q.get("setup_round_s") or [])[1:]]
        for label, vals in (("slowest trigger ms", slowest), ("warm set-up rounds s", warm)):
            if vals:
                q1, q3 = quartiles(vals)
                print(f"  {side:6s} {label:21s} {statistics.median(vals):12.4g} [{q1:.4g}-{q3:.4g}]"
                      f"  n={len(vals)}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent", type=pathlib.Path, nargs="?")
    ap.add_argument("change", type=pathlib.Path, nargs="?")
    ap.add_argument("--report", type=pathlib.Path, nargs="+", metavar="RUNS.json",
                    help="re-print the table from saved --out files, pooled by workload")
    ap.add_argument("--workload", action="append",
                    choices=("enrich_append", "upsert_growing"))
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, help="seed of the first pair")
    ap.add_argument("--seconds", type=int, default=6)
    ap.add_argument("--out", type=pathlib.Path)
    a = ap.parse_args()
    if not a.report and not (a.parent and a.change and a.workload and a.seed is not None):
        ap.error("PARENT, CHANGE, --workload and --seed are required unless --report is given")

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    spec = {m["name"]: m for m in bench["end_to_end"]}
    layer = {m["name"]: m for m in bench["per_layer"]}

    def lower_is_better(name):
        return layer.get(f"wall.{name}", {}).get("better", "lower") == "lower"

    if a.report:
        pooled = {}
        for i, path in enumerate(a.report):
            for r in json.loads(path.read_text()):
                pair = pooled.setdefault(r["workload"], {}).setdefault((i, r["pair"]), {})
                pair[r["side"]] = r
        for w, pairs in pooled.items():
            report(w, [p for p in pairs.values() if all(s in p for s in SIDES)],
                   spec, lower_is_better)
        return

    checkouts = {"parent": a.parent.resolve(), "change": a.change.resolve()}
    runs, failed = [], 0
    for w in a.workload:
        pairs = []
        for i in range(1, a.pairs + 1):
            seed = a.seed + i - 1
            order = SIDES if i % 2 == 1 else SIDES[::-1]
            pair = {}
            for side in order:
                r = run(checkouts[side], w, seed, a.seconds)
                pair[side] = r
                failed += not r["ok"]
                runs.append(dict(r, workload=w, pair=i, seed=seed, side=side))
                print(f"[ab] {w} pair {i} seed {seed} {side}: "
                      f"{'ok' if r['ok'] else 'FAILED'} {r.get('metrics', '')}",
                      file=sys.stderr, flush=True)
            pairs.append(pair)
        report(w, pairs, spec, lower_is_better)
    if a.out:
        a.out.write_text(json.dumps(runs, indent=1) + "\n")
    if failed:
        print(f"{failed} run(s) failed", file=sys.stderr)
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
