#!/usr/bin/env python3
"""Compare benchmark records of two commits, workload by workload.

    python3 perfbench/diff.py BASE NEW

BASE and NEW are record files written by run.py (perfbench/out/record-*.json)
or directories holding them; several runs of one workload on one side are
summarised by their median. For each workload the script prints:

- the end-to-end metrics of untraced runs, with the change from BASE to NEW
  and a flag where NEW is worse than BASE by more than the metric's bound in
  BENCHMARK.json (or better by more than it);
- the wall-clock metrics untraced runs record but the benchmark does not
  gate on;
- the per-layer metrics of traced runs;
- the tracing overhead on each side: end-to-end metrics of the traced pass
  minus those of the untraced runs.

Exits 1 when any gated metric is flagged worse, else 0.
"""
import json
import pathlib
import statistics
import sys

HERE = pathlib.Path(__file__).resolve().parent


def load(arg):
    p = pathlib.Path(arg)
    files = sorted(p.glob("record-*.json")) if p.is_dir() else [p]
    return [json.loads(f.read_text()) for f in files]


def medians(records, key):
    vals = {}
    for r in records:
        for name, m in r.get(key, {}).items():
            if m.get("value") is not None:
                vals.setdefault(name, []).append(m["value"])
    return {k: statistics.median(v) for k, v in vals.items()}


def by_workload(records):
    out = {}
    for r in records:
        side = out.setdefault(r["workload"], {"untraced": [], "traced": []})
        side["traced" if r.get("traced") else "untraced"].append(r)
    return out


def change(a, b):
    if a is None or b is None:
        return None
    if a == 0:
        return 0.0 if b == 0 else float("inf")
    return (b - a) / abs(a)


def fmt(v):
    return "-" if v is None else f"{v:.6g}"


def table(title, a, b, spec=None):
    names = [n for n in (spec or {}) if n in a or n in b] + \
            sorted(n for n in set(a) | set(b) if n not in (spec or {}))
    if not names:
        return 0
    print(f"  {title}")
    worse = 0
    for n in names:
        d = change(a.get(n), b.get(n))
        flag = ""
        if spec and n in spec and d is not None:
            s = spec[n]
            signed = d if s["better"] == "lower" else -d
            if signed > s["bound"]:
                flag, worse = f"WORSE (bound {s['bound']:.0%})", worse + 1
            elif signed < -s["bound"]:
                flag = "better"
        ds = "" if d is None else f"{d:+.1%}"
        print(f"    {n:42s} {fmt(a.get(n)):>14s} {fmt(b.get(n)):>14s} {ds:>8s} {flag}")
    return worse


def overhead(side):
    if not side["traced"] or not side["untraced"]:
        return {}
    t = medians(side["traced"], "traced_metrics")
    u = medians(side["untraced"], "metrics")
    u.update(medians(side["untraced"], "wall_metrics"))
    # the traced pass sets up once, cold: its setup_s has no untraced peer
    return {k: t[k] - u[k] for k in t if k in u and k != "setup_s"}


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    spec = {m["name"]: m for m in bench["end_to_end"]}
    base, new = by_workload(load(sys.argv[1])), by_workload(load(sys.argv[2]))
    worse = 0
    for w in sorted(set(base) | set(new)):
        a = base.get(w, {"untraced": [], "traced": []})
        b = new.get(w, {"untraced": [], "traced": []})
        print(f"{w}: base {len(a['untraced'])}+{len(a['traced'])} runs, "
              f"new {len(b['untraced'])}+{len(b['traced'])} runs (untraced+traced)")
        print(f"    {'metric':42s} {'base':>14s} {'new':>14s} {'change':>8s}")
        worse += table("end to end (gated)", medians(a["untraced"], "metrics"),
                       medians(b["untraced"], "metrics"), spec)
        table("wall clock (recorded, not gated)", medians(a["untraced"], "wall_metrics"),
              medians(b["untraced"], "wall_metrics"))
        table("per layer (traced runs)", medians(a["traced"], "metrics"),
              medians(b["traced"], "metrics"))
        table("tracing overhead (traced minus untraced)", overhead(a), overhead(b))
    sys.exit(1 if worse else 0)


if __name__ == "__main__":
    main()
