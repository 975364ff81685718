"""Compares two sets of benchmark results.

    python3 perfbench/run.py compare <old> <new>

`old` and `new` are each a result file or a directory of result files
(`.bench_build/perfbench/results/*.json`), for example one per seed. For
every workload and end-to-end metric it prints both medians, the change
against the metric's bound from BENCHMARK.json, and a verdict:

  worse       the new median is worse than the old by more than the bound
  unresolved  within the bound, but one side's run-to-run spread (quartile
              distance over median) is wider than the bound, and not every
              new run beats every old run
  ok          otherwise

It then lists every exact counter of the traced runs that changed, such as
`bdc_ingest spark.jobs 17 -> 19`, and every seed whose output digest
changed. It exits 1 when any metric is worse.
"""
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# counters that repeat exactly from run to run of one program
EXACT = ("jobs", "stages", "tasks", "docs_written", "files_read")


def load(path):
    files = [os.path.join(path, f) for f in sorted(os.listdir(path))
             if f.endswith(".json")] if os.path.isdir(path) else [path]
    out = []
    for f in files:
        with open(f) as fh:
            out.append(json.load(fh))
    return out


def spread(values):
    if len(values) < 2:
        return None
    q = statistics.quantiles(values, n=4)
    return (q[2] - q[0]) / statistics.median(values)


def compare(old, new, bounds):
    lines, worse = [], False
    workloads = sorted({r["manifest"]["workload"] for r in old + new})
    for w in workloads:
        olds = [r for r in old if r["manifest"]["workload"] == w and not r["manifest"]["trace"]]
        news = [r for r in new if r["manifest"]["workload"] == w and not r["manifest"]["trace"]]
        for name, (better, bound) in bounds.items():
            a = [r["metrics"][name]["value"] for r in olds if name in r["metrics"]]
            b = [r["metrics"][name]["value"] for r in news if name in r["metrics"]]
            if not a or not b:
                continue
            ma, mb = statistics.median(a), statistics.median(b)
            change = (mb - ma) / ma if ma else 0.0
            loss = change if better == "lower" else -change
            wins = all((x < y) if better == "lower" else (x > y) for x in b for y in a)
            spreads = [s for s in (spread(a), spread(b)) if s is not None]
            if loss > bound:
                verdict, worse = "worse", True
            elif (not spreads or max(spreads) > bound) and not wins:
                verdict = "unresolved"
            else:
                verdict = "ok"
            lines.append("%-12s %-19s %10.4g -> %-12.4g %+7.1f%% (bound %.0f%%, n=%d/%d) %s" % (
                w, name, ma, mb, 100 * change, 100 * bound, len(a), len(b), verdict))
        lines += counter_changes(w, old, new)
    return lines, worse


def counter_changes(w, old, new):
    def counters(rs):
        got = {}
        for r in rs:
            if r["manifest"]["workload"] == w and r["manifest"]["trace"]:
                for k, m in r["metrics"].items():
                    if k.split(".")[-1] in EXACT:
                        got.setdefault(k, m["value"])
        return got

    def digests(rs):
        return {r["manifest"]["seed"]: r.get("digest") for r in rs
                if r["manifest"]["workload"] == w}

    a, b = counters(old), counters(new)
    lines = ["%-12s %s %s -> %s" % (w, k, a.get(k), b.get(k))
             for k in sorted(set(a) | set(b)) if a.get(k) != b.get(k)]
    da, db = digests(old), digests(new)
    lines += ["%-12s seed %d output digest changed" % (w, s)
              for s in sorted(set(da) & set(db)) if da[s] != db[s]]
    return lines


def main(argv):
    if len(argv) != 2:
        print(__doc__)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: (m["better"], m["bound"]) for m in spec["end_to_end"]}
    lines, worse = compare(load(argv[0]), load(argv[1]), bounds)
    print("\n".join(lines))
    return 1 if worse else 0
