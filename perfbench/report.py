#!/usr/bin/env python3
"""Write perfbench/LAYERS.md: one untraced and one traced run per
workload with the same seed, the per-layer metrics of the traced run,
the self time of each span, and the tracing overhead (the traced run's
end-to-end figures against the untraced run's).

    python3 perfbench/report.py --seed 1 --seconds 20 [workload ...]
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import layers  # noqa: E402
import run  # noqa: E402


def one(workload, seed, seconds, trace):
    subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                    "--workload", workload, "--seed", str(seed),
                    "--seconds", str(seconds), "--trace", str(trace)],
                   cwd=run.ROOT, check=True, stdout=subprocess.DEVNULL)


def result(workload, seed, trace):
    with open(os.path.join(run.WORK, "results",
                           f"{workload}-seed{seed}-trace{trace}.json")) as fh:
        return json.load(fh)


def section(workload, plain, traced):
    ctx = traced["context"]
    lines = [f"## {workload}", "",
             f"seed {ctx['seed']}, {ctx['seconds']:g} s measured, "
             f"{ctx['cpus']} cpus, `{ctx['master']}`, "
             f"{traced['attempted']} traced operations in "
             f"{ctx['passes']} passes "
             f"({plain['attempted']} untraced), "
             f"load average before the run {ctx['load_avg_1m']:.2f}.", "",
             "Tracing overhead (traced against untraced, same seed):", "",
             "| metric | untraced | traced | traced / untraced |",
             "| --- | ---: | ---: | ---: |"]
    t_e2e = run.end_to_end(traced)
    for k, unit in run.END_TO_END:
        u, t = plain["metrics"][k], t_e2e[k]
        lines.append(f"| {k} ({unit}) | {u:.4g} | {t:.4g} | {t / u:.3f} |")
    lines += ["", "Per-layer metrics of the traced run (mean per operation "
              "unless the README says otherwise; 0 = layer not entered):", "",
              "| layer metric | value | unit |", "| --- | ---: | --- |"]
    for k, unit in layers.UNITS:
        v = traced["metrics"][k]
        if v:
            lines.append(f"| {k} | {v:.4g} | {unit} |")
    zero = [k for k, _ in layers.UNITS if not traced["metrics"][k]]
    lines += ["", f"Zero on this workload: {', '.join(zero) or 'none'}.", ""]
    if not traced["self_ms"]:
        return lines + ["No spans: a micro-batch is timed by the program's "
                        "own progress record.", ""]
    lines += ["Spans (all operations and set-up rounds of the traced run):",
              "", "| span | count | total ms | self ms | self ms per span |",
              "| --- | ---: | ---: | ---: | ---: |"]
    for name, s in sorted(traced["self_ms"].items(),
                          key=lambda kv: -kv[1]["self_ms"]):
        lines.append(f"| {name} | {s['count']} | {s['total_ms']:.0f} | "
                     f"{s['self_ms']:.0f} | {s['self_ms'] / s['count']:.1f} |")
    return lines + [""]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("workloads", nargs="*", default=run.WORKLOADS)
    a = ap.parse_args()
    out = ["# Per-layer table", "",
           "Generated by `python3 perfbench/report.py`; see README.md for "
           "how to read it. Each workload is one untraced and one traced "
           "run with the same seed. Ten runs of ten seeds on a shared "
           "4-core machine spread by 6-11%, and up to 19% on ra_doors "
           "when the host was busy (quartile distance over median, see "
           "CHANGES.md), so a traced/untraced ratio within that distance "
           "of 1 is not resolved by one pair of runs.", ""]
    for w in a.workloads:
        one(w, a.seed, a.seconds, 0)
        one(w, a.seed, a.seconds, 1)
        out += section(w, result(w, a.seed, 0), result(w, a.seed, 1))
    with open(os.path.join(HERE, "LAYERS.md"), "w") as fh:
        fh.write("\n".join(out))


if __name__ == "__main__":
    main()
