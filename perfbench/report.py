#!/usr/bin/env python3
"""Summarises the run records of the newest source tree under
.bench_build/results/ into
perfbench/reports/REPORT.md: end-to-end medians and quartiles of the
untraced runs, per-layer metrics and self time of the traced runs, the
tracing overhead (traced pass_s minus untraced pass_s), and the count() vs
full-output table when perfbench/reports/count_vs_full.tsv exists.

    python3 perfbench/report.py
"""

import glob
import json
import os
import statistics

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RESULTS = os.path.join(ROOT, ".bench_build", "results")
OUT = os.path.join(HERE, "reports", "REPORT.md")


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    recs = []
    for p in sorted(glob.glob(os.path.join(RESULTS, "*-trace[01]-*.json")), key=os.path.getmtime):
        if not p.endswith(".spans.json"):
            with open(p) as f:
                recs.append(json.load(f))
    # only runs of the newest source tree are comparable
    newest = recs[-1]["source_tree"] if recs else None
    recs = [r for r in recs if r["source_tree"] == newest]
    out = ["# Benchmark report", ""]
    if recs:
        h = recs[-1]["host"]
        out += [f"Host: {h['nproc']} CPUs, MemTotal {h['mem_total_kb'] // 1024} MiB, driver -Xmx{h['xmx']}. "
                f"Source tree {recs[-1]['source_tree']}, commit {recs[-1].get('commit')}, "
                f"data seed {recs[-1]['data']['seed']} sf {recs[-1]['data']['sf']}.", ""]
    for w in [w["name"] for w in spec["workloads"]]:
        plain = [r for r in recs if r["workload"] == w and not r["trace"]]
        traced = [r for r in recs if r["workload"] == w and r["trace"]]
        if not plain:
            continue
        out += [f"## {w}", "",
                f"{len(plain)} untraced runs (seeds {sorted(r['seed'] for r in plain)}), "
                f"{len(traced)} traced. {plain[0]['queries']} queries; "
                f"views set up: {', '.join(plain[0]['views']) or 'none'}. "
                f"All runs correct: {all(r['correct'] for r in plain + traced)}.", "",
                "| metric | unit | median | Q1 | Q3 | (Q3-Q1)/median | bound | samples per run |",
                "|---|---|---|---|---|---|---|---|"]
        for m in spec["end_to_end"]:
            xs = [r["end_to_end"][m["name"]] for r in plain]
            q1, q2, q3 = quartiles(xs)
            n = plain[0]["samples"][m["name"]]
            out.append(f"| {m['name']} | {m['unit']} | {q2:.4g} | {q1:.4g} | {q3:.4g} | "
                       f"{(q3 - q1) / q2 if q2 else 0:.3f} | {m['bound']} | {n} |")
        lvl = plain[0]["query_p90_level"]
        out += ["", f"query_p90_s is the nearest-rank p{100 * lvl:.1f} of the warm per-query "
                f"latencies ({plain[0]['samples']['query_p90_s']} samples in the first run): p90 "
                f"when at least 10 samples lie beyond it, else the highest level that leaves 10 "
                f"beyond it, never below the median.", ""]
        if traced:
            untraced_pass = statistics.median(r["end_to_end"]["pass_s"] for r in plain)
            traced_pass = statistics.median(r["end_to_end"]["pass_s"] for r in traced)
            out += [f"Tracing overhead: traced pass_s {traced_pass:.3f} s - untraced {untraced_pass:.3f} s "
                    f"= {traced_pass - untraced_pass:+.3f} s per pass "
                    f"({(traced_pass - untraced_pass) / untraced_pass:+.1%} of the untraced pass).", "",
                    "Self time per layer, seconds per warm pass (median over traced runs), "
                    "with its share of the traced pass_s:", "",
                    "| layer | self s/pass | share of pass |", "|---|---|---|"]
            layers = sorted({k for r in traced for k in r["self_s_per_warm_pass"]})
            for l in layers:
                v = statistics.median(r["self_s_per_warm_pass"].get(l, 0.0) for r in traced)
                out.append(f"| {l} | {v:.3f} | {v / traced_pass:.1%} of {traced_pass:.3f} s |")
            out += ["", "Per-layer metrics (median over traced runs; per warm pass unless "
                    "the README says otherwise):", "", "| metric | unit | value |", "|---|---|---|"]
            for m in spec["per_layer"]:
                v = statistics.median(r["per_layer"][m["name"]] for r in traced)
                out.append(f"| {m['name']} | {m['unit']} | {v:.4g} |")
            out.append("")
        cold = {q: [r["per_query"][q]["cold_s"] for r in plain] for q in plain[0]["per_query"]}
        warm = {q: [r["per_query"][q]["warm_median_s"] for r in plain] for q in plain[0]["per_query"]}
        out += ["Per query (median over untraced runs):", "",
                "| query | cold s | warm s |", "|---|---|---|"]
        for q in sorted(warm, key=lambda q: -statistics.median(warm[q])):
            out.append(f"| {q} | {statistics.median(cold[q]):.3f} | {statistics.median(warm[q]):.3f} |")
        out.append("")
    cvf = os.path.join(HERE, "reports", "count_vs_full.tsv")
    if os.path.exists(cvf):
        with open(cvf) as f:
            rows = [l.split("\t") for l in f.read().splitlines()[1:]]
        tc, tf = sum(float(r[1]) for r in rows), sum(float(r[2]) for r in rows)
        out += ["## count() vs full-output action", "",
                "Warm, median of 3 alternating pairs per query, one JVM "
                "(`python3 perfbench/run.py --compare-count`). "
                f"Sum over {len(rows)} queries: count() {tc:.2f} s, full output {tf:.2f} s.", "",
                "| query | count() s | full output s | full/count |", "|---|---|---|---|"]
        for q, c, fu in rows:
            out.append(f"| {q} | {c} | {fu} | {float(fu) / max(float(c), 1e-3):.2f} |")
        out.append("")
    os.makedirs(os.path.dirname(OUT), exist_ok=True)
    with open(OUT, "w") as f:
        f.write("\n".join(out))
    print(f"wrote {OUT}")


if __name__ == "__main__":
    main()
