"""Steadiness record: run the benchmark on several seeds per workload
and summarize each metric by its median and quartiles.

    python3 perfbench/steady.py --runs 10 --first-seed 1 --out perfbench/records/set-a.json
    python3 perfbench/steady.py --runs 3 --trace 1 --out perfbench/records/trace-a.json
    python3 perfbench/steady.py --summary perfbench/records/set-a.json \
        perfbench/records/set-b.json perfbench/records/trace-a.json \
        perfbench/records/trace-b.json > perfbench/records/SUMMARY.md

Run from the root of a checkout. Workloads and run length come from
BENCHMARK.json. For every metric the record holds the ten values, their
median, the first and third quartile as statistics.quantiles(n=4) gives
them, and the spread (q3 - q1) / median. Each traced run is paired
with an untraced run of its seed for the tracing overhead, and two
traced sets on the same seeds are compared run by run: input digest
and exact counts.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Per-layer counts that must repeat exactly on the same seed; a curation
# query's counts end in one of EXACT_QUERY_SUFFIXES.
EXACT = (
    "pipeline.input_rows",
    "pipeline.window_rows_per_tweet",
    "state.rows_total",
    "state.rows_updated",
    "state.rows_removed",
    "state.dropped_by_watermark",
    "exec.jobs",
    "exec.stages",
    "exec.tasks",
)
EXACT_QUERY_SUFFIXES = (".jobs", ".tasks")


def summarize(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {
        "median": med,
        "q1": q1,
        "q3": q3,
        "spread": (q3 - q1) / med if med else None,
        "values": values,
    }


def markdown(paths: list[str]) -> str:
    """Tables of the recorded end-to-end metrics: per set and workload
    the median, quartiles and spread; then, for each later untraced
    set, the shift of its medians against the first set's; then, for each traced
    set, the tracing overhead pair by pair; then, for two traced sets,
    the determinism table."""
    sets = {}
    for path in paths:
        with open(path) as fh:
            sets[os.path.basename(path)] = json.load(fh)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    untraced = [name for name, rec in sets.items() if not rec["trace"]]
    traced = [name for name, rec in sets.items() if rec["trace"]]
    out = [
        "# Steadiness record",
        "",
        "Written by `steady.py --summary`; each set's JSON holds every run.",
        "",
    ]
    for name in untraced:
        rec = sets[name]
        out += [
            f"## {name}: {len(next(iter(rec['workloads'].values()))['runs'])} seeds per "
            f"workload, run_seconds {rec['run_seconds']}, {rec['cpus']} CPUs",
            "",
            "| workload | metric | median | q1 | q3 | spread | bound |",
            "|---|---|---|---|---|---|---|",
        ]
        for wl, w in rec["workloads"].items():
            for metric, m in w["metrics"].items():
                out.append(
                    f"| {wl} | {metric} | {m['median']:.4g} {m['unit']} | {m['q1']:.4g} | "
                    f"{m['q3']:.4g} | {m['spread']:.3f} | {bounds.get(metric, '')} |"
                )
        out += [
            "",
            "| workload | all correct | run wall s (median) | host.calib_ms (median) "
            "| host steal % per run | samples replaced for steal per run |",
            "|---|---|---|---|---|---|",
        ]
        for wl, w in rec["workloads"].items():
            steal = ", ".join(f"{r['diag']['host_steal_pct']:.1f}" for r in w["runs"])
            replaced = ", ".join(
                str(r["diag"]["replaced_setups"] + r["diag"].get("replaced_samples", 0))
                for r in w["runs"]
            )
            out.append(
                f"| {wl} | {w['all_correct']} | {w['wall_s']['median']:.1f} | "
                f"{w['host_calib_ms']['median']:.1f} | {steal} | {replaced} |"
            )
        out.append("")
    for later in untraced[1:]:
        a, b = sets[untraced[0]], sets[later]
        out += [
            f"## Same code, two sets: {later} median vs {untraced[0]} median",
            "",
            "| workload | metric | first | second | worse by | bound |",
            "|---|---|---|---|---|---|",
        ]
        better = {m["name"]: m["better"] for m in spec["end_to_end"]}
        for wl, w in a["workloads"].items():
            if wl not in b["workloads"]:
                continue
            for metric, m in w["metrics"].items():
                first, second = m["median"], b["workloads"][wl]["metrics"][metric]["median"]
                worse = (second - first) / first
                if better.get(metric) == "higher":
                    worse = -worse
                out.append(
                    f"| {wl} | {metric} | {first:.4g} | {second:.4g} | {worse:+.3f} | "
                    f"{bounds.get(metric, '')} |"
                )
        out.append("")
    for name in traced:
        out += [
            f"## Tracing overhead: {name}, each traced run against the untraced run "
            "of the same seed just before it",
            "",
            "| workload | metric | untraced median | traced median | overhead per pair | median |",
            "|---|---|---|---|---|---|",
        ]
        for wl, w in sets[name]["workloads"].items():
            for metric in ("latency_p50_s", "pass_s"):
                plain = [r["untraced_twin"]["result"]["metrics"][metric]["value"] for r in w["runs"]]
                with_trace = [r["result"]["metrics"][f"traced.{metric}"]["value"] for r in w["runs"]]
                ratios = [t / p - 1 for t, p in zip(with_trace, plain)]
                out.append(
                    f"| {wl} | {metric} | {statistics.median(plain):.4g} | "
                    f"{statistics.median(with_trace):.4g} | "
                    f"{', '.join(f'{x:+.3f}' for x in ratios)} | {statistics.median(ratios):+.3f} |"
                )
        out.append("")
    if len(traced) >= 2:
        out += determinism(sets[traced[0]], sets[traced[1]], traced[0], traced[1])
    return "\n".join(out)


def determinism(a: dict, b: dict, name_a: str, name_b: str) -> list[str]:
    """Table of the exact counts of two traced sets, compared seed by
    seed, with the input digest of each run."""
    out = [
        f"## Determinism: {name_b} vs {name_a}, run by run on the same seeds",
        "",
        "| workload | seed | input sha256 | same input | exact counts | same counts |",
        "|---|---|---|---|---|---|",
    ]
    for wl, w in a["workloads"].items():
        other = {r["seed"]: r for r in b["workloads"].get(wl, {}).get("runs", [])}
        for run in w["runs"]:
            twin = other.get(run["seed"])
            if twin is None:
                continue

            def exact(r: dict) -> dict:
                return {
                    k: v["value"] for k, v in r["result"]["metrics"].items()
                    if k in EXACT or k.endswith(EXACT_QUERY_SUFFIXES)
                }

            digest = run["diag"]["input_sha256"]
            counts, twin_counts = exact(run), exact(twin)
            differ = sorted(k for k in counts if counts[k] != twin_counts.get(k))
            out.append(
                f"| {wl} | {run['seed']} | {digest[:12]} | "
                f"{digest == twin['diag']['input_sha256']} | {len(counts)} | "
                f"{'all' if not differ else 'differ: ' + ', '.join(differ)} |"
            )
    out.append("")
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--summary", nargs="+", metavar="SET_JSON",
                    help="print the markdown summary of recorded sets and exit")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--workloads", nargs="*")
    ap.add_argument("--out")
    args = ap.parse_args()
    if args.summary:
        print(markdown(args.summary))
        return 0
    if not args.out:
        ap.error("--out is required")

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    workloads = args.workloads or [w["name"] for w in spec["workloads"]]
    record: dict = {
        "run_seconds": spec["run_seconds"],
        "trace": args.trace,
        "cpus": len(os.sched_getaffinity(0)),
        "workloads": {},
    }
    for workload in workloads:
        runs = []
        for seed in range(args.first_seed, args.first_seed + args.runs):
            run = {"seed": seed}
            # A traced run is paired with an untraced run of the same seed
            # just before it, so the tracing overhead is read pair by pair
            # rather than across host conditions minutes apart.
            for trace in ([0, 1] if args.trace else [0]):
                cmd = spec["command"] + [
                    "--workload", workload, "--seed", str(seed),
                    "--seconds", str(spec["run_seconds"]), "--trace", str(trace),
                ]
                t0 = time.monotonic()
                proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
                wall = time.monotonic() - t0
                lines = proc.stdout.strip().splitlines()
                if proc.returncode != 0 or len(lines) < 2:
                    print(proc.stderr[-2000:], file=sys.stderr)
                    raise SystemExit(f"{workload} seed {seed}: exit {proc.returncode}")
                diag, result = json.loads(lines[-2]), json.loads(lines[-1])
                if trace != args.trace:
                    run["untraced_twin"] = {"wall_s": wall, "diag": diag, "result": result}
                else:
                    run.update(wall_s=wall, diag=diag, result=result)
                print(f"{workload} seed {seed} trace {trace}: {wall:.1f} s "
                      f"steal={diag.get('host_steal_pct')} correct={result['correct']} "
                      f"{ {k: round(v['value'], 4) for k, v in result['metrics'].items() if '.' not in k} }",
                      flush=True)
            runs.append(run)
        names = runs[0]["result"]["metrics"].keys()
        record["workloads"][workload] = {
            "all_correct": all(r["result"]["correct"] for r in runs),
            "wall_s": summarize([r["wall_s"] for r in runs]),
            "host_calib_ms": summarize(
                [statistics.mean(r["diag"]["host_calib_ms"]) for r in runs]
            ),
            "metrics": {
                name: dict(
                    summarize([r["result"]["metrics"][name]["value"] for r in runs]),
                    unit=runs[0]["result"]["metrics"][name]["unit"],
                )
                for name in names
            },
            "runs": runs,
        }
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as fh:
        json.dump(record, fh, indent=1)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
