"""Checks of the benchmark itself, run from the repository root.

    python3 perfbench/check.py selfcheck
        Runs every workload of BENCHMARK.json once untraced and once traced
        with --seconds 1, and checks that the result line carries exactly
        the metrics BENCHMARK.json names, with their units, and passed its
        correctness checks.

    python3 perfbench/check.py spread --workload <name> --seeds 1 2 3 ...
        Runs the workload untraced once per seed and prints, per end-to-end
        metric, the median and the quartile spread (q3 - q1) / median.
"""
import argparse
import json
import math
import statistics
import subprocess
import sys


def bench():
    with open("BENCHMARK.json") as f:
        return json.load(f)


def run(cfg, workload, seed, seconds, trace):
    cmd = cfg["command"] + ["--workload", workload, "--seed", str(seed),
                            "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
    if out.returncode != 0:
        raise SystemExit(f"{' '.join(cmd)}: exit {out.returncode}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def selfcheck(cfg):
    ok = True
    for w in cfg["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res = run(cfg, w["name"], 1, 1, trace)
            want = {m["name"]: m["unit"] for m in cfg[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            bad = [k for k, v in res["metrics"].items()
                   if not isinstance(v["value"], (int, float)) or not math.isfinite(v["value"])]
            good = (got == want and not bad and res["correct"] and res["failed"] == 0
                    and res["attempted"] >= 1)
            ok &= good
            print(f"{w['name']} trace={trace}: {'ok' if good else 'FAIL'}"
                  f" missing={sorted(set(want) - set(got))} extra={sorted(set(got) - set(want))}"
                  f" non-numeric={bad} correct={res['correct']}")
    sys.exit(0 if ok else 1)


def spread(cfg, workload, seeds):
    values = {}
    for s in seeds:
        res = run(cfg, workload, s, cfg["run_seconds"], 0)
        print(json.dumps({"seed": s, "correct": res["correct"],
                          **{k: v["value"] for k, v in res["metrics"].items()}}), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4)
        print(f"{workload} {k}: median {med:.6g} spread {(q3 - q1) / med if med else float('nan'):.4f}")


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    sub.add_parser("selfcheck")
    sp = sub.add_parser("spread")
    sp.add_argument("--workload", required=True)
    sp.add_argument("--seeds", type=int, nargs="+", required=True)
    a = ap.parse_args()
    cfg = bench()
    if a.cmd == "selfcheck":
        selfcheck(cfg)
    else:
        spread(cfg, a.workload, a.seeds)


if __name__ == "__main__":
    main()
