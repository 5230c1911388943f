#!/usr/bin/env python3
"""Self-test of the job-path benchmark's own checks.

    python3 jobbench/selftest.py

For every workload in BENCHMARK.json, a tiny-size run (untraced and
traced) must pass and print exactly the metrics BENCHMARK.json names,
with their units; the same run with every expected result deliberately
corrupted must exit non-zero and report every checked operation failed. Finally the
benchmark, copied alone into an empty directory (BENCHMARK.json and
jobbench/ only), must exit non-zero without printing a result. Run from
the root of a checkout; takes a few minutes.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def run(args, cwd=ROOT):
    p = subprocess.run([sys.executable, os.path.join(cwd, "jobbench", "run.py")] + args,
                       cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True, timeout=900)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    return p.returncode, lines


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {"0": {m["name"]: m["unit"] for m in spec["end_to_end"]},
            "1": {m["name"]: m["unit"] for m in spec["per_layer"]}}
    failures = []
    for w in (x["name"] for x in spec["workloads"]):
        for trace in ("0", "1"):
            base = ["--workload", w, "--seed", "7", "--seconds", "2", "--trace", trace,
                    "--size", "tiny"]
            code, lines = run(base)
            res = json.loads(lines[-1]) if lines else {}
            got = {k: v["unit"] for k, v in res.get("metrics", {}).items()}
            ok = (code == 0 and res.get("correct") is True and res.get("failed") == 0
                  and got == want[trace]
                  and all(isinstance(v["value"], (int, float))
                          for v in res["metrics"].values()))
            print(f"{w} trace={trace}: {'ok' if ok else 'FAIL'}")
            if not ok:
                failures.append(f"{w} trace={trace}: exit {code}, metrics differ by "
                                f"{sorted(set(got.items()) ^ set(want[trace].items()))}")
            # every expectation is falsified, so every checked operation fails
            code, lines = run(base + ["--corrupt", "1"])
            res = json.loads(lines[-1]) if lines else {}
            caught = (code != 0 and res.get("correct") is False
                      and res.get("attempted", 0) > 0 and res.get("failed") == res["attempted"])
            print(f"{w} trace={trace} corrupted: {'caught' if caught else 'MISSED'}")
            if not caught:
                failures.append(f"{w} trace={trace}: corrupted run exited {code}, "
                                f"failed {res.get('failed')} of {res.get('attempted')}")

    bare = os.path.join(BUILD, "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "jobbench"),
                    ignore=shutil.ignore_patterns("target"))
    code, lines = run(["--workload", spec["workloads"][0]["name"], "--seed", "1",
                       "--seconds", "1", "--trace", "0"], cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    bare_ok = code != 0 and not lines
    print(f"bare checkout: {'refused' if bare_ok else 'FAIL'}")
    if not bare_ok:
        failures.append(f"bare checkout exited {code} printing {lines[-1:]}")

    for f in failures:
        print("FAILED:", f)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
