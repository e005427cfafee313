#!/usr/bin/env python3
"""The benchmark's own test: a short run of every workload at sf0.001,
untraced and traced, with every correctness check on. It fails unless each
run answers every operation correctly and prints exactly the metrics
BENCHMARK.json names, each with its unit.

    python3 perfbench/smoke_test.py        (from the repository root)
"""
import json
import pathlib
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    want = {"0": {m["name"]: m["unit"] for m in spec["end_to_end"]},
            "1": {m["name"]: m["unit"] for m in spec["per_layer"]}}
    bad = []
    for w in spec["workloads"]:
        for trace in ("0", "1"):
            cmd = spec["command"] + ["--workload", w["name"], "--seed", "7", "--seconds", "1",
                                     "--trace", trace, "--scale", "sf0.001"]
            p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
            tag = f"{w['name']} --trace {trace}"
            if p.returncode != 0:
                bad.append(f"{tag}: exit code {p.returncode}")
                continue
            r = json.loads(p.stdout.splitlines()[-1])
            got = {k: v["unit"] for k, v in r["metrics"].items()}
            if not r["correct"] or r["failed"] or r["attempted"] < 1:
                bad.append(f"{tag}: {r['failed']} of {r['attempted']} operations failed")
            if got != want[trace]:
                bad.append(f"{tag}: metrics differ from BENCHMARK.json: "
                           f"{sorted(set(got.items()) ^ set(want[trace].items()))}")
            print(f"ok {tag}" if not bad or not bad[-1].startswith(tag) else f"FAIL {tag}")
    for b in bad:
        print(b, file=sys.stderr)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
