#!/usr/bin/env python3
"""Self-test of the benchmark's workload manifest:

    python3 perfbench/selftest.py

- every query a workload lists is registered in graft.SparkEntry.queries,
  so a renamed query fails here instead of quietly shrinking a mix;
- no workload lists a query twice;
- the seed changes the order of a pass but never which queries it runs;
- every workload's query list has a fingerprint in fingerprints.json,
  and none of them records an error;
- the layer mapping names only metrics the benchmark declares, and
  each layer moves an end-to-end one.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402

SEEDS = [1, 2, 3, 17]
PASSES = 3


def describe(classes, mix):
    out = subprocess.run(
        ["java", "-XX:-UsePerfData", "-cp", build.classpath(classes), "perfbench.Harness", "mode=describe",
         "mix=" + ",".join(mix), "seeds=" + ",".join(map(str, SEEDS)), f"passes={PASSES}"],
        check=True, capture_output=True, text=True).stdout
    return json.loads(out.strip().splitlines()[-1])


def main():
    with open(os.path.join(HERE, "workloads.json")) as fh:
        manifest = json.load(fh)
    with open(os.path.join(HERE, "fingerprints.json")) as fh:
        prints = json.load(fh)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    classes = build.build()
    failures = []
    for name, w in manifest["workloads"].items():
        mix = w["queries"]
        d = describe(classes, mix)
        registered = set(d["registered"])
        failures += [f"{name}: {q} is not in SparkEntry.queries" for q in mix if q not in registered]
        if len(set(mix)) != len(mix):
            failures.append(f"{name}: a query is listed twice")
        failures += [f"{name}: {q} has no committed fingerprint" for q in mix if q not in prints]
        failures += [f"{name}: the fingerprint of {q} records an error" for q in mix
                     if "error" in prints.get(q, {})]
        orders = {seed: [tuple(o) for o in d["orders"][str(seed)]] for seed in SEEDS}
        failures += [f"{name}: seed {seed} pass {i} does not run the mix exactly once"
                     for seed, passes in orders.items() for i, o in enumerate(passes)
                     if sorted(o) != sorted(mix)]
        failures += [f"{name}: pass {i} has the same order for every seed"
                     for i in range(PASSES) if len({orders[s][i] for s in SEEDS}) < 2]
    declared = {m["name"] for m in bench["end_to_end"] + bench["per_layer"]}
    end_to_end = {m["name"] for m in bench["end_to_end"]}
    if set(manifest["workloads"]) != {w["name"] for w in bench["workloads"]}:
        failures.append("workloads.json and BENCHMARK.json name different workloads")
    for row in manifest["layers"]:
        for m in row["metrics"]:
            if m not in declared:
                failures.append(f"layer {row['layer']}: {m} is not a declared metric")
        if row["moves"] not in end_to_end:
            failures.append(f"layer {row['layer']}: {row['moves']} is not an end-to-end metric")
    for f in failures:
        print("FAIL", f)
    print(f"selftest: {len(failures)} failures over {len(manifest['workloads'])} workloads")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
