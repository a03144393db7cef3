"""Smoke test of the benchmark itself: every workload at sf0.001, untraced
and traced. Checks that the last stdout line parses, that it carries
exactly the BENCHMARK.json metrics with their units and valid names,
that no operation failed, and that the command refuses to run without
graft's sources.

    python3 perfbench/test_smoke.py
"""
import json
import re
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def run(cwd, workload, trace):
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", "1", "--seconds", "2", "--trace", str(trace),
                        "--smoke"], cwd=cwd, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True, timeout=180)
    return r.returncode, r.stdout.strip().splitlines()


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    problems = []
    for m in spec["end_to_end"] + spec["per_layer"]:
        if not NAME.match(m["name"]):
            problems.append(f"bad metric name {m['name']}")
    for w in spec["workloads"]:
        for trace, wanted in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            rc, lines = run(ROOT, w["name"], trace)
            tag = f"{w['name']} trace={trace}"
            if rc != 0 or not lines:
                problems.append(f"{tag}: exit {rc}")
                continue
            res = json.loads(lines[-1])
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{tag}: keys {sorted(res)}")
            if res["correct"] is not True or res["failed"] != 0 or res["attempted"] < 1:
                problems.append(f"{tag}: correct={res['correct']} "
                                f"attempted={res['attempted']} failed={res['failed']}")
            want = {m["name"]: m["unit"] for m in wanted}
            got = {k: v.get("unit") for k, v in res["metrics"].items()}
            if got != want:
                problems.append(f"{tag}: metrics differ from BENCHMARK.json: "
                                f"{sorted(set(got) ^ set(want))}")
            detail = HERE.parent / ".bench_build" / "perfbench" / "last" / \
                f"{w['name']}-trace{trace}.json"
            emitted = set(json.loads(detail.read_text())["metrics"])
            if emitted != set(want):
                problems.append(f"{tag}: the JVM emits names not in BENCHMARK.json: "
                                f"{sorted(emitted ^ set(want))}")
            if not all(isinstance(v.get("value"), (int, float))
                       for v in res["metrics"].values()):
                problems.append(f"{tag}: a metric value is not a number")
            print(f"[smoke] {tag}: done, {len(problems)} problem(s) so far")

    bare = ROOT / ".bench_build" / "perfbench" / "bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    try:
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        shutil.copytree(HERE, bare / "perfbench",
                        ignore=shutil.ignore_patterns("__pycache__"))
        rc, lines = run(bare, spec["workloads"][0]["name"], 0)
        if rc == 0 or lines:
            problems.append(f"without graft's sources: exit {rc}, output {lines}")
    finally:
        shutil.rmtree(bare)

    for p in problems:
        print(f"[smoke] FAIL {p}")
    print(f"[smoke] {'FAILED' if problems else 'passed'}")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
