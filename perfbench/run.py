"""graft benchmark: one command, two workloads, one JSON result line.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. It builds graft and the benchmark from
source (perfbench/build.py), generates the workload's corpus
(perfbench/gen_corpus.py), runs the JVM side (graft.perfbench.Main) with
the seed that orders tables and keys, and prints, as the last line of
stdout,

    {"correct": .., "attempted": .., "failed": .., "metrics": {name: {"value", "unit"}}}

with every end-to-end metric of BENCHMARK.json (--trace 0) or every
per-layer metric (--trace 1). Everything else goes to stderr; the full
record of the run (samples, host stamps, failures, leftovers) is written
to .bench_build/perfbench/last/<workload>-trace<t>.json.

--smoke runs the workload at sf0.001, for the benchmark's own test
(perfbench/test_smoke.py).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402

ROOT = HERE.parent
OUT = build.OUT
# the JVM side must end within this many seconds (the build is not counted)
JVM_DEADLINE_S = 170

# workload -> scale factor of its generated corpus
SCALE = {"migrate_csv": 0.02, "board": 0.01}
SMOKE_SCALE = 0.001
# The corpus is the same for every run, generated with this seed as the
# test fixtures are; --seed permutes the order of tables and keys. A
# per-seed corpus would change the work itself (loop rounds, join and
# filter sizes) from run to run.
CORPUS_SEED = 42

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def host_stamp():
    """nproc, load average and hypervisor steal ticks: context for a
    cross-window shift, never a factor applied to a metric."""
    def read(p):
        try:
            return Path(p).read_text()
        except OSError:
            return ""
    cpu = next((l for l in read("/proc/stat").splitlines()
                if l.startswith("cpu ")), "").split()
    return {"nproc": os.cpu_count(),
            "loadavg": read("/proc/loadavg").strip(),
            "steal_ticks": int(cpu[8]) if len(cpu) > 8 else -1}


def measure(a, java, classpath, corpus, run_dir, jtmp, sf):
    """Run the JVM side once; return its result and the run's record."""
    result = run_dir / "result.json"
    cmd = [java, "-Xms2g", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={jtmp}"] + \
        [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + \
        ["-cp", classpath, "graft.perfbench.Main",
         "--workload", a.workload, "--corpus", str(corpus),
         "--work", str(run_dir), "--seconds", str(a.seconds),
         "--trace", str(a.trace), "--seed", str(a.seed),
         "--result", str(result)]
    before = host_stamp()
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                            cwd=run_dir, start_new_session=True)
    try:
        rc = proc.wait(timeout=JVM_DEADLINE_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail("benchmark JVM timed out", 1)
    after = host_stamp()
    if rc != 0 or not result.is_file():
        fail(f"benchmark JVM exited with {rc}", 1)
    res = json.loads(result.read_text())
    detail = dict(res["detail"], host_before=before, host_after=after,
                  scale_factor=sf, metrics=res["metrics"])
    if detail["leftover_run_dirs"]:
        print(f"[perfbench] run directories left behind: "
              f"{detail['leftover_run_dirs']}", file=sys.stderr)
    spans = result.with_name(result.name + ".spans.jsonl")
    if spans.is_file():
        shutil.copy(spans, OUT / "last" / f"{a.workload}-spans.jsonl")
    return res, detail


def main():
    ap = argparse.ArgumentParser(description="graft benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()

    spec_file = ROOT / "BENCHMARK.json"
    if not spec_file.is_file() or not build.PROGRAM_SRC.is_dir():
        fail(f"run from a graft checkout: needs {spec_file} and {build.PROGRAM_SRC}")
    spec = json.loads(spec_file.read_text())
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")
    wanted = spec["per_layer" if a.trace else "end_to_end"]

    try:
        classpath = build.build()
        java = build.java_bin()
    except build.BuildError as e:
        fail(f"build failed: {e}")

    import gen_corpus
    sf = SMOKE_SCALE if a.smoke else SCALE[a.workload]
    run_dir = OUT / "runs" / f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    jtmp = run_dir / "jtmp"
    jtmp.mkdir(parents=True)
    # the corpus is read-only input, so runs share it; its name changes
    # with the generator's source
    gen_hash = hashlib.sha256(Path(gen_corpus.__file__).read_bytes()).hexdigest()[:12]
    corpus = OUT / f"corpus-sf{sf}-{CORPUS_SEED}-{gen_hash}"
    if not corpus.is_dir():
        staging = run_dir / "corpus"
        gen_corpus.write(gen_corpus.generate(CORPUS_SEED, sf), str(staging))
        staging.rename(corpus)

    (OUT / "last").mkdir(parents=True, exist_ok=True)
    try:
        res, detail = measure(a, java, classpath, corpus, run_dir, jtmp, sf)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    (OUT / "last" / f"{a.workload}-trace{a.trace}.json").write_text(
        json.dumps(detail, indent=1) + "\n")
    metrics = {}
    for m in wanted:
        v = res["metrics"].get(m["name"])
        if v is None:
            fail(f"metric {m['name']} was not measured", 1)
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
