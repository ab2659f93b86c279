"""The benchmark's one command.

    python3 perfbench/run.py --workload elt_lifecycle --seed 1 --seconds 3 --trace 0

Builds the engine and the benchmark program from source (perfbench/build.py),
runs one workload in one JVM (perfbench.Main: a closed loop, one client
thread, a Spark session on local[N] with N = the CPUs available), checks
every output, and prints as its last stdout line one JSON object:
{"correct", "attempted", "failed", "metrics"} — the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. The full record (every
metric plus the raw counts) is written to <build dir>/records/.

One option beyond the four above: --gates a,b,c (the gates of
--workload operator_gates, a gates-only mode for stage records).
After a deliberate change of a gate's result, edit expected/gates.json by
hand from the digest a failing run logs.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import metrics  # noqa: E402

EXPECTED = os.path.join(HERE, "expected", "gates.json")
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def run_jvm(cp, args, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file outside the work directory
    cmd = (["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Djava.awt.headless=true"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join(cp), "perfbench.Main"] + args)
    with open(os.path.join(work, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True, cwd=work)
        # the JVM runs in its own process group: stop it with this process
        signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def check_gates(record):
    """Each gate's digest against the committed one; returns failures."""
    outputs = record["outputs"]
    expected = json.load(open(EXPECTED))
    failed = 0
    for g, ds in outputs.items():
        for d in ds:
            if d != expected.get(g):
                log(f"perfbench: gate {g} digest {d} != expected {expected.get(g)}")
                failed += 1
    return sum(len(ds) for ds in outputs.values()), failed


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--gates")
    a = ap.parse_args()

    cp = build.build()
    out_dir = build.build_dir()
    work = os.path.join(out_dir, "work", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    raw = os.path.join(work, "record.json")
    cpus = len(os.sched_getaffinity(0))
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cpus", str(cpus), "--work", work, "--out", raw]
    if a.gates:
        args += ["--gates", a.gates]
    try:
        code = run_jvm(cp, args, work)
        if code != 0 or not os.path.exists(raw):
            with open(os.path.join(work, "jvm.log")) as fh:
                log("".join(fh.readlines()[-40:]))
            raise SystemExit(f"perfbench: benchmark JVM failed (exit {code})")
        record = json.load(open(raw))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted, failed = metrics.counts(record)
    g_attempted, g_failed = check_gates(record)
    attempted += g_attempted
    failed += g_failed
    e2e = metrics.end_to_end(record)
    layers = metrics.per_layer(record)
    layers["ops_failed_frac"] = failed / attempted  # gate checks included

    rec_dir = os.path.join(out_dir, "records")
    os.makedirs(rec_dir, exist_ok=True)
    with open(os.path.join(rec_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as fh:
        json.dump({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                   "attempted": attempted, "failed": failed,
                   "end_to_end": e2e, "per_layer": layers,
                   "failed_checks": [c for c in record["checks"] if not c["ok"]]},
                  fh, indent=1)
    for name, unit, _ in metrics.END_TO_END:
        log(f"{name:>40} {e2e[name]:14.4f} {unit}")
    if a.trace:
        for name, unit, _ in metrics.PER_LAYER:
            if layers[name]:
                log(f"{name:>40} {layers[name]:14.4f} {unit}")
    table = metrics.END_TO_END if a.trace == 0 else metrics.PER_LAYER
    values = e2e if a.trace == 0 else layers
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {n: {"value": values[n], "unit": u} for n, u, _ in table}}))


if __name__ == "__main__":
    main()
