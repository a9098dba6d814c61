#!/usr/bin/env python3
"""Build the program and the benchmark client, run one workload, print metrics.

Usage (from the repository root):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads are defined in perfbench/workloads.json; perfbench/README.md
describes them, the metrics and the traced run. The last line of stdout is
one JSON object: {"correct", "attempted", "failed", "metrics"}.

Everything the run writes lives under .bench_build/ in the repository root:
the compiled classes (rebuilt only when a source changes) and a per-run
directory (warehouse, zones, scratch, temp files) that is deleted afterwards.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
DEADLINE_S = 170.0
HEAP = "3g"
RECONCILE_TOLERANCE = 0.05
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg, code=1):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("SPARK_HOME must point at a Spark 4.1 / Scala 2.13 distribution", 2)
    return os.path.join(home, "jars")


def java_bin():
    jh = os.environ.get("JAVA_HOME")
    return os.path.join(jh, "bin", "java") if jh else "java"


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    res = sorted(p for p in glob.glob(os.path.join(ROOT, "src/main/resources/**"), recursive=True)
                 if os.path.isfile(p))
    harness = sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))
    return prog, res, harness


def scalac(jars, out, classpath, files, log):
    os.makedirs(out)
    cmd = [java_bin(), "-XX:-UsePerfData", "-Xss16m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-classpath", os.pathsep.join(classpath + [os.path.join(jars, "*")])] + files
    with open(log, "ab") as lf:
        r = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        sys.stderr.write(open(log, errors="replace").read()[-4000:])
        fail("compilation failed")


def build(jars):
    """Compile the program and the client with the Scala compiler that ships
    with Spark; reuse the classes while no source file changes."""
    prog, res, harness = sources()
    if not prog or not harness:
        fail("no program sources under src/main/scala (run from the repository root)", 2)
    h = hashlib.sha256()
    for p in prog + res + harness:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(BUILD)
    log = os.path.join(BUILD, "build.log")
    program, client = os.path.join(BUILD, "program"), os.path.join(BUILD, "client")
    scalac(jars, program, [], prog, log)
    for p in res:
        dst = os.path.join(program, os.path.relpath(p, os.path.join(ROOT, "src/main/resources")))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    scalac(jars, client, [program], harness, log)
    with open(stamp_file, "w") as f:
        f.write(stamp)


def child_env(run_dir):
    """The environment minus every program knob; the scratch root is pinned
    to the run directory."""
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("SPARK_GRAFT_", "GRAFT_")) and k != "SPARK_LOCAL_DIRS"}
    env["GRAFT_SCRATCH_DIR"] = os.path.join(run_dir, "scratch")
    return env


def jvm(jars, run_dir, args):
    cp = os.pathsep.join([os.path.join(BUILD, "client"), os.path.join(BUILD, "program"),
                          os.path.join(jars, "*")])
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # -XX:-UsePerfData: the JVM would otherwise write its counters under /tmp
    return ([java_bin(), "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}"] + opens +
            [f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}", "-cp", cp, "perfbench.Main"] + args)


def launch(cmd, env, log, deadline):
    """Runs one JVM to completion; returns its spawn time (epoch s)."""
    with open(log, "ab") as lf:
        t0 = time.time()
        p = subprocess.Popen(cmd, env=env, stdout=lf, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"run exceeded {DEADLINE_S:.0f} s; log tail:\n" + tail(log))
    if rc != 0:
        fail(f"JVM exited with {rc}; log tail:\n" + tail(log))
    return t0


def tail(log, n=40):
    with open(log, errors="replace") as f:
        return "".join(f.readlines()[-n:])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    deadline = time.monotonic() + DEADLINE_S

    with open(os.path.join(HERE, "workloads.json")) as f:
        workloads = json.load(f)
    if a.workload not in workloads:
        fail(f"unknown workload {a.workload!r}; known: {', '.join(workloads)}", 2)
    wl = workloads[a.workload]
    jars = spark_jars()
    build(jars)

    run_dir = os.path.join(ROOT, ".bench_build", "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "scratch"):
        os.makedirs(os.path.join(run_dir, d))
    try:
        result = run(a, wl, jars, run_dir, deadline)
        spans = os.path.join(run_dir, "spans.jsonl")
        if os.path.exists(spans):
            traces = os.path.join(ROOT, ".bench_build", "traces")
            os.makedirs(traces, exist_ok=True)
            result["spans"] = os.path.join(traces, f"{a.workload}-seed{a.seed}.jsonl")
            shutil.move(spans, result["spans"])
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    report(a, result)


def run(a, wl, jars, run_dir, deadline):
    cores = str(min(len(os.sched_getaffinity(0)), 4))  # local[min(nproc, 4)]
    env = child_env(run_dir)
    log = os.path.join(run_dir, "jvm.log")
    gate_file, sf_dir = "-", "-"
    if wl.get("gates"):
        sf_dir = os.environ.get("PERFBENCH_SF_DIR", os.path.expanduser("~/testdata/sf0.1"))
        if not os.path.isfile(os.path.join(sf_dir, "lineitem.parquet")):
            fail(f"sf0.1 test data not found at {sf_dir} (set PERFBENCH_SF_DIR)", 2)
        with open(os.path.join(HERE, "expected_counts.json")) as f:
            counts = json.load(f)["counts"]
        gate_file = os.path.join(run_dir, "gates.tsv")
        with open(gate_file, "w") as f:
            f.writelines(f"{g}\t{counts[g]['rows']}\n" for g in wl["gates"])

    args = [a.workload, str(a.seed), str(a.seconds), str(a.trace), sf_dir, gate_file]
    out = os.path.join(run_dir, "result.json")
    t0 = launch(jvm(jars, run_dir, ["run", run_dir, cores, out] + args + ["0"]), env, log, deadline)
    with open(out) as f:
        rec = json.load(f)
    # set-up time is JVM spawn until the session is ready. A workload with
    # "cold_probe" starts one more fresh JVM, in a directory of its own,
    # after the measured one: it sets up and runs the cold pass only, and
    # setup_s and cold_s are the medians over both JVMs. A traced run reports
    # neither and starts no probe.
    setups, colds = [rec["ready_epoch_s"] - t0], [rec["e2e"]["cold_s"]]
    if wl.get("cold_probe") and not a.trace:
        probe = os.path.join(run_dir, "probe")
        for d in ("tmp", "scratch"):
            os.makedirs(os.path.join(probe, d))
        out = os.path.join(probe, "result.json")
        t0 = launch(jvm(jars, probe, ["run", probe, cores, out] + args + ["1"]),
                    child_env(probe), log, deadline)
        with open(out) as f:
            p = json.load(f)
        setups.append(p["ready_epoch_s"] - t0)
        colds.append(p["cold_s"])
        rec["attempted"] += p["attempted"]
        rec["failed"] += p["failed"]
        rec["errors"] += p["errors"]
    rec["setups"], rec["colds"] = setups, colds
    rec["e2e"]["cold_s"] = statistics.median(colds)
    return rec


def units(kind):
    """Metric name -> unit, for "end_to_end" or "per_layer", from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def report(a, rec):
    e2e = dict(rec["e2e"], setup_s=statistics.median(rec["setups"]))
    correct = rec["failed"] == 0
    print(f"perfbench {a.workload} seed={a.seed} seconds={a.seconds:g} trace={a.trace}")
    print("session: " + " ".join(f"{k}={v}" for k, v in sorted(rec["confs"].items())))
    if rec["shares"]:
        print("inputs: " + " ".join(f"{k}={v}" for k, v in rec["shares"].items()))
    print(f"ops: {rec['attempted']} attempted, {rec['failed']} failed "
          f"(fail_frac {rec['failed'] / rec['attempted']:.4f}); steady: {rec['steady_ops']} ops "
          f"over {rec['steady_passes']} pass(es); op_tail_s is p{rec['tail_pct']:g}")
    for err in rec["errors"]:
        print(f"  wrong: {err}")
    e2e_units = units("end_to_end")
    for k, u in e2e_units.items():
        print(f"  {k:<12} {e2e[k]:12.4f} {u}" + (
            f"   (setups {', '.join(f'{s:.3f}' for s in rec['setups'])})" if k == "setup_s" else
            f"   (cold passes {', '.join(f'{s:.3f}' for s in rec['colds'])})" if k == "cold_s" else ""))
    if a.trace:
        tr = rec["trace"]
        layer_units = units("per_layer")
        metrics = dict(tr["per_layer"])
        for layer, v in tr["self_s"].items():
            metrics[f"self.{layer}_s"] = v
        metrics["trace.overhead_frac"] = tr["overhead_frac"]
        metrics["trace.reconcile_frac"] = tr["reconcile_worst_frac"]
        print(f"layer self time ({tr['unit']}, traced ops {tr['traced_ops']}):")
        total = sum(tr["self_s"].values())
        for layer, v in sorted(tr["self_s"].items(), key=lambda kv: -kv[1]):
            print(f"  {layer:<10} {v:10.4f} s  {100 * v / total if total else 0:5.1f}%")
        print(f"tracing overhead: {tr['overhead_frac']:+.4f} (traced {tr['traced_unit_s']:.4f} s vs "
              f"untraced {tr['untraced_unit_s']:.4f} s {tr['unit']})")
        ok = tr["reconcile_worst_frac"] <= RECONCILE_TOLERANCE
        print(f"reconciliation: worst operation's layer sum is off its wall time by "
              f"{tr['reconcile_worst_frac']:.4f} (tolerance {RECONCILE_TOLERANCE}): "
              f"{'within' if ok else 'OUTSIDE'}; spans in {rec['spans']}")
        if not ok:
            sys.stderr.write("perfbench: layer self times do not reconcile with operation wall time\n")
            correct = False
        for k in sorted(layer_units):
            print(f"  {k:<28} {metrics.get(k, 0.0):16.4f} {layer_units[k]}")
        out = {k: {"value": float(metrics.get(k, 0.0)), "unit": u} for k, u in layer_units.items()}
    else:
        out = {k: {"value": float(e2e[k]), "unit": u} for k, u in e2e_units.items()}
    print(json.dumps({"correct": correct, "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": out}))


if __name__ == "__main__":
    main()
