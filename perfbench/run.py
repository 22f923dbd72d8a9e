#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload search_mix --seed 1 --seconds 5 --trace 0

Builds the library and the benchmark from source (see build.py), runs one
JVM at local[<cores>] with one client thread in a closed loop, checks every
answer, and prints a readable report followed, as the last line, by one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end metrics of BENCHMARK.json; with --trace 1
they are its per-layer metrics. The full record of the run (every metric,
per-op latencies, input digests, host counters, spans) is written to
.bench_out/<workload>-seed<seed>-trace<t>.json.
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402
import compare  # noqa: E402

WORKLOADS = ("search_mix", "write_mix")
DEADLINE_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def metric_specs():
    """(end_to_end, per_layer) metric lists from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec["end_to_end"], spec["per_layer"]


def jvm(jar, jars, work, args):
    """The benchmark JVM's command line."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # no hsperfdata file in the system temp dir: a run writes only inside
    # the checkout
    return (["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData",
             "-XX:+UnlockDiagnosticVMOptions", "-XX:-BytecodeVerificationRemote"]
            + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
            + ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"), "-Dderby.system.home=" + work,
               "-cp", jar + os.pathsep + os.path.join(jars, "*"), "perfbench.Main",
               "--work", work, "--cores", str(len(os.sched_getaffinity(0))), *args])


def class_archive(jar, jars):
    """The class-data-sharing archive of the build: the classes a short
    untimed `write_mix` run loads, dumped once per build. Every measured
    JVM maps it (`-Xshare:on`), which takes several seconds off its cold
    start; a run fails if the archive cannot be made or mapped, so there is
    no second start-up path."""
    jsa = jar[:-len(".jar")] + ".jsa"
    if not os.path.exists(jsa):
        work = os.path.join(ROOT, ".bench_work", f"train-{os.getpid()}")
        try:
            subprocess.run(["java", "-XX:ArchiveClassesAtExit=" + jsa + ".tmp"]
                           + jvm(jar, jars, work,
                                 ["--workload", "write_mix", "--seed", "1", "--seconds", "0",
                                  "--trace", "0", "--scale", "0.05", "--corrupt", "0",
                                  "--out", os.path.join(work, "train.json")])[1:],
                           stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, cwd=ROOT,
                           timeout=600, check=True)
        except (subprocess.CalledProcessError, subprocess.TimeoutExpired) as e:
            raise build.BuildError(f"class archive training run failed: {e}")
        finally:
            shutil.rmtree(work, ignore_errors=True)
        if not os.path.exists(jsa + ".tmp"):
            raise build.BuildError("class archive training run wrote no archive")
        os.rename(jsa + ".tmp", jsa)
    return jsa


def run_jvm(a, work, out):
    jar, jars = build.build()
    jsa = class_archive(jar, jars)
    cmd = jvm(jar, jars, work,
              ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
               "--trace", str(a.trace), "--out", out, "--scale", str(a.scale),
               "--corrupt", "1" if a.corrupt else "0"])
    cmd[1:1] = ["-Xshare:on", "-XX:SharedArchiveFile=" + jsa]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    started = time.time()
    with open(out + ".log", "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                             cwd=work, start_new_session=True)
        try:
            p.wait(timeout=max(10, DEADLINE_S - (time.time() - started)))
        except subprocess.TimeoutExpired:
            fail(f"run exceeded {DEADLINE_S}s; log at {out}.log")
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if p.returncode != 0:
        with open(out + ".log") as f:
            tail = f.read()[-3000:]
        fail(f"benchmark JVM exited with {p.returncode}:\n{tail}")


def main():
    # a terminated run still stops its JVM (the finally in run_jvm)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="input size factor (tests use 0.05)")
    ap.add_argument("--corrupt", action="store_true",
                    help="corrupt one expected answer; the run must then report a failed op")
    a = ap.parse_args()
    if a.seconds <= 0 or a.scale <= 0:
        fail("--seconds and --scale must be positive")
    try:
        e2e_spec, layer_spec = metric_specs()
    except (OSError, ValueError, KeyError) as e:
        fail(f"cannot read BENCHMARK.json: {e}")

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    out_dir = os.path.join(ROOT, ".bench_out")
    work = os.path.join(ROOT, ".bench_work", f"{tag}-{os.getpid()}")
    os.makedirs(out_dir, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(out_dir, tag + ".json")
    for f in (out, out + ".spans.jsonl"):
        if os.path.exists(f):
            os.remove(f)
    try:
        run_jvm(a, work, out)
    except build.BuildError as e:
        fail(f"build failed: {e}")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    with open(out) as f:
        rec = json.load(f)
    values = dict(rec["e2e"])
    values.update(rec["layer"])
    spec = layer_spec if a.trace else e2e_spec
    for m in e2e_spec + layer_spec:
        if m["name"] in values:
            print(f"{m['name']:42s} {values[m['name']]:14.4f} {m['unit']}")
    for kind, s in sorted(rec["ops"].items()):
        print(f"op {kind:12s} n={s['n']:4d} p50={s['p50_ms']:10.2f} ms p90={s['p90_ms']:10.2f} ms")
    for tag, s in sorted(rec["shapes"].items(), key=lambda kv: int(kv[0].split(":")[0])):
        split = (f" floor={s['floor_ms']:8.1f} ms exec={s['exec_ms']:8.1f} ms"
                 if "exec_ms" in s else "")
        print(f"shape {tag:9s} hits={s['hits']:6.0f} p50={s['p50_ms']:8.1f} ms{split}")
    print("set-up runs " + ", ".join(f"{x:.2f}" for x in rec["setup_runs_s"]) + " s;"
          f" peak_rss_mb {rec['e2e']['peak_rss_mb']:.1f} MB;"
          f" failed_frac {rec['e2e']['failed_frac']:.4f}"
          f" ({rec['failed']}/{rec['attempted']}); inputs {json.dumps(rec['inputs'], sort_keys=True)}")
    for msg in rec["failures"]:
        print("FAILED:", msg)
    untraced = os.path.join(out_dir, f"{a.workload}-seed{a.seed}-trace0.json")
    if a.trace and os.path.exists(untraced):
        base = compare.load(untraced)
        if compare.identity(base) == compare.identity(rec):
            for m in e2e_spec:
                d = rec["e2e"][m["name"]] - base["e2e"][m["name"]]
                print(f"tracing overhead {m['name']:26s} {d:+14.4f} {m['unit']}")
    metrics = {}
    for m in spec:
        v = values.get(m["name"])
        if v is None or not math.isfinite(v):
            fail(f"metric {m['name']} missing from the run record {out}")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(json.dumps({"correct": rec["failed"] == 0, "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
