#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload olap_read --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload all --seed 1          # every workload
    python3 perfbench/run.py --workload all --seed 1 --trace 1 # traced, with overhead

Run from the root of a checkout. The first run compiles the engine sources
(src/main/scala) together with the harness (perfbench/src) with sbt into
.bench_build/, and generates the input tables there; later runs reuse both
until a source file or the generator changes.

The last line of standard output is one JSON object with `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics of
BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1. The line
before it is the run's full artifact (every metric, load signal, session
confs). A run that cannot build or finish exits non-zero without a result.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
SPEC = os.path.join(ROOT, "BENCHMARK.json")
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/jdk.internal.ref", "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
DEFAULT_SF = 0.01
TIME_UNITS = ("ms", "s")
RUN_LIMIT_S = 175
# a fixed heap: a growing one makes GC timing, and so latency, vary by run
HEAP = "3g"


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def tree_hash(paths):
    h = hashlib.sha256()
    for base in paths:
        if os.path.isfile(base):
            files = [base]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles engine + harness unless the sources are unchanged."""
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine):
        raise BenchError(f"no engine sources at {engine}")
    if not os.environ.get("SPARK_HOME"):
        raise BenchError("SPARK_HOME is not set")
    stamp = os.path.join(BUILD, "build.stamp")
    key = tree_hash([engine, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
                     os.path.join(HERE, "project", "build.properties")])
    classes = os.path.join(BUILD, "classes")
    if os.path.isdir(classes) and os.path.exists(stamp) and open(stamp).read() == key:
        return classes
    os.makedirs(BUILD, exist_ok=True)
    log("compiling engine and harness with sbt")
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.server.forcestart=false",
                             "-Dsbt.log.noformat=true", "compile"],
                            cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=800).returncode
    if rc != 0:
        raise BenchError(f"build failed, see {os.path.join(BUILD, 'build.log')}")
    with open(stamp, "w") as f:
        f.write(key)
    return classes


def data(sf):
    """Generates the input tables for scale factor `sf` unless present."""
    out = os.path.join(BUILD, "data", f"sf{sf}")
    stamp = os.path.join(out, "gen.stamp")
    key = tree_hash([os.path.join(HERE, "gen_data.py")]) + f"/{sf}"
    if os.path.exists(stamp) and open(stamp).read() == key:
        return out
    shutil.rmtree(out, ignore_errors=True)
    subprocess.run([sys.executable, os.path.join(HERE, "gen_data.py"), out, "--sf", str(sf)],
                   check=True)
    with open(stamp, "w") as f:
        f.write(key)
    return out


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 4


def run_jvm(classes, argv, scratch, deadline, main="perfbench.Main"):
    """Runs `main` with `argv`; kills it at `deadline`."""
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    jars = os.path.join(os.environ["SPARK_HOME"], "jars", "*")
    # no hsperfdata: the JVM would write it under the system temp dir
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData"]
    cmd += [f"--add-opens={p}=ALL-UNNAMED" for p in JVM_OPENS]
    cmd += [f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={os.path.join(scratch, 'derby')}",
            "-Dspark.ui.enabled=false", "-cp", f"{classes}{os.pathsep}{jars}", main]
    logf = os.path.join(scratch, "jvm.log")
    with open(logf, "w") as out:
        p = subprocess.Popen(cmd + argv, cwd=scratch, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise BenchError("run exceeded its time limit")
    if rc != 0:
        with open(logf) as f:
            tail = f.read()[-3000:]
        raise BenchError(f"benchmark JVM exited with {rc}:\n{tail}")


def cpu_times():
    """(steal, total) jiffies of all CPUs; steal is time the host gave away."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7] if len(v) > 7 else 0, sum(v[:8])
    except OSError:
        return 0, 0


def box_reference():
    with open(os.path.join(HERE, "box_reference.json")) as f:
        return json.load(f)


def spec():
    with open(SPEC) as f:
        return json.load(f)


def run_one(args, classes, datadir):
    """One workload run, killed after RUN_LIMIT_S seconds; returns its
    artifact (a dict)."""
    scratch = os.path.join(BUILD, f"run-{os.getpid()}-{args.workload}")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    out = os.path.join(scratch, "result.json")
    golden = os.path.join(HERE, "golden", f"sf{args.sf}.tsv")
    cpu0 = cpu_times()
    try:
        run_jvm(classes, ["--workload", args.workload, "--seed", str(args.seed),
                          "--seconds", str(args.seconds), "--trace", str(args.trace),
                          "--data", datadir, "--root", scratch, "--out", out,
                          "--cores", str(cores()),
                          "--golden", golden if os.path.exists(golden) else ""],
                scratch, time.time() + RUN_LIMIT_S)
        with open(out) as f:
            art = json.load(f)
        spans = out + ".spans.jsonl"
        results = os.path.join(BUILD, "results")
        os.makedirs(results, exist_ok=True)
        stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
        if os.path.exists(spans):
            shutil.copy(spans, os.path.join(results, stem + ".spans.jsonl"))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    cpu1 = cpu_times()
    art["golden"] = os.path.basename(golden) if os.path.exists(golden) else None
    ref = box_reference()
    box = art["box"]
    box["quiet_probe_ms"] = ref["probe_ms"]
    box["steal_frac"] = (cpu1[0] - cpu0[0]) / max(1, cpu1[1] - cpu0[1])
    box["contended"] = (max(box["probe_before_ms"], box["probe_after_ms"])
                        > ref["probe_ms"] * ref["contended_factor"]
                        or box["steal_frac"] > ref["steal_frac"])
    if box["contended"]:
        log(f"box contended: probe {box['probe_before_ms']:.1f}/{box['probe_after_ms']:.1f} ms "
            f"vs quiet {ref['probe_ms']} ms, steal {box['steal_frac']:.1%}")
    if args.trace:
        base = os.path.join(results, f"{args.workload}-seed{args.seed}-trace0.json")
        if os.path.exists(base):
            with open(base) as f:
                plain = json.load(f)["end_to_end"]
            traced = art["end_to_end"]
            art["tracing_overhead"] = {
                k: traced[k]["value"] / plain[k]["value"] - 1.0
                for k in ("op_p50_ms", "op_p80_ms", "ops_per_s")
                if plain.get(k, {}).get("value")}
    with open(os.path.join(results, stem + ".json"), "w") as f:
        json.dump(art, f, indent=1)
    return art


def result_line(art, trace):
    s = spec()
    if trace:
        names = [(m["name"], m["unit"]) for m in s["per_layer"]]
        src = art["per_layer"]
        # a count of a layer the workload never touches (icelite files on
        # olap_read) is a true 0; a missing time is a harness bug
        missing = [n for n, u in names if n not in src and u in TIME_UNITS]
        if missing:
            raise BenchError(f"traced run lacks per-layer metrics {missing}")
        metrics = {n: {"value": src.get(n, 0), "unit": u} for n, u in names}
    else:
        e2e = art["end_to_end"]
        missing = [m["name"] for m in s["end_to_end"] if e2e.get(m["name"], {}).get("value") is None]
        if missing:
            raise BenchError(f"run lacks end-to-end metrics {missing}")
        metrics = {m["name"]: {"value": e2e[m["name"]]["value"], "unit": m["unit"]}
                   for m in s["end_to_end"]}
    return {"correct": art["correct"] is True, "attempted": int(art["attempted"]),
            "failed": int(art["failed"]), "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf", type=float, default=DEFAULT_SF, help="input scale factor")
    args = ap.parse_args()
    if args.seconds is None:
        args.seconds = spec()["run_seconds"]
    try:
        classes = build()
        datadir = data(args.sf)
        if args.workload != "all":
            art = run_one(args, classes, datadir)
            print(json.dumps(art, separators=(",", ":")))
            print(json.dumps(result_line(art, args.trace), separators=(",", ":")))
            return 0
        for w in [w["name"] for w in spec()["workloads"]]:
            args.workload = w
            for trace in ([0, 1] if args.trace else [0]):
                args.trace = trace
                art = run_one(args, classes, datadir)
                print(f"== {w} trace={trace} correct={art['correct']} "
                      f"attempted={art['attempted']} failed={art['failed']} "
                      f"contended={art['box']['contended']}")
                for k, v in art["end_to_end"].items():
                    print(f"  {k:<22} {v['value']:>14.4f} {v['unit']}")
                for k, v in art["detail"].items():
                    print(f"  {k:<22} {v['value']:>14.4f} {v['unit']}")
                if trace:
                    for k, v in sorted(art["per_layer"].items()):
                        print(f"  {k:<40} {v:>14.4f}")
                    for k, v in art.get("tracing_overhead", {}).items():
                        print(f"  tracing_overhead.{k:<22} {100 * v:>+8.1f} %")
        return 0
    except (BenchError, subprocess.SubprocessError, OSError, KeyError, ValueError) as e:
        log(f"error: {e}")
        return 2


if __name__ == "__main__":
    sys.exit(main())
