#!/usr/bin/env python3
"""graft benchmark: the tail -> Kinesis forwarding job and the analytics
catalog, measured end to end, with a separate traced run per layer.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first run builds the program
and the harness from source into $CARGO_TARGET_DIR (default
.bench_build); later runs reuse the build while the sources are
unchanged. Inputs are generated from --seed under .bench_work/<workload>/,
which is removed afterwards; traces stay in .bench_work/traces/.

Workloads and their parameters live in perfbench/workloads.json; metric
names, units and bounds in BENCHMARK.json. The last stdout line is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1). A correctness failure prints the line with "correct": false
and exits 1; any other failure exits non-zero without a result line.
"""
import argparse
import contextlib
import glob
import hashlib
import importlib.util
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

DEADLINE_S = 170  # a run must finish within 180 s, building aside
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def steady_windows(trace):
    """Open-loop windows per run: a traced run brackets its traced window
    with untraced ones (untraced, traced, untraced), so that warming
    across windows does not read as tracing cost."""
    return 3 if trace else 1


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class BenchError(Exception):
    pass


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else the build's unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    with open("build.sbt") as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if m and os.path.isdir(m.group(1)):
        return m.group(1)
    raise BenchError("no Spark jars: set SPARK_HOME")


def build(out):
    """Compiles program + harness unless a build of the same sources exists."""
    sources = sorted(glob.glob("src/main/**/*", recursive=True) +
                     glob.glob("perfbench/src/*.scala") + ["perfbench/build.sh"])
    h = hashlib.sha256()
    for s in sources:
        if os.path.isfile(s):
            h.update(s.encode())
            with open(s, "rb") as f:
                h.update(f.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return os.path.join(out, "classes")
    log(f"building program and harness into {out}")
    os.makedirs(out, exist_ok=True)
    t0 = time.time()
    # its own process group, so that a stopped run stops the compiler too
    proc = subprocess.Popen(["bash", "perfbench/build.sh", out, spark_jars()],
                            stdout=sys.stderr, stderr=sys.stderr, start_new_session=True)
    try:
        rc = proc.wait()
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if rc != 0:
        raise BenchError("build failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return os.path.join(out, "classes")


def java_cmd(classes, work, heap, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", *opens, f"-Xms{heap}", f"-Xmx{heap}", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={work}/tmp",
             "-cp", f"{classes}:{spark_jars()}/*", "perfbench.PerfBench"] +
            [f"{k}={v}" for k, v in args.items()])


class Jvm:
    """The benchmark JVM as a child process, logging to <work>/jvm-<tag>.log."""

    def __init__(self, cmd, work, tag, deadline):
        self.log_path = os.path.join(work, f"jvm-{tag}.log")
        self.log_file = open(self.log_path, "w")
        self.deadline = deadline
        self.proc = subprocess.Popen(cmd, stdout=self.log_file, stderr=subprocess.STDOUT,
                                     stdin=subprocess.DEVNULL)

    def alive(self):
        if time.time() > self.deadline:
            raise BenchError("run exceeded its time limit")
        return self.proc.poll() is None

    def wait(self):
        try:
            rc = self.proc.wait(timeout=max(1.0, self.deadline - time.time()))
        except subprocess.TimeoutExpired:
            raise BenchError("run exceeded its time limit")
        if rc != 0:
            raise BenchError(f"benchmark JVM exited {rc}")

    def stop(self):
        if self.proc.poll() is None:
            self.proc.kill()
        self.proc.wait()
        self.log_file.close()

    def tail(self, n=40):
        with open(self.log_path, errors="replace") as f:
            return "".join(f.readlines()[-n:])


def generate(name, wl, seed, trace, work):
    """Writes the run's inputs under work/."""
    t0 = time.time()
    if name.startswith("tail-"):
        gen.write_backlog(f"{work}/warmup", seed, gen.WARMUP_LINES, wl["files"],
                          wl["zipf_s"], "warmup")
    if name == "tail-backfill":
        gen.write_backlog(f"{work}/backlog", seed, wl["lines"], wl["files"],
                          wl["zipf_s"], "backlog")
    if name == "tail-steady":
        for w in range(steady_windows(trace)):
            gen.steady_files(f"{work}/steady-{w}", wl["files"])
    if name == "catalog-scale":
        gen.write_catalog(f"{work}/warm", seed, 1, wl["warm_frac"])
        gen.write_catalog(f"{work}/data", seed, wl["slices"])
    if trace:
        gen.write_backlog(f"{work}/replay", seed, 100000, 1, 1.0, "replay")
        os.rename(f"{work}/replay/svc-00.log", f"{work}/replay.log")
    log(f"inputs generated in {time.time() - t0:.1f} s")


def drive_open_loop(jvm, wl, seed, seconds, trace, work):
    """Runs the steady generator for each window the JVM opens."""
    facts = []
    for w in range(steady_windows(trace)):
        ready = f"{work}/ready-{w}"
        while not os.path.exists(ready):
            if not jvm.alive():
                raise BenchError("JVM exited before the open loop started")
            time.sleep(0.005)
        lines, late = gen.run_open_loop(f"{work}/steady-{w}", seed, w, wl["rate"],
                                        gen.LEAD_IN_S + seconds, wl["files"], wl["zipf_s"])
        with open(f"{work}/done-{w}.tmp", "w") as f:
            f.write(str(lines))
        os.rename(f"{work}/done-{w}.tmp", f"{work}/done-{w}")
        p99 = float(late[min(len(late) - 1, int(0.99 * len(late)))])
        facts.append({"lines": lines, "late_p99_ms": p99, "late_max_ms": float(late[-1])})
        log(f"open loop window {w}: {lines} lines, lateness p99 {p99:.2f} ms "
            f"max {late[-1]:.2f} ms")
    return facts


def oracle_check(work, tables):
    """tools/check_oracle.py over the generated tables; returns failures."""
    spec = importlib.util.spec_from_file_location("check_oracle", "tools/check_oracle.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    mod.TABLES = tables
    oracle = json.load(open(f"{work}/verify/oracle_sql.json"))
    with contextlib.redirect_stdout(sys.stderr):
        fails = sum(mod.main(f"{work}/data", f"{work}/verify", frozenset([name])) != 0
                    for name in oracle)
    return fails, len(oracle)


def run(args):
    if not (os.path.isdir("src/main/scala") and os.path.isfile("perfbench/build.sh")):
        raise BenchError("run from the root of a graft checkout (src/main/scala is missing)")
    bench = json.load(open("BENCHMARK.json"))
    conf = json.load(open(os.path.join(HERE, "workloads.json")))
    if args.workload not in conf["workloads"]:
        raise BenchError(f"unknown workload {args.workload}")
    wl = conf["workloads"][args.workload]
    heap = conf["settings"]["heap"]

    out = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    classes = build(out)
    deadline = time.time() + DEADLINE_S

    root = os.path.abspath(".bench_work")
    # A fixed path per workload: file paths order the tail source's tasks,
    # so a path that changed from run to run would reshuffle where the
    # hot file's task lands. One run per workload at a time.
    work = os.path.join(root, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(f"{work}/tmp")
    trace_file = os.path.join(root, "traces", f"{args.workload}-seed{args.seed}.jsonl")
    jvms = []
    try:
        generate(args.workload, wl, args.seed, args.trace, work)
        jargs = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                 "trace": args.trace, "work": work,
                 "windows": steady_windows(args.trace)}
        for k, v in wl.items():
            if isinstance(v, (int, float)):
                jargs[k] = v
            elif isinstance(v, list):
                jargs[k] = ",".join(v)
        if args.trace:
            os.makedirs(os.path.dirname(trace_file), exist_ok=True)
            jargs["trace_file"] = trace_file
        jvm = Jvm(java_cmd(classes, work, heap, jargs), work, "main", deadline)
        jvms.append(jvm)
        facts = []
        try:
            if args.workload == "tail-steady":
                facts = drive_open_loop(jvm, wl, args.seed, args.seconds, args.trace, work)
            jvm.wait()
        except BenchError:
            log("JVM log tail:\n" + jvm.tail())
            raise
        res = json.load(open(f"{work}/result.json"))
        m = res["metrics"]
        attempted, failed = res["attempted"], res["failed"]

        if args.workload == "catalog-scale":
            fails, n = oracle_check(work, gen.TABLES)
            attempted += n
            if fails:
                failed += fails
                res["notes"].append(f"{fails} of {n} queries mismatch the DuckDB oracle")

        if args.trace:
            if facts:
                m["gen.lateness_p99_ms"] = facts[-1]["late_p99_ms"]
                m["gen.lateness_max_ms"] = facts[-1]["late_max_ms"]
            if args.workload == "tail-backfill":
                base = Jvm(java_cmd(classes, work, heap, dict(jargs, workload="baseline-drain",
                                                                 cores=1, trace=0)),
                           work, "baseline", deadline)
                jvms.append(base)
                try:
                    base.wait()
                except BenchError:
                    log("baseline JVM log tail:\n" + base.tail())
                    raise
                b = json.load(open(f"{work}/result.json"))
                m["baseline.drain_lines_per_s_1core"] = b["metrics"]["baseline.drain_lines_per_s_1core"]
                attempted += b["attempted"]
                failed += b["failed"]
                res["notes"] += b["notes"]
            m["check.fail_frac"] = failed / max(1, attempted)
            m["check.dup_frac"] = res["duplicates"] / max(1, attempted)
            with open(trace_file, "a") as f:
                f.write(json.dumps({"kind": "run", "workload": args.workload, "seed": args.seed,
                                    "generator": facts, "notes": res["notes"],
                                    "attempted": attempted, "failed": failed,
                                    "duplicates": res["duplicates"]}) + "\n")
            log(f"trace written to {trace_file}")

        declared = bench["per_layer"] if args.trace else bench["end_to_end"]
        metrics = {}
        for d in declared:
            # a layer the workload does not drive reads 0 (e.g. sink.* on the catalog)
            v = m.get(d["name"], 0.0 if args.trace else None)
            if v is None:
                raise BenchError(f"metric {d['name']} was not measured")
            metrics[d["name"]] = {"value": v, "unit": d["unit"]}
        for note in res["notes"]:
            log(note)
        correct = failed == 0 and res["duplicates"] == 0
        return {"correct": correct, "attempted": attempted, "failed": failed,
                "metrics": metrics}
    finally:
        for j in jvms:
            j.stop()
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    # a terminated run still stops its JVMs and removes its inputs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result = run(args)
    except (BenchError, OSError, ValueError, KeyError) as e:
        log(f"error: {e}")
        sys.exit(2)
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
