#!/usr/bin/env python3
"""Benchmark command: one seeded run of one workload.

    python3 perfbench/run.py --workload interactive|factor_build \
        --seed N --seconds S --trace 0|1

Run from the repository root. Builds the program and the benchmark
client from source (once per source state), generates the seeded
inputs, runs the client JVM on local[4], checks the outputs against
the oracle, and prints one JSON object as the last line of stdout.
With --trace 0 it holds the end-to-end metrics, with --trace 1 the
per-layer ones. Exits non-zero, without that line, when it cannot
build or run; exits 1, with the line, when an output is wrong.

Everything it writes goes under perfbench/.work/ (and the build
outputs sbt keeps in target/ directories).
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(HERE, ".work")
CORES = 4
HEAP = "-Xmx4g"
# a run must end within 180 s, and the first run of a checkout, which
# builds, within 900 s
JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 700

sys.path.insert(0, HERE)
import check  # noqa: E402
import gen  # noqa: E402

END_TO_END = {"setup_s": "s", "op_s": "s", "cpu_s_per_op": "s"}
LAYERS = ["run", "jvm", "setup", "factors", "analytics", "spark", "sources",
          "check", "probe", "plans"]
PER_LAYER = (
    ["spark.optimization_s", "spark.planning_s", "spark.jobs", "spark.stages", "spark.tasks",
     "spark.task_overhead_s", "spark.task_deserialize_s", "spark.no_task_s",
     "spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s",
     "spark.shuffle_write_bytes", "spark.shuffle_read_bytes", "spark.spill_bytes",
     "factors.alpha101_analysis_s", "factors.alpha101_optimize_s", "factors.alpha101_plan_s",
     "factors.alpha101_exec_s", "factors.technical_exec_s", "factors.ema_exec_s",
     "factors.momentum_exec_s", "factors.value_exec_s", "factors.sentiment_exec_s"]
    + [f"plans.{w}_{k}" for w in ("alpha", "entries") for k in
       ("tswindow_ops", "multirank_ops", "window_fallback_ops", "exchanges", "sorts")]
    + ["analytics.entry_build_s", "sources.panel_s"]
    + [f"self.{layer}_s" for layer in LAYERS] + ["trace.attributed_share", "jvm.peak_rss_mb"])
# a timed cycle in which the hypervisor took more than this share of the
# machine's CPU time measures its other guests, not the program
STEAL_SHARE = 0.05
# unit of a per-layer metric by its name's last part; "count" otherwise
UNITS = {"s": "s", "bytes": "B", "row": "B/row", "share": "ratio", "mb": "MB"}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def tree_hash(paths):
    """Digest of the source files under `paths` (relative to ROOT)."""
    h = hashlib.sha256()
    for p in paths:
        full = os.path.join(ROOT, p)
        files = [full] if os.path.isfile(full) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(full) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles the program and the client when their sources changed;
    returns (build key, JVM launch arguments)."""
    bench = os.path.relpath(HERE, ROOT)
    sources = ["build.sbt", "project/build.properties", "src/main",
               f"{bench}/build.sbt", f"{bench}/project/build.properties", f"{bench}/src"]
    if not all(os.path.exists(os.path.join(ROOT, p)) for p in sources):
        fail("run from the repository root of a checkout that holds the program "
             "sources (build.sbt, src/main) and the benchmark")
    key = tree_hash(sources)
    spec = os.path.join(WORK, "build", key[:16], "launch.txt")
    if not os.path.exists(spec):
        env = dict(os.environ, COURSIER_MODE="offline")
        repos = os.path.expanduser("~/.sbt/repositories")
        env["SBT_OPTS"] = " ".join(
            ["-Dsbt.offline=true", "-Xmx2g"]
            + ([f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"]
               if os.path.exists(repos) else []))
        log = os.path.join(WORK, "build.log")
        os.makedirs(WORK, exist_ok=True)
        with open(log, "w") as lf:
            try:
                rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                                     "perfbench/launchSpec"], cwd=HERE, env=env,
                                    stdout=lf, stderr=subprocess.STDOUT,
                                    timeout=BUILD_TIMEOUT_S).returncode
            except (OSError, subprocess.TimeoutExpired) as e:
                fail(f"build did not finish: {e}")
        if rc != 0:
            fail(f"build failed, see {log}")
        os.makedirs(os.path.dirname(spec), exist_ok=True)
        shutil.copy(os.path.join(HERE, "target", "launch.txt"), spec)
    with open(spec) as f:
        return key, [line for line in f.read().splitlines() if line]


def steal_s():
    """Seconds the hypervisor has taken from this machine's CPUs, summed
    over them (the `steal` column of /proc/stat); 0 where there is none."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK") if fields[0] == "cpu" else 0.0
    except (OSError, IndexError, ValueError):
        return 0.0


def quiet_cycles(ops, steal_ticks):
    """The timed cycles to take latencies from: those in which steal stayed
    under STEAL_SHARE of the machine's CPU time, and at least the quieter
    half of all cycles. Returns (cycles kept, steal share per cycle)."""
    wall = {}
    for _, sec, _, cycle in ops:
        wall[cycle] = wall.get(cycle, 0.0) + sec
    hz, cpus = os.sysconf("SC_CLK_TCK"), os.cpu_count()
    share = [steal_ticks[c] / hz / (wall[c] * cpus) if wall[c] > 0 else 0.0
             for c in range(len(steal_ticks))]
    ranked = sorted(wall, key=lambda c: (share[c], -c))
    n = max((len(ranked) + 1) // 2, sum(1 for c in ranked if share[c] <= STEAL_SHARE))
    return set(ranked[:n]), share


def self_times(spans, wall_s):
    """Self seconds per layer from the span list, and the share of the
    wall that named layers (not `run` or `jvm`) account for."""
    child = {}
    for s in spans:
        child[s["parent"]] = child.get(s["parent"], 0) + (s["end_ns"] - s["start_ns"])
    by_layer = {layer: 0.0 for layer in LAYERS}
    for s in spans:
        layer = s["name"].split(".")[0]
        by_layer[layer] = by_layer.get(layer, 0.0) + \
            (s["end_ns"] - s["start_ns"] - child.get(s["id"], 0)) / 1e9
    named = sum(v for k, v in by_layer.items() if k not in ("run", "jvm"))
    return by_layer, named / wall_s


def tracing_overhead(args, key, e2e):
    """Traced minus untraced setup_s + op_s for this workload, seed and
    build, against the newest untraced record; None when there is none."""
    path = os.path.join(WORK, "records")
    suffix = f"-{args.workload}-{args.seed}-t0.json"
    for name in sorted(os.listdir(path) if os.path.isdir(path) else [], reverse=True):
        if name.endswith(suffix):
            with open(os.path.join(path, name)) as f:
                rec = json.load(f)
            if rec["build"] == key[:16]:
                base = rec["end_to_end"]
                return (e2e["setup_s"] + e2e["op_s"]) - (base["setup_s"] + base["op_s"])
    return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["interactive", "factor_build"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    key, launch = build()
    t_start = time.time()
    t_start_ns = time.monotonic_ns()
    steal0 = steal_s()
    run_dir = os.path.join(WORK, "runs", f"{key[:16]}-{args.workload}-{args.seed}-{os.getpid()}")
    data, work = os.path.join(run_dir, "data"), os.path.join(run_dir, "work")
    os.makedirs(os.path.join(work, "tmp"))
    try:
        gen.generate(data, args.seed)
        t_gen_ns = time.monotonic_ns()
        cmd = (["java"] + launch + [HEAP, f"-Djava.io.tmpdir={work}/tmp", "perfbench.Main",
               "--workload", args.workload, "--data", data, "--work", work,
               "--seconds", str(args.seconds), "--seed", str(args.seed),
               "--trace", str(args.trace), "--cores", str(CORES)])
        env = {k: v for k, v in os.environ.items()
               if k not in ("SPARK_GRAFT_MART_DIR", "GRAFT_JAVA_OPTS")}
        with open(os.path.join(run_dir, "jvm.log"), "w") as lf:
            try:
                rc = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT, env=env,
                                    cwd=work, timeout=JVM_TIMEOUT_S).returncode
            except subprocess.TimeoutExpired:
                rc = "timeout"
        t_jvm_ns = time.monotonic_ns()
        if rc != 0:
            with open(os.path.join(run_dir, "jvm.log")) as lf:
                sys.stderr.write(lf.read()[-4000:])
            fail(f"client JVM exited with {rc}")
        with open(os.path.join(work, "result.json")) as f:
            res = json.load(f)

        ops = res["ops"]
        failed = res["failed_ops"]
        gen_key = hashlib.sha256(open(gen.__file__, "rb").read()).hexdigest()[:12]
        verdict = check.check_entries(
            data, res["oracle_sql"], os.path.join(work, "results"),
            os.path.join(WORK, "oracle", f"{gen_key}-{args.seed}.json"))
        bad = {n for n, v in verdict.items() if v}
        problems = [f"{n}: {verdict[n]}" for n in sorted(bad)]
        if args.workload == "interactive":
            failed += sum(1 for o in ops if o[0] in bad and o[2])
        elif bad:
            # a wrong mart makes every build that wrote it wrong
            failed += sum(1 for o in ops if o[2])
        t_end_ns = time.monotonic_ns()
        for p in problems:
            print(f"perfbench: output mismatch: {p}", file=sys.stderr)

        # the mean over operations of each one's median latency in the
        # quiet cycles: the figure does not hop between the latency bands
        # of neighbouring entries as a plain median does, and a slow
        # moment of the box moves it only if it lasts half the window
        kept, steal_share = quiet_cycles(ops, res["cycle_steal_ticks"])
        by_op = {}
        for name, sec, ok, cycle in ops:
            if ok and cycle in kept:
                by_op.setdefault(name, []).append(sec)
        e2e = {
            "setup_s": res["first_op_epoch_ms"] / 1000.0 - t_start,
            "op_s": statistics.fmean(statistics.median(v) for v in by_op.values())
            if by_op else 0.0,
            "cpu_s_per_op": res["cpu_window_s"] / len(ops),
        }
        if args.trace:
            with open(os.path.join(work, "spans.jsonl")) as f:
                jvm_spans = [json.loads(line) for line in f if line.strip()]
            # the JVM's root span sits under this process's spans; JVM and
            # Python monotonic clocks differ, so only durations are kept
            jvm_root = next(s for s in jvm_spans if s["parent"] == -1)
            base = t_gen_ns - jvm_root["start_ns"]
            spans = [{"id": 1000000, "parent": -1, "name": "run",
                      "start_ns": t_start_ns, "end_ns": t_end_ns},
                     {"id": 1000001, "parent": 1000000, "name": "setup.generate",
                      "start_ns": t_start_ns, "end_ns": t_gen_ns},
                     {"id": 1000002, "parent": 1000000, "name": "check.oracle",
                      "start_ns": t_jvm_ns, "end_ns": t_end_ns}]
            for s in jvm_spans:
                spans.append({**s, "parent": 1000000 if s["parent"] == -1 else s["parent"],
                              "start_ns": s["start_ns"] + base, "end_ns": s["end_ns"] + base})
            layers, attributed = self_times(spans, (t_end_ns - t_start_ns) / 1e9)
            values = dict(res.get("layers", {}))
            values.update({f"self.{k}_s": layers.get(k, 0.0) for k in LAYERS})
            values["trace.attributed_share"] = attributed
            values["jvm.peak_rss_mb"] = res["vmhwm_mb"]
            metrics = {m: {"value": float(values.get(m, 0.0)),
                           "unit": UNITS.get(m.rsplit("_", 1)[-1], "count")}
                       for m in PER_LAYER}
        else:
            metrics = {m: {"value": e2e[m], "unit": u} for m, u in END_TO_END.items()}

        overhead = tracing_overhead(args, key, e2e) if args.trace else None
        record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                  "seconds": args.seconds, "build": key[:16], "cores": CORES,
                  "nproc": os.cpu_count(), "load1_start": res["load1_start"],
                  "load1_end": res["load1_end"], "steal_s": steal_s() - steal0,
                  "cycle_steal_share": steal_share, "cycles_kept": sorted(kept),
                  "heap_max_mb": res["heap_max_mb"],
                  "jdk": res["jdk"], "ops": ops, "problems": problems, "metrics": metrics,
                  "end_to_end": e2e, "tracing_overhead_s": overhead,
                  "layers": values if args.trace else None,
                  "time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())}
        os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
        stem = f"{record['time']}-{args.workload}-{args.seed}-t{args.trace}"
        with open(os.path.join(WORK, "records", stem + ".json"), "w") as f:
            json.dump(record, f)
        if args.trace:
            with open(os.path.join(WORK, "records", stem + ".spans.json"), "w") as f:
                json.dump(spans, f)

        correct = not problems and failed == 0
        print(json.dumps({"correct": correct, "attempted": len(ops), "failed": failed,
                          "metrics": metrics}))
        return 0 if correct else 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
