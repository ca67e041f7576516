#!/usr/bin/env python3
"""graft benchmark: one command runs one workload from a seed.

    python3 perfbench/run.py --workload olap_ladder --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --compare PARENT_DIR CHANGE_DIR

A run builds the engine and the benchmark program from source
(perfbench/build.py), generates the workload's inputs from the seed
(perfbench/gen.py), and runs them in one JVM: Spark local[N] with
N = nproc / 2 (at most 2), one closed-loop client that waits for each
result.  It then checks every operation's output: results in the Verify
layout through scripts/check.py and its DuckDB oracles, fetched rows
against references computed in the JVM.

The last line of stdout is one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`: with `--trace 0` the end-to-end
metrics of BENCHMARK.json, with `--trace 1` its per-layer metrics (a traced
run also writes its span file and a self-time report).  Every run is also
saved under `<build dir>/runs/`, which `--compare` reads.
"""
import argparse
import contextlib
import importlib.util
import io
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]
HEAP = "3g"
# C1 only.  A run's JVM lives about a minute, too short for C2 to pay off:
# with the default tiered JIT the C2 threads took about 40% of the
# process CPU through the timed phase, cycle times were still falling
# 15-20% from its first cycle to its last, and beside two busy-loop
# processes the median operation took 60-80% longer (18% with C1 only;
# one run each, on a 4-core host).
JIT = "-XX:TieredStopAtLevel=1"
JVM_TIMEOUT_S = 165


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spec():
    with open(ROOT / "BENCHMARK.json") as f:
        return json.load(f)


def quantile(xs, q):
    """Linear-interpolated quantile of a non-empty list."""
    s = sorted(xs)
    pos = (len(s) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def cpu_times():
    """(steal, total) CPU jiffies of the host since boot, from /proc/stat;
    None where it cannot be read."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:9]]
        return v[7], sum(v)
    except (OSError, ValueError, IndexError):
        return None


def host_probe_s():
    """Median time of a fixed single-threaded loop, in seconds: the host's
    speed at this moment.  Neighbours on a shared host can slow a run by a
    third without showing in loadavg or steal time; this shows it."""
    def once():
        t, acc = time.perf_counter(), 0
        for i in range(500_000):
            acc += i * i
        return time.perf_counter() - t
    return sorted(once() for _ in range(5))[2]


def run_checks(groups):
    """Run scripts/check.py unchanged on each Verify-layout group; return
    {(name, input): error} for every result it does not pass."""
    path = ROOT / "scripts" / "check.py"
    mod_spec = importlib.util.spec_from_file_location("graft_check", path)
    check = importlib.util.module_from_spec(mod_spec)
    mod_spec.loader.exec_module(check)
    bad = {}
    for g in groups:
        out = io.StringIO()
        argv = sys.argv
        sys.argv = ["check.py", g["input"], g["out"]]
        try:
            with contextlib.redirect_stdout(out):
                check.main()
        except SystemExit:
            pass
        except Exception as e:  # an oracle the checker itself cannot run
            for n in g["names"]:
                bad[(n, g["input"])] = f"check.py error: {e}"
        finally:
            sys.argv = argv
        passed = set()
        for line in out.getvalue().splitlines():
            if line.startswith("PASS "):
                passed.add(line.split()[1])
            elif line.startswith("FAIL "):
                name = line[5:].split(":")[0]
                bad[(name, g["input"])] = line
        for n in g["names"]:
            if n not in passed and (n, g["input"]) not in bad:
                bad[(n, g["input"])] = "no verdict from check.py"
    return bad


def end_to_end(res, ops, launch_ms, failed, attempted):
    walls = [o["wall_s"] for o in ops]
    n = len(walls)
    return {
        "setup_s": (res["first_op_ms"] - launch_ms) / 1000.0,
        "op_p50_s": quantile(walls, 0.5),
        "op_p90_s": quantile(walls, 0.9),
        "ops_per_s": n / res["timed_s"],
        "cpu_s_per_op": res["cpu_s"] / n,
        "ok_ratio": (attempted - failed) / attempted,
        "cache_mb": res["cache_mb"],
    }


def self_times(spans, n_ops):
    """Self time per layer, per traced operation: each span's duration
    minus the part of it its child spans cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        cover, end = 0.0, s["startMs"]
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["startMs"]):
            lo, hi = max(c["startMs"], end), min(c["endMs"], s["endMs"])
            if hi > lo:
                cover += hi - lo
                end = hi
        self_ms = max(0.0, s["endMs"] - s["startMs"] - cover)
        out[s["layer"]] = out.get(s["layer"], 0.0) + self_ms / 1000.0
    return {layer: t / max(n_ops, 1) for layer, t in out.items()}


def run(args):
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir() or \
            not (ROOT / "scripts" / "check.py").is_file():
        fail(f"graft's sources or scripts/check.py are missing under {ROOT}")
    bench = spec()
    import build
    import gen

    if args.workload not in gen.SHAPES:
        fail(f"unknown workload {args.workload}")
    classes, cp = build.build()
    # Stages run ~1.3 tasks each here: two task threads suffice, and the
    # remaining cores take the JIT and GC threads (see README.md)
    cpus = max(1, min(2, (os.cpu_count() or 1) // 2))
    bdir = build.build_dir()
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = bdir / "work" / f"{tag}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        man = gen.generate(args.workload, args.seed, str(work / "in"), cpus)
        out = work / "out"
        out.mkdir()
        traces = bdir / "traces"
        traces.mkdir(exist_ok=True)
        spans_path = traces / f"{tag}.spans.json"
        result_path = work / "result.json"
        probe0 = host_probe_s()
        cpu0 = cpu_times()
        launch_ms = time.time() * 1000.0
        cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", JIT,
                f"-Djava.io.tmpdir={work}"] + JVM_OPENS +
               ["-cp", os.pathsep.join([str(classes)] + cp),
                "graft.perfbench.Main", str(work / "in" / "manifest.json"),
                str(out), str(args.seconds), str(args.trace), str(args.seed),
                str(cpus), repr(launch_ms), str(result_path), str(spans_path)])
        with open(work / "jvm.log", "w") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                    cwd=work)
            try:
                rc = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                rc = "timeout"
            finally:  # also on an interrupt: never leave the JVM behind
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        cpu1 = cpu_times()
        probe1 = host_probe_s()
        if rc != 0 or not result_path.exists():
            tail = (work / "jvm.log").read_text()[-3000:]
            fail(f"benchmark JVM exited with {rc}\n{tail}")
        res = json.loads(result_path.read_text())
        for line in (work / "jvm.log").read_text().splitlines():
            if line.startswith("[perfbench]"):
                print(line, file=sys.stderr)
        t_jvm = time.time()
        bad = run_checks(res["checks"])
        print(f"perfbench: JVM {t_jvm - launch_ms / 1000:.1f} s, output "
              f"checks {time.time() - t_jvm:.1f} s", file=sys.stderr)
        timed = [o for o in res["ops"] if not o["warm"]]
        errors, warm_bad = [], []
        for o in res["ops"]:
            err = o["error"] or bad.get((o["name"], o["input"]))
            if err:
                (warm_bad if o["warm"] else errors).append(
                    f"{o['name']} [{o['input']}]: {err}")
        # a warm-up result that failed its oracle makes the run incorrect
        # even where no operation shares it
        ops_keys = {(o["name"], o["input"]) for o in res["ops"]}
        warm_bad += [f"{n} [{i}] (warm-up): {e}" for (n, i), e in bad.items()
                     if (n, i) not in ops_keys]
        attempted = len(timed)
        failed = len(errors)
        # the share of CPU time the hypervisor gave to other guests while
        # the JVM ran: contention that loadavg inside a VM does not show
        steal = None
        if cpu0 and cpu1 and cpu1[1] > cpu0[1]:
            steal = (cpu1[0] - cpu0[0]) / (cpu1[1] - cpu0[1])
        env = dict(res["env"], jit=JIT, cycles=res["cycles"],
                   timed_s=res["timed_s"],
                   cpu_steal_share=steal, host_probe_s_before=probe0,
                   host_probe_s_after=probe1)
        print(json.dumps({"env": env, "inputs": {
            k: man[k] for k in ("amplification", "dup_rate", "tables")}}))
        for e in (errors + warm_bad)[:20]:
            print(f"FAILED {e}")
        if args.trace:
            spans = json.loads(spans_path.read_text())
            traced = len({s["op"] for s in spans})
            metrics = dict(res["layers"])
            selfs = self_times(spans, traced)
            for layer in ("operators", "catalyst", "exec", "sink"):
                metrics[f"{layer}.self_s"] = selfs.get(layer, 0.0)
            report = {"workload": args.workload, "seed": args.seed,
                      "traced_ops": traced, "metrics": metrics,
                      "spans": str(spans_path)}
            (traces / f"{tag}.report.json").write_text(
                json.dumps(report, indent=1, sort_keys=True))
            units = {m["name"]: m["unit"] for m in bench["per_layer"]}
        else:
            metrics = end_to_end(res, timed, launch_ms, failed, attempted)
            walls = [o["wall_s"] for o in timed]
            print(f"op_p50_s {metrics['op_p50_s']:.4f} s, op_p90_s "
                  f"{metrics['op_p90_s']:.4f} s over {len(walls)} samples")
            units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
        line = {"correct": failed == 0 and not warm_bad,
                "attempted": attempted, "failed": failed,
                "metrics": {k: {"value": metrics[k], "unit": u}
                            for k, u in units.items()}}
        runs = bdir / "runs"
        runs.mkdir(exist_ok=True)
        (runs / f"{tag}.json").write_text(json.dumps(
            dict(line, workload=args.workload, seed=args.seed,
                 trace=args.trace, env=env, errors=errors + warm_bad,
                 ops=[[o["name"], o["input"], round(o["wall_s"], 4)]
                      for o in timed])))
        print(json.dumps(line))
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--compare", nargs=2, metavar=("PARENT", "CHANGE"),
                   help="compare two directories of saved runs")
    args = p.parse_args()
    # a terminated run unwinds, so its JVM is stopped and its inputs removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.compare:
        import compare
        compare.main(spec(), *args.compare)
    elif args.workload:
        run(args)
    else:
        p.error("--workload or --compare is required")


if __name__ == "__main__":
    main()
