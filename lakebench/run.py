#!/usr/bin/env python3
"""Build and run the lakehouse benchmark (see lakebench/README.md).

  python3 lakebench/run.py --workload W --seed N --seconds S --trace 0|1
        [--sf 0.1|0.001] [--results FILE]   one run; last stdout line is the result
  python3 lakebench/run.py report [--seed N] [--seconds S] [--sf X]
                                            every workload, untraced then traced
  python3 lakebench/run.py compare A.jsonl B.jsonl
                                            two result sets, metric by metric
  python3 lakebench/run.py smoke            every workload at sf0.001, gates on

Run from the root of a checkout. The engine's sources and the benchmark
are compiled together with sbt on first use (into $CARGO_TARGET_DIR, or
.bench_build); later runs start the JVM directly.
"""
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORKLOADS = ["batch_refresh", "upsert_cdc"]
BUILD_TIMEOUT_S = 840
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def die(msg, code=2):
    print(f"lakebench: {msg}", file=sys.stderr)
    sys.exit(code)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return os.path.join(ROOT, d) if not os.path.isabs(d) else d


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "src"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def classpath():
    """Compile if the sources changed since the last build; return the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("the engine's sources (src/main/scala/graft) are not in this checkout")
    out = os.path.join(build_dir(), "lakebench")
    stamp_file, cp_file = os.path.join(out, "stamp"), os.path.join(out, "classpath.txt")
    stamp = source_stamp()
    if not (os.path.exists(cp_file) and os.path.exists(stamp_file)
            and open(stamp_file).read() == stamp):
        env = dict(os.environ, LAKEBENCH_TARGET=out)
        env.setdefault("COURSIER_MODE", "offline")
        print("lakebench: building", file=sys.stderr)
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                           cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
                           timeout=BUILD_TIMEOUT_S)
        if r.returncode != 0 or not os.path.exists(cp_file):
            die("build failed", 3)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return open(cp_file).read().strip()


def run_timeout(seconds):
    """A run takes about 25 s of start-up and set-up plus three times
    --seconds of timed work and checks; allow well over that."""
    return 100 + 7 * int(seconds)


def data_dir(sf):
    d = os.path.join(BENCH, "data", f"sf{sf}")
    if not os.path.isfile(os.path.join(d, "orders.parquet")):
        die(f"no input tables for sf{sf} in {os.path.relpath(d, ROOT)}")
    return d


def run_java(workload, seed, seconds, trace, sf="0.1"):
    """Run lakebench.Main once; relay its stdout; return (exit code, stdout lines)."""
    data = data_dir(sf)
    cp = classpath()
    # this run's scratch root, removed below however the JVM ends
    tmp = os.path.join(ROOT, ".bench_tmp", f"p{os.getpid()}")
    jvm_tmp = os.path.join(tmp, "jvm")
    os.makedirs(jvm_tmp, exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", "-Xmx3g", "-XX:-UsePerfData", "-Dfile.encoding=UTF-8", f"-Djava.io.tmpdir={jvm_tmp}"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", cp, "lakebench.Main", "--tmp", tmp, "--out", os.path.join(ROOT, ".bench_out"),
              "--workload", workload, "--data", data, "--seed", str(seed), "--seconds", str(seconds),
              "--trace", str(trace)])
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, start_new_session=True)
    lines = []
    try:
        out, _ = p.communicate(timeout=run_timeout(seconds))
        lines = out.splitlines()
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        print("lakebench: run timed out", file=sys.stderr)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass
    for l in lines:
        print(l)
    return p.returncode, lines


def parse_opts(argv):
    opts = {}
    it = iter(argv)
    for k in it:
        if not k.startswith("--"):
            die(f"unexpected argument {k}")
        opts[k[2:]] = next(it, None)
    return opts


def single(argv):
    opts = parse_opts(argv)
    for k in ("workload", "seed", "seconds", "trace"):
        if opts.get(k) is None:
            die(f"--{k} is required")
    if opts["workload"] not in WORKLOADS:
        die(f"unknown workload {opts['workload']}")
    code, lines = run_java(opts["workload"], opts["seed"], opts["seconds"], opts["trace"],
                           opts.get("sf", "0.1"))
    if code != 0 or not lines or not lines[-1].startswith("{"):
        sys.exit(code or 1)
    if opts.get("results"):
        with open(opts["results"], "a") as f:
            f.write(json.dumps({"workload": opts["workload"], "seed": int(opts["seed"]),
                                "trace": int(opts["trace"]), "detail": detail(lines),
                                "result": json.loads(lines[-1])}) + "\n")


def detail(lines):
    return next(json.loads(l)["lakebench"] for l in lines if l.startswith('{"lakebench"'))


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def compare(a_file, b_file):
    """Per workload and end-to-end metric: each side's median and
    quartiles and the delta against the bound; per-layer medians beside."""
    s = spec()
    def load(path):
        runs = {}
        for line in open(path):
            r = json.loads(line)
            runs.setdefault((r["workload"], r["trace"]), []).append(r["result"]["metrics"])
        return runs
    a, b = load(a_file), load(b_file)
    for (w, t) in sorted(set(a) & set(b)):
        print(f"== {w} ({'per-layer, traced' if t else 'end to end'}: "
              f"{len(a[(w, t)])} vs {len(b[(w, t)])} runs)")
        metrics = s["end_to_end"] if t == 0 else s["per_layer"]
        for m in metrics:
            name = m["name"]
            xa = [r[name]["value"] for r in a[(w, t)] if r.get(name, {}).get("value") is not None]
            xb = [r[name]["value"] for r in b[(w, t)] if r.get(name, {}).get("value") is not None]
            if not xa or not xb:
                continue
            qa, qb = quartiles(xa), quartiles(xb)
            delta = (qb[1] - qa[1]) / qa[1] if qa[1] else float("nan")
            line = (f"  {name:34s} A {qa[1]:12.4f} [{qa[0]:.4f}, {qa[2]:.4f}]"
                    f"  B {qb[1]:12.4f} [{qb[0]:.4f}, {qb[2]:.4f}]  {100 * delta:+7.2f}%")
            if t == 0:
                bound = m["bound"]
                worse = delta if m["better"] == "lower" else -delta
                spread = max((q[2] - q[0]) / q[1] if q[1] else 0 for q in (qa, qb))
                status = ("unresolved" if spread > bound else
                          "REGRESSED" if worse > bound else
                          "improved" if worse < -bound else "within bound")
                line += f"  bound {100 * bound:.0f}%  spread {100 * spread:.1f}%  {status}"
            print(line + f" {m['unit']}")


def report(argv):
    """Every workload untraced, then traced, one run each; every end-to-end
    metric with its unit, sample count and tail percentile, and the
    tracing overhead."""
    opts = parse_opts(argv)
    seed, seconds = opts.get("seed", "1"), opts.get("seconds", str(spec()["run_seconds"]))
    sf = opts.get("sf", "0.1")
    walls, traced, ok = {}, {}, True
    for w in WORKLOADS:
        for trace in (0, 1):
            code, lines = run_java(w, seed, seconds, trace, sf)
            if code != 0 or not lines:
                die(f"{w} run failed", 1)
            res, d = json.loads(lines[-1]), detail(lines)
            ok &= res["correct"] and res["failed"] == 0
            walls.setdefault(w, {})[trace] = res["metrics"]["trace.wall_s" if trace else "wall_s"]["value"]
            if trace:
                traced[w] = res["metrics"]
                continue
            print(f"\n== {w}  seed {d['seed']}  op_hash {d['op_hash']}  "
                  f"gate {'pass' if d['gate'] else 'FAIL'}  fail_ratio {d['fail_ratio']}")
            for m in spec()["end_to_end"]:
                v = res["metrics"][m["name"]]
                kind = m["name"].split("_")[0]
                note = ""
                if kind in d["samples"]:
                    note = f"n={d['samples'][kind]}"
                    if m["name"].endswith("_tail_ms"):
                        note += f"  p{d['tail_pct'][kind]:.1f}"
                print(f"  {m['name']:20s} {v['value']:14.4f} {v['unit']:6s} {note}")
    print("\n== tracing overhead (traced wall_s - untraced wall_s)")
    for w, v in walls.items():
        print(f"  {w:14s} {v[1] - v[0]:+.3f} s  ({100 * (v[1] - v[0]) / v[0]:+.1f}%)")
    print("\n== the layer each workload stresses (traced runs)")
    for k in ("spark.task_ms_per_wall_s", "driver.outside_jobs_share", "streaming.batches",
              "streaming.add_batch_ms", "txlog.checkpoints"):
        print(f"  {k:28s}" + "".join(f"  {w} {m[k]['value']:10.3f}" for w, m in traced.items()))
    sys.exit(0 if ok else 1)


def smoke():
    """Each workload at sf0.001 with its gates, untraced and traced, with
    the op counts of a full run; every metric BENCHMARK.json names must be
    reported."""
    s = spec()
    failures = []
    for w in WORKLOADS:
        for trace, names in ((0, s["end_to_end"]), (1, s["per_layer"])):
            code, lines = run_java(w, 7, s["run_seconds"], trace, "0.001")
            if code != 0 or not lines:
                die(f"smoke run of {w} failed", 1)
            res = json.loads(lines[-1])
            if not res["correct"] or res["failed"]:
                failures.append(f"{w} trace {trace}: correct={res['correct']} failed={res['failed']}")
            missing = [m["name"] for m in names if m["name"] not in res["metrics"]]
            if missing:
                failures.append(f"{w} trace {trace}: missing {missing}")
    print("smoke:", "FAIL " + "; ".join(failures) if failures else "ok")
    sys.exit(1 if failures else 0)


def main():
    argv = sys.argv[1:]
    if argv[:1] == ["compare"] and len(argv) == 3:
        compare(argv[1], argv[2])
    elif argv[:1] == ["report"]:
        report(argv[1:])
    elif argv[:1] == ["smoke"]:
        smoke()
    else:
        single(argv)


if __name__ == "__main__":
    main()
