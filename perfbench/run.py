#!/usr/bin/env python3
"""Benchmark of the graft engine: runs one workload in a fresh JVM, checks
every result, and prints every metric by name and unit. The last line of
standard output is one JSON object: {correct, attempted, failed, metrics}.

    python3 perfbench/run.py --workload tpch_serial --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py summary perfbench/out/tpch_serial-seed1-trace1.json \\
        [--untraced perfbench/out/tpch_serial-seed1-trace0.json]
    python3 perfbench/run.py compare --parent A1.json A2.json ... --change B1.json B2.json ...

--trace 0 reports the end-to-end metrics; --trace 1 records spans and
reports the per-layer metrics. Each run leaves a result file, a span file
(traced runs) and the JVM log under perfbench/out/. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build     # noqa: E402
import metrics   # noqa: E402

OUT = os.path.join(HERE, "out")
WORKLOADS = ("tpch_serial", "tpch_concurrent", "dialect_adhoc")
JVM_TIMEOUT_S = 170
HEAP = ["-Xms3g", "-Xmx3g"]
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def nproc():
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


TMP = os.path.join(OUT, "tmp")   # Spark's scratch files stay inside the checkout


def java_command(args, main="perfbench.Main"):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return (["java", "-XX:-UsePerfData"] + HEAP + opens
            + ["-Djava.io.tmpdir=" + TMP, "-Dspark.local.dir=" + TMP,
               "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
               "-cp", build.classpath(), main] + args)


def run_jvm(args, log_path, main="perfbench.Main"):
    """Run the JVM to completion (killed after JVM_TIMEOUT_S); True if it exited 0."""
    os.makedirs(TMP, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=TMP)
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(java_command(args, main), stdout=log, stderr=log,
                                    cwd=ROOT, env=env)
            try:
                return proc.wait(timeout=JVM_TIMEOUT_S) == 0
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                print(f"[perfbench] JVM killed after {JVM_TIMEOUT_S} s", file=sys.stderr)
                return False
    finally:
        shutil.rmtree(TMP, ignore_errors=True)


def fmt(name, m):
    line = f"{name:32s} {m['value']:12.4f} {m['unit']}"
    if "q1" in m:
        line += f"   q1 {m['q1']:.4f}  q3 {m['q3']:.4f}  n {m['n']}"
    return line


def write_spans(raw, path):
    with open(path, "w") as f:
        for sp in metrics.build_spans(raw):
            f.write(json.dumps(sp) + "\n")


def bench(a):
    os.makedirs(OUT, exist_ok=True)
    base = os.path.join(OUT, f"{a.workload}-seed{a.seed}-trace{a.trace}")
    raw_path = base + ".raw.json"
    if os.path.exists(raw_path):
        os.remove(raw_path)
    ok = run_jvm(["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                  "--trace", str(a.trace), "--cores", str(nproc()),
                  "--data", os.path.join(HERE, "data"),
                  "--battery", os.path.join(ROOT, "src", "test", "resources", "battery", "shapes.tsv"),
                  "--known", os.path.join(HERE, "expected", "dialect_known_failures.tsv"),
                  "--expected", os.path.join(HERE, "expected", "fingerprints.tsv"),
                  "--out", raw_path], base + ".log")
    if not ok or not os.path.exists(raw_path):
        sys.stderr.write(open(base + ".log").read()[-4000:])
        print(f"[perfbench] run failed, log in {base}.log", file=sys.stderr)
        return 1
    raw = json.load(open(raw_path))
    stmts = metrics.timed_statements(raw)
    failed = [s for s in stmts if s["error"]]
    e2e = metrics.end_to_end(raw)
    result = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "env": raw["env"],
              "attempted": len(stmts), "failed": len(failed),
              "passes": len(metrics.pass_walls(stmts)), "end_to_end": e2e,
              "failures": [f"{s['name']}: {s['error']}" for s in failed],
              "warm_passes_ms": raw["warm_passes_ms"], "warm_failures": raw["warm_failures"],
              "known_failures_left_out": raw["known_failures_left_out"]}
    if a.trace:
        result["per_layer"] = metrics.per_layer(raw)
        result["spans_file"] = os.path.basename(base) + ".spans.jsonl"
        write_spans(raw, base + ".spans.jsonl")
    with open(base + ".json", "w") as f:
        json.dump(result, f, indent=1)
    os.remove(raw_path)

    env = raw["env"]
    print(f"workload {a.workload}  seed {a.seed}  trace {a.trace}  nproc {env['nproc']}  "
          f"{env['jvm']}  Spark {env['spark']}  {env['xmx']}")
    for line in result["failures"][:10]:
        print(f"FAILED {line}")
    shown = result["per_layer"] if a.trace else e2e
    for name, m in shown.items():
        print(fmt(name, m))
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    wanted = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
    out = {name: {"value": shown[name]["value"], "unit": shown[name]["unit"]} for name in wanted}
    print(json.dumps({"correct": not failed, "attempted": len(stmts), "failed": len(failed),
                      "metrics": out}))
    return 0


def summary(a):
    for path in a.traced:
        res = json.load(open(path))
        spans = [json.loads(line) for line in open(os.path.join(os.path.dirname(path),
                                                                  res["spans_file"]))]
        passes = res["passes"]
        by_layer, by_name = metrics.layer_self_time(spans, passes)
        print(f"== {res['workload']} (seed {res['seed']}, {passes} traced passes): "
              f"self time per pass")
        for name, ms in sorted(by_layer.items(), key=lambda kv: -kv[1]):
            print(f"  layer {name:22s} {ms:12.1f} ms")
        for name, ms in sorted(by_name.items(), key=lambda kv: -kv[1]):
            print(f"  span  {name:22s} {ms:12.1f} ms")
        print(f"  trace.coverage {res['per_layer']['trace.coverage']['value']:.4f}")
        for upath in a.untraced or []:
            u = json.load(open(upath))
            if u["workload"] == res["workload"]:
                t, b = res["end_to_end"]["pass_s"]["value"], u["end_to_end"]["pass_s"]["value"]
                print(f"  tracing overhead: pass_s {t:.3f} traced - {b:.3f} untraced = "
                      f"{t - b:+.3f} s ({(t - b) / b:+.1%})")
    return 0


def compare(a):
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    bounds = {m["name"]: (m["better"], m["bound"]) for m in spec["end_to_end"]}
    sides = {}
    for side, paths in (("parent", a.parent), ("change", a.change)):
        for p in sorted(paths):
            res = json.load(open(p))
            for group in ("end_to_end", "per_layer"):
                for name, m in res.get(group, {}).items():
                    sides.setdefault((res["workload"], name), {}).setdefault(side, []).append(
                        m["value"])
    print(f"{'workload':16s} {'metric':30s} {'parent q1/med/q3':>32s} "
          f"{'change q1/med/q3':>32s}  verdict")
    for (wl, name), s in sorted(sides.items()):
        if "parent" not in s or "change" not in s:
            continue
        better, bound = bounds.get(name, ("lower", None))
        cols = ["/".join(f"{x:.4g}" for x in metrics.quartiles(s[k])) for k in ("parent", "change")]
        print(f"{wl:16s} {name:30s} {cols[0]:>32s} {cols[1]:>32s}  "
              f"{metrics.verdict(s['parent'], s['change'], better, bound)}")
    return 0


def main(argv):
    if argv and argv[0] == "summary":
        p = argparse.ArgumentParser(prog="run.py summary")
        p.add_argument("traced", nargs="+", help="result files of traced runs")
        p.add_argument("--untraced", nargs="*", help="result files of untraced runs")
        return summary(p.parse_args(argv[1:]))
    if argv and argv[0] == "compare":
        p = argparse.ArgumentParser(prog="run.py compare")
        p.add_argument("--parent", nargs="+", required=True)
        p.add_argument("--change", nargs="+", required=True)
        return compare(p.parse_args(argv[1:]))
    p = argparse.ArgumentParser(prog="run.py")
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args(argv)
    try:
        build.ensure_built()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2
    return bench(a)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
