#!/usr/bin/env python3
"""Session benchmark of the graft engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload write_mix --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness from source (sbt, offline) into perfbench/harness/target; inputs are
generated into perfbench/out/inputs (the star store once, the rest cached
per seed), and a
JSON record of every run goes to perfbench/out/results. The full record is
printed, then, as the last line, the summary:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1)
listed in BENCHMARK.json.
"""

import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import measure  # noqa: E402

ROOT = os.getcwd()
HARNESS = os.path.join(HERE, "harness")
OUT = os.path.join(HERE, "out")
WORKLOADS = ("write_mix", "upload_pipeline")
HARNESS_TIMEOUT_S = 165
DEFAULT_SEED = 1        # the seed used while the benchmark is developed
HELD_OUT_SEED = 7919    # kept back for confirming a later performance claim
# fixed heap: a heap that grows during the run slows its first ops
HEAP = "3g"

# Spark on JDK 17 outside spark-submit needs these (the engine's build.sbt
# passes the same list to forked runs).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def benchmark_config():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return json.load(f)


def source_files():
    files = []
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HARNESS, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    files += [os.path.join(ROOT, "build.sbt"), os.path.join(HARNESS, "build.sbt"),
              os.path.join(HARNESS, "project", "build.properties")]
    return sorted(files)


def spark_jars():
    """The Spark jar directory the engine's own build compiles against
    (its `unmanagedBase`), else $SPARK_HOME/jars."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if m:
        return m.group(1)
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    raise SystemExit("perfbench: no Spark jars (engine build.sbt has no unmanagedBase; set SPARK_HOME)")


def ensure_build():
    """Compile engine + harness when their sources changed; return the
    runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: run from the root of a graft checkout "
                         "(src/main/scala/graft not found)")
    h = hashlib.sha256()
    for p in source_files():
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    build_dir = os.path.join(OUT, "build")
    cp_file = os.path.join(build_dir, f"classpath-{stamp[:16]}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    os.makedirs(build_dir, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["PERFBENCH_SPARK_JARS"] = spark_jars()
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    log("building engine + harness (sbt compile)")
    t = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=HARNESS, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    log(f"built in {time.time() - t:.0f} s")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip()


def inputs(workload, seed):
    """Generated inputs for (workload, seed), made once and cached."""
    import gen
    with open(gen.__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(OUT, "inputs", f"{workload}-{seed}-{version}")
    if not os.path.exists(os.path.join(d, "expected.json")):
        shutil.rmtree(d, ignore_errors=True)
        t = time.time()
        gen.generate(workload, seed, d, os.path.join(OUT, "inputs", f"star-{version}"))
        log(f"generated inputs in {time.time() - t:.1f} s")
    with open(os.path.join(d, "spec.json")) as f:
        spec = json.load(f)
    with open(os.path.join(d, "expected.json")) as f:
        expected = json.load(f)
    return d, spec, expected


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except OSError:
        return None


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def git_head():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_harness(cp, spec_dir, workload, seed, seconds, trace):
    work = os.path.join(OUT, "work", f"{workload}-{seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    out_path = os.path.join(work, "harness.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    # native libraries (snappy, zstd, lz4) unpack into java.io.tmpdir: keep
    # that, like Spark's local dirs, inside the run's work directory
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", *ADD_OPENS, f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-cp", cp,
           "perfbench.Harness", os.path.join(spec_dir, "spec.json"), out_path, str(seconds),
           "1" if trace else "0", str(cores()), work]
    with open(os.path.join(work, "harness.log"), "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = p.wait(timeout=HARNESS_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit("perfbench: harness timed out")
    if rc != 0 or not os.path.exists(out_path):
        with open(os.path.join(work, "harness.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: harness exited with {rc}")
    with open(out_path) as f:
        out = json.load(f)
    shutil.rmtree(work, ignore_errors=True)
    return out


def metric_list(d):
    return [{"name": k, "unit": u, "value": v, "samples": n} for k, (v, u, n) in d.items()]


def trace_overhead(record):
    """Traced over untraced primary-op median for the same workload and
    seed, when an untraced record of it exists."""
    res = os.path.join(OUT, "results")
    best = None
    for name in sorted(os.listdir(res)) if os.path.isdir(res) else []:
        if name.startswith(f"{record['workload']}-s{record['seed']}-t0-"):
            with open(os.path.join(res, name)) as f:
                best = json.load(f)
    if best is None:
        return None
    base = {m["name"]: m["value"] for m in best["end_to_end"]}["p50_gmean_ms"]
    return {"untraced_p50_gmean_ms": base, "traced_p50_gmean_ms": record["p50_gmean_ms_traced"],
            "overhead": record["p50_gmean_ms_traced"] / base - 1.0 if base else None}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=None)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    cfg = benchmark_config()
    seed = DEFAULT_SEED if args.seed is None else args.seed
    seconds = cfg["run_seconds"] if args.seconds is None else args.seconds

    load_before = loadavg()
    cp = ensure_build()
    spec_dir, spec, expected = inputs(args.workload, seed)
    out = run_harness(cp, spec_dir, args.workload, seed, seconds, bool(args.trace))
    ops = measure.check_ops(args.workload, out["ops"], expected)
    # an op that threw counts as failed as much as one that returned wrong
    # rows: no op of these workloads is meant to fail
    failed = [o for o in ops if o["status"] != "ok"]
    e2e, extra = measure.end_to_end(args.workload, out)
    if args.workload == "upload_pipeline":
        extra.update(measure.pipeline_extras(out, expected))
    causes = {}
    for o in failed:
        cause = o["error"] or ("rows differ; got %s, expected %s" % (
            json.dumps(o["rows"])[:400], json.dumps(measure.expected_for(args.workload, expected, o))[:400]))
        c = causes.setdefault(o["template"], {"template": o["template"], "status": o["status"],
                                               "count": 0, "cause": cause})
        c["count"] += 1
    templates = {}
    for o in ops:
        templates.setdefault(o["template"], []).append(o)
    per_template = {t: {"ops": len(os_), "failed": sum(o["status"] != "ok" for o in os_),
                        "p50_ms": measure.median([o["ms"] for o in os_])}
                    for t, os_ in sorted(templates.items())}
    record = {
        "workload": args.workload, "seed": seed, "seconds": seconds, "trace": bool(args.trace),
        "git_head": git_head(), "nproc": cores(), "loadavg_before": load_before,
        "loadavg_after": loadavg(), "spark_version": out["spark_version"],
        "spark.sql.ansi.enabled": out["ansi"], "input_hashes": spec["input_hashes"],
        "attempted": len(ops), "failed": len(failed), "failures": list(causes.values()),
        "end_to_end": metric_list(e2e), "workload_metrics": metric_list(extra),
        "templates": per_template, "build_s": out["build_s"], "warm_s": out["warm_s"],
        # every op: template, latency ms, ok/failed/wrong, storage MB after it
        "op_log": [[o["template"], round(o["ms"], 3), o["status"], round(o["storage_mb"], 3)]
                   for o in ops],
        "time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    if args.trace:
        layers = measure.per_layer(out, expected)
        record["per_layer"] = metric_list(layers)
        record["p50_gmean_ms_traced"] = e2e["p50_gmean_ms"][0]
        record["trace_overhead"] = trace_overhead(record)
        record["spans"] = len(out["spans"])
        record["span_self_ms"] = measure.span_table(out)
        chosen = {m["name"] for m in cfg["per_layer"]}
        summary = {k: {"value": v, "unit": u} for k, (v, u, _) in layers.items() if k in chosen}
    else:
        chosen = {m["name"] for m in cfg["end_to_end"]}
        summary = {k: {"value": v, "unit": u} for k, (v, u, _) in e2e.items() if k in chosen}
    res = os.path.join(OUT, "results")
    os.makedirs(res, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime())
    with open(os.path.join(res, f"{args.workload}-s{seed}-t{args.trace}-{stamp}-{os.getpid()}.json"), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps(record))
    print(json.dumps({"correct": not failed, "attempted": len(ops), "failed": len(failed),
                      "metrics": summary}))


if __name__ == "__main__":
    main()
