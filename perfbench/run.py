"""Benchmark entry point.

    python3 perfbench/run.py --workload {voice,analytics,curation,ingest}
        --seed N --seconds S --trace {0,1}

Builds the program from source (build.py), generates the sf0.1 tables
once (gen_data.py, fixed seed), runs one workload in one JVM and prints
its result as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are BENCHMARK.json's end_to_end set, with
--trace 1 its per_layer set (the traced run also writes its spans under
.bench_build/traces). Everything it writes stays under .bench_build.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402

WORKLOADS = ("voice", "analytics", "curation", "ingest")
DATA_SEED = 42
JVM_TIMEOUT_S = 170
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]


def ensure_data():
    """The sf0.1 tables, regenerated only when gen_data.py changes."""
    import gen_data
    with open(os.path.join(HERE, "gen_data.py"), "rb") as f:
        stamp = hashlib.sha256(f.read()).hexdigest()
    data = os.path.join(build.build_dir(), "data", "sf0.1")
    stamp_file = data + ".stamp"
    if os.path.exists(stamp_file) and open(stamp_file).read().strip() == stamp:
        return data
    shutil.rmtree(data, ignore_errors=True)
    gen_data.generate(data, seed=DATA_SEED, scale=0.1)
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    return data


def jvm(classes, work, data, args, timeout=JVM_TIMEOUT_S):
    """Runs graft.perfbench.Main; returns (exit code, stdout)."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
    cmd = (["java"] + [x for p in OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-Xmx3g", "-Xss8m", "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
              "-cp", cp, "graft.perfbench.Main"] + args)
    env = dict(os.environ, SPARK_GRAFT_IMMUTABLE_DIRS=data)
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                         env=env, cwd=work, text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        print(f"perfbench: JVM exceeded {timeout} s", file=sys.stderr)
        return 124, ""
    return p.returncode, out


def declared_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser(description="graft benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    expected = declared_metrics(a.trace)
    classes = build.build()
    data = ensure_data()
    work = os.path.join(build.build_dir(), "work", uuid.uuid4().hex[:12])
    try:
        code, out = jvm(classes, work, data, [
            "--mode", "run", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--data", data,
            "--work", work, "--goldens", os.path.join(HERE, "goldens.json"),
            "--out", os.path.join(build.build_dir(), "traces")])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines:
        sys.exit(f"perfbench: run failed (exit {code})")
    result = json.loads(lines[-1])
    if list(result["metrics"]) != expected:
        sys.exit(f"perfbench: printed metrics {list(result['metrics'])} "
                 f"differ from BENCHMARK.json {expected}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
