#!/usr/bin/env python3
"""graft benchmark: one run of one workload in a fresh JVM.

Usage (from the repository root):
  python3 perfbench/run.py --workload registry_cold|change_feed
      --seed N --seconds S --trace 0|1
  python3 perfbench/run.py --digest-dump DIR   (print registry.tsv with the
      digests of a `graft.Verify` dump of the benchmark corpus)
  --corpus DIR runs on another corpus of the same layout instead of the
      generated one (to compare the two; recorded digests then differ)

Builds the engine and the corpus into `.bench_build/` on first use (see
build.py), runs the workload, checks its outputs, and prints a detail
line followed, as the last line, by one JSON object with the keys
correct, attempted, failed and metrics. `--trace 0` reports the
end-to-end metrics of BENCHMARK.json, `--trace 1` the per-layer ones.
Exits non-zero without a result line when the build or the run fails.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
import build  # noqa: E402

JVM_TIMEOUT_S = 165
WORKLOADS = ("registry_cold", "change_feed")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def jvm(classes, work, main_args, timeout):
    jar_dir, _ = build.spark_jars()
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java", "-Xms4g", "-Xmx4g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
           f"-Dderby.system.home={work}", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(jar_dir, "*"), "graftbench.Main"]
    env = {k: v for k, v in os.environ.items() if not k.startswith(("GRAFT_", "SPARK_GRAFT"))}
    env["GRAFT_BUILD_CACHE"] = "off"
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd + main_args, stdout=subprocess.PIPE if timeout is None else log,
                             stderr=log, env=env, cwd=work, text=True)
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"run exceeded {timeout} s")
    if p.returncode != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"JVM exited with {p.returncode}")
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--digest-dump")
    ap.add_argument("--corpus")
    a = ap.parse_args()
    if not a.workload and not a.digest_dump:
        ap.error("--workload is required")
    try:
        classes = build.build_classes()
        corpus = os.path.abspath(a.corpus) if a.corpus else build.build_corpus()
    except build.BuildError as e:
        fail(f"build failed: {e}")
    here = os.path.dirname(os.path.abspath(__file__))
    tsv = os.path.join(here, "registry.tsv")
    runs = os.path.join(build.OUT, "runs")
    work = os.path.join(runs, f"{a.workload or 'digest'}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if a.digest_dump:
            sys.stdout.write(jvm(classes, work, ["digest-dump", os.path.abspath(a.digest_dump),
                                                 tsv, work], None))
            return
        result = os.path.join(work, "result.json")
        start_ms = int(time.time() * 1000)
        jvm(classes, work, [a.workload, str(a.seed), str(a.seconds), str(a.trace), corpus,
                            work, tsv, result, str(start_ms)], JVM_TIMEOUT_S)
        with open(result) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    with open(os.path.join(os.path.dirname(here), "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {m["name"]: m["unit"] for m in spec["per_layer" if a.trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    if got != want:
        fail(f"reported metrics {sorted(got.items())} do not match BENCHMARK.json {sorted(want.items())}")
    print(json.dumps({k: v for k, v in res.items() if k != "metrics"}))
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
