#!/usr/bin/env python3
"""Benchmark driver for the graft engine: RAG ingest with answers about
the fresh facts, and an analytics query mix, timed end to end.

Run from the root of a checkout:

    python3 perfbench/run.py --workload rag_ingest --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --self-check        # tiny runs: every metric emitted
    python3 perfbench/run.py --record-digests    # re-record analytics digests

The first run builds the engine and the harness from source with sbt
(offline) into perfbench/target; later runs reuse the build while the
sources are unchanged. See perfbench/README.md for the workloads and
metrics. The last line of stdout is the result object.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
ENGINE_SRC = ROOT / "src" / "main" / "scala"
WORK = ROOT / ".bench_build" / "perfbench"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark on JDK 17 outside spark-submit needs these (the list
# org.apache.spark.launcher.JavaModuleOptions gives).
ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    files = sorted(ENGINE_SRC.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))
    return files + [BENCH / "build.sbt", BENCH / "project" / "build.properties"]


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; on timeout kill the whole group."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        die(f"{cmd[0]} timed out after {timeout} s", 3)
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    return p.returncode, out


def classpath():
    """Build engine + harness if the sources changed; return the classpath."""
    if not (ENGINE_SRC / "graft").is_dir():
        die(f"engine sources not found under {ENGINE_SRC}")
    h = hashlib.sha256()
    for f in sources():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    cache = BENCH / "target" / "bench-classpath.txt"
    if cache.exists():
        saved, cp = cache.read_text().split("\n", 1)
        if saved == stamp:
            return cp.strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    # -UsePerfData: no JVM perf files outside the checkout
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    code, out = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdout=subprocess.PIPE,
        stdin=subprocess.DEVNULL, text=True)
    lines = [l for l in out.splitlines() if l.startswith("/") and "classes" in l]
    if code != 0 or not lines:
        sys.stderr.write(out[-4000:])
        die("build failed")
    cache.parent.mkdir(parents=True, exist_ok=True)
    cache.write_text(f"{stamp}\n{lines[-1]}\n")
    return lines[-1]


def spec():
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def validate(res, trace):
    """The result object must carry exactly the declared metrics and units."""
    s = spec()
    want = {m["name"]: m["unit"] for m in s["per_layer" if trace else "end_to_end"]}
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        return f"result keys {sorted(res)}"
    if not (isinstance(res["attempted"], int) and res["attempted"] >= 1
            and isinstance(res["failed"], int)):
        return "attempted/failed must be whole numbers, attempted >= 1"
    got = {k: v.get("unit") for k, v in res["metrics"].items()}
    if got != want:
        return f"metrics {got} != declared {want}"
    bad = [k for k, v in res["metrics"].items()
           if not isinstance(v.get("value"), (int, float))]
    return f"non-numeric metrics {bad}" if bad else None


def run_jvm(main_args, timeout=RUN_TIMEOUT_S, heap="3g"):
    cp = classpath()
    shutil.rmtree(WORK / "run", ignore_errors=True)
    (WORK / "run" / "tmp").mkdir(parents=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(WORK / "run" / "spark-local"))
    try:
        return run_group(
            ["java", f"-Xmx{heap}", "-XX:-UsePerfData", *ADD_OPENS,
             f"-Djava.io.tmpdir={WORK / 'run' / 'tmp'}",
             f"-Dderby.system.home={WORK / 'run'}",
             "-cp", cp, "graft.perfbench.Main", *main_args],
            timeout, cwd=ROOT, env=env, stdout=subprocess.PIPE,
            stdin=subprocess.DEVNULL, text=True)
    finally:
        shutil.rmtree(WORK / "run", ignore_errors=True)


def bench(workload, seed, seconds, trace, tiny=False):
    """One run: returns (stdout lines, parsed result) or dies."""
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--bench-dir", str(BENCH),
            "--work", str(WORK / "run"),
            "--trace-out", str(WORK / f"trace-{workload}-seed{seed}.json")]
    code, out = run_jvm(args + (["--tiny"] if tiny else []))
    lines = out.splitlines()
    if code != 0 or not lines:
        sys.stdout.write(out)
        die(f"benchmark JVM exited with {code}", 1)
    try:
        res = json.loads(lines[-1])
    except ValueError:
        sys.stdout.write(out)
        die("last line is not a result object", 1)
    err = validate(res, trace)
    if err:
        sys.stdout.write("\n".join(lines[:-1]) + "\n")
        die(f"result does not match BENCHMARK.json: {err}", 1)
    return lines, res


def self_check():
    """Tiny runs of every workload, untraced and traced: every declared
    metric must come out with its unit, and the detail line must give
    each metric a unit and a sample count."""
    problems = []
    for w in spec()["workloads"]:
        for trace in (0, 1):
            lines, res = bench(w["name"], 1, 1, trace, tiny=True)
            detail = json.loads(lines[-2])["detail"]
            missing = [k for k in res["metrics"] if k not in detail["metrics"]]
            unitless = [k for k, v in detail["metrics"].items()
                        if not v.get("unit") or "samples" not in v]
            status = "ok" if not (missing or unitless) and res["correct"] else "FAIL"
            print(f"{w['name']} trace={trace}: {len(res['metrics'])} metrics, "
                  f"correct={res['correct']} {status} {missing or ''}{unitless or ''}")
            if status != "ok":
                problems.append((w["name"], trace))
    sys.exit(1 if problems else 0)


def record_digests():
    """Digest every analytics query three times (all cores twice, two cores
    once). A query whose row count differs between runs cannot be checked
    and fails the recording; one whose rows differ only in content is kept
    as row-count-only (null digest). The median of the three run times is
    kept as the query's cost, which places it in a sampling stratum."""
    data = str(BENCH / "data" / "sf0.01")
    runs = []
    for cores in (os.cpu_count(), os.cpu_count(), 2):
        out = WORK / f"digests-{len(runs)}.json"
        code, _ = run_jvm(["record-digests", data, str(out), str(cores),
                            str(WORK / "run")], timeout=1800)
        if code != 0:
            die("digest recording failed", 1)
        runs.append(json.loads(out.read_text()))
    merged, unstable = {}, []
    for name in sorted(runs[0]):
        vals = [r.get(name) for r in runs]
        if any(not isinstance(v, list) for v in vals) or len({v[0] for v in vals}) > 1:
            unstable.append(f"{name}: {vals}")
            continue
        digest = vals[0][1] if len({v[1] for v in vals}) == 1 else None
        cost = sorted(v[2] for v in vals)[1]
        merged[name] = [vals[0][0], digest, round(cost, 3)]
    if unstable:
        die("queries without a reproducible result:\n  " + "\n  ".join(unstable), 1)
    body = ",\n".join(f"  {json.dumps(k)}: {json.dumps(v)}" for k, v in merged.items())
    (BENCH / "digests.json").write_text("{\n" + body + "\n}\n")
    print(f"recorded {len(merged)} digests, "
          f"{sum(v[1] is None for v in merged.values())} row-count-only")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-check", action="store_true")
    ap.add_argument("--record-digests", action="store_true")
    a = ap.parse_args()
    if a.self_check:
        self_check()
    if a.record_digests:
        record_digests()
        return
    names = [w["name"] for w in spec()["workloads"]]
    if a.workload not in names:
        die(f"--workload must be one of {names}")
    lines, _ = bench(a.workload, a.seed, a.seconds, a.trace)
    print("\n".join(lines), flush=True)


if __name__ == "__main__":
    main()
