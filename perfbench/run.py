#!/usr/bin/env python3
"""The DW benchmark: one command per workload.

    python3 perfbench/run.py --workload etl_small_csv|dw_serve \
        --seed N --seconds S --trace 0|1

Run from the repository root. It compiles the program (`src/main/scala`)
together with the benchmark's JVM half (`perfbench/scala`) into
`.bench_build/`, generates the workload's inputs from the seed
(`gen.py`), runs the workload in one JVM (`graft.perfbench.Main`),
checks every answer against DuckDB (`oracle.py`) and prints, as its last
line, one JSON object: `correct`, `attempted`, `failed` and `metrics`
(the end-to-end metrics, or with `--trace 1` the per-layer ones). The
line before it carries the run's ambient-noise evidence. The full
report, spans included, goes to `.bench_build/reports/`.

Exit code 0 when every answer was right, 1 when any was wrong or the
run failed, 2 when the program's sources or Spark cannot be found.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import oracle  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text()) \
    if (ROOT / "BENCHMARK.json").exists() else None
# both run over the same generated inputs; they differ in what they
# measure (graft.perfbench.Main)
WORKLOADS = ("etl_small_csv", "dw_serve")
# DuckDB threads of the answer check (outside every timed region)
ORACLE_THREADS = 4
HEAP = "3g"
DEADLINE_S = 170
# Spark 4 on JDK 17 outside spark-submit (org.apache.spark.launcher.
# JavaModuleOptions); the same list the sbt build passes
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """The Spark distribution's jar directory (SPARK_HOME, else the one
    holding the `spark-submit` on PATH); it also carries the Scala
    compiler."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = str(Path(shutil.which("spark-submit")).resolve().parent.parent)
    jars = Path(home or "") / "jars"
    if not home or not list(jars.glob("spark-sql_*.jar")) or \
            not list(jars.glob("scala-compiler-*.jar")):
        fail("no Spark distribution with a Scala compiler found (set SPARK_HOME)")
    return jars


def sources():
    prog = ROOT / "src" / "main" / "scala"
    if not (prog / "graft" / "StarBench.scala").is_file():
        fail(f"program sources not found under {prog.relative_to(ROOT)}")
    return sorted(prog.rglob("*.scala")) + sorted((HERE / "scala").rglob("*.scala"))


def build(jars):
    """Compile program + benchmark once per source content."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes())
    out = BUILD / f"classes-{h.hexdigest()[:16]}"
    if (out / ".done").exists():
        return out, False
    for old in BUILD.glob("classes-*"):
        shutil.rmtree(old, ignore_errors=True)
    out.mkdir(parents=True)
    argfile = BUILD / "scalac.args"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    cp = f"{jars}/*"
    r = subprocess.run(
        ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
         "-deprecation", "-nowarn", "-d", str(out), "-classpath", cp,
         f"@{argfile}"], stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=800)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        print(r.stdout[-4000:], file=sys.stderr)
        fail("compile failed", 1)
    (out / ".done").touch()
    return out, True


def inputs(seed):
    """Generated inputs, cached per (seed, generator source)."""
    tag = hashlib.sha256((HERE / "gen.py").read_bytes()).hexdigest()[:8]
    d = BUILD / "data" / f"{seed}-{tag}"
    if not (d / ".done").exists():
        shutil.rmtree(d, ignore_errors=True)
        rows = gen.generate(str(d), seed)
        (d / ".done").write_text(str(rows))
        # keep the cache small: the eight most recent input sets
        sets = sorted((BUILD / "data").iterdir(), key=lambda p: p.stat().st_mtime)
        for old in sets[:-8]:
            shutil.rmtree(old, ignore_errors=True)
    return d, int((d / ".done").read_text())


def steal_ticks():
    """Host steal time (USER_HZ ticks) from /proc/stat, None if unreadable."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) if fields[0] == "cpu" and len(fields) > 8 else None
    except (OSError, ValueError, IndexError):
        return None


def canary_ms():
    """Fixed CPU work, timed: a drift between runs is the host, not us."""
    buf = bytes(range(256)) * 4096
    t0 = time.perf_counter()
    for _ in range(64):
        hashlib.sha256(buf).digest()
    return (time.perf_counter() - t0) * 1e3


def run_jvm(classes, jars, args, work, deadline):
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           *[f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS],
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           "-cp", f"{classes}:{jars}/*", "graft.perfbench.Main", *args]
    with open(work / "jvm.log", "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            return p.wait(timeout=max(10, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return None


def select_metrics(spec, trace, got):
    """The declared metrics of this run kind, as {name: {value, unit}},
    and an error for each one missing or not a finite number."""
    metrics, errors = {}, []
    for m in spec["per_layer" if trace else "end_to_end"]:
        v = got.get(m["name"])
        if isinstance(v, bool) or not isinstance(v, (int, float)) or \
                not math.isfinite(v):
            errors.append(f"metric {m['name']} missing or not finite: {v!r}")
        else:
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    return metrics, errors


def result_line(correct, attempted, failed, metrics):
    """The last line of the output: strict JSON (no NaN or Infinity)."""
    return json.dumps({"correct": bool(correct), "attempted": max(1, int(attempted)),
                       "failed": int(failed), "metrics": metrics}, allow_nan=False)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    start = time.monotonic()
    if SPEC is None:
        fail("BENCHMARK.json not found at the repository root")
    jars = spark_jars()
    classes, built = build(jars)
    data, lineitem_rows = inputs(a.seed)
    work = BUILD / "work" / a.workload
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    run_id = f"{a.workload}-{a.seed}-{a.trace}-{int(time.time())}"

    t_launch = time.monotonic()
    canary0, steal0 = canary_ms(), steal_ticks()
    code = run_jvm(classes, jars, [
        "--workload", a.workload, "--src", str(data / "src"),
        "--src-b", str(data / "src_b"), "--ops", str(data / "ops.txt"),
        "--work", str(work), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--run-id", run_id,
        "--out", str(work / "result.json")],
        # a run that compiled first gets the full budget after the build
        work, (time.monotonic() if built else start) + DEADLINE_S)
    t_jvm = time.monotonic()
    steal1, canary1 = steal_ticks(), canary_ms()
    steal_s = None if steal0 is None or steal1 is None else \
        (steal1 - steal0) / os.sysconf("SC_CLK_TCK")

    res_path = work / "result.json"
    if code is None or not res_path.exists():
        print((work / "jvm.log").read_text()[-4000:], file=sys.stderr)
        fail("the JVM run " + ("timed out" if code is None else "wrote no result"), 1)
    res = json.loads(res_path.read_text())
    errors = list(res["errors"])
    attempted, failed = res["attempted"], res["failed"]

    orc = oracle.Oracle(str(data / "src"), str(data / "src_b"), res["oracle"],
                        ORACLE_THREADS, str(work / "tmp"))
    for ans in res["answers"]:
        why = orc.check_answer(ans)
        if why:
            failed += 1
            errors.append(why)
    dw_bad = orc.check_dw(res["dw"], res["versions"], lineitem_rows)
    errors += dw_bad
    failed = min(attempted, failed + len(dw_bad))
    error_rate = failed / attempted if attempted else 1.0

    metrics, missing = select_metrics(
        SPEC, a.trace, dict(res["layer"], error_rate=error_rate)
        if a.trace else res["metrics"])
    errors += missing
    correct = code == 0 and not errors and attempted > 0

    noise = {"steal_s": steal_s, "canary_before_ms": canary0,
             "canary_after_ms": canary1}
    phases = dict(res["phases"], launch=t_launch - start, jvm_end=t_jvm - start,
                  oracle_end=time.monotonic() - start)
    report = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "run_id": run_id, "correct": correct, "attempted": attempted,
              "failed": failed, "error_rate": error_rate, "errors": errors,
              "noise": noise, "metrics": res["metrics"], "layer": res["layer"],
              "samples": res["samples"], "phases": phases,
              "answers_checked": len(res["answers"]), "spans": res["spans"]}
    (BUILD / "reports").mkdir(parents=True, exist_ok=True)
    (BUILD / "reports" / f"{run_id}.json").write_text(
        json.dumps(report, allow_nan=False))
    for e in errors[:10]:
        print(f"perfbench: {e}", file=sys.stderr)
    print(json.dumps({"noise": noise, "error_rate": error_rate,
                      "answers_checked": len(res["answers"])}, allow_nan=False))
    print(result_line(correct, attempted, failed, metrics))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
