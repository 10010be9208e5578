#!/usr/bin/env python3
"""CDC ingest benchmark: Datastream Avro files -> CdcStream / CdcRouter ->
committed versions -> a downstream consumer, with correctness checks.

    python3 perfbench/run.py --workload cdc-trickle --seed 1 --seconds 15 --trace 0

builds the engine and the benchmark from source (sbt, once per source
change), runs one workload in one JVM at local[nproc], and prints the
result as the last stdout line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.

Other modes:
    --smoke             every workload at sf 0.001, both trace modes; exits
                        non-zero unless every run is correct
    --record-baseline   untraced + traced runs of every workload and one
                        snapshot-drain run at local[1]; writes baseline.json
"""
import argparse
import hashlib
import json
import pathlib
import shutil
import subprocess
import sys
import time

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = HERE / ".build"
WORK = HERE / ".work"
WORKLOADS = ["snapshot-drain", "cdc-trickle", "fleet-waves"]
RUN_TIMEOUT_S = 170
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_digest():
    """Hash of every input of the build, so a changed checkout rebuilds."""
    inputs = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
              HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src"):
        inputs += sorted(p for p in d.rglob("*") if p.is_file())
    h = hashlib.sha256()
    for p in inputs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile engine + benchmark with sbt; return the runtime classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail("engine sources not found next to the benchmark (expected ../build.sbt "
             "and ../src/main/scala)")
    digest = source_digest()
    stamp, cp_file = BUILD / "stamp", BUILD / "classpath"
    if stamp.is_file() and cp_file.is_file() and stamp.read_text() == digest:
        return cp_file.read_text().strip()
    BUILD.mkdir(parents=True, exist_ok=True)
    log = BUILD / "sbt.log"
    with open(log, "w") as out:
        rc = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, stdout=out, stderr=subprocess.STDOUT).returncode
    lines = [l.strip() for l in log.read_text().splitlines() if l.strip()]
    cp = next((l for l in reversed(lines) if ".jar" in l and "[" not in l[:1]), None)
    if rc != 0 or cp is None:
        fail(f"build failed (see {log})")
    cp_file.write_text(cp)
    stamp.write_text(digest)
    return cp


def jvm_heap():
    try:
        kb = next(int(l.split()[1]) for l in open("/proc/meminfo")
                  if l.startswith("MemTotal:"))
        return f"{max(2, min(4, kb // (4 * 1024 * 1024)))}g"
    except (OSError, StopIteration):
        return "3g"


def run_one(cp, workload, seed, seconds, trace, cores=None, sf=None,
            timeout=RUN_TIMEOUT_S):
    """One JVM run; returns (result dict, report dict) or exits non-zero."""
    work = WORK / workload
    shutil.rmtree(work, ignore_errors=True)
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    cmd = ["java", f"-Xmx{jvm_heap()}"]
    for o in JVM_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
            "-cp", cp, "graft.perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--work", str(work)]
    if cores:
        cmd += ["--cores", str(cores)]
    if sf:
        cmd += ["--sf", str(sf)]
    log = WORK / f"{workload}.log"
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE,
                                stderr=err, text=True)
        try:
            out, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"{workload} exceeded {timeout} s (see {log})")
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or not lines[-1].startswith('{"correct"'):
        sys.stdout.write(out)
        fail(f"{workload} failed with exit code {proc.returncode} (see {log})")
    report = next((json.loads(l) for l in lines if l.startswith('{"report"')), {})
    return lines, json.loads(lines[-1]), report


def smoke(cp):
    ok = True
    for w in WORKLOADS:
        for trace in (0, 1):
            _, res, rep = run_one(cp, w, 1, 3, trace, sf=0.001)
            bad = [c["check"] for c in rep.get("checks", []) if not c["ok"]]
            print(f"smoke {w} trace={trace}: correct={res['correct']} {bad or ''}")
            ok &= res["correct"]
    sys.exit(0 if ok else 1)


def record_baseline(cp, seed, seconds):
    runs = []
    for w in WORKLOADS:
        for trace in (0, 1):
            _, res, rep = run_one(cp, w, seed, seconds, trace)
            runs.append({"result": res, "report": rep})
    # one core makes this run several times longer than the others
    _, res, rep = run_one(cp, "snapshot-drain", seed, seconds, 0, cores=1, timeout=900)
    runs.append({"result": res, "report": rep, "note": "single-threaded reference, not gated"})
    summary = {}
    for w in WORKLOADS:
        plain = next(r for r in runs if r["report"]["report"] == w and not r["report"]["trace"]
                     and r["report"]["cores"] != 1)
        traced = next(r for r in runs if r["report"]["report"] == w and r["report"]["trace"])
        summary[w] = {
            "untraced_e2e": plain["report"]["e2e"],
            "traced_e2e": traced["report"]["e2e"],
            "tracing_overhead": {k: traced["report"]["e2e"][k] / v - 1
                                 for k, v in plain["report"]["e2e"].items() if v},
            "self_s": traced["report"]["extra"].get("self_s"),
            "largest_self_module": traced["report"]["extra"].get("largest_self_module"),
        }
    out = {"recorded": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
           "seed": seed, "seconds": seconds, "summary": summary, "runs": runs}
    (HERE / "baseline.json").write_text(json.dumps(out, indent=1) + "\n")
    print(json.dumps(summary, indent=1))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--record-baseline", action="store_true")
    a = ap.parse_args()
    if not (a.smoke or a.record_baseline or a.workload):
        ap.error("--workload is required")
    cp = build()
    if a.smoke:
        smoke(cp)
    if a.record_baseline:
        record_baseline(cp, a.seed, a.seconds)
        return
    lines, _, _ = run_one(cp, a.workload, a.seed, a.seconds, a.trace)
    print("\n".join(lines))


if __name__ == "__main__":
    main()
