#!/usr/bin/env python3
"""graft's benchmark: run one workload, check its outputs, print its metrics.

    python3 perfbench/run.py --workload build|ann_serve_ingest \
        --seed N --seconds S --trace 0|1

Run it from the root of a graft checkout. The first run builds the
benchmark JVM (graft and this directory's Scala sources, through
perfbench/build.sbt); later runs reuse the build while the sources are
unchanged. The last line of standard output is one JSON object with the
keys correct, attempted, failed and metrics. With --trace 0 the metrics are
the end-to-end metrics of BENCHMARK.json, with --trace 1 its per-layer
metrics. The line before it records the host and the seed.

Extra option, for maintaining the benchmark:
    --write-ref   store this build run's table digests as the reference
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".bench"
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 165
HEAP = "2g"
WORKLOADS = ("build", "ann_serve_ingest")
REF_DIR = HERE / "ref"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the benchmark JVM is built from."""
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for d in (ROOT / "project", HERE / "project"):
        files += sorted(d.glob("*.sbt")) + sorted(d.glob("*.properties"))
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def build():
    """Compile graft and the benchmark unless the last build is current."""
    stamp = WORK / "build.stamp"
    args_file = HERE / "target" / "launch.args"
    digest = source_hash()
    if args_file.exists() and stamp.exists() and stamp.read_text() == digest:
        return args_file
    WORK.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env["SPARK_DRIVER_MEM"] = HEAP
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.offline=true -Xmx2g")
    (WORK / "tmp").mkdir(exist_ok=True)
    env["SBT_OPTS"] += (" -Dsbt.server.autostart=false"
                        f" -Djava.io.tmpdir={WORK / 'tmp'}")
    log = WORK / "build.log"
    with open(log, "w") as out:
        code = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                          "perfbench/launchArgs"], HERE, env, out,
                         BUILD_TIMEOUT_S)
    if code != 0 or not args_file.exists():
        fail(f"build failed (exit {code}); see {log}")
    stamp.write_text(digest)
    return args_file


def run_group(cmd, cwd, env, out, timeout):
    """Run cmd in its own process group; on timeout stop the whole group.
    Returns the exit code, or None after a timeout. Waits for the end."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out,
                            stderr=subprocess.STDOUT, start_new_session=True)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGTERM)
        try:
            proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        return None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def load_ref(workload):
    path = REF_DIR / f"{workload}.json"
    return json.loads(path.read_text()) if path.exists() else None


def judge(raw, ref):
    """Check a raw record against its reference. Returns (attempted,
    failed, matched_share, failures): every operation that threw or
    returned short counts, and on build every table whose rows or digest
    differ from the reference, or that is missing or unreferenced."""
    ops = raw["ops"]
    failures = [f"{o['kind']} {o['name']}: {o['error']}" for o in ops if o["error"]]
    attempted = len(ops)
    if raw["workload"] == "build":
        want = ref["outputs"]
        got = {o["name"]: o for o in ops if o["kind"] == "table"}
        matched = 0
        for name, w in want.items():
            o = got.get(name)
            if o is None:
                failures.append(f"table {name}: not built")
                attempted += 1
            elif o["error"]:
                pass
            elif (o["rows"], o["digest"]) != (w["rows"], w["digest"]):
                failures.append(f"table {name}: rows/digest {o['rows']}/{o['digest']}"
                                f" != reference {w['rows']}/{w['digest']}")
            else:
                matched += 1
        failures += [f"table {n}: not in the reference" for n in got if n not in want]
        share = matched / len(want)
    else:
        hits, total = raw["recall"]["hits"], raw["recall"]["total"]
        share = hits / total if total else 0.0
    return attempted, len(failures), share, failures


def end_to_end(raw, attempted, failed, share):
    """Every end-to-end metric, from an untraced run."""
    latency = [o["sec"] for o in raw["ops"]
               if o["kind"] in ("build", "request") and not o["error"]]
    visible = raw["visible"]
    return {
        "setup_s": statistics.median(raw["setup_s"]),
        "op_p50_s": statistics.median(latency) if latency else 0.0,
        "visible_p50_s": statistics.median(visible) if visible else 0.0,
        "result_recall": share,
        "ok_frac": 1.0 - failed / attempted if attempted else 0.0,
    }


def report(raw, ref, spec, trace):
    """The contract's result object for one raw record."""
    attempted, failed, share, failures = judge(raw, ref)
    for f in failures:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    if trace:
        defs = spec["per_layer"]
        values = raw["layers"]
    else:
        defs = spec["end_to_end"]
        values = end_to_end(raw, attempted, failed, share)
    metrics = {d["name"]: {"value": float(values.get(d["name"], 0.0)),
                           "unit": d["unit"]} for d in defs}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def write_ref(raw):
    outputs = {o["name"]: {"rows": o["rows"], "digest": o["digest"]}
               for o in raw["ops"] if o["kind"] == "table" and not o["error"]}
    REF_DIR.mkdir(exist_ok=True)
    path = REF_DIR / f"{raw['workload']}.json"
    path.write_text(json.dumps({"outputs": dict(sorted(outputs.items()))},
                               indent=1) + "\n")
    print(f"perfbench: wrote {path}", file=sys.stderr)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-ref", action="store_true")
    a = ap.parse_args()

    spec_path = ROOT / "BENCHMARK.json"
    if not (spec_path.exists() and (ROOT / "build.sbt").exists()
            and (ROOT / "src" / "main" / "scala" / "graft").is_dir()):
        fail(f"{ROOT} is not a graft checkout (BENCHMARK.json, build.sbt "
             "and src/main/scala/graft are needed)")
    spec = json.loads(spec_path.read_text())
    # build is checked against stored digests; ann_serve_ingest computes its
    # exact reference in the run
    if a.write_ref and a.workload != "build":
        fail("--write-ref applies to the build workload only")
    ref = load_ref(a.workload)
    if ref is None and a.workload == "build" and not a.write_ref:
        fail(f"no reference for build in {REF_DIR}")
    args_file = build()
    work = WORK / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    out = work / "raw.json"
    cmd = ["java", f"@{args_file}", f"-Djava.io.tmpdir={work / 'tmp'}",
           "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--work", str(work), "--out", str(out)]
    # Spark's local files stay in the run's directory whatever the environment
    env = dict(os.environ, SPARK_GRAFT_BUILD_LOG="0",
               SPARK_LOCAL_DIRS=str(work / "spark-local"))
    started = time.time()
    log = WORK / f"{a.workload}-{a.seed}-{a.trace}.log"
    try:
        with open(log, "w") as f:
            code = run_group(cmd, ROOT, env, f, RUN_TIMEOUT_S)
        if code != 0 or not out.exists():
            fail(f"benchmark JVM {'timed out' if code is None else f'exited {code}'}"
                 f" after {time.time() - started:.0f} s; see {log}")
        raw = json.loads(out.read_text())
        shutil.copy(out, WORK / f"{a.workload}-{a.seed}-{a.trace}.raw.json")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if a.write_ref:
        write_ref(raw)
        ref = load_ref(a.workload)
    context = dict(raw["context"], workload=a.workload, trace=a.trace,
                   measure_s=raw["measure_s"], setup_runs_s=raw["setup_s"])
    print("perfbench context: " + json.dumps(context, sort_keys=True))
    print(json.dumps(report(raw, ref, spec, a.trace)))


if __name__ == "__main__":
    main()
