#!/usr/bin/env python3
"""Run one benchmark workload against the engine and print its result.

    python3 perfbench/run.py --workload ingest|rebuild --seed N \\
        --seconds S --trace 0|1

Run from the root of a source checkout. The first run builds the engine
and the harness with sbt (offline) and caches the classpath under
``.perfbench/``; later runs launch the harness JVM directly. The harness
(``perfbench/src``) runs the workload and writes its outcome; this script
then checks the engine's output against an independent DuckDB reference
(``check.py``) and prints, as its last stdout line, one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics`` — the end-to-end
metrics of ``BENCHMARK.json`` with ``--trace 0``, its per-layer metrics
with ``--trace 1``. The full artifact (parameters, noise controls, layer
table, spans) goes to ``.perfbench/artifacts/``.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
STATE = ROOT / ".perfbench"
BUILD_TIMEOUT_S = 800
RUN_TIMEOUT_S = 170
FIRST_RUN_TIMEOUT_S = 890
JVM_HEAP = "2g"

# Spark on JDK 17 outside spark-submit needs the module opens the root
# build passes to its forked JVMs.
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


def sources():
    """Every file the build reads, in a stable order."""
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def build():
    """Compile the engine and the harness; return the runtime classpath."""
    digest = hashlib.sha256()
    for f in sources():
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    stamp = digest.hexdigest()
    out = STATE / "build"
    cp_file, stamp_file = out / "classpath", out / "stamp"
    if stamp_file.is_file() and stamp_file.read_text() == stamp and cp_file.is_file():
        return cp_file.read_text(), False
    out.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = out / "sbt.log"
    with open(log, "w") as fh:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "export perfbench/Runtime/fullClasspath"],
                       HERE, env, fh, BUILD_TIMEOUT_S)
    lines = log.read_text().splitlines()
    cp = [ln for ln in lines if "perfbench" in ln and ln.count(os.pathsep) > 2 and not ln.startswith("[")]
    if rc != 0 or not cp:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (rc={rc}); log at {log}")
    cp_file.write_text(cp[-1].strip())
    stamp_file.write_text(stamp)
    return cp[-1].strip(), True


def run_group(cmd, cwd, env, out, timeout):
    """Run `cmd` in its own process group; kill the whole group on timeout
    and wait for it, so no process outlives the benchmark."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=max(timeout, 1))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def harness(cp, args, work, timeout):
    out = work / "result.json"
    tmp = STATE / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main"] + args
           + ["--work", str(work), "--out", str(out)])
    with open(work / "jvm.log", "w") as fh:
        rc = run_group(cmd, work, dict(os.environ), fh, timeout)
    if rc != 0 or not out.is_file():
        tail = (work / "jvm.log").read_text(errors="replace").splitlines()[-40:]
        sys.stderr.write("\n".join(tail) + "\n")
        fail(f"harness {'timed out' if rc is None else f'exited {rc}'}")
    return json.loads(out.read_text())


def select_metrics(spec, emitted, trace):
    """The metrics BENCHMARK.json names for this mode, from what the
    harness emitted; a missing, mis-united or non-finite one is an error."""
    wanted = spec["per_layer" if trace else "end_to_end"]
    picked = {}
    for m in wanted:
        got = emitted.get(m["name"])
        if got is None:
            raise ValueError(f"harness emitted no metric {m['name']}")
        if got["unit"] != m["unit"]:
            raise ValueError(f"metric {m['name']} has unit {got['unit']}, BENCHMARK.json says {m['unit']}")
        v = got["value"]
        if v is None or not math.isfinite(v):
            raise ValueError(f"metric {m['name']} is not a finite number: {v}")
        picked[m["name"]] = {"value": v, "unit": m["unit"]}
    return picked


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t0 = time.monotonic()

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no engine sources under {ROOT} (expected build.sbt and src/main/scala)")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {a.workload!r}")
    if a.seconds < 1:
        fail("--seconds must be at least 1")

    cp, built = build()
    tag = f"{a.workload}-{a.seed}-t{a.trace}"
    work = STATE / "run" / tag
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    # a run may take RUN_TIMEOUT_S, the one that builds FIRST_RUN_TIMEOUT_S;
    # keep a few seconds for the check below
    limit = FIRST_RUN_TIMEOUT_S if built else RUN_TIMEOUT_S
    budget = limit - (time.monotonic() - t0) - 8
    res = harness(cp, ["--workload", a.workload, "--seed", str(a.seed),
                       "--seconds", str(a.seconds), "--trace", str(a.trace)], work, budget)

    import check  # DuckDB is only needed once there is something to check
    attempted, failed = int(res["attempted"]), int(res["failed"])
    c = res["check"]
    output = Path(c["output"])
    if output.is_dir() and any(output.glob("*.parquet")):
        bad, n_ref, n_out = check.compare(f"{c['log']}/*.parquet", f"{output}/*.parquet")
    else:
        bad, n_ref, n_out = -1, None, 0
    if bad != 0:
        # ingest: the final state is the product of every trigger; rebuild:
        # the checked shard set is the last rebuild's
        failed = min(attempted, failed + (attempted if c["kind"] == "ingest" else 1))
    res["check"].update(mismatched_rows=bad, reference_rows=n_ref, output_rows=n_out)

    try:
        metrics = select_metrics(spec, res["metrics"], a.trace)
    except ValueError as e:
        fail(str(e))
    arts = STATE / "artifacts"
    arts.mkdir(parents=True, exist_ok=True)
    if a.trace:
        base = arts / f"{a.workload}-{a.seed}-t0.json"
        if base.is_file():
            untraced = json.loads(base.read_text())["artifact"]["end_to_end"]
            traced = res["artifact"]["end_to_end"]
            res["artifact"]["trace_overhead"] = {
                k: {"untraced": untraced[k]["value"], "traced": traced[k]["value"],
                    "delta": traced[k]["value"] - untraced[k]["value"], "unit": traced[k]["unit"]}
                for k in traced if k in untraced and traced[k]["value"] is not None
                and untraced[k]["value"] is not None}
    (arts / f"{tag}.json").write_text(json.dumps(res, indent=1))
    shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"correct": failed == 0 and bad == 0, "attempted": max(attempted, 1),
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
