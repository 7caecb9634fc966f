#!/usr/bin/env python3
"""The repository benchmark: one workload of graft queries, timed end to end
and (with --trace 1) layer by layer.

    python3 perfbench/run.py --workload fts_reports --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --pin        # regenerate perfbench/pins.json

Run it from the repository root. The first run builds the engine and the
harness from source with sbt (Spark from $SPARK_HOME); later runs reuse the
build while the sources are unchanged. The harness JVM writes a raw record,
which this script reduces to metrics (perfbench/metrics.py). The last line
of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}. A wrong row count or
fingerprint makes `correct` false and the exit code 1.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import metrics  # noqa: E402

BUILD = os.path.join(HERE, "target")
WORK = os.path.join(HERE, "work")
ENGINE_SRC = os.path.join(ROOT, "src", "main")
FIXTURES = os.path.join(HERE, "fixtures", "sf0.1")
JVM_TIMEOUT_S = 170
CORES = 4          # local[4]: the core count every recorded figure is measured at
SETUPS = 3         # set-ups per run unless a workload sets its own; setup_s is their median
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def load_json(path):
    with open(path) as f:
        return json.load(f)


def source_digest():
    """sha256 over every source the build compiles, in path order."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    if not env.get("SBT_OPTS"):
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    env.setdefault("COURSIER_MODE", "offline")
    return env


def run_bounded(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout or on
    interruption, and always waits for it."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except BaseException:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        raise


def build():
    """Compiles engine + harness when the sources changed; returns the
    runtime classpath."""
    digest = source_digest()
    stamp = os.path.join(BUILD, "perfbench.stamp")
    cp_file = os.path.join(BUILD, "perfbench.classpath")
    if os.path.isfile(stamp) and os.path.isfile(cp_file) and open(stamp).read() == digest:
        return open(cp_file).read()
    if not shutil.which("sbt"):
        raise SystemExit("perfbench: sbt is not on PATH")
    log("building engine and harness with sbt (first run only)")
    t = time.time()
    code, out = run_bounded(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}", "export Runtime/fullClasspath"],
        timeout=850, cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True)
    if code != 0:
        sys.stderr.write(out[-4000:])
        raise SystemExit(f"perfbench: build failed (sbt exit {code})")
    lines = [l for l in out.splitlines() if "scala-library" in l or "classes" in l]
    if not lines:
        raise SystemExit("perfbench: sbt printed no classpath")
    cp = lines[-1].strip()
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t:.0f} s")
    return cp


def java_cmd(cp, tmp, *args):
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m",
             "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", cp, "graft.perfbench.Harness", *args])


def pin(cfg):
    """Regenerates pins.json: (rows, sha256) of every workload key."""
    cp = build()
    keys = sorted({k for w in cfg["workloads"].values() for k in w["keys"]})
    os.makedirs(WORK, exist_ok=True)
    out = os.path.join(HERE, "pins.json")
    code, _ = run_bounded(java_cmd(cp, WORK, "pin", FIXTURES, ",".join(keys), WORK, out),
                          timeout=3600, cwd=ROOT)
    return code


def fmt(v):
    return "n/a" if v is None else f"{v:.6g}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin", action="store_true", help="regenerate pins.json and exit")
    a = ap.parse_args()
    # a terminated run still stops the harness JVM (see run_bounded)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ENGINE_SRC, "scala", "graft", "SparkEntry.scala")):
        log(f"engine sources not found under {ENGINE_SRC}; run from a full checkout")
        return 2
    cfg = load_json(os.path.join(HERE, "config.json"))
    if a.pin:
        return pin(cfg)
    pins = load_json(os.path.join(HERE, "pins.json"))
    try:
        metrics.validate_config(cfg, pins)
    except metrics.ConfigError as e:
        log(f"config: {e}")
        return 2
    if a.workload not in cfg["workloads"]:
        log(f"unknown workload {a.workload!r}; known: {', '.join(cfg['workloads'])}")
        return 2
    w = cfg["workloads"][a.workload]
    bench = load_json(os.path.join(ROOT, "BENCHMARK.json"))
    layer_names = [m["name"] for m in bench["per_layer"]]

    cp = build()
    os.makedirs(WORK, exist_ok=True)
    run_dir = os.path.join(WORK, f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    spec = {
        "fixtures": FIXTURES, "keys": w["keys"],
        "sink": w["sink"], "artifacts": w["artifacts"], "seed": a.seed,
        "seconds": a.seconds, "trace": bool(a.trace), "work_dir": run_dir,
        "cores": CORES, "setups": w.get("setups", SETUPS),
        "pins": {k: pins[k] for k in w["keys"]},
    }
    spec_file = os.path.join(run_dir, "spec.json")
    record_file = os.path.join(WORK, f"record-{a.workload}-s{a.seed}-t{a.trace}.json")
    with open(spec_file, "w") as f:
        json.dump(spec, f)
    # the harness's own budget starts after the build, so a rebuild cannot
    # time out a measurement
    try:
        code, _ = run_bounded(java_cmd(cp, run_dir, "run", spec_file, record_file),
                              timeout=JVM_TIMEOUT_S, cwd=ROOT)
    except subprocess.TimeoutExpired:
        log(f"harness exceeded {JVM_TIMEOUT_S} s")
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if code != 0:
        log(f"harness exited {code}")
        return 1
    record = load_json(record_file)
    attempted, failed, errors = metrics.outcome(record)
    e2e = metrics.end_to_end(record)
    for e in errors:
        log(f"FAILED {e}")
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    print(f"workload {a.workload} seed {a.seed}: {attempted} executions, {failed} failed "
          f"(failed_ratio {failed / attempted:.4g})")
    for k, v in e2e.items():
        print(f"  {k:<22} {fmt(v):>12} {units.get(k, 's' if k.endswith('_s') else '')}")
    print(f"  host.other_cpu_share   {fmt(record['host'].get('other_cpu_share'))}"
          f"    process core use {fmt(record['proc_core_util'])}")
    if a.trace:
        layers = metrics.per_layer(record, CORES)
        trace_file = os.path.join(WORK, f"trace-{a.workload}-s{a.seed}.json")
        with open(trace_file, "w") as f:
            json.dump(record.get("spans", []), f)
        print(f"  per layer (traced passes; spans in {os.path.relpath(trace_file, ROOT)}):")
        for k in sorted(layers):
            print(f"    {k:<26} {fmt(layers[k]):>12} {units.get(k, '')}")
        out = {k: layers[k] for k in layer_names}
    else:
        out = {m["name"]: e2e[m["name"]] for m in bench["end_to_end"]}
    result = {
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in out.items()},
    }
    print(json.dumps(result))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
