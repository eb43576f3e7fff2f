#!/usr/bin/env python3
"""The graft benchmark: one workload, one seed, one JSON line of metrics.

    python3 perfbench/run.py --workload flagship|inventory \
        --seed N --seconds S --trace 0|1 [--tiny 1] [--sabotage 1]

Run from the repository root. The first run in a checkout builds the
harness and the engine from source (sbt, in perfbench/) and prepares the
fixed inputs: the inventory and serve tables and the DuckDB oracle rows for
the inventory. Later runs reuse them until a source file changes.

Each run starts a fresh JVM at local[nproc]. With --trace 0 the last line of
stdout holds the workload's end-to-end metrics. With --trace 1 that JVM runs
flagship, serve (the HTTP serving loop, measured only here) and inventory
with spans and Spark counters on, so every traced run prints the same
per-layer metrics; each measures its own tracing overhead there by
alternating traced and untraced work, and a second JVM at local[1] gives the
flagship scaling figure. --tiny 1 uses small inputs; --sabotage 1
makes one expected value per workload wrong, which must show as a failure
(the self-test uses both).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala", "graft")
WORK = os.path.join(ROOT, ".bench_build", "perfbench")

sys.path.insert(0, HERE)
import gen_tables  # noqa: E402
import oracles  # noqa: E402

WORKLOADS = ("flagship", "inventory")
END_TO_END = {"setup_s": "s", "throughput_per_s": "1/s", "p50_ms": "ms", "tail_ms": "ms"}
DATA_SEED = 42  # inventory and serve tables are fixed; their seed picks order and requests
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"# {msg}", flush=True)


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)
    sys.exit(2)


def nproc():
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def digest(paths):
    h = hashlib.sha256()
    for f in paths:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def stamps():
    """(build stamp, data stamp): the build follows every source file; the
    prepared tables and oracle rows follow the engine and their generators."""
    engine = sorted(glob.glob(os.path.join(ENGINE_SRC, "**", "*.*"), recursive=True))
    data = [os.path.join(HERE, f) for f in ("gen_tables.py", "oracles.py")] + [
        os.path.join(HERE, "src", "main", "scala", "perfbench", "Inventory.scala")]
    harness = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.*"), recursive=True)) + [
        os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    return digest(engine + harness), digest(engine + data)


def refresh(name, stamp, paths):
    """Delete `paths` under WORK when the stamp called `name` changed."""
    f = os.path.join(WORK, name)
    if (open(f).read() if os.path.exists(f) else "") != stamp:
        for p in paths:
            p = os.path.join(WORK, p)
            if os.path.isdir(p):
                shutil.rmtree(p)
            elif os.path.exists(p):
                os.remove(p)
        with open(f, "w") as fh:
            fh.write(stamp)


def build():
    """sbt compile + class path export, unless a build for these sources exists."""
    cp_file = os.path.join(WORK, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    log("building harness and engine (sbt)")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=800)
    lines = [l for l in p.stdout.splitlines() if l.strip() and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    log(f"built in {time.time() - t0:.1f}s")
    return lines[-1].strip()


def java_cmd(cp, run_dir, heap):
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java"] + opens +
            [f"-Xms{heap}", f"-Xmx{heap}", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
             "-XX:-UsePerfData", "-cp", cp, "perfbench.Main"])


def heap():
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(l for l in f if l.startswith("MemTotal")).split()[1])
        return f"{max(2, min(4, kb // (3 * 1024 * 1024)))}g"
    except (OSError, StopIteration, ValueError):
        return "4g"


def jvm(cp, workload, seed, seconds, trace, run_dir, tables, cores, tiny, sabotage, timeout):
    """Run one harness JVM; return its result.json as a dict."""
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    cmd = java_cmd(cp, run_dir, heap()) + [
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", "1" if trace else "0", "--work", run_dir, "--tables", tables,
        "--cores", str(cores), "--tiny", "1" if tiny else "0",
        "--sabotage", "1" if sabotage else "0"]
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        p = subprocess.run(cmd, stdout=logf, stderr=subprocess.STDOUT, timeout=timeout)
    res = os.path.join(run_dir, "result.json")
    if p.returncode != 0 or not os.path.exists(res):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-3000:])
        fail(f"{workload} JVM exited with {p.returncode}")
    with open(res) as f:
        return json.load(f)


def prepare(cp, tiny):
    """Fixed inputs for inventory and serve, and the inventory's oracle rows."""
    inv_sf, serve_sf = ("0.001", "0.001") if tiny else ("0.01", "0.1")
    tables = os.path.join(WORK, "tables")
    for sf in sorted({inv_sf, serve_sf}):
        d = os.path.join(tables, f"sf{sf}")
        if not os.path.exists(os.path.join(d, "DONE")):
            gen_tables.write(d, float(sf), DATA_SEED,
                             only=None if sf == inv_sf else {"events"})
            open(os.path.join(d, "DONE"), "w").close()
    expected = os.path.join(WORK, "expected", f"sf{inv_sf}")
    if not os.path.exists(os.path.join(expected, "DONE")):
        log(f"computing inventory oracle rows at sf{inv_sf} (DuckDB)")
        t0 = time.time()
        run_dir = os.path.join(WORK, "runs", "oracles")
        jvm(cp, "oracles", 0, 0, False, run_dir, tables, nproc(), tiny, False, 600)
        shutil.rmtree(expected, ignore_errors=True)
        oracles.expected_rows(os.path.join(tables, f"sf{inv_sf}"),
                              os.path.join(run_dir, "oracle_sql.json"), expected, nproc())
        open(os.path.join(expected, "DONE"), "w").close()
        log(f"oracle rows in {time.time() - t0:.1f}s")
    return tables, expected


def one_run(cp, a, tables, expected):
    """The workload's JVM (traced: every workload's layers), plus the
    inventory's oracle comparison."""
    cores = nproc()
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-{a.trace}")
    res = jvm(cp, a.workload, a.seed, a.seconds, a.trace, run_dir, tables, cores,
              a.tiny, a.sabotage, 170)
    failures = list(res["failures"])
    if a.workload == "inventory" or a.trace:
        bad = oracles.compare_expected(os.path.join(run_dir, "inventory_out"), expected,
                                       sabotage=a.sabotage)
        failures += [f"{k}: {v}" for k, v in sorted(bad.items()) if v]
        res["attempted"] += len(bad)
    res["failures"] = failures
    return res


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sabotage", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    a.tiny, a.sabotage = bool(a.tiny), bool(a.sabotage)
    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources not found under {os.path.relpath(ENGINE_SRC, ROOT)}; "
             "run from a full checkout")
    os.makedirs(WORK, exist_ok=True)
    build_stamp, data_stamp = stamps()
    refresh("build.stamp", build_stamp, ["classpath.txt"])
    refresh("data.stamp", data_stamp, ["tables", "expected"])
    cp = build()
    tables, expected = prepare(cp, a.tiny)

    res = one_run(cp, a, tables, expected)
    results = [res]
    if a.trace:
        metrics = dict(res["metrics"])
        run_dir = os.path.join(WORK, "runs", f"flagship1-{a.seed}")
        one = jvm(cp, "flagship1", a.seed, a.seconds, False, run_dir, tables, 1,
                  a.tiny, False, 170)
        results.append(one)
        r1 = one["metrics"]["flagship.rows_per_s_1core"]["value"]
        metrics["flagship.rows_per_s_1core"] = {"value": r1, "unit": "1/s"}
        metrics["flagship.scaling_eff"] = {
            "value": metrics["flagship.rows_per_s"]["value"] / (nproc() * r1), "unit": "ratio"}
    else:
        metrics = {k: res["metrics"][k] for k in END_TO_END}

    for r in results:
        log("env " + json.dumps(r["env"], sort_keys=True))
        for f in r["failures"][:20]:
            log(f"FAILED {f}")
    attempted = sum(r["attempted"] for r in results)
    failed = sum(len(r["failures"]) for r in results)
    for name, m in metrics.items():
        log(f"{name} = {m['value']} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
