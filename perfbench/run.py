#!/usr/bin/env python3
"""The repository's benchmark: one seeded run of one workload.

    python3 perfbench/run.py --workload curation_dup --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine and the
benchmark driver from source (sbt, offline) into ``.perfbench/``; later runs
reuse the build while the sources are unchanged. Inputs are generated from
the seed (``gen.py``) and cached per seed. The JVM driver (``scala/``) sets
up, warms up and measures; this script then checks correctness in DuckDB
(``oracle.py``) and derives the metrics (``metrics.py``).

Standard output: one line of details (tail percentiles and their sample
counts, input properties, correctness checks), then, as the last line, the
result: ``{"correct", "attempted", "failed", "metrics"}`` with the
end-to-end metrics (``--trace 0``) or the per-layer metrics (``--trace 1``)
named in BENCHMARK.json.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
ENGINE_SOURCES = [os.path.join(ROOT, "src", "main", "scala"),
                  os.path.join(ROOT, "src", "main", "resources")]
DRIVER_SOURCES = [os.path.join(HERE, "scala"), os.path.join(HERE, "build.sbt"),
                  os.path.join(HERE, "project", "build.properties")]
CORPUS = {"curation_dup": "dup", "curation_distinct": "distinct"}
# Same module openings the engine's own build passes to its forked JVMs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
HEAP = "2g"
ARCHIVE = os.path.join(STATE, "build", "driver.jsa")
DEADLINE_S = 170  # every run ends within 180 s once the build exists

sys.path.insert(0, HERE)
import gen  # noqa: E402
import metrics  # noqa: E402


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    for top in ENGINE_SOURCES + DRIVER_SOURCES:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            with open(p, "rb") as f:
                h.update(os.path.relpath(p, ROOT).encode() + b"\0" + f.read())
    return h.hexdigest()


def build():
    """Compile and package engine + driver with sbt unless the sources are
    unchanged. Returns the classpath."""
    out = os.path.join(STATE, "build")
    stamp_file, cp_file = os.path.join(out, "stamp"), os.path.join(out, "classpath")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    log("building engine and driver (sbt)")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "package", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=600)
    lines = proc.stdout.strip().splitlines()
    cp = lines[-1].strip() if lines else ""
    if proc.returncode != 0 or not cp.split(":")[0].endswith(".jar"):
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed", 3)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    return cp


def inputs_for(seed):
    """Generated inputs for ``seed``, made once and cached."""
    d = os.path.join(STATE, "inputs", str(seed))
    if not os.path.exists(os.path.join(d, "props.json")):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.generate(seed, tmp)
        shutil.rmtree(d, ignore_errors=True)
        os.replace(tmp, d)
    with open(os.path.join(d, "props.json")) as f:
        return d, json.load(f)


def run_driver(cp, args, inputs, work, cores, budget_s):
    out = os.path.join(work, "result.json")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    # class-data sharing halves the JVM's cold start: the first run after a
    # build records the archive as it exits, later runs map it
    if os.path.exists(ARCHIVE):
        cmd.append(f"-XX:SharedArchiveFile={ARCHIVE}")
    else:
        cmd.append(f"-XX:ArchiveClassesAtExit={ARCHIVE}")
    # fixed generation sizes and a stop-the-world collector: the heap grows
    # the same way from run to run (peak_rss_mb), and no concurrent GC
    # threads compete with the local[nproc] task threads. Generated classes
    # fill the metaspace; at the default threshold that forced a 0.3 s full
    # collection in the middle of the ledger calls, at a varying call.
    cmd += ["-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy", f"-Xms{HEAP}", f"-Xmx{HEAP}",
            "-Xmn512m", "-XX:MetaspaceSize=512m",
            "-Duser.timezone=UTC", f"-Djava.io.tmpdir={work}/tmp",
            f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
            "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed), "--inputs", inputs,
            "--work", work, "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(cores), "--out", out]
    with open(os.path.join(work, "driver.log"), "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = proc.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"driver exceeded {budget_s:.0f} s; log in {work}/driver.log", 4)
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(work, "driver.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"driver exited with {rc}", 5)
    with open(out) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(CORPUS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    missing = [p for p in ENGINE_SOURCES if not os.path.isdir(p)]
    if missing:
        fail(f"engine sources not found ({', '.join(missing)}); run from a full checkout")

    cp = build()
    t_start = time.time()  # the first run's build has its own, longer allowance
    if not os.path.exists(ARCHIVE):
        t_start += 60  # and so has recording the archive
    import oracle  # DuckDB is only needed once there is something to check

    inputs, props = inputs_for(args.seed)
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(STATE, "run", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    budget = max(30.0, DEADLINE_S - (time.time() - t_start) - 15)
    t_driver = time.time()
    r = run_driver(cp, args, inputs, work, cores, budget)
    t_checks = time.time()

    corpus = CORPUS[args.workload]
    expected = oracle.expected_hashes(
        os.path.join(inputs, corpus), r["oracle_sql"],
        os.path.join(inputs, f"expected_{corpus}.json"))
    oracle_s = time.time() - t_checks
    checks = oracle.check_curation(r["results_dir"], expected)
    ledger_checks, live_rows = oracle.check_ledger(inputs, r)
    checks += ledger_checks
    checks += [("driver.error", False, e) for e in r["result_errors"]]

    phases = r["phases"]
    calls = sum(len(ph["ops"]) + sum(len(p["queries"]) for p in ph["passes"]) for ph in phases)
    failed_calls = sum(1 for ph in phases for o in ph["ops"] if not o["ok"])
    attempted = calls + len(checks)
    failed = failed_calls + sum(1 for _, ok, _ in checks if not ok)
    docs = props[corpus]["docs"]
    e2e, details = metrics.end_to_end(r, phases[0], live_rows, docs)
    if args.trace:
        e2e_traced, _ = metrics.end_to_end(r, phases[1], live_rows, docs)
        row_b = props["ledger"]["bytes"] / props["ledger"]["rows"]
        out = metrics.per_layer(r, phases[1], e2e, e2e_traced, row_b)
        details["self_time_coverage"] = metrics.self_time_coverage(phases[1]["layers"])
        details["traced_end_to_end"] = {k: v for k, (v, _) in e2e_traced.items()}
    else:
        out = e2e
    details.update({
        "workload": args.workload, "seed": args.seed, "cores": cores, "heap_mb": r["heap_mb"],
        "setup_reps_s": r["setup_reps_s"], "warmup_s": r["warmup_s"],
        "warmup_parts_s": r["warmup_parts_s"],
        "ops_failed_frac": failed / attempted, "driver_errors": r["errors"],
        "failed_checks": [(n, d) for n, ok, d in checks if not ok],
        "checks": len(checks), "inputs": {k: props[k] for k in ("ledger", "ingest", corpus)},
    })
    details["driver_s"] = round(t_checks - t_driver, 1)
    details["checks_s"] = round(time.time() - t_checks, 1)
    details["oracle_s"] = round(oracle_s, 1)
    print(json.dumps({"details": details}, sort_keys=True))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out.items()},
    }))


if __name__ == "__main__":
    main()
