#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload batch|ingest --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the harness (an
sbt project in this directory that depends on the root project) and
caches the DuckDB oracle results; later runs launch the harness JVM
directly. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the
metrics are BENCHMARK.json's end_to_end list, with --trace 1 its
per_layer list (from a run with a Spark listener and per-row job
groups).

Input tables come from GRAFT_TESTDATA (default ~/testdata; see the
repo's TESTDATA.md): one directory per scale (sf0.001, sf0.01, sf0.1).
Everything the run writes goes under .bench_build/ in the checkout.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import ingest_gen  # noqa: E402

WORK = os.path.join(ROOT, ".bench_build", "perfbench")
checks.TEMP_DIR = os.path.join(WORK, "duckdb-tmp")
DATA = os.environ.get("GRAFT_TESTDATA", os.path.expanduser("~/testdata"))
SCALES = ("sf0.001", "sf0.01", "sf0.1")
# local[3] on this 4-core box: with all 4 cores running tasks, JIT and GC
# threads contend with them, and passes were both slower and noisier
CPUS = 3
HEAP = "4g"
DEADLINE_S = 170  # a run must end within 180 s once built

WORKLOADS = ("batch", "ingest")
# the ingest backlog: copies of the documents at scale "sf", landing
# files, and files per micro-batch (see README.md for why)
INGEST = {"sf": "sf0.01", "copies": 3, "files": 12, "files_per_trigger": 4}
# JDK 17 module opens Spark needs outside spark-submit (as build.sbt)
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def fail(msg):
    log(f"perfbench: {msg}")
    sys.exit(1)


# -------------------------------------------------------------------- build

def source_fingerprint():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_proc(cmd, timeout, env=None, cwd=None, out=None):
    """Run `cmd` in its own process group; kill the group on timeout so
    no process outlives the run."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out or subprocess.PIPE,
                         stderr=subprocess.STDOUT, text=True, start_new_session=True)
    try:
        stdout, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} timed out after {timeout} s")
    return p.returncode, stdout


def build():
    """Compile the harness and the library; cache the classpath."""
    for need in (os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main")):
        if not os.path.exists(need):
            fail(f"no graft sources next to the benchmark ({need} is missing)")
    stamp = os.path.join(WORK, "build.json")
    fp = source_fingerprint()
    if os.path.exists(stamp):
        with open(stamp) as fh:
            b = json.load(fh)
        if b["fingerprint"] == fp:
            return b["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("perfbench: building harness + library with sbt")
    rc, out = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "printClasspath"],
                       timeout=600, env=env, cwd=HERE)
    cp = [l[len("CLASSPATH="):] for l in out.splitlines() if l.startswith("CLASSPATH=")]
    if rc != 0 or not cp:
        log(out[-4000:])
        fail("build failed")
    os.makedirs(WORK, exist_ok=True)
    with open(stamp, "w") as fh:
        json.dump({"fingerprint": fp, "classpath": cp[0]}, fh)
    return cp[0]


def java(cp, args, timeout, log_name):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", cp, "graft.perfbench.Main"] + args)
    with open(os.path.join(WORK, log_name), "w") as fh:
        rc, _ = run_proc(cmd, timeout=timeout, cwd=WORK, out=fh)
    if rc != 0:
        with open(os.path.join(WORK, log_name)) as fh:
            log(fh.read()[-4000:])
        fail(f"harness exited with {rc}")


def oracle_dump(cp):
    """The repo's oracle texts, the workloads' rows and the constants the
    checks need, as the harness dumps them (once per build)."""
    dump_path = os.path.join(WORK, "oracle_sql.json")
    stamp = os.path.join(WORK, "build.json")
    if not os.path.exists(dump_path) or os.path.getmtime(dump_path) < os.path.getmtime(stamp):
        java(cp, ["oracles", "--out", dump_path], timeout=120, log_name="oracles.log")
    with open(dump_path) as fh:
        return json.load(fh)


def oracle_setup(cp):
    """The oracle dump and the cached DuckDB results of every row a
    workload checks, built on the first run so that no later run pays
    for an oracle."""
    dump = oracle_dump(cp)
    for t in dump["tiers"].values():
        rows = [r for mod in t["modules"].values() for r in mod]
        checks.build_oracles(oracle_db(t["sf"]), os.path.join(DATA, t["sf"]), dump, rows, log=log)
    sf = INGEST["sf"]
    checks.build_oracles(oracle_db(sf), os.path.join(DATA, sf), dump,
                         ["q_quality_ensemble", "q_bpe_ids_bytes"], log=log)
    return dump


def oracle_db(sf):
    return os.path.join(WORK, f"oracles-{sf}.duckdb")


# ------------------------------------------------------------------ metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    for sf in SCALES:
        if not os.path.exists(os.path.join(DATA, sf, "documents.parquet")):
            fail(f"test tables not found under {DATA}/{sf} (set GRAFT_TESTDATA)")

    cp = build()
    dump = oracle_setup(cp)
    t_start = time.monotonic()
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    args = ["run", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--tables", DATA,
            "--work", run_dir, "--cpus", str(CPUS)]
    if a.workload == "ingest":
        data = os.path.join(DATA, INGEST["sf"])
        landing = os.path.join(run_dir, "landing")
        ingest_gen.generate(data, landing, a.seed,
                            INGEST["copies"], INGEST["files"])
        args += ["--data", data, "--landing", landing,
                 "--files-per-trigger", str(INGEST["files_per_trigger"])]
    java(cp, args, timeout=max(30, DEADLINE_S - 15 - (time.monotonic() - t_start)),
         log_name="run.log")
    with open(os.path.join(run_dir, "result.json")) as fh:
        res = json.load(fh)

    # ---- checks, outside the timed region
    m = {"start_s": res["start_s"], "setup_s": median(res["setup_s"]),
         "first_pass_s": res["first_pass_s"], "pass_s": median(res["pass_s"]),
         "op_p50_s": median(res["op_s"])}
    layers = dict(res["layers"])
    probe_bad = {}
    if a.workload == "ingest":
        attempted = res["passes"]
        db = oracle_db(INGEST["sf"])
        keep = checks.keep_ids(db, dump)
        want = ingest_gen.expected_ids(keep, INGEST["copies"])
        bad = {d: checks.check_shards(db, dump, d, want, ingest_gen.SHIFT)
               for d in res["shards"]}
        bad = {d: b for d, b in bad.items() if b}
        failed = res["failed_passes"] + len(bad)
        for d, b in bad.items():
            log(f"FAIL {d}: {'; '.join(b)}")
        if layers:
            layers["IngestPipeline.docs_per_s"] = median(res["docs_per_pass"][1:]) / m["pass_s"]
    else:
        passes = res["passes"]
        attempted = passes * len(res["rows"])
        # every row's output from pass 0, and the artifact rows' (and trace
        # probes') outputs written again after the steady passes
        bad, extra = {}, {}
        for phase, want in (("first", res["rows"]),
                            ("steady", res["checked_again"] + res["probes"])):
            outs = res["outputs"][phase]
            by_sf = {}
            for r, (sf, path) in outs.items():
                by_sf.setdefault(sf, {})[r] = path
            for sf, paths in by_sf.items():
                b, e = checks.check_rows(oracle_db(sf), os.path.join(DATA, sf), dump, paths)
                bad.update({r: f"{phase}: {why}" for r, why in b.items() if r not in bad})
                extra.update(e)
            for r in want:
                if r not in outs and r not in bad:
                    bad[r] = f"{phase}: no output written"
        # a trace probe is not a timed operation: a bad one only makes the
        # run incorrect
        probe_bad = {r: b for r, b in bad.items() if r in res["probes"]}
        bad = {r: b for r, b in bad.items() if r not in res["probes"]}
        for r, why in sorted(bad.items()):
            log(f"FAIL {r}: {why}")
        # a row with a wrong output fails every execution it had
        failed = sum(res["failures"].values()) + \
            sum(passes - res["failures"].get(r, 0) for r in bad)
        layers.update(extra)
    for e, why in res["errors"].items():
        log(f"ERROR {e}: {why}")

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    values = layers if a.trace else m
    metrics = {d["name"]: {"value": float(values.get(d["name"], 0.0)), "unit": d["unit"]}
               for d in wanted}
    # an operation that raised is counted in `failed`; a wrong output
    # also makes the run incorrect
    correct = not bad and not probe_bad
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
