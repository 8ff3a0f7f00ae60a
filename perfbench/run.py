"""Benchmark of the graft CDC engine: backfill, incremental and query_suite.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine together
with the harness (sbt, offline) into the work directory; later runs reuse
the build while the sources are unchanged. The last line of standard output
is the result: {"correct", "attempted", "failed", "metrics"}, with the
end-to-end metrics of BENCHMARK.json when --trace 0 and its per-layer
metrics when --trace 1. The line before it is the full report: every metric
the workload measured, the checks, and the host record.
"""
import argparse
import glob
import hashlib
import json
import os
import subprocess
import sys
import time

sys.dont_write_bytecode = True

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)

WORKLOADS = ("backfill", "incremental", "query_suite")
# the project's reference test data at scale 0.01 (TESTDATA.md), copied into
# the benchmark's directory so that a run reads nothing outside its checkout
QUERY_DATA = os.path.join(BENCH_DIR, "data", "sf0.01")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

SBT_OPTS = ("-Dsbt.override.build.repos=true -Dsbt.repository.config={home}/.sbt/repositories "
            "-Dsbt.offline=true -Dsbt.server.autostart=false -Djava.io.tmpdir={tmp} "
            "-XX:-UsePerfData -Xmx2g")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def work_dir():
    return os.path.abspath(os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build")))


# ---------------------------------------------------------------------------
# build
# ---------------------------------------------------------------------------

def _source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH_DIR, "src")]
    for r in roots:
        for d, _, files in os.walk(r):
            for f in files:
                yield os.path.join(d, f)
    yield os.path.join(BENCH_DIR, "build.sbt")
    yield os.path.join(BENCH_DIR, "project", "build.properties")


def build():
    """Compile engine + harness; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise BenchError(f"no engine sources under {ROOT}/src/main/scala; run from a checkout")
    h = hashlib.sha256()
    for f in sorted(_source_files()):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    bdir = os.path.join(work_dir(), "build")
    cp_file = os.path.join(bdir, "classpath.txt")
    stamp_file = os.path.join(bdir, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    os.makedirs(bdir, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    os.makedirs(os.path.join(work_dir(), "tmp"), exist_ok=True)
    env["SBT_OPTS"] = SBT_OPTS.format(home=os.path.expanduser("~"),
                                      tmp=os.path.join(work_dir(), "tmp"))
    log("building engine + harness with sbt (offline)")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "package", "export Runtime/fullClasspath"],
        cwd=BENCH_DIR, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True,
        timeout=BUILD_TIMEOUT_S)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise BenchError(f"build failed (exit {p.returncode})")
    # the packaged jar in place of the classes directory: a class-data-sharing
    # archive accepts jars only
    target = os.path.join(BENCH_DIR, "target", "scala-2.13")
    jar = glob.glob(os.path.join(target, "perfbench_*.jar"))[0]
    classes = os.path.join(target, "classes")
    cp = ":".join(jar if e == classes else e for e in lines[-1].strip().split(":"))
    with open(cp_file, "w") as fh:
        fh.write(cp)
    # a class-data-sharing archive of the classes a toy run loads: it
    # halves JVM and Spark start-up in every later run
    jsa = cds_archive()
    if os.path.exists(jsa):
        os.remove(jsa)
    try:
        run_jvm(java_cmd(cp, [f"-XX:ArchiveClassesAtExit={jsa}"])
                + jvm_args("incremental", 1, 1.0, 0, os.path.join(bdir, "cds-run.json"), toy=True),
                os.path.join(bdir, "cds-run.json"))
    except BenchError as e:
        log(f"no class-data-sharing archive: {e}")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


# ---------------------------------------------------------------------------
# host
# ---------------------------------------------------------------------------

def nproc():
    return len(os.sched_getaffinity(0))


def host_record(seed, jvm_info):
    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    try:
        st = os.statvfs("/dev/shm")
        shm_gb = round(st.f_blocks * st.f_frsize / 2**30, 1)
    except OSError:
        shm_gb = 0.0
    commit = "none"  # a checkout without git metadata
    if os.path.isdir(os.path.join(ROOT, ".git")):
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                text=True, timeout=10).stdout.strip() or "none"
    return {
        "nproc": nproc(), "mem_total_gb": round(mem_kb / 2**20, 1), "shm_gb": shm_gb,
        "jdk": jvm_info.get("jdk", ""), "spark": jvm_info.get("spark_version", ""),
        "commit": commit, "seed": seed,
    }


# ---------------------------------------------------------------------------
# one run
# ---------------------------------------------------------------------------

def cds_archive():
    return os.path.join(work_dir(), "build", "app.jsa")


def java_cmd(cp, jvm_flags=()):
    """The benchmark JVM. C1 only: in runs this short, C2 compilation took
    ~60% of the CPU and made timed operations drift through the run. C1 only
    shrinks the default code cache to 48 MB, which Spark filled within half
    a minute: the JVM then evicted and recompiled ~25k methods at a time, so
    the cache is given the default tiered size again. Heap and young
    generation are fixed so that peak resident memory follows the program,
    not the collector's sizing."""
    wd = work_dir()
    cmd = ["java", "-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=240m",
           "-Xms3g", "-Xmx3g", "-Xmn512m",
           "-XX:-UsePerfData", f"-Djava.io.tmpdir={wd}/tmp",
           f"-Dlog4j2.configurationFile={os.path.join(BENCH_DIR, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    if not jvm_flags and os.path.exists(cds_archive()):
        cmd.append(f"-XX:SharedArchiveFile={cds_archive()}")
    cmd += list(jvm_flags)
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, "perfbench.Main"]


def jvm_args(workload, seed, seconds, trace, out, toy=False, perturb=False):
    return ["--workload", workload, "--seed", str(seed), "--seconds", f"{seconds:.3f}",
            "--trace", str(trace), "--work", work_dir(), "--out", out, "--cores", str(nproc()),
            "--toy", "1" if toy else "0", "--perturb", "1" if perturb else "0"]


def run_jvm(cmd, out):
    """Run the benchmark JVM to completion and return its JSON output."""
    os.makedirs(os.path.join(work_dir(), "tmp"), exist_ok=True)
    if os.path.exists(out):
        os.remove(out)
    p = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL, stdout=sys.stderr)
    try:
        rc = p.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        raise BenchError(f"benchmark JVM timed out after {JVM_TIMEOUT_S} s")
    if rc != 0 or not os.path.exists(out):
        raise BenchError(f"benchmark JVM failed with exit code {rc}")
    with open(out) as fh:
        return json.load(fh)


def _canon(df):
    s = df[sorted(df.columns)].astype(str)
    rows = sorted(s.itertuples(index=False, name=None))
    return [hashlib.sha256(str(rows).encode()).hexdigest(), len(rows)]


def oracle_digests(data_dir, sqls):
    """Each query's DuckDB oracle result as [digest, rows], or None where the
    oracle failed. The results depend only on the oracle SQL and the data
    files, so they are computed once per checkout and kept in the work
    directory: the text and dedup oracles take ~50 s."""
    h = hashlib.sha256(json.dumps(sqls, sort_keys=True).encode())
    tables = sorted(f for f in os.listdir(data_dir) if f.endswith(".parquet"))
    for f in tables:
        with open(os.path.join(data_dir, f), "rb") as fh:
            h.update(f.encode() + hashlib.sha256(fh.read()).digest())
    cache = os.path.join(work_dir(), "query_suite", f"oracle-{h.hexdigest()[:16]}.json")
    if os.path.exists(cache):
        with open(cache) as fh:
            return json.load(fh)
    import duckdb
    con = duckdb.connect()
    for f in tables:
        con.execute(f"CREATE VIEW {f[:-len('.parquet')]} AS "
                    f"SELECT * FROM read_parquet('{os.path.join(data_dir, f)}')")
    expected = {}
    for name, sql in sorted(sqls.items()):
        try:
            expected[name] = _canon(con.execute(sql).fetchdf())
        except Exception as e:  # a failing oracle fails its query's check
            log(f"oracle {name}: {e}")
            expected[name] = None
    con.close()
    with open(cache + ".tmp", "w") as fh:
        json.dump(expected, fh)
    os.replace(cache + ".tmp", cache)
    return expected


def oracle_check(data_dir, out_dir, perturb=None):
    """Compare each query's warm-up output with its DuckDB oracle; with
    `perturb`, that query's expected digest is altered.
    Returns (compared, mismatched names)."""
    import pandas as pd
    with open(os.path.join(out_dir, "oracle_sql.json")) as fh:
        sqls = json.load(fh)
    expected = oracle_digests(data_dir, sqls)
    bad = []
    for name in sorted(sqls):
        want = expected[name]
        if want is not None and name == perturb:
            want = [want[0][::-1], want[1]]
        qdir = os.path.join(out_dir, name)
        try:
            parts = [os.path.join(qdir, f) for f in sorted(os.listdir(qdir))
                     if f.endswith(".parquet")]
            if want is None or _canon(pd.concat([pd.read_parquet(f) for f in parts])) != want:
                bad.append(name)
        except Exception as e:  # a missing output is a mismatch
            log(f"oracle {name}: {e}")
            bad.append(name)
    return len(sqls), bad


def run_workload(cp, workload, seed, seconds, trace, toy=False, perturb=False):
    """Run one workload and return its full report."""
    if workload not in WORKLOADS:
        raise BenchError(f"unknown workload {workload}")
    wd = work_dir()
    out = os.path.join(wd, "results", f"{workload}-s{seed}-t{trace}.json")
    args = jvm_args(workload, seed, seconds, trace, out, toy, perturb)
    if workload == "backfill":
        # the 1-core leg runs on the last CPU this process may use
        args += ["--pin-cpu", str(sorted(os.sched_getaffinity(0))[-1])]
    if workload == "query_suite":
        args += ["--data", QUERY_DATA]
    res = run_jvm(java_cmd(cp) + args, out)

    attempted, failed, errors = res["attempted"], res["failed"], list(res["errors"])
    report = {"workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
              "toy": toy}
    if workload == "query_suite":
        qout = os.path.join(wd, "query_suite", "out")
        t0 = time.perf_counter()
        compared, bad = oracle_check(QUERY_DATA, qout)
        report["oracle"] = {"compared": compared, "mismatched": bad,
                            "seconds": round(time.perf_counter() - t0, 3)}
        if perturb:
            with open(os.path.join(qout, "oracle_sql.json")) as fh:
                first = sorted(json.load(fh))[0]
            report["oracle"]["perturbed_gate_failed"] = first in oracle_check(QUERY_DATA, qout, first)[1]
        attempted += compared
        failed += len(bad)
        errors += [f"{q}: result differs from the DuckDB oracle" for q in bad]
    e2e = dict(res["e2e"])
    e2e["error_rate"] = {"value": failed / max(1, attempted), "unit": "ratio"}
    report.update({"e2e": e2e, "layer": res["layer"], "self_s": res["self_s"],
                   "info": res["info"], "host": host_record(seed, res["info"]),
                   "attempted": attempted, "failed": failed, "errors": errors[:20]})
    return report


def benchmark_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def result_line(report, trace):
    spec = benchmark_spec()
    if trace:
        metrics = {m["name"]: {"value": report["layer"][m["name"]], "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: report["e2e"][m["name"]] for m in spec["end_to_end"]}
    return {"correct": report["failed"] == 0, "attempted": report["attempted"],
            "failed": report["failed"], "metrics": metrics}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        cp = build()
        report = run_workload(cp, args.workload, args.seed, args.seconds, args.trace)
        line = result_line(report, args.trace)
    except (BenchError, subprocess.SubprocessError, OSError, KeyError) as e:
        log(f"error: {e}")
        return 2
    print(json.dumps({"report": report}, sort_keys=True))
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
