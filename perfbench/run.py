#!/usr/bin/env python3
"""Repository benchmark: times whole query results, layer by layer.

Usage, from the root of the repository:

    python3 perfbench/run.py --workload dbn_train --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --self-test

It builds the engine and the benchmark from source into `.bench_build/`
(once per source state), checks every workload query against its DuckDB
oracle (once per source state), then runs one JVM that times the
workload in passes. The last line of standard output is one JSON object:
`correct`, `attempted`, `failed` and `metrics`. With `--trace 0` the
metrics are the end-to-end ones, with `--trace 1` the per-layer ones.
See perfbench/README.md.

Inputs: the fixture tables of TESTDATA.md, `sf0.1/` and `sf0.01/` under
$PERFBENCH_FIXTURES or ~/testdata; Spark and Scala from $SPARK_HOME/jars.
Everything written goes under `.bench_build/`.
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
JVM_TIMEOUT_S = 170        # a measuring JVM that runs longer is stopped
BUILD_TIMEOUT_S = 600
VERIFY_TIMEOUT_S = 600
HEAP = "4g"

# Java module openings Spark needs outside spark-submit (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources(root):
    """Every Scala source the benchmark JVM is built from, sorted."""
    out = []
    for base in (os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def content_hash(paths, extra=""):
    """Hash of the files' paths and contents, plus `extra`."""
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update(extra.encode())
    return h.hexdigest()[:16]


def fixture_stamp(sf_dir):
    """Names, sizes and modification times of a fixture directory's files."""
    rows = []
    for d, _, files in os.walk(sf_dir):
        for f in sorted(files):
            st = os.stat(os.path.join(d, f))
            rows.append(f"{os.path.relpath(os.path.join(d, f), sf_dir)}\t{st.st_size}\t{st.st_mtime_ns}")
    return "\n".join(sorted(rows))


def run_proc(cmd, timeout, log_path, env=None):
    """Run `cmd` in its own process group, stderr and stdout to
    `log_path`; stop the whole group if it outlives `timeout`."""
    with open(log_path, "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                             env=env, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def tail(path, n=25):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


class Bench:
    def __init__(self, root):
        self.root = root
        if not os.path.isfile(os.path.join(root, "src", "main", "scala", "graft", "SparkEntry.scala")):
            raise BenchError("run from the repository root: src/main/scala/graft is missing")
        spark_home = os.environ.get("SPARK_HOME")
        if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
            raise BenchError("SPARK_HOME must name a Spark install with jars/")
        self.jars = os.path.join(spark_home, "jars")
        self.fixtures = os.environ.get("PERFBENCH_FIXTURES") or os.path.expanduser("~/testdata")
        for sf in ("sf0.1", "sf0.01"):
            if not os.path.isfile(os.path.join(self.fixtures, sf, "region.parquet")):
                raise BenchError(f"fixture tables not found in {self.fixtures}/{sf}")
        self.oracle_sf = os.path.join(self.fixtures, "sf0.01")
        self.out = os.path.join(root, ".bench_build")
        self.work = os.path.join(self.out, "work")
        self.cores = len(os.sched_getaffinity(0))
        self.srcs = sources(root)
        self.hash = content_hash(self.srcs, "\n".join(sorted(os.listdir(self.jars))))
        self.classes = os.path.join(self.out, f"classes-{self.hash}")
        # The oracle verdicts also depend on the checker, its manifest and
        # the sf0.01 tables.
        checker = [os.path.join(root, "tools", f) for f in ("check_oracle.py", "query_manifest.txt")]
        self.oracle_hash = content_hash([p for p in checker if os.path.isfile(p)],
                                        self.hash + fixture_stamp(self.oracle_sf))

    def java(self, main_args, heap=HEAP):
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
        return ["java", f"-Xmx{heap}", "-XX:-UsePerfData", *opens,
                f"-Djava.io.tmpdir={tmp}",
                f"-Dspark.local.dir={os.path.join(self.work, 'local')}",
                f"-Dspark.sql.warehouse.dir={os.path.join(self.work, 'warehouse')}",
                f"-Dderby.system.home={os.path.join(self.work, 'derby')}",
                "-Dspark.ui.enabled=false", "-Dfile.encoding=UTF-8",
                "-cp", f"{self.classes}{os.pathsep}{self.jars}/*",
                "perfbench.Main", *main_args]

    def build(self):
        """Compile the engine and the benchmark with scalac, once per
        source state, then run the benchmark's self-test."""
        if os.path.isdir(self.classes):
            return
        os.makedirs(self.out, exist_ok=True)
        for d in os.listdir(self.out):
            if d.startswith("classes-"):
                shutil.rmtree(os.path.join(self.out, d))
        staging = self.classes + ".tmp"
        shutil.rmtree(staging, ignore_errors=True)
        os.makedirs(staging)
        argfile = os.path.join(self.out, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(self.srcs) + "\n")
        log(f"building {len(self.srcs)} sources")
        t0 = time.time()
        blog = os.path.join(self.out, "build.log")
        cp = f"{self.jars}/*"
        rc = run_proc(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
                       f"-Djava.io.tmpdir={self.out}", "-cp", cp,
                       "scala.tools.nsc.Main", "-nowarn", "-d", staging,
                       "-classpath", cp, f"@{argfile}"], BUILD_TIMEOUT_S, blog)
        if rc != 0:
            raise BenchError(f"build failed:\n{tail(blog)}")
        os.rename(staging, self.classes)
        log(f"built in {time.time() - t0:.1f} s")
        rc = run_proc(self.java(["selftest"], heap="256m"), 120, blog)
        if rc != 0:
            shutil.rmtree(self.classes)
            raise BenchError(f"self-test failed:\n{tail(blog)}")
        print(tail(blog, 1).strip(), file=sys.stderr)

    def oracle(self):
        """Per-query DuckDB oracle verdicts at sf0.01, exact mode, for
        every workload query; computed once per state of the sources, the
        checker and the sf0.01 tables."""
        path = os.path.join(self.out, f"oracle-{self.oracle_hash}.tsv")
        if os.path.isfile(path):
            return path
        vout = os.path.join(self.work, "verify")
        shutil.rmtree(vout, ignore_errors=True)
        vlog = os.path.join(self.out, "verify.log")
        log("checking workload queries against the DuckDB oracle at sf0.01")
        rc = run_proc(self.java(["verify", self.oracle_sf, vout]), VERIFY_TIMEOUT_S, vlog)
        if rc != 0:
            raise BenchError(f"oracle dump failed:\n{tail(vlog)}")
        with open(os.path.join(vout, "queries.txt")) as f:
            names = [l.strip() for l in f if l.strip()]
        verdict = os.path.join(vout, "oracle.json")
        env = dict(os.environ, GRAFT_ORACLE_JSON=verdict)
        env.pop("GRAFT_ORACLE_TOL", None)
        run_proc([sys.executable, os.path.join(self.root, "tools", "check_oracle.py"),
                  self.oracle_sf, vout, ",".join(names)], VERIFY_TIMEOUT_S,
                 os.path.join(self.out, "oracle.log"), env=env)
        with open(verdict) as f:
            checked = json.load(f)["queries"]
        with open(path + ".tmp", "w") as f:
            for n in names:
                ok = n in checked and checked[n]["pass"]
                f.write(f"{n}\t{'PASS' if ok else 'FAIL'}\n")
        os.rename(path + ".tmp", path)
        shutil.rmtree(vout, ignore_errors=True)
        return path

    def run(self, workload, seed, seconds, trace):
        """One measuring JVM; returns the result it writes."""
        self.build()
        oracle = self.oracle()
        tag = f"{workload}-seed{seed}-trace{trace}"
        out = os.path.join(self.out, "runs", tag + ".json")
        jlog = os.path.join(self.out, "runs", tag + ".log")
        os.makedirs(os.path.dirname(out), exist_ok=True)
        if os.path.exists(out):
            os.remove(out)
        shutil.rmtree(self.work, ignore_errors=True)
        cmd = self.java([
            "run", "--t0-ms", repr(time.time() * 1e3), "--cores", str(self.cores),
            "--fixtures", self.fixtures, "--out", out, "--workload", workload,
            "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
            "--expected", os.path.join(HERE, "expected_rows.tsv"), "--oracle", oracle,
            "--trace-out", os.path.join(self.out, "traces", tag + ".jsonl")])
        try:
            rc = run_proc(cmd, JVM_TIMEOUT_S, jlog)
        finally:
            shutil.rmtree(self.work, ignore_errors=True)
        if rc != 0 or not os.path.isfile(out):
            raise BenchError(f"benchmark JVM exited {rc}:\n{tail(jlog)}")
        with open(out) as f:
            return json.load(f)


def result_line(res, trace):
    """The final JSON line: the metrics BENCHMARK.json names, with units."""
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if trace else "end_to_end"]
    metrics = {w["name"]: {"value": res["metrics"][w["name"]], "unit": w["unit"]}
               for w in wanted}
    return {"correct": res["failed"] == 0, "attempted": res["attempted"],
            "failed": res["failed"], "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", help="dbn_train or full_result")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    # A stop request unwinds through run_proc, which kills the JVM too.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        bench = Bench(os.getcwd())
        if a.self_test:
            bench.build()
            return 0
        if not a.workload:
            ap.error("--workload is required")
        res = bench.run(a.workload, a.seed, a.seconds, a.trace)
    except (BenchError, subprocess.TimeoutExpired) as e:
        log(f"error: {e}")
        return 1
    for r in res["reasons"]:
        log(f"FAILED: {r}")
    print(json.dumps({k: res[k] for k in ("workload", "seed", "trace", "pass_s", "metrics")}))
    print(json.dumps(result_line(res, a.trace)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
