#!/usr/bin/env python3
"""The repository benchmark: builds the engine from this checkout, runs one
workload (or all of them) in a single Spark JVM at local[nproc] with one
closed-loop client, checks the outputs, and prints one JSON result line.

    python3 perfbench/run.py --workload pages_pipeline --seed 1 --seconds 6 --trace 0

--trace 0 reports the end-to-end metrics of BENCHMARK.json, --trace 1 the
per-layer metrics from a traced run. --workload all runs every workload and
prints every metric of each, prefixed with the workload name. See
perfbench/README.md for what each workload and metric means.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main")
BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ["pages_pipeline", "spatial_join", "query_block"]
# the engine's recorded gate tables, copied into the benchmark so that it
# reads nothing outside its checkout; query_block runs on them as they are
TABLES = {"normal": os.path.join(HERE, "tables", "sf0.1"),
          "tiny": os.path.join(HERE, "tables", "sf0.001")}
CHECK_ORACLE = os.path.join(ROOT, "scripts", "check_oracle.py")
# the query whose expected rows --corrupt-check corrupts
CORRUPT_QUERY = "q1_agg"
# together within the 180 s a run may take
JVM_TIMEOUT_S = 120
HEAP = "2g"
CHILD_TIMEOUT_S = 45
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BenchError(Exception):
    """A failure that stops the run before any result can be reported."""


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build ----

def source_hash():
    h = hashlib.sha256()
    for top in (ENGINE_SRC, os.path.join(HERE, "src")):
        for dirpath, dirnames, filenames in sorted(os.walk(top)):
            dirnames.sort()
            for f in sorted(filenames):
                p = os.path.join(dirpath, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        with open(os.path.join(HERE, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_home():
    """The Spark installation whose jars the engine compiles and runs against."""
    candidates = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in candidates:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return home
    raise BenchError("no Spark installation with a jars directory found: set SPARK_HOME "
                     "or put its spark-submit on the PATH")


def build():
    """Compiles and packages the engine and the harness with sbt once per
    source state. Returns the runtime classpath."""
    stamp = os.path.join(BUILD_DIR, "build.json")
    digest = source_hash()
    if os.path.exists(stamp):
        with open(stamp) as fh:
            st = json.load(fh)
        if st.get("hash") == digest:
            return st["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building engine + harness with sbt (first run in this checkout)")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "package",
                        "export Runtime/fullClasspathAsJars"], cwd=HERE, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       stdin=subprocess.DEVNULL, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-5000:])
        raise BenchError(f"sbt build failed with exit code {p.returncode}")
    classpath = lines[-1].strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(stamp, "w") as fh:
        json.dump({"hash": digest, "classpath": classpath}, fh)
    return classpath


# ------------------------------------------------------------------ jvm ----

def bench_cmd(classpath, work):
    """The benchmark JVM. Its heap has a fixed size (-Xms = -Xmx): left to
    grow, the heap ended anywhere from 1.0 to 1.7 GB over ten seeds of
    pages_pipeline on a 4-CPU host, as the collector's timing decided, so
    peak_rss_mb could not have shown a change. At a
    fixed heap it follows the memory outside the heap; the heap the program
    keeps is reported per layer (jvm.live_heap_peak_mb, jvm.retained_heap_mb)."""
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java"] + opens + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
        "-Dspark.sql.session.timeZone=UTC", "-cp", classpath, "perfbench.Main"])


def run_jvm(cmd, timeout, preexec=None):
    """Runs a JVM with its stdout sent to our stderr (our stdout carries only
    the result), and waits until it has exited."""
    p = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, stdin=subprocess.DEVNULL,
                         preexec_fn=preexec)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        raise BenchError(f"JVM did not finish within {timeout} s: {' '.join(cmd[-12:])}")


def host_cpus():
    return sorted(os.sched_getaffinity(0))


def scaling_levels(requested):
    """N = nproc/4 and 4N = nproc unless levels are requested; a level the
    host cannot supply is refused by name."""
    nproc = len(host_cpus())
    levels = requested or [nproc // 4, nproc]
    for lvl in levels:
        if lvl < 1:
            raise BenchError(f"core level N={lvl} is not available: N = nproc/4 needs at "
                             f"least 4 CPUs and this host supplies {nproc}")
        if lvl > nproc:
            raise BenchError(f"core level {lvl} exceeds the {nproc} CPUs this host supplies")
    if len(levels) != 2 or levels[1] != nproc:
        raise BenchError(f"scaling levels must be 'N,{nproc}' (the parent runs at "
                         f"local[{nproc}]), got {levels}")
    return levels


def scaling_child(classpath, work, seed, n, size, parts):
    """Runs the N-core side of the scaling pair in a JVM pinned to N CPUs."""
    cpus = host_cpus()[:n]
    out = os.path.join(work, "scaling-child.json")
    cmd = bench_cmd(classpath, work) + ["--scaling-child", "--size", size, "--seed", str(seed),
                                  "--parts", str(parts), "--work", work, "--out", out]
    rc = run_jvm(cmd, CHILD_TIMEOUT_S, preexec=lambda: os.sched_setaffinity(0, cpus))
    if rc != 0 or not os.path.exists(out):
        raise BenchError(f"pinned scaling child at N={n} exited with {rc}")
    with open(out) as fh:
        res = json.load(fh)
    if res["cpus_allowed"] != n or res["available_processors"] != n:
        raise BenchError(f"core level N={n} was not supplied: the pinned child got "
                         f"{res['cpus_allowed']} CPUs ({res['available_processors']} visible)")
    return res


# ----------------------------------------------------------- oracle check ----

def compare_oracle(tables, out_dir, corrupt):
    """Each query's rows against its oracle SQL in DuckDB, with the repo's
    own comparison (scripts/check_oracle.py). --corrupt-check first changes
    the expected rows of one query. Returns (attempted, [(query, cause)])."""
    sql_path = os.path.join(out_dir, "oracle_sql.json")
    with open(sql_path) as fh:
        oracle = json.load(fh)
    if corrupt:
        oracle[CORRUPT_QUERY] = f"SELECT * FROM ({oracle[CORRUPT_QUERY]}) OFFSET 1"
        with open(sql_path, "w") as fh:
            json.dump(oracle, fh)
    p = subprocess.run([sys.executable, CHECK_ORACLE, tables, out_dir], stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, stdin=subprocess.DEVNULL,
                       timeout=JVM_TIMEOUT_S)
    fails = []
    for line in p.stdout.splitlines():
        head, _, rest = line.partition(" ")
        if head in ("FAIL", "ERR"):
            name, _, cause = rest.partition(": ")
            fails.append((name.strip(), cause or line))
    if p.returncode != 0 and not fails:
        fails.append(("*", f"check_oracle.py exited with {p.returncode}: {p.stdout[-500:]}"))
    return len(oracle), fails


# ---------------------------------------------------------------- a run ----

def run_workload(workload, args, classpath):
    nproc = len(host_cpus())
    tag = f"{workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    os.makedirs(BUILD_DIR, exist_ok=True)
    work = tempfile.mkdtemp(prefix=tag + "-", dir=BUILD_DIR)
    os.makedirs(os.path.join(work, "tmp"))
    spans = os.path.join(BUILD_DIR, "spans", f"{workload}-seed{args.seed}.json")
    try:
        levels = scaling_levels(args.levels) if (
            workload == "pages_pipeline" and args.trace) else None
        tables = TABLES[args.size] if workload == "query_block" else ""
        out = os.path.join(work, "result.json")
        cmd = bench_cmd(classpath, work) + [
            "--workload", workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--size", args.size,
            "--corrupt", "1" if args.corrupt_check else "0", "--work", work, "--out", out,
            "--spans", spans, "--tables", tables,
            "--launch-ms", str(int(time.time() * 1000))]
        rc = run_jvm(cmd, JVM_TIMEOUT_S)
        if rc != 0 or not os.path.exists(out):
            raise BenchError(f"benchmark JVM for {workload} exited with {rc}")
        with open(out) as fh:
            res = json.load(fh)

        attempted, failures = res["attempted"], list(res["failures"])
        if workload == "query_block":
            n, fails = compare_oracle(tables, os.path.join(work, "oracle"), args.corrupt_check)
            attempted += n
            for q, cause in fails:
                log(f"CHECK FAILED workload=query_block check=oracle:{q}: {cause}")
                failures.append({"workload": workload, "operation": f"check:oracle:{q}",
                                 "cause": cause})
            log(f"oracle: {n - len(fails)}/{n} queries match DuckDB")
        layers = dict(res["layers"])
        if levels:
            child = scaling_child(classpath, work, args.seed, levels[0], args.size, 4 * nproc)
            pps_n = child["pages_per_sec"]
            pps_4n = layers["pipeline.pages_per_sec_4n"]["value"]
            layers["pipeline.pages_per_sec_n"] = {"value": pps_n, "unit": "pages/s"}
            layers["scaling_efficiency_n_to_4n"] = {
                "value": pps_4n / pps_n / (levels[1] / levels[0]), "unit": "ratio"}
            log(f"scaling: N={levels[0]} {pps_n:.0f} pages/s, 4N={levels[1]} "
                f"{pps_4n:.0f} pages/s (child peak RSS {child['peak_rss_mb']:.0f} MB)")
        for f in failures:
            log(f"FAILED workload={f['workload']} operation={f['operation']} cause={f['cause']}")

        rounds = res["round_s"]
        e2e = {}
        if rounds:
            e2e["setup_s"] = res["session_s"] + statistics.median(
                res["input_setup_s"]) + res["warmup_s"]
            e2e["round_s"] = statistics.median(rounds)
            e2e["peak_rss_mb"] = res["peak_rss_mb"]
        detail = dict(res["detail"])
        ratio = len(failures) / max(1, attempted)
        detail["failure_ratio"] = {"value": ratio, "unit": "ratio"}
        layers["failure_ratio"] = {"value": ratio, "unit": "ratio"}
        for k, v in detail.items():
            layers.setdefault(k, v)
        return {"workload": workload, "attempted": attempted, "failed": len(failures),
                "failures": failures, "e2e": e2e, "detail": detail, "layers": layers,
                "rounds": len(rounds)}
    finally:
        shutil.rmtree(work, ignore_errors=True)


def metrics_for(r, args, catalog):
    """The contract metrics of one workload run, with units from BENCHMARK.json."""
    out = {}
    if args.trace:
        for m in catalog["per_layer"]:
            v = r["layers"].get(m["name"])
            if v is not None and v["unit"] != m["unit"]:
                raise BenchError(f"{m['name']} reported in {v['unit']}, catalogued in {m['unit']}")
            # a layer the workload does not exercise did no work in it
            out[m["name"]] = {"value": v["value"] if v else 0.0, "unit": m["unit"]}
    else:
        for m in catalog["end_to_end"]:
            if m["name"] in r["e2e"]:
                out[m["name"]] = {"value": r["e2e"][m["name"]], "unit": m["unit"]}
    for k, v in out.items():
        if not math.isfinite(v["value"]):
            raise BenchError(f"metric {k} is not a finite number")
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["normal", "tiny"], default="normal",
                    help="tiny: a few thousand pages and sf0.001 tables (smoke test)")
    ap.add_argument("--levels", type=lambda s: [int(x) for x in s.split(",")],
                    help="scaling core levels N,4N (default nproc/4,nproc)")
    ap.add_argument("--corrupt-check", action="store_true",
                    help="corrupt one expected value, to prove the checks can fail")
    args = ap.parse_args()

    catalog_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala", "graft")):
        raise BenchError(f"engine sources not found at {ENGINE_SRC}: run from a checkout")
    if not os.path.exists(CHECK_ORACLE):
        raise BenchError(f"{CHECK_ORACLE} not found: the query_block check needs it")
    if not os.path.exists(catalog_path):
        raise BenchError("BENCHMARK.json not found at the checkout root")
    with open(catalog_path) as fh:
        catalog = json.load(fh)
    classpath = build()

    workloads = WORKLOADS if args.workload == "all" else [args.workload]
    results = [run_workload(w, args, classpath) for w in workloads]
    for r in results:
        print(json.dumps({"workload": r["workload"], "seed": args.seed, "rounds": r["rounds"],
                          "end_to_end": r["detail"]}), flush=True)
    if len(results) == 1:
        metrics = metrics_for(results[0], args, catalog)
    else:
        metrics = {}
        for r in results:
            named = dict(metrics_for(r, args, catalog))
            if not args.trace:
                named.update(r["detail"])
            metrics.update({f"{r['workload']}.{k}": v for k, v in named.items()})
    failed = sum(r["failed"] for r in results)
    expected = {m["name"] for m in catalog["per_layer" if args.trace else "end_to_end"]}
    complete = all(expected <= set(metrics_for(r, args, catalog)) for r in results)
    correct = failed == 0 and complete
    print(json.dumps({"correct": correct, "attempted": sum(r["attempted"] for r in results),
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    try:
        sys.exit(main())
    except BenchError as e:
        log(f"error: {e}")
        sys.exit(2)
