#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JSON line of metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It compiles graft (`src/main/scala`) and
the harness (`perfbench/src`) with the Scala compiler that ships in the
Spark jar directory named by `build.sbt`, generates the seeded inputs
and their DuckDB twins, runs the harness JVM, checks every output and
prints the metrics as the last line of standard output. Everything it
writes goes under `.perfbench_work/` in the current directory; inputs
and compiled classes are reused across runs.

Workloads: interactive_api, curation_pipeline.
With --trace 0 it reports the end-to-end metrics, with --trace 1 the
per-layer split (see perfbench/METRICS.md).
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time
import zipfile

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import analyze  # noqa: E402
import gen  # noqa: E402

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("interactive_api", "curation_pipeline")
# latency limit per operation, for slo_met_frac; fixed with the benchmark
SLO_MS = {"interactive_api": 3000.0, "curation_pipeline": 6000.0}
JVM_HEAP = "2g"
JVM_TIMEOUT_S = 160
# mirrors build.sbt's javaOptions: Spark on JDK 17 outside spark-submit
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(f"error: {msg}")
    sys.exit(2)


def spark_jars():
    """The jar directory build.sbt compiles against (its unmanagedBase)."""
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    fail("no Spark jar directory: build.sbt names none and SPARK_HOME is unset")


def _stamp(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _scalac(jars, classpath, out, sources):
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = out + ".sources"
    with open(args_file, "w") as f:
        f.write("\n".join(sources))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", classpath, "-d", tmp, "@" + args_file]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        fail(f"compilation into {os.path.basename(out)} failed")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def build(jars):
    """Compile graft and the harness, each only when its sources changed."""
    graft_src = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                             recursive=True))
    bench_src = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    if not graft_src:
        fail("no graft sources under src/main/scala: run from the repository root")
    if not bench_src:
        fail("no harness sources under perfbench/src")
    bdir = os.path.join(WORK, "build")
    os.makedirs(bdir, exist_ok=True)
    jar_list = ",".join(sorted(os.listdir(jars)))
    graft_out, bench_out = os.path.join(bdir, "graft"), os.path.join(bdir, "bench")
    graft_stamp = _stamp(graft_src, jar_list)
    bench_stamp = _stamp(bench_src, graft_stamp)
    t0 = time.time()
    for out, stamp, cp, srcs in (
            (graft_out, graft_stamp, os.path.join(jars, "*"), graft_src),
            (bench_out, bench_stamp, graft_out + os.pathsep + os.path.join(jars, "*"), bench_src)):
        sfile = out + ".stamp"
        if os.path.isdir(out) and os.path.exists(sfile) and open(sfile).read() == stamp:
            continue
        log(f"compiling {len(srcs)} sources into {os.path.relpath(out, ROOT)}")
        _scalac(jars, cp, out, srcs)
        with open(sfile, "w") as f:
            f.write(stamp)
    # jars rather than class directories: the JVM's class-data sharing
    # archive (see jvm()) only covers classes loaded from jars
    jar_paths = []
    for out in (bench_out, graft_out):
        jar = out + ".jar"
        if not os.path.exists(jar) or os.path.getmtime(jar) < os.path.getmtime(out + ".stamp"):
            with zipfile.ZipFile(jar + ".tmp", "w") as z:
                for base, _, files in os.walk(out):
                    for f in sorted(files):
                        full = os.path.join(base, f)
                        z.write(full, os.path.relpath(full, out))
            os.replace(jar + ".tmp", jar)
        jar_paths.append(jar)
    if time.time() - t0 > 1:
        log(f"build took {time.time() - t0:.1f} s")
    cds = os.path.join(bdir, f"classes-{bench_stamp[:16]}.jsa")
    for stale in glob.glob(os.path.join(bdir, "classes-*.jsa*")):
        if not stale.startswith(cds):
            os.remove(stale)
    return jar_paths + [os.path.join(jars, "*")], cds


def jvm(classpath, main_args, timeout, tmp, cds=None):
    """Run a harness main. With `cds`, the JVM maps the class-data sharing
    archive of this build (and writes it on exit when it does not exist
    yet), which takes seconds off every cold Spark start."""
    os.makedirs(os.path.join(tmp, "spark"), exist_ok=True)
    share = []
    if cds and os.path.exists(cds):
        share = [f"-XX:SharedArchiveFile={cds}"]
    elif cds:
        share = [f"-XX:ArchiveClassesAtExit={cds}.tmp"]
    cmd = (["java", f"-Xmx{JVM_HEAP}", "-XX:+UseG1GC"] + share + [
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={os.path.join(tmp, 'spark')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join(classpath)] + main_args)
    proc = subprocess.Popen(cmd, cwd=tmp, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                            text=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        fail(f"{main_args[0]} did not finish within {timeout} s")
    if proc.returncode != 0:
        sys.stderr.write(out[-6000:])
        fail(f"{main_args[0]} exited with {proc.returncode}")
    if cds and os.path.exists(cds + ".tmp"):
        os.replace(cds + ".tmp", cds)
    return out


def verify(workload, plan, result, con):
    """Output checks that need the files an operation wrote; marks the
    operation failed on a mismatch or an unreadable output."""
    first = None
    for op in sorted(result["ops"], key=lambda o: o["start"]):
        if op["ok"]:
            try:
                err, first = _check(workload, plan, op["kind"], op["variant"], op["out_path"],
                                    con, first)
            except duckdb.Error as e:
                err = f"output unreadable: {e}"
            if err:
                op["ok"], op["err"] = False, err


def _check(workload, plan, kind, variant, path, con, first):
    """("" or a mismatch, the first curation output digest)."""
    if workload == "curation_pipeline":
        rel = f"read_parquet('{path}/docs/*.parquet')"
        got = gen.digest(con, rel, gen.kinds_of(con, rel))
        if first is None:
            return "", got
        if got != first:
            return f"output {got} differs from the first run's {first}", first
    elif kind == "export":
        want = plan["expect"][variant]
        rel = f"read_csv('{path}/*.csv', header=true, all_varchar=true)"
        got = gen.digest(con, rel, gen.kinds_of(con, "(SELECT *, c_acctbal * 2 AS c_bal2 FROM customer)"))
        if got != want:
            return f"export {got} != twin {want}", first
    return "", first


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    jars = spark_jars()
    classpath, cds = build(jars)

    def gen_docs(args):
        jvm(classpath, args, JVM_TIMEOUT_S, os.path.join(WORK, "tmp"))

    t0 = time.time()
    if a.workload == "interactive_api":
        plan = gen.interactive(WORK, a.seed, a.seconds)
    else:
        plan = gen.curation(WORK, a.seed, gen_docs)
    gen_s = time.time() - t0

    run_dir = os.path.join(WORK, "runs", f"{a.workload}-s{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        plan_file = os.path.join(run_dir, "plan.json")
        with open(plan_file, "w") as f:
            json.dump({**plan, "workload": a.workload, "out": run_dir}, f)
        tmp = os.path.join(run_dir, "tmp")
        os.makedirs(tmp)
        out = jvm(classpath, ["perfbench.Main", plan_file, f"{a.seconds:g}", str(a.trace)],
                  JVM_TIMEOUT_S, tmp, cds)
        for line in out.splitlines():
            if line.startswith("[harness]"):
                log(line[len("[harness] "):])
        with open(os.path.join(run_dir, "result.json")) as f:
            result = json.load(f)
        if not result["ops"]:
            fail("the measured loop completed no operation")
        con = gen.connect(WORK)
        if a.workload == "interactive_api":
            gen.make_tables(con, a.seed)
        verify(a.workload, plan, result, con)
        con.close()
        # the raw records (spans, events) of the latest run stay inspectable
        last = os.path.join(WORK, "last")
        os.makedirs(last, exist_ok=True)
        with open(os.path.join(last, f"{a.workload}-trace{a.trace}.json"), "w") as f:
            json.dump(result, f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    ops = result["ops"]
    failed = [o for o in ops if not o["ok"]]
    by_kind = {}
    for o in ops:
        by_kind.setdefault(o["kind"], []).append(o["end"] - o["start"])
    log("service p50 by call: " + ", ".join(
        f"{k} {analyze.percentile(v, 50):.0f} ms (n={len(v)})" for k, v in sorted(by_kind.items())))
    for o in failed[:5]:
        log(f"failed {o['id']} ({o['kind']} {o['variant'][:60]}): {o['err']}")
    if a.trace:
        metrics, declared = analyze.per_layer(result), "per_layer"
    else:
        metrics, declared = analyze.end_to_end(result, SLO_MS[a.workload]), "end_to_end"
    units = unit_table(declared)
    if set(units) != set(metrics):
        fail(f"metrics {sorted(set(metrics) ^ set(units))} disagree with BENCHMARK.json")
    n = len(ops)
    q = analyze.supported_percentile(n)
    print(f"input generation {gen_s:.2f} s (not part of setup_s); "
          f"{n} operations, {len(failed)} failed; setups {result['setup_s']}; "
          f"highest percentile with >=10 samples beyond: p{q if q is not None else '-'}")
    for k in sorted(metrics):
        print(f"  {k} = {metrics[k]:.6g} {units.get(k, '')}")
    print(json.dumps({
        "correct": not failed, "attempted": n, "failed": len(failed),
        "metrics": {k: {"value": v, "unit": units.get(k, "")} for k, v in metrics.items()}}))


def unit_table(section):
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


if __name__ == "__main__":
    main()
