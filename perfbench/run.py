#!/usr/bin/env python3
"""End-to-end benchmark for graft (see perfbench/README.md).

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The first run compiles
``src/main/scala`` and ``perfbench/scala`` with the Scala compiler that
ships in the Spark distribution (``$SPARK_HOME/jars``, else the
``unmanagedBase`` of ``build.sbt``) into ``$CARGO_TARGET_DIR`` (default
``.bench_build``); later runs reuse the classes while the sources are
unchanged. Each run generates its inputs from the seed, runs the
workload in a fresh JVM (``perfbench.Harness``), checks the outputs
against the DuckDB oracles and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones, with ``--trace 1`` the per-layer
ones. Progress and per-metric sample counts go to stderr.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen      # noqa: E402
import oracle   # noqa: E402

# timed workloads; the catch-up replay (gen.WORKLOADS) is traced on its
# small backlog in every traced run but not timed (README.md, "Budget")
WORKLOADS = ["changefeed_backfill", "curation_corpus"]
# fixed, non-adaptive warm-up passes per workload: a fresh session needs
# this many passes before its pass time stops falling
WARMUP_PASSES = {"changefeed_backfill": 3, "curation_corpus": 2}
# warm pass time on a 4-core box: the timed passes of a run are
# --seconds / this, rounded, at least one (a fixed count per workload,
# so each run measures the same point of the JIT's convergence)
NOMINAL_PASS_S = {"changefeed_backfill": 2.5, "curation_corpus": 6.0}
# outputs checked against DuckDB, per workload: (output, registry entry
# whose oracleSql is run, input table, oracle columns the output lacks)
CHECKS = {
    "changefeed_backfill": [
        # the default config's Kafka frame carries codec_canal_json's
        # (commit_ts, value) pair
        ("cdc.Changefeed.kafka_canal", "codec_canal_json", "events", ()),
        ("cdc.Changefeed.kafka_debezium", "changefeed_pipeline", "events", ()),
        ("cdc.Changefeed.mysql", "sink_mysql_stmts", "events", ()),
        ("cdc.Changefeed.snapshot", "cdc_snapshot_materialize", "events", ())],
    "changefeed_catchup": [
        # the LWW stream state keeps no per-key change count
        ("streaming.CdcStream.snapshotState", "cdc_snapshot_materialize", "events",
         ("n_changes",))],
    "curation_corpus": [
        ("ops.Curation.dedupClusters", "dedup_clusters", "documents", ()),
        ("ops.Curation.qualityFilterBank", "quality_filter_bank", "documents", ()),
        ("ops.Curation.curationFunnel", "curation_funnel", "documents", ()),
        ("ops.Corpus.seqPack", "seq_pack", "documents", ())],
}
HEAP = "3g"
JVM_TIMEOUT_S = 165
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


T0 = time.time()


def log(msg):
    print(f"[perfbench {time.time() - T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise SystemExit("perfbench: no Spark jars (set SPARK_HOME)")


def sources(d):
    out = []
    for base, _, files in os.walk(d):
        out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def compile_dir(build, name, srcs, classpath, extra_key=""):
    """Compile `srcs` once per content hash; returns the classes dir."""
    h = hashlib.sha256(extra_key.encode())
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        h.update(open(p, "rb").read())
    out = os.path.join(build, f"{name}-{h.hexdigest()[:16]}")
    if os.path.isdir(out):
        return out
    for old in os.listdir(build):
        if old.startswith(name + "-"):
            shutil.rmtree(os.path.join(build, old), ignore_errors=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(build, f"{name}.args")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    log(f"compiling {len(srcs)} {name} sources")
    t0 = time.time()
    jars = spark_jars()
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx1536m", f"-Djava.io.tmpdir={build}",
         "-cp", f"{jars}/*", "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
         "-classpath", os.pathsep.join([f"{jars}/*"] + classpath), f"@{argfile}"],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"perfbench: {name} compile failed")
    os.rename(tmp, out)
    log(f"compiled {name} in {time.time() - t0:.1f} s")
    return out


def build(build_dir):
    """Compile the engine and the harness; returns (classpath, oracle SQL)."""
    main_src = sources(os.path.join(ROOT, "src", "main", "scala"))
    if not main_src:
        raise SystemExit("perfbench: no graft sources under src/main/scala")
    main = compile_dir(build_dir, "main", main_src, [])
    res = os.path.join(ROOT, "src", "main", "resources")
    if os.path.isdir(res):
        shutil.copytree(res, main, dirs_exist_ok=True)
    bench = compile_dir(build_dir, "bench", sources(os.path.join(HERE, "scala")),
                        [main], extra_key=main)
    sql = os.path.join(bench, "oracle_sql.json")
    if not os.path.exists(sql):
        subprocess.run(["java", "-cp", os.pathsep.join([f"{spark_jars()}/*", main, bench]),
                        "perfbench.OracleSql", sql + ".tmp"],
                       check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
        os.rename(sql + ".tmp", sql)
    return [main, bench], json.load(open(sql))


def run_jvm(classes, args, work):
    jars = spark_jars()
    cores = max(1, min(4, os.cpu_count() or 1))
    tmp = os.path.join(work, "tmp")
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
            f"-Djava.io.tmpdir={tmp}",
            "-cp", os.pathsep.join([f"{jars}/*"] + classes),
            "perfbench.Harness", "--cores", str(cores)] + args
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    logf = os.path.join(work, "harness.log")
    with open(logf, "w") as lf:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        sys.stderr.write(open(logf, errors="replace").read()[-6000:])
        raise SystemExit(f"perfbench: harness exited with {rc}")


def end_to_end(rep, rows):
    walls = rep["iterations"]
    wall = statistics.median(walls)
    log(f"set-up {rep['build_s']:.3f} + {rep['warmup_s']:.3f} s; "
        f"timed passes {['%.3f' % x for x in walls]}")
    return {
        "setup_s": (rep["build_s"] + rep["warmup_s"], "s"),
        "wall_s": (wall, "s"),
        "rows_per_s": (rows / wall, "rows/s"),
    }


def per_layer(rep):
    m = {k: (v, unit_of(k)) for k, v in rep["layers"].items()}
    m["util.GraftSession.build_s"] = (rep["build_s"], "s")
    m["util.GraftSession.warmup_s"] = (rep["warmup_s"], "s")
    plain = statistics.median(rep["iterations"])
    traced = statistics.median(rep["traced_iterations"])
    m["trace.untraced_wall_s"] = (plain, "s")
    m["trace.traced_wall_s"] = (traced, "s")
    m["trace.overhead_s"] = (traced - plain, "s")
    log(f"tracing overhead: traced wall {traced:.3f} s - untraced wall "
        f"{plain:.3f} s = {traced - plain:+.3f} s")
    return m


def unit_of(name):
    for suffix, unit in (("_ms", "ms"), ("_ms_p50", "ms"), ("_mb", "MB"), ("_s", "s"),
                         ("_share", "ratio"), ("_util", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    build_dir = os.path.abspath(os.path.join(
        ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build")))
    os.makedirs(build_dir, exist_ok=True)
    classes, oracle_sql = build(build_dir)

    work = os.path.join(build_dir, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        data = os.path.join(work, "data")
        rows = gen.generate(a.workload, a.seed, data)
        full, warm = os.path.join(data, "full"), os.path.join(data, "warm")
        args = ["--workload", a.workload, "--full", full, "--warm", warm,
                "--passes", str(max(1, round(a.seconds / NOMINAL_PASS_S[a.workload]))),
                "--trace", str(a.trace),
                "--warmups", str(WARMUP_PASSES[a.workload]),
                "--work", work,
                "--out", os.path.join(work, "report.json"),
                "--rows", f"{full}|{rows['full']}", "--rows", f"{warm}|{rows['warm']}"]
        checked = [(a.workload, full)]
        if a.trace:
            for w in gen.WORKLOADS:
                if w != a.workload:
                    pdir = os.path.join(work, "probe", w)
                    n = gen.generate(w, a.seed, pdir, parts=("warm",))["warm"]
                    args += ["--probe", f"{w}|{pdir}/warm", "--rows", f"{pdir}/warm|{n}"]
                    checked.append((w, f"{pdir}/warm"))
        log("inputs generated")
        oracle_failed = 0  # an oracle that cannot run fails its check
        for w, d in checked:
            for metric, entry, table, absent in CHECKS[w]:
                out = os.path.join(work, "oracle", w, metric)
                try:
                    cols = oracle.run(oracle_sql[entry], table, d, out,
                                      os.path.join(work, "tmp"))
                except Exception as e:
                    log(f"FAILED {metric} oracle: {type(e).__name__}: {e}")
                    oracle_failed += 1
                    continue
                cols = [c for c in cols if c not in absent]
                args += ["--check", f"{d}|{metric}|{out}|{','.join(cols)}"]
        log("oracles written; starting the harness")
        run_jvm(classes, args, work)
        log("harness done")
        rep = json.load(open(os.path.join(work, "report.json")))
        for e in rep["errors"]:
            log(f"FAILED {e}")
        metrics = per_layer(rep) if a.trace else end_to_end(rep, rows["full"])
        declared = os.path.join(ROOT, "BENCHMARK.json")
        if os.path.exists(declared):
            names = {m["name"] for m in json.load(open(declared))[
                "per_layer" if a.trace else "end_to_end"]}
            if names != set(metrics):
                raise SystemExit(f"perfbench: metrics differ from BENCHMARK.json: "
                                 f"{sorted(names ^ set(metrics))}")
        for k, (v, u) in sorted(metrics.items()):
            log(f"{k} = {v:.6g} {u}")
        failed = rep["failed"] + oracle_failed
        print(json.dumps({
            "correct": failed == 0, "attempted": rep["attempted"] + oracle_failed,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
