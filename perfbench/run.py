#!/usr/bin/env python3
"""quant-spark benchmark runner.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds the engine and the harness from
source (cached under ``.bench_build`` per source hash), generates the
workload's inputs from the seed, runs one benchmark JVM, checks the outputs
against DuckDB oracles and prints one JSON result line: end-to-end metrics
with ``--trace 0``, per-layer metrics with ``--trace 1``.

Workloads: ``nightly_etl`` (ingest, cold family-mart backfill, streamed
day-append, corpus curation, incremental near-dup) and ``research`` (a
seeded sequence of interactive page requests against persisted marts).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

BUILD = ".bench_build"
# the research workload serves marts built from this market seed: the mart
# build is minutes of planning and codegen, so it is prepared once per
# program build; the run's seed drives the request sequence
RESEARCH_MARKET_SEED = 20240102
JVM_TIMEOUT_S = 150
HEAP = "2g"
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

WORKLOADS = ("nightly_etl", "research")


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    files = sorted(glob.glob("src/main/**/*", recursive=True)
                   + glob.glob("perfbench/src/**/*", recursive=True)
                   + ["perfbench/build.sbt", "perfbench/project/build.properties"])
    for f in files:
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build(stamp):
    """Compile engine + harness once per source hash; returns the classpath."""
    out = f"{BUILD}/classpath-{stamp}.txt"
    if os.path.exists(out):
        with open(out) as f:
            return f.read().strip()
    log("building (first run in this checkout)")
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
           "package", "export Runtime/fullClasspath"]
    p = subprocess.run(cmd, cwd="perfbench", env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=800)
    lines = [l for l in p.stdout.splitlines() if not l.startswith("[") and ":" in l
             and ".jar" in l]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(out, "w") as f:
        f.write(lines[-1])
    return lines[-1]


def cached_inputs(path, make):
    """Inputs are generated once per key; a manifest marks a complete set."""
    manifest = f"{path}/manifest.json"
    if not os.path.exists(manifest):
        tmp = f"{path}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        make(tmp)
        shutil.rmtree(path, ignore_errors=True)
        os.replace(tmp, path)
    with open(manifest) as f:
        return json.load(f)


def jvm(classpath, args, work, env_extra, archive=None, record=False,
        timeout=JVM_TIMEOUT_S):
    """Run one benchmark JVM to completion (killed with its process group
    on timeout). ``archive`` is the class-data-sharing archive to map, or
    with ``record`` the one to write at exit."""
    os.makedirs(f"{work}/tmp", exist_ok=True)
    cmd = ["java"]
    for o in JDK_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    if archive and record:
        cmd.append(f"-XX:ArchiveClassesAtExit={archive}")
    elif archive and os.path.exists(archive):
        cmd.append(f"-XX:SharedArchiveFile={archive}")
    # a fixed heap: the workloads fill it, so peak RSS reads steadily
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss64m", "-XX:ReservedCodeCacheSize=1g",
            "-XX:+UseCodeCacheFlushing", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "perfbench.Main"] + args
    env = dict(os.environ, SPARK_LOCAL_DIRS=f"{work}/spark-local", **env_extra)
    p = subprocess.Popen(cmd, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise SystemExit("perfbench: benchmark JVM timed out")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    if p.returncode != 0:
        sys.stderr.write(out[-6000:])
        raise SystemExit(f"perfbench: benchmark JVM exited {p.returncode}")
    return out


def prepare(stamp, classpath, cores):
    """Once per build: the research market with its persisted marts, and a
    class-data-sharing archive recorded by the JVM that built them (it
    halves JVM and session start in every later run). Returns (research
    data dir, mart dir, archive, research manifest)."""
    base = os.path.abspath(f"{BUILD}/prepared-{stamp}-v{gen.VERSION}")
    data, marts, archive = f"{base}/research", f"{base}/marts", f"{base}/classes.jsa"
    if not os.path.exists(f"{base}/_DONE"):
        log("preparing research marts and the class archive (once per build)")

        def make(d):
            rows = gen.market(RESEARCH_MARKET_SEED, f"{d}/market", **gen.SIZES["market"])
            with open(f"{d}/manifest.json", "w") as f:
                json.dump({"version": gen.VERSION, "quote_rows": rows}, f)

        cached_inputs(data, make)
        shutil.rmtree(marts, ignore_errors=True)
        work = f"{base}/work"
        shutil.rmtree(work, ignore_errors=True)
        jvm(classpath, ["--prepare", "--workload", "research", "--seed", "0",
                        "--seconds", "0", "--inputs", data, "--work", work,
                        "--out", f"{work}/unused.json", "--cores", str(cores)],
            work, {"SPARK_GRAFT_MART_DIR": marts}, archive=archive, record=True,
            timeout=600)
        shutil.rmtree(work, ignore_errors=True)
        open(f"{base}/_DONE", "w").close()
    with open(f"{data}/manifest.json") as f:
        return data, marts, archive, json.load(f)


def work_seconds(res):
    """Timed wall of one pass of the workload: the median time of each of
    its ops, summed. A research pass is one round of requests, each valued
    at its page's median latency in the run: one slow request does not
    decide it, and the value does not depend on how many rounds fit in the
    measured window."""
    ops = {k: v for k, v in res["ops"].items() if k != "request" and v}
    total = sum(stats.median(xs) for xs in ops.values())
    if res["requests"]:
        pages = {}
        for r in res["requests"]:
            pages.setdefault(r["page"], []).append(r["s"])
        for xs in pages.values():
            ok = [x for x in xs if x is not None]
            if not ok:
                return None
            total += stats.median(ok) * len(xs) / res["facts"]["rounds"]
    return total if total > 0 else None


def e2e_metrics(res, failed, attempted):
    return {"setup_s": (res["setup_s"], "s"), "work_s": (work_seconds(res), "s"),
            "peak_rss_mb": (res["peak_rss_mb"], "MB"),
            "ok_frac": (1.0 - failed / attempted, "frac")}


# spans of these layers are calls into the engine; the rest is the
# benchmark's own work (op bookkeeping, result writes for the checks)
ENGINE_LAYERS = ("sources", "factors", "streaming", "analytics", "functions")


def layer_metrics(res):
    units = {"_s": "s", "_mb": "MB", "slot_util": "frac", "_frac": "frac"}

    def unit(name):
        for suffix, u in units.items():
            if name.endswith(suffix):
                return u
        return "count"

    m = {k: (v, unit(k)) for k, v in res["layers"].items()}
    with open(res["spans"]) as f:
        spans = json.load(f)
    per_layer = stats.layer_self_seconds(spans)
    engine = sum(v for k, v in per_layer.items() if k in ENGINE_LAYERS)
    m["self.engine_s"] = (engine, "s")
    m["self.harness_s"] = (sum(per_layer.values()) - engine, "s")
    return m


def declared_metrics(kind):
    """Names of the manifest's metrics of one kind (``end_to_end`` or
    ``per_layer``): a run prints exactly these."""
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return [m["name"] for m in json.load(f)[kind]]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.isdir("src/main/scala/graft"):
        log("no engine sources (src/main/scala/graft) under the current directory")
        return 2
    cores = os.cpu_count() or 4
    stamp = source_stamp()
    classpath = build(stamp)

    research, marts, archive, research_manifest = prepare(stamp, classpath, cores)
    env_extra = {}
    if a.workload == "research":
        inputs, manifest = research, research_manifest
        data_dirs = [f"{inputs}/market"]
        env_extra["SPARK_GRAFT_MART_DIR"] = marts
    else:
        key = f"{BUILD}/inputs/{a.workload}-{a.seed}-v{gen.VERSION}"
        inputs = os.path.abspath(key)
        manifest = cached_inputs(inputs, lambda d: gen.inputs(a.workload, a.seed, d))
        data_dirs = [f"{inputs}/market", f"{inputs}/corpus"]

    work = os.path.abspath(f"{BUILD}/work/{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        out = f"{work}/result.json"
        t_jvm = time.time()
        jvm(classpath, ["--workload", a.workload, "--seed", str(a.seed),
                        "--seconds", str(a.seconds), "--trace", str(a.trace),
                        "--inputs", inputs, "--work", work, "--out", out,
                        "--cores", str(cores)], work, env_extra, archive=archive)
        with open(out) as f:
            res = json.load(f)
        cache_key = hashlib.sha256("\n".join(data_dirs).encode()).hexdigest()[:16]
        oracles = checks.Oracles(data_dirs, os.path.abspath(f"{BUILD}/oracle-cache/{cache_key}"))
        t_chk = time.time()
        failed, problems, _ = checks.evaluate(res, manifest, oracles)
        log(f"jvm {t_chk - t_jvm:.1f} s, checks {time.time() - t_chk:.1f} s")
        attempted = max(res["attempted"], 1)
        for p in problems:
            log(f"check: {p}")
        metrics = layer_metrics(res) if a.trace else e2e_metrics(res, failed, attempted)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    declared = declared_metrics("per_layer" if a.trace else "end_to_end")
    for k in declared:
        if metrics.get(k, (None, None))[0] is None:
            problems.append(f"{k}: not measured")
    metrics = {k: v for k, v in metrics.items() if k in declared}
    print(json.dumps({
        "correct": not problems,
        "attempted": attempted,
        "failed": min(failed, attempted),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(metrics.items())
                    if v is not None},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
