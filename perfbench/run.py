#!/usr/bin/env python3
"""graft benchmark: one command per workload run.

    python3 perfbench/run.py --workload <stream-replay|batch-mix>
                             --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-check

Run from the root of a graft checkout. The first run builds the program and
the benchmark driver from source with sbt; later runs reuse the build while
no source is newer. See perfbench/README.md for what each workload and
metric means. The last line of stdout is the result object; everything
else (build log, Spark, per-query errors) goes to stderr.
"""
import argparse
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402

WORKLOADS = {
    "stream-replay": [],
    "batch-mix": [
        "t1_scan", "t6_keyed_state", "t9_session_agg", "t18_global_state_scalable",
        "t20_stream_join", "r8_asof_join", "l62_similarity_join",
        "l136_pdf_encrypted_roundtrip", "l135_wet_ingest", "l145_tar_ingest"],
}
DECODERS = ["l135_wet_ingest", "l136_pdf_encrypted_roundtrip", "l145_tar_ingest"]
NAME_RE = re.compile(r"^[A-Za-z0-9_.-]+$")
RUN_LIMIT_S = 170          # every run ends well inside the 180 s it is allowed
SETUP_REPS = 3             # input generation is repeated; setup_s takes the median
BUILD_DIR = os.path.join(HERE, "target")
CLASSPATH = os.path.join(BUILD_DIR, "bench-classpath.txt")
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def die(msg, code=2):
    log(f"[perfbench] error: {msg}")
    sys.exit(code)


# ---------------------------------------------------------------- build

def _newest_source():
    newest = 0.0
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        for d, _, fs in os.walk(top):
            if "target" in d.split(os.sep):
                continue
            for f in fs:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    for f in (os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        newest = max(newest, os.path.getmtime(f))
    return newest


def build():
    """Compiles graft and the driver (sbt, offline) unless the build is
    current; returns the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die("no graft sources next to perfbench/: run from a full checkout")
    if os.path.isfile(CLASSPATH) and os.path.getmtime(CLASSPATH) >= _newest_source():
        return open(CLASSPATH).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("[perfbench] building graft and the benchmark driver (sbt) ...")
    try:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, capture_output=True, text=True, timeout=850)
    except (OSError, subprocess.TimeoutExpired) as e:
        die(f"build failed: {e}")
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or not lines[-1].startswith(BUILD_DIR):
        log(p.stdout[-4000:], p.stderr[-4000:])
        die("build failed")
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(lines[-1])
    return lines[-1]


# ---------------------------------------------------------------- run

def run_jvm(classpath, work, args, limit_s):
    """Runs the driver; returns its result.json, or None if it failed."""
    cmd = (["java", "-Xms1g", "-Xmx1g", "-XX:+UseG1GC", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
            f"-Dlog4j2.configurationFile={HERE}/conf/log4j2.properties",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for o in JVM_OPENS for x in ("--add-opens", f"{o}=ALL-UNNAMED")]
           + ["-cp", classpath, "graftbench.Main"]
           + [f"{k}={v}" for k, v in args.items()])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        rc = proc.wait(timeout=max(5.0, limit_s))
    except subprocess.TimeoutExpired:
        log("[perfbench] driver over its time limit: killing it")
        return None
    finally:  # also on SIGTERM/SIGINT: never leave the JVM behind
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    path = os.path.join(work, "result.json")
    if rc != 0 or not os.path.isfile(path):
        log(f"[perfbench] driver exited with {rc}")
        return None
    with open(path) as f:
        return json.load(f)


def oracle_check(tables_dir, work, queries):
    """Per query: None if its check-pass rows equal the DuckDB oracle, else
    the reason. Normalization is scripts/check_oracle.py's."""
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    import duckdb
    import check_oracle
    with open(os.path.join(work, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for t in check_oracle.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables_dir}/{t}.parquet')")
    out, stats = {}, {}
    for q in queries:
        got_path = os.path.join(work, "check", q)
        try:
            got = con.execute(f"SELECT * FROM read_parquet('{got_path}/*.parquet')").df()
        except Exception as e:  # no output: the check op already failed
            out[q] = f"no output: {e}"
            continue
        stats[q] = (len(got), float(got.isna().any(axis=1).mean()) if len(got) else 0.0)
        if q not in oracle:
            out[q] = None if len(got) > 0 else "no rows"
            continue
        try:
            exp = check_oracle.normalize(con.execute(oracle[q]).df())
        except Exception as e:
            out[q] = f"oracle error: {e}"
            continue
        got = check_oracle.normalize(got)
        if list(exp.columns) != list(got.columns):
            out[q] = f"columns {list(got.columns)} != {list(exp.columns)}"
        elif len(exp) != len(got):
            out[q] = f"{len(got)} rows != {len(exp)}"
        elif not exp.equals(got):
            out[q] = f"{int((exp != got).any(axis=1).sum())} rows differ"
        else:
            out[q] = None
    return out, stats


def metric_specs():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec["end_to_end"], spec["per_layer"]


def one_run(workload, seed, seconds, trace, inject="", queries=None):
    t_start = time.monotonic()
    if workload not in WORKLOADS:
        die(f"unknown workload {workload!r}; one of {', '.join(WORKLOADS)}")
    e2e, per_layer = metric_specs()
    classpath = build()
    work = os.path.join(ROOT, ".bench_work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        # inputs, generated SETUP_REPS times from the seed; the last copy is used
        gen_s = []
        for rep in range(SETUP_REPS):
            t0 = time.monotonic()
            inputs = os.path.join(work, f"inputs{rep}")
            tables_dir, stream_dir = os.path.join(inputs, "tables"), os.path.join(inputs, "stream")
            sentinel = 0
            if workload == "stream-replay":
                sentinel = gen.stream(stream_dir, seed)
            else:
                gen.tables(tables_dir, seed)
            gen_s.append(time.monotonic() - t0)
            if rep < SETUP_REPS - 1:
                shutil.rmtree(inputs)
        queries = queries or WORKLOADS[workload]
        # Two Spark cores: passes are no slower than on four at these input
        # sizes, and the JIT, GC and other tenants of a small shared host
        # keep the rest of its cores, which steadies the timings.
        cores = max(1, min(2, os.cpu_count() or 1))
        limit = RUN_LIMIT_S - (time.monotonic() - t_start)
        res = run_jvm(classpath, work, {
            "workload": workload, "seed": seed, "seconds": seconds, "trace": int(trace),
            "work": work, "tables": tables_dir, "stream": stream_dir, "sentinel": sentinel,
            "queries": ",".join(queries), "cores": cores, "hard": max(10, limit - 25),
            "inject": inject, "launched": int(time.time() * 1000)}, limit - 5)
        if res is None:
            die("the benchmark driver did not finish", 3)
        ops = res["ops"]
        layers = dict(res["layers"])
        if workload != "stream-replay":
            verdict, stats = oracle_check(tables_dir, work, queries)
            wrong = {q for q, why in verdict.items() if why is not None}
            for q in sorted(wrong):
                log(f"[perfbench] wrong result {q}: {verdict[q]}")
            for o in ops:
                if o["op"] in wrong and o["status"] == "ok":
                    o["status"] = "wrong"
            for q in DECODERS:
                if q in stats:
                    rows, nulls = stats[q]
                    layers[f"decode.{q.split('_')[0]}.rows"] = rows
                    layers[f"decode.{q.split('_')[0]}.null_ratio"] = nulls
        for e in res["errors"]:
            log(f"[perfbench] {e}")
        if trace:
            for q, top in sorted(res["values"].get("top_ops", {}).items()):
                log(f"[perfbench] top operators {q}: " + ", ".join(
                    f"{t['op']} {t['ms']:.0f} ms" for t in top))
            spans = os.path.join(ROOT, ".bench_work", f"spans-{workload}-{seed}.json")
            shutil.copyfile(os.path.join(work, "spans.json"), spans)
            log(f"[perfbench] spans: {spans}")
        counts = {}
        for o in ops:
            counts[o["status"]] = counts.get(o["status"], 0) + 1
        attempted = len(ops)
        failed = sum(counts.get(s, 0) for s in ("failed", "timeout", "wrong"))
        log(f"[perfbench] operations: {json.dumps(counts, sort_keys=True)}")
        per_op = {}
        for o in ops:
            per_op.setdefault((o["phase"], o["op"]), []).append(o["ms"])
        log("[perfbench] median ms per operation: " + " ".join(
            f"{ph}/{op}={statistics.median(ms):.0f}" for (ph, op), ms in sorted(per_op.items())))
        v = res["values"]
        values = {
            "setup_s": statistics.median(gen_s) + v["setup_jvm_s"],
            "wall_s": v["wall_s"], "query_p50_ms": v["query_p50_ms"],
            "events_per_s": v["events_per_s"], "batch_p50_ms": v["batch_p50_ms"],
            "batch_p80_ms": v["batch_p80_ms"], "peak_rss_mb": v["peak_rss_mb"],
        }
        layers["ops.attempted"] = attempted
        layers["ops.fail_ratio"] = failed / max(1, attempted)
        log(f"[perfbench] pass_walls={[round(w, 3) for w in v['pass_walls']]} "
            f"batch_samples={v['batch_samples']} "
            f"run_s={time.monotonic() - t_start:.1f}")
        specs = per_layer if trace else e2e
        src = layers if trace else values
        metrics = {m["name"]: {"value": float(src.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in specs}
        return {"correct": failed == 0, "attempted": attempted, "failed": failed,
                "metrics": metrics}, ops
    finally:
        shutil.rmtree(work, ignore_errors=True)


def self_check():
    """An injected wrong row and an injected exception must both show up
    as failures, and every metric name must be well formed."""
    qs = ["t1_scan", "t2_filter", "t3_map"]
    out, ops = one_run("batch-mix", 1, 1, False, inject="wrong:t1_scan,throw:t2_filter",
                       queries=qs)
    e2e, per_layer = metric_specs()
    problems = []
    bad = {o["op"] for o in ops if o["status"] in ("failed", "timeout", "wrong")}
    if "t1_scan" not in bad:
        problems.append("injected wrong row not counted")
    if "t2_filter" not in bad:
        problems.append("injected exception not counted")
    if "t3_map" in bad:
        problems.append("clean query counted as failed")
    if out["failed"] == 0 or out["correct"]:
        problems.append("failures missing from the result line")
    names = [m["name"] for m in e2e + per_layer] + list(out["metrics"])
    problems += [f"bad metric name {n!r}" for n in names if not NAME_RE.match(n)]
    print(json.dumps({"self_check": "fail" if problems else "pass", "problems": problems}))
    return 1 if problems else 0


def main():
    # SIGTERM unwinds like Ctrl-C, so the JVM is killed and the work
    # directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-check", action="store_true")
    a = ap.parse_args()
    if a.self_check:
        sys.exit(self_check())
    if not a.workload:
        die("--workload is required")
    out, _ = one_run(a.workload, a.seed, a.seconds, bool(a.trace))
    print(json.dumps(out))


if __name__ == "__main__":
    main()
