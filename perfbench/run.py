#!/usr/bin/env python3
"""Run one benchmark workload of the graft engine and print its metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a source checkout. The first run builds the engine
and the harness (perfbench/build.sbt) into .bench_build/; later runs
reuse the build while the sources are unchanged. Each run generates its
seeded inputs into a fresh scratch directory under .bench_build/runs/,
drives one JVM through set-up, a check pass and the timed phase, checks
the outputs (DuckDB oracles, the queue table hash, every point read),
and prints a report followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones (BENCHMARK.json
"end_to_end"); with --trace 1 the per-layer ones, and the spans are
written to .bench_build/traces/. Exits non-zero when a check fails.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time
from datetime import datetime, timezone
from decimal import Decimal

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics as M  # noqa: E402

WORKLOADS = ("queue_ingest", "corpus_curate")
# Set-ups per run. The first pays the JVM's start-up and class loading;
# setup_s is the median of the others. Queue set-ups are cheap (~1.5 s),
# so that workload takes one more sample.
SETUPS = {"queue_ingest": 4, "corpus_curate": 3}
# Input rows one pass reads, per mix workload (see gen.CORPUS).
PASS_TABLES = {"corpus_curate": ("documents", "embeddings", "events")}
# The JVM options of the repo's own build (build.sbt: default collector,
# -Xmx8g, the JDK 17 --add-opens list). -XX:-UsePerfData keeps the JVM
# from writing its perf-data file outside the checkout.
JVM_FLAGS = ["-Xmx8g", "-XX:-UsePerfData"]
JDK_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("Spark not found: set SPARK_HOME")
    return home


def source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def jar():
    return os.path.join(BUILD, "target", "scala-2.13", "graft-perfbench_2.13-0.1.0-SNAPSHOT.jar")


def jvm_cmd(env, main_args, tmp):
    return (["java"] + JVM_FLAGS + [f"-Djava.io.tmpdir={tmp}"]
            + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", jar() + os.pathsep + os.path.join(env["SPARK_HOME"], "jars", "*"),
               "graft.perfbench.Main"] + main_args)


def build(env):
    """Packages engine + harness into one jar, once per source state."""
    stamp = os.path.join(BUILD, "stamp")
    digest = source_digest()
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.exists(jar()):
        return
    os.makedirs(BUILD, exist_ok=True)
    benv = dict(env)
    benv.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if "SBT_OPTS" not in benv and os.path.exists(repos):
        benv["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                            f"-Dsbt.repository.config={repos} -Xmx2g")
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "package"],
                           cwd=HERE, env=benv, stdout=log, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=600)
    if r.returncode != 0:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail("build failed", 1)
    with open(stamp, "w") as f:
        f.write(digest)


# ---- output checks ---------------------------------------------------

def canon_value(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.9g}"
    if isinstance(v, Decimal):
        return canon_value(float(v))
    if isinstance(v, datetime):
        if v.tzinfo is not None:
            v = v.astimezone(timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(canon_value(x) for x in v)
    if isinstance(v, dict):
        return tuple((k, canon_value(x)) for k, x in sorted(v.items()))
    return v


def canon_rows(rel):
    cols = list(rel.columns)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted(repr(tuple(canon_value(r[i]) for i in order)) for r in rel.fetchall())
    return [cols[i] for i in order], hashlib.sha256("\n".join(rows).encode()).hexdigest(), len(rows)


def check_mix(res, in_dir, work):
    """Names of operations whose output check failed, with reasons."""
    import duckdb
    con = duckdb.connect()
    con.sql("SET TimeZone = 'UTC'")
    for f in sorted(os.listdir(in_dir)):
        if f.endswith(".parquet"):
            con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{in_dir}/{f}')")
    oracle = {c["name"]: c.get("oracle") for c in res["check"]}
    bad = {}
    # the check pass before the timed phase, then the final pass after it
    for stage, outs in (("check", res["check"]), ("final", res["final"])):
        for c in outs:
            name = c["name"]
            if name in bad:
                continue
            if not c["ok"]:
                bad[name] = f"{stage} pass raised: " + (c.get("err") or "")
                continue
            if not oracle[name]:
                continue  # compared against the check pass inside the run
            try:
                got = canon_rows(con.sql(f"SELECT * FROM read_parquet('{work}/{stage}/{name}/*.parquet')"))
                want = canon_rows(con.sql(oracle[name]))
                if got != want:
                    bad[name] = (f"{stage} pass result hash differs from the DuckDB oracle "
                                 f"({got[2]} vs {want[2]} rows)")
            except Exception as e:  # noqa: BLE001 — any failure is a failed check
                bad[name] = f"{stage} pass check error: {e}"[:300]
    return bad


# ---- metrics -----------------------------------------------------------

def end_to_end(workload, res, meta):
    ops = [o for o in res["ops"] if not o["traced"]]
    secs = [o["s"] for o in ops]
    tail, pct, beyond = M.tail(secs)
    # a traced run also spent time in traced passes: rate over untraced ones
    timed = sum(secs) if len(ops) < len(res["ops"]) else res["timed_s"]
    if workload == "queue_ingest":
        rows = len(ops) * meta["rows"]["per_round"]
    else:
        rows = meta["rows_per_pass"] * len({o["pass"] for o in ops})
    out = {
        "setup_s": (M.median(res["setup_s"][1:]), "s"),
        "op_p50_s": (M.median(secs), "s"),
        "ops_per_s": (len(ops) / timed, "1/s"),
        "rows_per_s": (rows / timed, "1/s"),
    }
    # printed, not a BENCHMARK.json metric: under the default collector the
    # peak follows when the heap grows, and its run-to-run spread exceeds
    # any bound the benchmark may set
    info = {"setup_cold_s": res["setup_s"][0], "rss_peak_mb": res["rss_hwm_mb"], "op_tail_s": tail,
            "op_tail_percentile": round(pct, 1), "op_tail_samples_beyond": beyond,
            "op_samples": len(secs)}
    if workload == "queue_ingest":
        fin = res["final"]
        lk = [x["s"] for x in res["extra"]["lookups"]]
        info["lookup_p50_s"] = M.median(lk)
        info["table_bytes_per_row"] = (fin["live_bytes"] + fin["dir_meta_bytes"]) / max(1, fin["live_rows"])
    return out, info


STREAM_KEYS = ("streaming.batches", "streaming.trigger_s", "streaming.add_batch_s",
               "streaming.wal_commit_s", "streaming.state_commit_s")
SPARK_KEYS = ("spark.jobs", "spark.stages", "spark.tasks", "spark.task_s", "spark.task_cpu_s",
              "spark.one_task_stage_s", "spark.shuffle_write_mb", "spark.shuffle_read_mb",
              "spark.spill_mb", "spark.gc_s", "spark.input_mb", "spark.input_rows")
PLAN_KEYS = ("plans.analysis_s", "plans.optimize_s", "plans.physical_s", "plans.graft_rules_s",
             "plans.exchanges")


def per_layer(workload, res, cores, names):
    """Per-layer metrics of the traced passes, each a mean per traced
    operation unless named otherwise."""
    spans = res["spans"]
    op_spans = [s for s in spans if s["layer"] == "op"]  # one per entry of res["ops"], in order
    ops_ix = {s["op"]: s for s in op_spans}
    by_op = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    tops = [s["op"] for s, o in zip(op_spans, res["ops"]) if o["traced"]]
    n = max(1, len(tops))
    tot = {}
    gaps, walls = [], []
    for op in tops:
        ss = by_op[op]
        for s in ss:
            for k, v in s["counters"].items():
                tot[k] = tot.get(k, 0.0) + v
        o = ops_ix[op]
        jobs = [tuple(j) for s in ss for j in s["jobs_ms"]]
        drain = sum(s["end_ms"] - s["start_ms"] for s in ss if s["layer"] == "trace")
        wall = o["end_ms"] - o["start_ms"]
        walls.append(wall / 1e3)
        gaps.append(max(0.0, wall - drain - M.union_length(jobs, o["start_ms"], o["end_ms"])) / 1e3)
    out = {}
    for k in SPARK_KEYS + PLAN_KEYS + STREAM_KEYS + ("spark.failed_tasks",):
        out[k] = tot.get(k, 0.0) / (1 if k == "spark.failed_tasks" else n)
    out["spark.busy_frac"] = tot.get("spark.task_s", 0.0) / max(1e-9, sum(walls) * cores)
    out["spark.driver_gap_s"] = M.median(gaps) if gaps else 0.0
    out["spark.persisted_mb"] = res["persisted_mb"]
    batches = max(1.0, tot.get("streaming.batches", 0.0))
    out["streaming.state_rows"] = tot.get("streaming.state_rows_sum", 0.0) / batches
    out["streaming.state_mb"] = tot.get("streaming.state_mb_sum", 0.0) / batches

    tspans = [s for s in spans if s["op"] in set(tops)]
    st = M.self_times([{"id": s["id"], "parent": s["parent"], "start": s["start_ms"],
                        "end": s["end_ms"]} for s in tspans if s["layer"] != "trace"])

    def layer_mean(layer, per=None):
        xs = [s["end_ms"] - s["start_ms"] for s in tspans if s["layer"] == layer]
        return sum(xs) / 1e3 / (per if per else max(1, len(xs)))

    out["queries.build_s"] = layer_mean("queries.build", n)
    out["queries.exec_s"] = layer_mean("queries.exec", n)
    for q in names:
        xs = [st[s["id"]] for s in tspans if s["layer"].startswith("queries.") and s["name"] == q]
        calls = sum(1 for s in tspans if s["layer"] == "queries.build" and s["name"] == q)
        out[f"queries.{q}_s"] = sum(xs) / 1e3 / calls if calls else 0.0
    q = workload == "queue_ingest"
    out["sources.merge_s"] = layer_mean("sources.merge") if q else 0.0
    out["sources.lookup_s"] = layer_mean("sources.lookup") if q else 0.0
    out["sources.maintain_s"] = layer_mean("sources.maintain") if q else 0.0
    if q:
        ex, fin = res["extra"], res["final"]
        written = ex["written"]
        obs = len(written) * res["_meta"]["rows"]["per_round"]
        out["sources.bytes_written_per_row"] = sum(w["bytes"] for w in written) / max(1, obs)
        out["sources.files_per_commit"] = sum(w["files"] for w in written) / max(1, len(written))
        parts = [x["parts"] for x in ex["lookups"] if x["parts"] >= 0]
        out["sources.parts_read_per_lookup"] = sum(parts) / max(1, len(parts))
        out["sources.live_parts"] = fin["live_parts"]
        out["sources.metadata_mb"] = fin["dir_meta_bytes"] / 1e6
        out["sources.commits"] = fin["head_version"]
    else:
        for k in ("sources.bytes_written_per_row", "sources.files_per_commit",
                  "sources.parts_read_per_lookup", "sources.live_parts",
                  "sources.metadata_mb", "sources.commits"):
            out[k] = 0.0
    plain = [o["s"] for o in res["ops"] if not o["traced"]]
    trs = [o["s"] for o in res["ops"] if o["traced"]]
    out["trace.overhead_frac"] = M.median(trs) / M.median(plain) - 1 if plain and trs else 0.0
    out["trace.overhead_p50_s"] = M.median(trs) - M.median(plain) if plain and trs else 0.0
    out["trace.spans"] = len(spans)
    return out


def declared(kind):
    """(name, unit) of the BENCHMARK.json metrics of `kind`."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)[kind]]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("engine sources (src/main/scala) not found: run from the root of a checkout")
    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    build(env)

    run = os.path.join(BUILD, "runs", f"{a.workload}-s{a.seed}-{os.getpid()}")
    shutil.rmtree(run, ignore_errors=True)
    in_dir, work = os.path.join(run, "in"), os.path.join(run, "work")
    for d in (in_dir, work, os.path.join(run, "tmp")):
        os.makedirs(d)
    try:
        t0 = time.time()
        meta = gen.generate(a.workload, a.seed, in_dir)
        phases = {"gen_s": time.time() - t0}
        if a.workload in PASS_TABLES:
            meta["rows_per_pass"] = sum(meta["rows"][t] for t in PASS_TABLES[a.workload])
        out = os.path.join(run, "result.json")
        cmd = jvm_cmd(env, ["--workload", a.workload, "--in", in_dir, "--work", work, "--out", out,
                            "--seconds", str(a.seconds), "--trace", str(a.trace),
                            "--setups", str(SETUPS[a.workload])],
                      os.path.join(run, "tmp"))
        t0 = time.time()
        with open(os.path.join(run, "jvm.log"), "w") as log:
            r = subprocess.run(cmd, cwd=run, env=env, stdout=log, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=170)
        if r.returncode != 0 or not os.path.exists(out):
            with open(os.path.join(run, "jvm.log")) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            fail(f"harness exited with {r.returncode}", 1)
        phases["jvm_s"] = time.time() - t0
        with open(out) as f:
            res = json.load(f)
        res["_meta"] = meta
        for k in ("check_s", "timed_s", "final_s"):
            phases["jvm." + k] = res[k]
        phases["jvm.setups_s"] = sum(res["setup_s"])
        report(a, res, meta, in_dir, work, phases)
    finally:
        shutil.rmtree(run, ignore_errors=True)


def report(a, res, meta, in_dir, work, phases):
    ops = res["ops"]
    bad = {}
    t0 = time.time()
    if a.workload == "queue_ingest":
        for c in res["check"]:
            if not c["ok"]:
                bad["round"] = "warm-up round failed: " + (c.get("err") or "")
        if not res["final"]["hash_ok"]:
            bad["round"] = "final table hash differs from one estimate over all inputs"
    else:
        bad = check_mix(res, in_dir, work)
    phases["verify_s"] = time.time() - t0
    failed = sum(1 for o in ops if not o["ok"] or o["name"] in bad)
    for o in ops:
        if not o["ok"]:
            bad.setdefault(o["name"], o.get("err"))
    for name, why in sorted(bad.items()):
        print(f"FAILED {name}: {why}")
    correct = not bad
    e2e, info = end_to_end(a.workload, res, meta)
    info["failed_frac"] = failed / max(1, len(ops))
    print(f"workload {a.workload} seed {a.seed}: {len(ops)} operations in {res['passes']} passes, "
          f"{res['timed_s']:.2f} s timed, {res['cores']} cores, closed loop, 1 client")
    for k, (v, unit) in e2e.items():
        print(f"  {k:<22} {v:.6g} {unit}")
    print("  phases: " + ", ".join(f"{k} {v:.2f}" for k, v in phases.items()))
    print("  setups: " + ", ".join(f"{x:.2f}" for x in res["setup_s"]))
    per_pass = {}
    for o in ops:
        per_pass[o["pass"]] = per_pass.get(o["pass"], 0.0) + o["s"]
    print("  passes: " + ", ".join(f"{x:.2f}" for x in per_pass.values()))
    for k, v in info.items():
        print(f"  {k:<22} {v:.6g}" if isinstance(v, float) else f"  {k:<22} {v}")
    if a.trace:
        names = declared("per_layer")
        queries = [n[len("queries."):-len("_s")] for n, _ in names if n.startswith("queries.")
                   and n not in ("queries.build_s", "queries.exec_s")]
        pl = per_layer(a.workload, res, res["cores"], queries)
        metrics = {n: {"value": float(pl.get(n, 0.0)), "unit": u} for n, u in names}
        tdir = os.path.join(BUILD, "traces")
        os.makedirs(tdir, exist_ok=True)
        path = os.path.join(tdir, f"{a.workload}-s{a.seed}.spans.jsonl")
        with open(path, "w") as f:
            for s in res["spans"]:
                f.write(json.dumps(s) + "\n")
        print(f"  spans written to {os.path.relpath(path, ROOT)}")
        for n, m in metrics.items():
            print(f"  {n:<36} {m['value']:.6g} {m['unit']}")
    else:
        metrics = {n: {"value": float(e2e[n][0]), "unit": u} for n, u in declared("end_to_end")}
    print(json.dumps({"correct": correct, "attempted": len(ops), "failed": failed,
                      "metrics": metrics}))
    sys.stdout.flush()
    if not correct:
        sys.exit(1)


if __name__ == "__main__":
    main()
