#!/usr/bin/env python3
"""End-to-end benchmark of the graft Spark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One run:

1. builds the program from source (`sbt package` in perfbench/, which
   compiles src/main together with the harness) unless the sources are
   unchanged since the last build;
2. makes the workload's inputs from the seed: DataGen writes a base set
   once per build, and each seed derives a same-distribution copy of it
   (a seeded order-keeping relabelling of every surrogate key plus a row
   shuffle; seed 42 keeps the base keys and row order);
3. runs perfbench.Main in one JVM at local[<cores>] (see Main.scala for
   the phases), with its own java.io.tmpdir, emptied before and after;
4. checks every query's result against DuckDB running the program's own
   oracle SQL over the same input files (the tools/check.py
   canonicalisation); an untimed warm-up pass writes the results, the
   check itself runs after the JVM has exited;
5. prints every metric with its unit, then one JSON line: with --trace 0
   the end-to-end metrics, with --trace 1 the per-layer metrics.

A query that throws or does not match the oracle counts as failed and
yields no time sample. WORKLOADS.md says why each workload exists and
which layer metric should move which end-to-end metric.
"""
import argparse
import hashlib
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
JAR = os.path.join(HERE, "target", "scala-2.13", "perfbench_2.13-0.1.0-SNAPSHOT.jar")
CORES = 4
DEFAULT_SEED = 42
JVM_TIMEOUT_S = 170
# Set-up query: a program query in no workload, so no workload's first
# pass inherits its warm code paths.
WARMUP_QUERY = "q_tpch_q6"

WORKLOADS = {
    "amplab_sf01": {
        "sf": 0.1,
        "queries": ["q1_filter_project", "q2_substr_agg", "q3_join_top1",
                    "q_mr_wordcount", "q_mr_q3"],
    },
    "graph_iter_sf0001": {
        "sf": 0.001,
        "queries": ["q_components", "q_kcore"],
    },
    "dedup_stream_sf0001": {
        "sf": 0.001,
        "queries": ["q_ngram_jaccard", "q_simhash_pairs", "q_stream_dedup", "q_stream_upsert"],
    },
}

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# Surrogate-key columns, relabelled consistently in every table.
KEYS = {
    "customer": ["c_custkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "part": ["p_partkey"],
    "supplier": ["s_suppkey"],
    "events": ["user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}

# (name, unit) of what each trace level reports, in BENCHMARK.json order.
# The traced run also prints pass_s, spark.gc_s, plans.analysis_s and the
# streaming phase seconds. They stay out of the JSON line: on some
# workloads they read exactly zero in every run (no GC or no streaming
# inside a pass), and analysis time comes in whole milliseconds.
END_TO_END = [("setup_s", "s"), ("first_pass_s", "s"), ("pass_s", "s"),
              ("cost_usd", "usd"), ("peak_rss_mb", "MB")]
PER_LAYER = [
    ("queries.build_s", "s"), ("queries.build_jobs", "count"),
    ("plans.plan_s", "s"), ("plans.optimizer_s", "s"), ("plans.physical_s", "s"),
    ("spark.exec_s", "s"), ("spark.jobs", "count"), ("spark.stages", "count"),
    ("spark.tasks", "count"), ("spark.task_s", "s"), ("spark.task_cpu_s", "s"),
    ("spark.sched_delay_s", "s"), ("spark.util", "frac"),
    ("spark.shuffle_write_bytes", "bytes"), ("spark.shuffle_read_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"), ("mr.shuffle_bytes", "bytes"),
    ("mr.shuffle_records", "count"), ("mr.combine_ratio", "frac"),
    ("sources.input_rows", "count"), ("sources.input_bytes", "bytes"),
    ("sources.kv_reads", "count"), ("sources.kv_writes", "count"),
    ("functions.shingles_rows_per_s", "1/s"), ("functions.simhash_rows_per_s", "1/s"),
    ("functions.winnow_rows_per_s", "1/s"), ("functions.hash60_rows_per_s", "1/s"),
    ("streaming.batches", "count"), ("streaming.add_batch_frac", "frac"),
    ("streaming.wal_commit_frac", "frac"), ("streaming.state_rows", "count"),
    ("streaming.cpu_frac", "frac"), ("artifact.cold_fits", "count"),
    ("trace.overhead_frac", "frac"),
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(f"error: {msg}")
    sys.exit(2)


def run(cmd, cwd, timeout, log_path, env=None):
    """Runs a child to completion, output to a log. The child and anything
    it starts are killed if it times out or this process is stopped."""
    with open(log_path, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                             env=env, start_new_session=True)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if rc != 0:
        with open(log_path) as f:
            tail = f.read()[-4000:]
        fail(f"{cmd[0]} ... exited with {rc}; log tail:\n{tail}")


def sources_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(f[len(ROOT):].encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Builds the jar unless the sources are unchanged; their digest."""
    stamp = os.path.join(WORK, "build.stamp")
    digest = sources_digest()
    if os.path.exists(JAR) and os.path.exists(stamp) and open(stamp).read() == digest:
        return digest
    log("building (sbt package)")
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = env.get("SBT_OPTS") or (
        "-Dsbt.override.build.repos=true -Dsbt.repository.config=%s "
        "-Dsbt.offline=true -Xmx2g" % os.path.expanduser("~/.sbt/repositories"))
    run(["sbt", "--batch", "-Dsbt.log.noformat=true", "package"], HERE, 800,
        os.path.join(WORK, "build.log"), env)
    with open(stamp, "w") as f:
        f.write(digest)
    return digest


def spark_jars():
    """The jars of SPARK_HOME, or of the installation whose spark-submit is
    on PATH (the same rule as build.sbt)."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit is None:
            fail("set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return os.path.join(home, "jars")


def java(main, args, timeout, log_path, tmpdir):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    cmd = ["java"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-XX:+UseParallelGC", "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={tmpdir}", f"-Dspark.local.dir={tmpdir}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{JAR}:{spark_jars()}/*", main] + [str(a) for a in args]
    run(cmd, ROOT, timeout, log_path)


def prepare(digest):
    """The base input set of every workload's scale factor, generated by
    DataGen in one JVM per build."""
    prep = os.path.join(WORK, f"prep-{digest[:16]}")
    if not os.path.exists(os.path.join(prep, "DONE")):
        log("generating base inputs")
        for f in os.listdir(WORK):
            if f.startswith("prep-"):
                shutil.rmtree(os.path.join(WORK, f))
        tmp = os.path.join(WORK, "tmp")
        os.makedirs(tmp, exist_ok=True)
        args = [CORES]
        for sf in sorted({w["sf"] for w in WORKLOADS.values()}):
            args += [sf, os.path.join(prep, f"sf{sf}")]
        java("perfbench.Prep", args, 600, os.path.join(WORK, "prep.log"), tmp)
        open(os.path.join(prep, "DONE"), "w").close()
    return prep


def derive_inputs(con, base, seed, out):
    """Writes the seed's copy of the base set: every surrogate key k
    becomes k*m + (hash(k, seed) mod m) for a seeded m, and rows come in
    a seeded order. The relabelling is injective and keeps key order, so
    joins, groups and the label order that min-label fixpoints follow are
    those of the base set; keys, hash partitions and file layout differ.
    The default seed is the identity."""
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    m = 1 if seed == DEFAULT_SEED else random.Random(seed).randrange(2, 17)
    for t in TABLES:
        repl = ", ".join(f"CAST({c} * {m} + hash({c}, {seed}) % {m} AS BIGINT) AS {c}"
                         for c in KEYS.get(t, ()))
        select = "* EXCLUDE (file_row_number)" + (f" REPLACE ({repl})" if repl else "")
        order = ("file_row_number" if seed == DEFAULT_SEED
                 else f"hash(file_row_number, {seed})")
        con.execute(f"COPY (SELECT {select} FROM read_parquet('{base}/{t}.parquet', "
                    f"file_row_number = true) ORDER BY {order}) "
                    f"TO '{out}/{t}.parquet' (FORMAT PARQUET)")


def canon(rows):
    """tools/check.py's canonical form: floats at %.10g, rows sorted."""
    out = []
    for r in rows:
        out.append(tuple(("%.10g" % v if not math.isnan(v) else "nan")
                         if isinstance(v, float) else str(v) for v in r))
    out.sort()
    return out


def check(con, data, out_dir, queries):
    """Query name -> None if the result matches the oracle, else why not."""
    for t in TABLES:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    verdict = {}
    for q in queries:
        try:
            if oracle.get(q) is None:
                raise ValueError("no oracle SQL")
            got = con.execute(f"SELECT * FROM '{out_dir}/results/{q}/*.parquet'").df()
            exp = con.execute(oracle[q]).df()
            got = got.reindex(sorted(got.columns), axis=1)
            exp = exp.reindex(sorted(exp.columns), axis=1)
            if list(got.columns) != list(exp.columns):
                raise ValueError(f"columns {list(got.columns)} vs {list(exp.columns)}")
            g, e = canon(got.values.tolist()), canon(exp.values.tolist())
            verdict[q] = None if g == e else f"{len(g)} vs {len(e)} rows differ"
        except Exception as ex:  # a broken result is a failed query, not a crash
            verdict[q] = f"{type(ex).__name__}: {ex}"
    return verdict


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))  # run the cleanups
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail("run from a checkout of the repository: src/main/scala/graft is missing")
    import duckdb  # after the checkout check, so a bare directory fails fast

    w = WORKLOADS[a.workload]
    queries = w["queries"]
    os.makedirs(WORK, exist_ok=True)
    prep = prepare(build())
    con = duckdb.connect()
    data = os.path.join(WORK, "input")
    derive_inputs(con, os.path.join(prep, f"sf{w['sf']}"), a.seed, data)

    out_dir = os.path.join(WORK, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    tmp = os.path.join(WORK, "tmp")
    for d in (out_dir, tmp):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    try:
        java("perfbench.Main", [data, out_dir, ",".join(queries), a.seconds, a.trace,
                                CORES, WARMUP_QUERY],
             JVM_TIMEOUT_S, os.path.join(out_dir, "jvm.log"), tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    rec = json.load(open(os.path.join(out_dir, "result.json")))

    verdict = check(con, data, out_dir, queries)
    for q, why in rec["failures"].items():
        verdict[q] = why
    bad = sorted(q for q, v in verdict.items() if v is not None)
    good = [q for q in queries if q not in bad]
    for q in bad:
        log(f"FAILED {q}: {verdict[q]}")

    untraced = [p["times"] for p in rec["passes"] if p["traced"] is False]
    traced = [p["times"] for p in rec["passes"] if p["traced"] is True]
    executions = 1 + len(rec["passes"])  # the first pass and the window
    attempted = executions * len(queries)
    failed = executions * len(bad)

    def pass_total(times):
        return sum(times[q] for q in good)

    e2e = {
        "setup_s": rec["setup_s"],
        "first_pass_s": pass_total(rec["first_pass"]),
        "pass_s": median([pass_total(t) for t in untraced]),
        "cost_usd": rec["cost_usd_per_pass"],
        "peak_rss_mb": rec["peak_rss_mb"],
    }
    print(f"workload {a.workload}: sf{w['sf']}, {len(queries)} queries, seed {a.seed}, "
          f"{CORES} cores, trace {a.trace}")
    for name, unit in END_TO_END:
        print(f"  {name:<34} {e2e[name]:>14.6g} {unit}")
    print(f"  {'failed_frac':<34} {failed / attempted:>14.6g} frac ({failed} of {attempted})")
    print(f"  {'pass_s samples':<34} {len(untraced):>14d} count")

    metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
    if a.trace:
        layers = {k: median([p[k] for p in rec["layers"]]) for k in rec["layers"][0]}
        for k in ("add_batch", "wal_commit"):
            layers[f"streaming.{k}_frac"] = median(
                [p[f"streaming.{k}_s"] / p["pass_s"] for p in rec["layers"]])
        layers.update(rec["functions"])
        layers["artifact.cold_fits"] = rec["cold_fits"]
        layers["trace.overhead_frac"] = (median([pass_total(t) for t in traced])
                                         / median([pass_total(t) for t in untraced]) - 1)
        units = dict(PER_LAYER, **{"pass_s": "s", "spark.gc_s": "s", "plans.analysis_s": "s",
                                   "streaming.add_batch_s": "s", "streaming.wal_commit_s": "s"})
        print("  per layer, median over traced passes:")
        for k in sorted(layers):
            print(f"  {k:<34} {layers[k]:>14.6g} {units[k]}")
        print("  per query, median over traced passes:")
        for q, m in rec["query_layers"].items():
            print(f"  {q:<22} " + " ".join(f"{k}={v:.4g}" for k, v in sorted(m.items())))
        print(f"  spans:  {os.path.relpath(os.path.join(out_dir, 'trace.json'), ROOT)}")
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER}
    if not rec["cost_drained"]:
        log("warning: the listener bus did not drain; cost_usd may under-count")
    if rec["cold_fits"]:
        log(f"warning: {rec['cold_fits']} artifact fit(s) inside the measured window")

    per_query = {q: dict(rec["query_layers"].get(q, {}),
                         pass_s=median([t[q] for t in untraced])) for q in good}
    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "correct": not bad, "attempted": attempted, "failed": failed,
              "end_to_end": dict(e2e, failed_frac=failed / attempted),
              "per_layer": layers if a.trace else {}, "per_query": per_query}
    with open(os.path.join(out_dir, "record.json"), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    print(f"  record: {os.path.relpath(os.path.join(out_dir, 'record.json'), ROOT)}")
    print(json.dumps({"correct": not bad, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
