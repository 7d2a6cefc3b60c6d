#!/usr/bin/env python3
"""Benchmark of the graft engine: two workloads through its public API.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
harness from source with sbt (perfbench/build.sbt). Inputs are generated
from the seed (gen.py), the JVM harness (src/main/scala/graft/perfbench)
runs the workload and writes raw samples, and this script checks every
exported relation and read result against DuckDB, then prints a report
and, as the last line, one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones.
See perfbench/README.md for the workloads, metrics and layers.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
THREADS = 4            # Spark local[4] and Target.threads (profiles.yml threads: 4)
DRIVER_MEM = "3g"
JVM_TIMEOUT_S = 170
CI_LANES = 6          # 4 staging tables + 4 models per lane
CI_READS = 3          # audited relations per PR (read in the PR and in production)
MAX_CYCLES = 40
READS_PER_CYCLE = 8
OPS_PER_CYCLE = 2

# Per workload: corpus scale factor, minimum and maximum timed units per
# run (the first unit warms the JIT up and is left out of the statistics).
WORKLOADS = {
    "slim_ci": {"sf": 0.01, "min_units": 6, "max_units": 64},
    "incremental_cycles": {"sf": 0.01, "min_units": 4,
                           "max_units": MAX_CYCLES},
}

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build
def source_files():
    pats = [os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
            os.path.join(HERE, "src", "**", "*.scala")]
    files = sorted(f for p in pats for f in glob.glob(p, recursive=True))
    return files + [os.path.join(HERE, "build.sbt"),
                    os.path.join(HERE, "project", "build.properties")]


def build():
    """Compile engine + harness with sbt; returns the runtime classpath.
    Skipped when the sources are unchanged since the last build."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("perfbench: engine sources (src/main/scala/graft) not found; "
                 "run from the repository root")
    h = hashlib.sha256()
    for f in source_files():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(HERE, "target", "perfbench-classpath.txt")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            digest, cp = fh.read().split("\n", 1)
        if digest == h.hexdigest():
            return cp.strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.forcestart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building engine + harness with sbt")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, capture_output=True, text=True,
                       timeout=840)
    cps = [ln for ln in p.stdout.splitlines() if "scala-2.13/classes" in ln
           and not ln.startswith("[")]
    if p.returncode != 0 or not cps:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        sys.exit("perfbench: build failed")
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest() + "\n" + cps[-1].strip())
    return cps[-1].strip()


# ------------------------------------------------------------------ inputs
def prepare(workload, work, seed, seconds, trace):
    """Generate the inputs; returns (plan, ctx) where ctx is what the
    oracle check and the per-layer metrics need."""
    cfg = WORKLOADS[workload]
    corpus = os.path.join(work, "corpus")
    gen.make_corpus(corpus, seed, cfg["sf"])
    plan = {"workload": workload, "work": work, "seconds": seconds,
            "trace": bool(trace), "threads": THREADS,
            "min_units": cfg["min_units"],
            "max_units": cfg["max_units"]}
    src = lambda t: (t, os.path.join(corpus, t + ".parquet"))
    tpch = [src(t) for t in ["customer", "orders", "lineitem", "part",
                             "supplier", "nation", "region", "events"]]
    ctx = {"corpus": corpus}
    if workload == "slim_ci":
        models, tests = gen.slim_ci_models(seed, CI_LANES)
        base = os.path.join(work, "base_project")
        pr = os.path.join(work, "pr_project")
        # the PR checkout gets its own project name, so its session views
        # never shadow production's
        gen.write_project(base, "slim_ci", tpch, models, tests, macros=gen.SLIM_MACROS)
        gen.write_project(pr, "slim_ci_pr", tpch, models, tests, macros=gen.SLIM_MACROS)
        edits = gen.slim_ci_edits(seed, models, CI_LANES, cfg["max_units"])
        plan.update(base_project=base, pr_project=pr, reads_per_unit=CI_READS,
                    edits=[[{"name": e["name"], "text": gen.model_text(
                        dict(next(m for m in models if m["name"] == e["name"]),
                             body=e["body"]))} for e in it] for it in edits])
        ctx.update(models=models, sources=tpch, edits=edits)
    elif workload == "incremental_cycles":
        data = os.path.join(work, "inc_data")
        n_orders, n_lines = gen.inc_base(corpus, data)
        gen.inc_batches(seed, n_orders, n_lines, MAX_CYCLES, data)
        srcdirs = {t: os.path.join(work, "sources", t)
                   for t in ("inc_orders", "inc_lineitem")}
        proj = os.path.join(work, "project")
        gen.write_project(proj, "incremental", sorted(srcdirs.items()),
                          gen.INC_MODELS, gen.INC_TESTS,
                          snapshots=gen.INC_SNAPSHOTS,
                          # materialized_view needs the manifest protocol
                          conf="commit_mode=manifest\n")
        reads = gen.inc_reads(seed, MAX_CYCLES, READS_PER_CYCLE, n_orders)
        for cyc in reads:
            for r in cyc:
                r["id"] += "-" + r["kind"]
        batches = [{t: os.path.join(data, "batches", t, f"b{b:04d}.parquet")
                    for t in srcdirs} for b in range(1, MAX_CYCLES + 1)]
        plan.update(project=proj, sources=srcdirs, batches=batches,
                    base={t: os.path.join(data, t, "b0000.parquet") for t in srcdirs},
                    reads=[[{k: r[k] for k in ("id", "model", "sql")} for r in c]
                           for c in reads],
                    check_models=sorted(gen.inc_oracle()), mv="status_mv",
                    corpus=corpus, ops_per_unit=OPS_PER_CYCLE,
                    sample=[list(s) for s in gen.ops_sample()])
        ctx.update(data=data, models=gen.INC_MODELS + gen.INC_SNAPSHOTS,
                   reads=reads)
    return plan, ctx


# ------------------------------------------------------------------ JVM
def run_jvm(cp, plan, work):
    path = os.path.join(work, "plan.json")
    with open(path, "w") as fh:
        json.dump(plan, fh)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{DRIVER_MEM}", "-Dspark.ui.enabled=false",
            f"-Djava.io.tmpdir={tmp}"] +
           [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", cp, "graft.perfbench.Main", path])
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    res_path = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(res_path):
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-6000:])
        sys.exit(f"perfbench: harness exited with {rc}")
    with open(res_path) as fh:
        return json.load(fh)


# ------------------------------------------------------------------ oracle
def canon_hash(con, sql):
    """(rows, order-insensitive hash) of a query: columns by name, doubles
    to 15 significant digits (tools/validate.py's canon), rows hashed and
    summed so row order does not matter."""
    rel = con.sql(sql)
    cols = sorted(zip(rel.columns, [str(t) for t in rel.types]),
                  key=lambda c: c[0].lower())
    parts = []
    for c, t in cols:
        q = '"' + c.replace('"', '""') + '"'
        if t in ("DOUBLE", "FLOAT"):
            e = f"printf('%.15g', {q})"
        else:
            e = f"CAST({q} AS VARCHAR)"
        parts.append(f"coalesce({e}, 'None')")
    row = "concat_ws(chr(1), " + ", ".join(parts) + ")"
    n, h = con.sql(f"SELECT count(*), CAST(coalesce(sum(hash({row})), 0) AS VARCHAR) "
                   f"FROM ({sql})").fetchone()
    return [c.lower() for c, _ in cols], n, h


def canon_rows(con, sql):
    rel = con.sql(sql)
    cols = list(rel.columns)
    idx = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    return "\n".join(sorted("\x01".join("None" if r[i] is None else str(r[i])
                                        for i in idx) for r in rel.fetchall()))


def compare(con, name, spark_dir, oracle_sql, problems):
    files = glob.glob(os.path.join(spark_dir, "*.parquet"))
    if not files:
        problems.append(f"{name}: no exported rows")
        return
    a = canon_hash(con, f"SELECT * FROM read_parquet({files!r})")
    b = canon_hash(con, oracle_sql)
    if a != b:
        problems.append(f"{name}: engine cols/rows/hash {a} != oracle {b}")


def new_con():
    con = duckdb.connect()
    con.execute("SET threads = 2")
    con.execute("SET TimeZone = 'UTC'")
    return con


def source_views(con, sources):
    for t, path in sources:
        con.execute(f"CREATE OR REPLACE VIEW src_{t} AS SELECT * FROM read_parquet('{path}')")


def model_views(con, models, overrides=None):
    for m in models:
        body = (overrides or {}).get(m["name"], m["body"])
        con.execute(f"CREATE OR REPLACE VIEW {m['name']} AS {gen.duck(body)}")


def check_reads(con, reads, problems):
    for r in reads:
        want = canon_rows(con, gen.duck(r["sql"]))
        if want != r["result"]:
            problems.append(f"read {r['id']}: engine {r['result']!r} != oracle {want!r}")


def check(workload, res, ctx):
    """Oracle check of everything the run exported or read. Returns a
    list of mismatch descriptions."""
    con = new_con()
    problems = []
    exports = res["exports"]
    if workload == "slim_ci":
        source_views(con, ctx["sources"])
        model_views(con, ctx["models"])
        edits = ctx["edits"]
        for u in res["units"]:
            ov = {e["name"]: e["body"] for e in edits[u["edit"]]}
            model_views(con, [m for m in ctx["models"] if m["name"] in ov], ov)
            check_reads(con, [x for x in u["reads"] if x["id"].startswith("ci")], problems)
            if u is res["units"][-1]:
                for name, d in exports.items():
                    compare(con, name, d, f"SELECT * FROM {name}", problems)
            model_views(con, [m for m in ctx["models"] if m["name"] in ov])
            check_reads(con, [x for x in u["reads"] if x["id"].startswith("prod")], problems)
    elif workload == "incremental_cycles":
        oracle = gen.inc_oracle()
        data = ctx["data"]
        n_cycles = len(res["units"])
        for c in range(1, n_cycles + 1):
            for t in ("inc_orders", "inc_lineitem"):
                files = [os.path.join(data, t, "b0000.parquet")] + [
                    os.path.join(data, "batches", t, f"b{b:04d}.parquet")
                    for b in range(1, c + 1)]
                con.execute(f"CREATE OR REPLACE VIEW src_{t} AS "
                            f"SELECT * FROM read_parquet({files!r})")
            for name, (osql, _) in oracle.items():
                con.execute(f"CREATE OR REPLACE VIEW {name} AS {osql}")
            check_reads(con, [x for x in res["units"][c - 1]["reads"] if "sql" in x],
                        problems)
        for name, (_, proj) in oracle.items():
            files = glob.glob(os.path.join(exports.get(name, ""), "*.parquet"))
            if not files:
                problems.append(f"{name}: no exported rows")
                continue
            engine = f"(SELECT * FROM read_parquet({files!r}))"
            a = canon_hash(con, proj.format(rel=engine))
            b = canon_hash(con, proj.format(rel=name))
            if a != b:
                problems.append(f"{name}: engine {a} != oracle {b}")
        # the operator consumers, against SparkEntry.oracleSql
        for p in glob.glob(os.path.join(ctx["corpus"], "*.parquet")):
            name = os.path.basename(p)[:-len(".parquet")]
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
        for name, sql in sorted(res["oracle"].items()):
            compare(con, name, exports.get(name, ""), sql, problems)
    return problems


# ------------------------------------------------------------------ metrics
def untraced(res):
    """Untraced units after the first, which warms the JIT up."""
    return [u for u in res["units"] if not u["traced"] and u["i"] > 0]


def end_to_end(res):
    """Medians and the read tail, each sample with the CPU share the
    hypervisor stole during it taken out (t * (1 - steal)): on a shared
    host that share moves whole runs by tens of percent."""
    us = untraced(res)
    reads = [r["s"] * (1 - u["steal"]) for u in us for r in u["reads"]]
    t = stats.tail(reads)
    if t is None:
        sys.exit(f"perfbench: {len(reads)} reads leave no tail percentile")
    setup = [s * (1 - st) for s, st in zip(res["setup_s"], res["setup_steal"])]
    m = {"setup_s": (stats.median(setup), "s", len(setup)),
         "op_s": (stats.median(u["op_s"] * (1 - u["op_steal"]) for u in us), "s", len(us)),
         "read_s": (stats.median(reads), "s", len(reads)),
         "read_tail_s": (t[1], "s", t[2])}
    raw_reads = [r["s"] for u in us for r in u["reads"]]
    notes = {"setup_s": f"raw {stats.median(res['setup_s']):.4g} steal "
                        f"{stats.median(res['setup_steal']):.3f}",
             "op_s": f"raw {stats.median(u['op_s'] for u in us):.4g} steal "
                     f"{stats.median(u['op_steal'] for u in us):.3f}",
             "read_s": f"raw {stats.median(raw_reads):.4g}",
             "read_tail_s": f"p{t[0]} raw {stats.tail(raw_reads)[1]:.4g}"}
    return m, notes


def per_layer(workload, res, ctx):
    tr = [u for u in res["units"] if u["traced"]]
    kinds = {m["name"]: m["kind"] for m in ctx.get("models", [])}
    parents = {m["name"]: gen.refs_of(m["body"]) for m in ctx.get("models", [])}
    per_unit = []
    for u in tr:
        v = {}
        spans = u["spans"]
        by_name = {}
        for s in spans:
            by_name.setdefault(s[2], []).append(s)
        dur = lambda name: sum(s[4] - s[3] for s in by_name.get(name, [])) / 1000
        spans_jobs = [(j[0], j[1]) for j in u["jobs"]]
        o0, o1 = u["op_window"]
        op_jobs = [j for j in u["jobs"] if j[0] >= o0 - 1 and j[1] <= o1 + 1]
        wall = (o1 - o0) / 1000
        busy = stats.union_length(stats.clip([(j[0], j[1]) for j in op_jobs], o0, o1)) / 1000
        selfs = stats.self_times(spans, spans_jobs)
        self_of = lambda name: sum(selfs[s[0]] for s in by_name.get(name, [])) / 1000
        v["run.load_s"] = dur("run.load")
        v["run.manifest_s"] = dur("run.manifest")
        v["run.select_s"] = dur("run.select")
        v["run.self_s"] = self_of("run.load") + self_of("run.manifest") + self_of("run.select")
        nodes = [n for n in u.get("nodes", []) if n[1] == "success"]
        v["run.nodes_selected"] = len(nodes)
        comp = u.get("compile", {"s": 0.0, "models": 0})
        v["compile.s"] = comp["s"]
        v["compile.models"] = comp["models"]
        v["compile.s_per_model"] = comp["s"] / comp["models"] if comp["models"] else 0.0
        d = {n[0]: n[2] / 1000 for n in nodes}
        v["dag.wall_s"] = dur("dag.build")
        v["dag.self_s"] = self_of("dag.build")
        v["dag.node_s_sum"] = sum(d.values())
        v["dag.critical_path_s"] = stats.critical_path(d, parents)
        v["dag.parallelism"] = v["dag.node_s_sum"] / v["dag.wall_s"] if v["dag.wall_s"] else 0.0
        v["dag.idle_slot_s"] = max(0.0, THREADS * v["dag.wall_s"] - v["dag.node_s_sum"])
        for k in ("table", "view", "incremental", "snapshot", "mv"):
            v[f"materialize.{k}_s"] = sum(s for n, s in d.items() if kinds.get(n) == k)
        dq = u.get("dqtests", {"s": 0.0, "count": 0, "failed": 0})
        v["dqtests.s"] = dq["s"]
        v["dqtests.count"] = dq["count"]
        v["dqtests.failed"] = dq["failed"]
        v["dqtests.self_s"] = self_of("dqtests")
        fs = u["fs"]
        for k in ("fs_list", "fs_open", "fs_create", "fs_rename", "fs_delete",
                  "bytes_written"):
            v[f"core.{k}"] = fs[k]
        space = u.get("space", [0, 0])
        v["core.write_amp"] = fs["bytes_written"] / space[1] if space[1] else 0.0
        v["core.space_amp"] = space[0] / space[1] if space[1] else 0.0
        rr = u["reads"]
        v["core.read_s"] = stats.median(r.get("resolve_s", 0.0) for r in rr)
        v["core.read_self_s"] = self_of("read.resolve") + self_of("read.exec")
        fpr = [r["opened"] / r["files"] for r in rr if r.get("files")]
        v["core.files_per_read"] = stats.median(fpr) if fpr else 0.0
        mv = [r["mv_hit"] for r in rr if "mv_hit" in r]
        v["plans.mv_hit_ratio"] = sum(mv) / len(mv) if mv else 0.0
        v["spark.jobs"] = len(op_jobs)
        v["spark.job_busy_s"] = busy
        v["spark.driver_gap_s"] = wall - busy
        for k, col in (("stages", 2), ("tasks", 3), ("input_bytes", 4),
                       ("output_bytes", 5), ("shuffle_bytes", 6)):
            v[f"spark.{k}"] = sum(j[col] for j in op_jobs)
        per_unit.append(v)
    out = {}
    for k in per_unit[0]:
        out[k] = stats.median(v[k] for v in per_unit)
    # operator consumers run a slice of the sample per cycle: their
    # latencies come from every unit of the run
    ops = [x for u in res["units"] for x in u["reads"] if "staging_s" in x]
    for stratum in sorted(gen.OPS_STRATA):
        out[f"ops.{stratum}_s"] = stats.median(x["s"] for x in ops if x["model"] == stratum)
    out["ops.staging_s"] = sum(x["staging_s"] for x in ops)
    out["host.probe_s"] = stats.median(res["probe_s"])
    out["host.rss_peak_mb"] = res["rss_peak_mb"]
    # each traced unit against its untraced neighbours (not the cold
    # first unit), so the warm-up trend does not count as overhead
    op = {u["i"]: u["op_s"] for u in untraced(res)}
    diffs = [u["op_s"] - stats.median(op[j] for j in (u["i"] - 1, u["i"] + 1) if j in op)
             for u in tr if u["i"] - 1 in op or u["i"] + 1 in op]
    out["trace.overhead_s"] = stats.median(diffs)
    return out, len(per_unit)


# seeds and the per-layer metric map: unit, the end-to-end metric it
# should move and the workload where it moves it (see README.md)
with open(os.path.join(HERE, "meta.json")) as _fh:
    META = json.load(_fh)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=META["default_seed"])
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    a = ap.parse_args()
    cp = build()
    base = os.path.join(os.getcwd(), os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    work = os.path.join(base, "perfbench-work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.time()
        plan, ctx = prepare(a.workload, work, a.seed, a.seconds, a.trace)
        log(f"inputs generated in {time.time() - t0:.1f} s")
        res = run_jvm(cp, plan, work)
        problems = list(res["errors"]) + check(a.workload, res, ctx)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    units = res["units"]
    nodes = [n for u in units for n in u.get("nodes", [])]
    tests = [t for u in units for t in u.get("tests", [])]
    reads = [r for u in units for r in u["reads"]]
    bad_nodes = [n for n in nodes if n[1] != "success"]
    bad_tests = [t for t in tests if t[1] == "error"]
    failed = len(bad_nodes) + len(bad_tests) + len(problems)
    attempted = max(1, len(nodes) + len(tests) + len(reads) + len(res["exports"]))
    for n in bad_nodes[:5]:
        problems.append(f"node {n[0]} {n[1]}: {n[3]}")
    for p in problems[:20]:
        log("MISMATCH " + p)
    print(f"workload={a.workload} seed={a.seed} units={len(units)} "
          f"error_rate={failed / attempted:.6f} ({failed}/{attempted}) "
          f"correct={failed == 0}")
    if a.trace:
        vals, n = per_layer(a.workload, res, ctx)
        metrics = {}
        for k, v in vals.items():
            m = META["per_layer"][k]
            metrics[k] = {"value": v, "unit": m["unit"]}
            print(f"  {k:28s} {v:14.6g} {m['unit']:6s} n={n} traced units"
                  f" -> {m['moves']} on {m['workload']}")
    else:
        vals, notes = end_to_end(res)
        metrics = {}
        for k, (v, unit, n) in vals.items():
            metrics[k] = {"value": v, "unit": unit}
            print(f"  {k:14s} {v:14.6g} {unit:4s} n={n} {notes.get(k, '')}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
