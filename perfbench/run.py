#!/usr/bin/env python3
"""The repository benchmark.

    python3 perfbench/run.py --workload serve|operators \\
        --seed N --seconds S --trace 0|1

Run from the repository root. It builds the program and the benchmark from
source (see build.py), makes the workload's inputs from the seed, runs one
fresh JVM that sets up, measures for S seconds and checks its own outputs,
then checks the outputs again against independent counts (DuckDB), and
prints as its last line one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones (metric names and units
in BENCHMARK.json); with --trace 1 the run makes an untraced and a traced
pass and reports the per-layer metrics, writing the full trace to
.bench_build/traces/. Exits non-zero on wrong outputs, and without a result
when the program cannot be built. perfbench/README.md describes the
workloads and what each metric measures.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import benchlib  # noqa: E402
import build  # noqa: E402
import gen_ops  # noqa: E402

WORKLOADS = ("serve", "operators")
RUN_LIMIT_S = 170
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
         "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
         "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]

E2E = [("setup_s", "s"), ("op_p50_ms", "ms"), ("op_p75_ms", "ms"), ("ops_per_s", "1/s")]

LAYER_SHARES = ["io.xlsx_read", "etl.validate", "store.ingest", "ops.lease", "store.stage",
                "store.column_stats", "store.stage_incremental", "io.export_csv",
                "io.export_xlsx", "store.read_prod", "dsl.compile", "serve.query",
                "serve.http", "entry.query"]
# operations counted in `attempted` and `failed`
WORK_KINDS = {"get_data", "query"}
# span that is one operation of the workload, for per-operation counters
OP_SPANS = {"serve": "serve.probe", "operators": "entry.query"}


def jvm(classes, run_dir, args):
    cmd = ["java", "-Xmx3g", f"-Djava.io.tmpdir={run_dir / 'tmp'}",
           "-Dlog4j2.level=ERROR", "-Dspark.ui.enabled=false"]
    cmd += [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in OPENS]
    cmd += ["-cp", f"{classes}:{build.spark_jars()}/*", "perfbench.Main"] + args
    return cmd


def run_process(cmd, timeout, log):
    """Run `cmd` in its own process group; on timeout (or when this
    process is told to stop) kill the group and wait for it. Returns the
    exit code, None on timeout."""
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, or None off Linux."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
        return fields[7], sum(fields)
    except (OSError, IndexError, ValueError):
        return None


def steal_share(before, after):
    """Share of CPU time the hypervisor took from this VM in between."""
    if not before or not after or after[1] <= before[1]:
        return None
    return (after[0] - before[0]) / (after[1] - before[1])


def bytes_under(path):
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(dirpath, f)).st_size
            except OSError:
                pass
    return total


# ------------------------------------------------------------ oracle checks

TEXT_OPS = {"eq": "=", "neq": "<>", "lt": "<", "lte": "<=", "gt": ">", "gte": ">="}
NUMERIC = {"year": "INTEGER", "row": "INTEGER", "value": "DOUBLE"}


def filter_sql(filters):
    """SQL for a filter-DSL object, written from the DSL's documented
    semantics: fields AND-ed, `$or` groups OR-ed, text compared without
    case, values cast to the column's type."""
    def field(col, spec):
        ops = spec if isinstance(spec, dict) else {"eq": spec}
        out = []
        for op, v in ops.items():
            c = f'"{col}"'
            if col in NUMERIC:
                rhs = f"CAST('{v}' AS {NUMERIC[col]})"
                out.append(f"{c} {TEXT_OPS[op]} {rhs}")
            else:
                lit = "'" + str(v).replace("'", "''") + "'"
                sym = "LIKE" if op == "like" else TEXT_OPS[op]
                out.append(f"lower({c}) {sym} lower({lit})")
        return " AND ".join(out)

    def group(g):
        parts = [field(k, v) for k, v in g.items() if k != "$or"]
        return " AND ".join(parts) if parts else "TRUE"

    where = group(filters)
    ors = filters.get("$or")
    if ors:
        where += " AND (" + " OR ".join(f"({group(g)})" for g in ors) + ")"
    return where


def serve_oracle(record, setup_dir):
    """Walk totals against counts of the same filter over the generator's
    rows. Returns the units whose total was wrong."""
    import duckdb
    con = duckdb.connect()
    con.execute(f"""CREATE VIEW rows AS
        SELECT * FROM read_csv('{setup_dir}/expected.tsv', delim='\t', header=true,
          columns={{'table_name': 'VARCHAR', 'row': 'INTEGER', 'label': 'VARCHAR',
                   'year': 'INTEGER', 'group': 'VARCHAR', 'category': 'VARCHAR',
                   'item': 'VARCHAR', 'fuel': 'VARCHAR', 'unit': 'VARCHAR',
                   'value': 'DOUBLE'}})
        UNION ALL BY NAME
        SELECT 'L.1' AS table_name, * FROM read_parquet('{setup_dir}/l1.parquet/*.parquet')""")
    expected, wrong = {}, []
    for o in record["oracle"]:
        key = (o["table"], o["filters"])
        if key not in expected:
            sql = (f"SELECT count(*) FROM rows WHERE table_name = '{o['table']}' "
                   f"AND {filter_sql(json.loads(o['filters']))}")
            expected[key] = con.execute(sql).fetchone()[0]
        if expected[key] != o["total"]:
            wrong.append((o["unit"], f"{o['table']} {o['filters']}: "
                                     f"walked {o['total']}, expected {expected[key]}"))
    return wrong, len(expected)


def operators_oracle(record, data_dir):
    """Row count of every query against its DuckDB oracle over the same
    inputs (queries without an oracle are only required to succeed)."""
    import duckdb
    con = duckdb.connect()
    for t in gen_ops.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    wrong, checked = [], 0
    for o in record["oracle"]:
        if not o.get("sql"):
            continue
        checked += 1
        try:
            n = con.execute(f"SELECT count(*) FROM ({o['sql']})").fetchone()[0]
        except Exception as e:  # an oracle that cannot run is a failed check
            wrong.append((o["name"], f"oracle error: {e}"))
            continue
        if n != o["rows"]:
            wrong.append((o["name"], f"{o['name']}: {o['rows']} rows, oracle {n}"))
    return wrong, checked


# ------------------------------------------------------------------ metrics

def e2e_metrics(workload, record, ops, setup_s):
    """`ops` are the timed untraced work operations. For `serve` an
    operation is one page; for `operators` it is one pass over the query
    subset, its percentiles estimated query by query (the sum over the
    queries of each query's percentile across the passes, as graft.Bench
    totals per-query medians), which keeps one slow pass from moving it."""
    if workload == "operators":
        by_query = {}
        for o in ops:
            by_query.setdefault(o["unit"], []).append(benchlib.latencies([o])[0])
        p50 = sum(benchlib.percentile(xs, 50) for xs in by_query.values())
        p75 = sum(benchlib.percentile(xs, 75) for xs in by_query.values())
        done = min(len(xs) for xs in by_query.values())
    else:
        lat = benchlib.latencies(ops)
        p50, p75 = benchlib.percentile(lat, 50), benchlib.percentile(lat, 75)
        done = sum(1 for o in ops if o["ok"])
    values = {
        "setup_s": setup_s,
        "op_p50_ms": min(p50, 1e9),
        "op_p75_ms": min(p75, 1e9),
        "ops_per_s": done / record["pass_s"],
    }
    return {name: (values[name], unit) for name, unit in E2E}


def layer_metrics(workload, record, leak):
    setup_t, pass_t = record["setup_trace"], record["pass_trace"]
    layers = {}
    for t in (setup_t, pass_t):
        for k, v in benchlib.layer_self_ms(t["spans"], t["jobs"], t["clock"]).items():
            layers[k] = layers.get(k, 0.0) + v
    total = sum(layers.values()) or 1.0
    spans, jobs = pass_t["spans"], pass_t["jobs"]
    roots = {s["id"] for s in spans if s["name"] == OP_SPANS[workload]}
    traced_ops = [o for o in record["ops"] if o["traced"] and o["kind"] in WORK_KINDS]
    n_ops = max(1, len(traced_ops) + (len(roots) if workload == "serve" else 0))
    per_op = lambda v: v / n_ops  # noqa: E731
    pr = record["primary"]
    m = {
        "spark.jobs_per_op": (per_op(len(jobs)), "count"),
        "spark.stages_per_op": (per_op(sum(j["stages"] for j in jobs)), "count"),
        "spark.tasks_per_op": (per_op(sum(j["tasks"] for j in jobs)), "count"),
        "spark.executor_cpu_ms_per_op": (per_op(sum(j["cpu_ns"] for j in jobs) / 1e6), "ms"),
        "spark.gc_ms_per_op": (per_op(sum(j["gc_ms"] for j in jobs)), "ms"),
        "spark.shuffle_bytes_per_op": (per_op(sum(j["shuffle_bytes"] for j in jobs)), "B"),
        "spark.input_bytes_per_op": (per_op(sum(j["input_bytes"] for j in jobs)), "B"),
        "spark.driver_gap_ms_per_op": (
            benchlib.driver_gap_ms(spans, jobs, pass_t["clock"], roots) / max(1, len(roots)), "ms"),
        "host.sentinel_ms": (benchlib.percentile(record["sentinel_ms"], 50), "ms"),
        "trace.overhead_pct": (100.0 * (pr["traced"] / ((pr["untraced"] + pr["untraced_after"]) / 2) - 1), "%"),
        "leak.bytes": (leak, "B"),
    }
    for name in LAYER_SHARES:
        m[f"{name}_pct"] = (100.0 * layers.get(name, 0.0) / total, "%")
    store = record.get("store", {})
    m["store.files"] = (store.get("files", 0), "count")
    m["store.prod_bytes"] = (store.get("prod_bytes", 0), "B")
    m["store.raw_bytes"] = (store.get("raw_bytes", 0), "B")
    m["store.columns_dropped"] = (len(record.get("columns_dropped", [])), "count")
    reqs = [o for o in record["ops"] if o["kind"] == "get_data" and o["traced"]]
    m["serve.rows_per_req"] = (sum(o["rows"] for o in reqs) / len(reqs) if reqs else 0, "count")
    m["serve.bytes_per_req"] = (sum(o["bytes"] for o in reqs) / len(reqs) if reqs else 0, "B")
    four = [o["ms"] for o in reqs if o["phase"] == "clients"]
    one = [o["ms"] for o in reqs if o["phase"] == "one_client"]
    queue = 0.0
    if four and one:
        p4, p1 = benchlib.percentile(four, 50), benchlib.percentile(one, 50)
        queue = 100.0 * (p4 - p1) / p4
    m["serve.queue_pct"] = (queue, "%")
    q = [o["ms"] for o in traced_ops if o["kind"] == "query"]
    m["entry.small_query_pct"] = (
        100.0 * sum(x for x in q if x < 300) / sum(q) if q else 0.0, "%")
    return m, layers


def layer_report(workload, record, layers):
    """The trace's layer table in absolute units, for the trace file."""
    out = {"self_ms": layers, "primary": record["primary"]}
    if workload == "serve":
        reqs = [o for o in record["ops"] if o["kind"] == "get_data" and o["traced"]]
        for phase in ("clients", "one_client"):
            xs = [o["ms"] for o in reqs if o["phase"] == phase]
            if xs:
                out[f"{phase}_p50_ms"] = benchlib.percentile(xs, 50)
    return out


# --------------------------------------------------------------------- main

def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    started = time.time()
    root = Path.cwd()
    classes = build.build(root)
    out = build.build_dir(root)
    run_dir = out / "runs" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    try:
        return measure(a, classes, out, run_dir, started)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def measure(a, classes, out, run_dir, started):
    setup_py = []
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--dir", str(run_dir), "--out", str(run_dir / "record.json")]
    if a.workload == "operators":
        # inputs set up three times; the last copy is the one measured
        for i in range(3):
            t0 = time.perf_counter()
            gen_ops.write(str(run_dir / f"data{i}"), a.seed)
            setup_py.append(time.perf_counter() - t0)
        for i in range(2):
            shutil.rmtree(run_dir / f"data{i}")
        args += ["--data", str(run_dir / "data2")]
    budget = RUN_LIMIT_S - (time.time() - started)
    ticks = cpu_ticks()
    code = run_process(jvm(classes, run_dir, args), budget, run_dir / "jvm.log")
    steal = steal_share(ticks, cpu_ticks())
    record_path = run_dir / "record.json"
    if code is None or not record_path.exists():
        tail = (run_dir / "jvm.log").read_text(errors="replace")[-2000:]
        print(f"benchmark JVM {'timed out' if code is None else f'exited {code}'}:\n{tail}")
        result(False, 1, 1, {})
        return 1
    record = json.loads(record_path.read_text())
    leak = bytes_under(run_dir / "tmp")

    problems = [f"{c['what']}: {c['detail']}" for c in record["checks"] if not c["ok"]]
    wrong, checked = [], 0
    if a.workload == "serve":
        wrong, checked = serve_oracle(record, run_dir / "setup")
        if checked == 0:
            problems.append("no page walk completed")
    elif a.workload == "operators":
        wrong, checked = operators_oracle(record, run_dir / "data2")
    problems += [w[1] for w in wrong]

    ops = benchlib.mark_wrong(record["ops"], [w[0] for w in wrong])
    timed = [o for o in ops if not o["traced"] and o.get("phase", "clients") == "clients"]
    work = [o for o in timed if o["kind"] in WORK_KINDS]
    attempted, failed = benchlib.accounting(work)
    correct = not problems and attempted > 0 and failed == 0

    setup_s = benchlib.percentile(setup_py, 50) if setup_py else 0.0
    setup_s += benchlib.percentile(record["setup_s"], 50)
    for p in problems[:20]:
        print("problem:", p)
    print(f"workload={a.workload} seed={a.seed} ops={attempted} failed={failed} "
          f"setup_phases_s={record.get('setup_phases_s')} p_supported="
          f"{benchlib.supported_percentile(attempted)} sentinel_ms={record['sentinel_ms']} "
          f"leak_bytes={leak} oracle_checked={checked}")
    if steal is not None:
        # a run that lost more than a tenth of its CPU to other tenants is
        # flagged: its times say more about the host than the program
        print(f"cpu_steal={steal:.3f} host_flagged={steal > 0.10}")
    if "columns_dropped" in record or "keyset_rows_lost" in record:
        print(f"known defects: PROD columns dropped {record.get('columns_dropped', [])}, "
              f"rows lost by a multi-page DUKES walk {record.get('keyset_rows_lost', 'n/a')}")
    if a.trace:
        metrics, layers = layer_metrics(a.workload, record, leak)
        traces = out / "traces"
        traces.mkdir(parents=True, exist_ok=True)
        (traces / f"{a.workload}-seed{a.seed}.json").write_text(json.dumps({
            "layers": layer_report(a.workload, record, layers),
            "setup": record["setup_trace"], "pass": record["pass_trace"]}))
        print("layers_ms:", json.dumps({k: round(v, 1) for k, v in sorted(layers.items())}))
    else:
        metrics = e2e_metrics(a.workload, record, work, setup_s)
    result(correct, attempted, failed, metrics)
    return 0 if correct else 1


def result(correct, attempted, failed, metrics):
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    # a stop request unwinds through the cleanup above (JVM, run directory)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.exit(main())
