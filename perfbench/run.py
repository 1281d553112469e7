#!/usr/bin/env python3
"""Loader benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the harness together with the program's sources (once per source
state), generates the workload's inputs from the seed, runs the harness JVM
on them for `--seconds`, checks every table, ledger row and query result the
run produced, and prints one line per metric followed by a final JSON line:
with `--trace 0` the end-to-end metrics, with `--trace 1` the per-layer
metrics of a run with the job listener attached. Exits non-zero, without a
result line, if the program cannot be built or run; exits 1 after the result
line if any output was wrong.
"""
import argparse
import functools
import glob
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

import check
import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SRC = os.path.join(ROOT, "src", "main", "scala")
CORES = min(4, len(os.sched_getaffinity(0)))
SETUPS = 3
RUN_LIMIT_S = 170

LAYERS = ["ingest", "analyze", "load", "ledger", "orchestrate"]
QUERIES = ["q114_triangles", "q127_bfs_hops", "q124_basket_lift", "q133_sparse_sim",
           "q113_kmeans"]
QUERY_SF = "sf0.01"

# workload sizes; the reasons are in perfbench/NOTES.md
WIDE_ROWS = 8000
WIDE_PASS = 4
MIXED = dict(files_per_table=1, min_rows=100, max_rows=300, max_bad=5)
UPSERT = dict(sf="sf0.01", base_rows=5000, deltas=9, delta_rows=500, dup_rows=10, max_bad=5)
UPSERT_PASS = 3

E2E = [("setup_s", "s"), ("wall_s", "s"), ("op_p50_s", "s"), ("op_tail_s", "s"),
       ("rows_per_s", "1/s"), ("files_per_s", "1/s"), ("stored_bytes_per_input_byte", "ratio")]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def testdata_dir():
    """`SPARK_GRAFT_TESTDATA`, else the test data directory TESTDATA.md names."""
    if "SPARK_GRAFT_TESTDATA" in os.environ:
        return os.environ["SPARK_GRAFT_TESTDATA"]
    try:
        with open(os.path.join(ROOT, "TESTDATA.md")) as f:
            return re.search(r"`([^`]+)/sf0\.001/?`", f.read()).group(1)
    except (OSError, AttributeError):
        die("no test data: set SPARK_GRAFT_TESTDATA")


TESTDATA_DIR = testdata_dir()


# --- build -----------------------------------------------------------------

def source_stamp():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(SRC, "**", "*.scala"), recursive=True) +
                   glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True) +
                   [os.path.join(HERE, "build.sbt"),
                    os.path.join(HERE, "project", "build.properties"),
                    os.path.join(ROOT, "build.sbt")])
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath():
    """Compile (when the sources changed) and return the runtime classpath."""
    if not os.path.isdir(SRC) or not os.path.exists(os.path.join(ROOT, "build.sbt")):
        die("program sources or build not found")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java are required")
    out = os.path.join(HERE, "target", "perfbench-classpath.json")
    stamp = source_stamp()
    if os.path.exists(out):
        with open(out) as f:
            cached = json.load(f)
        if cached["stamp"] == stamp:
            return cached["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = [env.get("SBT_OPTS", ""), "-Dsbt.offline=true", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(o for o in opts if o)
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=HERE, env=env,
                       stdin=subprocess.DEVNULL, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        die("build failed")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump({"stamp": stamp, "classpath": lines[-1]}, f)
    return lines[-1]


# --- workloads -------------------------------------------------------------

def loader_config(table_mode, transaction_mode, not_null=None, pk=None):
    return {"table_mode": table_mode, "transaction_mode": transaction_mode,
            "max_row_errors": 100, "not_null": not_null or {}, "pk": pk or {}}


def plan(workload, seed, inputs_dir):
    """(harness spec fields, generated facts) of one workload."""
    if workload == "csv_wide_file":
        g = gen.csv_wide_file(TESTDATA_DIR, inputs_dir, seed, WIDE_ROWS)
        f = g["inputs"][0]
        op = {"kind": "file", "src": f["path"]}
        return dict(config=loader_config("drop_recreate", "strict"), prepare=[op],
                    passes=[[op] * WIDE_PASS], cycle=True), g
    if workload == "mixed_dir_batch":
        d = os.path.join(inputs_dir, "batch")
        g = gen.mixed_dir_batch(TESTDATA_DIR, d, seed, **MIXED)
        tables = sorted({f["table"] for f in g["inputs"]})
        return dict(config=loader_config("append", "tolerant", g["not_null"]), prepare=[],
                    passes=[[{"kind": "batch", "src": d, "reset": tables}]], cycle=True), g
    if workload == "upsert_delta":
        g = gen.upsert_delta(TESTDATA_DIR, inputs_dir, seed, **UPSERT)
        ops = [{"kind": "file", "src": f["path"]} for f in g["inputs"]]
        return dict(config=loader_config("upsert", "tolerant", g["not_null"], g["pk"]),
                    prepare=ops[:1], cycle=False,
                    passes=[ops[i:i + UPSERT_PASS] for i in range(1, len(ops), UPSERT_PASS)]), g
    if workload == "heavy_queries":
        return dict(config=loader_config("drop_recreate", "strict"), prepare=[],
                    passes=[[{"kind": "query", "name": q} for q in QUERIES]], cycle=True,
                    sf_dir=os.path.join(TESTDATA_DIR, QUERY_SF)), {"inputs": []}
    die(f"unknown workload {workload}")


# --- checks ----------------------------------------------------------------

class Checker:
    """Replays the program's operations against the generator's facts:
    table contents, ledger counts and query results."""

    def __init__(self, facts, report):
        self.by_file = {f["file"]: f for f in facts["inputs"]}
        self.pk = facts.get("pk", {})
        self.not_null = facts.get("not_null", {})
        self.oracle = report.get("oracle", {})
        self.state = {}         # upsert: key -> source row
        self.loaded_bytes = 0   # upsert: input bytes the target holds
        self.oracle_cache = {}
        self.errors = []
        self.ledger_mismatches = 0

    def good_rows(self, f):
        nn = [f["columns"].index(c) for c in self.not_null.get(f["table"], [])]
        return [r for r in f["rows"] if not any(check.absent(r[i]) for i in nn)]

    def op(self, op):
        """Check one operation's ledger rows, tables and query result."""
        files = [self.by_file[n] for n in op["input_files"]]
        ok = True
        for row in op["ledger"]:
            want = self.by_file[row["file"]]["ledger"]
            if row["status"] == "Failed" or row["status"] != want["status"]:
                self.errors.append(f"op {op['op']}: {row['file']} status {row['status']}")
                ok = False
            if any(row[k] != want[k] for k in ("read", "inserted", "updated", "failed")):
                self.ledger_mismatches += 1
        if len(op["ledger"]) != len(files):
            self.errors.append(f"op {op['op']}: {len(op['ledger'])} ledger rows "
                               f"for {len(files)} files")
            ok = False
        expected = {}
        for f in files:
            if self.pk.get(f["table"]):
                k = f["columns"].index(self.pk[f["table"]][0])
                for r in self.good_rows(f):
                    self.state[r[k]] = r
                self.loaded_bytes += f["bytes"]
                expected[f["table"]] = (f["columns"], list(self.state.values()))
            else:
                cols, rows = expected.get(f["table"], (f["columns"], []))
                expected[f["table"]] = (cols, rows + self.good_rows(f))
        for t, (cols, rows) in expected.items():
            snap = op["tables"].get(t)
            why = "table missing" if snap is None else check.check_table(snap["dir"], cols, rows)
            if why:
                self.errors.append(f"op {op['op']}: table {t}: {why}")
                ok = False
        if op["kind"] == "query":
            why = check.compare_query(op["result"], self.oracle_df(op["name"]))
            if why:
                self.errors.append(f"op {op['op']}: {op['name']}: {why}")
                ok = False
        return ok

    def oracle_df(self, name):
        if name not in self.oracle_cache:
            import duckdb
            con = duckdb.connect()
            sf = os.path.join(TESTDATA_DIR, QUERY_SF)
            for p in sorted(glob.glob(os.path.join(sf, "*.parquet"))):
                t = os.path.basename(p)[:-len(".parquet")]
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
            self.oracle_cache[name] = con.execute(self.oracle[name]).df()
            con.close()
        return self.oracle_cache[name]

    def input_size(self, op):
        """(rows, files, bytes) of the input an operation consumed, and the
        input bytes the tables it wrote now hold."""
        if op["kind"] == "query":
            tables = query_tables(self.oracle[op["name"]])
            sf = os.path.join(TESTDATA_DIR, QUERY_SF)
            rows = sum(table_rows(sf, t) for t in tables)
            size = sum(os.path.getsize(os.path.join(sf, f"{t}.parquet")) for t in tables)
            return rows, len(tables), size, size
        files = [self.by_file[n] for n in op["input_files"]]
        size = sum(f["bytes"] for f in files)
        held = self.loaded_bytes if self.pk else size
        return sum(len(f["rows"]) for f in files), len(files), size, held


@functools.lru_cache(maxsize=None)
def table_rows(sf, t):
    import duckdb
    con = duckdb.connect()
    n = con.execute(
        f"SELECT count(*) FROM read_parquet('{os.path.join(sf, t + '.parquet')}')").fetchone()[0]
    con.close()
    return n


def query_tables(sql):
    names = ["lineitem", "orders", "customer", "part", "supplier", "nation", "region",
             "events", "documents", "embeddings"]
    return [n for n in names if re.search(rf"\b{n}\b", sql)]


# --- metrics ---------------------------------------------------------------

def tail(values):
    """Highest percentile with at least ten samples beyond it (the maximum
    when there are ten samples or fewer), with its percentile and n."""
    xs = sorted(values)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100, n
    k = n - 11  # index with exactly ten samples above it
    return xs[k], round(100.0 * (k + 1) / n, 1), n


def med(xs):
    return statistics.median(xs) if xs else 0.0


def stored_bytes(op):
    """Bytes an operation left stored: its tables, or a query's result."""
    if op["kind"] == "query":
        return sum(os.path.getsize(f) for f in glob.glob(os.path.join(op["result"], "*.parquet")))
    return sum(t["bytes"] for t in op["tables"].values())


def metrics(report, checker, timed, trace):
    walls = [o["wall_s"] for o in timed]
    passes = {}
    for o in timed:
        passes.setdefault(o["pass"], []).append(o["wall_s"])
    full = [sum(v) for p, v in passes.items() if len(v) == len(passes[min(passes)])]
    sizes = [checker.input_size(o) for o in timed]
    total = sum(walls)
    stored = [stored_bytes(o) / s[3] for o, s in zip(timed, sizes)]
    tail_v, tail_p, tail_n = tail(walls)
    e2e = {
        "setup_s": med(report["setup_s"]),
        "wall_s": med(full),
        "op_p50_s": med(walls),
        "op_tail_s": tail_v,
        "rows_per_s": sum(s[0] for s in sizes) / total,
        "files_per_s": sum(s[1] for s in sizes) / total,
        "stored_bytes_per_input_byte": med(stored),
    }
    info = {"op_tail_pct": tail_p, "op_tail_n": tail_n}
    if not trace:
        return e2e, None, info

    per = {}
    for o, s in zip(timed, sizes):
        tr = o["trace"]
        m = {}
        for layer in LAYERS:
            a = tr.get(layer, {})
            busy = a.get("busy_s", 0.0)
            run = a.get("exec_run_s", 0.0)
            m.update({f"{layer}.busy_s": busy, f"{layer}.jobs": a.get("jobs", 0),
                      f"{layer}.tasks": a.get("tasks", 0), f"{layer}.exec_run_s": run,
                      f"{layer}.core_util": run / (busy * CORES) if busy else 0.0,
                      f"{layer}.wait_s": a.get("wait_s", 0.0)})
        mods = [v for k, v in tr.items() if k != "all_busy_s"]
        read = sum(v["bytes_read"] for k, v in tr.items() if k not in ("all_busy_s", "ledger"))
        changed = sum(r["inserted"] + r["updated"] for r in o["ledger"])
        load = tr.get("load", {})
        m.update({
            "ingest.scan_bytes_per_input_byte": read / s[2],
            "load.rows_written_per_row_changed":
                load.get("records_written", 0) / changed if changed else 0.0,
            "load.shuffle_bytes": load.get("shuffle_bytes", 0),
            "ledger.table_files": o["ledger_files"] - o["ledger_files_before"],
            "orchestrate.driver_gap_s": max(0.0, o["wall_s"] - tr["all_busy_s"]),
            "unattributed.busy_s": tr.get("unattributed", {}).get("busy_s", 0.0),
            "spark.task_failures": sum(v["task_failures"] for v in mods),
            "spark.spill_bytes": sum(v["spill_bytes"] for v in mods),
            "jvm.heap_peak_mb": o["heap_peak_mb"],
            "jvm.gc_s": o["gc_s"],
            "jvm.cpu_s": o["cpu_s"],
        })
        for q in QUERIES:
            mine = o.get("name") == q
            m.update({
                f"query.{q}.busy_s": tr["all_busy_s"] if mine else 0.0,
                f"query.{q}.exec_run_s": sum(v["exec_run_s"] for v in mods) if mine else 0.0,
                f"query.{q}.jobs": sum(v["jobs"] for v in mods) if mine else 0,
                f"query.{q}.shuffle_bytes": sum(v["shuffle_bytes"] for v in mods) if mine else 0,
            })
        for k, v in m.items():
            per.setdefault(k, []).append((v, o.get("name")))
    layer = {}
    for k, vs in per.items():
        if k.startswith("query."):
            q = k.split(".")[1]
            vs = [v for v, n in vs if n == q] or [0]
        else:
            vs = [v for v, _ in vs]
        layer[k] = med(vs)
    layer["jvm.heap_peak_mb"] = max(v for v, _ in per["jvm.heap_peak_mb"])
    layer["ledger.count_mismatches"] = checker.ledger_mismatches
    layer["traced.wall_s"] = e2e["wall_s"]
    busy = sum(o["trace"]["all_busy_s"] for o in timed)
    unattributed = sum(o["trace"].get("unattributed", {}).get("busy_s", 0.0) for o in timed)
    info["attributed_share"] = 1 - unattributed / busy if busy else None
    info["modules"] = sorted({k for o in timed for k in o["trace"] if k != "all_busy_s"})
    return e2e, layer, info


UNITS = {"busy_s": "s", "exec_run_s": "s", "wait_s": "s", "driver_gap_s": "s", "gc_s": "s",
         "wall_s": "s", "jobs": "count", "tasks": "count", "core_util": "ratio",
         "scan_bytes_per_input_byte": "ratio", "rows_written_per_row_changed": "ratio",
         "shuffle_bytes": "bytes", "table_files": "count", "task_failures": "count",
         "spill_bytes": "bytes", "heap_peak_mb": "MB", "count_mismatches": "count",
         "cpu_s": "s"}


def unit_of(name):
    return dict(E2E).get(name) or UNITS[name.rsplit(".", 1)[1]]


# --- main ------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    cp = classpath()
    started = time.time()
    work = os.path.join(HERE, ".work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    os.makedirs(inputs)
    os.makedirs(os.path.join(work, "tmp"))
    fields, facts = plan(args.workload, args.seed, inputs)
    spec = dict(fields, workload=args.workload, work=work, cores=CORES, setups=SETUPS,
                seconds=args.seconds, trace=bool(args.trace), src=SRC)
    spec_path = os.path.join(work, "spec.json")
    report_path = os.path.join(work, "report.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)

    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    cmd = ["java", "-Xmx4g", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dderby.system.home={work}",
           f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Harness", spec_path, report_path]
    log = os.path.join(work, "harness.log")
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(10, RUN_LIMIT_S - (time.time() - started)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die("harness timed out; see " + os.path.relpath(log, ROOT), 3)
    if rc != 0:
        with open(log) as lf:
            sys.stderr.write(lf.read()[-4000:])
        die(f"harness exited with {rc}", 3)
    with open(report_path) as f:
        report = json.load(f)

    checker = Checker(facts, report)
    ops = report["ops"]
    for o in ops:
        o["ok"] = checker.op(o)
    timed = [o for o in ops if o["timed"]]
    failed = sum(1 for o in timed if not o["ok"])
    e2e, layer, info = metrics(report, checker, timed, args.trace)

    w = args.workload
    for k, v in list(e2e.items()) + list((layer or {}).items()):
        print(f"{w} {k} {v:.6g} {unit_of(k)}")
    print(f"{w} failed_frac {failed / len(timed):.6g} ratio")
    print(f"{w} ledger_count_mismatches {checker.ledger_mismatches} count")
    print(f"{w} untimed operations " +
          " ".join(f"{o['wall_s']:.3f}" for o in ops if not o["timed"]) + " s")
    print(f"{w} setup runs " + " ".join(f"{v:.3f}" for v in report["setup_s"]) + " s")
    print(f"{w} operation walls " + " ".join(f"{o['wall_s']:.3f}" for o in timed) + " s")
    print(f"{w} op_tail_s is p{info['op_tail_pct']} of n={info['op_tail_n']} operations")
    if info.get("attributed_share") is not None:
        print(f"{w} attributed share of Spark busy time "
              f"{info['attributed_share']:.4f} over modules {' '.join(info['modules'])}")
    for e in checker.errors:
        print(f"{w} WRONG {e}")
    values = layer if args.trace else e2e
    result = {"correct": not checker.errors, "attempted": len(timed), "failed": failed,
              "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in values.items()}}
    print(json.dumps(result))
    sys.exit(0 if not checker.errors else 1)


if __name__ == "__main__":
    main()
