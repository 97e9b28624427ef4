#!/usr/bin/env python3
"""Repository benchmark: one workload, one seed, one run.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <lakehouse_rw|analytics>
        --seed <n> --seconds <s> --trace <0|1>

The script compiles the program (src/main/scala) and the harness
(perfbench/src) with the Scala compiler shipped in the Spark jars, into
.bench_build/ (reused while the sources are unchanged). It then runs the
JVM harness, which sets the workload up, measures passes for --seconds
and checks each pass's outputs. For analytics it compares the board's
query results with their DuckDB oracle SQL here. The last line printed is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones, with --trace 1 the per-layer ones;
a traced run also writes its spans to .bench_build/traces/.

Everything the run writes stays under .bench_build/ in the checkout.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import math
import os
import re
import shutil
import subprocess
import sys
import time

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("lakehouse_rw", "analytics")
# the harness must leave time for the oracle check inside the 180 s limit
RUN_TIMEOUT_S = 160

# Spark 4 on JDK 17 outside spark-submit (same list as build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark jars: $SPARK_HOME/jars, else the jars of the installed
    pyspark package (the same Spark release)."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            import pyspark
        except ImportError:
            fail("no Spark jars: set SPARK_HOME or install pyspark")
        jars = os.path.join(os.path.dirname(pyspark.__file__), "jars")
    if not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        fail(f"no Spark jars under {jars}")
    return jars


def sources(root):
    return sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))


def scalac(jars, classpath, out, files):
    """Compile `files` into `out` with the Scala compiler from `jars`."""
    compiler = [glob.glob(os.path.join(jars, f"scala-{m}-2.13.*.jar"))
                for m in ("compiler", "library", "reflect")]
    if not all(compiler):
        fail(f"no scala-compiler/library/reflect 2.13 jars in {jars}")
    os.makedirs(out)
    subprocess.run(
        ["java", "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.dirname(out)}",
         "-Xss8m", "-Xmx2g",
         "-cp", ":".join(c[0] for c in compiler),
         "scala.tools.nsc.Main", "-nowarn", "-usejavacp:false",
         "-classpath", classpath, "-d", out] + files,
        check=True, stdout=sys.stderr)


def build(jars):
    """Compile program + harness once per source state; return classpath."""
    prog_dir = os.path.join(ROOT, "src", "main")
    prog = sources(os.path.join(prog_dir, "scala"))
    harness = sources(os.path.join(HERE, "src"))
    if not prog:
        fail(f"no program sources under {prog_dir}/scala")
    digest = hashlib.sha256()
    for f in prog + harness:
        digest.update(f.encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    tag = digest.hexdigest()[:16]
    os.makedirs(BUILD, exist_ok=True)
    done = os.path.join(BUILD, f"classes-{tag}")
    resources = os.path.join(prog_dir, "resources")
    cp = [os.path.join(done, "program"), os.path.join(done, "harness"), resources]
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.isdir(done):
            tmp = done + ".tmp"
            shutil.rmtree(tmp, ignore_errors=True)
            jar_cp = os.path.join(jars, "*")
            scalac(jars, jar_cp, os.path.join(tmp, "program"), prog)
            scalac(jars, jar_cp + ":" + os.path.join(tmp, "program"),
                   os.path.join(tmp, "harness"), harness)
            os.rename(tmp, done)
    return ":".join(cp + [os.path.join(jars, "*")])


def driver_heap():
    """Tier-1's SPARK_DRIVER_MEM rule: half of RAM in GiB, clamped to [2, 8]."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return f"{min(8, max(2, kb // 2097152))}g"


# ---------------------------------------------------------------- inputs

# analytics board's tables: TPC-H-like at this scale factor (lineitem = 6M * sf)
BOARD_SF = 0.01
VOCAB = ["batch", "part", "spark", "line", "column", "order", "small", "sort",
         "fast", "value", "scan", "a", "hash", "slow", "group", "agg", "filter",
         "query", "big", "key", "window", "row", "table", "stream", "merge",
         "data", "customer", "the", "join", "vector"]


def board_tables(out, seed, sf=BOARD_SF):
    """Write the tables the analytics board reads, from the seed alone,
    in the layout graft.io.Tables reads: one parquet file per table,
    timestamps as INT64 TIMESTAMP(MICROS) without zone. Every value is a
    function of hash(seed, stream, row), so the files depend on nothing
    else. About one document in ten copies an earlier one with its second
    word replaced, so near-duplicates exist. Embeddings are 64-dim points
    around eight seeded centres, so nearest neighbours share a cluster."""
    import duckdb
    n = {"customer": int(150000 * sf), "supplier": int(10000 * sf),
         "part": int(200000 * sf), "orders": int(1500000 * sf),
         "lineitem": int(6000000 * sf), "documents": int(50000 * sf),
         "embeddings": int(50000 * sf)}
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute(f"CREATE MACRO pick(s, x, k) AS CAST(hash({int(seed)}, s, x) % k AS BIGINT)")
    con.execute("CREATE MACRO u(s, x) AS pick(s, x, 1000000) / 1e6")
    con.execute("CREATE MACRO money(s, x, lo, hi) AS round(lo + u(s, x) * (hi - lo), 2)")
    con.execute("CREATE MACRO one_of(s, x, xs) AS xs[pick(s, x, len(xs)) + 1]")
    con.execute("CREATE MACRO day(base, s, x, k) AS "
                "CAST(CAST(base AS DATE) + CAST(pick(s, x, k) AS INTEGER) AS TIMESTAMP)")
    tables = {
        "region": """SELECT CAST(i AS INTEGER) AS r_regionkey,
            ['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST'][i + 1] AS r_name
            FROM range(5) t(i)""",
        "nation": """SELECT CAST(i AS INTEGER) AS n_nationkey, 'NATION_' || i AS n_name,
            CAST(i % 5 AS INTEGER) AS n_regionkey FROM range(25) t(i)""",
        "customer": f"""SELECT i AS c_custkey, 'Customer#' || lpad(CAST(i AS VARCHAR), 9, '0') AS c_name,
            CAST(pick('c_nation', i, 25) AS INTEGER) AS c_nationkey,
            money('c_acctbal', i, -999.99, 9999.99) AS c_acctbal,
            one_of('c_seg', i, ['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD',
                                'MACHINERY']) AS c_mktsegment
            FROM range({n['customer']}) t(i)""",
        "supplier": f"""SELECT i AS s_suppkey, 'Supplier#' || lpad(CAST(i AS VARCHAR), 9, '0') AS s_name,
            CAST(pick('s_nation', i, 25) AS INTEGER) AS s_nationkey,
            money('s_acctbal', i, -999.99, 9999.99) AS s_acctbal
            FROM range({n['supplier']}) t(i)""",
        "orders": f"""SELECT i AS o_orderkey, pick('o_cust', i, {n['customer']}) AS o_custkey,
            one_of('o_status', i, ['F', 'O', 'P']) AS o_orderstatus,
            money('o_price', i, 1000.0, 500000.0) AS o_totalprice,
            day('1995-01-01', 'o_date', i, 2404) AS o_orderdate,
            one_of('o_prio', i, ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED',
                                 '5-LOW']) AS o_orderpriority
            FROM range({n['orders']}) t(i)""",
        "lineitem": f"""SELECT pick('l_order', i, {n['orders']}) AS l_orderkey,
            pick('l_part', i, {n['part']}) AS l_partkey,
            pick('l_supp', i, {n['supplier']}) AS l_suppkey,
            CAST(pick('l_line', i, 7) + 1 AS INTEGER) AS l_linenumber,
            CAST(pick('l_qty', i, 50) + 1 AS DOUBLE) AS l_quantity,
            money('l_price', i, 900.0, 105000.0) AS l_extendedprice,
            pick('l_disc', i, 11) / 100 AS l_discount,
            pick('l_tax', i, 9) / 100 AS l_tax,
            one_of('l_rflag', i, ['A', 'N', 'R']) AS l_returnflag,
            one_of('l_lstatus', i, ['F', 'O']) AS l_linestatus,
            day('1995-01-02', 'l_ship', i, 2499) AS l_shipdate
            FROM range({n['lineitem']}) t(i)""",
        "documents": f"""SELECT doc_id, text,
            one_of('d_lang', doc_id, ['en', 'en', 'en', 'de', 'es', 'fr', 'zh']) AS lang,
            'src' || pick('d_source', doc_id, 20) AS source,
            CAST(length(text) AS BIGINT) AS n_chars
            FROM (SELECT i AS doc_id, array_to_string(list_transform(
                    range(1, pick('d_len', src, 90) + 9),
                    j -> CASE WHEN dup AND j = 2 THEN one_of('d_swap', i, {VOCAB})
                              ELSE one_of('d_word', src * 1000 + j, {VOCAB}) END), ' ') AS text
                  FROM (SELECT i, dup, CASE WHEN dup THEN pick('d_src', i, i) ELSE i END AS src
                        FROM (SELECT i, i > 0 AND pick('d_dup', i, 10) = 0 AS dup
                              FROM range({n['documents']}) t(i))))""",
        "embeddings": f"""SELECT i AS vec_id,
            list_transform(range(64), j -> CAST(
                (pick('e_centre', c * 64 + j, 2000001) - 1000000) / 1e6
                + (pick('e_noise', i * 64 + j, 2000001) - 1000000) / 5e6 AS FLOAT)) AS embedding,
            CAST(c AS INTEGER) AS label
            FROM (SELECT i, pick('e_label', i, 8) AS c FROM range({n['embeddings']}) t(i))""",
    }
    os.makedirs(out)
    for name, sql in tables.items():
        con.execute(f"COPY ({sql}) TO '{out}/{name}.parquet' (FORMAT PARQUET)")


# ---------------------------------------------------------------- oracle

def norm(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "∅"
    return v


def materialized(sql):
    """The oracle SQL with every CTE marked MATERIALIZED. The results are
    the same; DuckDB otherwise inlines t33's chain of 39 CTEs and
    re-evaluates the shared ones (114 s on 25 documents, 0.2 s
    materialized)."""
    return re.sub(r"\b(\w+)\s+AS\s+\(\s*SELECT\b", r"\1 AS MATERIALIZED (SELECT", sql)


def oracle_check(spec_path):
    """Compare each query's result with its DuckDB oracle, by the rule of
    scripts/check.py: columns sorted by name, rows sorted, values exact.
    Returns (checks made, failure messages)."""
    import duckdb
    with open(spec_path) as f:
        spec = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in sorted(f[:-len(".parquet")] for f in os.listdir(spec["data"])):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{spec['data']}/{t}.parquet')")
    failures = []
    for name, sql in sorted(spec["queries"].items()):
        try:
            got = con.execute("SELECT * FROM read_parquet("
                              f"'{spec['results']}/{name}/*.parquet')").fetchdf()
            want = con.execute(materialized(sql)).fetchdf()
        except Exception as e:  # an oracle that cannot run is a failure
            failures.append(f"{name}: {e}")
            continue
        got = got.reindex(sorted(got.columns), axis=1)
        want = want.reindex(sorted(want.columns), axis=1)
        if list(got.columns) != list(want.columns):
            failures.append(f"{name}: columns {list(got.columns)} != {list(want.columns)}")
            continue
        fam = lambda d: "i" if d.kind in "iu" else ("f" if d.kind == "f" else d.kind)
        bad = [c for c in got.columns
               if {fam(got[c].dtype), fam(want[c].dtype)} == {"i", "f"}
               and not (got[c].isna().any() or want[c].isna().any())]
        if bad:
            failures.append(f"{name}: int/float dtype mismatch in {bad}")
            continue
        g = sorted((tuple(norm(v) for v in r) for r in got.itertuples(index=False)), key=repr)
        w = sorted((tuple(norm(v) for v in r) for r in want.itertuples(index=False)), key=repr)
        if g != w:
            diff = next(((a, b) for a, b in zip(g, w) if a != b), (len(g), len(w)))
            failures.append(f"{name}: result differs from oracle, first diff {diff}")
    return len(spec["queries"]), failures


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    jars = spark_jars()
    classpath = build(jars)
    work = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    traces = os.path.join(BUILD, "traces")
    os.makedirs(traces, exist_ok=True)
    trace_out = os.path.join(traces, f"{a.workload}-seed{a.seed}.json")
    out = os.path.join(work, "result.json")
    if a.workload == "analytics":
        board_tables(os.path.join(work, "tables"), a.seed)
    log = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}.log")
    # -XX:-UsePerfData: no hsperfdata file in /tmp, so the run writes
    # nothing outside the checkout
    cmd = (["java", "-XX:-UsePerfData", f"-Xmx{driver_heap()}", f"-Djava.io.tmpdir={work}/tmp"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Harness",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", work, "--cpus", str(len(os.sched_getaffinity(0))),
              "--clk-tck", str(os.sysconf("SC_CLK_TCK")),
              "--out", out, "--trace-out", trace_out])
    phases = {}
    try:
        t0 = time.monotonic()
        with open(log, "w") as lf:
            proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                    cwd=work, env=dict(os.environ, TMPDIR=f"{work}/tmp"))
            try:
                rc = proc.wait(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                fail(f"harness timed out after {RUN_TIMEOUT_S} s (log: {log})")
        phases["jvm_s"] = time.monotonic() - t0
        if rc != 0 or not os.path.exists(out):
            with open(log) as lf:
                sys.stderr.write("".join(lf.readlines()[-40:]))
            fail(f"harness exited with {rc} (log: {log})")
        with open(out) as f:
            res = json.load(f)
        failures = list(res["failures"])
        attempted, failed = res["attempted"], res["failed"]
        if a.workload == "analytics":
            t0 = time.monotonic()
            n, bad = oracle_check(os.path.join(work, "oracle.json"))
            phases["oracle_s"] = time.monotonic() - t0
            attempted += n
            failed += len(bad)
            failures += bad
        metrics = res["per_layer"] if a.trace else res["end_to_end"]
        if a.trace:
            metrics["error_rate"]["value"] = failed / attempted
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for m in failures:
        print(f"perfbench: check failed: {m}", file=sys.stderr)
    info = " ".join(f"{k}={v:.4g}" for k, v in {**res["info"], **phases}.items())
    print(f"perfbench workload={a.workload} seed={a.seed} trace={a.trace} {info}")
    print(json.dumps({"correct": not failures and failed == 0,
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
