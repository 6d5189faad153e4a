#!/usr/bin/env python3
"""graft benchmark: three closed-loop workloads over one local Spark session.

    python3 perfbench/run.py --workload warehouse --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke        # every workload at sf0.001, both modes

Run from the repository root. The first run builds graft and the harness
from source (sbt, see perfbench/build.sbt) into perfbench/target; later
runs reuse the build while the sources are unchanged. Inputs are made from
the seed by perfbench/gen.py under .bench_build/perfbench; every output
is checked against DuckDB (graft's own oracle SQL) outside the timed
passes. The last line of stdout is the result as one JSON object.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
TARGET = os.path.join(HERE, "target", "scala-2.13")
# class-data archive of the benchmark JVM: the first run after a build
# writes it at exit, later runs map it instead of loading and verifying
# Spark's classes again (about 5 s of every run's first set-up)
ARCHIVE = os.path.join(WORK, "classes.jsa")
CORES = 4
HEAP = "3g"

TPCH = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]
# Scale factor per workload and its input tables (etl's load rate counts
# their rows); why each workload is here is in BENCHMARK.json and README.md.
WORKLOADS = {
    "warehouse": dict(sf=0.01, tables=TPCH + ["events"]),
    "corpus": dict(sf=0.01, tables=["documents", "embeddings"]),
    "etl": dict(sf=0.01, tables=TPCH, batches=3, updates=300, inserts=100),
}

# metric names and units, as BENCHMARK.json declares them
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    _spec = json.load(_f)
END_TO_END = [(m["name"], m["unit"]) for m in _spec["end_to_end"]]
PER_LAYER = [(m["name"], m["unit"]) for m in _spec["per_layer"]]
# per-layer metrics a workload has no layer for: they report 0 there, and
# any other name the JVM does not emit is a fault the smoke test reports
SINKS = ["sinks.write_s", "sinks.bytes_written", "sinks.files_written",
         "sinks.write_amp", "sinks.space_amp", "readers.read_s"]
ABSENT = {
    "warehouse": SINKS,
    "corpus": SINKS,
    "etl": ["memo.build_s", "memo.builds", "memo.rebuilds"],
}

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_home():
    """SPARK_HOME, else the jar directory the repository's build uses."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)/jars"\)', f.read())
    if not m:
        sys.exit("perfbench: set SPARK_HOME")
    return m.group(1)


def sources():
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                             recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return files + [os.path.join(HERE, "build.sbt"),
                    os.path.join(HERE, "project", "build.properties")]


def build():
    """Compile graft plus the harness unless the sources are unchanged."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("perfbench: graft sources not found; run from a repository checkout")
    h = hashlib.sha256()
    for path in sources():
        h.update(path[len(ROOT):].encode())
        with open(path, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(HERE, "target", "perfbench.stamp")
    digest = h.hexdigest()
    if os.path.exists(stamp) and open(stamp).read() == digest and glob.glob(f"{TARGET}/*.jar"):
        return
    log("building graft and the harness (sbt package)")
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.global.base=" + os.path.join(ROOT, ".bench_build", "sbt-global"),
           "package"]
    r = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=850)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        sys.exit("perfbench: build failed")
    for stale in (ARCHIVE, ARCHIVE + ".tried"):
        if os.path.exists(stale):
            os.remove(stale)
    with open(stamp, "w") as f:
        f.write(digest)


def make_lake(workload, sf, seed):
    sys.dont_write_bytecode = True
    sys.path.insert(0, HERE)
    import gen
    cfg = WORKLOADS[workload]
    lake = os.path.join(WORK, "lake", workload)
    shutil.rmtree(lake, ignore_errors=True)
    stats = gen.write(lake, sf, seed, cfg.get("batches", 0),
                      cfg.get("updates", 0), cfg.get("inserts", 0))
    return lake, stats, lake_digest(lake)


def lake_digest(lake):
    """Hash of every generated file: keys the oracle fingerprints, so a
    change in gen.py or its libraries cannot reuse a stale one."""
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(lake, "**", "*"), recursive=True)):
        if os.path.isfile(path):
            h.update(os.path.relpath(path, lake).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def run_jvm(args, work, timeout):
    # explicit jars, no wildcard and no class directory: the class-data
    # archive accepts only those
    cp = os.pathsep.join(glob.glob(f"{TARGET}/*.jar") +
                         sorted(glob.glob(os.path.join(spark_home(), "jars", "*.jar"))))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    if os.path.exists(ARCHIVE):
        cds = [f"-XX:SharedArchiveFile={ARCHIVE}"]
    elif not os.path.exists(ARCHIVE + ".tried"):
        open(ARCHIVE + ".tried", "w").close()
        cds = [f"-XX:ArchiveClassesAtExit={ARCHIVE}"]
    else:
        cds = []
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            "-Xlog:cds=off"] + cds + [
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main"] + args)
    p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE,
                         stderr=subprocess.STDOUT, text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        out, _ = p.communicate()
        sys.stderr.write(out[-4000:])
        sys.exit("perfbench: the benchmark JVM timed out")
    finally:
        # SIGTERM and ^C land here too: never leave the JVM behind
        if p.poll() is None:
            p.kill()
            p.wait()
    for line in out.splitlines():
        if line.startswith("[perfbench]") or "Exception" in line:
            print(line, file=sys.stderr)
    if p.returncode != 0:
        sys.stderr.write(out[-4000:])
        sys.exit(f"perfbench: the benchmark JVM exited with {p.returncode}")


# ---- output checks ------------------------------------------------------

def canon(v):
    """The canonical cell rendering of tools/check_oracle.py."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def table_hash(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x01".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def fingerprint(rel):
    cols = [c.lower() for c in rel.columns]
    rows = rel.fetchall()
    return {"rows": len(rows), "cols": sorted(cols), "hash": table_hash(rows, cols)}


def duck(lake):
    import duckdb
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{lake}/{t}.parquet'")
    return con


def read_store(con, path):
    return con.sql(f"SELECT * FROM read_parquet('{path}/**/*.parquet', "
                   f"hive_partitioning = false)")


class Checker:
    """Compares outputs with DuckDB. An oracle fingerprint, once computed
    for (workload, sf, seed, digest of the inputs, query SQL), is kept and
    reused.
    """

    def __init__(self, key, lake):
        self.key, self.lake = key, lake
        self.path = os.path.join(WORK, "fingerprints.json")
        try:
            self.cache = json.load(open(self.path))
        except (OSError, ValueError):
            self.cache = {}
        self._con = None
        self.failures = []

    @property
    def con(self):
        if self._con is None:
            self._con = duck(self.lake)
        return self._con

    def oracle(self, name, sql):
        k = f"{self.key}|{name}|{hashlib.sha256(sql.encode()).hexdigest()[:16]}"
        if k not in self.cache:
            self.cache[k] = fingerprint(self.con.sql(sql))
        return self.cache[k]

    def compare(self, name, store, sql):
        if not glob.glob(f"{store}/**/*.parquet", recursive=True):
            self.failures.append(f"{name}: no output")
            return
        got = fingerprint(read_store(self.con, store))
        if sql is None:
            if got["rows"] == 0:
                self.failures.append(f"{name}: no rows")
            return
        want = self.oracle(name, sql)
        if got != want:
            self.failures.append(f"{name}: spark {got} != oracle {want}")

    def expect(self, name, got, want):
        if got != want:
            self.failures.append(f"{name}: {got} != {want}")

    def save(self):
        with open(self.path, "w") as f:
            json.dump(self.cache, f)


def check_queries(chk, work):
    oracle = json.load(open(os.path.join(work, "oracle_sql.json")))
    for name, sql in sorted(oracle.items()):
        chk.compare(name, os.path.join(work, "outputs", name), sql)


def check_etl(chk, work, res):
    """The published stores against the same pipeline computed in DuckDB
    from the generated inputs and batches.
    """
    oracle = json.load(open(os.path.join(work, "oracle_sql.json")))
    d = res["etl_dir"]
    for store, name in [("stg/customer_geo", "geohash_encode"),
                        ("dw/fact_lineitem", "fact_lineitem")]:
        chk.compare(store, os.path.join(d, store), oracle[name])
    batches = sorted(glob.glob(os.path.join(chk.lake, "deltas", "*.parquet")))
    merged = "SELECT * FROM orders"
    for b in batches:
        merged = (f"SELECT * FROM ({merged}) s WHERE o_orderkey NOT IN "
                  f"(SELECT o_orderkey FROM '{b}') UNION ALL SELECT * FROM '{b}'")
    chk.compare("pub/orders", os.path.join(d, "pub/orders"), merged)
    landed = " UNION ALL ".join(["SELECT * FROM orders"] +
                                [f"SELECT * FROM '{b}'" for b in batches])
    chk.compare("dw/priority_rollup", os.path.join(d, "dw/priority_rollup"),
                f"SELECT o_orderpriority, count(*)::BIGINT AS n_orders, "
                f"sum((o_totalprice::DECIMAL(18,2) * 100)::BIGINT)::BIGINT AS price_cents "
                f"FROM ({landed}) GROUP BY 1")
    n_orders = chk.con.sql(f"SELECT count(*) FROM ({merged})").fetchone()[0]
    chk.expect("fingerprint orders rows", res["fingerprint_orders_rows"], n_orders)
    year = res["readback_year"]
    want = chk.con.sql(f"SELECT count(*) FROM lineitem JOIN orders ON l_orderkey = "
                       f"o_orderkey WHERE year(l_shipdate) = {year}").fetchone()[0]
    chk.expect(f"read-back ship_year={year}", res["readback_rows"], want)
    chk.expect("foreign-key orphans in the merged store", res["fk_orphan_rows"], 0)


# ---- metrics ------------------------------------------------------------

def percentile(xs, q):
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


def git_sha():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                           capture_output=True, timeout=10)
        return r.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run(workload, seed, seconds, trace, sf=None):
    cfg = WORKLOADS[workload]
    sf = cfg["sf"] if sf is None else sf
    build()
    lake, stats, digest = make_lake(workload, sf, seed)
    work = os.path.join(WORK, "run", workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    run_jvm(["--workload", workload, "--lake", lake, "--work", work,
             "--seed", str(seed), "--seconds", str(seconds),
             "--trace", "1" if trace else "0", "--cores", str(CORES)],
            work, timeout=170)
    res = json.load(open(os.path.join(work, "result.json")))

    chk = Checker(f"{workload}|{sf}|{seed}|{digest}", lake)
    if workload == "etl":
        check_etl(chk, work, res)
    else:
        check_queries(chk, work)
    for op, ok in res["plan_checks"].items():
        chk.expect(f"{op} timed plan has its expression", ok, True)
    chk.save()
    for f in chk.failures:
        log(f"CHECK FAILED {f}")

    inputs = {t: v for t, v in stats.items()
              if t in cfg["tables"] or t.startswith("deltas/")}
    input_rows = sum(r for r, _ in inputs.values())
    input_bytes = sum(b for _, b in inputs.values())
    pass_s = statistics.median(res["pass_s"])
    lat = sorted(res["latency_s"]) or [float("nan")]
    attempted = res["attempted"] + len(res["plan_checks"])
    failed = res["failed"] + len(chk.failures)
    stamp = {
        "workload": workload, "seed": seed, "sf": sf, "input_dir": lake,
        "input_rows": {k: v[0] for k, v in inputs.items()},
        "input_bytes": input_bytes, "cpus": res["cores"],
        "heap": f"-Xms{HEAP} -Xmx{HEAP}",
        "heap_max_mb": round(res["heap_max_mb"]), "git_sha": git_sha(),
        "spark": res["spark_version"], "jdk": res["jdk_version"],
        "foreign_jvms": res["foreign_jvms"], "passes": len(res["pass_s"]),
        "latency_samples": len(res["latency_s"]), "trace": int(trace),
        "failed_ops": res["failed_ops"]}
    print("stamp " + json.dumps(stamp))
    if trace:
        layers = {k: float(v) for k, v in res["per_layer"].items()}
        layers["trace.pass_s"] = layers.pop("pass_s")
        if "sinks.published_bytes" in layers:
            layers["sinks.space_amp"] = layers.pop("sinks.published_bytes") / input_bytes
        layers.update({k: 0.0 for k in ABSENT[workload] if k not in layers})
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER if k in layers}
        shutil.copy(os.path.join(work, "spans.jsonl"),
                    os.path.join(WORK, f"spans-{workload}.jsonl"))
    else:
        values = {
            "setup_s": res["setup_s"], "pass_s": pass_s,
            "op_p50_s": statistics.median(lat), "retained_mb": res["retained_mb"]}
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END}
    for k, m in metrics.items():
        print(f"{k} {m['value']:.6g} {m['unit']}")
    if not trace:
        # a run has too few operations for a p90 with ten samples beyond
        # it, so the p90 is printed but not a declared metric
        print(f"op_p90_s {percentile(lat, 90):.6g} s ({len(lat)} samples)")
        if workload == "etl":
            # input rows over pass_s: the same sample as pass_s, so not a
            # declared metric either
            print(f"load_rows_per_s {input_rows / pass_s:.6g} rows/s")
    print(f"fail_ratio {failed / attempted:.6g} ratio ({failed} of {attempted})")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def smoke():
    """Every workload at sf0.001, untraced and traced: each must print
    every metric it owes, with its unit, and pass its checks.
    """
    bad = []
    for w in WORKLOADS:
        for trace, names in ((0, END_TO_END), (1, PER_LAYER)):
            r = run(w, 1, 1, trace, sf=0.001)
            for k, unit in names:
                m = r["metrics"].get(k)
                if not m or m.get("unit") != unit or not isinstance(m.get("value"), float):
                    bad.append(f"{w} trace={trace}: {k}")
            if set(r["metrics"]) != {k for k, _ in names}:
                bad.append(f"{w} trace={trace}: metric names differ from BENCHMARK.json")
            if not r["correct"]:
                bad.append(f"{w} trace={trace}: outputs incorrect")
    print(json.dumps({"smoke": "ok" if not bad else "failed", "problems": bad}))
    return 0 if not bad else 1


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    if a.smoke:
        return smoke()
    if not a.workload:
        ap.error("--workload is required")
    t0 = time.time()
    result = run(a.workload, a.seed, a.seconds, bool(a.trace))
    log(f"run took {time.time() - t0:.1f} s")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
