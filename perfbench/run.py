#!/usr/bin/env python3
"""graft's benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds graft and the
harness (`perfbench/build.sbt`, an sbt build that depends on the
checkout's own build); later runs reuse the build while the sources are
unchanged. Each run generates its inputs from the seed, runs the
workload in one JVM (`local[<cores>]`, one client thread) inside its own
directory, checks every output, deletes the directory, and prints two
JSON lines: a report with every named figure and the run's context,
then the result: `correct`, `attempted`, `failed` and `metrics` (the
end-to-end metrics untraced, the per-layer metrics traced).

Workloads, metrics and the layer map: perfbench/METRICS.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# each workload's input scale factor (sf=0.1: 600k lineitem rows)
WORKLOADS = {"batch": 0.05, "lakehouse_ingest": 0.1}
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840
HEAP = "4g"
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def unit(name):
    """The unit of a report figure, from its name."""
    for suffix, u in (("_ms", "ms"), ("_per_s", "1/s"), ("_s", "s"), ("_mb", "MB"),
                      ("_pct", "%"), ("_frac", "ratio"), ("_per_source_byte", "ratio")):
        if name.endswith(suffix):
            return u
    return "count"


def run_child(cmd, limit, **kw):
    """Run `cmd` in its own process group and wait for it; on a timeout
    or when this process is told to stop, kill the whole group first."""
    p = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=limit)
    except subprocess.TimeoutExpired:
        out = None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    return p.returncode, out


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except OSError:
        return -1.0


def cpu_probe():
    """Seconds a fixed single-thread SHA-256 loop takes: the box's CPU
    speed at this moment, the median of five tries."""
    data = b"\0" * (1 << 20)
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        for _ in range(40):
            hashlib.sha256(data).digest()
        times.append(time.perf_counter() - t0)
    return sorted(times)[2]


def du(path):
    total = 0
    for dp, _, fs in os.walk(path):
        for f in fs:
            try:
                total += os.lstat(os.path.join(dp, f)).st_size
            except OSError:
                pass
    return total


def build_inputs():
    """The files whose content decides the build."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    proj = os.path.join(ROOT, "project")
    if os.path.isdir(proj):
        files += [os.path.join(proj, f) for f in os.listdir(proj)
                  if f.endswith((".sbt", ".properties", ".scala"))]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for dp, dns, fs in os.walk(base):
            dns.sort()
            files += [os.path.join(dp, f) for f in fs]
    return sorted(files)


def build():
    """Build graft and the harness unless the sources match the last
    build; returns (classpath, build seconds)."""
    stamp = hashlib.sha256()
    for f in build_inputs():
        stamp.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            stamp.update(hashlib.sha256(fh.read()).digest())
    stamp = stamp.hexdigest()
    out = os.path.join(HERE, "target")
    stamp_f, cp_f = os.path.join(out, "perfbench.stamp"), os.path.join(out, "perfbench.classpath")
    if os.path.exists(stamp_f) and os.path.exists(cp_f):
        with open(stamp_f) as a, open(cp_f) as b:
            if a.read() == stamp:
                return b.read(), 0.0
    os.makedirs(out, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if not env.get("SBT_OPTS"):
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    log = os.path.join(out, "build.log")
    with open(log, "w") as lf:
        code, stdout = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                                  "export Runtime/fullClasspath"], BUILD_LIMIT_S,
                                 cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=lf,
                                 text=True)
        if stdout is None:
            fail("build timed out")
        lf.write(stdout)
    lines = [l for l in stdout.splitlines() if l.strip() and not l.startswith("[")]
    if code != 0 or not lines:
        sys.stderr.write(stdout[-4000:])
        fail(f"build failed (log: {log})")
    cp = lines[-1].strip()
    with open(cp_f, "w") as f:
        f.write(cp)
    with open(stamp_f, "w") as f:
        f.write(stamp)
    return cp, time.time() - t0


def canon(df):
    """Columns by name, rows sorted, datetimes tz-naive: the oracle
    compare of the repository's own check."""
    import numpy as np
    import pandas as pd
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None)
        elif df[c].dtype == object:
            df[c] = df[c].map(lambda v: tuple(v) if isinstance(v, (list, np.ndarray)) else v)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def oracle_mismatch(con, out_dir, sql):
    """None when the written output equals the DuckDB oracle's rows,
    else what differs."""
    import numpy as np
    import pandas as pd
    g, e = canon(pd.read_parquet(out_dir)), canon(con.sql(sql).df())
    if list(g.columns) != list(e.columns):
        return f"columns {list(g.columns)} vs {list(e.columns)}"
    if len(g) != len(e):
        return f"rows {len(g)} vs {len(e)}"
    for c in g.columns:
        gv, ev = g[c].to_numpy(), e[c].to_numpy()
        if np.issubdtype(gv.dtype, np.floating) or np.issubdtype(ev.dtype, np.floating):
            gv, ev = gv.astype(np.float64), ev.astype(np.float64)
            eq = (gv == ev) | (np.isnan(gv) & np.isnan(ev))
        else:
            gs, es = pd.Series(gv), pd.Series(ev)
            eq = (gs.eq(es) | (gs.isna() & es.isna())).to_numpy()
        if not eq.all():
            return f"{c}: {int((~eq).sum())} values differ"
    return None


def oracle_mismatch_in_duckdb(con, out_dir, sql):
    """The same compare for outputs too large to sort in pandas: row
    counts and EXCEPT ALL both ways, over the columns by name, inside
    DuckDB. Rows must repeat as often on both sides."""
    con.sql(f"CREATE OR REPLACE TEMP TABLE expected AS {sql}")
    con.sql(f"CREATE OR REPLACE TEMP VIEW got AS SELECT * FROM read_parquet('{out_dir}/*.parquet')")
    gc, ec = sorted(con.table("got").columns), sorted(con.table("expected").columns)
    if gc != ec:
        return f"columns {gc} vs {ec}"
    cols = ", ".join(f'"{c}"' for c in gc)
    g, e, extra, missing = con.sql(
        f"SELECT (SELECT count(*) FROM got), (SELECT count(*) FROM expected), "
        f"(SELECT count(*) FROM (SELECT {cols} FROM got EXCEPT ALL SELECT {cols} FROM expected)), "
        f"(SELECT count(*) FROM (SELECT {cols} FROM expected EXCEPT ALL SELECT {cols} FROM got))"
    ).fetchone()
    if g != e:
        return f"rows {g} vs {e}"
    if extra or missing:
        return f"{extra} rows not in the oracle, {missing} oracle rows missing"
    return None


def check_oracles(data, checks):
    import duckdb
    con = duckdb.connect()
    con.sql(f"SET threads TO {os.cpu_count() or 1}")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    bad = {}
    for name, c in sorted(checks.items()):
        try:
            compare = oracle_mismatch_in_duckdb if c.get("compare") == "duckdb" else oracle_mismatch
            why = compare(con, c["dir"], c["sql"])
        except Exception as e:  # an oracle that cannot run is a failed check
            why = f"oracle error: {e}"
        if why:
            bad[name] = why
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a stop request unwinds like an error: children are killed and the
    # run directory is removed on the way out
    signal.signal(signal.SIGTERM, lambda signum, _: sys.exit(128 + signum))
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail("graft's sources are not beside the benchmark; run from a checkout", 2)
    spec_f = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_f):
        fail("BENCHMARK.json not found", 2)
    with open(spec_f) as f:
        spec = json.load(f)
    java = shutil.which("java")
    if java is None:
        fail("java not found", 2)

    cp, build_s = build()
    # the run's time limit starts after the build, which has its own
    t_start = time.time()
    sys.path.insert(0, HERE)
    import gen

    run = os.path.join(HERE, ".runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run, ignore_errors=True)
    dirs = {k: os.path.join(run, k) for k in ("data", "tmp", "local", "warehouse",
                                              "checkpoint", "work")}
    for d in dirs.values():
        os.makedirs(d)
    load0, probe0 = loadavg(), cpu_probe()
    try:
        t0 = time.time()
        gen.generate(dirs["data"], a.seed, WORKLOADS[a.workload])
        gen_s = time.time() - t0
        out = os.path.join(run, "result.json")
        log_f = os.path.join(run, "jvm.log")
        cmd = [java, *[x for p in OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")],
               f"-Xmx{HEAP}", f"-Djava.io.tmpdir={dirs['tmp']}",
               f"-Dderby.system.home={dirs['work']}", "-Duser.timezone=UTC",
               "-Dsun.jnu.encoding=UTF-8", "-Dfile.encoding=UTF-8",
               "-cp", cp, "perfbench.Main", a.workload, str(a.seed), str(a.seconds),
               str(a.trace), dirs["data"], run, out]
        env = dict(os.environ, LANG="C.utf8")
        env.pop("SPARK_LOCAL_DIRS", None)  # it would override the run's spark.local.dir
        limit = max(10.0, RUN_LIMIT_S - (time.time() - t_start))
        t0 = time.time()
        with open(log_f, "w") as lf:
            code, _ = run_child(cmd, limit, cwd=dirs["work"], env=env, stdout=lf, stderr=lf)
        jvm_s = time.time() - t0
        probe1 = cpu_probe()
        if code != 0 or not os.path.exists(out):
            with open(log_f, errors="replace") as f:
                sys.stderr.write(f.read()[-6000:])
            fail(f"workload run failed (exit {code})")
        with open(out) as f:
            res = json.load(f)

        bad = check_oracles(dirs["data"], res["oracle"])
        failed = res["failed"]
        for name in bad:  # every sample matched a wrong expectation
            failed += res["samples"].get(name, 0) - res["failed_by_kind"].get(name, 0)
        left_behind = du(dirs["tmp"])
        trace_f = None
        if a.trace:  # the spans outlive the run directory
            trace_f = os.path.join(HERE, ".runs", f"{a.workload}-{a.seed}-trace.jsonl")
            os.replace(os.path.join(run, "trace.jsonl"), trace_f)
    finally:
        shutil.rmtree(run, ignore_errors=True)

    if a.trace:
        names = [(m["name"], m["unit"]) for m in spec["per_layer"]]
        src = res["per_layer"]
    else:
        names = [(m["name"], m["unit"]) for m in spec["end_to_end"]]
        src = res["end_to_end"]
    missing = [n for n, _ in names if n not in src]
    if missing:
        fail(f"metrics not measured: {missing}")
    attempted = res["attempted"]
    report = dict(res["report"])
    report.update({"setup_s": res["end_to_end"]["setup_s"],
                   "failed_frac": failed / attempted,
                   "driver_heap_peak_mb": res["end_to_end"]["heap_peak_mb"],
                   "driver_heap_retained_mb": res["end_to_end"]["heap_retained_mb"]})
    context = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
               "nproc": res["cores"], "loadavg": [load0, loadavg()],
               "cpu_probe_s": [probe0, probe1],
               "rounds": res["rounds"], "measured_s": res["measured_s"],
               "samples": res["samples"], "kind_p50_ms": res["kind_p50_ms"], "failed_by_kind": res["failed_by_kind"],
               "oracle_checked": sorted(res["oracle"]), "oracle_mismatch": bad,
               "unattributed_by_kind": res["unattributed_by_kind"],
               "quality": res["quality"], "generate_s": gen_s, "build_s": build_s,
               "jvm_s": jvm_s, "left_behind_bytes": left_behind, "trace_file": trace_f and os.path.relpath(trace_f, ROOT),
               "run_dir_removed": not os.path.exists(run)}
    report = {n: {"value": v, "unit": unit(n)} for n, v in report.items()}
    print(json.dumps({"report": report, "context": context}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {n: {"value": src[n], "unit": u} for n, u in names}}))


if __name__ == "__main__":
    main()
