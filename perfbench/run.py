#!/usr/bin/env python3
"""The graft benchmark: one workload per call, timed end to end, or traced
per layer with --trace 1.

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first call builds the engine and the
harness with sbt into .bench_build/ (later calls reuse the build while the
sources are unchanged), generates the workload's inputs from the seed,
runs the harness in its own JVM at local[nproc], checks every output, and
prints the metrics. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}. --seconds sets how many
warm passes a run makes: the seconds over the workload's warm pass time at
the seed commit (warm_pass_s), at least two. Workloads and their sizes
live in perfbench/workloads.json; perfbench/README.md defines the metrics.
"""
import argparse
import csv
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

T0 = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
JVM_TIMEOUT_S = 170
HEAP = "3g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(f"error: {msg}")
    sys.exit(2)


def source_stamp():
    """Hash of everything the build reads: the engine's sources and build
    definition, and the harness."""
    files = [os.path.join(ROOT, "build.sbt")]
    for base in ("src/main", "project", "perfbench/harness"):
        for dirpath, dirnames, filenames in os.walk(os.path.join(ROOT, base)):
            dirnames[:] = [d for d in dirnames if d != "target" and
                           not (d == "project" and os.path.basename(dirpath) == "project")]
            files += [os.path.join(dirpath, f) for f in filenames]
    h = hashlib.sha256()
    for f in sorted(files):
        if f.endswith((".scala", ".sbt", ".properties", ".java")) or "/resources/" in f:
            h.update(f[len(ROOT):].encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt once per source state; return the
    runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src/main/scala"))):
        fail("no engine sources next to perfbench/ (run from the repository root)")
    stamp_file, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath")
    stamp = source_stamp()
    if os.path.isfile(stamp_file) and os.path.isfile(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    if shutil.which("sbt") is None:
        fail("sbt not found")
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g", "-XX:-UsePerfData",
            f"-Dsbt.global.base={BUILD}/sbt-global"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building engine and harness with sbt")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export harness/Runtime/fullClasspath"],
        cwd=os.path.join(HERE, "harness"), env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=800)
    lines = [ln.strip() for ln in p.stdout.splitlines() if ln.strip()]
    cp = next((ln for ln in reversed(lines) if ln.startswith("/") and ".jar" in ln), None)
    if p.returncode != 0 or cp is None:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    log(f"built in {time.time() - t0:.0f} s")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def generate(kind, seed, size):
    """Seeded inputs under .bench_build/inputs/<kind>/, regenerated unless
    the same generator already wrote them for this seed and size."""
    script = os.path.join(HERE, "gen_tables.py" if kind == "tables" else "gen_3cv.py")
    with open(script, "rb") as f:
        tag = f"{hashlib.sha256(f.read()).hexdigest()[:10]}-{seed}-{size}"
    out = os.path.join(BUILD, "inputs", f"{kind}-{size}")
    done = os.path.join(out, "_DONE")
    if os.path.isfile(done):
        with open(done) as f:
            if f.read() == tag:
                return out
    shutil.rmtree(out, ignore_errors=True)
    subprocess.run([sys.executable, script, out, str(seed), str(size)], check=True)
    with open(done, "w") as f:
        f.write(tag)
    return out


def run_harness(cp, workload, seed, warm_passes, trace, cores, inputs, setup_dir, out, queries):
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx" + HEAP, "-XX:+UseG1GC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", workload, str(seed), str(warm_passes), str(trace),
            str(cores), inputs, setup_dir, out] + queries
    env = {k: v for k, v in os.environ.items() if not k.startswith(("SPARK_", "PYSPARK"))}
    with open(os.path.join(out, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=out, env=env, stdin=subprocess.DEVNULL,
                             stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"harness exceeded {JVM_TIMEOUT_S} s")
    if rc != 0 or not os.path.isfile(os.path.join(out, "harness.json")):
        with open(os.path.join(out, "jvm.log"), errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"harness exited with {rc}")
    shutil.rmtree(tmp, ignore_errors=True)
    with open(os.path.join(out, "harness.json")) as f:
        return json.load(f)


def canon(df):
    """Result fingerprint, as tools/check_correctness.py renders it: columns
    sorted by name, doubles at %.6f, NULL for missing."""
    import pandas as pd
    df = df[sorted(df.columns)]
    lines = []
    for row in df.itertuples(index=False):
        parts = []
        for v in row:
            if v is None or (isinstance(v, float) and pd.isna(v)):
                parts.append("NULL")
            elif isinstance(v, float):
                parts.append(f"{v:.6f}")
            else:
                parts.append(str(v))
        lines.append("|".join(parts))
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def check_queries(out, data_dir, names):
    """Per query: the engine's result against its oracle SQL in DuckDB over
    the same generated tables. Returns {name: None if ok else reason}."""
    import duckdb
    import pandas as pd
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    verdict = {}
    for name in names:
        try:
            files = sorted(glob.glob(os.path.join(out, "results", name, "*.parquet")))
            if not files:
                verdict[name] = "no result"
                continue
            if name not in oracle:
                verdict[name] = "no oracle SQL"
                continue
            mine = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
            ref = con.execute(oracle[name]).fetchdf()
            if len(mine) != len(ref):
                verdict[name] = f"rows {len(mine)} != oracle {len(ref)}"
            elif sorted(map(str.lower, mine.columns)) != sorted(map(str.lower, ref.columns)):
                verdict[name] = "schema differs from oracle"
            elif canon(mine) != canon(ref):
                verdict[name] = "values differ from oracle"
            else:
                verdict[name] = None
        except Exception as e:  # a broken check is a failed op, never a crash
            verdict[name] = f"check error: {str(e)[:200]}"
    return verdict


def check_publish_csv(csv_dir, truth):
    """The published CSV against the generator's truth; None if ok."""
    parts = sorted(glob.glob(os.path.join(csv_dir, "part-*.csv")))
    if not parts:
        return "no published CSV"
    rows = []
    for p in parts:
        with open(p, newline="", encoding="utf-8") as f:
            rows += list(csv.reader(f))
    header, body = rows[0], rows[1:]
    if header != truth["columns"]:
        return f"published columns differ: {header}"
    if len(body) != truth["rows"]:
        return f"published {len(body)} rows, expected {truth['rows']}"
    idx = [header.index(c) for c in truth["fingerprint_columns"]]
    got = hashlib.sha256("\n".join(sorted("|".join(r[i] for i in idx) for r in body))
                         .encode("utf-8")).hexdigest()
    if got != truth["fingerprint"]:
        return "published content differs from truth"
    return None


def summarize(res, verdict):
    """(attempted, failed, failure reasons) over every op execution."""
    attempted, failed, reasons = 0, 0, {}
    for p in res["passes"]:
        for o in p["ops"]:
            attempted += 1
            why = o["error"] or verdict(o)
            if why:
                failed += 1
                reasons[o["name"]] = why
    if res.get("decomposed") is not None:
        attempted += 1
        why = verdict({"name": "decomposed", "detail": res["decomposed"]})
        if why:
            failed += 1
            reasons["decomposed"] = why
    return attempted, failed, reasons


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)["workloads"]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    if a.workload not in spec:
        fail(f"unknown workload {a.workload}; have {sorted(spec)}")
    w = spec[a.workload]
    cp = build()
    cores = len(os.sched_getaffinity(0))

    setup_dir = generate("tables", a.seed, 0.001)
    if a.workload == "publish_3cv":
        inputs = generate("3cv", a.seed, w["rows"])
        queries = []
    else:
        inputs = generate("tables", a.seed, w["sf"])
        queries = w["queries"]
    log(f"inputs ready at {time.time() - T0:.1f} s")
    out = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    # A fixed count of warm passes, not a deadline: passes keep getting
    # faster as the JIT warms, so a run that fits one more pass before a
    # deadline reads faster than one that does not.
    warm_passes = max(2, round(a.seconds / w["warm_pass_s"]))
    res = run_harness(cp, a.workload, a.seed, warm_passes, a.trace, cores, inputs, setup_dir,
                      out, queries)

    log(f"harness done at {time.time() - T0:.1f} s")
    if a.workload == "publish_3cv":
        with open(os.path.join(inputs, "truth.json"), encoding="utf-8") as f:
            truth = json.load(f)
        csv_bad = check_publish_csv(os.path.join(out, "publish", "datos3cv.csv"), truth)
        refreshes = [o["detail"] for p in res["passes"] for o in p["ops"] if not o["error"]]
        reference = refreshes[-1]["fingerprint"] if refreshes else None

        def verdict(o):
            d = o["detail"]
            if csv_bad:
                return csv_bad
            if d["fingerprint"] != reference:
                return "published CSV differs between refreshes"
            if d["not_found"] != truth["not_found"]:
                return f"notFound {d['not_found']} != planted {truth['not_found']}"
            if d["years"] != truth["years"]:
                return f"year range {d['years']} != {truth['years']}"
            return None
    else:
        bad = check_queries(out, inputs, queries)

        def verdict(o):
            return bad.get(o["name"])
    attempted, failed, reasons = summarize(res, verdict)
    log(f"checks done at {time.time() - T0:.1f} s")
    for name, why in sorted(reasons.items()):
        log(f"FAILED {name}: {why}")

    host = res["host"]
    print(f"host: nproc={host['nproc']} loadavg_before={host['load_before']} "
          f"loadavg_after={host['load_after']} host.ext_cores={host['ext_cores']:.3f}")
    cold = [p for p in res["passes"] if p["kind"] == "cold"]
    warm = [p for p in res["passes"] if p["kind"] == "warm" and not p["traced"]]
    warm_ops = [o["wall"] for p in warm for o in p["ops"]]
    if a.trace:
        metrics = res["layers"]
        wanted = [m["name"] for m in bench["per_layer"]]
    else:
        metrics = {
            "setup_s": res["setup_s"],
            "first_pass_s": sum(o["wall"] for p in cold for o in p["ops"]),
            "pass_s": statistics.median(sum(o["wall"] for o in p["ops"]) for p in warm),
            "op_p50_s": statistics.median(warm_ops),
        }
        wanted = [m["name"] for m in bench["end_to_end"]]
    if sorted(metrics) != sorted(wanted):
        fail(f"measured {sorted(metrics)}, BENCHMARK.json declares {sorted(wanted)}")
    metrics = {k: {"value": metrics[k], "unit": units[k]} for k in wanted}
    for k, m in metrics.items():
        print(f"{a.workload} {k} = {m['value']:.4f} {m['unit']}")
    print(f"{a.workload} fail_share = {failed / max(attempted, 1):.4f} ratio "
          f"({failed}/{attempted} ops)")
    if len(warm_ops) >= 100:
        p90 = statistics.quantiles(warm_ops, n=10)[-1]
        print(f"{a.workload} op_p90_s = {p90:.4f} s ({len(warm_ops)} warm ops)")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
