#!/usr/bin/env python3
"""graft benchmark: one closed-loop client running named graft queries.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads, their frozen query lists and why each was chosen are in
perfbench/workloads.json. One invocation:

  1. builds graft and the harness from source with perfbench/build.sbt
     when the sources changed (classes go to perfbench/target/);
  2. generates the workload's input once per checkout (perfbench/gen_data.py,
     then graft.ScaleGen for the x10 input) under perfbench/.data/;
  3. starts one JVM with a Spark session at local[<cpu count>] and
     graft.Bench's session config, inside the fresh work directory
     perfbench/.work/<workload>/, with its own GRAFT_CACHE_ROOT and Spark
     local dir there (cards write relative target/ paths);
  4. runs every query once untimed and checks each output against the
     DuckDB oracle with the repository's tools/check.py; queries without a
     usable oracle must give non-empty output whose digest is the same from
     run to run;
  5. runs whole passes over the workload, each in its own order drawn from --seed,
     back to back for about --seconds, timing df.write.format("noop");
  6. with --trace 1, runs one more pass under a SparkListener and a
     QueryExecutionListener, writes its spans to
     perfbench/.work/<workload>/out/trace.jsonl, and runs one untraced pass
     after it as the baseline of trace.overhead_s.

The last stdout line is one JSON object with "correct", "attempted",
"failed" and "metrics": the end-to-end metrics of BENCHMARK.json with
--trace 0, its per-layer metrics with --trace 1. Every result is also
stamped (source hash, cpu count, start load, cache state, input
fingerprint) and kept in perfbench/.results/; compare two of them with
perfbench/compare.py.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import gen_data

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_BUDGET_S = 165.0  # once built and generated, a run ends within 180 s
JAVA_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
SBT_OPTS = ("-Dsbt.override.build.repos=true -Dsbt.repository.config="
            + os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx2g")
DEADLINE = time.monotonic() + RUN_BUDGET_S


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run(cmd, timeout, **kw):
    """Run a child in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=max(1.0, timeout))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        die(f"timed out after {timeout:.0f} s: {' '.join(cmd[:3])} ...")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def remaining():
    return DEADLINE - time.monotonic()


def tree_files(top, exts):
    for d, _, fs in os.walk(top):
        for f in fs:
            if f.endswith(exts):
                yield os.path.join(d, f)


def source_hash():
    """sha256 over the graft sources and the harness sources + build files."""
    files = sorted(list(tree_files(os.path.join(ROOT, "src", "main"), (".scala", ".java")))
                   + list(tree_files(os.path.join(HERE, "src", "main"), (".scala",)))
                   + [os.path.join(HERE, "build.sbt"),
                      os.path.join(HERE, "project", "build.properties")])
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile graft + harness into perfbench/target when sources changed."""
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    stamp = os.path.join(HERE, "target", "perfbench.stamp")
    key = source_hash()
    if os.path.isdir(classes) and os.path.exists(stamp) and open(stamp).read() == key:
        return classes, key
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=SBT_OPTS)
    with open(os.path.join(HERE, ".build.log"), "w") as log:
        rc = run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], 700,
                 cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT)
    if rc != 0:
        die(f"build failed, see {os.path.join(HERE, '.build.log')}")
    with open(stamp, "w") as fh:
        fh.write(key)
    return classes, key


def java_cmd(classes, main, args, work):
    """A fixed 4 GB heap keeps peak RSS from following GC timing; temp
    files and JVM perf data stay out of /tmp."""
    opens = [x for p in JAVA_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    return (["java"] + opens + ["-Xms4g", "-Xmx4g", "-XX:-UsePerfData",
                                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
                                "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                                "-cp", f"{classes}:/opt/spark/jars/*", main] + args)


def fingerprint(data_dir):
    """Content hash of an input directory: per table and part file, the row
    count and the sum of DuckDB row hashes, row numbers included. Raw bytes
    would not do: Spark's parquet footers differ from one write to the next."""
    import duckdb
    con = duckdb.connect()
    h = hashlib.sha256()
    for t in sorted(x for x in os.listdir(data_dir) if x.endswith(".parquet")):
        p = os.path.join(data_dir, t)
        files = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
        rows = con.execute(
            "SELECT part, count(*), sum(hash(r))::VARCHAR FROM (SELECT * EXCLUDE (filename), "
            "regexp_extract(filename, 'part-[0-9]+') AS part FROM read_parquet(?, filename=true, "
            "file_row_number=true)) r GROUP BY part ORDER BY part", [files]).fetchall()
        h.update(f"{t}:{rows}\n".encode())
    return h.hexdigest()[:16]


def ensure_data(spec, wl, classes, cores):
    """Generate the workload's input once per checkout; return (dir, fingerprint)."""
    sf, factor = wl["input"]["sf"], wl["input"]["scale"]
    root = os.path.join(HERE, ".data")
    base = os.path.join(root, f"sf{sf}")
    if not os.path.exists(os.path.join(base, ".fingerprint")):
        shutil.rmtree(base, ignore_errors=True)
        gen_data.generate(base + ".tmp", sf, spec["data_seed"])
        os.replace(base + ".tmp", base)
        with open(os.path.join(base, ".fingerprint"), "w") as fh:
            fh.write(fingerprint(base))
    target = base if factor == 1 else f"{base}_x{factor}"
    if not os.path.exists(os.path.join(target, ".fingerprint")):
        tmp = target + ".tmp"
        work = os.path.join(root, "scalegen-work")
        for d in (tmp, work, target):
            shutil.rmtree(d, ignore_errors=True)
        os.makedirs(work)
        with open(os.path.join(work, "log.txt"), "w") as log:
            rc = run(java_cmd(classes, "graft.ScaleGen", [base, tmp, str(factor)], work), 600,
                     cwd=work, env=dict(os.environ, SPARK_GRAFT_CPUS=str(cores),
                                        SPARK_LOCAL_DIRS=os.path.join(work, "tmp")),
                     stdout=log, stderr=subprocess.STDOUT)
        if rc != 0:
            die(f"graft.ScaleGen failed, see {work}/log.txt")
        shutil.rmtree(work, ignore_errors=True)
        os.replace(tmp, target)
        with open(os.path.join(target, ".fingerprint"), "w") as fh:
            fh.write(fingerprint(target))
    return target, open(os.path.join(target, ".fingerprint")).read()


def output_digest(path):
    """Order-insensitive content digest of one query's parquet output."""
    import pyarrow.parquet as pq
    t = pq.read_table(path)
    cols = sorted(t.column_names)
    rows = sorted("\x1f".join(repr(r[c]) for c in cols) for r in t.to_pylist())
    h = hashlib.sha256(("\x1e".join(cols) + "\n").encode())
    for r in rows:
        h.update(r.encode() + b"\n")
    return len(rows), h.hexdigest()[:16]


def check_outputs(data_dir, fp, out_dir, queries):
    """Oracle check with tools/check.py; queries it reports ROWS-ONLY (no
    oracle SQL) must give non-empty output with the same digest every run.
    Returns ({query: problem}, [digest-checked queries])."""
    res = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"),
                          data_dir, out_dir] + sorted(queries),
                         capture_output=True, text=True, timeout=max(5.0, remaining()))
    problems, rows_only, seen = {}, [], set()
    for line in res.stdout.splitlines():
        status, _, rest = line.partition("  ")
        q = rest.split(":", 1)[0].strip()
        seen.add(q)
        if status == "FAIL":
            problems[q] = rest
        elif status.startswith("ROWS-ONLY"):
            rows_only.append(q)
    for q in set(queries) - seen:
        problems[q] = f"no verdict from tools/check.py (exit {res.returncode})"
    state_path = os.path.join(HERE, ".state", "digests.json")
    state = json.load(open(state_path)) if os.path.exists(state_path) else {}
    for q in rows_only:
        n, dig = output_digest(os.path.join(out_dir, q))
        key = f"{fp}/{q}"
        if n == 0:
            problems[q] = "no oracle and empty output"
        elif state.setdefault(key, dig) != dig:
            problems[q] = f"no oracle and output digest {dig} differs from {state[key]}"
    os.makedirs(os.path.dirname(state_path), exist_ok=True)
    with open(state_path, "w") as fh:
        json.dump(state, fh, indent=1, sort_keys=True)
    return problems, rows_only


def nearest_rank(xs, pct):
    s = sorted(xs)
    k = max(1, -(-len(s) * pct // 100))  # ceil
    return s[int(k) - 1]


def loadavg():
    try:
        return [float(x) for x in open("/proc/loadavg").read().split()[:2]]
    except OSError:
        return [-1.0, -1.0]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    load = loadavg()

    for f in ("BENCHMARK.json", "tools/check.py", "src/main/scala/graft/SparkEntry.scala"):
        if not os.path.exists(os.path.join(ROOT, f)):
            die(f"{f} not found: run from the root of a graft checkout")
    spec = json.load(open(os.path.join(HERE, "workloads.json")))
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    wls = spec["workloads"]
    if a.workload not in wls:
        die(f"unknown workload {a.workload}; known: {', '.join(wls)}")
    overlap = set(wls["core_tables"]["queries"]) & set(wls["iterative_jobs"]["queries"])
    if overlap:
        die(f"core_tables and iterative_jobs share queries: {sorted(overlap)}")
    wl = wls[a.workload]
    cores = len(os.sched_getaffinity(0))

    global DEADLINE
    classes, src_hash = build()
    # every workload's input, so that only a checkout's first run generates
    inputs = {n: ensure_data(spec, w, classes, cores) for n, w in wls.items()}
    data_dir, fp = inputs[a.workload]
    DEADLINE = time.monotonic() + RUN_BUDGET_S

    work = os.path.join(HERE, ".work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    out = os.path.join(work, "out")
    os.makedirs(out)
    os.makedirs(os.path.join(work, "local"))
    env = dict(os.environ, GRAFT_CACHE_ROOT=os.path.join(work, "cache"),
               SPARK_LOCAL_DIRS=os.path.join(work, "local"), SPARK_GRAFT_CPUS=str(cores))
    args = ["--queries", ",".join(wl["queries"]), "--data", data_dir,
            "--out", out, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cold-cache", "1" if wl["diskcache"] == "cold" else "0",
            "--cores", str(cores), "--launch-ns", str(time.time_ns())]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        rc = run(java_cmd(classes, "graftbench.Main", args, work), remaining() - 15,
                 cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT)
    if rc != 0 or not os.path.exists(os.path.join(out, "run.json")):
        die(f"harness exited with {rc}, see {work}/jvm.log")
    r = json.load(open(os.path.join(out, "run.json")))

    problems, rows_only = check_outputs(data_dir, fp, os.path.join(out, "outputs"), wl["queries"])
    for q, msg in r["output_errors"].items():
        problems[q] = f"threw: {msg}"
    passes = r["passes"] + [r[k] for k in ("traced_pass", "baseline_pass") if k in r]
    errors = [(p["index"], q, m) for p in passes for q, m in p["errors"].items()]
    times = [t for p in r["passes"] for _, t in p["queries"]]
    attempted = len(wl["queries"]) + sum(len(p["queries"]) + len(p["errors"]) for p in passes)
    failed = len(problems) + len(errors)

    e2e = {
        "setup_s": r["setup"]["total_s"],
        "wall_s": statistics.median(p["wall_s"] for p in r["passes"]),
        "query_p50_s": statistics.median(times) if times else float("nan"),
        "query_tail_s": nearest_rank(times, wl["tail_pct"]) if times else float("nan"),
        "failed_frac": failed / attempted,
        "peak_rss_mb": r["peak_rss_mb"],
    }
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    units["failed_frac"] = "frac"
    if a.trace:
        layer = {f"setup.{k}": v for k, v in r["setup"].items() if k != "total_s"}
        layer.update(r["trace"])
        reported = {m["name"]: layer.get(m["name"], 0.0) for m in bench["per_layer"]}
    else:
        reported = {m["name"]: e2e[m["name"]] for m in bench["end_to_end"]}

    stamp = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "source_sha256": src_hash, "cpus": cores, "load_start_1m_5m": load,
        "diskcache": wl["diskcache"], "input": {"dir": os.path.relpath(data_dir, ROOT),
                                                "fingerprint": fp, **wl["input"]},
        "pass_walls_s": [p["wall_s"] for p in r["passes"]], "samples": len(times),
        "tail_pct": wl["tail_pct"],
        "end_to_end": e2e, "per_layer": layer if a.trace else None,
        "problems": problems, "timed_errors": errors, "digest_checked": sorted(rows_only),
    }
    os.makedirs(os.path.join(HERE, ".results"), exist_ok=True)
    with open(os.path.join(HERE, ".results",
                           f"{a.workload}-seed{a.seed}-trace{a.trace}-{time.time_ns()}.json"), "w") as fh:
        json.dump(stamp, fh, indent=1)

    print(f"workload {a.workload}: {len(wl['queries'])} queries, {len(r['passes'])} timed passes, "
          f"{len(times)} samples, cpus {cores}, load {load[0]:.2f}/{load[1]:.2f}, input {fp}")
    for q, msg in sorted(problems.items()):
        print(f"FAILED {q}: {msg}")
    for i, q, msg in errors:
        print(f"FAILED {q} (pass {i}): {msg}")
    for k, v in (e2e if not a.trace else {**e2e, **reported}).items():
        print(f"{k} = {v:.6g} {units.get(k, '')}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": None if v != v else v, "unit": units[k]}
                                  for k, v in reported.items()}}))


if __name__ == "__main__":
    main()
