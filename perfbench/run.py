#!/usr/bin/env python3
"""The repository's benchmark: one workload run, measured from outside.

    python3 perfbench/run.py --workload pipeline_batch --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness with sbt (`perfbench/build.sbt`) and generates the input corpus
(`perfbench/gen.py`); both are cached under `.bench_build/` (or
`$CARGO_TARGET_DIR`) and rebuilt when their sources change. Each run then
starts one harness JVM (`perfbench.Harness`, `local[n]` with n = min(4,
nproc)), compares every query's result with its DuckDB oracle with
`tools/check.py`, and prints a summary followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones; with `--trace 1` the
per-layer ones from the traced passes. The seed only reorders queries within
a pass; the inputs and the expected answers never change.
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
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import stats  # noqa: E402

WORKLOADS = {
    # the paper's seven analytics queries (Q1-Q7) over the pin/geo/user
    # fixtures, plus a star-schema analogue that scans the corpus
    "pipeline_batch": [
        "qr1_top_category_per_country", "qr2_category_per_post_year",
        "qr3_top_poster_per_country", "qr4_top_category_per_age_group",
        "qr5_median_followers_per_age_group", "qr6_users_joined_per_year",
        "qr7a_median_followers_per_join_year", "q05_median_price_per_segment",
    ],
    # streaming drives: the envelope decode and clean of the paper's
    # Kinesis notebook, and a watermarked windowed aggregate
    "stream_drive": ["qs1_stream_hourly_counts", "qs2_stream_envelope_clean"],
    # not in BENCHMARK.json (run time): large shuffle producers
    "shuffle_heavy": [
        "g14_item_cf_similarity", "d12_lsh_planted_recall", "m10_clip_alignment",
    ],
}

JVM_HEAP = "3g"
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

END_TO_END = {
    "setup_s": "s", "wall_s": "s", "query_p50_s": "s", "query_tail_s": "s",
    "cpu_s": "s",
}

PER_LAYER = {
    "io.input_mb": "MB", "io.input_rows": "count", "io.files_read": "count",
    "io.scan_ms": "ms",
    "ops.build_s": "s", "ops.build_jobs": "count", "ops.prepare_s": "s",
    "ops.self_s": "s",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms", "catalyst.self_s": "s",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.run_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s",
    "exec.sched_overhead_s": "s", "exec.spill_mb": "MB",
    "exec.peak_mem_mb": "MB", "exec.busy_frac": "fraction", "exec.driver_s": "s",
    "exec.self_s": "s",
    "exchange.write_mb": "MB", "exchange.read_mb": "MB",
    "exchange.records": "count", "exchange.fetch_wait_s": "s",
    "exchange.skew": "ratio",
    "stream.drives": "count", "stream.batches": "count",
    "stream.input_rows": "count", "stream.latest_offset_ms": "ms",
    "stream.get_batch_ms": "ms", "stream.query_planning_ms": "ms",
    "stream.add_batch_ms": "ms", "stream.wal_commit_ms": "ms",
    "stream.commit_offsets_ms": "ms", "stream.trigger_other_ms": "ms",
    "stream.drive_overhead_ms": "ms", "stream.state_rows": "count",
    "stream.state_mb": "MB", "stream.state_commit_ms": "ms",
    "stream.dropped_late_rows": "count", "stream.self_s": "s",
    "trace.gap_s": "s", "trace.overhead_frac": "fraction",
    "trace.covered_frac": "fraction",
    "ref1.wall_s": "s", "ref1.speedup": "ratio",
}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def build_dir():
    d = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    if not d.is_absolute():
        d = ROOT / d
    return d


def source_stamp():
    """Hash of every input of the build: the engine's and the harness's
    sources and build files."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", HERE / "src" / "main"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes() if p.exists() else b"<absent>")
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group and kill the whole group when
    it ends, times out or this process is stopped; None on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        return None
    finally:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()


def ensure_build(bdir):
    """Compile engine and harness with sbt unless the cached classpath was
    built from the same sources; return the runtime classpath."""
    stamp_file, cp_file = bdir / "build.stamp", bdir / "classpath.txt"
    stamp = source_stamp()
    if stamp_file.exists() and cp_file.exists() and stamp_file.read_text() == stamp:
        cp = cp_file.read_text().strip()
        if all(Path(p).exists() for p in cp.split(os.pathsep)):
            return cp
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    t0 = time.time()
    log_path = bdir / "build.log"
    with open(log_path, "w") as out:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       840, cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT)
    # `export` prints the classpath as one bare line
    cps = [l.strip() for l in log_path.read_text(errors="replace").splitlines()
           if "classes" in l and os.pathsep in l and not l.startswith("[")]
    if rc != 0 or not cps:
        sys.exit(f"build failed (exit {rc}); see {log_path}")
    cp = cps[-1]
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    log(f"built engine and harness in {time.time() - t0:.1f} s")
    return cp


def ensure_corpus(bdir):
    import gen
    d = bdir / "data" / f"corpus-v{gen.VERSION}"
    if not (d / "_READY").exists():
        t0 = time.time()
        gen.generate(str(d))
        (d / "_READY").write_text("")
        log(f"generated corpus {d.name} in {time.time() - t0:.1f} s")
    return d


def run_harness(cp, queries, data, out, a, timeout):
    java = Path(os.environ["JAVA_HOME"]) / "bin" / "java" if "JAVA_HOME" in os.environ else "java"
    tmp = out / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = [str(java)]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.sql.warehouse.dir={out / 'warehouse'}",
            f"-Dderby.system.home={out}", "-Dspark.ui.enabled=false",
            "-cp", cp, "perfbench.Harness",
            "--queries", ",".join(queries), "--data", str(data), "--out", str(out),
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace)]
    env = dict(os.environ, SPARK_GRAFT_TARGET=str(out / "target"), TMPDIR=str(tmp))
    with open(out / "harness.log", "w") as logf:
        return run_group(cmd, timeout, cwd=out, env=env, stdout=logf,
                         stderr=subprocess.STDOUT)


def oracle_check(out, data):
    """Run `tools/check.py` over the results the check pass wrote (the
    harness puts `oracle_sql.json` beside them). Returns {query: failure}."""
    proc = subprocess.run(
        [sys.executable, str(ROOT / "tools" / "check.py"), str(out / "results"),
         str(data), "--only-present"],
        capture_output=True, text=True, timeout=120)
    failures = {}
    for line in proc.stdout.splitlines():
        if line.startswith("FAIL "):
            name, _, msg = line[len("FAIL "):].partition(": ")
            failures[name] = msg
    if proc.returncode != 0 and not failures:
        err = (proc.stderr.strip().splitlines() or [""])[-1]
        failures["tools/check.py"] = f"exit {proc.returncode}: {err[:300]}"
    return failures


def end_to_end(record):
    passes = record["passes"]
    lat = [s["seconds"] for s in record["samples"]]
    tail, pct, n = stats.tail(lat)
    m = {
        "setup_s": record["setup_s"],
        "wall_s": stats.median([p["wall_s"] for p in passes]),
        "query_p50_s": stats.median(lat),
        "query_tail_s": tail,
        "cpu_s": stats.median([p["cpu_s"] for p in passes]),
    }
    return m, {"query_tail_percentile": pct, "samples": n, "passes": len(passes),
               "query_quartiles_s": stats.quartiles(lat)}


def per_layer(record):
    traced = [p for p in record["passes"] if p["traced"]]
    untraced = [p for p in record["passes"] if not p["traced"]]
    m = {k: 0.0 for k in PER_LAYER}
    for p in traced:
        for k, v in p["layers"].items():
            if k in m:
                m[k] += v / len(traced)
    wall = stats.median([p["wall_s"] for p in traced])
    m["exec.busy_frac"] = m["exec.run_s"] / (wall * record["cores"])
    m["ops.prepare_s"] = sum(record["prepare_s"].values())
    rows = record["per_query_layers"]
    m["trace.covered_frac"] = sum(r["trace.covered"] for r in rows) / max(len(rows), 1)
    m["trace.overhead_frac"] = wall / stats.median([p["wall_s"] for p in untraced]) - 1.0
    ref1 = record.get("ref1")
    if ref1:
        m["ref1.wall_s"] = ref1["wall_s"]
        m["ref1.speedup"] = ref1["wall_s"] / wall
    return m


def print_layers_by_query(record):
    cols = ["wall_s", "trace.covered_share", "ops.build_s", "ops.self_s",
            "catalyst.self_s", "exec.driver_s", "exec.self_s", "stream.self_s",
            "exchange.write_mb", "stream.batches", "stream.drive_overhead_ms"]
    print("per-query layers (traced passes): query " + " ".join(cols))
    for r in sorted(record["per_query_layers"], key=lambda r: (r["query"], r["pass"])):
        print(f"  {r['query']} pass {r['pass']}: " +
              " ".join(f"{c}={r.get(c, 0.0):.4g}" for c in cols))


def main(argv):
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS) + ["all"],
                    help="'all' runs every workload of BENCHMARK.json in turn")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)
    # turn SIGTERM into SystemExit so run_group reaps its process group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if a.workload == "all":
        for w in json.loads((ROOT / "BENCHMARK.json").read_text())["workloads"]:
            argv_w = ["--workload", w["name"], "--seed", str(a.seed),
                      "--seconds", str(a.seconds), "--trace", str(a.trace)]
            print(f"== {w['name']}", flush=True)
            rc = run_group([sys.executable, __file__] + argv_w, None)
            if rc != 0:
                sys.exit(rc)
        return

    if not (ROOT / "src" / "main" / "scala" / "graft" / "SparkEntry.scala").exists() \
            or not (ROOT / "tools" / "check.py").exists():
        sys.exit(f"no engine sources under {ROOT}: run from the root of a full checkout")
    bdir = build_dir()
    bdir.mkdir(parents=True, exist_ok=True)
    cp = ensure_build(bdir)
    data = ensure_corpus(bdir)

    out = bdir / "runs" / f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    queries = WORKLOADS[a.workload]
    rc = run_harness(cp, queries, data, out, a, RUN_TIMEOUT_S)
    record_path = out / "record.json"
    if rc != 0 or not record_path.exists():
        tail = (out / "harness.log").read_text(errors="replace").splitlines()[-20:]
        print("\n".join(tail), file=sys.stderr)
        sys.exit(f"harness failed (exit {rc}) for {a.workload}")
    record = json.loads(record_path.read_text())
    failures = oracle_check(out, data)

    keep = bdir / "records"
    keep.mkdir(exist_ok=True)
    stem = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    shutil.copy(record_path, keep / f"{stem}.json")
    shutil.copy(out / "harness.log", keep / f"{stem}.log")
    if (out / "trace.json").exists():
        shutil.copy(out / "trace.json", keep / f"{stem}.spans.json")
    shutil.rmtree(out, ignore_errors=True)

    errors = record["errors"]
    attempted = record["attempts"]
    failed = len(errors) + len(failures)
    error_rate = failed / attempted
    for e in errors:
        print(f"FAIL {e['query']} ({e['stage']}): {e['error']}")
    for name, msg in failures.items():
        print(f"FAIL {name} (oracle): {msg}")
    print(f"workload {a.workload}: {len(record['checked']) - len(failures)}/"
          f"{len(record['queries'])} outputs match their oracle; error_rate "
          f"{error_rate:.4f} ({failed}/{attempted})")
    print(f"load: nproc {record['nproc']}, cores {record['cores']}, loadavg "
          f"{record['loadavg_start']} -> {record['loadavg_end']}, canary "
          f"{record['canary_s']['name']} pre {record['canary_s']['pre']:.3f} s "
          f"post {record['canary_s']['post']:.3f} s")

    if a.trace:
        metrics = per_layer(record)
        units = PER_LAYER
        print_layers_by_query(record)
    else:
        metrics, info = end_to_end(record)
        units = END_TO_END
        q1, q2, q3 = info["query_quartiles_s"]
        print(f"query_tail_s is the p{info['query_tail_percentile']:.1f} of "
              f"{info['samples']} query samples over {info['passes']} passes; "
              f"query quartiles {q1:.4f} / {q2:.4f} / {q3:.4f} s; warm set-up "
              f"rounds {record['setup_rounds_s']}, peak RSS {record['peak_rss_mb']:.0f} MB")
    for k, v in metrics.items():
        print(f"{k} = {v:.6g} {units[k]}")
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main(sys.argv[1:])
