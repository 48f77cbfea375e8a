#!/usr/bin/env python3
"""Warehouse benchmark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload sync_daily --seed 1 --seconds 30 \
        --trace 0

Run from the repository root. The first run builds the engine and the
benchmark with sbt (classes and the classpath land in `.bench_build/` and
the sbt `target/` dirs); later runs reuse the build while the sources are
unchanged. The seed generates the inputs (gen.py); the JVM (Main.scala)
runs the workload and writes its raw record; this script checks the
outputs that need DuckDB, derives the metrics and prints them, the last
line as one JSON object. `--trace 1` runs with the Spark listener on and
prints the per-layer metrics instead; its spans and per-layer table are
kept under `.bench_build/traces/<workload>/`.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import report  # noqa: E402

WORKLOADS = ["sync_daily", "warehouse_sql", "operator_queries"]
JVM_MEM = "3g"
RUN_LIMIT_S = 170
# the JDK 17 module opens Spark needs outside spark-submit (build.sbt
# reads the same file for the tests)
with open(os.path.join(HERE, "add-opens.txt")) as _f:
    ADD_OPENS = [x.strip() for x in _f if x.strip()]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def source_stamp(root):
    """Hash of every input of the build."""
    h = hashlib.sha256()
    paths = [os.path.join(root, "build.sbt"),
             os.path.join(HERE, "build.sbt")]
    for top in (os.path.join(root, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(root, "project"),
                os.path.join(HERE, "project")):
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x != "target")
            paths += [os.path.join(d, f) for f in sorted(files)
                      if f.endswith((".scala", ".sbt", ".properties"))]
    for p in paths:
        if os.path.isfile(p):
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(root, out):
    """Compile with sbt when the sources changed; return the classpath."""
    stamp = source_stamp(root)
    cp_file = os.path.join(out, "classpath.txt")
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false",
            "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("[perfbench] building with sbt ...")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = [x for x in p.stdout.splitlines()
             if not x.startswith("[") and ".jar" in x]
    if p.returncode != 0 or not lines:
        log(p.stdout[-4000:])
        raise SystemExit("[perfbench] build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def run_jvm(cp, work, args, deadline):
    cmd = (["java", f"-Xmx{JVM_MEM}", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", args.workload,
              "--work", work, "--seconds", str(args.seconds),
              "--trace", str(args.trace)])
    os.makedirs(f"{work}/tmp", exist_ok=True)
    with open(f"{work}/jvm.log", "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT)
        try:
            p.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit("[perfbench] JVM exceeded the run limit")
    if p.returncode != 0:
        with open(f"{work}/jvm.log") as f:
            log(f.read()[-4000:])
        raise SystemExit(f"[perfbench] JVM exited {p.returncode}")


def load_compare(root):
    """The repository's DuckDB compare helpers (tools/compare.py)."""
    spec = importlib.util.spec_from_file_location(
        "compare", os.path.join(root, "tools", "compare.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_checks(root, work, result):
    """Each operator query's last result against its oracle SQL in DuckDB
    over the same generated tables, compared as tools/compare.py does:
    columns by name, rows sorted, cells exact."""
    import duckdb
    import pyarrow.parquet as pq
    cmp = load_compare(root)
    con = duckdb.connect()
    for t in gen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{work}/src/{t}.parquet'")
    with open(f"{work}/opq/oracle_sql.json") as f:
        oracles = json.load(f)
    step_of = result["notes"].get("operator_steps", {})
    out = []
    for name, sql in sorted(oracles.items()):
        ok, detail, bad = True, "", []
        try:
            a = cmp.canon(pq.read_table(f"{work}/opq/{name}").to_pandas())
            b = cmp.canon(con.sql(sql).df())
            if list(a.columns) != list(b.columns) or len(a) != len(b):
                ok, detail = False, (f"shape {list(a.columns)} x {len(a)} "
                                     f"vs {list(b.columns)} x {len(b)}")
            else:
                for i in range(len(a)):
                    for c in a.columns:
                        eq, drift = cmp.cells_equal(a.at[i, c], b.at[i, c])
                        if not eq:
                            bad.append((c, drift))
                        if not eq and ok:
                            ok = False
                            detail = (f"row {i} col {c}: {a.at[i, c]!r} vs "
                                      f"{b.at[i, c]!r} (drift {drift:.2e})")
        except Exception as e:  # an oracle that cannot run is a failure
            ok, detail = False, f"{type(e).__name__}: {e}"
        known = not ok and report.is_known_failure(name, bad)
        if known:
            detail = (f"{report.KNOWN_FAILURES[name]['why']}: {len(bad)} "
                      f"cells, first {detail}")
        out.append({"name": f"oracle_{name}", "step": step_of.get(name, ""),
                    "ok": ok, "known": known, "detail": detail})
    return out


def end_to_end(result):
    """The end-to-end metrics of an untraced run: set-up time, and the
    timed work of one round of the workload's op list (the median round
    when `--seconds` left time for more than one)."""
    rounds = {}
    for s in result["steps"]:
        if s["timed"]:
            rounds[s["round"]] = rounds.get(s["round"], 0.0) + s["seconds"]
    return {"setup_s": (result["setup_s"], "s", 1),
            "work_s": (report.median(list(rounds.values())), "s",
                       len(rounds))}


def detail_lines(result, failed_ratio):
    """The workload's own end-to-end figures, with sample counts."""
    timed = [s for s in result["steps"] if s["timed"]]
    by = {}
    for s in timed:
        by.setdefault(s["kind"], []).append(s["seconds"])
    lines = []

    def put(name, vals, unit, scale=1.0, how="p50"):
        if vals:
            v = (report.median(vals) if how == "p50" else sum(vals)) * scale
            lines.append(f"{name} = {v:.4f} {unit} (n={len(vals)})")
    if "cold_sync" in by:
        put("cold_sync_s", by["cold_sync"], "s")
        put("delta_sync_p50_s", by.get("delta_sync"), "s")
        put("noop_sync_p50_s", by.get("noop_sync"), "s")
        put("forget_p50_s", by.get("forget"), "s")
        n = result["notes"]
        lines.append("storage_ratio = %.4f (warehouse %d B / gzip "
                     "delivered %d B)" % (
                         n["warehouse_bytes"] / n["gz_bytes_delivered"],
                         n["warehouse_bytes"], n["gz_bytes_delivered"]))
    if "sql" in by:
        ms = [x * 1e3 for x in by["sql"]]
        put("sql_p50_ms", ms, "ms")
        p = report.tail_percentile(len(ms))
        if p is not None and p >= 90:
            lines.append(f"sql_p90_ms = {report.percentile(ms, 90):.4f} ms "
                         f"(n={len(ms)})")
        else:
            lines.append(f"sql_p90_ms not reported: fewer than ten of "
                         f"{len(ms)} samples lie beyond it")
        if p is not None:
            lines.append(f"sql_p{p}_ms = {report.percentile(ms, p):.4f} ms "
                         f"(n={len(ms)}, the highest percentile with ten "
                         "samples beyond it)")
        names = {}
        for s in timed:
            names.setdefault(s["name"], []).append(s["seconds"] * 1e3)
        for k in sorted(names):
            put(f"  {k}_p50_ms", names[k], "ms")
    if "operator" in by:
        passes = result["notes"].get("passes", 1)
        put("operators_total_s", by["operator"], "s", 1.0 / passes, "sum")
        names = {}
        for s in timed:
            names.setdefault(s["name"], []).append(s["seconds"])
        for k in sorted(names):
            put(f"  {k}_s", names[k], "s")
    lines.append(f"peak_rss_mb = {result['peak_rss_mb']:.1f} MB")
    lines.append(f"failed_ops_ratio = {failed_ratio:.4f}")
    return lines


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    started = time.time()
    deadline = started + RUN_LIMIT_S
    root = os.getcwd()
    for need in ("build.sbt", os.path.join("src", "main", "scala"),
                 os.path.join("tools", "compare.py")):
        if not os.path.exists(os.path.join(root, need)):
            raise SystemExit(f"[perfbench] run from the repository root: "
                             f"{need} is missing")
    out = os.path.join(root, ".bench_build")
    os.makedirs(out, exist_ok=True)
    cp = build(root, out)
    deadline = max(deadline, time.time() + RUN_LIMIT_S)
    work = os.path.join(out, "work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        gen.plan(work, args.seed, args.workload)
        run_jvm(cp, work, args, deadline)
        with open(f"{work}/result.json") as f:
            result = json.load(f)
        checks = list(result["checks"])
        if args.workload == "operator_queries":
            checks += oracle_checks(root, work, result)
        timed = [s for s in result["steps"] if s["timed"]]
        bad_steps = {s["id"] for s in timed if s["error"]}
        bad_steps |= {c["step"] for c in checks if not c["ok"]}
        failed = len([s for s in timed if s["id"] in bad_steps])
        errors = [s for s in result["steps"] if s["error"]]
        correct = all(c["ok"] or c.get("known") for c in checks) and \
            not errors
        for s in result["steps"]:
            log(f"[perfbench] step {s['id']:>4} {s['kind']:>10} "
                f"{s['name']:<24} {s['seconds']:9.3f} s"
                f"{'' if s['timed'] else '  (untimed)'}")
        for s in errors:
            log(f"[perfbench] FAILED {s['kind']} {s['name']}: {s['error']}")
        for c in checks:
            if not c["ok"]:
                log(f"[perfbench] CHECK FAILED {c['name']}: {c['detail']}")
                if c.get("known"):
                    print(f"known failure {c['name']}: {c['detail']}")
        e2e = end_to_end(result)
        last_dir = os.path.join(out, "last")
        os.makedirs(last_dir, exist_ok=True)
        last_file = os.path.join(last_dir, f"{args.workload}.json")
        for line in detail_lines(result, failed / max(1, len(timed))):
            print(line)
        for k, (v, unit, n) in e2e.items():
            print(f"{k} = {v:.4f} {unit} (n={n})")
        print(f"checks: {sum(c['ok'] for c in checks)}/{len(checks)} passed;"
              f" ops {len(timed) - failed}/{len(timed)} ok")
        if args.trace:
            metrics, driver_check, by_kind = report.layer_table(result)
            tdir = os.path.join(out, "traces", args.workload)
            os.makedirs(tdir, exist_ok=True)
            write_trace(tdir, result, metrics, driver_check, by_kind)
            shutil.copy(f"{work}/result.json", tdir)
            print(f"per-layer table: {tdir}/layers.txt; spans: "
                  f"{tdir}/spans.jsonl")
            for line in driver_check_lines(driver_check):
                print(line)
            if os.path.exists(last_file):
                with open(last_file) as f:
                    base = json.load(f)
                for k, (v, unit, _) in e2e.items():
                    if k in base:
                        print(f"tracing overhead {k}: {v - base[k]:+.4f} "
                              f"{unit} (traced {v:.4f}, last untraced "
                              f"{base[k]:.4f})")
            out_metrics = {k: {"value": metrics[k], "unit": u}
                           for k, u in report.benchmarked_units()}
        else:
            with open(last_file, "w") as f:
                json.dump({k: v for k, (v, _, _) in e2e.items()}, f)
            out_metrics = {k: {"value": v, "unit": u}
                           for k, (v, u, _) in e2e.items()}
        print(json.dumps({"correct": correct, "attempted": len(timed),
                          "failed": failed, "metrics": out_metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


def driver_check_lines(driver_check):
    return [f"driver time outside jobs, {kind}: sampled {a:.3f} s, "
            f"measured {b:.3f} s, gap {a - b:+.3f} s"
            for kind, (a, b) in driver_check.items()]


def write_trace(tdir, result, metrics, driver_check, by_kind):
    with open(os.path.join(tdir, "spans.jsonl"), "w") as f:
        for s in result["steps"]:
            f.write(json.dumps({"kind": "step", "id": s["id"],
                                "name": f"{s['kind']} {s['name']}",
                                "start_ms": s["start_ms"],
                                "end_ms": s["end_ms"], "parent": None,
                                "trace_id": s["id"]}) + "\n")
        for c in result["spans"]:
            f.write(json.dumps({"kind": "call", "name": c["name"],
                                "layer": c["layer"],
                                "start_ms": c["start_ms"],
                                "end_ms": c["end_ms"], "parent": c["step"],
                                "trace_id": c["step"]}) + "\n")
        for j in result["jobs"]:
            f.write(json.dumps({"kind": "job", "id": j["id"],
                                "start_ms": j["start_ms"],
                                "end_ms": j["end_ms"],
                                "parent": j["group"] or None,
                                "trace_id": j["group"] or None,
                                "task_s": j["task_s"],
                                "call_site": j["call_site"].split("\n")[0]})
                    + "\n")
    with open(os.path.join(tdir, "layers.txt"), "w") as f:
        f.write(f"# {result['workload']}: per-layer metrics of the traced "
                "run\n")
        for line in driver_check_lines(driver_check):
            f.write(f"# {line}\n")
        for k, unit in report.per_layer_units():
            f.write(f"{k:32s} {metrics[k]:14.4f} {unit}\n")
        f.write("\n# self time by step kind, summed over the run's steps\n")
        for kind, layers in by_kind.items():
            top = sorted(layers.items(), key=lambda x: -x[1])
            f.write(f"{kind}: " + ", ".join(f"{k} {v:.3f} s" for k, v in top)
                    + "\n")


if __name__ == "__main__":
    main()
