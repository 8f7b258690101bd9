#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload etl_pipeline --seed 1 --seconds 6 --trace 0

Run from the repository root. It builds the harness together with the
program's sources (once per source state), generates the workload's inputs
from the seed, runs the harness JVM, checks every operation's output
against its DuckDB oracle and prints one JSON line: with `--trace 0` the
end-to-end metrics, with `--trace 1` the per-layer ones. Everything it
writes goes under `.bench_build/` in the repository root; the full run
report is `.bench_build/runs/<workload>-<seed>-t<trace>/result.json`.
"""
import argparse
import hashlib
import importlib.util
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
STATE = ROOT / ".bench_build"
JAR = STATE / "perfbench.jar"
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import metrics  # noqa: E402

RUN_LIMIT_S = 170  # one run, build excluded
HEAP = "2g"
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
SOURCES = [HERE / "build.sbt", HERE / "project" / "build.properties", HERE / "src",
           ROOT / "src" / "main"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = str(Path(shutil.which("spark-submit")).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        raise SystemExit("perfbench: no Spark installation (set SPARK_HOME)")
    return home


def run_proc(cmd, cwd, env, timeout, log_file):
    """Run `cmd` in its own process group; kill the group on timeout and wait
    for it, so nothing outlives the benchmark."""
    with open(log_file, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return p.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit(f"perfbench: {cmd[0]} exceeded {timeout:.0f} s (log: {log_file})")


def source_stamp():
    h = hashlib.sha256()
    for base in SOURCES:
        files = [base] if base.is_file() else sorted(p for p in base.rglob("*") if p.is_file())
        for f in files:
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def harness(env, workload, inputs, out, seconds, trace):
    """The harness JVM command line and environment for one run."""
    tmp = out / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}"]
           + [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{JAR}{os.pathsep}{Path(env['SPARK_HOME']) / 'jars' / '*'}",
              "perfbench.Harness", "--workload", workload, "--inputs", str(inputs),
              "--out", str(out), "--seconds", str(seconds), "--trace", str(trace),
              "--cores", str(cores)])
    return cmd, dict(env, SPARK_LOCAL_DIRS=str(tmp))


def build(env):
    """Compile and package harness + program, unless this source state is
    already built."""
    stamp_file = STATE / "build.stamp"
    stamp = source_stamp()
    if JAR.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return
    log("building harness and program (sbt package)")
    (STATE / "logs").mkdir(parents=True, exist_ok=True)
    stamp_file.unlink(missing_ok=True)
    benv = dict(env)
    if "SBT_OPTS" not in benv:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.exists():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        benv["SBT_OPTS"] = " ".join(opts)
    benv.setdefault("COURSIER_MODE", "offline")
    # keep sbt's own temporary files inside the state directory
    sbt_tmp = STATE / "sbt-tmp"
    sbt_tmp.mkdir(parents=True, exist_ok=True)
    benv["SBT_OPTS"] += f" -Djava.io.tmpdir={sbt_tmp}"
    t0 = time.time()
    rc = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "package"], HERE, benv,
                  600, STATE / "logs" / "build.log")
    if rc != 0 or not JAR.exists():
        raise SystemExit(f"perfbench: build failed (log: {STATE / 'logs' / 'build.log'})")
    stamp_file.write_text(stamp)
    log(f"built in {time.time() - t0:.0f} s")


def inputs_for(workload, seed):
    """Generated inputs, reused for a repeated seed; other seeds' inputs of
    this workload are removed so the state directory stays small."""
    base = STATE / "inputs"
    base.mkdir(parents=True, exist_ok=True)
    keep = f"{workload}-{seed}"
    for d in base.iterdir():
        if d.name.startswith(f"{workload}-") and d.name != keep:
            shutil.rmtree(d, ignore_errors=True)
    t0 = time.time()
    manifest = gen.generate(workload, seed, base / keep)
    return base / keep, manifest, time.time() - t0


def load_compare():
    """`compare` from tools/check.py: the same rules as the repository's
    oracle gate."""
    spec = importlib.util.spec_from_file_location("oracle_check", ROOT / "tools" / "check.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.compare


def check_outputs(check, inputs):
    """Compare each op's output with its DuckDB oracle (every benchmarked op
    has one). Returns {op: None or failure message}."""
    import duckdb
    import pandas as pd
    compare = load_compare()
    con = duckdb.connect()
    for t in gen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{inputs}/{t}.parquet/*.parquet')")
    results = {}
    for name, entry in check["ops"].items():
        if entry["error"]:
            results[name] = f"spark error: {entry['error']}"
            continue
        files = sorted((Path(check["dir"]) / name).glob("*.parquet"))
        if not files:
            results[name] = "no output files"
            continue
        spark_df = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        try:
            duck_df = con.execute(entry["oracle"]).fetchdf()
        except Exception as e:  # an oracle that cannot run is a failed check
            results[name] = f"oracle error: {type(e).__name__}: {e}"
            continue
        results[name] = compare(name, spark_df, duck_df)
    return results


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (ROOT / "src" / "main" / "scala").is_dir() or not (ROOT / "tools" / "check.py").is_file():
        raise SystemExit(f"perfbench: {ROOT} holds no program sources to build")

    env = dict(os.environ, SPARK_HOME=spark_home())
    build(env)
    t_start = time.time()
    inputs, manifest, gen_s = inputs_for(args.workload, args.seed)
    log(f"inputs {inputs.name}: {gen_s:.1f} s (not counted)")

    run_dir = STATE / "runs" / f"{args.workload}-{args.seed}-t{args.trace}"
    shutil.rmtree(run_dir, ignore_errors=True)
    cmd, jenv = harness(env, args.workload, inputs, run_dir, args.seconds, args.trace)
    rc = run_proc(cmd, ROOT, jenv, RUN_LIMIT_S - (time.time() - t_start), run_dir / "harness.log")
    artifact_file = run_dir / "artifact.json"
    if rc != 0 or not artifact_file.exists():
        raise SystemExit(f"perfbench: harness exited {rc} (log: {run_dir / 'harness.log'})")
    artifact = json.loads(artifact_file.read_text())
    shutil.rmtree(run_dir / "tmp", ignore_errors=True)

    checks = check_outputs(artifact["check"], inputs)
    timed = [o for p in artifact["passes"] for o in p["ops"]]
    # at most one failure per timed op, keyed by its tag
    problems = {o["tag"]: [o["error"] or "no output files or non-finite time"]
                for o in timed if metrics.op_failed(o)}
    if args.trace:
        values, ops = metrics.per_layer(artifact)
        names, detail = metrics.PER_LAYER, {"ops": ops, "spans": artifact["spans"]}
        # a layer split that does not account for the op's wall
        for o in ops:
            found = [f"span outside the op's window: {span}" for span in o["outside_window"]]
            if abs(o["identity_residual_s"]) > metrics.IDENTITY_TOLERANCE_S:
                found.append(f"build.s + exec.driver_gap_s + exec.job_wall_s misses "
                             f"the op wall by {o['identity_residual_s']:.4f} s")
            if found:
                problems.setdefault(o["tag"], []).extend(found)
    else:
        values, detail = metrics.end_to_end(artifact)
        names = metrics.END_TO_END
    op_names = {o["tag"]: o["op"] for o in timed}
    failures = [{"op": op_names[tag], "where": tag, "message": "; ".join(msgs)}
                for tag, msgs in problems.items()]
    failures += [{"op": k, "where": "output check", "message": v}
                 for k, v in checks.items() if v is not None]
    attempted = len(timed) + len(checks)
    result = {"correct": not failures, "attempted": attempted, "failed": len(failures),
              "metrics": {k: {"value": values[k], "unit": u} for k, u in names.items()}}
    metrics.validate_result(result, names)
    report = dict(result, workload=args.workload, seed=args.seed, trace=args.trace,
                  failed_frac=len(failures) / attempted, failures=failures,
                  inputs=manifest, input_gen_s=gen_s, heap=HEAP,
                  cores=artifact["cores"], confs=artifact["confs"], setup=artifact["setup"],
                  pass_walls=[[p["kind"], p["traced"], p["wall_s"]] for p in artifact["passes"]],
                  detail=detail)
    (run_dir / "result.json").write_text(json.dumps(report, indent=1))
    for f in failures:
        log(f"FAILED {f['op']} ({f['where']}): {f['message']}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
