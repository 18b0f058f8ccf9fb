#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one fresh JVM.

    python3 perfbench/run.py --workload kmeans --seed 1 --seconds 10 --trace 0

Builds the engine and the harness from source (perfbench/build.py), makes
the workload's inputs from the seed, runs the harness (perfbench/src) as a
closed loop — a cold round, two warm-up rounds, then measured rounds until
--seconds have passed, at least four — checks every operation's output,
and prints one JSON line last:
`{"correct", "attempted", "failed", "metrics"}`. --trace 0 reports the
end-to-end metrics of BENCHMARK.json, --trace 1 the per-layer ones. The
full record (host facts, failures, per-operation medians; spans and
Spark jobs when traced) goes to <build dir>/artifacts/. Any failed or
wrong operation makes the exit code non-zero.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import metrics  # noqa: E402
import points  # noqa: E402

DATA = os.path.join(HERE, "data", "sf0.1")
HEAP = "4g"
JVM_TIMEOUT_S = 170


class RunError(Exception):
    pass


def launch(cp, work, jvm_args, timeout=JVM_TIMEOUT_S):
    """Run the harness JVM in `work`; return its raw record."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    out = os.path.join(work, "raw.json")
    env = build.java_env(work)
    cmd = build.java_cmd(cp, work, HEAP) + ["--data", DATA, "--work", work,
                                            "--out", out] + jvm_args
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=fh, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RunError(f"harness JVM timed out after {timeout} s")
    if rc != 0 or not os.path.exists(out):
        tail = open(log, errors="replace").read()[-3000:]
        raise RunError(f"harness JVM exited with {rc}:\n{tail}")
    return json.load(open(out))


def commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
        return r.stdout.strip() if r.returncode == 0 else None
    except OSError:
        return None


def contract_iterations(work):
    """n_iter of the contract chain, from kmeans_fit's checked output."""
    res = os.path.join(work, "results", "kmeans_fit")
    if not os.path.isdir(res):
        return None
    con = checks.duckdb.connect()
    return con.execute(
        f"SELECT max(n_iter) FROM read_parquet('{res}/*.parquet')").fetchone()[0]


def exit_code(result, spec, trace):
    """0 only if no operation failed and every metric was measured."""
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    return 0 if result["failed"] == 0 and len(result["metrics"]) == len(wanted) else 1


def main(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--inject-failure", action="store_true",
                   help="add an operation that always throws (self-test)")
    a = p.parse_args(argv)

    t0 = time.time()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        raise RunError(f"unknown workload {a.workload}")
    if not os.path.isdir(DATA):
        raise RunError(f"benchmark data missing: {DATA}")
    cp = build.build(DATA, HEAP)
    bdir = build.build_dir()
    work = os.path.join(bdir, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        jvm_args = ["--workload", a.workload, "--seed", str(a.seed),
                    "--seconds", str(a.seconds), "--trace", str(a.trace)]
        if a.inject_failure:
            jvm_args.append("--inject-failure")
        centres, n_points = None, 0
        if a.workload == "kmeans":
            paths, centres = points.write(a.seed, os.path.join(
                bdir, "points", f"seed{a.seed}-{points.FILES}x{points.POINTS_PER_FILE}"))
            n_points = points.FILES * points.POINTS_PER_FILE
            jvm_args += ["--points", ",".join(paths),
                         "--centres", ";".join(f"{x}:{y}" for x, y in centres)]
            seed_file = os.path.join(os.path.dirname(paths[0]), "init_seed")
            if os.path.exists(seed_file):
                jvm_args += ["--init-seed", open(seed_file).read().strip()]
        raw = launch(cp, work, jvm_args)
        if a.workload == "kmeans" and not os.path.exists(seed_file):
            with open(seed_file, "w") as fh:
                fh.write(str(raw["init_seed"]))

        # output checks
        check_failures = checks.check_results(work, raw["checked"])
        for f in raw["csv_fits"]:
            why = checks.check_fit(f, centres, n_points)
            if why:
                check_failures.append({"name": "kmeans_csv_fit", "error": f"check: {why}"})
        attempted, failed, failures = metrics.accounting(raw, check_failures)

        host = dict(raw["host"], heap=HEAP, commit=commit(),
                    source_sha256=open(os.path.join(bdir, "classes.stamp")).read())
        e2e = metrics.end_to_end(raw) if failed < attempted else {}
        cores = int(raw["host"]["spark_graft_cpus"])
        layer = metrics.per_layer(raw, [m["name"] for m in spec["per_layer"]], cores,
                                  attempted, failed, contract_iterations(work))
        if a.trace:
            shown = {k: {"value": v, "unit": u} for k, v, u in
                     ((m["name"], layer[m["name"]], m["unit"]) for m in spec["per_layer"])}
        else:
            shown = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]}
                     for m in spec["end_to_end"] if m["name"] in e2e}
        result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
                  "metrics": shown}
        ops = {}
        for s in metrics.op_spans(raw):
            ops.setdefault(s["name"], []).append(round(metrics.dur_ms(s), 3))
        artifact = {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "host": host, "result": result, "failures": failures,
            "end_to_end": {k: v[0] for k, v in e2e.items()}, "per_layer": layer,
            "setup_s": raw["setup_s"], "op_ms_by_round": ops, "round_stats": raw["round_stats"],
            "live_heap_mb": raw["live_heap_mb"],
            "phases_s": dict(raw["phases_s"], total_wall=round(time.time() - t0, 3)),
            "init_seed": raw.get("init_seed"), "csv_fits": raw["csv_fits"],
        }
        if a.trace:
            artifact["raw"] = {k: raw[k] for k in ("spans", "jobs", "stages", "probes_ms")}
        adir = os.path.join(bdir, "artifacts")
        os.makedirs(adir, exist_ok=True)
        with open(os.path.join(adir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as fh:
            json.dump(artifact, fh, indent=1)
        for f in failures:
            print(f"FAILED {f['name']} (round {f['round']}): {f['error']}", file=sys.stderr)
        print(json.dumps(result))
        return exit_code(result, spec, a.trace)
    finally:
        log = os.path.join(work, "jvm.log")
        if os.path.exists(log):
            adir = os.path.join(bdir, "artifacts")
            os.makedirs(adir, exist_ok=True)
            shutil.copy(log, os.path.join(adir, f"{a.workload}-seed{a.seed}-trace{a.trace}.log"))
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    try:
        sys.exit(main())
    except (RunError, build.BuildError, OSError, ValueError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
