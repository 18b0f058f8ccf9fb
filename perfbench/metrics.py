"""Metric derivation from a run's raw record (spans, Spark jobs and stages,
probes). Pure functions, so `test_bench.py` can test them on synthetic
records."""
import math

BUILD = "build"
MEASURED = 3  # round 0 is cold, rounds 1 and 2 warm up


def median(xs):
    xs = sorted(xs)
    if not xs:
        raise ValueError("median of no values")
    n = len(xs)
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2


def geomean(xs):
    xs = list(xs)
    if not xs or any(x <= 0 for x in xs):
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def percentile(xs, p):
    """Nearest-rank percentile."""
    xs = sorted(xs)
    if not xs:
        raise ValueError("percentile of no values")
    return xs[max(0, math.ceil(p / 100 * len(xs)) - 1)]


def union_us(intervals, lo, hi):
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, end = 0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_time_us(span, children):
    """A span's duration minus the part of it its children cover."""
    lo, hi = span["start_us"], span["end_us"]
    return (hi - lo) - union_us([(c["start_us"], c["end_us"]) for c in children], lo, hi)


def dur_ms(s):
    return (s["end_us"] - s["start_us"]) / 1e3


def op_spans(raw):
    return [s for s in raw["spans"] if s["kind"] in ("op", BUILD)]


def accounting(raw, check_failures):
    """(attempted, failed, failures): every timed execution is attempted;
    an execution that threw fails, and so does every failed output check
    (`check_failures`: list of {"name", "error"})."""
    ops = op_spans(raw)
    failures = [{"name": s["name"], "round": s["round"], "error": s["error"]}
                for s in raw["spans"] if s["error"]]
    failures += [dict(f, round=None) for f in check_failures]
    return max(1, len(ops)), len(failures), failures


def end_to_end(raw):
    spans = raw["spans"]
    rounds = [s for s in spans if s["kind"] == "round"]
    cold = [s for s in rounds if s["round"] == 0]
    warm = [s for s in rounds if s["round"] >= MEASURED]
    per_op = {}
    for s in op_spans(raw):
        if s["round"] >= MEASURED and not s["error"]:
            per_op.setdefault(s["name"], []).append(dur_ms(s))
    return {
        "setup_s": (median(raw["setup_s"]), "s"),
        "cold_round_s": (round_ms(raw, cold[0]) / 1e3, "s"),
        "round_s": (median(round_ms(raw, s) for s in warm) / 1e3, "s"),
        "op_geomean_ms": (geomean(median(v) for v in per_op.values()), "ms"),
    }


def round_ms(raw, rnd):
    """A round's time: the sum of its operations' timed spans (clears and
    output checks run outside them)."""
    return sum(dur_ms(s) for s in op_spans(raw) if s["round"] == rnd["round"] and not s["error"])


def _jobs_by_group(raw):
    g = {}
    for j in raw["jobs"]:
        if j["group"]:
            g.setdefault(int(j["group"]), []).append(j)
    for js in g.values():
        js.sort(key=lambda j: (j["start_ms"], j["id"]))
    return g


def _job_us(j):
    return j["start_ms"] * 1000, j["end_ms"] * 1000


def per_layer(raw, names, cores, attempted, failed, contract_iters=None):
    """Every metric in `names` (BENCHMARK.json's per_layer list). A layer
    this workload does not exercise reads 0."""
    spans = raw["spans"]
    jobs = _jobs_by_group(raw)
    stages = {}
    for st in raw["stages"]:
        stages.setdefault(st["id"], []).append(st)
    rstats = {r["round"]: r for r in raw["round_stats"]}
    ops = op_spans(raw)
    rounds = [s for s in spans if s["kind"] == "round"]
    warm = [s for s in rounds if s["round"] >= MEASURED]
    traced = [s for s in warm if s["traced"]]
    untraced = [s for s in warm if not s["traced"]]
    out = {n: 0.0 for n in names}

    def put(name, value):
        if name in out:
            out[name] = float(value)

    put("session.start_s", median(raw["session_start_s"]))
    put("session.first_setup_s", raw["setup_s"][0])
    put("process.peak_rss_mb", raw["peak_rss_kb"] / 1024)
    if raw["live_heap_mb"] is not None:  # measured in traced runs only
        put("process.live_heap_mb", raw["live_heap_mb"])
    for k, v in raw["probes_ms"].items():
        put(k, median(v))
        if k.endswith("_ms"):
            put(k[:-3] + "_s", median(v) / 1e3)
    for name in {s["name"] for s in ops}:
        d = [dur_ms(s) for s in ops if s["name"] == name and s["round"] >= MEASURED and not s["error"]]
        kind = next(s["kind"] for s in ops if s["name"] == name)
        if d:
            put(f"{'build' if kind == BUILD else 'op'}.{name}_ms", median(d))
    put("failed_frac", failed / attempted)

    # Spark runtime and self times, per traced warm round, medians across rounds
    per_round = {}
    for r in traced:
        rops = [s for s in ops if s["round"] == r["round"]]
        rjobs = [j for s in rops for j in jobs.get(s["id"], [])]
        sts = [st for j in rjobs for sid in j["stages"] for st in stages.get(sid, [])]
        wall = dur_ms(r) / 1e3
        busy = sum(st["run_ms"] for st in sts) / 1e3
        plan = sum(jobs[s["id"]][0]["start_ms"] - s["start_us"] / 1e3
                   for s in rops if jobs.get(s["id"]))
        job_union = sum(union_us([_job_us(j) for j in jobs.get(s["id"], [])],
                                 s["start_us"], s["end_us"]) for s in rops)
        op_self = sum(self_time_us(s, [dict(start_us=a, end_us=b) for a, b in
                                       (_job_us(j) for j in jobs.get(s["id"], []))])
                      for s in rops)
        vals = {
            "spark.jobs": len(rjobs),
            "spark.stages": len(sts),
            "spark.tasks": sum(st["tasks"] for st in sts),
            "spark.shuffle_read_mb": sum(st["shuffle_read"] for st in sts) / 2**20,
            "spark.shuffle_write_mb": sum(st["shuffle_write"] for st in sts) / 2**20,
            "spark.spill_mb": sum(st["spill"] for st in sts) / 2**20,
            "spark.task_busy_s": busy,
            "spark.task_util": busy / (wall * cores) if wall > 0 else 0.0,
            "spark.gc_s": rstats[r["round"]]["gc_s"],
            "spark.process_cpu_s": rstats[r["round"]]["cpu_s"],
            "engine.codegen_compiles": rstats[r["round"]]["codegen_compiles"],
            "spark.task_retries": sum(st["task_retries"] for st in sts),
            "engine.plan_ms": plan,
            "trace.round_self_ms": self_time_us(r, rops) / 1e3,
            "trace.op_self_ms": op_self / 1e3,
            "trace.job_ms": job_union / 1e3,
        }
        for k, v in vals.items():
            per_round.setdefault(k, []).append(v)
    for k, v in per_round.items():
        put(k, median(v))
    cold_ops = [s for s in ops if s["round"] == 0 and jobs.get(s["id"])]
    if cold_ops:
        put("engine.plan_cold_ms", sum(jobs[s["id"]][0]["start_ms"] - s["start_us"] / 1e3
                                       for s in cold_ops))
    if traced and untraced:
        put("trace.overhead_frac", median(round_ms(raw, s) for s in traced) /
            median(round_ms(raw, s) for s in untraced) - 1)

    # the CSV fit, from the jobs of its traced warm executions
    traced_ids = {s["id"] for s in ops if s["round"] >= MEASURED and s["traced"] and not s["error"]}
    fits = [f for f in raw["csv_fits"] if f["span"] in traced_ids and jobs.get(f["span"])]
    if fits:
        by_id = {s["id"]: s for s in ops}
        init, first, iters, gaps, rates = [], [], [], [], []
        for f in fits:
            js = jobs[f["span"]]
            d = [j["end_ms"] - j["start_ms"] for j in js]
            init.append(d[0])
            if len(d) > 1:
                first.append(d[1])
            iters += d[2:]
            gaps.append(dur_ms(by_id[f["span"]]) - sum(d))
            if len(js) > 1:
                loop_s = (js[-1]["end_ms"] - js[1]["start_ms"]) / 1e3
                rates.append(f["points"] * f["iterations"] / loop_s)
        put("kmeans.init_ms", median(init))
        if first:
            put("kmeans.first_iter_ms", median(first))
        if iters:
            put("kmeans.iter_ms_p50", median(iters))
            put("kmeans.iter_ms_p95", percentile(iters, 95))
        put("kmeans.driver_gap_ms", median(gaps))
        if rates:
            put("kmeans.point_iters_per_s", median(rates))
        put("kmeans.iterations", median(f["iterations"] for f in fits))

    # the contract chain: its build's jobs after the init job
    tb = [s for s in ops if s["name"] == "kmeans_train_build" and s["round"] >= MEASURED
          and s["traced"] and not s["error"] and jobs.get(s["id"])]
    if tb:
        iters, per_iter = [], []
        for s in tb:
            js = jobs[s["id"]]
            iters += [j["end_ms"] - j["start_ms"] for j in js[1:]]
            if contract_iters:
                per_iter.append((len(js) - 1) / contract_iters)
        if iters:
            put("kmeans.contract_iter_ms_p50", median(iters))
            put("kmeans.contract_iter_ms_p95", percentile(iters, 95))
        if per_iter:
            put("kmeans.contract_jobs_per_iter", median(per_iter))
    return out
