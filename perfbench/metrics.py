"""Pure analysis of one harness result: spans, jobs, stages and plans in,
end-to-end and per-layer metrics out. No I/O; unit-tested by
perfbench/test_metrics.py."""
import statistics

MB = 1e6
QUANTILES = (0.5, 0.75, 0.9, 0.95, 0.99)


def tail_quantile(n, min_beyond=10):
    """Highest of QUANTILES that has at least `min_beyond` of `n` samples
    above it, or None when even the median does not."""
    ok = [q for q in QUANTILES if round(n * (1 - q), 9) >= min_beyond]
    return max(ok) if ok else None


def self_time(start, end, children):
    """Duration of [start, end] minus the part covered by the union of the
    child intervals, each clipped to the span."""
    clipped = sorted((max(s, start), min(e, end)) for s, e in children
                     if min(e, end) > max(s, start))
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (end - start) - covered


def classify(call_site):
    """Layer that ran a Spark job, from its long call site (innermost frame
    first): the first of Tables.scala / Materialize.scala on the stack, else
    plain query execution."""
    for line in call_site.splitlines():
        if "(Tables.scala:" in line:
            return "tables"
        if "(Materialize.scala:" in line:
            return "materialize"
    return "execution"


def job_layers(jobs):
    """classify() for each job. Jobs that Spark starts from its own thread
    pools (broadcasts, for one) carry no engine frames; they take the layer
    of a job of the same SQL execution that does."""
    own = [classify(j["call_site"]) for j in jobs]
    by_exec = {}
    for j, layer in zip(jobs, own):
        if layer != "execution" and j.get("exec_id"):
            by_exec.setdefault(j["exec_id"], layer)
    return [layer if layer != "execution" else by_exec.get(j.get("exec_id"), layer)
            for j, layer in zip(jobs, own)]


def fail_frac(attempted, failed):
    if attempted < 1:
        raise ValueError("no operation attempted")
    return failed / attempted


def _dur_s(x, start="start_ms", end="end_ms"):
    return (x[end] - x[start]) / 1000.0


def timed_reps(result, traced=None):
    """Repetition spans after the untimed warm-up ones, optionally only
    the traced or the untraced ones."""
    return [s for s in result["spans"] if s["kind"] == "rep" and s["rep"] >= result["warm_reps"]
            and (traced is None or s["traced"] == traced)]


def end_to_end(result, setup_s):
    """Set-up time (given); the median over untraced timed repetitions of
    the repetition's wall time; quantiles over the operations of each
    operation's median latency across those repetitions; the median over
    those repetitions of each one's peak resident memory."""
    spans = result["spans"]
    reps = timed_reps(result, traced=False)
    timed = {r["id"] for r in reps}
    per_op = {}
    for o in spans:
        if o["kind"] == "op" and o["parent"] in timed:
            per_op.setdefault(o["name"], []).append(_dur_s(o))
    latency = [statistics.median(v) for v in per_op.values()]
    _, p50, p75 = statistics.quantiles(latency, n=4, method="inclusive")
    return {
        "setup_s": setup_s,
        "wall_s": statistics.median(_dur_s(r) for r in reps),
        "query_p50_s": p50,
        "query_p75_s": p75,
        "peak_rss_mb": statistics.median(r["peak_rss_kb"] for r in reps) * 1024 / MB,
    }, {"repetitions": len(reps), "operations": len(latency),
        "tail_quantile": tail_quantile(len(latency))}


def _rep_layers(rep, spans, jobs, stages, plans, nproc):
    ids = {s["id"]: s for s in spans if s["rep"] == rep["rep"]}
    in_rep = lambda x: x["group"].isdigit() and int(x["group"]) in ids
    kind = lambda x: ids[int(x["group"])]["kind"]
    rj = [dict(j, layer=layer) for j, layer in zip(jobs, job_layers(jobs)) if in_rep(j)]
    rs = [s for s in stages if in_rep(s)]
    rp = [p for p in plans if int(p["span"]) in ids]
    total = lambda xs, k: sum(x[k] for x in xs)
    builds = [s for s in ids.values() if s["kind"] == "build"]
    schema = [j for j in rj if kind(j) == "build" and j["layer"] == "tables"]
    mat = [j for j in rj if j["layer"] == "materialize"]
    build_jobs = [j for j in rj if kind(j) == "build"]
    children = {}
    for j in build_jobs:
        children.setdefault(int(j["group"]), []).append((j["start_ms"], j["end_ms"]))
    mr = [s for s in rs if kind(s) == "mr"]
    mr_map = [s for s in mr if s["input_b"] > 0]
    widest = max(rs, key=lambda s: s["shuffle_read_b"], default=None)
    skew = 0.0
    if widest and widest["shuffle_read_b"] > 0:
        med = statistics.median(widest["task_read_b"])
        skew = max(widest["task_read_b"]) / med if med > 0 else float(len(widest["task_read_b"]))
    wall = _dur_s(rep)
    free = [s for s in spans if s["kind"] == "free" and s["rep"] == rep["rep"]]
    cpu_s = total(rs, "cpu_ns") / 1e9
    return {
        "trace.wall_s": wall,
        "tables.schema_jobs": len(schema),
        "tables.schema_s": sum(_dur_s(j) for j in schema),
        "tables.schema_share": sum(_dur_s(j) for j in schema) / wall,
        "queries.build_s": sum(self_time(b["start_ms"], b["end_ms"], children.get(b["id"], []))
                               for b in builds) / 1000.0,
        "queries.build_jobs": len(build_jobs),
        "materialize.jobs": len(mat),
        "materialize.s": sum(_dur_s(j) for j in mat),
        "materialize.stored_mb": max((s["stored_b"] for s in ids.values()), default=0) / MB,
        "materialize.free_s": sum(_dur_s(s) for s in free),
        "plan.analyze_s": total(rp, "analyze_ms") / 1000.0,
        "plan.optimize_s": total(rp, "optimize_ms") / 1000.0,
        "plan.physical_s": total(rp, "physical_ms") / 1000.0,
        "plan.exchanges": total(rp, "exchanges"),
        "plan.sorts": total(rp, "sorts"),
        "plan.smj": total(rp, "smj"),
        "plan.bhj": total(rp, "bhj"),
        "plan.sort_aggs": total(rp, "sort_aggs"),
        "exec.s": sum(_dur_s(s) for s in ids.values() if s["kind"] in ("exec", "mr")),
        "spark.jobs": len(rj),
        "spark.stages": len(rs),
        "spark.tasks": total(rs, "tasks"),
        "task.run_s": total(rs, "run_ms") / 1000.0,
        "task.cpu_s": cpu_s,
        "task.gc_s": total(rs, "gc_ms") / 1000.0,
        "task.cpu_util": cpu_s / (wall * nproc),
        "sched.wait_s": total(rs, "sched_ms") / 1000.0,
        "task.failed": total(rs, "failed"),
        "shuffle.write_mb": total(rs, "shuffle_write_b") / MB,
        "shuffle.read_mb": total(rs, "shuffle_read_b") / MB,
        "shuffle.records": total(rs, "shuffle_write_rec"),
        "shuffle.fetch_wait_s": total(rs, "fetch_wait_ms") / 1000.0,
        "shuffle.skew": skew,
        "spill.mem_mb": total(rs, "mem_spill_b") / MB,
        "spill.disk_mb": total(rs, "disk_spill_b") / MB,
        "task.peak_exec_mem_mb": max((s["peak_exec_mem_b"] for s in rs), default=0) / MB,
        "heap.live_mb": rep["live_heap_b"] / MB,
        "scan.input_mb": total(rs, "input_b") / MB,
        "scan.records": total(rs, "input_rec"),
        "sink.output_mb": total(rs, "output_b") / MB,
        "sink.records": total(rs, "output_rec"),
        "sink.s": sum(_dur_s(s, "submit_ms", "complete_ms") for s in rs if s["output_rec"] > 0),
        "mr.kv_pairs": total(mr_map, "shuffle_write_rec"),
        "mr.map_s": sum(_dur_s(s, "submit_ms", "complete_ms") for s in mr_map),
        "mr.reduce_s": sum(_dur_s(s, "submit_ms", "complete_ms") for s in mr if s["input_b"] == 0),
    }


def per_layer(result, nproc):
    """Per-layer metrics: the median over traced repetitions of each
    repetition's totals, plus the set-up span and the tracing overhead
    (median traced wall minus median untraced wall)."""
    spans = result["spans"]
    traced = timed_reps(result, traced=True)
    rows = [_rep_layers(r, spans, result["jobs"], result["stages"], result["plans"], nproc)
            for r in traced]
    out = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
    session = [s for s in spans if s["kind"] == "session"]
    out["session.build_s"] = _dur_s(session[0])
    out["trace.overhead_s"] = trace_overhead(timed_reps(result))
    return out


def trace_overhead(reps):
    """Median over traced repetitions of its wall time minus the mean of its
    untraced neighbours', which cancels a steady drift (the JIT still
    warming up) between consecutive repetitions."""
    walls = {r["rep"]: (_dur_s(r), r["traced"]) for r in reps}
    diffs = [w - (walls[k - 1][0] + walls[k + 1][0]) / 2
             for k, (w, traced) in walls.items()
             if traced and not walls.get(k - 1, (0, True))[1]
             and not walls.get(k + 1, (0, True))[1]]
    if not diffs:
        raise ValueError("no traced repetition between two untraced ones")
    return statistics.median(diffs)
