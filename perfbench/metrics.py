"""Turns the harness's raw observations into the benchmark's metrics.

End-to-end metrics come from untraced operations only. Per-layer metrics
come from the traced passes of a traced run (spans around the benchmark's
calls, plus Spark listener events attributed to the operation that was
running). Unless a name says otherwise, a per-layer metric is a mean per
traced operation; an operation is one query (its query function + consume) or one
`Pipeline.run`.
"""
import re
import statistics

MB = 1e6

# Pipeline stages, in flow order, by the engine method on a job's call site.
ETL_STAGES = ["ingest", "dq_pre", "clean", "dq_post", "publish"]
_STAGE_FRAME = re.compile(r"^graft\.core\.(Pipeline|Quality|Timestamps)\$\.(\w+)\(")
_STAGE_OF = {("Pipeline", "ingestCsv"): "ingest", ("Pipeline", "clean"): "clean",
             ("Pipeline", "publish"): "publish", ("Quality", "profile"): "dq",
             ("Timestamps", None): "clean"}


def union_ms(intervals):
    """Length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def self_ms(span, children):
    """A span's duration minus the part its children cover."""
    lo, hi = span
    return (hi - lo) - union_ms(clip(children, lo, hi))


def stage_of_callsite(callsite):
    """The Pipeline stage a job belongs to, from its long call site (frames
    innermost first), or None when no stage method is on the stack. DQ
    jobs come back as 'dq'; `etl_stages` splits them into pre and post."""
    inner = None
    for line in callsite.splitlines():
        m = _STAGE_FRAME.match(line.strip())
        if not m:
            continue
        obj, method = m.groups()
        stage = _STAGE_OF.get((obj, method)) or _STAGE_OF.get((obj, None))
        if obj == "Pipeline" and method == "run":
            return inner
        if stage and obj == "Pipeline":
            return stage
        inner = inner or stage
    return inner


def _job_order(j):
    return j["start_ms"], j["id"]


def etl_stages(jobs):
    """Stage name per job of one Pipeline.run, in job order. A job with no
    stage frame inherits the previous job's stage; a DQ job is the pre-gate
    until a clean or publish job has run, the post-gate after."""
    out, prev, seen_clean = [], None, False
    for j in sorted(jobs, key=_job_order):
        s = stage_of_callsite(j.get("callsite", "")) or prev
        if s == "dq":
            s = "dq_post" if seen_clean else "dq_pre"
        seen_clean = seen_clean or s in ("clean", "publish")
        out.append(s)
        prev = s
    return out


def _dur_s(op):
    return (op["t1_ms"] - op["t0_ms"]) / 1e3


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def end_to_end(raw):
    """The untraced metrics of one run."""
    setups = [s["session_s"] + s["warm_s"] for s in raw["setup"]]
    window = [o for o in raw["window"]["ops"] if not o["traced"]]
    ok = [_dur_s(o) for o in window if not o["error"]]
    return {
        "setup_s": statistics.median(setups),
        "cold_s": statistics.median(_dur_s(o) for o in raw["cold"]),
        "op_s_p50": statistics.median(ok) if ok else 0.0,
        # a run times 3-15 operations, too few for any percentile above the
        # median to have ten samples beyond it; the slowest one is the tail
        "op_s_tail": max(ok, default=0.0),
        "ops_per_s": len(ok) / raw["window"]["wall_s"],
    }


def per_layer(raw, memo_readers, csv_bytes=None):
    """The traced metrics of one run. `memo_readers` maps a query to the
    memo names it reads; `csv_bytes` is the etl input size."""
    ops = [o for o in raw["window"]["ops"] if o["traced"]]
    trace = raw["window"]["trace"]
    n = max(len(ops), 1)
    by_op = {o["id"]: [] for o in ops}
    for j in trace["jobs"]:
        if j["op"] in by_op and "end_ms" in j:
            by_op[j["op"]].append(j)

    def jobsum(k):
        return sum(j[k] for js in by_op.values() for j in js)

    def spans(o, name):
        return [(s["t0_ms"], s["t1_ms"]) for s in o["spans"] if s["name"] == name]

    m = {}
    builds = [spans(o, "build") for o in ops]
    m["io.build_s"] = sum(e - s for b in builds for s, e in b) / 1e3 / n
    m["io.build_jobs"] = sum(1 for o, b in zip(ops, builds) for j in by_op[o["id"]]
                             if any(s <= j["start_ms"] <= e for s, e in b)) / n
    qes = [q for q in trace["qes"] if q["op"] in by_op]
    for p in ("analysis", "optimization", "planning"):
        m[f"plan.{p}_ms"] = sum(q[f"{p}_ms"] for q in qes) / n
    m["plan.qe_count"] = len(qes) / n
    m["codegen.compiles"] = _mean([o["codegen_compiles"] for o in ops])
    m["codegen.compile_ms"] = _mean([o["codegen_ms"] for o in ops])
    m["sched.jobs"] = sum(len(js) for js in by_op.values()) / n
    m["sched.stages"] = jobsum("stages") / n
    m["sched.tasks"] = jobsum("tasks") / n
    m["sched.driver_s"] = _mean([
        self_ms((o["t0_ms"], o["t1_ms"]), [(j["start_ms"], j["end_ms"]) for j in by_op[o["id"]]])
        for o in ops]) / 1e3
    m["exec.task_run_s"] = jobsum("run_ms") / 1e3 / n
    m["exec.task_cpu_s"] = jobsum("cpu_ns") / 1e9 / n
    m["exec.gc_s"] = jobsum("gc_ms") / 1e3 / n
    m["exec.shuffle_read_mb"] = jobsum("shuffle_read_bytes") / MB / n
    m["exec.shuffle_write_mb"] = jobsum("shuffle_write_bytes") / MB / n
    m["exec.spill_mb"] = jobsum("spill_bytes") / MB / n

    readers = [o for o in ops if o["name"] in memo_readers]
    hits = sum(1 for o in readers
               if not set(o["memo_build_s"]) & set(memo_readers[o["name"]]))
    m["memo.build_s"] = sum(sum(o["memo_build_s"].values()) for o in ops) / n
    m["memo.hits"] = hits / n
    m["memo.hit_ratio"] = hits / len(readers) if readers else 0.0
    m["cache.persisted_rdds"] = max((o["cache_rdds"] for o in ops), default=0)
    m["cache.mem_mb"] = max((o["cache_mem_bytes"] for o in ops), default=0) / MB
    streams = [s for s in trace["streams"] if s["op"] in by_op]
    m["stream.batches"] = len(streams) / n
    m["stream.state_commit_ms"] = sum(s["commit_ms"] for s in streams) / n

    stage_s = {s: 0.0 for s in ETL_STAGES}
    if csv_bytes:
        for js in by_op.values():
            js = sorted(js, key=_job_order)
            names = etl_stages(js)
            for stage in ETL_STAGES:
                stage_s[stage] += union_ms([(j["start_ms"], j["end_ms"])
                                            for j, s in zip(js, names) if s == stage]) / 1e3 / n
    for s in ETL_STAGES:
        m[f"etl.{s}_s"] = stage_s[s]
    m["etl.csv_scans"] = jobsum("input_bytes") / csv_bytes / n if csv_bytes else 0.0
    m["etl.bytes_written_mb"] = jobsum("output_bytes") / MB / n if csv_bytes else 0.0

    all_window = raw["window"]["ops"]
    m["jvm.gc_s"] = raw["window"]["jvm_gc_s"] / max(len(all_window), 1)
    m["jvm.heap_peak_mb"] = raw["window"]["jvm_heap_peak_mb"]
    m["setup.session_s"] = statistics.median(s["session_s"] for s in raw["setup"])
    m["setup.warm_s"] = statistics.median(s["warm_s"] for s in raw["setup"])
    m["trace.overhead_frac"] = overhead(all_window)
    return m


def overhead(window_ops):
    """Median over operations of (traced time / untraced time) - 1, pairing
    each query with itself so the mix cannot bias the ratio. The first timed
    pass (untraced, still warming up) is left out."""
    window_ops = [o for o in window_ops if o["pass"] > 1]
    ratios = []
    for name in {o["name"] for o in window_ops}:
        t = [_dur_s(o) for o in window_ops if o["name"] == name and o["traced"] and not o["error"]]
        u = [_dur_s(o) for o in window_ops if o["name"] == name and not o["traced"] and not o["error"]]
        if t and u:
            ratios.append(statistics.median(t) / statistics.median(u))
    return statistics.median(ratios) - 1 if ratios else 0.0
