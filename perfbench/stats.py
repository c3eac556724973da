"""Metrics of one run, computed from the client's operation records.

Latency of an operation is the sum of its construct, plan and execute
times (reads) or its commit time (writes); the client's own bookkeeping
around them is not counted. The gated latency is the geometric mean, over
the kinds of read, of each kind's median latency: a fixed mix of a few
kinds has a gap between kinds at its median, so the median of all reads
jumps between kinds from run to run, while per-kind medians do not. A kind
is a query key and the kind of write before it, since a read after a
compaction scans a different table than one after a delete.

A failed operation, one that threw or whose result was wrong, counts as
missing every latency limit: it enters the percentiles and its kind's
median at the whole measured wall. Failures never shorten a total:
throughput divides correct completions by the whole measured wall.
"""
import numpy as np

LADDER = [50, 75, 90, 95, 99, 99.9]
FAMILIES = ["tpch", "tpcds", "operators", "llm"]


def tail_percentile(n):
    """The highest ladder percentile with at least ten samples beyond it, or
    None when even the median has fewer (n < 20): then there is no tail."""
    best = None
    for p in LADDER:
        if n * (100 - p) / 100.0 >= 10 - 1e-9:
            best = p
    return best


def percentile(values, p):
    return float(np.percentile(np.asarray(values, dtype=float), p)) if values else 0.0


def latency_s(op):
    if op["kind"] in ("write", "compact"):
        return op.get("commit_ms", 0.0) / 1000.0
    return sum(op.get(k, 0.0) for k in ("construct_ms", "plan_ms", "exec_ms")) / 1000.0


def _lat(ops, wall):
    return [latency_s(o) if o["correct"] else wall for o in ops]


def _mean(ops, field):
    vals = [o[field] for o in ops if field in o]
    return float(np.mean(vals)) if vals else 0.0


def read_kinds(ops, wall):
    """Measured read latencies by kind: the read's key and the key of the
    last write before it (None where the workload has no writes)."""
    last, kinds = None, {}
    for o in ops:
        if o["kind"] != "read":
            last = o["key"]
        elif o["phase"] == "measure":
            kinds.setdefault((o["key"], last), []).append(latency_s(o) if o["correct"] else wall)
    return kinds


def end_to_end(run):
    """The end-to-end metrics and a few facts printed beside them."""
    wall = run["measure_s"]
    measured = [o for o in run["ops"] if o["phase"] == "measure"]
    reads = [o for o in measured if o["kind"] == "read"]
    writes = [o for o in measured if o["kind"] != "read"]
    rl = _lat(reads, wall)
    p = tail_percentile(len(rl))
    setup = run["session_s"] + run.get("build_s", 0.0) + run["warmup_s"]
    by_kind = read_kinds(run["ops"], wall)
    metrics = {
        "setup_s": (setup, "s"),
        "query_gmean_s": (float(np.exp(np.mean([np.log(np.median(v))
                                                for v in by_kind.values()]))), "s"),
        "queries_per_min": (60.0 * sum(o["correct"] for o in reads) / wall, "1/min"),
        "heap_live_mb": (run["heap_live_mb"], "MB"),
    }
    facts = {
        "query_p50_s": percentile(rl, 50), "query_tail_s": _tail(rl, p),
        "query_tail_percentile": p, "query_samples": len(rl), "query_kinds": len(by_kind),
        "warmup_passes": len(run["warmup_pass_s"]),
        "warmup_pass_s": [round(x, 3) for x in run["warmup_pass_s"]],
        "measure_wall_s": round(wall, 3),
    }
    if writes:
        wl = _lat(writes, wall)
        wp = tail_percentile(len(wl))
        facts.update(write_p50_s=percentile(wl, 50), write_tail_s=_tail(wl, wp),
                     write_tail_percentile=wp, write_samples=len(wl),
                     space_amp=run["table_bytes"] / run["fresh_bytes"])
    return metrics, facts


def _tail(values, p):
    return percentile(values, p) if p is not None else None


def overhead_ratio(ops):
    """Traced over untraced op wall, per key, geometric mean over keys."""
    by = {}
    for o in ops:
        by.setdefault(o["key"], ([], []))[0 if o["traced"] else 1].append(o["lat_s"])
    r = [np.mean(t) / np.mean(u) for t, u in by.values() if t and u]
    return float(np.exp(np.mean(np.log(r)))) if r else 0.0


def per_layer(run):
    """Per-layer metrics of the measured phase. Job, stage, task and plan
    counters exist for traced passes only; commit times for every pass."""
    measured = [o for o in run["ops"] if o["phase"] == "measure" and o["ok"]]
    reads = [o for o in measured if o["kind"] == "read" and o["traced"]]
    writes = [o for o in measured if o["kind"] == "write"]
    compacts = [o for o in measured if o["kind"] == "compact"]
    cores = run["cores"]
    run_ms = sum(o.get("task_run_ms", 0) for o in reads)
    exec_ms = sum(o.get("exec_ms", 0) for o in reads)
    m = {
        "queries.construct_ms": (_mean(reads, "construct_ms"), "ms"),
        "queries.construct_jobs": (_mean(reads, "construct_jobs"), "count"),
        "catalyst.plan_ms": (_mean(reads, "plan_ms"), "ms"),
        "catalyst.spark_phases_ms": (_mean(reads, "spark_phases_ms"), "ms"),
        "exec.wall_ms": (_mean(reads, "exec_ms"), "ms"),
        "exec.jobs": (_mean(reads, "exec_jobs"), "count"),
        "exec.stages": (_mean(reads, "exec_stages"), "count"),
        "exec.tasks": (_mean(reads, "exec_tasks"), "count"),
        "exec.task_run_ms": (_mean(reads, "task_run_ms"), "ms"),
        "exec.task_cpu_ms": (_mean(reads, "task_cpu_ms"), "ms"),
        "exec.gc_ms": (_mean(reads, "gc_ms"), "ms"),
        "exec.core_idle_ratio": (1 - run_ms / (exec_ms * cores) if exec_ms else 0.0, "ratio"),
        "exec.input_bytes": (_mean(reads, "input_bytes"), "B"),
        "exec.shuffle_write_bytes": (_mean(reads, "shuffle_write_bytes"), "B"),
        "exec.broadcast_bytes": (_mean(reads, "broadcast_bytes"), "B"),
        "exec.spill_bytes": (_mean(reads, "spill_bytes"), "B"),
        "exec.peak_exec_mem_mb": (max([o.get("peak_exec_mem", 0) for o in reads] or [0]) / 2**20, "MB"),
    }
    for fam in FAMILIES:
        fo = [o for o in reads if o.get("family") == fam]
        m[f"{fam}.construct_ms"] = (_mean(fo, "construct_ms"), "ms")
        m[f"{fam}.plan_ms"] = (_mean(fo, "plan_ms"), "ms")
        m[f"{fam}.exec_ms"] = (_mean(fo, "exec_ms"), "ms")
        jobs = [o.get("construct_jobs", 0) + o.get("plan_jobs", 0) + o.get("exec_jobs", 0) for o in fo]
        m[f"{fam}.jobs"] = (float(np.mean(jobs)) if jobs else 0.0, "count")
    mor_reads = [o for o in reads if o["key"] in ("resolved", "band", "changes", "snapshot")]
    full = _mean([o for o in mor_reads if o["key"] == "resolved"], "data_files")
    band = _mean([o for o in mor_reads if o["key"] == "band"], "data_files")
    user = sum(o.get("user_bytes", 0) for o in writes)
    wl = [latency_s(o) * 1000 for o in writes + compacts]
    m.update({
        "sources.read_construct_ms": (_mean(mor_reads, "construct_ms"), "ms"),
        "sources.files_scanned": (_mean(mor_reads, "data_files"), "count"),
        "sources.prune_ratio": (1 - band / full if full else 0.0, "ratio"),
        "sources.tombstone_batches": (_mean(mor_reads, "tomb_files"), "count"),
        "sources.tombstone_rows": (_mean(mor_reads, "tomb_rows"), "count"),
        "sources.commit_ms": (_mean(writes, "commit_ms"), "ms"),
        "sources.commit_jobs": (_mean([o for o in writes if o["traced"]], "commit_jobs"), "count"),
        "sources.bytes_written_per_user_byte": (
            sum(o.get("bytes_added", 0) for o in writes) / user if user else 0.0, "ratio"),
        "sources.compact_ms": (_mean(compacts, "commit_ms"), "ms"),
        "sources.write_p50_ms": (percentile(wl, 50), "ms"),
        "sources.space_amp": (run["table_bytes"] / run["fresh_bytes"]
                              if run.get("fresh_bytes") else 0.0, "ratio"),
    })
    m["trace.overhead_ratio"] = (overhead_ratio(measured), "ratio")
    return m


def self_times(spans):
    """Per layer: span count, total ms and self ms (duration minus the part
    of it that child spans cover)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    table = {}
    for s in spans:
        lo, hi = s["start_ms"], s["end_ms"]
        iv = sorted((max(lo, c["start_ms"]), min(hi, c["end_ms"])) for c in kids.get(s["id"], []))
        covered, cur_lo, cur_hi = 0.0, None, None
        for a, b in iv:
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        row = table.setdefault(s["layer"], [0, 0.0, 0.0])
        row[0] += 1
        row[1] += hi - lo
        row[2] += hi - lo - covered
    return table
