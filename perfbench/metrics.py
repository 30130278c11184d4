"""Pure metric computations over what the harness recorded (raw.json).

Times in raw.json are epoch nanoseconds (operations, spans) or epoch
milliseconds (Spark jobs and stages).
"""
import statistics

TAIL_MIN_BEYOND = 10


def tail(values, min_beyond=TAIL_MIN_BEYOND):
    """The highest percentile with at least `min_beyond` samples above it:
    the sample with exactly `min_beyond` larger ranks. Returns (value,
    percentile, samples beyond). With `min_beyond` samples or fewer no
    percentile qualifies, and the maximum is returned as percentile 100
    with 0 samples beyond."""
    s = sorted(values)
    k = len(s) - 1 - min_beyond
    if k < 0:
        return s[-1], 100.0, 0
    return s[k], 100.0 * (k + 1) / len(s), min_beyond


def union_length(intervals, lo=None, hi=None):
    """Total length covered by the union of [start, end) intervals,
    optionally clipped to [lo, hi)."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    clipped.sort()
    total, cur_a, cur_b = 0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans):
    """Span id -> self time: its duration minus the part of its interval
    covered by its children."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = [(c["start"], c["end"]) for c in children.get(s["id"], [])]
        out[s["id"]] = (s["end"] - s["start"]) - union_length(
            kids, s["start"], s["end"])
    return out


def cold_warm(ops):
    """Split operations into each distinct name's first run (cold) and
    the rest (warm)."""
    seen, cold, warm = set(), [], []
    for o in sorted(ops, key=lambda o: o["start"]):
        (warm if o["name"] in seen else cold).append(o)
        seen.add(o["name"])
    return cold, warm


def count_failures(ops, wrong_names=(), wrong_extra=0):
    """Failed operations: those that raised or failed their own checks,
    plus every successful attempt of an operation whose output was found
    wrong, plus `wrong_extra` individually wrong results (lookups, table
    calls) of otherwise successful operations."""
    wrong = set(wrong_names)
    failed = sum(1 for o in ops if not o["ok"] or o["name"] in wrong)
    return min(len(ops), failed + wrong_extra)


def latency_ms(o):
    return (o["end"] - o["start"]) / 1e6


def end_to_end(raw, failed):
    ops = raw["ops"]
    cold, warm = cold_warm(ops)
    warm_lat = [latency_ms(o) for o in warm]
    tail_v, tail_pct, beyond = tail(warm_lat)
    later = [o for o in ops if o["round"] >= 1]
    span_s = (max(o["end"] for o in later) - min(o["start"] for o in later)) / 1e9
    return {
        "setup_s": statistics.median(raw["setup_s"]),
        "cold_op_ms": statistics.median(latency_ms(o) for o in cold),
        "op_p50_ms": statistics.median(warm_lat),
        "op_tail_ms": tail_v,
        "ops_per_s": len(later) / span_s,
        "op_fail_ratio": failed / len(ops),
        "peak_rss_mb": raw["jvm"]["vm_hwm_mb"],
    }, {"tail_percentile": tail_pct, "tail_samples_beyond": beyond,
        "warm_samples": len(warm), "cold_samples": len(cold),
        "rounds": raw["loop"]["rounds"], "attempted": len(ops)}


# Span name -> the per-layer time metric its self time counts towards.
SPAN_METRIC = {
    "dialect.rewrite": "dialect.rewrite_ms",
    "dialect.sql": "dialect.sql_ms",
    "catalyst.analyze": "catalyst.analyze_ms",
    "catalyst.optimize": "catalyst.optimize_ms",
    "catalyst.plan": "catalyst.plan_ms",
    "deltalog.is_delta": "deltalog.snapshot_ms",
    "deltalog.read": "deltalog.snapshot_ms",
    "deltalog.snapshot": "deltalog.snapshot_ms",
    "deltalog.latest_version": "deltalog.latest_version_ms",
    "skipping.readwhere": "skipping.readwhere_ms",
    "deltawrite.commit": "deltawrite.commit_ms",
    "deltadml.merge": "deltadml.merge_ms",
    "scd.sync": "scd.sync_ms",
    "jdbc.upsert": "jdbc.upsert_ms",
    "exec.collect": "exec.wall_ms",
    "exec.count": "exec.wall_ms",
}
# Span name -> the per-layer job counter its jobs count towards.
SPAN_JOBS = {
    "dialect.sql": "dialect.build_jobs",
    "deltalog.is_delta": "deltalog.snapshot_jobs",
    "deltalog.read": "deltalog.snapshot_jobs",
    "deltalog.snapshot": "deltalog.snapshot_jobs",
    "deltalog.latest_version": "deltalog.snapshot_jobs",
    "skipping.readwhere": "skipping.jobs",
    "deltawrite.commit": "deltawrite.commit_jobs",
    "scd.sync": "scd.sync_jobs",
}
# Counters the harness records under their metric's name.
COUNTER_METRICS = {
    "deltalog.log_entries_listed", "deltalog.commits_replayed",
    "deltawrite.files_written", "deltawrite.bytes_written",
    "deltawrite.checkpoints", "scd.rows_changed", "jdbc.rows_acked",
    "jdbc.connections",
}


def per_layer(raw, untraced_p50_ms, failed, rows_changed, bytes_added):
    """Per-layer metrics, as means per traced warm operation unless named
    a ratio. Traced and untraced rounds alternate in a traced run; the
    untraced ones give the tracing overhead."""
    _, warm = cold_warm(raw["ops"])
    traced_ids = {s["op"] for s in raw["spans"]}
    ops = [o for o in warm if o["id"] in traced_ids]
    ids = {o["id"] for o in ops}
    n = max(1, len(ops))
    m = {k: 0.0 for k in set(SPAN_METRIC.values()) | set(SPAN_JOBS.values())
         | COUNTER_METRICS}

    spans = [s for s in raw["spans"] if s["op"] in ids]
    selfs = self_times(spans)
    span_name = {s["id"]: s["name"] for s in spans}
    client_ns = 0
    for s in spans:
        metric = SPAN_METRIC.get(s["name"])
        if metric:
            m[metric] += selfs[s["id"]] / 1e6
        elif s["parent"] == -1 or s["name"] == "resolver.resolve":
            client_ns += selfs[s["id"]]
    m["client.self_ms"] = client_ns / 1e6

    jobs = [j for j in raw["jobs"] if j["op"] in ids]
    for j in jobs:
        metric = SPAN_JOBS.get(span_name.get(j["span"]))
        if metric:
            m[metric] += 1
    for c in raw["counters"]:
        if c["op"] in ids and c["name"] in COUNTER_METRICS:
            m[c["name"]] += c["value"]
    for k in list(m):
        m[k] /= n

    counters = {}
    for c in raw["counters"]:
        if c["op"] in ids:
            counters[c["name"]] = counters.get(c["name"], 0.0) + c["value"]

    def ratio(a, b):
        return counters.get(a, 0.0) / counters[b] if counters.get(b) else 0.0

    m["dialect.rewritten_ratio"] = ratio("dialect.rewritten", "dialect.statements")
    m["skipping.files_kept_ratio"] = ratio("skipping.files_kept", "skipping.files_total")
    m["jdbc.ack_ratio"] = ratio("jdbc.rows_acked", "jdbc.rows_sent")

    # execution, from the benchmark's own SparkListener
    stage_op = {}
    for j in jobs:
        for st in j["stages"]:
            stage_op[st] = j["op"]
    stages = [s for s in raw["stages"] if s["stage"] in stage_op]
    op_wall_ms = sum(latency_ms(o) for o in ops)
    tot = lambda k: sum(s[k] for s in stages)  # noqa: E731
    m["exec.executor_ms"] = tot("run_ms") / n
    m["exec.executor_cpu_ms"] = tot("cpu_ns") / 1e6 / n
    m["exec.shuffle_read_bytes"] = tot("shuffle_read_bytes") / n
    m["exec.shuffle_write_bytes"] = tot("shuffle_write_bytes") / n
    m["exec.spill_bytes"] = tot("spill_bytes") / n
    m["exec.gc_ms"] = tot("gc_ms") / n
    m["exec.tasks"] = tot("tasks") / n
    m["exec.stages"] = len(stages) / n
    m["exec.jobs"] = len(jobs) / n
    m["exec.slot_util"] = (tot("run_ms") / (op_wall_ms * raw["cpus"])
                           if op_wall_ms else 0.0)
    dead = 0.0
    for o in ops:
        ivs = [(s["submit_ms"] * 1e6, s["complete_ms"] * 1e6) for s in stages
               if stage_op[s["stage"]] == o["id"] and s["submit_ms"] > 0]
        dead += (o["end"] - o["start"]) - union_length(ivs, o["start"], o["end"])
    m["exec.dead_ms"] = dead / 1e6 / n

    delta_ms = m["deltalog.snapshot_ms"] + m["deltalog.latest_version_ms"]
    m["deltalog.self_share"] = delta_ms * n / op_wall_ms if op_wall_ms else 0.0
    m["jvm.gc_ms"] = raw["jvm"]["gc_ms"]
    m["jvm.heap_peak_mb"] = raw["jvm"]["heap_peak_mb"]
    cal = raw["calibration"]
    m["host.calib_1t_ms"] = (cal["pre"]["calib_1t_ms"] + cal["post"]["calib_1t_ms"]) / 2
    m["host.calib_nt_ms"] = (cal["pre"]["calib_nt_ms"] + cal["post"]["calib_nt_ms"]) / 2
    traced_p50 = statistics.median(latency_ms(o) for o in ops) if ops else 0.0
    m["trace.overhead_ratio"] = (traced_p50 / untraced_p50_ms
                                 if untraced_p50_ms else 0.0)
    m["op_fail_ratio"] = failed / len(raw["ops"])
    m["write_bytes_per_row"] = bytes_added / rows_changed if rows_changed else 0.0
    return m


def untraced_warm_p50(raw):
    """Median warm latency of the operations no span was recorded for."""
    _, warm = cold_warm(raw["ops"])
    traced_ids = {s["op"] for s in raw["spans"]}
    lat = [latency_ms(o) for o in warm if o["id"] not in traced_ids]
    return statistics.median(lat) if lat else 0.0
