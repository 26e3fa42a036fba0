"""Pure arithmetic over a run record: percentiles, interval unions, span
self time, and the end-to-end and per-layer metrics the benchmark
prints. No I/O; the tests in `perfbench/tests` pin these helpers.
"""

MB = 1024.0 * 1024.0


def percentile(values, q):
    """Linear interpolation between closest ranks (numpy's default):
    q in [0, 1]; percentile([x], q) == x."""
    if not values:
        raise ValueError("percentile of no values")
    if not 0.0 <= q <= 1.0:
        raise ValueError(f"q must be in [0, 1], got {q}")
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return percentile(values, 0.5)


def union_length(intervals, lo=None, hi=None):
    """Total length covered by (start, end) intervals, each clipped to
    [lo, hi] when given; overlaps count once."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total = 0.0
    cur_s = cur_e = None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def nest(spans, leaves):
    """Give each leaf (a Spark job: op, start_ms, end_ms) the innermost
    span of its operation that contains its start as parent; spans must
    carry `id`, `op`, `parent`, `start_ms`, `end_ms`. Returns new leaf
    dicts with `parent` set (None when no span of the op contains it)."""
    by_op = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    out = []
    for leaf in leaves:
        best = None
        for s in by_op.get(leaf["op"], ()):
            if s["start_ms"] <= leaf["start_ms"] <= s["end_ms"]:
                # innermost = latest start among the containing spans
                if best is None or s["start_ms"] >= best["start_ms"]:
                    best = s
        out.append(dict(leaf, parent=best["id"] if best else None))
    return out


def self_times(spans):
    """span id -> its duration minus the time its children cover (each
    child clipped to the parent; overlapping children count once)."""
    children = {}
    for s in spans:
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = [(c["start_ms"], c["end_ms"]) for c in children.get(s["id"], ())]
        covered = union_length(kids, s["start_ms"], s["end_ms"])
        out[s["id"]] = (s["end_ms"] - s["start_ms"] - covered) / 1e3
    return out


def setup_s(setup):
    """JVM start to session ready, plus the median input preparation,
    plus the warm-up passes."""
    return ((setup["session_ready_ms"] - setup["jvm_start_ms"]) / 1e3
            + median(setup["prepare_s"]) + setup["warmup_s"])


def end_to_end(record):
    """Metrics a user sees, from the untraced passes only."""
    untraced = {p["index"] for p in record["passes"] if not p["traced"]}
    walls = [p["wall_s"] for p in record["passes"] if p["index"] in untraced]
    lat = [(o["end_ms"] - o["start_ms"]) / 1e3 for o in record["ops"]
           if o["pass"] in untraced]
    return {
        "setup_s": setup_s(record["setup"]),
        "wall_s": median(walls),
        "op_p50_s": percentile(lat, 0.50),
        "op_p75_s": percentile(lat, 0.75),
        "peak_rss_mb": record["peak_rss_kb"] / 1024.0,
    }


LAYERS = ("client", "ingest", "model", "sync", "spark")


def pass_layers(record, index, cores):
    """Per-layer figures of one traced pass."""
    ops = [o for o in record["ops"] if o["pass"] == index]
    ids = {o["id"] for o in ops}
    tr = record["trace_record"]
    spans = [s for s in tr["spans"] if s["op"] in ids]
    jobs = [j for j in tr["jobs"] if j["op"] in ids]
    stages = [s for s in tr["stages"] if s["op"] in ids]
    execs = [e for e in tr["executions"] if e["op"] in ids]
    wall = next(p["wall_s"] for p in record["passes"] if p["index"] == index)

    # one tree per op: the op itself (layer "client": the benchmark loop,
    # including the cache release after the upload), the layer-call
    # spans under it, and Spark jobs as leaves
    next_id = max([s["id"] for s in tr["spans"]] + [-1]) + 1
    roots = {}
    for o in ops:
        roots[o["id"]] = next_id
        next_id += 1
    tree = [dict(id=roots[o["id"]], op=o["id"], layer="client", name="op",
                 parent=None, start_ms=o["start_ms"], end_ms=o["end_ms"])
            for o in ops]
    tree += [dict(s, parent=s["parent"] if s["parent"] is not None
                  else roots[s["op"]]) for s in spans]
    leaves = nest(tree, [dict(j, layer="spark", name="spark.job") for j in jobs])
    for i, leaf in enumerate(leaves):
        leaf["id"] = next_id + i
    tree += leaves
    own = self_times(tree)

    def call_s(name):
        return sum((s["end_ms"] - s["start_ms"]) / 1e3 for s in spans
                   if s["name"] == name)

    m = {}
    for layer in LAYERS:
        m[f"{layer}.self_s"] = sum(own[s["id"]] for s in tree
                                   if s["layer"] == layer)

    uploads = [o for o in ops if "rows" in o]
    xlsx_ops = {o["id"] for o in uploads if not o["csv"]}
    parse_xlsx = sum((s["end_ms"] - s["start_ms"]) / 1e3 for s in spans
                     if s["name"] == "ingest.parse" and s["op"] in xlsx_ops)
    cells = sum(o["cells"] for o in uploads if o["id"] in xlsx_ops)
    in_bytes = sum(o["input_bytes"] for o in uploads)
    upload_ids = {o["id"] for o in uploads}
    m["ingest.parse_s"] = call_s("ingest.parse")
    m["ingest.cells_per_s"] = cells / parse_xlsx if parse_xlsx > 0 else 0.0
    m["model.to_df_s"] = call_s("model.to_df")
    m["sync.plan_s"] = call_s("sync.plan")
    m["sync.local_write_s"] = call_s("sync.local_write")
    m["sync.stage_s"] = call_s("sync.stage")
    m["sync.jobs_per_upload"] = (
        sum(1 for j in jobs if j["op"] in upload_ids) / len(uploads)
        if uploads else 0.0)
    m["sync.stage_bytes_per_input_byte"] = (
        sum(o["stage_bytes"] for o in uploads) / in_bytes if in_bytes else 0.0)

    m["spark.jobs"] = len(jobs)
    m["spark.stages"] = len(stages)
    m["spark.tasks"] = sum(s["tasks"] for s in stages)
    m["spark.driver_gap_s"] = sum(
        (o["end_ms"] - o["start_ms"] - union_length(
            [(s["start_ms"], s["end_ms"]) for s in stages if s["op"] == o["id"]],
            o["start_ms"], o["end_ms"])) / 1e3
        for o in ops)
    m["spark.plan_s"] = sum(e["analysis_s"] + e["optimization_s"] + e["planning_s"]
                            for e in execs)
    m["spark.plan_bytes"] = sum(e["plan_bytes"] for e in execs)
    m["spark.task_cpu_s"] = sum(s["cpu_s"] for s in stages)
    m["spark.busy_ratio"] = (sum(s["run_s"] for s in stages) / (wall * cores)
                             if wall > 0 else 0.0)
    m["spark.gc_s"] = sum(s["gc_s"] for s in stages)
    m["spark.shuffle_write_mb"] = sum(s["shuffle_write_b"] for s in stages) / MB
    m["spark.input_mb"] = sum(s["input_b"] for s in stages) / MB
    return m


def per_layer(record):
    """Median over the traced passes of each per-pass figure, plus the
    trace overhead: the median, over traced passes, of a traced pass's
    wall minus that of the untraced pass right after it."""
    cores = record["cores"]
    passes = {p["index"]: p for p in record["passes"]}
    traced = [p for p in record["passes"] if p["traced"]]
    if not traced:
        raise ValueError("a traced run needs a traced pass")
    pairs = []
    for p in traced:
        after = passes.get(p["index"] + 1)
        if after is None or after["traced"]:
            raise ValueError(f"traced pass {p['index']} has no untraced pass after it")
        pairs.append(p["wall_s"] - after["wall_s"])
    per_pass = [pass_layers(record, p["index"], cores) for p in traced]
    out = {k: median([pp[k] for pp in per_pass]) for k in per_pass[0]}
    out["trace.overhead_s"] = median(pairs)
    return out
