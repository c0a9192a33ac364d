"""Statistics over the harness's raw measurements: percentiles with
their sample counts, and per-layer metrics and self time from spans."""
import math

# Percentiles a timing may be reported at, highest first.
TAIL_CANDIDATES = (99, 95, 90, 75, 50)


def percentile(values, p):
    """The p-th percentile, interpolated between closest ranks."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def beyond(n, p):
    """How many of n samples lie above the p-th percentile."""
    return n - math.ceil(n * p / 100.0)


def tail_percentile(n, candidates=TAIL_CANDIDATES):
    """The highest candidate percentile with at least ten samples
    beyond it, or None when even the lowest has fewer."""
    for p in candidates:
        if beyond(n, p) >= 10:
            return p
    return None


def layer(name):
    return name.split(".", 1)[0].split("/", 1)[0]


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of the intervals."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans):
    """Per layer: span time minus the part of it that child spans cover.

    `spans` are (id, parent, name, t0, t1) tuples; a child interval is
    clipped to its parent.
    """
    kids = {}
    for sid, parent, name, t0, t1 in spans:
        kids.setdefault(parent, []).append((t0, t1))
    out = {}
    for sid, parent, name, t0, t1 in spans:
        own = (t1 - t0) - covered(kids.get(sid, []), t0, t1)
        out[layer(name)] = out.get(layer(name), 0.0) + own
    return out


ACTION_SPANS = {"queries.exec", "catalog.read", "catalog.publish",
                "catalog.vacuum"}
SUMMED_SPANS = {"queries.build": "queries.build_s",
                "queries.exec": "queries.exec_s",
                "ingest.read": "ingest.read_s",
                "catalog.publish": "catalog.publish_s",
                "catalog.read": "catalog.read_s",
                "catalog.vacuum": "catalog.vacuum_s",
                "functions.register": "functions.register_s"}
LAYERS = ("runner", "ingest", "catalog", "state", "queries", "functions",
          "spark")


def pass_layer_metrics(spans, counts, wall_s, cores, datasets):
    """Per-layer metrics of one traced pass. Span times are in ns."""
    ns = 1e-9
    m = {v: 0.0 for v in SUMMED_SPANS.values()}
    m.update({f"runner.run_s.{d}": 0.0 for d in datasets})
    m["state.op_s"] = 0.0
    by_id = {s[0]: s for s in spans}
    jobs_under = {}
    for sid, parent, name, t0, t1 in spans:
        if name == "spark.job":
            jobs_under.setdefault(parent, []).append((t0, t1))
        if name in SUMMED_SPANS:
            m[SUMMED_SPANS[name]] += (t1 - t0) * ns
        elif name.startswith("runner.run/"):
            m["runner.run_s." + name.split("/", 1)[1]] += (t1 - t0) * ns
        elif name.startswith("state."):
            m["state.op_s"] += (t1 - t0) * ns

    def under_build(sid):
        while sid in by_id:
            if by_id[sid][2] == "queries.build":
                return True
            sid = by_id[sid][1]
        return False

    m["queries.build_jobs"] = float(sum(
        1 for s in spans if s[2] == "spark.job" and under_build(s[1])))
    m["spark.nojob_s"] = sum(
        ((t1 - t0) - covered(jobs_under.get(sid, []), t0, t1)) * ns
        for sid, _, name, t0, t1 in spans if name in ACTION_SPANS)
    for k in ("spark.jobs", "spark.stages", "spark.tasks",
              "spark.scheduler_delay_s", "spark.executor_run_s",
              "spark.executor_cpu_s", "spark.gc_s",
              "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
              "spark.spill_bytes", "spark.output_bytes", "queries.plan_s",
              "state.ops", "state.bytes_written", "catalog.dirs_dropped",
              "ingest.scan_bytes", "ingest.scan_records", "ingest.scan_task_s",
              "catalog.bytes_written", "catalog.files_written"):
        m[k] = float(counts.get(k, 0.0))
    m["spark.slot_util"] = m["spark.executor_run_s"] / (wall_s * cores)
    own = self_times(spans)
    for lay in LAYERS:
        m[f"self.{lay}_s"] = own.get(lay, 0.0) * ns
    return m
