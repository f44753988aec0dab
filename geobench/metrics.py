"""Statistics of the geobench harness: percentiles, geometric means,
self time of traced spans, the steady-state guard, and the reduction of
one run's raw record (written by the JVM side) to the reported metrics."""

import math
import statistics

# A percentile is reported only with at least this many samples beyond it.
MIN_BEYOND = 10
# Cycle-end on-disk bytes may drift by this share between cycles: manifest
# names and streaming watermarks grow by a digit now and then. File and
# delete-file counts must match exactly.
STATE_BYTES_TOLERANCE = 0.01


def median(values):
    return statistics.median(values)


def percentile(values, q):
    """Nearest-rank percentile: the smallest value with at least q*n of
    the samples at or below it."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(q * len(s)))
    return s[rank - 1]


def beyond(values, cut):
    """Samples strictly above `cut`."""
    return sum(1 for v in values if v > cut)


def sufficient_percentile(values, q):
    """(value, samples beyond it), or (None, beyond) when fewer than
    MIN_BEYOND samples lie beyond it."""
    if not values:
        return None, 0
    p = percentile(values, q)
    n = beyond(values, p)
    return (p if n >= MIN_BEYOND else None), n


def geomean(values):
    if not values or any(v <= 0 for v in values):
        raise ValueError("geometric mean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def covered(intervals, lo, hi):
    """Length of the union of `intervals`, each clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
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


def self_time(lo, hi, children):
    """A span's duration minus the part of it its children cover."""
    return (hi - lo) - covered(children, lo, hi)


def steady_state(first, second, states, bound):
    """Problems that show the timed phase was not in steady state: the
    primary read median moved between the halves by more than `bound`, or
    the tables differ between the ends of consecutive cycles."""
    problems = []
    if first and second:
        m1, m2 = median(first), median(second)
        drift = abs(m2 - m1) / m1
        if drift > bound:
            problems.append(f"primary read median moved {drift:.1%} between halves "
                            f"({m1:.3f} -> {m2:.3f} ms), bound {bound:.0%}")
    for a, b in zip(states, states[1:]):
        if (a["files"], a["deletes"]) != (b["files"], b["deletes"]):
            problems.append(f"cycle {b['cycle']} ended with {b['files']} files / {b['deletes']} "
                            f"delete files, cycle {a['cycle']} with {a['files']} / {a['deletes']}")
        elif abs(b["bytes"] - a["bytes"]) > STATE_BYTES_TOLERANCE * max(a["bytes"], 1):
            problems.append(f"cycle {b['cycle']} ended with {b['bytes']} bytes on disk, "
                            f"cycle {a['cycle']} with {a['bytes']}")
    return problems


def _ops(raw, phase):
    return [dict(zip(("id", "cls", "phase", "cycle", "start", "dur", "ok", "rows"), o))
            for o in raw["ops"] if o[2] == phase]


def _by_class(ops):
    out = {}
    for o in ops:
        out.setdefault(o["cls"], []).append(o["dur"])
    return out


def _wall_s(phase_ms):
    """Wall of a phase less the harness's own checking time, in seconds."""
    start, end, harness = phase_ms
    return (end - start - harness) / 1000.0


def _states(raw, phase):
    return [dict(zip(("phase", "cycle", "files", "deletes", "bytes"), s))
            for s in raw["states"] if s[0] == phase]


def end_to_end(raw, read_bound):
    """End-to-end metrics of the untimed-trace phase ("timed"), the named
    per-workload figures, and the problems that make the run incorrect."""
    ops = _ops(raw, "timed")
    cls = _by_class(ops)
    problems = []
    wall_s = _wall_s(raw["timed_ms"])
    primary = cls.get(raw["primary_read"], [])
    counts = {c: len(v) for c, v in sorted(cls.items())}

    def class_median(c):
        if not cls.get(c):
            problems.append(f"no timed samples of class {c}")
            return 1.0
        return median(cls[c])

    metrics = {
        "setup_s": (raw["session_s"] + median(raw["build_s"]), "s"),
        "ops_per_s": (len(ops) / wall_s, "1/s"),
        "read_p50_ms": (class_median(raw["primary_read"]), "ms"),
        "side_p50_ms": (geomean([class_median(c) for c in raw["side_classes"]]), "ms"),
        "heap_retained_mb": (raw["heap_retained_mb"], "MB"),
    }

    # percentiles are reported only with MIN_BEYOND samples beyond them
    p90, n_beyond = sufficient_percentile(primary, 0.9)
    detail = {"samples": counts, "read_p90_beyond": n_beyond}
    if p90 is not None:
        detail["read_p90_ms"] = p90
    if "zone_join" in raw["side_classes"]:
        detail["join_p50_ms"] = metrics["side_p50_ms"][0]
    if raw["write_classes"]:
        detail["write_p50_ms"] = geomean([class_median(c) for c in raw["write_classes"]])
        w90, w_beyond = sufficient_percentile(cls.get(raw["write_classes"][0], []), 0.9)
        detail["write_p90_beyond"] = w_beyond
        if w90 is not None:
            detail["write_p90_ms"] = w90
        appends = [o for o in ops if o["cls"] in raw["append_classes"]]
        detail["ingest_rows_per_s"] = sum(o["rows"] for o in appends) / (sum(o["dur"] for o in appends) / 1000.0)
        detail["write_amp"] = raw["written_bytes"] / raw["submitted_bytes"]
        detail["space_amp"] = raw["end_bytes"] / raw["reference_bytes"]
    if raw["recalls"]:
        detail["recall_at_10"] = sum(raw["recalls"]) / len(raw["recalls"])

    halves = sorted({o["cycle"] for o in ops})
    mid = len(halves) // 2
    first = [o["dur"] for o in ops if o["cls"] == raw["primary_read"] and o["cycle"] < mid]
    second = [o["dur"] for o in ops if o["cls"] == raw["primary_read"] and o["cycle"] >= mid]
    states = _states(raw, "warm") + _states(raw, "timed")
    problems += steady_state(first, second, states, read_bound)
    return metrics, detail, problems


def layer_values(raw):
    """Every per-layer figure the traced phase of one run yields."""
    ops = _ops(raw, "traced")
    jobs = [dict(zip(("id", "group", "start", "end", "tasks", "cpu_ns", "shuffle_w", "rows", "gc_ms"), j))
            for j in raw["jobs"]]
    by_group = {}
    loose = []
    for j in jobs:
        if j["group"].startswith("op-"):
            by_group.setdefault(j["group"], []).append(j)
        else:
            loose.append(j)

    def jobs_of(o):
        lo, hi = o["start"], o["start"] + o["dur"]
        return by_group.get(f"op-{o['id']}", []) + [j for j in loose if lo <= j["start"] <= hi]

    values = {}
    per_class = {}
    for o in ops:
        js = jobs_of(o)
        lo, hi = o["start"], o["start"] + o["dur"]
        rec = per_class.setdefault(o["cls"], {"jobs": [], "tasks": [], "cpu": [], "shuffle": [], "self": []})
        rec["jobs"].append(len(js))
        rec["tasks"].append(sum(j["tasks"] for j in js))
        rec["cpu"].append(sum(j["cpu_ns"] for j in js) / 1e6)
        rec["shuffle"].append(sum(j["shuffle_w"] for j in js))
        rec["self"].append(self_time(lo, hi, [(j["start"], j["end"] if j["end"] >= 0 else hi) for j in js]))
    for c, r in per_class.items():
        values[f"spark.jobs.{c}"] = median(r["jobs"])
        values[f"spark.tasks.{c}"] = median(r["tasks"])
        values[f"spark.executor_cpu_ms.{c}"] = median(r["cpu"])
        values[f"spark.shuffle_write_bytes.{c}"] = median(r["shuffle"])
        values[f"driver.self_ms.{c}"] = median(r["self"])
        if c in raw["write_classes"]:
            values[f"tables.commit_self_ms.{c}"] = median(r["self"])
    if "hybrid" in per_class:
        values["ops.jobs_per_probe"] = median(per_class["hybrid"]["jobs"])
        writes = [s for c in raw["write_classes"] for s in per_class.get(c, {}).get("shuffle", [])]
        if writes:
            values["ops.shuffle_bytes_per_index_write"] = median(writes)

    spans = {}
    for op_id, name, a, b in raw["spans"]:
        spans.setdefault(name, []).append(b - a)
    for name, ds in spans.items():
        values[name] = median(ds)
    for name, vs in raw["samples"].items():
        if vs:
            values[name] = median(vs)

    if ops:
        values["spark.gc_ms"] = raw["extra"].get("traced_gc_ms", 0.0) / len(ops)
        untraced = len(_ops(raw, "timed")) / _wall_s(raw["timed_ms"])
        traced = len(ops) / _wall_s(raw["traced_ms"])
        values["trace.overhead_pct"] = (untraced - traced) / untraced * 100.0
    return values


def per_layer(values, layer_names):
    """The per-layer metrics named in `layer_names` (name -> unit), from
    the figures of `layer_values`. Every name is reported; a layer the
    workload never calls reads 0 and is listed under `absent`."""
    metrics, absent = {}, []
    for name, unit in layer_names.items():
        if name in values:
            metrics[name] = (values[name], unit)
        else:
            metrics[name] = (0.0, unit)
            absent.append(name)
    return metrics, absent
