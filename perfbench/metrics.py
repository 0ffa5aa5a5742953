"""Derive the benchmark's metrics from what one harness run recorded.

End-to-end metrics come from the untraced run's operation timings and
sizes. Per-layer metrics come from the traced run's spans and the Spark
listener's job and task records, each attributed to the innermost span
open when its job was submitted.
"""
import os
import statistics

LAYERS = ["extract", "staging", "curated.dims", "curated.facts", "dq"]
COMMON = ["s", "driver_s", "jobs", "tasks", "shuffle_write_bytes",
          "spill_bytes", "task_skew"]
EXTRA = {
    "extract": ["rows_read", "rows_written", "bytes_written", "kept_ratio"],
    "staging": ["rows_in", "rows_out", "cached_bytes"],
    "curated.dims": ["rows_existing", "rows_written", "changed_ratio"],
    "curated.facts": ["rows_written", "files_written", "bytes_written"],
    "dq": ["rows_scanned"],
}
TRACE = ["ref_s", "traced_s", "probe_s", "overhead_ratio"]
# operation kinds that are timed; preloads and warm-ups are set-up
TIMED = ("load", "replay")
# spans whose time and jobs belong to no layer: the counters' own work
PROBE = "probe"

UNITS = {"s": "s", "driver_s": "s", "jobs": "count", "tasks": "count",
         "shuffle_write_bytes": "bytes", "spill_bytes": "bytes",
         "task_skew": "ratio", "rows_read": "rows", "rows_written": "rows",
         "bytes_written": "bytes", "kept_ratio": "ratio", "rows_in": "rows",
         "rows_out": "rows", "cached_bytes": "bytes",
         "rows_existing": "rows", "changed_ratio": "ratio",
         "files_written": "count", "rows_scanned": "rows",
         "ref_s": "s", "traced_s": "s", "probe_s": "s",
         "overhead_ratio": "ratio"}


def per_layer_names():
    names = [f"{l}.{m}" for l in LAYERS for m in COMMON + EXTRA[l]]
    return names + [f"trace.{m}" for m in TRACE]


def union(intervals):
    """Merge intervals into a sorted list of disjoint ones."""
    out = []
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return out


def subtract(intervals, holes):
    """Parts of disjoint `intervals` not covered by any of `holes`."""
    holes = union(holes)
    out = []
    for a, b in intervals:
        cur = a
        for h0, h1 in holes:
            if h1 <= cur or h0 >= b:
                continue
            if h0 > cur:
                out.append([cur, h0])
            cur = max(cur, h1)
        if cur < b:
            out.append([cur, b])
    return out


def length(intervals):
    return sum(b - a for a, b in intervals)


def self_intervals(spans):
    """span id -> the parts of its interval no child span covers (us)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    return {s["id"]: subtract(
                [[s["start_us"], s["end_us"]]],
                [[c["start_us"], c["end_us"]] for c in children.get(s["id"], [])])
            for s in spans}


def layer_metrics(trace):
    spans, jobs, tasks = trace["spans"], trace["jobs"], trace["tasks"]
    own = self_intervals(spans)
    by_id = {s["id"]: s for s in spans}
    name_of = lambda sid: by_id[sid]["name"] if sid in by_id else None
    out = {}
    for layer in LAYERS:
        ids = {s["id"] for s in spans if s["name"] == layer}
        ljobs = [j for j in jobs if j["span"] in ids]
        ltasks = [t for t in tasks if t["span"] in ids]
        self_us = sum(length(own[i]) for i in ids)
        driver_us = sum(length(subtract(own[i], [
            [j["start_ms"] * 1000, j["end_ms"] * 1000]
            for j in ljobs if j["span"] == i])) for i in ids)
        durs = [t["dur_ms"] for t in ltasks]
        tsum = lambda k: sum(t[k] for t in ltasks)
        csum = lambda k: sum(by_id[i]["counts"].get(k, 0.0) for i in ids)
        m = {
            "s": self_us / 1e6,
            "driver_s": driver_us / 1e6,
            "jobs": len(ljobs),
            "tasks": len(ltasks),
            "shuffle_write_bytes": tsum("shuffle_write_bytes"),
            "spill_bytes": tsum("spill_bytes"),
            "task_skew": (max(durs) / max(statistics.median(durs), 1)
                          if durs else 0.0),
        }
        if layer == "extract":
            m["rows_read"] = tsum("file_scan_rows")
            m["rows_written"] = tsum("records_written")
            m["bytes_written"] = tsum("bytes_written")
            m["kept_ratio"] = m["rows_written"] / max(m["rows_read"], 1)
        elif layer == "staging":
            m["rows_in"] = tsum("file_scan_rows")
            m["rows_out"] = tsum("records_written")
            m["cached_bytes"] = csum("cached_bytes")
        elif layer == "curated.dims":
            m["rows_existing"] = csum("rows_existing")
            m["rows_written"] = tsum("records_written")
            m["changed_ratio"] = csum("rows_changed") / max(m["rows_written"], 1)
        elif layer == "curated.facts":
            m["rows_written"] = tsum("records_written")
            m["files_written"] = csum("files_written")
            m["bytes_written"] = tsum("bytes_written")
        elif layer == "dq":
            m["rows_scanned"] = tsum("file_scan_rows") + tsum("cache_scan_rows")
        for k, v in m.items():
            out[f"{layer}.{k}"] = v
    probe_us = sum(s["end_us"] - s["start_us"] for s in spans
                   if s["name"] == PROBE and name_of(s["parent"]) != PROBE)
    out["trace.probe_s"] = probe_us / 1e6
    return out


def dir_bytes(path):
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def derive(result, expected, trace):
    """(metrics, attempted, failed) for one harness result."""
    ops = result["ops"]
    attempted = len(ops)
    failed = sum(1 for o in ops if o["errors"])
    if trace:
        m = layer_metrics(result["trace"])
        timed = [o for o in ops if o["kind"] in TIMED]
        ref = sum(o["s"] for o in timed if not o["traced"])
        traced = sum(o["s"] for o in timed if o["traced"])
        m["trace.ref_s"] = ref
        m["trace.traced_s"] = traced - m["trace.probe_s"]
        m["trace.overhead_ratio"] = m["trace.traced_s"] / ref - 1
        names = per_layer_names()
    else:
        m = {"setup_s": result["setup_s"]}
        m["month_s"] = statistics.median(
            o["s"] for o in ops if o["kind"] in TIMED)
        m["ok_frac"] = 1 - failed / attempted
        loaded = sum(expected["months"][str(mo)]["dsv_bytes"]
                     for mo in result["months"])
        m["bytes_stored_per_input_byte"] = dir_bytes(result["warehouse"]) / loaded
        m["heap_peak_mb"] = result["heap_peak_mb"]
        names = list(m)
    units = dict(UNITS, setup_s="s", month_s="s", ok_frac="ratio",
                 bytes_stored_per_input_byte="ratio", heap_peak_mb="MiB")
    metrics = {n: {"value": m[n], "unit": units[n.rsplit(".", 1)[-1]]}
               for n in names}
    return metrics, attempted, failed
