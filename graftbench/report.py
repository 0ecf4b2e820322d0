"""Turns the raw results the JVM writes into the benchmark's metrics.

End-to-end metrics come from the (first) untraced phase; per-layer metrics
from the traced phase of a `--trace 1` run, which runs between two untraced
phases: the tracing overhead is the traced median of the workload's unit of
work minus the mean of the two untraced medians.
"""
from stats import median, self_times, tail, union_length, uncovered

WORKLOADS = ("cdc_stream", "bulk_replay", "serve_mixed", "curation_dedup")

# name -> unit. Every workload reports every metric.
END_TO_END = {
    "setup_s": "s",
    "peak_live_mb": "MB",
    "p50_s": "s",
    "throughput_per_s": "1/s",
}

# Ctx.stormySteal of the JVM side
STORMY_STEAL = 0.02
READ_OPS = ("point", "sql", "changes", "asof", "scan")
# serve_mixed's samples of single operations: the merge and each read
SERVE_OPS = ("epoch_s",) + tuple(f"{op}_s" for op in READ_OPS)
QUERIES = ("q_near_dup_lsh", "q_dup_clusters", "q_jaccard_pairs", "q_ann_ivf")

# name -> unit. Every workload reports every metric; a layer the workload
# does not run reports 0.
PER_LAYER = {
    "stream.latest_offset_ms": "ms",
    "stream.query_planning_ms": "ms",
    "stream.add_batch_ms": "ms",
    "stream.wal_commit_ms": "ms",
    "stream.commit_offsets_ms": "ms",
    "stream.source_rows_per_event": "ratio",
    "lake.merge.job_wall_ms": "ms",
    "lake.merge.driver_ms": "ms",
    "lake.merge.spark_jobs": "count",
    "lake.merge.tasks": "count",
    "lake.merge.files_added": "count",
    "lake.compact.epochs": "count",
    "lake.compact.buckets_max": "count",
    "lake.compact.epoch_ms": "ms",
    "lake.deltas_per_bucket_max": "count",
    "lake.write_amp": "ratio",
    "lake.snapshot_ms": "ms",
    "lake.snapshot_bytes": "bytes",
    "ops.applied_ratio": "ratio",
    "ops.late_drops": "count",
    **{f"lake.read_call_ms.{op}": "ms" for op in READ_OPS},
    **{f"spark.records_read_per_row.{op}": "ratio" for op in READ_OPS},
    **{f"spark.bytes_read.{op}": "bytes" for op in READ_OPS},
    "lake.mor_arm.window": "count",
    "lake.mor_arm.broadcast": "count",
    "lake.mor_arm.columnar": "count",
    "lake.asof_ms": "ms",
    "trace.overhead_ms": "ms",
    "trace.overhead_pct": "%",
}
# Layers only bulk_replay runs, reported by its traced runs only.
BULK_LAYERS = {
    "spark.map_stage_ms.c1": "ms",
    "spark.map_stage_ms.cN": "ms",
    "spark.reduce_stage_ms.c1": "ms",
    "spark.reduce_stage_ms.cN": "ms",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.task_skew": "ratio",
    "spark.gc_ms": "ms",
}
# Layers only curation_dedup runs, reported by its traced runs only.
CURATION_LAYERS = {
    **{f"ops.query_s.{q}": "s" for q in QUERIES},
    **{f"spark.exchanges.{q}": "count" for q in QUERIES},
    **{f"spark.stages.{q}": "count" for q in QUERIES},
    **{f"spark.shuffle_bytes.{q}": "bytes" for q in QUERIES},
}
# Per-layer metrics where a larger value is better; lower is better elsewhere.
HIGHER_IS_BETTER = {"ops.applied_ratio", "lake.mor_arm.broadcast", "lake.mor_arm.columnar"}


def _med(values):
    m = median(values)
    return 0.0 if m is None else m


def end_to_end(raw):
    """The gated metrics, from the untraced phase."""
    w = raw["workload"]
    ph = raw["phases"]["untraced"]
    s, v = ph["samples"], ph["values"]
    if w == "cdc_stream":
        p50, tput = median(s["epoch_s"]), v["ingest_events_per_s"]
    elif w == "bulk_replay":
        p50, tput = median(s["replay_s.c1"]), median(s["replay_events_per_s.cN"])
    elif w == "serve_mixed":
        ops = sum(len(s[k]) for k in SERVE_OPS)
        # the merges' time counts in the throughput, the reads' in both
        p50, tput = median(s["reads_s"]), ops / sum(s["round_s"])
    else:
        p50 = median(s["pass_s"])
        tput = len(QUERIES) * len(s["pass_s"]) / sum(s["pass_s"])
    return {"setup_s": median(raw["setup_s"]), "peak_live_mb": raw["peak_live_mb"],
            "p50_s": p50, "throughput_per_s": tput}


def named(raw):
    """The workload's metrics under their own names, for the report: each
    as (value, unit, note)."""
    w = raw["workload"]
    ph = raw["phases"]["untraced"]
    s, v = ph["samples"], ph["values"]
    out = {"setup_s": (median(raw["setup_s"]), "s", f"median of {len(raw['setup_s'])}"),
           "peak_live_mb": (raw["peak_live_mb"], "MB", "most memory in use after a collection"),
           "peak_rss_mb": (raw["peak_rss_mb"], "MB", "VmHWM"),
           "error_rate": (raw["failed"] / max(1, raw["attempted"]), "ratio",
                          f"{raw['failed']} of {raw['attempted']}")}
    if "units" in v:
        out["quiet_units"] = (v["quiet_units"], "count",
                              f"of {v['units']} units of work under {STORMY_STEAL:.0%} steal")

    def lat(name, xs):
        out[f"{name}_p50_s"] = (median(xs), "s", f"n={len(xs)}")
        t = tail(xs)
        out[f"{name}_tail_s"] = (t[1], "s", f"p{t[0]:.1f}, n={len(xs)}, {t[2]} beyond") if t \
            else (None, "s", f"n={len(xs)}: a tail needs 20 samples")

    if w == "cdc_stream":
        out["ingest_events_per_s"] = (v["ingest_events_per_s"], "1/s", f"{v['epochs']} epochs")
        lat("epoch", s["epoch_s"])
        out["space_amp"] = (v["space_amp"], "ratio", "table bytes / live row bytes")
    elif w == "bulk_replay":
        out["replay_events_per_s"] = (median(s["replay_events_per_s.cN"]), "1/s",
                                      f"{raw['conditions']['nproc']} cores")
        out["replay_events_per_s_1core"] = (median(s["replay_events_per_s.c1"]), "1/s", "1 core")
        out["scaling_efficiency"] = (median(s["scaling_efficiency"]), "ratio",
                                     f"median of {len(s['scaling_efficiency'])} pairs")
    elif w == "serve_mixed":
        out["round_p50_s"] = (median(s["round_s"]), "s", f"n={len(s['round_s'])}")
        out["reads_p50_s"] = (median(s["reads_s"]), "s", "every read of a round")
        out["epoch_p50_s"] = (median(s["epoch_s"]), "s", f"n={len(s['epoch_s'])}")
        lat("point", s["point_s"])
        lat("changes", s["changes_s"])
        out["sql_p50_s"] = (median(s["sql_s"]), "s", f"n={len(s['sql_s'])}")
        out["scan_p50_s"] = (median(s["scan_s"]), "s", f"n={len(s['scan_s'])}")
        out["asof_p50_s"] = (median(s["asof_s"]), "s", f"n={len(s['asof_s'])}")
    else:
        out["curation_s"] = (median(s["pass_s"]), "s", f"median of {len(s['pass_s'])} passes")
        for q in QUERIES:
            out[f"{q}_s"] = (median(s[f"query_s.{q}"]), "s", "")
    return out


class Trace:
    """Spans and Spark listener events of the traced phase."""

    def __init__(self, raw):
        self.spans = raw["spans"]
        self.jobs = [j for j in raw["jobs"] if j.get("end") is not None]
        self.stages = {(s["ctx"], s["id"]): s for s in raw["stages"]}
        self.children = {}
        for sp in self.spans:
            self.children.setdefault(sp["parent"], []).append(sp["id"])

    def named(self, name):
        return [sp for sp in self.spans if sp["name"] == name]

    def subtree(self, span):
        ids, todo = set(), [span["id"]]
        while todo:
            i = todo.pop()
            ids.add(i)
            todo.extend(self.children.get(i, []))
        return ids

    def jobs_of(self, span):
        ids = self.subtree(span)
        return [j for j in self.jobs if j["span"] in ids]

    def stages_of(self, jobs):
        return [self.stages[(j["ctx"], sid)] for j in jobs for sid in j["stages"]
                if (j["ctx"], sid) in self.stages and self.stages[(j["ctx"], sid)]["tasks"] > 0]


def _stage_ms(stage):
    """Submission to completion; 0 for a stage that never completed."""
    if stage["submit"] is None or stage["complete"] is None:
        return 0.0
    return stage["complete"] - stage["submit"]


def _merge_layers(out, merges):
    """merges: dicts with job_wall_ms, driver_ms, jobs, tasks, files_added."""
    for key, name in (("job_wall_ms", "lake.merge.job_wall_ms"), ("driver_ms", "lake.merge.driver_ms"),
                      ("jobs", "lake.merge.spark_jobs"), ("tasks", "lake.merge.tasks"),
                      ("files_added", "lake.merge.files_added")):
        out[name] = _med([m[key] for m in merges])


def per_layer(raw):
    """The per-layer metrics of a traced run."""
    out = {k: 0.0 for k in PER_LAYER}
    tr = Trace(raw)
    ph = raw["phases"]["traced"]
    layers = ph["layers"]
    w = raw["workload"]
    if w == "cdc_stream":
        batches = layers["batches"]
        snaps = {s["batch"]: s for s in layers["snapshots"]}
        for key, name in (("latestOffset", "latest_offset"), ("queryPlanning", "query_planning"),
                          ("addBatch", "add_batch"), ("walCommit", "wal_commit"),
                          ("commitOffsets", "commit_offsets")):
            out[f"stream.{name}_ms"] = _med([b["durations"].get(key, 0) for b in batches])
        merges = []
        for b in batches:
            jobs = [j for j in tr.jobs if j["batch"] == b["batch"]]
            wall = union_length([(j["start"], j["end"]) for j in jobs])
            merges.append({"job_wall_ms": wall, "driver_ms": b["durations"].get("addBatch", 0) - wall,
                           "jobs": len(jobs), "tasks": sum(s["tasks"] for s in tr.stages_of(jobs)),
                           "files_added": snaps.get(b["batch"], {}).get("files_added", 0)})
        _merge_layers(out, merges)
        compacting = [b for b in batches if snaps.get(b["batch"], {}).get("compacted", 0) > 0]
        out["lake.compact.epochs"] = len(compacting)
        out["lake.compact.buckets_max"] = max([s["compacted"] for s in snaps.values()] + [0])
        out["lake.compact.epoch_ms"] = _med([b["durations"]["triggerExecution"] for b in compacting])
        out["lake.deltas_per_bucket_max"] = max([s["deltas_max"] for s in snaps.values()] + [0])
        out["lake.snapshot_ms"] = _med([sp["end"] - sp["start"] for sp in tr.named("lake.currentSnapshot")])
        out["lake.snapshot_bytes"] = _med([s["snapshot_bytes"] for s in snaps.values()])
        out["stream.source_rows_per_event"] = layers["stream.source_rows_per_event"]
        out["ops.applied_ratio"] = layers["ops.applied_ratio"]
        out["ops.late_drops"] = layers["ops.late_drops"]
    elif w == "serve_mixed":
        spans = tr.named("lake.mergeWithRetry")
        info = layers["merges"]
        merges = []
        for sp, m in zip(spans, info):
            jobs = tr.jobs_of(sp)
            ivs = [(j["start"], j["end"]) for j in jobs]
            merges.append({"job_wall_ms": union_length(ivs),
                           "driver_ms": uncovered(sp["start"], sp["end"], ivs),
                           "jobs": len(jobs), "tasks": sum(s["tasks"] for s in tr.stages_of(jobs)),
                           "files_added": m["files_added"]})
        _merge_layers(out, merges)
        compacting = [m for m in info if m["compacted"] > 0]
        out["lake.compact.epochs"] = len(compacting)
        out["lake.compact.buckets_max"] = max([m["compacted"] for m in info] + [0])
        out["lake.compact.epoch_ms"] = _med([m["ms"] for m in compacting])
        out["lake.deltas_per_bucket_max"] = max([m["deltas_max"] for m in info] + [0])
        out["lake.snapshot_ms"] = _med([sp["end"] - sp["start"] for sp in tr.named("lake.currentSnapshot")])
        out["lake.snapshot_bytes"] = _med([m["snapshot_bytes"] for m in info])
        arms = {"window": 0, "broadcast": 0, "columnar": 0}
        for op in READ_OPS:
            spans = tr.named(f"op.{op}")
            calls, per_row, read = [], [], []
            for sp in spans:
                arms[sp["attrs"]["arm"]] += 1
                call = next(c for c in tr.spans if c["parent"] == sp["id"])
                calls.append(call["end"] - call["start"])
                st = tr.stages_of(tr.jobs_of(sp))
                per_row.append(sum(s["records_read"] for s in st) / max(1, sp["attrs"]["rows"]))
                read.append(sum(s["bytes_read"] for s in st))
            out[f"lake.read_call_ms.{op}"] = _med(calls)
            out[f"spark.records_read_per_row.{op}"] = _med(per_row)
            out[f"spark.bytes_read.{op}"] = _med(read)
            if op == "asof":
                out["lake.asof_ms"] = _med([sp["end"] - sp["start"] for sp in spans])
        for arm, n in arms.items():
            out[f"lake.mor_arm.{arm}"] = n
    elif w == "bulk_replay":
        biggest = []
        for side in ("c1", "cN"):
            maps, reduces = [], []
            for sp in tr.named(f"stream.replayBatch.{side}"):
                st = tr.stages_of(tr.jobs_of(sp))
                maps.append(sum(_stage_ms(x) for x in st if x["shuffle_write_bytes"] > 0))
                reduces.append(sum(_stage_ms(x) for x in st if x["shuffle_write_bytes"] == 0))
                if side == "cN":
                    biggest.append(st)
            out[f"spark.map_stage_ms.{side}"] = _med(maps)
            out[f"spark.reduce_stage_ms.{side}"] = _med(reduces)
        out["spark.shuffle_write_bytes"] = _med([sum(x["shuffle_write_bytes"] for x in st) for st in biggest])
        out["spark.spill_bytes"] = _med([sum(x["spill_bytes"] for x in st) for st in biggest])
        out["spark.gc_ms"] = _med([sum(x["gc_ms"] for x in st) for st in biggest])
        skews = []
        for st in biggest:
            top = max(st, key=lambda x: x["run_ms"])
            skews.append(top["task_max_ms"] / max(1, top["task_median_ms"]))
        out["spark.task_skew"] = _med(skews)
    else:
        for q in QUERIES:
            spans = tr.named(f"ops.query.{q}")
            out[f"ops.query_s.{q}"] = _med([(sp["end"] - sp["start"]) / 1000 for sp in spans])
            out[f"spark.exchanges.{q}"] = _med([sp["attrs"]["exchanges"] for sp in spans])
            out[f"spark.stages.{q}"] = _med([len(tr.stages_of(tr.jobs_of(sp))) for sp in spans])
            out[f"spark.shuffle_bytes.{q}"] = _med(
                [sum(x["shuffle_write_bytes"] for x in tr.stages_of(tr.jobs_of(sp))) for sp in spans])
    if "lake.write_amp" in layers:
        out["lake.write_amp"] = layers["lake.write_amp"]
    unit = raw["unit_sample"]
    untraced = (median(raw["phases"]["untraced"]["samples"][unit])
                + median(raw["phases"]["untraced2"]["samples"][unit])) / 2
    traced = median(ph["samples"][unit])
    out["trace.overhead_ms"] = (traced - untraced) * 1000
    out["trace.overhead_pct"] = 100 * (traced - untraced) / untraced
    return out


def self_time_by_name(raw):
    """Total self time (ms) of the traced phase's spans, by span name,
    largest first: where the benchmark's calls into the engine spent their
    time outside the calls they contain."""
    totals = {}
    own = self_times(raw["spans"])
    for sp in raw["spans"]:
        totals[sp["name"]] = totals.get(sp["name"], 0.0) + own[sp["id"]]
    return sorted(totals.items(), key=lambda kv: -kv[1])
