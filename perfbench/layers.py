"""Per-layer metrics of a traced run, computed from the recorded spans, the
Spark event log and a few figures the workloads take from the lakes they
wrote. Every metric in PER_LAYER is emitted on every workload; a layer the
workload does not exercise reads 0. Times are medians per call in seconds.
"""

from __future__ import annotations

import os
import statistics

from perfbench.tracing import median_dur, session_metrics

# (name, unit, better) — BENCHMARK.json's per_layer list mirrors this one.
PER_LAYER = [
    ("runner.replay_s", "s", "lower"),
    ("runner.epochs_per_call", "epochs", "higher"),
    ("runner.overlap_ratio", "ratio", "higher"),
    ("source.list_segments_s", "s", "lower"),
    ("source.pid_bounds_s", "s", "lower"),
    ("source.read_seq_range_s", "s", "lower"),
    ("apply.apply_epoch_s", "s", "lower"),
    ("apply.prepare_epoch_s", "s", "lower"),
    ("apply.commit_prepared_s", "s", "lower"),
    ("apply.fast_path_ratio", "ratio", "higher"),
    ("apply.jobs_per_epoch", "jobs", "lower"),
    ("dedup.collapse_ratio", "ratio", "lower"),
    ("dedup.collapse_base_rows", "rows", "higher"),
    ("dedup.lww_dedup_calls", "count", "lower"),
    ("lake.merge_s", "s", "lower"),
    ("lake.write_amp", "ratio", "lower"),
    ("lake.manifest_bytes_per_commit", "bytes", "lower"),
    ("lake.maybe_compact_s", "s", "lower"),
    ("lake.compactions", "count", "lower"),
    ("lake.files_per_bucket_max", "files", "lower"),
    ("lake.lookup_files_read", "files", "lower"),
    ("lake.files_total", "files", "lower"),
    ("lake.changes_buckets_touched", "ratio", "lower"),
    ("mview.refresh_s", "s", "lower"),
    ("mview.incremental_ratio", "ratio", "higher"),
    ("curate.jobs", "jobs", "lower"),
    ("textops.pii_scrub_s", "s", "lower"),
    ("dedup_text.exact_dedup_canonical_s", "s", "lower"),
    ("dedup_text.jaccard_on_lsh_s", "s", "lower"),
    ("dedup_text.connected_components_s", "s", "lower"),
    ("textops.quality_funnel_s", "s", "lower"),
    ("sampling.split_column_s", "s", "lower"),
    ("dedup_text.candidate_pairs", "count", "lower"),
    ("dedup_text.pair_keep_ratio", "ratio", "higher"),
    ("session.jobs", "count", "lower"),
    ("session.shuffle_write_bytes", "bytes", "lower"),
    ("session.spill_bytes", "bytes", "lower"),
    ("session.task_skew", "ratio", "lower"),
    ("scaling.local1_events_per_s", "1/s", "higher"),
    ("scaling.localN_events_per_s", "1/s", "higher"),
    ("scaling.efficiency", "ratio", "higher"),
    ("timing.crosscheck_dev", "ratio", "lower"),
    ("trace.overhead_ratio", "ratio", "lower"),
]
UNITS = {name: unit for name, unit, _better in PER_LAYER}

EPOCH_SPANS = ("apply.apply_epoch", "apply.prepare_epoch", "apply.commit_prepared")


def lake_size(path: str) -> tuple[int, int, int]:
    """(data bytes, metadata bytes, head version) of the lake at ``path``."""
    from cdc_engine import SnapLake
    from perfbench.workloads import dir_bytes

    return (dir_bytes(os.path.join(path, "data")), dir_bytes(os.path.join(path, "metadata")),
            SnapLake(path).head_version())


def lake_sizes(lakes) -> dict[str, tuple[int, int, int]]:
    return {lk.path: lake_size(lk.path) for lk in lakes}


def layer_metrics(tracer, wl, jobs, tasks, lo, hi, phases, extra, sizes_before, lineage) -> dict:
    spans = tracer.spans
    by_id = {s.sid: s for s in spans}
    named: dict[str, list] = {}
    for s in spans:
        named.setdefault(s.name, []).append(s)

    def parent_name(s):
        p = by_id.get(s.parent)
        return p.name if p else None

    def under(s, name):
        p = by_id.get(s.parent)
        while p is not None:
            if p.name == name:
                return True
            p = by_id.get(p.parent)
        return False

    # every per-layer metric is emitted; a layer the workload skips reads 0
    m: dict[str, float] = {name: 0.0 for name, _unit, _better in PER_LAYER}
    replays = named.get("runner.replay", [])
    m["runner.replay_s"] = median_dur(replays)
    m["runner.epochs_per_call"] = statistics.mean(s.attrs.get("n", 0) for s in replays) if replays else 0.0
    top_epochs = [s for n in EPOCH_SPANS for s in named.get(n, []) if parent_name(s) not in EPOCH_SPANS]
    replay_wall = sum(s.dur for s in replays)
    in_replay = [s for s in top_epochs if under(s, "runner.replay")]
    m["runner.overlap_ratio"] = sum(s.dur for s in in_replay) / replay_wall if replay_wall else 0.0

    m["source.list_segments_s"] = median_dur(named.get("source.list_segments", []))
    m["source.pid_bounds_s"] = median_dur(named.get("source.partition_pid_bounds", []))
    m["source.read_seq_range_s"] = median_dur(named.get("source.read_seq_range", []))

    applies = named.get("apply.apply_epoch", [])
    m["apply.apply_epoch_s"] = median_dur(applies)
    m["apply.prepare_epoch_s"] = median_dur(named.get("apply.prepare_epoch", []))
    m["apply.commit_prepared_s"] = median_dur(named.get("apply.commit_prepared", []))
    applied = [s for s in applies if s.attrs.get("applied")]
    prepared_under = {s.parent for s in named.get("apply.prepare_epoch", [])}
    fast = [s for s in applied if s.sid not in prepared_under]
    m["apply.fast_path_ratio"] = len(fast) / len(applied) if applied else 0.0
    n_epochs = len(applied) + sum(
        1 for s in named.get("apply.commit_prepared", [])
        if s.attrs.get("applied") and parent_name(s) not in EPOCH_SPANS
    )
    sess = session_metrics(jobs, tasks, lo, hi)
    epoch_jobs = [j for j in sess["jobs"] if j.get("spans", set()) & set(EPOCH_SPANS)]
    m["apply.jobs_per_epoch"] = len(epoch_jobs) / n_epochs if n_epochs else 0.0

    lineage = [r for rows in lineage.values() for r in rows]
    rows_in = sum(r["rows_in"] or 0 for r in lineage)
    m["dedup.collapse_ratio"] = (
        sum((r["rows_upserted"] or 0) + (r["rows_deleted"] or 0) for r in lineage) / rows_in
        if rows_in else 0.0
    )
    m["dedup.collapse_base_rows"] = float(rows_in)
    m["dedup.lww_dedup_calls"] = float(len(named.get("dedup.lww_dedup", [])))

    m["lake.merge_s"] = median_dur(named.get("lake.merge", []))
    # a lake the window copied starts from the size of the lake it copies
    after = lake_sizes(wl.lakes())
    data_w = meta_w = commits = 0
    for path, (d, md, v) in after.items():
        d0, md0, v0 = sizes_before.get(path) or lake_size(wl.origin[path])
        data_w += d - d0
        meta_w += md - md0
        commits += v - v0
    m["lake.write_amp"] = data_w / wl.wal_bytes if wl.wal_bytes else 0.0
    m["lake.manifest_bytes_per_commit"] = meta_w / commits if commits else 0.0
    m["lake.maybe_compact_s"] = median_dur(named.get("lake.maybe_compact", []))
    m["lake.compactions"] = float(sum(1 for s in named.get("lake.compact", []) if s.attrs.get("buckets")))
    tb = [s.attrs for s in named.get("lake.touched_buckets_between", [])
          if parent_name(s) == "lake.changes" and s.attrs.get("touched") is not None]
    m["lake.changes_buckets_touched"] = (
        statistics.mean(a["touched"] / a["n_buckets"] for a in tb) if tb else 0.0
    )

    refreshes = named.get("mview.incremental_refresh", [])
    m["mview.refresh_s"] = median_dur(refreshes)
    m["mview.incremental_ratio"] = (
        sum(1 for s in refreshes if s.attrs.get("mode") == "incremental") / len(refreshes)
        if refreshes else 0.0
    )

    m["session.jobs"] = float(len(sess["jobs"]))
    m["session.shuffle_write_bytes"] = float(sess["shuffle_write_bytes"])
    m["session.spill_bytes"] = float(sess["spill_bytes"])
    m["session.task_skew"] = sess["task_skew"]

    # CDC_TIMING phases against the matching spans
    ph: dict[str, float] = {}
    for name, dt in phases:
        ph[name] = ph.get(name, 0.0) + dt
    span_sum = {
        "apply_total": sum(s.dur for s in in_replay if s.name != "apply.prepare_epoch"),
        "merge_total": sum(s.dur for s in named.get("lake.merge", [])),
        "maybe_compact": sum(s.dur for s in named.get("lake.maybe_compact", [])
                             if parent_name(s) == "runner.replay"),
    }
    devs = [abs(span_sum[k] - ph[k]) / ph[k] for k in span_sum if ph.get(k, 0) > 0]
    m["timing.crosscheck_dev"] = max(devs) if devs else 0.0
    wl.detail["timing_phases_s"] = {k: round(v, 4) for k, v in ph.items()}
    wl.detail["span_sums_s"] = {k: round(v, 4) for k, v in span_sum.items()}

    curate_calls = named.get("curate.curate", [])
    if curate_calls:
        jobs_in = [j for j in sess["jobs"] if "curate.curate" in j.get("spans", set())]
        m["curate.jobs"] = len(jobs_in) / len(curate_calls)
    m.update(extra)
    return {k: {"value": float(v), "unit": unit_of(k)} for k, v in m.items()}


def unit_of(name: str) -> str:
    if name in UNITS:
        return UNITS[name]
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    return {"source.pickup_lag_epochs": "epochs"}.get(name, "ratio")
