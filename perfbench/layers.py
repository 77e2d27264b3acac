"""Per-layer metrics of the traced run, computed from its spans and the
Spark jobs attributed to them.

``METRICS`` is the list the traced run prints, in order, with units; it
must match ``per_layer`` in BENCHMARK.json.  A layer the workload does not
load reports 0 with a base count of 0.  Every metric is computed over the
timed phase only, except ``feed.gen_s`` (input generation, part of set-up).
"""

from __future__ import annotations

import statistics

MB = 1e6

# name -> (unit, what the base count counts)
METRICS: dict[str, tuple[str, str]] = {
    "feed.gen_s": ("s", "runs"),
    "stream.triggers": ("count", "triggers"),
    "stream.trigger_p50_ms": ("ms", "triggers"),
    "stream.add_batch_p50_ms": ("ms", "triggers"),
    "stream.overhead_p50_ms": ("ms", "triggers"),
    "stream.trigger_mean_ms": ("ms", "triggers"),
    "stream.apply_mean_ms": ("ms", "triggers"),
    "stream.lineage_mean_ms": ("ms", "triggers"),
    "stream.overhead_mean_ms": ("ms", "triggers"),
    "stream.tracer_mean_ms": ("ms", "triggers"),
    "stream.remainder_mean_ms": ("ms", "triggers"),
    "lineage.append_p50_ms": ("ms", "appends"),
    "lineage.jobs_per_batch": ("count", "appends"),
    "lineage.rows_read_per_event": ("ratio", "events"),
    "merge.apply_p50_s": ("s", "applies"),
    "merge.apply_spark_s": ("s", "applies"),
    "merge.apply_driver_s": ("s", "applies"),
    "merge.apply_jobs_per_batch": ("count", "applies"),
    "merge.apply_stages_per_batch": ("count", "applies"),
    "merge.apply_tasks_per_batch": ("count", "applies"),
    "merge.apply_exec_cpu_s": ("s", "applies"),
    "merge.apply_shuffle_write_mb": ("MB", "applies"),
    "merge.apply_shuffle_read_mb": ("MB", "applies"),
    "merge.apply_spill_mb": ("MB", "applies"),
    "merge.apply_task_skew": ("ratio", "applies"),
    "merge.apply_rows_read_per_event": ("ratio", "events"),
    "merge.files_written_per_batch": ("count", "applies"),
    "merge.bytes_written_per_event": ("B", "events"),
    "merge.keep_ratio": ("ratio", "events"),
    "merge.buckets_touched_frac": ("ratio", "applies"),
    "merge.apply_compacting_p50_s": ("s", "applies"),
    "merge.apply_plain_p50_s": ("s", "applies"),
    "manifest.fold_ms": ("ms", "opens"),
    "manifest.chain_len": ("count", "tables"),
    "manifest.delta_refs": ("count", "tables"),
    "read.lookup_jobs": ("count", "lookups"),
    "read.lookup_spark_ms": ("ms", "lookups"),
    "read.lookup_driver_ms": ("ms", "lookups"),
    "read.lookup_rows_read": ("count", "lookups"),
    "read.scan_rows_read_per_live_row": ("ratio", "live rows"),
    "read.scan_after_compact_s": ("s", "scans"),
    "compact.s": ("s", "compactions"),
    "compact.mb_rewritten": ("MB", "compactions"),
    "compact.delta_refs_folded": ("count", "compactions"),
    "gc.s": ("s", "gc runs"),
    "gc.mb_freed": ("MB", "gc runs"),
    "docdedup.exact_s": ("s", "batches"),
    "docdedup.neardup_s": ("s", "batches"),
    "docdedup.index_apply_s": ("s", "batches"),
    "docdedup.shuffle_mb": ("MB", "batches"),
    "docdedup.pairs_found": ("count", "batches"),
    "similarity.emb_neardup_s": ("s", "batches"),
    "similarity.python_mb": ("MB", "batches"),
    "similarity.shuffle_mb": ("MB", "batches"),
    "similarity.pairs_found": ("count", "batches"),
    "spark.jobs_total": ("count", "runs"),
    "spark.jvm_gc_s": ("s", "runs"),
    "spark.jvm_peak_rss_mb": ("MB", "runs"),
    "trace.wall_s": ("s", "runs"),
}


def _med(xs):
    return statistics.median(xs) if xs else 0.0


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def _ratio(a, b):
    return a / b if b else 0.0


def _dur(s) -> float:
    return s["end"] - s["start"]


def compute(attr, timed_id: int, extras: dict) -> dict[str, tuple[float, int]]:
    """name -> (value, base count) for every metric in ``METRICS``."""
    timed = set(attr.subtree(timed_id))
    spans = [s for s in attr.spans if s["id"] in timed]

    def named(name):
        return [s for s in spans if s["name"] == name]

    def kids(s, name):
        return [attr.spans[c] for c in attr.children[s["id"]] if attr.spans[c]["name"] == name]

    stats = {s["id"]: attr.stage_stats(s["id"]) for s in spans}
    out: dict[str, tuple[float, int]] = {"feed.gen_s": (extras["feed.gen_s"], 1)}

    trig = named("trigger")
    n = len(trig)
    t_ms = [s["attrs"]["trigger_ms"] for s in trig]
    a_ms = [s["attrs"]["add_batch_ms"] for s in trig]
    apply_ms = [sum(_dur(k) for k in kids(s, "apply")) * 1000 for s in trig]
    lin_ms = [sum(_dur(k) for k in kids(s, "lineage")) * 1000 for s in trig]
    # the traced run's own describe() and file walks around each apply
    own_ms = [sum(k["attrs"].get("tracer_s", 0) for k in kids(s, "apply")) * 1000 for s in trig]
    out.update({
        "stream.triggers": (n, n),
        "stream.trigger_p50_ms": (_med(t_ms), n),
        "stream.add_batch_p50_ms": (_med(a_ms), n),
        "stream.overhead_p50_ms": (_med([t - a for t, a in zip(t_ms, a_ms)]), n),
        "stream.trigger_mean_ms": (_mean(t_ms), n),
        "stream.apply_mean_ms": (_mean(apply_ms), n),
        "stream.lineage_mean_ms": (_mean(lin_ms), n),
        "stream.overhead_mean_ms": (_mean([t - a for t, a in zip(t_ms, a_ms)]), n),
        "stream.tracer_mean_ms": (_mean(own_ms), n),
        "stream.remainder_mean_ms": (
            _mean([a - x - y - z for a, x, y, z in zip(a_ms, apply_ms, lin_ms, own_ms)]), n),
    })

    def events_of(s):
        """Events a call handled: the apply's own count when metrics were
        collected, else its trigger's input rows."""
        ev = s["attrs"].get("events_in") or 0
        if not ev and s["parent"] is not None:
            ev = attr.spans[s["parent"]]["attrs"].get("events", 0)
        return ev

    lin = named("lineage")
    lin_events = sum(events_of(s) for s in lin)
    out.update({
        "lineage.append_p50_ms": (_med([_dur(s) * 1000 for s in lin]), len(lin)),
        "lineage.jobs_per_batch": (_mean([len(attr.jobs(s["id"])) for s in lin]), len(lin)),
        "lineage.rows_read_per_event": (
            _ratio(sum(stats[s["id"]]["records_read"] for s in lin), lin_events), lin_events),
    })

    ap = named("apply")
    na = len(ap)
    ap_events = sum(events_of(s) for s in ap)
    ap_in = sum(s["attrs"].get("events_in", 0) for s in ap)
    spark_s = [attr.spark_s(s["id"]) for s in ap]
    st = [stats[s["id"]] for s in ap]
    comp = [_dur(s) for s in ap if s["attrs"].get("compacting")]
    plain = [_dur(s) for s in ap if not s["attrs"].get("compacting")]
    out.update({
        "merge.apply_p50_s": (_med([_dur(s) for s in ap]), na),
        "merge.apply_spark_s": (_mean(spark_s), na),
        "merge.apply_driver_s": (_mean([_dur(s) - x for s, x in zip(ap, spark_s)]), na),
        "merge.apply_jobs_per_batch": (_mean([len(attr.jobs(s["id"])) for s in ap]), na),
        "merge.apply_stages_per_batch": (_mean([x["stages"] for x in st]), na),
        "merge.apply_tasks_per_batch": (_mean([x["tasks"] for x in st]), na),
        "merge.apply_exec_cpu_s": (_mean([x["cpu_ns"] / 1e9 for x in st]), na),
        "merge.apply_shuffle_write_mb": (_mean([x["shuffle_write"] / MB for x in st]), na),
        "merge.apply_shuffle_read_mb": (_mean([x["shuffle_read"] / MB for x in st]), na),
        "merge.apply_spill_mb": (_mean([x["spill"] / MB for x in st]), na),
        "merge.apply_task_skew": (_med([x["skew"] for x in st]), na),
        "merge.apply_rows_read_per_event": (
            _ratio(sum(x["records_read"] for x in st), ap_events), ap_events),
        "merge.files_written_per_batch": (_mean([s["attrs"]["files"] for s in ap]), na),
        "merge.bytes_written_per_event": (
            _ratio(sum(s["attrs"]["bytes"] for s in ap), ap_events), ap_events),
        "merge.keep_ratio": (_ratio(sum(s["attrs"].get("merge_rows", 0) for s in ap), ap_in), ap_in),
        "merge.buckets_touched_frac": (_mean([s["attrs"]["buckets_frac"] for s in ap]), na),
        "merge.apply_compacting_p50_s": (_med(comp), len(comp)),
        "merge.apply_plain_p50_s": (_med(plain), len(plain)),
    })

    has_table = "manifest.fold_ms" in extras
    out.update({k: (extras.get(k, 0), 5 if k == "manifest.fold_ms" else 1)
                if has_table else (0, 0)
                for k in ("manifest.fold_ms", "manifest.chain_len", "manifest.delta_refs")})

    lk = named("lookup")
    lk_spark = [attr.spark_s(s["id"]) for s in lk]
    scans = named("scan")
    live = extras.get("live_rows", 0) * len(scans)
    after = named("scan_after_compact")
    out.update({
        "read.lookup_jobs": (_mean([len(attr.jobs(s["id"])) for s in lk]), len(lk)),
        "read.lookup_spark_ms": (_mean([x * 1000 for x in lk_spark]), len(lk)),
        "read.lookup_driver_ms": (_mean([(_dur(s) - x) * 1000 for s, x in zip(lk, lk_spark)]), len(lk)),
        "read.lookup_rows_read": (_mean([stats[s["id"]]["records_read"] for s in lk]), len(lk)),
        "read.scan_rows_read_per_live_row": (
            _ratio(sum(stats[s["id"]]["records_read"] for s in scans), live), live),
        "read.scan_after_compact_s": (_med([_dur(s) for s in after]), len(after)),
    })

    cp, gc = named("compact"), named("gc")
    out.update({
        "compact.s": (sum(_dur(s) for s in cp), len(cp)),
        "compact.mb_rewritten": (sum(s["attrs"]["bytes"] for s in cp) / MB, len(cp)),
        "compact.delta_refs_folded": (sum(s["attrs"]["delta_refs_folded"] for s in cp), len(cp)),
        "gc.s": (sum(_dur(s) for s in gc), len(gc)),
        "gc.mb_freed": (sum(s["attrs"]["bytes_freed"] for s in gc) / MB, len(gc)),
    })

    ex, nd, ix = named("docdedup.exact"), named("docdedup.neardup"), named("docdedup.index_apply")
    em = named("similarity.emb_neardup")
    nb = len(named("batch"))
    out.update({
        "docdedup.exact_s": (_mean([_dur(s) for s in ex]), len(ex)),
        "docdedup.neardup_s": (_mean([_dur(s) for s in nd]), len(nd)),
        "docdedup.index_apply_s": (_mean([_dur(s) for s in ix]), len(ix)),
        "docdedup.shuffle_mb": (
            _ratio(sum(stats[s["id"]]["shuffle_write"] for s in ex + nd) / MB, nb), nb),
        "docdedup.pairs_found": (extras.get("docdedup.pairs_found", 0), nb),
        "similarity.emb_neardup_s": (_mean([_dur(s) for s in em]), len(em)),
        "similarity.python_mb": (_ratio(sum(stats[s["id"]]["python_bytes"] for s in em) / MB, nb), nb),
        "similarity.shuffle_mb": (_ratio(sum(stats[s["id"]]["shuffle_write"] for s in em) / MB, nb), nb),
        "similarity.pairs_found": (extras.get("similarity.pairs_found", 0), nb),
    })

    out.update({
        "spark.jobs_total": (len(attr.jobs(timed_id)), 1),
        "spark.jvm_gc_s": (extras["spark.jvm_gc_s"], 1),
        "spark.jvm_peak_rss_mb": (extras["spark.jvm_peak_rss_mb"], 1),
        "trace.wall_s": (_dur(attr.spans[timed_id]) - extras.get("trace.untimed_s", 0.0), 1),
    })
    return {k: out[k] for k in METRICS}
