"""Per-layer metrics of a traced run (``--trace 1``).

Times of a layer are the union of its Spark jobs' intervals inside the
traced calls, per epoch applied; ``runner.driver_s`` is a call's wall
minus the union of all its jobs; ``unattributed_s`` is job time whose call
site maps to no layer. ``trace.overhead_s`` compares the traced and
untraced units (rounds, or trickle epochs) that the run alternates.
"""

from __future__ import annotations

import statistics
import time

import gen
import measures
import workloads
from spans import attribute, collect_jobs, layer_of, task_skew

PER_LAYER = {
    "session.start_s": "s",
    "warmup.s": "s",
    "gen.s": "s",
    "runner.driver_s_p50": "s/epoch",
    "runner.jobs_per_epoch": "count",
    "runner.idle_share": "ratio",
    "runner.scale_eff": "ratio",
    "probe.s": "s/epoch",
    "probe.jobs": "count/epoch",
    "probe.input_mb": "MB/epoch",
    "merge.write_s": "s/epoch",
    "merge.task_s": "s/epoch",
    "merge.gc_s": "s/epoch",
    "merge.shuffle_mb": "MB/epoch",
    "merge.spill_mb": "MB/epoch",
    "merge.task_skew": "ratio",
    "merge.files": "count/epoch",
    "merge.rewrite_ratio": "ratio",
    "merge.stale": "rows/epoch",
    "read.task_s": "s/read",
    "read.input_mb": "MB/read",
    "read.parts": "count",
    "compact.s": "s/compact",
    "compact.count": "count",
    "compact.files_before": "count",
    "compact.files_after": "count",
    "quarantine.rows": "rows",
    "quarantine.dlq_s": "s/epoch",
    "enrich.s": "s/epoch",
    "enrich.rows": "rows/epoch",
    "enrich.useful_ratio": "ratio",
    "spark.task_s": "s/epoch",
    "spark.cpu_s": "s/epoch",
    "spark.failed_tasks": "count",
    "host.calib_s": "s",
    "host.calib_after_s": "s",
    "unattributed_s": "s/epoch",
    "unattributed.share": "ratio",
    "attrib.residual_s": "s",
    "trace.overhead_s": "s/epoch",
}


def _sum(stages, key):
    return sum(s[key] for s in stages)


def per_layer(spark, wl, tracer, t, slots: int, extra: dict) -> dict:
    jobs = collect_jobs(spark)
    by_id = {j["job"]: j for j in jobs}
    applies = [s for s in tracer.spans if s["traced"] and s["name"] in ("apply_epochs", "apply_epoch")]
    reads = [s for s in tracer.spans if s["traced"] and s["name"] == "read"]
    out = dict(extra)
    epochs = sum(s.get("epochs", 1) for s in applies) or 1
    wall = driver = unattr = 0.0
    layer_s: dict[str, float] = {}
    layer_stages: dict[str, list] = {}
    layer_jobs: dict[str, int] = {}
    all_stages = []
    n_jobs = 0
    driver_per_epoch = []
    skews = []
    table = []
    for s in applies:
        a = attribute(s, jobs)
        n_ep = s.get("epochs", 1)
        wall += a["wall_s"]
        driver += a["driver_s"]
        unattr += a["unattributed_s"]
        driver_per_epoch.append(a["driver_s"] / n_ep)
        n_jobs += len(a["jobs"])
        for k, v in a["layers"].items():
            layer_s[k] = layer_s.get(k, 0.0) + v
        for jid in a["jobs"]:
            j = by_id[jid]
            lay = layer_of(j["site"])
            layer_stages.setdefault(lay, []).extend(j["stages"])
            layer_jobs[lay] = layer_jobs.get(lay, 0) + 1
            all_stages.extend(j["stages"])
            if lay == "merge" and j["stages"]:
                skews.append(task_skew(spark, max(j["stages"], key=lambda x: x["run_s"])))
        table.append({"span": s["id"], "name": s["name"], **{k: v for k, v in a.items() if k != "jobs"}})

    def lay(k):
        return layer_stages.get(k, [])

    out["runner.driver_s_p50"] = measures.median(driver_per_epoch)
    out["runner.jobs_per_epoch"] = n_jobs / epochs
    out["runner.idle_share"] = 1.0 - _sum(all_stages, "run_s") / (slots * wall) if wall else 0.0
    out["probe.s"] = layer_s.get("probe", 0.0) / epochs
    out["probe.jobs"] = layer_jobs.get("probe", 0) / epochs
    out["probe.input_mb"] = _sum(lay("probe"), "input_mb") / epochs
    timed = [r for r in t.results if not r.merge.skipped]
    out["merge.write_s"] = sum(r.merge.write_sec for r in timed) / max(1, len(timed))
    out["merge.task_s"] = _sum(lay("merge"), "run_s") / epochs
    out["merge.gc_s"] = _sum(lay("merge"), "gc_s") / epochs
    out["merge.shuffle_mb"] = _sum(lay("merge"), "shuffle_mb") / epochs
    out["merge.spill_mb"] = _sum(lay("merge"), "spill_mb") / epochs
    out["merge.task_skew"] = measures.median(skews) if skews else 0.0
    out["merge.files"] = measures.median(t.merge_files) if t.merge_files else 0.0
    cow = [r.merge for r in timed if r.merge.updated >= 0]
    changed = sum(m.updated + m.inserted + m.deleted for m in cow)
    out["merge.rewrite_ratio"] = sum(m.rows_applied for m in cow) / changed if changed else 0.0
    out["merge.stale"] = sum(m.stale for m in cow) / len(cow) if cow else 0.0

    read_stages = []
    for s in reads:
        grp = f"pb-{s['run']}-{s['id']}"
        read_stages.extend(st for j in jobs if j["group"] == grp for st in j["stages"])
    out["read.task_s"] = _sum(read_stages, "run_s") / len(reads) if reads else 0.0
    out["read.input_mb"] = _sum(read_stages, "input_mb") / len(reads) if reads else 0.0
    out["read.parts"] = measures.median(t.read_parts) if t.read_parts else 0.0

    comps = [r.compacted for r in timed if r.compacted]
    traced_comps = [r for s in applies for r in t.results if r.compacted and r.epoch_id == s.get("epoch")]
    out["compact.s"] = layer_s.get("compact", 0.0) / len(traced_comps) if traced_comps else 0.0
    out["compact.count"] = float(len(comps))
    out["compact.files_before"] = statistics.mean(c["files_before"] for c in comps) if comps else 0.0
    out["compact.files_after"] = statistics.mean(c["files_after"] for c in comps) if comps else 0.0

    out["quarantine.rows"] = measures.median(t.dlq_rows) if t.dlq_rows else 0.0
    out["quarantine.dlq_s"] = layer_s.get("quarantine", 0.0) / epochs
    out.update(enrich_layer(wl, epochs) if wl.enrich else {"enrich.s": 0.0, "enrich.rows": 0.0, "enrich.useful_ratio": 0.0})

    out["spark.task_s"] = _sum(all_stages, "run_s") / epochs
    out["spark.cpu_s"] = _sum(all_stages, "cpu_s") / epochs
    out["spark.failed_tasks"] = float(sum(st["failed_tasks"] for j in jobs for st in j["stages"]))
    out["unattributed_s"] = unattr / epochs
    out["unattributed.share"] = unattr / wall if wall else 0.0
    out["attrib.residual_s"] = sum(layer_s.values()) + driver + unattr - wall

    on = [w / n for tr, w, n in t.units if tr]
    off = [w / n for tr, w, n in t.units if not tr]
    out["trace.overhead_s"] = measures.median(on) - measures.median(off) if on and off else 0.0
    out["_table"] = table
    out["_layer_s"] = layer_s
    return out


def enrich_layer(wl, epochs: int) -> dict:
    """``enrich.rows``: rows the engine enriched per epoch in the traced
    units (counted by an observation on the enrich step handed to it).
    ``enrich.useful_ratio``: rows that win LWW inside their own epoch (the
    oracle) ÷ rows enriched. ``enrich.s``: per epoch, forcing the valid
    rows' entity columns through ``extract_entities_sql`` minus forcing the
    same rows' text alone (fresh plans each time)."""
    from nifi_nlp_processor_spark.functions.extractors import extract_entities_sql
    from nifi_nlp_processor_spark.operators.quarantine import split_valid

    import oracle

    enriched = sum(int(o.get["rows"]) for o in wl.enrich_obs) / max(1, epochs)
    winners = oracle.epoch_winners(wl.con, wl.files(wl.epochs)) / len(wl.epochs)
    cols = [f"pg_nlp_res_{k.lower()}" for k in sorted(gen.ENRICH_REGISTRY)]
    total = 0.0
    for e in wl.epochs:
        valid, _bad = split_valid(wl.frame([e]), ["conv_id", "turn_idx"])
        t0 = time.time()
        workloads.force(valid.select("text"))
        base = time.time() - t0
        valid, _bad = split_valid(wl.frame([e]), ["conv_id", "turn_idx"])
        t0 = time.time()
        workloads.force(extract_entities_sql(valid, gen.ENRICH_REGISTRY).select(*cols))
        total += max(0.0, time.time() - t0 - base)
    return {
        "enrich.s": total / len(wl.epochs),
        "enrich.rows": enriched,
        "enrich.useful_ratio": winners / enriched if enriched else 0.0,
    }


def single_slot_baseline(spark, wl, t, conf: dict, build_session):
    """Replay the workload at local[1] (one warm-up, one timed round) in a
    fresh session. Returns that session and its events/s; the round's
    checks count on the tally."""
    from pyspark.sql import SparkSession

    spark.stop()
    SparkSession._instantiatedSession = None
    one = build_session("perfbench-1", cores=1, extra_conf=conf)
    wl.spark = one
    wl.tracer.on = False
    wl.warmup()
    t1 = workloads.Tally()
    wl.round(t1)
    t.failed += t1.failed
    t.attempted += t1.attempted
    t.errors.extend(t1.errors)
    return one, (t1.events / t1.apply_s if t1.apply_s else 0.0)


def scale_eff(t, slots: int, single_slot_eps: float) -> float:
    """Events/s at ``slots`` (untraced units of the main window) ÷ (slots ×
    events/s at one slot)."""
    units = [(w, n) for tr, w, n in t.units if not tr]
    if not units or not single_slot_eps:
        return 0.0
    per_epoch_events = t.events / max(1, sum(n for _tr, _w, n in t.units))
    eps = per_epoch_events * sum(n for _w, n in units) / sum(w for w, _n in units)
    return eps / (slots * single_slot_eps)
