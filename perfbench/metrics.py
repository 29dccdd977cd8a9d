"""Turns one run record (`raw.json`, written by perfbench.Main) into the
benchmark's metrics. Pure functions only, so they can be unit-tested."""
import math
import re
import statistics

# a metric name: starts with a letter or digit, at most 64 of
# letters, digits, '_', '.', '-'
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
MIN_BEYOND = 10  # samples that must lie beyond a reported percentile

END_TO_END = {
    "setup_s": "s",
    "publish_s": "s",
    "total_s": "s",
    "cpu_s": "s",
    "peak_heap_mb": "MB",
}

# each warehouse family the corpus workload builds, with its consumers
FAMILIES = {
    "suffix": ("q230_suffix_repeats", "q231_doc_repeats", "q232_suffix_array",
               "q241_suffix_fold", "q242_suffix_retract",
               "q243_suffix_doc_profile", "q248_suffix_hot_fold"),
    "decon": ("q43_decontaminate", "q76_boilerplate", "q93_contamination",
              "q143_bench_contamination"),
}
STREAMS = ("dedupedDocs", "compositeGateStream")
INGEST_GROUPS = ("boot", "inc", "cal")  # the takedown (tdn_*) does not run

# IngestDemo stage -> the operator module whose call the stage is for;
# the artifact receipt stages are Curation.receipts_s
STAGE_MODULE = {
    "boot_fp_store": "TextAnalysis", "boot_sig_store": "Dedup",
    "boot_bucket_store": "Dedup", "boot_lm_model": "NgramLm",
    "boot_span_index": "SubstringDedup", "boot_sg_store": "SuffixArray",
    "boot_nb_model": "TextAnalysis", "boot_profiles": "TextAnalysis",
    "boot_gate_thr": "Curation", "boot_manifest": "Curation",
    "boot_ann_index": "Similarity", "boot_artifact_receipts": "Curation.receipts",
    "inc_exact_dedup": "Dedup", "inc_near_dedup": "Dedup",
    "inc_span_gate": "SubstringDedup", "inc_quality_gate": "Curation",
    "inc_lm_score": "NgramLm", "inc_manifest_diff": "Curation",
    "inc_fold_units": "Curation", "inc_fold_fp": "TextAnalysis",
    "inc_fold_sigs": "Dedup", "inc_fold_buckets": "Dedup",
    "inc_fold_lm": "NgramLm", "inc_fold_span_index": "SubstringDedup",
    "inc_fold_sg": "SuffixArray", "inc_fold_nb": "TextAnalysis",
    "inc_fold_profiles": "TextAnalysis", "inc_ann_gate": "Similarity",
    "inc_fold_ann": "Similarity",
    "cal_gate_thr": "Curation", "cal_ann_model": "Similarity",
    "cal_artifact_receipts": "Curation.receipts",
    "tdn_removal_set": "Curation", "tdn_fp_store": "TextAnalysis",
    "tdn_sig_store": "Dedup", "tdn_bucket_store": "Dedup",
    "tdn_sg": "SuffixArray", "tdn_lm": "NgramLm",
    "tdn_span_index": "SubstringDedup", "tdn_nb": "TextAnalysis",
    "tdn_manifest": "Curation", "tdn_profiles": "TextAnalysis",
    "tdn_gate_thr": "Curation", "tdn_removal_vecs": "Similarity",
    "tdn_ann_stores": "Similarity", "tdn_ann_model": "Similarity",
    "tdn_receipts": "Curation.receipts",
}
MODULE_METRICS = {
    "Dedup": "Dedup.ingest_s", "NgramLm": "NgramLm.ingest_s",
    "SuffixArray": "SuffixArray.ingest_s",
    "SubstringDedup": "SubstringDedup.ingest_s",
    "TextAnalysis": "TextAnalysis.ingest_s",
    "Similarity": "Similarity.ingest_s", "Curation": "Curation.ingest_s",
    "Curation.receipts": "Curation.receipts_s",
}

# per-layer metric groups: layer prefix -> (suffix, unit)
_CALL_STATS = (("jobs", "count"), ("exec_cpu_s", "s"), ("driver_gap_s", "s"),
               ("shuffle_mb", "MB"))


def per_layer_units():
    """Every per-layer metric the traced run prints, with its unit."""
    units = {
        "engine.Ingest.write.wall_s": "s",
        "engine.Ingest.write.jobs": "count",
        "engine.Ingest.write.output_mb": "MB",
        "operators.Airline.wall_s": "s",
        "operators.Airline.jobs": "count",
        "operators.Airline.exec_cpu_s": "s",
        "operators.Airline.driver_gap_s": "s",
        "analytics.DistributionFit.wall_s": "s",
        "engine.Serving.writeKeyed.wall_s": "s",
        "engine.Serving.lookup.resolve_p50_ms": "ms",
        "engine.Serving.lookup.exec_p50_ms": "ms",
        "engine.Serving.lookup.p75_ms": "ms",
        "engine.Serving.lookup.samples": "count",
        "engine.Serving.lookup.files_read": "count",
        "engine.Serving.lookup.jobs": "count",
        "engine.Serving.upsert.p50_ms": "ms",
        "engine.Serving.upsert.samples": "count",
        "engine.Serving.upsert.jobs": "count",
        "engine.Serving.upsert.rewrite_mb": "MB",
    }
    for fam, consumers in FAMILIES.items():
        units[f"ComposedArtifacts.{fam}.build_s"] = "s"
        for k, u in _CALL_STATS + (("output_mb", "MB"),):
            units[f"ComposedArtifacts.{fam}.{k}"] = u
        units[f"TrainingEntries.serve_{fam}.wall_s"] = "s"
        for k, u in _CALL_STATS + (("spill_mb", "MB"),):
            units[f"TrainingEntries.serve_{fam}.{k}"] = u
        for q in consumers:
            units[f"TrainingEntries.{q}.wall_s"] = "s"
            units[f"TrainingEntries.{q}.jobs"] = "count"
    for q in STREAMS:
        units[f"streaming.DocStreams.{q}.drain_s"] = "s"
        units[f"streaming.DocStreams.{q}.batch_p50_ms"] = "ms"
        units[f"streaming.DocStreams.{q}.state_rows"] = "count"
    for g in INGEST_GROUPS:
        units[f"IngestDemo.{g}.wall_s"] = "s"
        for k, u in _CALL_STATS + (("spill_mb", "MB"),):
            units[f"IngestDemo.{g}.{k}"] = u
    for name in MODULE_METRICS.values():
        units[name] = "s"
    units.update({"serve.wall_s": "s", "serve.p50_ms": "ms",
                  "run.jobs": "count", "run.spill_mb": "MB"})
    for m in ("publish_s", "total_s", "cpu_s"):
        units[f"traced.{m}"] = END_TO_END[m]
    return units


def percentile(samples, q):
    """Nearest-rank q-th percentile of a non-empty sample."""
    xs = sorted(samples)
    k = max(0, math.ceil(q / 100.0 * len(xs)) - 1)
    return xs[k]


def tail_percentile(samples, q):
    """The q-th percentile, refused unless at least MIN_BEYOND samples
    lie strictly beyond it."""
    v = percentile(samples, q)
    beyond = sum(1 for x in samples if x > v)
    if beyond < MIN_BEYOND:
        raise ValueError(f"p{q} of {len(samples)} samples has only "
                         f"{beyond} beyond it (need {MIN_BEYOND})")
    return v


def driver_gap(start, end, jobs):
    """Time in [start, end] during which none of `jobs` (start, end)
    intervals was running. Overlapping jobs count once."""
    covered = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in jobs):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (end - start) - covered


def count_failures(raw):
    """(attempted ops, failed ops, [(what, error)]): every timed op is
    attempted; the list also names every failed check."""
    ops = raw.get("ops", [])
    failed = [(f"{o['layer']}/{o['name']}", o["error"]) for o in ops if not o["ok"]]
    checks = [(f"check: {c['name']}", c["detail"])
              for c in raw.get("checks", []) if not c["ok"]]
    return len(ops), len(failed), failed + checks


# the phases the end-to-end times cover; the traced run's extra layers
# ("traced", "ingest") and the lookups past the first 40 ("serve-extra")
# are outside them
TIMED_PHASES = ("publish", "serve")


def end_to_end(raw):
    timed = [o for o in raw["ops"] if o["phase"] in TIMED_PHASES]
    return {
        "setup_s": raw["setup"]["setup_s"],
        "publish_s": sum(o["wall_s"] for o in timed if o["phase"] == "publish"),
        "total_s": sum(o["wall_s"] for o in timed),
        "cpu_s": sum(o["cpu_s"] for o in timed),
        "peak_heap_mb": raw["peak_heap_mb"],
    }


def per_layer(raw):
    ops = raw["ops"]
    totals = raw.get("totals", {})
    jobs_of = {}
    for j in raw.get("jobs", []):
        jobs_of.setdefault(j["span"], []).append(
            (j["start_ms"] / 1e3, (j["end_ms"] if j["end_ms"] >= 0
                                   else j["start_ms"]) / 1e3))

    def pick(layer, name=None):
        return [o for o in ops if o["layer"] == layer
                and (name is None or o["name"] == name)]

    def tot(sel, key):
        return sum(totals.get(str(o["id"]), {}).get(key, 0) for o in sel)

    def njobs(sel):
        return sum(len(jobs_of.get(str(o["id"]), [])) for o in sel)

    def gap(sel):
        return sum(driver_gap(o["start_ms"] / 1e3, o["end_ms"] / 1e3,
                              jobs_of.get(str(o["id"]), [])) for o in sel)

    def wall(sel):
        return sum(o["wall_s"] for o in sel)

    def med(xs):
        return statistics.median(xs) if xs else 0.0

    def mean(x, sel):
        return x / len(sel) if sel else 0.0

    mb = 1048576.0
    m = {}
    ing = pick("engine.Ingest", "write")
    m["engine.Ingest.write.wall_s"] = wall(ing)
    m["engine.Ingest.write.jobs"] = njobs(ing)
    m["engine.Ingest.write.output_mb"] = tot(ing, "output_bytes") / mb
    air = pick("operators.Airline")
    m["operators.Airline.wall_s"] = wall(air)
    m["operators.Airline.jobs"] = njobs(air)
    m["operators.Airline.exec_cpu_s"] = tot(air, "exec_cpu_ns") / 1e9
    m["operators.Airline.driver_gap_s"] = gap(air)
    m["analytics.DistributionFit.wall_s"] = wall(pick("analytics.DistributionFit"))
    m["engine.Serving.writeKeyed.wall_s"] = wall(pick("engine.Serving", "writeKeyed"))
    lk = [o for o in pick("engine.Serving", "lookup") if o["ok"]]
    lat = [o["wall_s"] * 1e3 for o in lk]
    res = [o["extra"].get("resolve_ms", 0.0) for o in lk]
    m["engine.Serving.lookup.resolve_p50_ms"] = med(res)
    m["engine.Serving.lookup.exec_p50_ms"] = med([a - b for a, b in zip(lat, res)])
    m["engine.Serving.lookup.p75_ms"] = tail_percentile(lat, 75) if lk else 0.0
    m["engine.Serving.lookup.samples"] = len(lk)
    m["engine.Serving.lookup.files_read"] = med(
        [o["extra"].get("files_read", 0.0) for o in lk])
    m["engine.Serving.lookup.jobs"] = mean(njobs(lk), lk)
    up = [o for o in pick("engine.Serving", "upsert") if o["ok"]]
    m["engine.Serving.upsert.p50_ms"] = med([o["wall_s"] * 1e3 for o in up])
    m["engine.Serving.upsert.samples"] = len(up)
    m["engine.Serving.upsert.jobs"] = mean(njobs(up), up)
    m["engine.Serving.upsert.rewrite_mb"] = mean(tot(up, "output_bytes") / mb, up)
    def call_stats(prefix, sel, extra):
        m[f"{prefix}.jobs"] = njobs(sel)
        m[f"{prefix}.exec_cpu_s"] = tot(sel, "exec_cpu_ns") / 1e9
        m[f"{prefix}.driver_gap_s"] = gap(sel)
        m[f"{prefix}.shuffle_mb"] = tot(sel, "shuffle_write_bytes") / mb
        m[f"{prefix}.{extra}"] = tot(sel, extra.replace("_mb", "_bytes")) / mb

    for fam, consumers in FAMILIES.items():
        sel = pick("ComposedArtifacts", fam)
        m[f"ComposedArtifacts.{fam}.build_s"] = wall(sel)
        call_stats(f"ComposedArtifacts.{fam}", sel, "output_mb")
        srv = [o for o in pick("TrainingEntries") if o["name"] in consumers]
        m[f"TrainingEntries.serve_{fam}.wall_s"] = wall(srv)
        call_stats(f"TrainingEntries.serve_{fam}", srv, "spill_mb")
        for q in consumers:
            sel = pick("TrainingEntries", q)
            m[f"TrainingEntries.{q}.wall_s"] = wall(sel)
            m[f"TrainingEntries.{q}.jobs"] = njobs(sel)
    for q in STREAMS:
        sel = pick("streaming.DocStreams", q)
        batches = [o for o in sel if "start" not in o["extra"]]
        m[f"streaming.DocStreams.{q}.drain_s"] = wall(sel)
        m[f"streaming.DocStreams.{q}.batch_p50_ms"] = med(
            [o["wall_s"] * 1e3 for o in batches])
        m[f"streaming.DocStreams.{q}.state_rows"] = max(
            [o["extra"].get("state_rows", 0.0) for o in batches] or [0.0])
    stages = pick("IngestDemo")
    unmapped = sorted({o["name"] for o in stages} - set(STAGE_MODULE))
    if unmapped:
        raise ValueError(f"IngestDemo stages with no module in STAGE_MODULE: {unmapped}")
    for g in INGEST_GROUPS:
        sel = [o for o in stages if o["name"].startswith(g + "_")]
        m[f"IngestDemo.{g}.wall_s"] = wall(sel)
        call_stats(f"IngestDemo.{g}", sel, "spill_mb")
    for module, name in MODULE_METRICS.items():
        m[name] = wall([o for o in stages if STAGE_MODULE.get(o["name"]) == module])
    serve = [o for o in ops if o["phase"] == "serve"]
    lookups = [o for o in ops if o["name"] == "lookup"]
    m["serve.wall_s"] = wall(serve)
    m["serve.p50_ms"] = med([o["wall_s"] * 1e3 for o in (lookups or serve)])
    timed = [o for o in ops if o["phase"] in TIMED_PHASES]
    m["run.jobs"] = njobs(timed)
    m["run.spill_mb"] = tot(timed, "spill_bytes") / mb
    for k, v in end_to_end(raw).items():
        if f"traced.{k}" in per_layer_units():
            m[f"traced.{k}"] = v
    return m


def spans(raw):
    """The traced run's spans: one per phase and one per timed call,
    each with its parent, plus the Spark jobs each call caused."""
    ops = raw["ops"]
    out = []
    for phase in sorted({o["phase"] for o in ops}):
        sel = [o for o in ops if o["phase"] == phase]
        out.append({"id": f"phase-{phase}", "name": phase, "parent": None,
                    "run_id": raw["run_id"],
                    "start_ms": min(o["start_ms"] for o in sel),
                    "end_ms": max(o["end_ms"] for o in sel)})
    for o in ops:
        out.append({"id": str(o["id"]), "name": f"{o['layer']}.{o['name']}",
                    "parent": f"phase-{o['phase']}", "run_id": raw["run_id"],
                    "start_ms": o["start_ms"], "end_ms": o["end_ms"],
                    "ok": o["ok"]})
    return {"run_id": raw["run_id"], "spans": out, "jobs": raw.get("jobs", []),
            "totals": raw.get("totals", {})}
