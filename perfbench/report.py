"""Turn unit readings and traces into the benchmark's metrics."""

from __future__ import annotations

import statistics

from perfbench import ledger

MB = 2**20
STAGES = ["extract", "profile", "block", "pairs", "features", "score", "cluster", "golden"]
INC_STAGES = ["extract", "effective", "block", "pairs", "features", "score", "cluster"]
QUERIES = ["minhash_production", "minhash_token_cands", "minhash_pairs", "cc_jaccard_clusters"]
STAGE_FIELDS = ["s", "tasks", "task_s", "gc_s", "shuffle_mb", "arrow_mb", "py_tasks"]
INC_FIELDS = ["s", "tasks", "task_s", "shuffle_mb"]
QUERY_FIELDS = ["s", "tasks", "task_s", "shuffle_mb", "arrow_mb"]
# share of a unit's wall its ledger parts must explain (ROADMAP item 1)
MIN_COVER = 0.9


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def done(units):
    return [u for u in units if "wall_s" in u and "f1" in u]


def end_to_end(wl, units, peak_rss_mb: float) -> dict:
    ok = done(units)
    values = {
        "records_per_s": ("1/s", median(wl.records / u["wall_s"] for u in ok)),
        "cpu_s_per_krec": ("s", median(u["cpu_s"] / (wl.records / 1000) for u in ok)),
        "peak_rss_mb": ("MB", peak_rss_mb),
        "stored_ratio": ("ratio", median(u["stored_ratio"] for u in ok)),
        "f1": ("ratio", median(u["f1"] for u in ok)),
        "setup_s": ("s", sum(wl.setup_parts.values())),
    }
    return {k: {"value": v, "unit": unit} for k, (unit, v) in values.items()}


def _layer(tracer, span, by_span) -> dict:
    t = ledger.subtree_totals(tracer, span, by_span)
    return {
        "s": span.seconds,
        "tasks": t["tasks"],
        "task_s": t["task_s"],
        "gc_s": t["gc_s"],
        "shuffle_mb": t["shuffle_bytes"] / MB,
        "arrow_mb": t["arrow_bytes"] / MB,
        "py_tasks": t["py_tasks"],
    }


def _part_rows(tracer, roots, by_span, names, fields, prefix) -> dict:
    """Median over ``roots`` of each named part's layer readings. A part
    is an outermost stage or query span, matched by the name after its
    last '.' or ':' (``inc-b0.pairs``, ``query:minhash_pairs``)."""
    out = {}
    for name in names:
        rows = [
            _layer(tracer, sp, by_span)
            for root in roots
            for sp in tracer.outermost(root, {"stage", "query"})
            if sp.name.replace(":", ".").rsplit(".", 1)[-1] == name
        ]
        for f in fields:
            out[f"{prefix}.{name}.{f}"] = median(r[f] for r in rows)
    return out


def _all_under(tracer, root, kind):
    ids = tracer.descendants(root)
    return [s for s in tracer.spans if s.id in ids and s.kind == kind]


def _out_of_stage_writes(tracer, root):
    return [
        t
        for t in tracer.outermost(root, {"stage", "table"})
        if t.kind == "table" and not t.name.startswith("read:")
    ]


def _cc_rounds(tracer, root) -> int:
    return max((s.attrs.get("rounds", 0) for s in _all_under(tracer, root, "cc")), default=0)


def ledgers(tracer, labelled_roots) -> list[dict]:
    """Ledger of each (label, span). An incremental batch does its master
    merges and golden outside any stage, so for it the out-of-stage table
    spans count towards the explained share; elsewhere only stages do."""
    out = []
    for label, root in labelled_roots:
        lg = ledger.unit_ledger(tracer, root)
        cover = lg["span_cover"] if label == "incremental" else lg["stage_cover"]
        lg["ok"] = cover >= MIN_COVER
        lg["label"] = label
        lg["span"] = root.name
        out.append(lg)
    return out


def _roots(units):
    return [u["span"] for u in done(units) if u.get("span") is not None]


def per_layer(wl, tracer, units, inc, events) -> tuple[dict, list[dict]]:
    """Per-layer metrics of a traced run. ``inc`` is the pipeline run's
    incremental pass as (workload, units), or None."""
    by_span = ledger.task_metrics_by_span(events)
    traced = [u for u in done(units) if u.get("span") is not None]
    roots = [u["span"] for u in traced]
    pipeline = wl.kind == "pipeline"
    inc_wl, inc_units = inc or (None, [])
    inc_roots = _roots(inc_units)

    values = _part_rows(tracer, roots if pipeline else [], by_span, STAGES, STAGE_FIELDS, "stage")
    values.update(_part_rows(tracer, inc_roots, by_span, INC_STAGES, INC_FIELDS, "inc"))
    merges = [_out_of_stage_writes(tracer, r) for r in inc_roots]
    values["inc.merge_s"] = median(
        sum(t.seconds for t in ts if not t.name.endswith((":golden", ":metrics"))) for ts in merges
    )
    values["inc.golden_s"] = median(
        sum(t.seconds for t in ts if t.name.endswith(":golden")) for ts in merges
    )
    values["inc.recompute_s"] = getattr(inc_wl, "recompute_s", 0.0)
    query_roots = [] if pipeline else roots
    values.update(_part_rows(tracer, query_roots, by_span, QUERIES, QUERY_FIELDS, "query"))
    values["query.cc_jaccard_clusters.cc_rounds"] = median(
        _cc_rounds(tracer, r) for r in query_roots
    )

    labelled = [(wl.kind, r) for r in roots] + [("incremental", r) for r in inc_roots]
    if inc_wl is not None and inc_wl.recompute_span is not None:
        labelled.append(("recompute", inc_wl.recompute_span))
    lgs = ledgers(tracer, labelled)

    def per_unit(fn):
        return median(fn(r) for r in roots)

    pair_stats = [u["pair_stats"] for u in traced if "pair_stats" in u]
    values.update(
        {
            "tables.write_s": per_unit(
                lambda r: ledger.union_length(
                    t.interval
                    for t in tracer.outermost(r, {"table"})
                    if not t.name.startswith("read:")
                )
            ),
            "tables.commits": per_unit(
                lambda r: sum(
                    t.name.startswith(("overwrite:", "append:"))
                    for t in _all_under(tracer, r, "table")
                )
            ),
            "tables.data_files": median(u["data_files"] for u in traced),
            "tables.stored_mb": median(u["stored_bytes"] / MB for u in traced),
            "metrics.flush_s": per_unit(
                lambda r: sum(s.seconds for s in _all_under(tracer, r, "metrics"))
            ),
            "pipeline.unattributed_s": median(
                lg["unattributed_s"] for lg in lgs if lg["label"] == wl.kind
            ),
            "session.start_s": wl.setup_parts.get("session.start_s", 0.0),
            "session.warmup_s": wl.setup_parts.get("session.warmup_s", 0.0),
            "gen.corpus_s": wl.setup_parts.get("gen.corpus_s", 0.0),
            "spark.spill_mb": sum(
                ledger.subtree_totals(tracer, r, by_span)["spill_bytes"] for r in roots
            )
            / MB,
            "pairs.oversize_blocks": median(p["oversize_blocks"] for p in pair_stats),
            "pairs.dropped_pairs_est": median(p["dropped_pairs_est"] for p in pair_stats),
            "pairs.hot_blocks": median(p["hot_blocks"] for p in pair_stats),
            "score.match_ratio": median(u["match_ratio"] for u in traced if "match_ratio" in u),
            "cluster.cc_rounds": median(_cc_rounds(tracer, r) for r in (roots if pipeline else [])),
            "trace.overhead_frac": median(u["trace_overhead_s"] / u["wall_s"] for u in traced),
        }
    )
    metrics = {k: {"value": float(v), "unit": _unit_of(k)} for k, v in values.items()}
    return metrics, lgs


def _unit_of(name: str) -> str:
    last = name.rsplit(".", 1)[-1]
    if last == "s" or last.endswith("_s"):
        return "s"
    if last.endswith("_mb"):
        return "MB"
    if last in ("match_ratio", "overhead_frac"):
        return "ratio"
    return "count"


KEEP = ("unit", "traced", "ok", "wall_s", "cpu_s", "trace_overhead_s", "f1", "stored_ratio",
        "stored_bytes", "data_files", "pinned_rdds", "leftover_files", "error", "digest",
        "expected", "outputs")


def _units(units) -> list[dict]:
    out = []
    for u in units:
        summary = u.get("summary") or {}
        row = {k: u[k] for k in KEEP if k in u}
        row["part_seconds"] = summary.get("stage_seconds") or summary.get("query_seconds")
        out.append(row)
    return out


def detail(wl, units, inc, lgs, noise, left) -> dict:
    out = {
        "records_per_unit": wl.records,
        "setup": wl.setup_parts,
        "units": _units(units),
        "ledgers": lgs,
        "host_noise": noise,
        "processes_left": left,
    }
    if inc:
        inc_wl, inc_units = inc
        out["incremental"] = {
            "setup": inc_wl.setup_parts,
            "recompute_s": inc_wl.recompute_s,
            "records_per_unit": inc_wl.records,
            "units": _units(inc_units),
        }
    return out
