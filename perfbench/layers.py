"""Per-layer metrics of a traced run, computed from its spans.

Counts (jobs, stages, tasks, bytes, rows, file-system calls) are exact
and reported as counts: the median over the spans of one kind, taken as
one of the observed values. A layer the workload does not exercise
reports 0.
"""

from __future__ import annotations

import statistics

QUERY_TYPES = ("ranked", "ranked_wand", "bm25", "boolean", "phrase", "wildcard")
TABLES = ("postings", "terms", "kgrams", "doc_stats", "docs")


def _dur(span: dict) -> float:
    return span["end"] - span["start"]


def _med(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def _med_count(values) -> int:
    values = list(values)
    return int(statistics.median_low(values)) if values else 0


def per_layer(run) -> dict:
    tr = run.tracer
    spans = tr.spans
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out: dict[str, dict] = {}

    def put(name: str, value, unit: str) -> None:
        out[name] = {"value": value, "unit": unit}

    def named(name: str, **attrs) -> list[dict]:
        return [
            s for s in spans
            if s["name"] == name and all(s.get(k) == v for k, v in attrs.items())
        ]

    put("session.start_s", run.session_s, "s")

    # build: phases from the build_metrics.json the build wrote
    bm = run.build_metrics
    phases = bm.get("phases", {})
    chunk_phases = [c.get("phases", {}) for c in bm.get("chunks", [])]
    put("build.doc_ids_s", phases.get("doc_ids", 0.0), "s")
    put("build.finalize_s", phases.get("finalize", 0.0), "s")
    put("build.tf_stats_s", sum(p.get("tf_and_stats", 0.0) for p in chunk_phases), "s")
    put("build.vocab_s", sum(p.get("vocab", 0.0) for p in chunk_phases), "s")
    put("build.postings_s", sum(p.get("postings", 0.0) for p in chunk_phases), "s")
    build_s = _med(run.times.get("build", []))
    put("build.turns_per_s", run.corpus.n_turns / build_s if build_s else 0.0, "turns/s")
    put("build.posting_rows", int(bm.get("posting_rows", 0)), "count")
    put("build.posting_bytes", int(bm.get("posting_bytes", 0)), "B")
    build = named("build")[-1:]  # the last set-up's build, whose index serves the run
    b = build[0] if build else {}
    put("build.jobs", b.get("jobs", 0), "count")
    put("build.stages", b.get("stages", 0), "count")
    put("build.tasks", b.get("tasks", 0), "count")
    put("build.executor_run_s", b.get("executor_run_ms", 0) / 1e3, "s")
    put("build.executor_cpu_s", b.get("executor_cpu_ns", 0) / 1e9, "s")
    put("build.input_bytes", b.get("input_bytes", 0), "B")
    put("build.shuffle_write_bytes", b.get("shuffle_write_bytes", 0), "B")
    put("build.udf.python_run_s", b.get("python_run_ms", 0) / 1e3, "s")
    put("build.udf.python_boot_s", b.get("python_boot_ms", 0) / 1e3, "s")
    put("build.udf.bytes_to_python", b.get("bytes_to_python", 0), "B")
    put("build.udf.bytes_from_python", b.get("bytes_from_python", 0), "B")
    for table in TABLES:
        put(f"index.bytes.{table}", run.table_bytes.get(table, 0), "B")

    # text and codec, measured in this process
    put("text.analyze_tokens_per_s", run.values.get("text.analyze_tokens_per_s", 0.0), "tokens/s")
    put("codec.encode_mb_per_s", run.values.get("codec.encode_mb_per_s", 0.0), "MB/s")
    put("codec.decode_mb_per_s", run.values.get("codec.decode_mb_per_s", 0.0), "MB/s")

    # engine: open, first query, and each query type of the mix
    put("engine.open_s", _med(_dur(s) for s in named("open")), "s")
    put("engine.first_query_s", _med(run.times.get("open_first_query", [])), "s")
    first = named("first_query")
    put("engine.first_query.jobs", _med_count(s["jobs"] for s in first), "count")
    put("engine.first_query.udf.python_boot_s", _med(s["python_boot_ms"] / 1e3 for s in first), "s")
    for qtype in QUERY_TYPES:
        qs = named(f"query.{qtype}", phase="mix")
        plan = [sum(_dur(c) for c in children.get(s["id"], []) if c["name"] == "plan") for s in qs]
        p = f"engine.{qtype}"
        put(f"{p}.p50_s", _med(_dur(s) for s in qs), "s")
        put(f"{p}.plan_s", _med(plan), "s")
        put(f"{p}.exec_s", _med(_dur(s) - pl for s, pl in zip(qs, plan)), "s")
        put(f"{p}.jobs", _med_count(s["jobs"] for s in qs), "count")
        put(f"{p}.stages", _med_count(s["stages"] for s in qs), "count")
        put(f"{p}.tasks", _med_count(s["tasks"] for s in qs), "count")
        put(f"{p}.executor_run_s", _med(s["executor_run_ms"] / 1e3 for s in qs), "s")
        put(f"{p}.executor_cpu_s", _med(s["executor_cpu_ns"] / 1e9 for s in qs), "s")
        put(f"{p}.udf.python_run_s", _med(s["python_run_ms"] / 1e3 for s in qs), "s")
        put(f"{p}.input_bytes", _med_count(s["input_bytes"] for s in qs), "B")
        put(f"{p}.shuffle_bytes", _med_count(s["shuffle_write_bytes"] for s in qs), "B")
        put(f"{p}.driver_rows", _med_count(s.get("rows", 0) for s in qs), "count")
    put("engine.wildcard.expand_s", _med(_dur(s) for s in named("wildcard_expand")), "s")
    samples = run.query_times()
    p90 = statistics.quantiles(samples, n=10)[8] if len(samples) >= 2 else 0.0
    put("engine.query_p50_s", _med(samples), "s")
    put("engine.query_p90_s", p90, "s")

    # writers
    appends, deletes = named("append"), named("delete")
    put("append.p50_s", _med(_dur(s) for s in appends), "s")
    put("append.jobs", _med_count(s["jobs"] for s in appends), "count")
    put("append.executor_run_s", _med(s["executor_run_ms"] / 1e3 for s in appends), "s")
    put("append.udf.python_run_s", _med(s["python_run_ms"] / 1e3 for s in appends), "s")
    put("append.fsio_ops", _med_count(s["fsio_ops"] for s in appends), "count")
    put("delete.p50_s", _med(_dur(s) for s in deletes), "s")
    put("delete.jobs", _med_count(s["jobs"] for s in deletes), "count")
    put("delete.fsio_ops", _med_count(s["fsio_ops"] for s in deletes), "count")
    refresh = [s for s in named("query.ranked") if s.get("after")]
    put("refresh.first_query.p50_s", _med(_dur(s) for s in refresh), "s")
    put("refresh.first_query.jobs", _med_count(s["jobs"] for s in refresh), "count")
    put("refresh.first_query.input_bytes", _med_count(s["input_bytes"] for s in refresh), "B")
    compact = named("compact")[:1]
    c = compact[0] if compact else {}
    put("compact.s", _dur(c) if c else 0.0, "s")
    put("compact.jobs", c.get("jobs", 0), "count")
    put("compact.bytes_rewritten", c.get("output_bytes", 0), "B")
    before = run.values.get("bytes_before_compact", 0)
    after = run.values.get("bytes_after_compact", 0)
    put("ingest.space_amp", before / after if after else 0.0, "ratio")
    fsck = named("fsck")[:1]
    put("fsck.deep_s", _dur(fsck[0]) if fsck else 0.0, "s")
    put("trace.self_s", tr.self_s, "s")
    return out
