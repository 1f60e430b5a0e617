"""The two workloads and the metrics they report.

Both workloads set up the same way: start the session, generate the
corpus, then ``SETUPS`` times build the index with
``TranscriptSearchEngine.build`` into a fresh directory, open it and run
one ranked query; the last index serves the rest of the run. One set-up
costs 15-30 s of a run's ~60 s on a 4-core VM, so there is one. They
then stress different layers:

* ``query_mix``: a closed loop, one client, k=10, over a 1k-turn index
  with 32-doc posting blocks (32 blocks, so WAND has blocks to prune),
  running a fixed 20-slot schedule of six query types, for ``seconds``
  and at least ``COUNTED_QUERIES`` queries; then one append and one
  delete.
* ``ingest_mix``: a 1k-turn index with the default block layout; write
  cycles (append ~1% new conversations, delete ~0.1% of live ids, a
  ranked and a boolean query after each write). Traced runs then
  ``compact``, check a ranked and a boolean answer and run a deep
  ``fsck``; no end-to-end metric depends on that tail, and it would cost
  every untraced run a fifth of its time.

Every engine call runs in a span of :mod:`trace`, which times it and
counts the Spark work it caused. The end-to-end metrics are the set-up
wall time and that work (jobs, tasks, bytes scanned) per operation;
wall-clock latencies are in the report and, for traced runs, in the
per-layer metrics.

Every answer is checked against :mod:`oracle`; a wrong answer or an
exception counts as a failed operation.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import time
import traceback

import numpy as np

import gen
import trace
from oracle import Oracle, check_topk

K = 10
# set-ups per run (build + open + first query); the median is reported
SETUPS = 1
SIZES = {
    # turns in the setup index, posting block span, appended share of
    # conversations per append, deleted share of live ids per delete
    "query_mix": {"turns": 1_000, "block_span": 32, "append_share": 0.01, "delete_share": 0.001},
    "ingest_mix": {"turns": 1_000, "block_span": 1 << 16, "append_share": 0.01, "delete_share": 0.001},
}
# queries of the mix the end-to-end work counts cover: the first ones of
# the schedule, so every run counts the same query shapes
COUNTED_QUERIES = 12
# 25% ranked, 15% WAND, 15% BM25, 20% boolean, 15% phrase, 10% wildcard
SCHEDULE = (
    "ranked", "boolean", "ranked_wand", "bm25", "phrase",
    "wildcard", "ranked", "boolean", "bm25", "ranked_wand",
    "ranked", "phrase", "boolean", "bm25", "ranked",
    "ranked_wand", "wildcard", "phrase", "boolean", "ranked",
)

E2E_UNITS = {
    "setup_s": "s",
    "index_bytes_per_text_byte": "ratio",
    "build_jobs": "count",
    "build_tasks": "count",
    "first_query_jobs": "count",
    "query_jobs": "jobs/query",
    "query_tasks": "tasks/query",
    "append_jobs": "count",
    "append_tasks": "count",
    "delete_jobs": "count",
}


class WriteFailed(Exception):
    """A write failed, so the oracle no longer knows the index state."""


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(root, name))
    return total


class Run:
    def __init__(self, spark, args, work: str, session_s: float):
        self.spark = spark
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.size = SIZES[self.workload]
        self.work = work
        self.index_dir = None  # the index of the last set-up
        self.detail = bool(args.trace)
        self.tracer = trace.Tracer(spark, detail=self.detail)
        self.session_s = session_s
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.times: dict[str, list[float]] = {}  # wall-clock seconds
        self.spans: dict[str, list[dict]] = {}  # the span of each timed call
        self.setup_times: list[float] = []
        self.values: dict[str, float] = {}
        self.oracle = Oracle()
        self.eng = None
        self.build_metrics: dict = {}
        self.table_bytes: dict = {}

    # ------------------------------------------------------------ plumbing
    def _fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what)

    def op(self, name: str, fn, check=None, record: str | None = None, **attrs):
        """Run and time one engine call; ``check(result)`` returns None
        when the answer is right, else a description of what is wrong.
        Returns the result and its wall-clock seconds; the seconds and
        the span go to ``self.times`` and ``self.spans`` under ``record``
        (default: ``name``)."""
        self.attempted += 1
        try:
            with self.tracer.span(name, **attrs) as rec:
                t0 = time.perf_counter()
                result = fn()
                dt = time.perf_counter() - t0
                if isinstance(result, list):
                    rec["rows"] = len(result)
        except Exception:
            self._fail(f"{name}: {traceback.format_exc(limit=3)}")
            return None, None
        self.times.setdefault(record or name, []).append(dt)
        self.spans.setdefault(record or name, []).append(rec)
        if check is not None:
            problem = check(result)
            if problem is not None:
                self._fail(f"{name} {attrs}: {problem}")
        return result, dt

    def write(self, name: str, fn):
        result, dt = self.op(name, fn)
        if dt is None:
            raise WriteFailed(name)
        return result

    # ------------------------------------------------------------ setup
    def execute(self) -> None:
        from search_engine_spark.engine import TranscriptSearchEngine

        self.Engine = TranscriptSearchEngine
        t0 = time.perf_counter()
        self.vocab = gen.make_vocab()
        n = self.size["turns"]
        self.corpus = gen.generate(self.seed, 2 * gen.convs_for_turns(n), self.vocab, n_turns=n)
        corpus_path = os.path.join(self.work, "corpus.parquet")
        self.text_bytes = self.corpus.write_parquet(corpus_path)
        self.queries = gen.QueryGen(self.seed + 1, self.corpus)
        self.generate_s = time.perf_counter() - t0
        texts = self.corpus.texts()
        self.oracle.add(texts, 0)
        self.next_doc_id = self.corpus.n_turns

        try:
            for i in range(SETUPS):
                self.set_up(corpus_path, os.path.join(self.work, f"index{i}"))
            self.index_bytes = dir_bytes(self.index_dir)
            self.read_build_outputs()
            if self.workload == "query_mix":
                self.query_loop()
                self.write_cycle(post_write_queries=False)
            else:
                cycles, t_start = 0, time.perf_counter()
                while cycles == 0 or time.perf_counter() - t_start < self.seconds:
                    self.write_cycle(post_write_queries=True)
                    cycles += 1
                self.values["cycles"] = cycles
                if self.detail:
                    self.compact_and_fsck()
        except WriteFailed:
            pass
        if self.detail:
            self.layer_micro(texts)

    def read_build_outputs(self) -> None:
        """The build's own metrics file and the bytes of each table."""
        with open(os.path.join(self.index_dir, "build_metrics.json")) as f:
            self.build_metrics = json.load(f)
        with open(os.path.join(self.index_dir, "_meta.json")) as f:
            meta = json.load(f)
        tables = dict(meta.get("tables", {}), terms=meta.get("terms_table", "terms"))
        self.table_bytes = {
            t: dir_bytes(os.path.join(self.index_dir, tables.get(t, t)))
            for t in ("postings", "terms", "kgrams", "doc_stats", "docs")
        }

    def set_up(self, corpus_path: str, index_dir: str) -> None:
        """Build the index into ``index_dir``, open it on a fresh engine
        object and run one ranked query (the first query after a build;
        each open reloads and re-caches the tables)."""
        self.write(
            "build",
            lambda: self.Engine.build(
                self.spark,
                self.spark.read.parquet(corpus_path),
                index_dir,
                block_span=self.size["block_span"],
            ),
        )
        q = self.queries.ranked()
        eng = self.write("open", lambda: self.Engine(self.spark, index_dir))
        for method, name in (
            ("ranked_query_df", "plan"),
            ("bm25_query_df", "plan"),
            ("boolean_query_df", "plan"),
            ("wildcard_expand", "wildcard_expand"),
        ):
            self.tracer.wrap(eng, method, name)
        _result, query_s = self.op(
            "first_query", lambda: eng.ranked_query(q, k=K),
            check=lambda r: check_topk(r, self.oracle.ranked_scores(q), K),
        )
        if query_s is None:
            raise WriteFailed("first_query")
        open_s = self.times["open"][-1]
        self.times.setdefault("open_first_query", []).append(open_s + query_s)
        self.setup_times.append(self.times["build"][-1] + open_s + query_s)
        self.eng, self.index_dir = eng, index_dir

    # ------------------------------------------------------------ queries
    def run_query(self, qtype: str, q: str, record: str | None = None, **attrs):
        eng, o = self.eng, self.oracle
        if qtype in ("ranked", "ranked_wand"):
            fn = lambda: eng.ranked_query(q, k=K, pruned=qtype == "ranked_wand")  # noqa: E731
            check = lambda r: check_topk(r, o.ranked_scores(q), K)  # noqa: E731
        elif qtype == "bm25":
            fn = lambda: eng.bm25_query(q, k=K)  # noqa: E731
            check = lambda r: check_topk(r, o.ranked_scores(q, bm25=True), K)  # noqa: E731
        else:
            fn = lambda: eng.boolean_query(q)  # noqa: E731
            check = lambda r: None if r == o.boolean(q) else (  # noqa: E731
                f"{len(r)} docs, oracle has {len(o.boolean(q))}"
            )
        return self.op(f"query.{qtype}", fn, check=check, record=record, query=q, **attrs)

    def make_query(self, qtype: str) -> str:
        qg = self.queries
        return {
            "ranked": qg.ranked, "ranked_wand": qg.ranked, "bm25": qg.ranked,
            "boolean": qg.boolean, "phrase": qg.phrase, "wildcard": qg.wildcard,
        }[qtype]()

    def query_loop(self) -> None:
        """Closed loop, one client, for ``seconds`` and at least the
        ``COUNTED_QUERIES`` queries the end-to-end work counts cover;
        queries are drawn up front so the sequence does not depend on
        timing."""
        plan = [(t, self.make_query(t)) for t in SCHEDULE * 20]
        t_start = time.perf_counter()
        n = 0
        for qtype, q in plan:
            if n >= COUNTED_QUERIES and time.perf_counter() - t_start >= self.seconds:
                break
            self.run_query(qtype, q, record=f"type.{qtype}", phase="mix", counted=n < COUNTED_QUERIES)
            n += 1
        self.values["mix_queries"] = n

    # ------------------------------------------------------------ writes
    def write_cycle(self, post_write_queries: bool) -> None:
        cycle = len(self.times.get("append", []))
        rng = np.random.default_rng([self.seed, cycle])
        n_convs = max(1, round(self.size["append_share"] * gen.convs_for_turns(self.size["turns"])))
        batch = gen.generate(int(rng.integers(1 << 31)), n_convs, self.vocab,
                             conv_prefix=f"a{cycle:04d}-", t0_seconds=10**7 * (cycle + 1))
        path = os.path.join(self.work, f"append_{cycle}.parquet")
        batch.write_parquet(path)
        span = self.size["block_span"]
        base = math.ceil(self.next_doc_id / span) * span
        info = self.write("append", lambda: self.eng.append(self.spark.read.parquet(path)))
        self.oracle.add(batch.texts(), base)
        self.next_doc_id = base + batch.n_turns
        self.attempted += 1
        if info.get("first_doc_id") != base or info.get("appended_docs") != batch.n_turns:
            self._fail(f"append returned {info}, expected first_doc_id {base}")
        self.after_write("append", post_write_queries)

        live = self.oracle.live_ids
        n_del = max(1, round(self.size["delete_share"] * live.size))
        ids = sorted(int(i) for i in rng.choice(live, n_del, replace=False))
        self.write("delete", lambda: self.eng.delete(ids))
        self.oracle.delete(ids)
        self.after_write("delete", post_write_queries)

    def after_write(self, write: str, ranked_too: bool) -> None:
        """Boolean check after every write; in ingest_mix also the first
        ranked query after it (the post-write refresh cost)."""
        if ranked_too:
            self.run_query("ranked", self.queries.ranked(), record="post_write", after=write)
        self.run_query("boolean", self.queries.boolean(), record="post_write_boolean", after=write)

    def compact_and_fsck(self) -> None:
        from search_engine_spark.fsck import fsck_index

        before = dir_bytes(self.index_dir)
        self.write("compact", self.eng.compact)
        self.oracle.compact()
        after = dir_bytes(self.index_dir)
        self.values["bytes_before_compact"] = before
        self.values["bytes_after_compact"] = after
        self.run_query("ranked", self.queries.ranked(), record="post_compact")
        self.run_query("boolean", self.queries.boolean(), record="post_compact_boolean")

        def clean(rows):
            bad = [(r["check"], r["violations"]) for r in rows if r["violations"]]
            return f"fsck violations {bad}" if bad else None

        self.op("fsck", lambda: fsck_index(self.spark, self.index_dir, deep=True).collect(),
                check=clean)

    # ------------------------------------------------------------ layers
    def layer_micro(self, texts: list[str]) -> None:
        """Traced runs only: analyzer and codec throughput in this process,
        on generated turns and on posting cells read from the index."""
        import pyarrow.parquet as pq

        from search_engine_spark.functions import codec
        from search_engine_spark.text import normalize

        cache_clear = getattr(getattr(normalize, "_analyze_token", None), "cache_clear", None)
        if cache_clear is not None:
            cache_clear()  # a fresh Python worker starts with an empty cache
        sample = texts[:2000]
        t0 = time.perf_counter()
        n_tokens = sum(len(normalize.analyze(t)) for t in sample)
        self.values["text.analyze_tokens_per_s"] = n_tokens / (time.perf_counter() - t0)

        try:
            with open(os.path.join(self.index_dir, "_meta.json")) as f:
                meta = json.load(f)
            post_dir = os.path.join(self.index_dir, meta.get("tables", {}).get("postings", "postings"))
            cells = []
            for root, _dirs, files in os.walk(post_dir):
                for name in sorted(files):
                    if name.endswith(".parquet"):
                        t = pq.read_table(os.path.join(root, name),
                                          columns=["postings_bin", "positions_bin"])
                        cells += zip(t["postings_bin"].to_pylist(), t["positions_bin"].to_pylist())
        except (OSError, KeyError, ValueError):
            return
        cells = cells[:20_000]
        t0 = time.perf_counter()
        decoded = []
        for pb, qb in cells:
            docs, tfs = codec.decode_postings(pb)
            decoded.append((docs, tfs, codec.decode_positions_flat(qb, tfs)))
        dt = time.perf_counter() - t0
        in_bytes = sum(len(pb) + len(qb) for pb, qb in cells)
        t0 = time.perf_counter()
        out_bytes = 0
        for docs, tfs, pos in decoded:
            out_bytes += len(codec.encode_postings(docs, tfs)) + len(codec.encode_positions(tfs, pos))
        et = time.perf_counter() - t0
        self.values["codec.decode_mb_per_s"] = in_bytes / 1e6 / dt if dt else 0.0
        self.values["codec.encode_mb_per_s"] = out_bytes / 1e6 / et if et else 0.0
        self.values["codec.cells"] = len(cells)

    # ------------------------------------------------------------ results
    def query_groups(self) -> list[tuple[float, list[dict]]]:
        """The queries the end-to-end query metrics cover, as (weight,
        spans) groups: the counted queries of the mix (``query_mix``), or
        the ranked query after appends and the one after deletes, half
        each (``ingest_mix``)."""
        if self.workload == "query_mix":
            return [(1.0, [s for t in dict.fromkeys(SCHEDULE) for s in self.spans.get(f"type.{t}", [])
                           if s["counted"]])]
        after = lambda w: [s for s in self.spans.get("post_write", []) if s["after"] == w]  # noqa: E731
        return [(0.5, after("append")), (0.5, after("delete"))]

    def per_query(self, field: str) -> float:
        """``field`` per query: the mean over each group, weighted by the
        group's share, so the value does not depend on how many queries
        a run got through."""
        groups = [(w, spans) for w, spans in self.query_groups() if spans]
        weight = sum(w for w, _ in groups)
        return sum(
            w * statistics.fmean(s[field] for s in spans) for w, spans in groups
        ) / weight if weight else 0.0

    def e2e(self) -> dict:
        """Set-up wall time, index size, and the Spark work per operation."""
        def count(key: str, field: str) -> int:
            spans = self.spans.get(key, [])
            return statistics.median_low(s[field] for s in spans) if spans else 0

        open_fq = [
            o["jobs"] + q["jobs"]
            for o, q in zip(self.spans.get("open", []), self.spans.get("first_query", []))
        ]
        build = self.spans.get("build", [])[-1:]  # the build of the index the run serves from
        return {
            "setup_s": self.session_s + self.generate_s + statistics.median(self.setup_times or [0.0]),
            "index_bytes_per_text_byte": getattr(self, "index_bytes", 0) / self.text_bytes,
            "build_jobs": build[0]["jobs"] if build else 0,
            "build_tasks": build[0]["tasks"] if build else 0,
            "first_query_jobs": statistics.median_low(open_fq) if open_fq else 0,
            "query_jobs": self.per_query("jobs"),
            "query_tasks": self.per_query("tasks"),
            "append_jobs": count("append", "jobs"),
            "append_tasks": count("append", "tasks"),
            "delete_jobs": count("delete", "jobs"),
        }

    def query_times(self) -> list[float]:
        """Wall-clock seconds of every query of the mix (``query_mix``) or
        every ranked query after a write (``ingest_mix``)."""
        keys = [f"type.{t}" for t in dict.fromkeys(SCHEDULE)] if self.workload == "query_mix" else ["post_write"]
        return [s["end"] - s["start"] for k in keys for s in self.spans.get(k, [])]

    def wall(self) -> dict:
        """Wall-clock latencies, for the report."""
        med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
        build_s = med(self.times.get("build", []))
        return {
            "session_s": self.session_s,
            "generate_s": self.generate_s,
            "setup_s": self.setup_times,
            "build_turns_per_s": self.corpus.n_turns / build_s if build_s else 0.0,
            "first_query_p50_s": med(self.times.get("open_first_query", [])),
            "query_p50_s": med(self.query_times()),
            "append_p50_s": med(self.times.get("append", [])),
            "delete_p50_s": med(self.times.get("delete", [])),
        }

    def result(self) -> tuple[dict, dict]:
        e2e = self.e2e()
        report = {
            "workload": self.workload,
            "seed": self.seed,
            "seconds": self.seconds,
            "trace": int(self.detail),
            "sizes": {
                **self.size,
                "turns": self.corpus.n_turns,
                "text_bytes": self.text_bytes,
                "index_bytes": getattr(self, "index_bytes", 0),
                "client": "closed loop, 1 client",
            },
            "e2e": e2e,
            "wall": self.wall(),
            "samples": {k: len(v) for k, v in self.times.items()},
            "wall_s": self.times,
            "jobs": {k: [r["jobs"] for r in v] for k, v in self.spans.items()},
            "tasks": {k: [r["tasks"] for r in v] for k, v in self.spans.items()},
            "values": self.values,
            "errors": self.errors,
        }
        if self.detail:
            from layers import per_layer

            metrics = per_layer(self)
            report["trace_overhead_s"] = self.tracer.self_s
        else:
            metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
        result = {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": metrics,
        }
        return result, report
