"""Per-layer metrics of a traced run, computed from its spans and op log.

Every workload reports every metric; a layer the workload does not exercise
reports 0.  NOTES.md names the end-to-end metric and workload each layer
metric should move.
"""

from __future__ import annotations

import statistics

SEARCH_KINDS = ("vec_sql", "vec_ann", "text_sql", "text_direct", "hybrid")
INGEST_KINDS = ("insert", "vec", "text")


def cache_state(spark) -> dict:
    """Keys of the program's memo layers, to count misses as growth."""
    from myscaledb_spark.functions import text
    from myscaledb_spark.plans import frame_cache

    stats = text._BM25_STATS_MEMO.get(spark, {})
    return {
        "frames": set(frame_cache._CACHE),
        "toked": set(text._TOKED_MEMO.get(spark, {})),
        "df_terms": sum(len(v["df"]) for v in stats.values()) + len(stats),
    }


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def per_layer(run, tracer, names) -> dict[str, float]:
    """The per-layer metrics ``names`` (BENCHMARK.json's per_layer list)."""
    ops = [r for r in run.ops if r["error"] is None and "spark" in r]
    timed = [r for r in ops if r["timed"]]
    by_op: dict[str, list] = {}
    for s, self_ms in tracer.self_ms():
        by_op.setdefault(s["op"], []).append((s, self_ms))

    timed_ids = {f"{i}:{r['kind']}" for i, r in enumerate(run.ops) if r["timed"]}

    def spans(name, op_kinds=None, timed_only=False):
        return [
            (s, ms) for op, ss in by_op.items() for s, ms in ss
            if s["name"] == name
            and (op_kinds is None or (op and op.split(":")[1] in op_kinds))
            and (not timed_only or op in timed_ids)
        ]

    def dur_ms(name, op_kinds=None, timed_only=False):
        return [(s["end"] - s["start"]) * 1e3
                for s, _ in spans(name, op_kinds, timed_only)]

    # deferred index work paid by reads: top-level index DDL inside read ops
    flush = []
    for op, ss in by_op.items():
        if op and op.split(":")[1] in ("vec", "text"):
            f = sum(
                (s["end"] - s["start"]) * 1e3 for s, _ in ss
                if s["name"] == "ddl.alter_index_ddl"
                and tracer.spans[s["parent"]]["name"] != "ddl.alter_index_ddl"
            )
            if f:
                flush.append((int(op.split(":")[0]), f))
    flush.sort()

    frames_calls = len(spans("frame_cache.cached_parquet"))
    frames_miss = sum(len(r["cache"][1]["frames"] - r["cache"][0]["frames"]) for r in ops)
    # text memos: a _resident_toked call without a following _resident_stats
    # call bypassed the memo (corpus too big or unhashable): a miss
    toked_calls = len(spans("text._resident_toked"))
    stats_calls = len(spans("text._resident_stats"))
    text_miss = (toked_calls - stats_calls) + sum(
        len(r["cache"][1]["toked"] - r["cache"][0]["toked"])
        + (r["cache"][1]["df_terms"] > r["cache"][0]["df_terms"])
        for r in ops
    )
    text_calls = toked_calls + stats_calls
    ann = [r for r in timed if r["kind"] in ("vec_ann", "text_direct")]

    m = dict(run.layer)
    m.update({
        "session.gc_ms": _mean(r["spark"]["gc_ms"] for r in timed),
        "session.jit_ms": _mean(r["spark"]["jit_ms"] for r in timed),
        "catalog.load_ms": _mean(dur_ms("catalog.load_table")),
        "sql_dialect.translate_ms": _mean(ms for _, ms in spans("sql_dialect.ch_sql")),
        "sql_search.route_ms": _mean(dur_ms("sql_search.maybe_search_query")),
        "table_ddl.insert_ms": _median(dur_ms("table_ddl.insert_into", ("insert",))),
        "table_ddl.flush_ms": _mean(f for _, f in flush),
        "table_ddl.flush_ms_first": flush[0][1] if flush else 0.0,
        "table_ddl.flush_ms_last": flush[-1][1] if flush else 0.0,
        "table_ddl.optimize_ms": _mean(dur_ms("table_ddl.optimize_final")),
        "mstg_index.build_s": _mean(dur_ms("mstg_index.build_mstg_index")) / 1e3,
        "fts_index.build_s": _mean(dur_ms("fts_index.build_fts_index")) / 1e3,
        # time inside each layer's search function, from its spans in timed
        # ops (every caller: direct ops and hybrid legs).  Functions that return a
        # lazy frame spend it routing and planning; execution follows in
        # the op's collect (spark.collect_ms)
        "mstg_index.search_ms": _median(dur_ms("mstg_index.mstg_search", timed_only=True)),
        "fts_index.search_ms": _median(dur_ms("fts_index.fts_search", timed_only=True)),
        "index.rows_per_result": _mean(r["spark"]["scan_rows"] / 10.0 for r in ann),
        "frame_cache.hit_rate": 1.0 - frames_miss / frames_calls if frames_calls else 0.0,
        "text.search_ms": _median(dur_ms("text.text_search", timed_only=True)),
        "text.memo_hit_rate": max(0.0, 1.0 - text_miss / text_calls) if text_calls else 0.0,
        # SQL distance() is a template rewrite into a Spark expression, so no
        # layer function runs: its top-k is the collect of those ops
        "vector.sql_topk_ms": _median(dur_ms("op.collect", ("vec_sql", "vec"), True)),
        "hybrid.search_ms": _median(dur_ms("hybrid.hybrid_search_indexed", timed_only=True)),
        "spark.collect_ms": _mean(dur_ms("op.collect", timed_only=True)),
        "hybrid.fuse_ms": _mean(dur_ms("hybrid._fuse_local")),
        "trace.op_overhead_ms": _mean(r["trace_ms"] for r in timed),
    })
    for key in ("jobs", "stages", "tasks", "catalyst_ms", "codegen_classes",
                "codegen_ms", "input_bytes", "shuffle_bytes"):
        m[f"spark.{key}"] = _mean(r["spark"][key] for r in timed)
    for kind in SEARCH_KINDS + INGEST_KINDS:
        m[f"jobs.{kind}"] = _mean(r["spark"]["jobs"] for r in timed if r["kind"] == kind)
    m.setdefault("table_ddl.parts", 0.0)  # set by ingest only
    return {k: float(m[k]) for k in names}
