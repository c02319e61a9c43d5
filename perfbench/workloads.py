"""The two workloads, driven through the program's public API.

One process, one closed-loop client: each op is sent after the previous one
returns.  Every op's output is kept and checked against the numpy oracles
after the timed region, so checking costs no measured time.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from contextlib import nullcontext

import numpy as np

import gen
import layers
import oracle
from sparkstats import Jvm, OpProbe

K = 10

#: search: corpus rows.  Below the program's 65,536-row switch to MLlib
#: k-means, sized so index builds fit the per-run time budget (NOTES.md)
SEARCH_ROWS = 2000
#: reads of each kind in one cycle (shuffled by the seed).  Latencies order
#: vec_sql < vec_ann < text ~ hybrid; over the run's cycles the weights put
#: the median in the middle of the vec_ann band and the tail (the
#: 11th-largest read) inside the hybrid band, several reads away from each
#: edge, so ANN speed moves p50_ms, hybrid speed moves tail_ms, and neither
#: percentile sits on a boundary between kinds.  NOTES.md gives what each
#: kind can move and by how much
SEARCH_MIX = {"vec_sql": 6, "vec_ann": 9, "text_sql": 1, "text_direct": 1, "hybrid": 6}
#: cycles = seconds / this.  The read count is fixed per run, not the time,
#: so a slow host cannot move the percentiles across kinds
SEARCH_SECONDS_PER_CYCLE = 10
#: search builds both indexes this many times: once cold before the reads
#: (the reads use that build), then once after each of the first read
#: cycles, into a scratch directory.  build_s is their mean: samples apart
#: in time average out some of the host's speed swings (NOTES.md)
SEARCH_BUILDS = 2

#: ingest: a base part, then one equal batch per round, so the table grows
#: by the same step each round and deferred index work shows its growth.
#: Every round is an INSERT followed by these reads, the first of which
#: pays the deferred index work.  Plain distance() reads are 3/4 of the
#: reads, so p50 and the tail both fall inside their latency range
#: (NOTES.md)
INGEST_BASE_ROWS = 250
INGEST_BATCH_ROWS = 500
INGEST_READS = ("vec", "text") + ("vec",) * 6
INGEST_SECONDS_PER_ROUND = 7  # rounds = seconds / this: fixed work per run

MSTG_DDL = "ALTER TABLE corpus ADD VECTOR INDEX vidx vector TYPE MSTG"
FTS_DDL = "ALTER TABLE corpus ADD INDEX fidx doc TYPE fts GRANULARITY 1"
INGEST_DDL = (
    "CREATE TABLE {t} (id UInt64, vector Array(Float32), doc String, cat Int32, "
    "VECTOR INDEX vidx vector TYPE MSTG, INDEX fidx doc TYPE fts GRANULARITY 1) "
    "ENGINE = MergeTree ORDER BY id"
)


def _vec_literal(q: np.ndarray) -> str:
    return "[" + ",".join(repr(float(x)) for x in q) + "]"


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


class Run:
    """State of one benchmark run: session, op log, optional tracer."""

    def __init__(self, run_dir: str, seed: int, seconds: int, tracer=None):
        self.dir = run_dir
        self.seconds = seconds
        self.tracer = tracer
        self.gen = gen.Generator(seed)
        self.mix_rng = np.random.default_rng(seed + 1)
        self.ops: list[dict] = []
        self.recalls: list[float] = []  # filled by the checks of ANN reads
        self.layer: dict[str, float] = {}
        self.info: dict[str, object] = {}
        self.spark = None
        self.jvm = None
        self.gen_s = 0.0  # input generation, excluded from setup_s
        self.t_start = time.perf_counter()

    def mark(self, phase: str) -> None:
        """Record when ``phase`` ended, in seconds since the run began."""
        self.info.setdefault("phases_s", {})[phase] = round(
            time.perf_counter() - self.t_start, 2)

    # -- session -----------------------------------------------------------
    def start_session(self):
        from myscaledb_spark.session import get_spark, tune_session

        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        tune_session(spark)
        self.spark = spark
        return spark

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    # -- ops ---------------------------------------------------------------
    def op(self, kind: str, fn, check=None, timed: bool = True) -> dict:
        """Run one op: ``fn()`` returns a DataFrame (collected here, inside
        the timed region) or a plain value.  ``check(rows)`` runs later."""
        rec = {"kind": kind, "timed": timed, "check": check, "rows": None,
               "error": None, "ms": None}
        n = len(self.ops)
        self.ops.append(rec)
        tr = self.tracer
        span = tr.span if tr else (lambda name: nullcontext())
        t_op = time.perf_counter()
        probe = OpProbe(self.jvm, f"perfbench-op-{n}") if tr else nullcontext()
        before = layers.cache_state(self.spark) if tr else None
        df = None
        try:
            with probe:
                if tr:
                    tr.op = f"{n}:{kind}"
                try:
                    with span("op." + kind):
                        t0 = time.perf_counter()
                        out = fn()
                        if hasattr(out, "collect"):
                            df = out
                            with span("op.collect"):
                                out = out.collect()
                        rec["ms"] = (time.perf_counter() - t0) * 1e3
                finally:
                    if tr:
                        tr.op = None
            rec["rows"] = out
        except Exception as e:  # an op that fails is counted, not fatal
            rec["error"] = f"{type(e).__name__}: {e}"[:300]
        if tr and rec["error"] is None:
            rec["cache"] = (before, layers.cache_state(self.spark))
            rec["spark"] = dict(probe.stats)
            rec["spark"]["catalyst_ms"] = self.jvm.catalyst_ms(df) if df is not None else 0.0
            # what tracing added to this op, outside its timed region
            rec["trace_ms"] = (time.perf_counter() - t_op) * 1e3 - rec["ms"]
        return rec

    def verify(self) -> tuple[int, int]:
        """(attempted, failed): failed counts exceptions and oracle misses."""
        failed = 0
        for rec in self.ops:
            if rec["error"] is None and rec["check"] is not None:
                rec["error"] = rec["check"](rec["rows"])
            if rec["error"] is not None:
                failed += 1
        bad = [r for r in self.ops if r["error"]]
        if bad:
            self.info["first_error"] = f"{bad[0]['kind']}: {bad[0]['error']}"
        return len(self.ops), failed

    def read_latencies(self, kinds=None) -> list[float]:
        return [
            r["ms"] for r in self.ops
            if r["timed"] and r["ms"] is not None and r["error"] is None
            and (kinds is None or r["kind"] in kinds)
        ]

    def stored_bytes(self, artifact_dir: str) -> int:
        """Index artifacts on disk + Spark block-manager bytes of persisted
        and checkpointed frames."""
        sc = self.spark.sparkContext._jsc.sc()
        cached = sum(
            int(i.memSize()) + int(i.diskSize()) for i in sc.getRDDStorageInfo()
        )
        return dir_bytes(artifact_dir) + cached

    def latency_metrics(self, kinds=None) -> dict[str, float]:
        """Median read latency, and the tail: the highest percentile with at
        least 10 samples beyond it, i.e. the 11th-largest latency."""
        reads = sorted(
            (r["ms"], r["kind"]) for r in self.ops
            if r["timed"] and r["ms"] is not None and r["error"] is None
            and (kinds is None or r["kind"] in kinds)
        )
        s = [ms for ms, _ in reads]
        n = len(s)
        self.info["tail"] = f"p{100.0 * max(0, n - 10) / n:.0f} of {n} reads"
        # which kind each read is, fastest first: shows the band each
        # percentile falls in
        self.info["kinds_by_rank"] = [k for _, k in reads]
        self.info["p50_ms_by_kind"] = {
            k: round(statistics.median(self.read_latencies((k,))), 1)
            for k in sorted({k for _, k in reads})
        }
        self.info["untimed_ms"] = [
            (r["kind"], round(r["ms"])) for r in self.ops
            if not r["timed"] and r["ms"] is not None
        ]
        return {"p50_ms": statistics.median(s), "tail_ms": s[max(0, n - 11)]}

    def setup(self, steps) -> float:
        """Start the session, then ``steps()`` (load, table creation).
        Returns setup_s: the cold path from process start (interpreter,
        program import, JVM launch, session, load, table creation) until
        set-up ends, less data generation, which is reported apart."""
        t0 = time.perf_counter()
        self.start_session()
        self.layer["session.start_s"] = time.perf_counter() - t0
        steps()
        self.jvm = Jvm(self.spark)
        return time.perf_counter() - self.t_start - self.gen_s


def _capture_vector_legs() -> list:
    """Record the vector-leg candidates ``(id, dist)`` of every hybrid
    search, as its fusion step receives them, so the leg's recall is
    measured without re-running it.  The program calls its fusion step
    through the module global ``operators.hybrid._fuse_local``; the hook
    stays for the rest of the run."""
    from myscaledb_spark.operators import hybrid

    fuse = hybrid._fuse_local
    legs: list = []

    def capture(spark, id_type, vec_rows, *args, **kwargs):
        legs.append(list(vec_rows))
        return fuse(spark, id_type, vec_rows, *args, **kwargs)

    hybrid._fuse_local = capture
    return legs


# ---------------------------------------------------------------------------
# search: indexed once, then a fixed, seeded mix of five read kinds
# ---------------------------------------------------------------------------

def search(run: Run) -> dict[str, float]:
    from myscaledb_spark.catalog import load_table
    from myscaledb_spark.functions.text import text_search
    from myscaledb_spark.operators.hybrid import hybrid_search_indexed
    from myscaledb_spark.plans.ddl import alter_index_ddl, search_index
    from myscaledb_spark.sql_dialect import ch_sql

    g = run.gen
    t = time.perf_counter()
    rows = g.rows(0, SEARCH_ROWS)
    input_bytes = gen.write_parquet(rows, os.path.join(run.dir, "corpus.parquet"))
    corpus = oracle.Corpus(rows)
    run.gen_s = time.perf_counter() - t
    run.info["gen_s"] = round(run.gen_s, 3)
    art = os.path.join(run.dir, "art")
    state = {}

    def steps():
        df = load_table(run.spark, run.dir, "corpus")
        df.createOrReplaceTempView("corpus")
        state["df"] = df

    setup_s = run.setup(steps)
    run.mark("setup")
    spark, df = run.spark, state["df"]
    legs = _capture_vector_legs()

    def build(path: str) -> float:
        t = time.perf_counter()
        alter_index_ddl(spark, MSTG_DDL, df, "id", path)
        alter_index_ddl(spark, FTS_DDL, df, "id", path)
        return time.perf_counter() - t

    builds = [build(art)]
    run.mark("build")

    recalls = run.recalls

    def read(kind: str, timed: bool = True):
        q = g.query_vector()
        qt = g.query_text()
        if kind == "vec_sql":
            c = g.cat()
            sql = (f"SELECT id, distance(vector, {_vec_literal(q)}) AS d FROM corpus "
                   f"WHERE cat = {c} ORDER BY d LIMIT {K}")
            run.op(kind, lambda: ch_sql(spark, sql), timed=timed, check=lambda r: oracle.check_vector(
                corpus, q, K, [(x["id"], x["d"]) for x in r], cat=c))
        elif kind == "vec_ann":
            def check(r):
                got = [(x["vec_id"], x["dist"]) for x in r]
                recalls.append(oracle.recall(corpus, q, K, [i for i, _ in got]))
                return oracle.check_ann(corpus, q, K, got)
            run.op(kind, lambda: search_index(spark, art, "vidx", q.tolist(), K),
                   timed=timed, check=check)
        elif kind == "text_sql":
            sql = (f"SELECT id, textsearch(doc, '{qt}') AS s FROM corpus "
                   f"ORDER BY s DESC LIMIT {K}")
            run.op(kind, lambda: ch_sql(spark, sql), timed=timed, check=lambda r: oracle.check_text(
                corpus, qt, K, [(x["id"], x["s"]) for x in r]))
        elif kind == "text_direct":
            run.op(kind, lambda: text_search(
                df, "doc", qt, K, id_col="id", artifact_dir=art, index_name="fidx"),
                timed=timed, check=lambda r: oracle.check_text(
                    corpus, qt, K, [(x["id"], x["bm25_score"]) for x in r]))
        else:
            slot = len(legs)

            def check(r):
                err = oracle.check_hybrid(corpus, K, [(x["id"], x["fusion_score"]) for x in r])
                if err:
                    return err
                if len(legs) <= slot:
                    return "hybrid: no vector leg seen"
                # the vector leg's candidates, as the fusion received them
                leg = sorted(legs[slot], key=lambda c: (c[1], c[0]))[:K]
                recalls.append(oracle.recall(corpus, q, K, [i for i, _ in leg]))
                return oracle.check_ann(corpus, q, K, leg)
            run.op(kind, lambda: hybrid_search_indexed(
                spark, art, df, "doc", q.tolist(), qt, K, "id", index_kind="mstg",
                index_name="vidx", fts_name="fidx", fusion_type="rsf"),
                timed=timed, check=check)

    # warm every kind up: first calls pay JIT, codegen and cache fills
    for kind in SEARCH_MIX:
        read(kind, timed=False)
    run.mark("warm-up")
    cycle = [k for k, n in SEARCH_MIX.items() for _ in range(n)]
    window = 0.0
    for _ in range(max(1, round(run.seconds / SEARCH_SECONDS_PER_CYCLE))):
        t0 = time.perf_counter()
        for i in run.mix_rng.permutation(len(cycle)):
            read(cycle[i])
        window += time.perf_counter() - t0
        if len(builds) < SEARCH_BUILDS:
            # a later build, into a scratch directory the reads never see
            scratch = os.path.join(run.dir, f"art-{len(builds)}")
            builds.append(build(scratch))
            shutil.rmtree(scratch, ignore_errors=True)
    run.info["build_s_each"] = [round(b, 3) for b in builds]
    run.mark("reads")

    stored = run.stored_bytes(art)
    lat = run.read_latencies()
    metrics = {"setup_s": setup_s, "build_s": statistics.fmean(builds)}
    metrics.update(run.latency_metrics())
    metrics["qps"] = len(lat) / window
    metrics["stored_bytes_per_input_byte"] = stored / float(input_bytes)
    return metrics


# ---------------------------------------------------------------------------
# ingest: INSERT rounds into an indexed MergeTree table, reads after each
# ---------------------------------------------------------------------------

def ingest(run: Run) -> dict[str, float]:
    from myscaledb_spark.catalog import load_table
    from myscaledb_spark.plans.table_ddl import TABLES, ch_script

    g = run.gen
    rounds = max(2, round(run.seconds / INGEST_SECONDS_PER_ROUND))
    t = time.perf_counter()
    batches = [g.rows(0, INGEST_BASE_ROWS)]
    for r in range(1, rounds + 1):
        batches.append(g.rows(sum(len(b["id"]) for b in batches), INGEST_BATCH_ROWS))
    # all batches staged in one parquet file, told apart by a batch column
    staged = gen.concat(batches)
    staged["batch"] = np.repeat(np.arange(len(batches), dtype=np.int32),
                                [len(b["id"]) for b in batches])
    input_bytes = gen.write_parquet(staged, os.path.join(run.dir, "staged.parquet"))
    run.gen_s = time.perf_counter() - t
    run.info["gen_s"] = round(run.gen_s, 3)
    table, art = "t", os.path.join(run.dir, "art")
    os.makedirs(art)

    def steps():
        load_table(run.spark, run.dir, "staged").createOrReplaceTempView("staged")
        ch_script(run.spark, INGEST_DDL.format(t=table), artifact_dir=art)

    setup_s = run.setup(steps)
    run.mark("setup")
    spark = run.spark
    corpora: list[oracle.Corpus] = []

    def insert(r: int):
        sql = f"INSERT INTO {table} SELECT id, vector, doc, cat FROM staged WHERE batch = {r}"
        corpora.append(oracle.Corpus(gen.concat(batches[: r + 1])))
        return run.op("insert", lambda: ch_script(spark, sql, artifact_dir=art))

    def read(kind: str, timed: bool = True):
        corpus = corpora[-1]
        if kind == "vec":
            q = g.query_vector()
            sql = (f"SELECT id, distance(vector, {_vec_literal(q)}) AS d FROM {table} "
                   f"ORDER BY d LIMIT {K}")

            def check(rows):
                got = [(x["id"], x["d"]) for x in rows]
                recalls.append(oracle.recall(corpus, q, K, [i for i, _ in got]))
                return oracle.check_vector(corpus, q, K, got)
        else:
            qt = g.query_text()
            sql = (f"SELECT id, textsearch(doc, '{qt}') AS s FROM {table} "
                   f"ORDER BY s DESC LIMIT {K}")

            def check(rows):
                return oracle.check_text(corpus, qt, K, [(x["id"], x["s"]) for x in rows])
        return run.op(kind, lambda: ch_script(spark, sql, artifact_dir=art),
                      check=check, timed=timed)

    recalls = run.recalls
    # the base part: searchable once its first read returns (cold, and
    # reported apart; build_s is the rounds' mean, below)
    t = time.perf_counter()
    insert(0)["timed"] = False
    read("vec", timed=False)
    run.info["base_build_s"] = round(time.perf_counter() - t, 3)
    run.mark("build")

    inserts, fresh = [], []
    t0 = time.perf_counter()
    for r in range(1, len(batches)):
        ins = insert(r)
        first = read(INGEST_READS[0])
        for kind in INGEST_READS[1:]:
            read(kind)
        if ins["ms"] is not None and first["ms"] is not None:
            inserts.append(ins["ms"])
            fresh.append(first["ms"])
    window = time.perf_counter() - t0
    run.mark("rounds")
    ins_rows = sum(len(b["id"]) for b in batches[1:])
    run.op("optimize", lambda: ch_script(spark, f"OPTIMIZE TABLE {table} FINAL", artifact_dir=art),
           timed=False)
    run.layer["table_ddl.parts"] = float(TABLES.get(table, {}).get("n_parts", 0))
    run.mark("optimize")

    stored = run.stored_bytes(art)
    lat = run.read_latencies(("vec", "text"))
    # each round's batch is searchable once the first read after its
    # INSERT returns: deferred index work lands in that read
    searchable = [(i + f) / 1e3 for i, f in zip(inserts, fresh)]
    metrics = {"setup_s": setup_s,
               "build_s": statistics.fmean(searchable) if searchable else window}
    metrics.update(run.latency_metrics(("vec", "text")))
    metrics["qps"] = len(lat) / window
    metrics["stored_bytes_per_input_byte"] = stored / float(input_bytes)
    run.info.update(
        insert_p50_ms=statistics.median(inserts) if inserts else None,
        fresh_ms=statistics.median(fresh) if fresh else None,
        rows_per_s=ins_rows / ((sum(inserts) + sum(fresh)) / 1e3) if fresh else None,
        fresh_ms_by_round=[round(x, 1) for x in fresh],
        rounds=len(batches) - 1,
    )
    return metrics


WORKLOADS = {"search": search, "ingest": ingest}
