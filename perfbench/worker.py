"""One fresh benchmark process: set up, run one workload, check its outputs.

Started by run.py, which times this process from its launch. The worker
reports when it became ready, its per-operation latencies (each with the
same operation's DuckDB time, measured right after it), the output checks
and, in the traced run, spans and Spark counters. It writes one JSON result
file and exits.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import statistics
import sys
import time

import pandas as pd
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.config import (  # noqa: E402
    COLD_WARMUP_REPS,
    NER_LAYER_SLICES,
    NER_REPLAY_BATCH,
    NER_FIRST_OPS,
    NER_WARMUP_OPS,
    OLAP_MIN_ROUNDS,
    OLAP_QUERIES,
    TABLE_NAMES,
)
from perfbench.gen import query_rounds, slice_order, write_ner_model  # noqa: E402
from perfbench.procs import comm, process_tree, rss_bytes  # noqa: E402
from perfbench.spans import SparkCounters, Tracer, phases_ms, wrap_method  # noqa: E402

NER_SQL = "SELECT doc_id, ner(text) AS entities FROM docs WHERE slice = {k}"


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def seconds(fn) -> float:
    t = time.perf_counter()
    fn()
    return time.perf_counter() - t


def duckdb_con(data_dir: str, threads: int):
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads = {threads}")
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def check_olap(spark, queries, oracles, data_dir: str, threads: int) -> list[dict]:
    """Each query's collected result against its DuckDB oracle, compared with
    the repository's differential-gate normalization. The oracle side runs in
    a thread while Spark collects (this is outside every timed region)."""
    from concurrent.futures import ThreadPoolExecutor

    from tools.selfcheck import normalize

    def oracle_side():
        con = duckdb_con(data_dir, threads)
        try:
            out = {}
            for name in OLAP_QUERIES:
                odf = con.execute(oracles[name]).df()
                out[name] = (sorted(odf.columns), len(odf), normalize(odf))
            return out
        finally:
            con.close()

    with ThreadPoolExecutor(1) as pool:
        fut = pool.submit(oracle_side)
        got = {name: queries[name](spark, data_dir).toPandas() for name in OLAP_QUERIES}
        want = fut.result()
    out = []
    for name in OLAP_QUERIES:
        sdf = got[name]
        cols, n, rows = want[name]
        ok = sorted(sdf.columns) == cols and len(sdf) == n and normalize(sdf) == rows
        out.append({"op": name, "ok": ok, "rows": len(sdf)})
    return out


def cold_warmup(spark, scratch_dir: str) -> None:
    """Query-neutral engine warmup on synthetic data (the shapes of the
    repository's cold-pass warmup): loads and JIT-compiles the scheduler,
    Catalyst, codegen, the parquet reader, broadcast exchange and the Arrow
    UDF runner, and fills the Python worker pool. Touches no benchmark table
    or plan."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.window import Window

    wdir = os.path.join(scratch_dir, "warmup_parquet")
    (
        spark.range(0, 10000, 1, 4)
        .withColumn("k", F.col("id") % 100)
        .withColumn("s", F.col("id").cast("string"))
        .write.mode("overwrite")
        .parquet(wdir)
    )

    @pandas_udf("long")
    def ident(s: pd.Series) -> pd.Series:
        return s

    for i in range(COLD_WARMUP_REPS):
        w = spark.range(0, 10000, 1, 4).withColumn("k", F.col("id") % (97 + i))
        w.groupBy("k").agg(F.sum("id").alias("a"), F.avg("id").alias("b")).count()
        w.join(w.select((F.col("id") + i).alias("id2")), F.col("id") == F.col("id2")).count()
        w.withColumn(
            "rn", F.row_number().over(Window.partitionBy("k").orderBy(F.col("id") + i))
        ).filter(F.col("rn") <= 3).count()
        p = spark.read.parquet(wdir).filter(F.col("k") > i)
        p.join(
            F.broadcast(spark.range(50).withColumnRenamed("id", "k2")),
            F.col("k") == F.col("k2"),
        ).count()
        p.select(ident(F.col("id") + i)).count()
        p.orderBy("s").limit(10).count()
    spark.range(0, 3200, 1, spark.sparkContext.defaultParallelism).select(
        ident(F.col("id"))
    ).count()


def start_python_workers(spark) -> None:
    """One identity pandas-UDF task per core: starts the Python UDF workers
    (the same for every query), as the olap warmup's last step does."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def ident(s: pd.Series) -> pd.Series:
        return s

    n = spark.sparkContext.defaultParallelism
    spark.range(0, 800 * n, 1, n).select(ident(F.col("id"))).count()


class DuckNer:
    """The ner_bert query in DuckDB, with ner() as a vectorized Arrow scalar
    UDF that evaluates the benchmark's fixed per-row model
    (perfbench/refner.py) on the same weights: the reference's shape, a
    DuckDB scalar function running the model per row. DuckDB runs it on one
    thread: the Python UDF holds the GIL, and four threads made the twin
    slower and noisier (median 0.87 s against 0.75 s per slice, with twice
    the range)."""

    def __init__(self, docs_dir: str, model_path: str):
        import duckdb
        import pyarrow as pa

        from duckdb_ner_spark.ner.decode import decode_entities
        from duckdb_ner_spark.ner.tokenizer import tokenize
        from perfbench.refner import RowBert

        model = RowBert(model_path)
        rtype = pa.list_(pa.struct([("entity", pa.string()), ("label", pa.string())]))

        def ner_arrow(texts):
            out = []
            for v in texts.to_pylist():
                if v is None:
                    out.append(None)
                    continue
                toks = tokenize(model.vocab, v, model.n_max_tokens)
                ents = decode_entities(toks, model.logits(toks), model.vocab.id_to_token)
                out.append([{"entity": e, "label": lb} for e, lb in ents])
            return pa.array(out, type=rtype)

        self.con = duckdb.connect()
        self.con.execute("SET threads = 1")
        self.con.create_function(
            "ner", ner_arrow, ["VARCHAR"], "STRUCT(entity VARCHAR, label VARCHAR)[]",
            type="arrow",
        )
        self.src = os.path.join(docs_dir, "*.parquet")

    def run(self, k: int) -> None:
        self.con.execute(
            f"SELECT doc_id, ner(text) AS entities FROM '{self.src}' WHERE slice = {k}"
        ).fetch_arrow_table()


class Run:
    def __init__(self, args):
        self.args = args
        self.tracer = Tracer(bool(args.trace))
        self.ops: list[dict] = []  # timed operations
        self.first: list[dict] = []  # first-ever executions
        self.checks: list[dict] = []
        self.layers: dict = {}
        self.detail: dict = {}
        self.counters: SparkCounters | None = None
        self.phase_t: dict[str, float] = {}
        self.cache_fill_s = 0.0
        self.n_ops = 0

    def phase(self, name: str) -> None:
        self.phase_t[name] = time.time()

    def setup_session(self) -> None:
        from duckdb_ner_spark import NerEngine
        from duckdb_ner_spark.session import get_spark

        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(f"perfbench-{self.args.workload}")
        with self.tracer.span("functions.register_ner"):
            self.engine = NerEngine(self.spark)
        self.cores = self.spark.sparkContext.defaultParallelism
        if self.tracer.enabled:
            from duckdb_ner_spark.sources.catalog import Catalog

            wrap_method(self.tracer, Catalog, "table", "sources.catalog_table")
            self.counters = SparkCounters(self.spark)

    def timed(self, op: str, fn, record: list, **attrs):
        """Run ``fn`` as one operation; in the traced run also collect the
        stage/codegen/SQL counters it caused (outside its latency)."""
        cg0 = self.counters.codegen() if self.counters else None
        gc0 = self.counters.gc_s() if self.counters else None
        self.n_ops += 1
        self.tracer.op_id = op_id = f"{op}#{self.n_ops}"
        with self.tracer.span("op", query=op):
            t = time.perf_counter()
            result = fn()
            lat = time.perf_counter() - t
        rec = {"op": op, "op_id": op_id, "latency_s": lat, **attrs}
        if self.counters:
            cg1 = self.counters.codegen()
            rec["codegen_compiles"] = cg1[0] - cg0[0]
            rec["codegen_s"] = cg1[1] - cg0[1]
            rec["gc_s"] = self.counters.gc_s() - gc0
            rec.update(self.counters.stage_delta())
            rec.update(self.counters.arrow_delta())
        self.tracer.op_id = None
        record.append(rec)
        return result

    @staticmethod
    def twin(rec: dict, fn) -> None:
        """Time the same operation in DuckDB right after Spark ran it."""
        rec["duckdb_s"] = seconds(fn)

    def cold_duckdb(self, sql: str) -> float:
        """``sql`` as the first query of a fresh DuckDB connection."""
        con = duckdb_con(self.args.data, self.cores)
        s = seconds(lambda: con.execute(sql).fetch_arrow_table())
        con.close()
        return s

    # --------------------------------------------------------------- olap
    def olap_op(self, name: str, record: list) -> None:
        prev = self.last_df.get(name)

        def go():
            with self.tracer.span("operators.build", query=name):
                df = self.queries[name](self.spark, self.args.data)
            with self.tracer.span("action.noop", query=name):
                noop(df)
            return df

        df = self.timed(name, go, record)
        record[-1]["plan_cache_hit"] = prev is df
        self.last_df[name] = df

    def olap(self) -> None:
        """Fresh process: query-neutral warmup, the cold pass (each query's
        first-ever execution), cached tables, the output check, then warm
        rounds in seed-shuffled order until the time is up."""
        import duckdb_ner_spark.operators  # noqa: F401  (registers queries)
        from duckdb_ner_spark.plans.registry import ORACLES, QUERIES, clear_plan_cache
        from duckdb_ner_spark.sources.catalog import TABLES, load_tables

        a = self.args
        self.queries, self.last_df = QUERIES, {}
        self.setup_session()
        cat = load_tables(self.spark, a.data)
        with self.tracer.span("setup.cold_warmup"):
            cold_warmup(self.spark, a.scratch)
        self.ready = time.time()
        if self.counters:
            self.counters.mark()

        rounds = query_rounds(a.seed, 64)
        self.phase("cold_pass")
        for name in rounds[0]:
            # cold twins right before and right after, so host speed drift
            # during the Spark execution cancels in the ratio
            before = self.cold_duckdb(ORACLES[name])
            self.olap_op(name, self.first)
            self.first[-1]["duckdb_s"] = (before + self.cold_duckdb(ORACLES[name])) / 2
        if self.tracer.enabled:
            # phases of freshly built DataFrames only: a plan-cached one
            # reports the phases of its first build
            self.layers["phases"] = [phases_ms(self.last_df[n]) for n in OLAP_QUERIES]

        # steady state: drop the cold plans (they predate the table cache)
        # and cache every table; the check's executions then warm the plans
        clear_plan_cache()
        self.phase("cache_fill")
        t = time.perf_counter()
        with self.tracer.span("sources.cache_fill"):
            for name in TABLES:
                cat.table(name).cache().count()
        self.cache_fill_s = time.perf_counter() - t
        self.phase("check")
        self.checks = check_olap(self.spark, QUERIES, ORACLES, a.data, self.cores)
        self.last_df = {n: QUERIES[n](self.spark, a.data) for n in OLAP_QUERIES}
        con = duckdb_con(a.data, self.cores)
        if self.counters:
            self.counters.mark()

        self.phase("timed")
        spark_s, used = 0.0, 0
        for order in rounds[1:]:
            if used >= OLAP_MIN_ROUNDS and spark_s >= a.seconds:
                break
            used += 1
            for name in order:
                self.olap_op(name, self.ops)
                spark_s += self.ops[-1]["latency_s"]
                self.twin(self.ops[-1], lambda: con.execute(ORACLES[name]).fetch_arrow_table())
        con.close()
        self.detail["query_orders"] = rounds[: 1 + used]
        n = len(OLAP_QUERIES)
        for key, part in (("round_spark_s", "latency_s"), ("round_duckdb_s", "duckdb_s")):
            self.detail[key] = [
                sum(o[part] for o in self.ops[i:i + n]) for i in range(0, len(self.ops), n)]

        if self.tracer.enabled:
            # the ner and functions layers over this workload's documents
            # (the table the repository's q_ner_bert reads)
            self.phase("layers")
            model = os.path.join(a.scratch, "ner_model.bin")
            write_ner_model(model)
            path = os.path.join(a.data, "documents.parquet")
            self.spark.read.parquet(path).createOrReplaceTempView("olap_documents")
            texts = pq.read_table(path, columns=["text"]).column("text").to_pylist()

            def boundary():
                noop(self.spark.sql("SELECT doc_id, ner(text) AS entities FROM olap_documents"))

            self.ner_layers(model, texts, {"nomodel_documents": boundary})

    # ---------------------------------------------------------------- ner
    def ner(self) -> None:
        a = self.args
        self.setup_session()
        with self.tracer.span("ner.set_model_path"):
            self.engine.set_model_path(a.model)
        with self.tracer.span("sources.read_parquet"):
            self.spark.read.parquet(a.docs).createOrReplaceTempView("docs")
        # query-neutral, as on olap: the first ner() operation then pays for
        # the model and the NER plan, not for forking Python workers, whose
        # start-up time varied by half between runs
        with self.tracer.span("setup.python_workers"):
            start_python_workers(self.spark)
        self.ready = time.time()
        if self.counters:
            self.counters.mark()

        order = slice_order(a.seed, 10_000)

        def op(k: int):
            def go():
                with self.tracer.span("plans.sql"):
                    df = self.spark.sql(NER_SQL.format(k=k))
                with self.tracer.span("action.noop"):
                    noop(df)
                return df
            return go

        self.phase("first_op")
        # cold twins (the slice as a fresh DuckDB connection's first query)
        # right before and right after, as on olap
        fresh = DuckNer(a.docs, a.model)
        before = seconds(lambda: fresh.run(order[0]))
        fresh.con.close()
        self.timed(f"slice{order[0]}", op(order[0]), self.first, slice=order[0])
        duck = DuckNer(a.docs, a.model)
        self.first[-1]["duckdb_s"] = (before + seconds(lambda: duck.run(order[0]))) / 2
        self.phase("check")
        self.checks = self.check_ner(order[1])
        self.phase("first_ops")
        for k in order[2:1 + NER_FIRST_OPS]:
            self.timed(f"slice{k}", op(k), self.first, slice=k)
            self.twin(self.first[-1], lambda: duck.run(k))
        warm_end = 1 + NER_FIRST_OPS + NER_WARMUP_OPS
        for k in order[1 + NER_FIRST_OPS:warm_end]:
            self.timed(f"slice{k}", op(k), [], slice=k)
        if self.counters:
            self.counters.mark()

        self.phase("timed")
        spark_s, i = 0.0, warm_end
        phases = []
        while not self.ops or spark_s < a.seconds:
            k = order[i]
            df = self.timed(f"slice{k}", op(k), self.ops, slice=k)
            if self.tracer.enabled:
                phases.append(phases_ms(df))  # every operation builds afresh
            spark_s += self.ops[-1]["latency_s"]
            self.twin(self.ops[-1], lambda: duck.run(k))
            i += 1
        self.detail["slice_order"] = order[:i]
        if self.tracer.enabled:
            self.layers["phases"] = phases
            self.phase("layers")
            slices = list(dict.fromkeys(o["slice"] for o in self.ops))[:NER_LAYER_SLICES]
            texts = [t for k in slices for t in self.slice_rows(k)[1]]
            self.ner_layers(a.model, texts, {f"nomodel{k}": op(k) for k in slices})
            self.engine.set_model_path(a.model)
            # sources layer on this workload: what caching its input costs
            docs = self.spark.table("docs")
            t = time.perf_counter()
            with self.tracer.span("sources.cache_fill"):
                docs.cache().count()
            self.layers["cache_fill_s"] = time.perf_counter() - t
            docs.unpersist()

    def slice_rows(self, k: int) -> tuple[list[int], list[str]]:
        import pyarrow.dataset as ds

        t = ds.dataset(self.args.docs).to_table(filter=ds.field("slice") == k)
        t = t.sort_by("doc_id")
        return t.column("doc_id").to_pylist(), t.column("text").to_pylist()

    def check_ner(self, k: int) -> list[dict]:
        """Spark's ner() output, row for row, against an unbatched per-row
        tokenize → eval_tokens → decode_entities replay."""
        from duckdb_ner_spark.ner.decode import decode_entities
        from duckdb_ner_spark.ner.model import load_model
        from duckdb_ner_spark.ner.tokenizer import tokenize

        got = {
            r["doc_id"]: [(e["entity"], e["label"]) for e in r["entities"]]
            for r in self.spark.sql(NER_SQL.format(k=k)).collect()
        }
        model = load_model(self.args.model)
        ids, texts = self.slice_rows(k)
        out = []
        for doc_id, text in zip(ids, texts):
            toks = tokenize(model.vocab, text, model.n_max_tokens)
            want = decode_entities(toks, model.eval_tokens(toks), model.vocab.id_to_token)
            out.append({"op": f"doc{doc_id}", "ok": got.get(doc_id) == want})
        if len(got) != len(ids):
            out.append({"op": f"slice{k}.rowcount", "ok": False})
        return out

    def ner_layers(self, model_path: str, texts: list[str], boundary_ops: dict) -> None:
        """functions.udf_boundary (the ``boundary_ops`` run through ner() with
        no model set) and the in-process tokenize → eval_tokens_batch →
        decode_entities replay of ``texts``."""
        from duckdb_ner_spark.ner.decode import decode_entities
        from duckdb_ner_spark.ner.model import load_model
        from duckdb_ner_spark.ner.tokenizer import tokenize

        self.engine.set_model_path(None)
        boundary: list[dict] = []
        for name, fn in boundary_ops.items():
            self.timed(name, fn, boundary)
        self.layers["udf_boundary"] = boundary

        loads = []
        for _ in range(3):
            t = time.perf_counter()
            model = load_model(model_path)
            loads.append(time.perf_counter() - t)
        # count forward passes by wrapping the model instance from outside
        calls = {"n": 0, "rows": 0}
        forward = getattr(model, "_forward", None)
        if forward is not None:
            def counted(ids):
                calls["n"] += 1
                calls["rows"] += len(ids)
                return forward(ids)

            model._forward = counted
        tok_s = fwd_s = dec_s = 0.0
        n_tokens = 0
        for b in range(0, len(texts), NER_REPLAY_BATCH):
            batch = texts[b:b + NER_REPLAY_BATCH]
            with self.tracer.span("ner.tokenize"):
                t = time.perf_counter()
                toks = [tokenize(model.vocab, x, model.n_max_tokens) for x in batch]
                tok_s += time.perf_counter() - t
            n_tokens += sum(len(x) for x in toks)
            with self.tracer.span("ner.eval_tokens_batch"):
                t = time.perf_counter()
                logits = model.eval_tokens_batch(toks)
                fwd_s += time.perf_counter() - t
            with self.tracer.span("ner.decode_entities"):
                t = time.perf_counter()
                for x, lg in zip(toks, logits):
                    decode_entities(x, lg, model.vocab.id_to_token)
                dec_s += time.perf_counter() - t
        self.layers["ner"] = {
            "replayed_docs": len(texts),
            "model_load_s": statistics.median(loads),
            "tokenize_s": tok_s,
            "forward_s": fwd_s,
            "decode_s": dec_s,
            "tokens": n_tokens,
            "forward_calls": calls["n"],
            "forward_rows": calls["rows"],
        }

    def live_memory_mb(self) -> float:
        """Memory the session keeps at the end of the run: JVM heap in use
        after full GCs, plus JVM non-heap (metaspace, code cache), plus the
        resident memory of the Python processes (this worker, the PySpark
        daemon, UDF workers). The JVM's own RSS is not used: its free heap
        follows G1's adaptive sizing and varies by a third between runs.
        Python's collection goes first, because Py4J proxies it frees release
        the JVM objects they pin; the pauses let Spark's context cleaner drop
        what finished jobs held (one pass left 260 MB more heap in some runs)."""
        jvm = self.spark._jvm
        for _ in range(3):
            gc.collect()
            jvm.System.gc()
            time.sleep(1.0)
        mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        heap_used = mem.getHeapMemoryUsage().getUsed() / 2**20
        non_heap = mem.getNonHeapMemoryUsage().getCommitted() / 2**20
        rss: dict[str, list[float]] = {}
        for p in process_tree(os.getpid()):
            rss.setdefault(comm(p), []).append(rss_bytes(p) / 2**20)
        python = sum(sum(v) for k, v in rss.items() if k.startswith("python"))
        self.detail["memory_at_end_mb"] = {
            "jvm_heap_used": heap_used, "jvm_non_heap": non_heap, "rss_by_process": rss}
        return heap_used + non_heap + python

    # ---------------------------------------------------------------- main
    def main(self) -> dict:
        if self.args.workload == "ner_bert":
            self.ner()
        else:
            self.olap()
        self.phase("end")
        self.detail["phase_start_wall"] = self.phase_t
        live_mem = self.live_memory_mb()
        res = {
            "live_mem_mb": live_mem,
            "ready_wall": self.ready,
            "cache_fill_s": self.cache_fill_s,
            "cores": self.cores,
            "first": self.first,
            "ops": self.ops,
            "checks": self.checks,
            "layers": self.layers,
            "detail": self.detail,
            "spans": self.tracer.spans,
        }
        self.spark.stop()
        return res


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--data", default="")
    p.add_argument("--docs", default="")
    p.add_argument("--model", default="")
    p.add_argument("--scratch", required=True)
    p.add_argument("--out", required=True)
    args = p.parse_args()
    res = Run(args).main()
    with open(args.out, "w") as f:
        json.dump(res, f)


if __name__ == "__main__":
    main()
