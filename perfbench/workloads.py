"""The three benchmark workloads.

Each workload has the same life cycle, driven by ``run.py``:

``prepare(seed)``  generate (or reuse) its seeded inputs — not timed;
``setup(spark)``   warm-up plus model staging or index init — part of
                   ``setup_s`` together with ``get_spark``;
``op(i)``          one timed unit of work, returning the items it did;
``finish()``       timed final steps after the loop;
``check()``        correctness against an independent oracle, returning
                   ``(attempted, failed, errors)``;
``report()``       the workload's own metric names for the summary line.

Class attributes: ``nominal_op_s`` sizes the number of timed operations
from ``--seconds``; at least ``min_ops`` and whole ``round``s of them run;
traced runs alternate ``trace_unit`` untraced and ``trace_unit`` traced
operations.

``install(tracer)`` wraps the package functions the workload calls so the
traced run attributes Spark work to them (``spans.Tracer``); the package
itself is never edited.
"""

from __future__ import annotations

import os
import random
import statistics
import time

import checks
import gen


def _tree(path: str) -> tuple[int, float]:
    """(data files, MB) under a written parquet directory."""
    n, size = 0, 0
    for d, _, files in os.walk(path):
        for f in files:
            if f.startswith("part-"):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size / 1e6


class Workload:
    """Defaults shared by the workloads below."""

    def __init__(self, work: str, small: bool, tracer):
        self.work, self.small, self.tracer = work, small, tracer

    def install(self, tracer) -> None:
        pass

    def has_more(self) -> bool:
        return True

    def finish(self) -> dict:
        return {}


class F1Dag(Workload):
    """``pipeline.run``: raw Ergast JSON + Meteostat CSV → formatted →
    combined → nine marts, into a fresh output directory per op."""

    name = "f1_dag"
    min_ops, round, trace_unit, nominal_op_s = 2, 1, 1, 8.0

    def prepare(self, seed: int) -> None:
        size = dict(rounds=6, drivers=8) if self.small else {}
        self.lake, self.manifest = gen.raw_lake(seed, seasons=2, **size)

    def bind(self, spark) -> None:
        """Session-side state the DAG needs; runs no Spark job."""
        from engineering_school_bigdata_project_f1_weather_spark import pipeline

        self.spark, self.pipeline, self.runs = spark, pipeline, []
        self.stations = spark.createDataFrame(
            [tuple(s) for s in self.manifest["stations"]], "city string, country string"
        )

    def setup(self, spark) -> None:
        self.bind(spark)
        # warm-up: one untraced DAG over the same lake, checked with the rest
        active, self.tracer.active = self.tracer.active, False
        self.dag("dag_setup")
        self.tracer.active = active

    def install(self, tracer) -> None:
        from engineering_school_bigdata_project_f1_weather_spark import pipeline

        def sink_stats(name, path_of):
            def after(args, result):
                n, mb = _tree(path_of(args, result))
                tracer.record(name, "files", n)
                tracer.record(name, "output_mb", mb)
            return after

        pq, mart = "sources.sinks.write_parquet", "sources.sinks.write_mart"
        pipeline.write_parquet = tracer.wrap(
            pipeline.write_parquet, pq, sink_stats(pq, lambda a, r: a[1])
        )
        pipeline.write_mart = tracer.wrap(
            pipeline.write_mart, mart, sink_stats(mart, lambda a, r: r)
        )

    def dag(self, tag: str) -> None:
        """One ``pipeline.run`` into ``<work>/<tag>``, kept for the check."""
        out = f"{self.work}/{tag}"
        with self.tracer.span("pipeline.run"):
            res = self.pipeline.run(self.spark, self.lake, out, self.stations)
        self.runs.append((res, out))

    def op(self, i: int) -> int:
        self.dag(f"dag{i}")
        return self.manifest["formatted_rows"]

    def check(self) -> tuple[int, int, list[str]]:
        from engineering_school_bigdata_project_f1_weather_spark.operators import (
            marts_sql,
        )

        failed, errs = 0, []
        for res, out in self.runs:
            e = checks.check_dag(res, self.manifest, out, marts_sql.SQL_MARTS)
            failed += bool(e)
            errs += e
        return len(self.runs), failed, errs

    def report(self, lat: list[float], items: int, extra: dict) -> dict:
        return {"dag_s": (statistics.median(lat), "s")}


class MartServing(Workload):
    """One closed-loop client issuing Q1–Q9 in seed-shuffled rounds over
    the staged combined model, fetching each result through Arrow."""

    name = "mart_serving"
    round = trace_unit = 9
    min_ops, nominal_op_s = 18, 0.4

    def prepare(self, seed: int) -> None:
        self.lake, _ = gen.tpch_lake(seed, sf=0.001 if self.small else 0.01)
        self.rng = random.Random(seed)

    def setup(self, spark) -> None:
        from engineering_school_bigdata_project_f1_weather_spark.operators import marts
        from engineering_school_bigdata_project_f1_weather_spark.plans import f1_model

        self.spark = spark
        self.queries = {k: v for k, v in marts.QUERIES.items() if k[0] == "q"}
        with self.tracer.span("plans.f1_model.combined"):
            f1_model.combined(spark, self.lake).count()
        self.order, self.first, self.issued = [], {}, {}

    def op(self, i: int) -> int:
        if not self.order:
            self.order = sorted(self.queries)
            self.rng.shuffle(self.order)
        q = self.order.pop()
        name = f"operators.marts.{q}"
        with self.tracer.span(name, fields=("jobs", "stages")):
            t0 = time.perf_counter()
            df = self.queries[q](self.spark, self.lake)
            t1 = time.perf_counter()
            pdf = df.toPandas()
            t2 = time.perf_counter()
        self.tracer.record(name, "plan_s", t1 - t0)
        self.tracer.record(name, "fetch_s", t2 - t1)
        self.first.setdefault(q, pdf)
        self.issued[q] = self.issued.get(q, 0) + 1
        return 1

    def check(self) -> tuple[int, int, list[str]]:
        import __spark_entry__

        oracles = __spark_entry__.oracle_sql()
        con = checks.duck_over(self.lake, checks.TPCH_TABLES)
        failed, errs = 0, []
        for q in self.queries:
            if q not in self.first:
                errs.append(f"{q}: never issued")
                continue
            e = checks.check_against(self.first[q], con, oracles[q], self.lake, q)
            failed += self.issued[q] if e else 0
            errs += e
        con.close()
        return sum(self.issued.values()), failed, errs

    def report(self, lat: list[float], items: int, extra: dict) -> dict:
        ms = sorted(x * 1e3 for x in lat)
        p90 = ms[min(len(ms) - 1, int(0.9 * len(ms)))]
        return {
            "mart_p50_ms": (statistics.median(ms), "ms"),
            "mart_p90_ms": (p90, "ms"),
            "mart_qps": (items / sum(lat), "1/s"),
        }


class CurateIngest(Workload):
    """The two write paths.  Incremental curation: ``curate_index_init`` on
    the first half of the corpus in set-up, then seeded
    ``curate_index_update`` batches over the second half (the timed
    operations), then ``curate_resolve``; and after it one ``pipeline.run``
    of the raw lake ``f1_dag`` uses, so the sources and sinks layers are
    measured in this workload too."""

    name = "curate_ingest"
    min_ops = round = 4  # every batch of the second half is timed
    trace_unit, nominal_op_s = 1, 6.0

    def prepare(self, seed: int) -> None:
        n = 24 if self.small else 40
        self.lake, _ = gen.corpus_lake(seed, docs=n)
        self.half = (n - 1) // 2  # init takes doc_id <= max/2, as the oracle
        ids = list(range(self.half + 1, n))
        random.Random(seed).shuffle(ids)
        self.batches = [ids[k :: self.round] for k in range(self.round)]
        self.dag = F1Dag(self.work, self.small, self.tracer)
        self.dag.prepare(seed)

    def setup(self, spark) -> None:
        import pyspark.sql.functions as F

        from engineering_school_bigdata_project_f1_weather_spark.operators import (
            curate_index,
        )
        from engineering_school_bigdata_project_f1_weather_spark.sources.tables import (
            load_table_spread,
        )

        self.spark, self.ci, self.F = spark, curate_index, F
        self.docs = load_table_spread(spark, self.lake, "documents").select(
            "doc_id", "lang", "text"
        )
        self.vecs = load_table_spread(spark, self.lake, "embeddings").select(
            "vec_id", "embedding"
        )
        self.idx = f"{self.work}/idx"
        curate_index.curate_index_init(
            spark,
            self.docs.where(F.col("doc_id") <= self.half),
            self.vecs.where(F.col("vec_id") <= self.half),
            self.idx,
        )
        self.pending = list(self.batches)
        self.dag.bind(spark)

    def install(self, tracer) -> None:
        from engineering_school_bigdata_project_f1_weather_spark.operators import (
            curate_index,
        )

        for fn in ("curate_index_init", "curate_index_update", "curate_resolve"):
            setattr(curate_index, fn, tracer.wrap(
                getattr(curate_index, fn), f"operators.curate_index.{fn}"
            ))
        self.dag.install(tracer)

    def has_more(self) -> bool:
        return bool(self.pending)

    def op(self, i: int) -> int:
        F, tracer, ids = self.F, self.tracer, self.pending.pop(0)
        before = _index_files(self.idx) if tracer.active else None
        self.ci.curate_index_update(
            self.spark,
            self.docs.where(F.col("doc_id").isin(ids)),
            self.vecs.where(F.col("vec_id").isin(ids)),
            self.idx,
        )
        if tracer.active:
            # written = files whose inode is new: hard-linked carry-overs
            # of the previous snapshot are not writes
            after = _index_files(self.idx)
            new = {k: v for k, v in after.items() if before.get(k) != v}
            inodes = {ino for _, ino, _ in before.values()}
            written = [v for k, v in new.items()
                       if not k.endswith("CURRENT") and v[1] not in inodes]
            tracer.record("functions.snapshots", "files_written", len(written))
            tracer.record("functions.snapshots", "mb_written",
                          sum(size for size, _, _ in written) / 1e6)
            tracer.record("functions.snapshots", "commits",
                          sum(1 for k in new if k.endswith("CURRENT")))
        return len(ids)

    def finish(self) -> dict:
        t0 = time.perf_counter()
        self.ledger = self.ci.curate_resolve(self.spark, self.idx).toPandas()
        t1 = time.perf_counter()
        self.dag.dag("dag")
        return {"resolve_s": t1 - t0, "dag_s": time.perf_counter() - t1}

    def check(self) -> tuple[int, int, list[str]]:
        import __spark_entry__

        sql = __spark_entry__.oracle_sql()["curate_incremental"]
        con = checks.duck_over(self.lake, checks.CORPUS_TABLES)
        errs = checks.check_against(
            self.ledger, con, sql, self.lake, "curation ledger"
        )
        con.close()
        attempted = len(self.batches) + 1  # every batch plus the resolve
        dag_attempted, dag_failed, dag_errs = self.dag.check()
        return (attempted + dag_attempted,
                (attempted if errs else 0) + dag_failed, errs + dag_errs)

    def report(self, lat: list[float], items: int, extra: dict) -> dict:
        return {
            "ingest_batch_s": (statistics.median(lat), "s"),
            "ingest_docs_per_s": (items / sum(lat), "1/s"),
            "resolve_s": (extra["resolve_s"], "s"),
            "dag_s": (extra["dag_s"], "s"),
        }


def _index_files(root: str) -> dict[str, tuple[int, int, int]]:
    """path → (size, inode, mtime_ns) of every file under an index dir;
    CURRENT pointers are keyed by path and compared by content stamp."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_ino, st.st_mtime_ns)
    return out


WORKLOADS = {w.name: w for w in (F1Dag, MartServing, CurateIngest)}
