"""The three benchmark workloads.

A workload generates its inputs from the seed (untimed), sets up (a warm-up
pass that also collects the results the output checks use), runs timed
passes, and finally checks outputs. One pass is one run of the workload's
whole operation mix:

- ``citibike_sql`` / ``corpus_x10``: every query once, in a seed-shuffled
  order; an operation is one query execution (``fn`` + ``noop`` write).
- ``stream_ingest``: the ``rollup``, ``admission`` and ``index_maint`` legs
  each drain their staged micro-batch files closed-loop
  (``maxFilesPerTrigger=1``); an operation is one micro-batch.

With a live :class:`~tracing.Tracer`, passes also record spans and layer
counters into a :class:`Layers` accumulator.
"""

from __future__ import annotations

import hashlib
import importlib.util
import os
import random
import statistics
import time
from collections import defaultdict

import inputs
import tracing as tr

ROOT = inputs.ROOT
MB = 1024.0 * 1024.0


def _load_oracle():
    """``tests/oracle.py`` loaded by path (its value normalization is the
    one the repo's oracle tests use)."""
    path = os.path.join(ROOT, "tests", "oracle.py")
    spec = importlib.util.spec_from_file_location("perfbench_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _digest(rows) -> str:
    h = hashlib.sha256()
    for r in sorted(rows, key=repr):
        h.update(repr(r).encode())
    return h.hexdigest()


class Layers:
    """Per-pass sums of layer metrics over the traced passes."""

    def __init__(self) -> None:
        self.passes: list[dict[str, float]] = []
        self.cur: dict[str, float] = defaultdict(float)
        self.samples: dict[str, list[float]] = {}

    def add(self, name: str, value: float) -> None:
        self.cur[name] += value

    def sample(self, name: str, value: float) -> None:
        """One per-operation value of a metric reported as the pass median."""
        self.samples.setdefault(name, []).append(value)

    def set(self, name: str, value: float) -> None:
        self.cur[name] = value

    def close_pass(self) -> None:
        for name, values in self.samples.items():
            self.cur[name] = statistics.median(values)
        self.passes.append(dict(self.cur))
        self.cur = defaultdict(float)
        self.samples = {}


class Workload:
    name = ""
    nominal_pass_s = 1.0  # one pass on the 4-core reference host

    def __init__(self, scale: str) -> None:
        self.scale = scale
        self.failures: list[str] = []
        self.attempted = 0
        self.recall: dict[str, float] = {}  # approximate operators' recall vs their oracle
        self.rows_per_pass = 0  # input rows one pass consumes, where fixed

    def passes(self, seconds: float) -> int:
        """Timed passes per run: the same work on both sides of a
        comparison, about ``seconds`` long on the reference host."""
        return max(1, round(seconds / self.nominal_pass_s))

    def fail(self, what: str) -> None:
        self.failures.append(what[:300])

    def cleanup(self, spark) -> None:
        """Drop anything the run left in the session's catalog."""


# ----------------------------------------------------------------- batch


class QueryWorkload(Workload):
    """A mix of registered queries over generated parquet tables."""

    queries: tuple[str, ...] = ()

    def __init__(self, scale: str) -> None:
        super().__init__(scale)
        from citibike_analysis_spark.plans import all_queries

        specs = all_queries()
        self.specs = {q: specs[q] for q in self.queries}
        self.data_dir = ""
        self.seed = 0
        self.warm: dict[str, tuple[list[str], list[tuple]]] = {}
        self.result_rows: dict[str, int] = {}

    def generate(self, work: str, seed: int, cores: int, passes: int) -> dict:
        self.seed = seed
        self.data_dir = os.path.join(work, "data")
        return self.write_inputs(cores)

    def order(self, pass_no: int) -> list[str]:
        names = list(self.queries)
        random.Random(self.seed * 7919 + pass_no).shuffle(names)
        return names

    def setup(self, spark, tracer: tr.Tracer) -> None:
        """Warm-up pass: every query once, results collected for the
        output checks."""
        from citibike_analysis_spark.cache import release_all

        for q in self.order(-1):
            self.attempted += 1
            try:
                df = self.specs[q].fn(spark, self.data_dir)
                self.warm[q] = (df.columns, [tuple(r) for r in df.collect()])
                self.result_rows[q] = len(self.warm[q][1])
            except Exception as exc:  # noqa: BLE001 - counted, never sinks the run
                self.fail(f"{q} warm-up: {type(exc).__name__}: {exc}")
            finally:
                spark.catalog.clearCache()
                release_all()

    def run_pass(self, spark, pass_no: int, tracer: tr.Tracer, layers: Layers | None) -> list[tuple[str, float]]:
        """One pass; returns (query, seconds) per operation."""
        from citibike_analysis_spark.cache import release_all

        lat = []
        for q in self.order(pass_no):
            tracer.trace_id = f"{q}#{pass_no}"
            self.attempted += 1
            try:
                lat.append((q, self._op(spark, q, tracer, layers)))
            except Exception as exc:  # noqa: BLE001 - counted, never sinks the run
                self.fail(f"{q} pass {pass_no}: {type(exc).__name__}: {exc}")
            with tracer.span("cache.release"):
                release_all()
                spark.catalog.clearCache()
        if layers is not None:
            self._close_traced_pass(spark, layers)
        return lat

    def _op(self, spark, q: str, tracer: tr.Tracer, layers: Layers | None) -> float:
        fn = self.specs[q].fn
        if layers is None:
            t0 = time.perf_counter()
            df = fn(spark, self.data_dir)
            df.write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0

        sql = tr.SqlStore(spark)
        t0 = time.perf_counter()
        c0 = sql.count()
        e0 = tr.executor_totals(spark)
        with tracer.span("plans.build") as build:
            df = fn(spark, self.data_dir)
        tr.wait_listeners(spark)
        c1 = sql.count()
        jobs = sql.executions(c0, c1)
        for j in jobs:
            tracer.add("operators.job", j["start"], j["end"] or build["end"], build, execution=j["id"])
        with tracer.span("catalyst"):
            df._jdf.queryExecution().executedPlan()
        for phase, ms in tr.catalyst_phases(df).items():
            layers.add(f"catalyst.{phase}_ms", ms)
        e1 = tr.executor_totals(spark)
        with tracer.span("exec") as ex:
            df.write.format("noop").mode("overwrite").save()
        latency = time.perf_counter() - t0
        tr.wait_listeners(spark)
        execs = sql.executions(c1, sql.count())
        e2 = tr.executor_totals(spark)
        run = tr.diff(e2, e1)
        exec_s = ex["end"] - ex["start"]
        layers.add("op_s", latency)
        layers.add("plans.build_jobs", len(jobs))
        layers.add("exec.s", exec_s)
        layers.add("exec.sql_executions", len(execs))
        layers.add("exec.task_s", run["task_s"])
        layers.add("exec.gc_s", run["gc_s"])
        layers.add("exec.tasks", run["tasks"])
        layers.add("exec.shuffle_write_mb", run["shuffle_write_b"] / MB)
        layers.add("sources.input_mb", tr.diff(e2, e0)["input_b"] / MB)
        every = jobs + execs
        layers.add("exec.spill_mb", sum(e["spill_b"] for e in every) / MB)
        layers.add("operators.python_mb", sum(e["python_b"] for e in every) / MB)
        layers.add("operators.exchanges", sum(e["exchanges"] for e in every))
        top = max((e["max_rows"] for e in every), default=0.0)
        layers.sample("operators.amplification", top / max(1, self.result_rows.get(q, 1)))
        layers.add("cache.persisted_mb", tr.persisted_bytes(spark) / MB)
        return latency

    def _close_traced_pass(self, spark, layers: Layers) -> None:
        cores = spark.sparkContext.defaultParallelism
        c = layers.cur
        c["exec.busy_ratio"] = c["exec.task_s"] / (c["exec.s"] * cores) if c["exec.s"] else 0.0
        layers.close_pass()

    def check(self, spark) -> None:
        """Warm-up results against the DuckDB oracle; queries without one
        are executed again and must repeat row count and hash. The oracles
        run in a thread while Spark repeats those queries."""
        from concurrent.futures import ThreadPoolExecutor

        from citibike_analysis_spark.cache import release_all

        oracle = _load_oracle()
        norm = oracle._norm
        with ThreadPoolExecutor(1) as pool:
            pending = pool.submit(self._run_oracles)
            for q, spec in self.specs.items():
                if spec.oracle is not None or q not in self.warm:
                    continue
                self.attempted += 1
                try:
                    again = [tuple(r) for r in spec.fn(spark, self.data_dir).collect()]
                except Exception as exc:  # noqa: BLE001 - counted, never sinks the run
                    self.fail(f"{q} check rep: {type(exc).__name__}: {exc}")
                    continue
                finally:
                    spark.catalog.clearCache()
                    release_all()
                first = [tuple(norm(v) for v in r) for r in self.warm[q][1]]
                second = [tuple(norm(v) for v in r) for r in again]
                if len(first) != len(second) or _digest(first) != _digest(second):
                    self.fail(f"{q}: rep results differ ({len(first)} vs {len(second)} rows)")
            results = pending.result()
        for q, (o_cols, o_rows) in results.items():
            if q not in self.warm:
                continue  # warm-up already failed and was counted
            cols, rows = self.warm[q]
            if sorted(o_cols) != sorted(cols):
                self.fail(f"{q}: columns {cols} != oracle {o_cols}")
                continue
            idx = [o_cols.index(c) for c in cols]
            want = [tuple(norm(r[i]) for i in idx) for r in o_rows]
            got = [tuple(norm(v) for v in r) for r in rows]
            if q in APPROXIMATE:
                self._check_approximate(q, cols, got, want)
            elif len(got) != len(want) or _digest(got) != _digest(want):
                self.fail(f"{q}: {len(got)} rows differ from oracle's {len(want)}")

    def _run_oracles(self) -> dict[str, tuple[list[str], list[tuple]]]:
        import duckdb

        con = duckdb.connect()
        try:
            for t in sorted(os.listdir(self.data_dir)):
                if t.endswith(".parquet"):
                    path = os.path.join(self.data_dir, t)
                    con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM '{path}'")
            out = {}
            for q, spec in self.specs.items():
                if spec.oracle is not None:
                    cur = con.execute(spec.oracle)
                    out[q] = ([d[0] for d in cur.description], cur.fetchall())
            return out
        finally:
            con.close()

    def _check_approximate(self, q: str, cols: list[str], got: list, want: list) -> None:
        """An LSH operator's contract against its exact oracle: no
        duplicate or invented rows (each one equal to an oracle row), and
        every oracle row at or above the recall-1 similarity returned.
        Borderline rows below it may be missed by design; the recall is
        recorded."""
        col, floor = APPROXIMATE[q]
        i = cols.index(col)
        want_set, got_set = set(want), set(got)
        self.recall[q] = len(got_set & want_set) / max(1, len(want_set))
        if len(got_set) != len(got):
            self.fail(f"{q}: {len(got) - len(got_set)} duplicate rows")
        extra = got_set - want_set
        if extra:
            self.fail(f"{q}: {len(extra)} rows not in the oracle's result, e.g. {sorted(extra)[:2]}")
        missed = [r for r in want_set - got_set if r[i] >= floor]
        if missed:
            self.fail(f"{q}: missed {len(missed)} oracle rows with {col} >= {floor}")


# Operators whose documented contract is approximate: query -> (similarity
# column, value from which every oracle row must be returned).
# near_duplicate_embeddings' auto-sized sign-LSH keeps recall ~1 only as
# cosine -> 1 and loses borderline-threshold pairs by design; the
# rehearsal corpus's 40-vector clusters sit at cosine ~0.9, its threshold.
APPROXIMATE = {"q39_embedding_near_dup": ("cosine_sim", 0.99)}


class CitibikeSql(QueryWorkload):
    name = "citibike_sql"
    queries = (
        "q01_pricing_summary",
        "q05_regional_revenue",
        "q06_left_join_patch",
        "q07_union_dedup",
        "q10_two_stage_agg",
        "q11_pivot",
        "q16_ntile",
        "q17_rank_per_group",
        "q19_interval_rollup",
        "q20_interesting_suppliers",
        "q21_spatial_neighbors",
        "q22_temporal_derive",
        "q24_rainy_day_flag",
        "q41_asof_join",
        "q58_asof_join_bucketed",
        "q104_scalable_picks",
    )
    SF = {"full": 0.02, "tiny": 0.001}
    nominal_pass_s = 10.0

    def write_inputs(self, cores: int) -> dict:
        sf = self.SF[self.scale]
        return {"sf": sf, "rows": inputs.write_relational(self.data_dir, self.seed, sf)}


class CorpusX10(QueryWorkload):
    name = "corpus_x10"
    queries = (
        "q61_capped_jaccard",
        "q36_minhash_dedup",
        "q39_embedding_near_dup",
        "q90_encode_documents",
        "q77_semantic_dedup",
        "q46_dedup_clusters",
    )
    SIZE = {"full": (500, 2000), "tiny": (300, 200)}
    nominal_pass_s = 10.0

    def write_inputs(self, cores: int) -> dict:
        docs, vecs = self.SIZE[self.scale]
        return {"rows": inputs.write_corpus(self.data_dir, self.seed, docs, vecs, cores)}


# -------------------------------------------------------------- streaming

LEGS = ("rollup", "admission", "index_maint")
_INDEX = "perfbench_idx"
_INDEX_TABLES = ("", "__cents", "__tombs", "__codes", "__books")


class StreamIngest(Workload):
    name = "stream_ingest"
    SIZE = {"full": (3, 1000, 1000), "tiny": (2, 100, 200)}  # batches, rows, index rows
    # Warm-up passes in setup: the JIT keeps speeding the legs up for two
    # passes (14.3, 12.5, 12.0, 11.0, 11.1 s per pass in one session).
    WARM_PASSES = 2
    nominal_pass_s = 12.0

    def __init__(self, scale: str) -> None:
        super().__init__(scale)
        self.batches, self.rows, self.index_rows = self.SIZE[scale]
        self.rows_per_pass = len(LEGS) * self.batches * self.rows
        self.work = ""
        self.seed = 0
        self.expect: dict[int, dict] = {}
        self.consumed: dict[tuple[int, str], int] = {}

    def generate(self, work: str, seed: int, cores: int, passes: int) -> dict:
        self.work, self.seed = work, seed
        for p in range(-self.WARM_PASSES, passes):
            self.expect[p] = inputs.stage_stream(self._dir(p), seed, p + self.WARM_PASSES, self.batches, self.rows)
        inputs.write_corpus(os.path.join(work, "base"), seed, 0, self.index_rows, cores)
        return {"batches_per_leg": self.batches, "rows_per_batch": self.rows, "index_rows": self.index_rows}

    def _dir(self, p: int) -> str:
        return os.path.join(self.work, f"pass{p + self.WARM_PASSES}")

    def setup(self, spark, tracer: tr.Tracer) -> None:
        """Build the persisted IVF index the maintenance leg appends to,
        then drain the warm-up passes."""
        from citibike_analysis_spark.operators.similarity import build_ivf_index
        from citibike_analysis_spark.sources.tables import load_table

        for s in _INDEX_TABLES:
            spark.sql(f"DROP TABLE IF EXISTS {_INDEX}{s}")
        with tracer.span("streaming.index_maint.build"):
            build_ivf_index(
                load_table(spark, os.path.join(self.work, "base"), "embeddings"),
                _INDEX,
                nlist=16,
                train_iters=2,
            )
        for p in range(-self.WARM_PASSES, 0):
            self.run_pass(spark, p, tracer, None)

    def _start(self, spark, leg: str, d: str):
        if leg == "rollup":
            from citibike_analysis_spark.streaming.ingest import read_feed_stream
            from citibike_analysis_spark.streaming.rollup import availability_rollup, write_rollup

            return write_rollup(
                availability_rollup(read_feed_stream(spark, os.path.join(d, "feed"))),
                os.path.join(d, "ckpt_rollup"),
                os.path.join(d, "out_rollup"),
            )
        if leg == "admission":
            from citibike_analysis_spark.streaming.enrich import start_admission

            out = os.path.join(d, "out_admission")
            docs = (
                spark.readStream.schema("doc_id long, ts timestamp, text string")
                .option("maxFilesPerTrigger", 1)
                .json(os.path.join(d, "docs"))
            )
            return start_admission(
                docs,
                os.path.join(d, "corpus.parquet"),
                lambda b, e: b.write.mode("append").parquet(out),
                checkpoint_dir=os.path.join(d, "ckpt_admission"),
            )
        from citibike_analysis_spark.streaming.ann import start_index_maintenance

        vecs = (
            spark.readStream.schema("vec_id long, embedding array<float>")
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(d, "vecs"))
        )
        return start_index_maintenance(vecs, _INDEX, os.path.join(d, "ckpt_index"))

    def run_pass(self, spark, pass_no: int, tracer: tr.Tracer, layers: Layers | None) -> list[tuple[str, float]]:
        """One pass; returns (leg:batch index, seconds) per micro-batch."""
        d = self._dir(pass_no)
        lat = []
        for leg in LEGS:
            tracer.trace_id = f"{leg}#{pass_no}"
            self.attempted += self.batches
            with tracer.span(f"streaming.{leg}.start"):
                q = self._start(spark, leg, d)
            try:
                with tracer.span(f"streaming.{leg}.drain") as drain:
                    q.processAllAvailable()
                progress = q.recentProgress
            except Exception as exc:  # noqa: BLE001 - counted, never sinks the run
                self.fail(f"{leg} pass {pass_no}: {type(exc).__name__}: {exc}")
                self.failures.extend([f"{leg} pass {pass_no}: batch not run"] * (self.batches - 1))
                continue
            finally:
                q.stop()
            data = [p for p in progress if p.get("numInputRows", 0) > 0]
            self.consumed[(pass_no, leg)] = sum(p["numInputRows"] for p in data)
            lat.extend(
                (f"{leg}:{i}", p["durationMs"]["triggerExecution"] / 1000.0) for i, p in enumerate(data)
            )
            if layers is not None:
                self._trace_leg(tracer, layers, leg, drain, progress)
        if layers is not None:
            layers.close_pass()
        return lat

    @staticmethod
    def _trace_leg(tracer, layers, leg, drain, progress) -> None:
        from datetime import datetime

        pre = f"streaming.{leg}"
        for p in progress:
            dur = p.get("durationMs", {})
            start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
            sp = tracer.add(
                f"{pre}.batch",
                start,
                start + dur.get("triggerExecution", 0) / 1000.0,
                drain,
                batch=p["batchId"],
                rows=p.get("numInputRows", 0),
            )
            sp["trace"] = f"{leg}:{p['batchId']}"
            layers.add(f"{pre}.add_batch_ms", dur.get("addBatch", 0))
            layers.add(f"{pre}.query_planning_ms", dur.get("queryPlanning", 0))
            layers.add(f"{pre}.offsets_ms", dur.get("latestOffset", 0) + dur.get("getBatch", 0))
            layers.add(f"{pre}.commit_ms", dur.get("walCommit", 0) + dur.get("commitOffsets", 0))
            states = p.get("stateOperators", [])
            layers.add(f"{pre}.state_commit_ms", sum(s.get("commitTimeMs", 0) for s in states))
            layers.set(f"{pre}.state_rows", sum(s.get("numRowsTotal", 0) for s in states))
            layers.set(f"{pre}.state_mb", sum(s.get("memoryUsedBytes", 0) for s in states) / MB)

    def check(self, spark) -> None:
        """Every staged row consumed by every leg; the rollup equals the
        rollup computed from the staged rows; the admission sink holds
        exactly the distinct novel documents; the index ends at build
        rows plus appended rows."""
        from pyspark.sql import functions as F

        from citibike_analysis_spark.streaming.rollup import latest_rollup

        appended = 0
        for p, want in self.expect.items():
            d = self._dir(p)
            for leg, staged in (("rollup", "feed_rows"), ("admission", "doc_rows")):
                got = self.consumed.get((p, leg))
                if got is not None and got != want[staged]:
                    self.fail(f"{leg} pass {p}: consumed {got} of {want[staged]} staged rows")
            if (p, "index_maint") in self.consumed:
                # the index leg's numInputRows counts each re-read of the
                # batch, so its rows are checked by the index's growth
                appended += want["vec_rows"]
            if (p, "rollup") in self.consumed:
                rolled = latest_rollup(spark, os.path.join(d, "out_rollup")).select(
                    F.unix_timestamp("time_interval").alias("t"),
                    "station_id",
                    "available_bikes",
                    "available_docks",
                    "n_samples",
                )
                got_rows = [tuple(int(v) for v in r) for r in rolled.collect()]
                if _digest(got_rows) != _digest(want["rollup"]):
                    self.fail(f"rollup pass {p}: {len(got_rows)} rows differ from the expected {len(want['rollup'])}")
            if (p, "admission") in self.consumed:
                texts = [r[0] for r in spark.read.parquet(os.path.join(d, "out_admission")).select("text").collect()]
                if sorted(texts) != want["admitted"]:
                    self.fail(f"admission pass {p}: admitted {len(texts)} docs, expected {len(want['admitted'])}")
        n_index = spark.table(_INDEX).count()
        if n_index != self.index_rows + appended:
            self.fail(f"index_maint: {n_index} rows, expected {self.index_rows} + {appended}")

    def cleanup(self, spark) -> None:
        for s in _INDEX_TABLES:
            spark.sql(f"DROP TABLE IF EXISTS {_INDEX}{s}")


WORKLOADS = {w.name: w for w in (CitibikeSql, CorpusX10, StreamIngest)}
