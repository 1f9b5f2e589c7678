"""The benchmark workloads.

Each workload has three steps, called by ``run.py``:

* ``prepare(work, seed)`` generates (or reuses) its seeded inputs with
  ``gen.py``; no Spark, not timed by any metric.
* ``register(spark, inputs)`` is the input-registration part of set-up.
* ``measure(spark, ctx, seconds, tracer)`` runs the workload, checks
  its outputs outside the timed regions and returns a ``Measured``.

Every workload reports the same end-to-end metrics (README.md says what
each one means per workload): ``cold_op_s`` (first operation in the
fresh process), ``op_p50_s`` / ``op_p90_s`` (warm operations) and
``throughput_per_s``.  With a tracer, traced operations alternate with
untraced ones (``window``), or, for the closed loop, traced and untraced
slices of the window alternate; the traced operations yield the
per-layer numbers.
"""

from __future__ import annotations

import contextlib
import hashlib
import math
import os
import random
import statistics
import threading
import time
from dataclasses import dataclass, field

import gen


@dataclass
class Measured:
    metrics: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    notes: list[str] = field(default_factory=list)

    def op(self, ok: bool, note: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(note)


class Incomplete(RuntimeError):
    """Too few operations succeeded to report the metrics."""


def p90(xs: list[float]) -> float:
    return statistics.quantiles(xs, n=10, method="inclusive")[8] if len(xs) > 1 else xs[0]


def overhead(traced: list[float], untraced: list[float]) -> float:
    return statistics.median(traced) / statistics.median(untraced) - 1.0


MAX_FAILED = 3


def window(seconds: float, tracer, op, install, min_ops: int,
           m: Measured) -> tuple[list, list]:
    """Run ``op(tracer_or_None)`` until ``seconds`` have passed and at
    least ``min_ops`` untraced results exist.  With a tracer, traced
    operations alternate with untraced ones (same warm-up for both, so
    their ratio is the tracing overhead), ``install(tracer)`` placing
    the wrappers just for the traced ones.  Falsy results are failed
    operations, which ``op`` has counted; they are dropped, and the
    window ends after ``MAX_FAILED`` of them.  Returns (untraced,
    traced) results; raises ``Incomplete`` if either kind is empty."""
    plain: list = []
    traced: list = []
    failed = 0
    t_end = time.perf_counter() + seconds
    while failed < MAX_FAILED and (
            time.perf_counter() < t_end or len(plain) < min_ops
            or (tracer and len(traced) < min_ops)):
        if tracer and len(traced) < len(plain):
            install(tracer)
            try:
                r = op(tracer)
            finally:
                tracer.unwrap_all()
            if r:
                traced.append(r)
        else:
            r = op(None)
            if r:
                plain.append(r)
        failed += not r
    if not plain or (tracer and not traced):
        raise Incomplete("; ".join(m.notes[-MAX_FAILED:]))
    return plain, traced


def _counter_sum(counters, groups, key: str) -> float:
    return sum(counters.get(g, {}).get(key, 0.0) for g in groups)


# --------------------------------------------------------------------------
# omop_batch: plans.run.run_pipeline on seeded OMOP tables
# --------------------------------------------------------------------------

class OmopBatch:
    N_PATIENTS = 6_000
    TABLES = ("person", "measurement", "condition", "observation",
              "procedure", "drug_exposure")
    STAGES = ("cohort", "bp", "phenotype", "stats")
    # checkpoint directory written by each stage (plans/run.py)
    SINK_STAGE = {"stage2_cohort": "cohort", "stage3_bp_flags": "bp",
                  "stage4_phenotype": "phenotype", "stage4_stats": "stats"}

    def prepare(self, work, seed):
        return gen.cached(os.path.join(work, "inputs"), "omop", seed,
                          self.N_PATIENTS, gen.build_omop)

    def register(self, spark, path):
        tables = {}
        for t in self.TABLES:
            f = os.path.join(path, f"{t}.parquet")
            tables[t] = spark.read.schema(gen.spark_ddl(f)).parquet(f)
        return {"tables": tables, "codelists": gen.omop_codelists(),
                "out": os.path.join(os.path.dirname(os.path.dirname(path)), "omop_out"),
                "n_meas": gen.num_rows(os.path.join(path, "measurement.parquet"))}

    def _pass(self, spark, ctx, m: Measured):
        """One pass; returns (seconds, result), or (None, None) if it
        raised, which counts as a failed operation."""
        from hypertension_dashboard_pipeline_spark.plans import run as plan_run

        t0 = time.perf_counter()
        try:
            res = plan_run.run_pipeline(spark, ctx["tables"], ctx["codelists"], ctx["out"])
        except Exception as e:  # noqa: BLE001 - counted as failed
            m.op(False, f"run_pipeline raised {e!r}")
            return None, None
        return time.perf_counter() - t0, res

    def _check(self, res, m: Measured, first_stats):
        """Stats identical to the first pass; golden patients exact."""
        try:
            stats = sorted(repr(tuple(r)) for r in res["stats"].collect())
            gold = {r["PATIENT_LINKAGE"]: r.asDict() for r in
                    res["phenotype"].filter("PATIENT_LINKAGE LIKE 'GOLD\\_%'").collect()}
        except Exception as e:  # noqa: BLE001 - a failed read is a failed check
            m.op(False, f"omop check raised {e!r}")
            return first_stats
        problems = []
        if first_stats is not None and stats != first_stats:
            problems.append("stats differ from the first pass")
        want = {k: v for k, v in gen.GOLDEN_EXPECTED.items() if v is not None}
        if set(gold) != set(want):
            problems.append(f"golden cohort {sorted(gold)} != {sorted(want)}")
        for k, exp in want.items():
            got = gold.get(k)
            if got is not None and any(got[c] != v for c, v in exp.items()):
                problems.append(f"{k}: {got} != {exp}")
        m.op(not problems, "; ".join(problems))
        return stats if first_stats is None else first_stats

    def _install(self, tracer) -> None:
        from hypertension_dashboard_pipeline_spark.plans import run as plan_run

        for fn, stage in (("build_cohort", "cohort"), ("build_bp_flags", "bp"),
                          ("build_phenotype", "phenotype"), ("phenotype_stats", "stats")):
            tracer.wrap(plan_run, fn, f"plans.{stage}.call")
        tracer.wrap(plan_run, "checkpoint", lambda df, path: (
            f"plans.{self.SINK_STAGE[os.path.basename(path)]}.sink"))

    def measure(self, spark, ctx, seconds, tracer):
        m = Measured()
        cold, res = self._pass(spark, ctx, m)
        if cold is None:
            raise Incomplete("; ".join(m.notes))
        first = self._check(res, m, None)

        def op(tr):
            with _maybe_span(tr, "plans.pass"):
                s, res = self._pass(spark, ctx, m)
            if s is not None:
                self._check(res, m, first)
            return s

        warm, traced = window(seconds, tracer, op, self._install, 2, m)
        p50 = statistics.median(warm)
        m.metrics.update(cold_op_s=cold, op_p50_s=p50, op_p90_s=p90(warm),
                         throughput_per_s=ctx["n_meas"] / p50)
        if tracer:
            self._layers(tracer, m, traced, warm)
        return m

    def _layers(self, tracer, m, traced, warm) -> None:
        counters = tracer.group_counters()
        n = len(traced)
        by_name = _by_name(tracer)
        for stage in self.STAGES:
            call = by_name.get(f"plans.{stage}.call", [])
            sink = by_name.get(f"plans.{stage}.sink", [])
            groups = [s.group for s in call + sink]
            pre = f"plans.{stage}."
            m.layers[pre + "call_s"] = sum(s.seconds for s in call) / n
            m.layers[pre + "sink_s"] = sum(s.seconds for s in sink) / n
            for key in ("jobs", "tasks", "busy_s", "cpu_s", "gc_s",
                        "shuffle_write_mb", "fetch_wait_s", "spill_mb"):
                m.layers[pre + key] = _counter_sum(counters, groups, key) / n
        sink_groups = [s.group for name, spans in by_name.items()
                       if name.endswith(".sink") for s in spans]
        m.layers["io.checkpoint.write_mb"] = _counter_sum(counters, sink_groups, "output_mb") / n
        m.layers["plans.unattributed_s"] = statistics.mean(
            tracer.self_time(sp) for sp in by_name["plans.pass"])
        m.layers["trace_overhead_frac"] = overhead(traced, warm)


# --------------------------------------------------------------------------
# dashboard_mix: closed loop of 2 clients over short catalogue queries
# --------------------------------------------------------------------------

class DashboardMix:
    N_ORDERS = 15_000
    CLIENTS = 2
    QUERIES = ("a3_same_day_avg", "j1_left_enrich", "w1_latest_per_key",
               "u1_evidence_key_union", "a6_freq_table", "text_quality_score",
               "flagship_cohort_pipeline")
    DUCK_TABLES = ("region", "nation", "customer", "orders", "lineitem", "documents")

    def prepare(self, work, seed):
        return gen.cached(os.path.join(work, "inputs"), "tpch", seed,
                          self.N_ORDERS, gen.build_tpch)

    def register(self, spark, path):
        return {"sf_dir": path}

    @staticmethod
    def _query(spark, name, sf_dir, tracer=None) -> float:
        """One dashboard request: build the query, run it to a noop
        sink.  Returns its latency in seconds."""
        from hypertension_dashboard_pipeline_spark import registry

        t0 = time.perf_counter()
        df = registry.QUERIES[name](spark, sf_dir)
        with _maybe_span(tracer, f"query.{name}.sink"):
            df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def _oracle_check(self, spark, sf_dir, m: Measured):
        """Each distinct query once: Spark result vs its DuckDB oracle,
        compared as hashes of the order-free canonical row sets."""
        import duckdb
        from hypertension_dashboard_pipeline_spark import registry

        con = duckdb.connect()
        for t in self.DUCK_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(sf_dir, t + '.parquet')}'")
        for name in self.QUERIES:
            try:
                sdf = registry.QUERIES[name](spark, sf_dir)
                s_hash = _canon_hash(sdf.columns, [tuple(r) for r in sdf.collect()])
                res = con.execute(registry.ORACLES[name])
                d_cols = [d[0] for d in res.description]
                d_hash = _canon_hash(d_cols, res.fetchall())
                m.op(s_hash == d_hash, f"{name}: result differs from its oracle")
            except Exception as e:  # noqa: BLE001 - an error is a failed check
                m.op(False, f"{name} raised {e!r}")
        con.close()

    def _loop(self, spark, sf_dir, order, seconds, tracer, m: Measured):
        """Closed loop: CLIENTS threads, each sending its next query only
        after the previous one completes, in the order of the iterator
        ``order``."""
        lock = threading.Lock()
        lat: list[float] = []
        errors: list[str] = []
        t_start = time.perf_counter()
        t_end = t_start + seconds

        def client():
            while time.perf_counter() < t_end:
                with lock:
                    name = next(order)
                try:
                    t = self._query(spark, name, sf_dir, tracer)
                    with lock:
                        lat.append(t)
                except Exception as e:  # noqa: BLE001 - counted as failed
                    with lock:
                        errors.append(f"{name} raised {e!r}")

        threads = [threading.Thread(target=client) for _ in range(self.CLIENTS)]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        wall = time.perf_counter() - t_start
        for _ in lat:
            m.op(True)
        for e in errors:
            m.op(False, e)
        return lat, wall

    def measure(self, spark, ctx, seconds, tracer):
        m = Measured()
        sf_dir = ctx["sf_dir"]
        t0 = time.perf_counter()
        for name in self.QUERIES:  # cold: first run of each query
            try:
                self._query(spark, name, sf_dir)
            except Exception as e:  # noqa: BLE001 - counted as failed
                m.op(False, f"{name} raised {e!r}")
        cold = time.perf_counter() - t0
        self._oracle_check(spark, sf_dir, m)
        # one seeded order made of shuffled blocks of all QUERIES, so every
        # run sends the same mix and only the order depends on the seed
        order = _balanced(self.QUERIES, random.Random(ctx["seed"]))
        if tracer:
            self._traced(spark, sf_dir, order, seconds, tracer, m)
            return m
        lat, wall = self._loop(spark, sf_dir, order, seconds, None, m)
        if not lat:
            raise Incomplete("; ".join(m.notes[-MAX_FAILED:]))
        m.metrics.update(cold_op_s=cold, op_p50_s=statistics.median(lat),
                         op_p90_s=p90(lat), throughput_per_s=len(lat) / wall)
        m.notes.append(f"{len(lat)} queries in {wall:.1f} s")
        return m

    def _traced(self, spark, sf_dir, order, seconds, tracer, m):
        """Four slices of the window, untraced, traced, traced, untraced,
        so that warm-up and drift of the host fall on both kinds alike."""
        from hypertension_dashboard_pipeline_spark import io, registry

        untraced: list[float] = []
        lat: list[float] = []
        for traced in (False, True, True, False):
            if not traced:
                untraced += self._loop(spark, sf_dir, order, seconds / 4, None, m)[0]
                continue
            for name in self.QUERIES:
                tracer.wrap(registry.QUERIES, name, f"query.{name}.call")
            tracer.wrap_everywhere("hypertension_dashboard_pipeline_spark",
                                   io.load_table, "io.load_table")
            try:
                lat += self._loop(spark, sf_dir, order, seconds / 4, tracer, m)[0]
            finally:
                tracer.unwrap_all()
        if not lat or not untraced:
            raise Incomplete("; ".join(m.notes[-MAX_FAILED:]))
        counters = tracer.group_counters()
        n = max(1, len(lat))
        spans = _by_name(tracer)
        call_tot = sink_tot = 0.0
        for name in self.QUERIES:
            call = spans.get(f"query.{name}.call", [])
            sink = spans.get(f"query.{name}.sink", [])
            k = max(1, len(sink))
            m.layers[f"query.{name}.call_s"] = sum(s.seconds for s in call) / k
            m.layers[f"query.{name}.sink_s"] = sum(s.seconds for s in sink) / k
            call_tot += sum(s.seconds for s in call)
            sink_tot += sum(s.seconds for s in sink)
        m.layers["io.load_table.s_per_query"] = sum(
            s.seconds for s in spans.get("io.load_table", [])) / n
        m.layers["dashboard.construct_share"] = call_tot / max(1e-9, call_tot + sink_tot)
        groups = [s.group for s in tracer.spans]
        for key, out in (("jobs", "jobs_per_query"), ("tasks", "tasks_per_query"),
                         ("busy_s", "busy_s_per_query")):
            m.layers[f"dashboard.{out}"] = _counter_sum(counters, groups, key) / n
        m.layers["trace_overhead_frac"] = overhead(lat, untraced)


def _canon_hash(columns, rows) -> str:
    """Order-free hash of a result: columns by name, rows sorted
    null-safely, floats by repr (NaN spelled out), dates ISO."""
    import datetime as dt

    def norm(v):
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else repr(v)
        if isinstance(v, (dt.datetime, dt.date)):
            return v.isoformat()
        return v

    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted((tuple(norm(r[i]) for i in order) for r in rows),
                   key=lambda row: tuple((v is None, str(v)) for v in row))
    h = hashlib.sha256(repr(sorted(columns)).encode())
    for row in canon:
        h.update(repr(row).encode())
    return h.hexdigest()


# --------------------------------------------------------------------------
# dedup_ingest: event drops through the streaming operators, then the
# corpus curation/dedup pass
# --------------------------------------------------------------------------

class DedupIngest:
    """One cycle streams the event drops through
    ``streaming.dedup.dedup_within_watermark`` (on a doubled stream) and
    ``streaming.daily_window.daily_value_stats``, each a bounded run by
    ``streaming.runner.run_bounded`` at one file per trigger, then runs
    one curation pass over the corpus: ``curation_pipeline`` →
    ``dedup_minhash_lsh`` → ``dedup_components`` → ``sim_cosine_near_dup``.
    """

    N_DOCS = 400
    N_FILES = 3
    PER_FILE = 2_000
    PASS = ("curation_pipeline", "dedup_minhash_lsh", "dedup_components",
            "sim_cosine_near_dup")

    def prepare(self, work, seed):
        inputs = os.path.join(work, "inputs")
        return {
            "corpus": gen.cached(inputs, "corpus", seed, self.N_DOCS, gen.build_corpus),
            "events": gen.cached(inputs, "events", seed, self.N_FILES,
                                 lambda p, s, n: gen.build_events(p, s, n, self.PER_FILE)),
        }

    def register(self, spark, paths):
        from pyspark.sql import types as T
        from spans import ProgressCollector

        schema = T.StructType([
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ])
        listener = ProgressCollector()
        spark.streams.addListener(listener)
        return {**paths, "schema": schema, "listener": listener, "runs": 0}

    # -- streaming half --

    def _source(self, spark, ctx):
        return (spark.readStream.schema(ctx["schema"])
                .option("maxFilesPerTrigger", 1)
                .option("pathGlobFilter", "*.parquet")
                .parquet(ctx["events"]))

    def _stream(self, spark, ctx, tracer):
        """Both bounded runs; returns (seconds, emitted, daily, progress)."""
        from hypertension_dashboard_pipeline_spark.streaming import daily_window, dedup, runner

        lst, k = ctx["listener"], ctx["runs"]
        ctx["runs"] += 1
        before, ended = len(lst.progress), len(lst.terminated)
        t0 = time.perf_counter()
        with _maybe_span(tracer, "streaming.dedup"):
            doubled = self._source(spark, ctx).unionByName(self._source(spark, ctx))
            out = dedup.dedup_within_watermark(doubled, ["event_id"]).select("event_id", "value")
            emitted = runner.run_bounded(spark, out, f"pb_dedup_{k}")
        with _maybe_span(tracer, "streaming.daily_window"):
            daily = runner.run_bounded(
                spark, daily_window.daily_value_stats(self._source(spark, ctx)), f"pb_daily_{k}")
        secs = time.perf_counter() - t0
        lst.wait_terminated(ended + 2)
        return secs, emitted, daily, lst.progress[before:]

    def _check_stream(self, emitted, daily, m: Measured) -> None:
        """Every distinct input event_id is emitted exactly once."""
        n_distinct = self.N_FILES * self.PER_FILE
        try:
            rows = emitted.count()
            ids = emitted.select("event_id").distinct().count()
            days = daily.count()
        except Exception as e:  # noqa: BLE001 - a failed read is a failed check
            m.op(False, f"stream check raised {e!r}")
            return
        m.op(rows == ids == n_distinct and days > 0,
             f"emitted {rows} rows / {ids} ids, want {n_distinct}; {days} days")

    # -- curation half --

    def _curate(self, spark, ctx, tracer):
        """One curation pass; returns (seconds, {query: rows})."""
        from hypertension_dashboard_pipeline_spark import registry

        out = {}
        t0 = time.perf_counter()
        for name in self.PASS:
            df = registry.QUERIES[name](spark, ctx["corpus"])
            with _maybe_span(tracer, f"curation.{name}.sink"):
                out[name] = df.collect()
        return time.perf_counter() - t0, out

    @staticmethod
    def _summary(out) -> tuple:
        """(survivors, clusters, LSH candidate pairs, cosine pairs)."""
        survivors = sum(r["n_docs"] for r in out["curation_pipeline"])
        clusters = len({r["component"] for r in out["dedup_components"]})
        return (survivors, clusters, len(out["dedup_minhash_lsh"]),
                len(out["sim_cosine_near_dup"]))

    # -- cycles --

    def _cycle(self, spark, ctx, m: Measured, first, tracer=None) -> dict:
        """One cycle; returns {} if it raised, which counts as failed."""
        try:
            stream_s, emitted, daily, progress = self._stream(spark, ctx, tracer)
        except Exception as e:  # noqa: BLE001 - counted as failed
            m.op(False, f"streaming pass raised {e!r}")
            return {}
        self._check_stream(emitted, daily, m)
        try:
            curate_s, out = self._curate(spark, ctx, tracer)
            summ = self._summary(out)
        except Exception as e:  # noqa: BLE001 - counted as failed
            m.op(False, f"curation pass raised {e!r}")
            return {}
        if first is None:
            m.op(summ[0] > 0 and summ[1] > 0, f"empty curation result {summ}")
        else:
            m.op(summ == first, f"curation summary {summ} != first pass {first}")
        return {"stream_s": stream_s, "curate_s": curate_s, "progress": progress,
                "summary": summ, "lsh": out["dedup_minhash_lsh"]}

    @staticmethod
    def _stream_numbers(cycles) -> dict[str, float]:
        batches = [p for c in cycles for p in c["progress"]]
        trig = [p["durationMs"]["triggerExecution"] / 1e3 for p in batches]
        return {
            "events_per_s": sum(p["numInputRows"] for p in batches)
            / sum(c["stream_s"] for c in cycles),
            "microbatch_p50_s": statistics.median(trig),
        }

    def measure(self, spark, ctx, seconds, tracer):
        m = Measured()
        cold = self._cycle(spark, ctx, m, None)
        if not cold:
            raise Incomplete("; ".join(m.notes))
        first = cold["summary"]
        cycles, traced = window(seconds, tracer,
                                lambda tr: self._cycle(spark, ctx, m, first, tr),
                                self._install, 2, m)
        totals = [c["stream_s"] + c["curate_s"] for c in cycles]
        m.metrics.update(cold_op_s=cold["stream_s"] + cold["curate_s"],
                         op_p50_s=statistics.median(totals),
                         op_p90_s=p90(totals),
                         throughput_per_s=self._stream_numbers(cycles)["events_per_s"])
        m.notes.append(f"survivors, clusters, lsh pairs, cosine pairs = {first}")
        if tracer:
            self._layers(tracer, m, traced, totals)
        return m

    def _install(self, tracer) -> None:
        from hypertension_dashboard_pipeline_spark import registry

        for name in self.PASS:
            tracer.wrap(registry.QUERIES, name, f"curation.{name}.call")

    def _layers(self, tracer, m, cycles, untraced) -> None:
        counters = tracer.group_counters()
        n = len(cycles)
        spans = _by_name(tracer)
        for name in self.PASS:
            call = spans.get(f"curation.{name}.call", [])
            sink = spans.get(f"curation.{name}.sink", [])
            groups = [s.group for s in call + sink]
            pre = f"curation.{name}."
            m.layers[pre + "call_s"] = sum(s.seconds for s in call) / n
            m.layers[pre + "sink_s"] = sum(s.seconds for s in sink) / n
            for key in ("busy_s", "shuffle_write_mb", "spill_mb"):
                m.layers[pre + key] = _counter_sum(counters, groups, key) / n
        m.layers["curation.pass_s"] = statistics.mean(c["curate_s"] for c in cycles)
        pairs = cycles[-1]["lsh"]
        m.layers["operators.dedup.lsh_candidates"] = len(pairs)
        m.layers["operators.dedup.lsh_useful_frac"] = (
            sum(r["est_jaccard"] >= 0.5 for r in pairs) / len(pairs) if pairs else 0.0)
        comp = [s.group for s in spans.get("curation.dedup_components.call", [])]
        m.layers["operators.dedup.components.jobs"] = _counter_sum(counters, comp, "jobs") / n

        batches = [p for c in cycles for p in c["progress"]]
        dur = lambda key: sum(p["durationMs"].get(key, 0) for p in batches) / 1e3 / n  # noqa: E731
        state = [op for p in batches for op in p.get("stateOperators", [])]
        # state size at the end of each streaming query (its last progress)
        last = {}
        for p in batches:
            last[p["runId"]] = p
        end_state = [op for p in last.values() for op in p.get("stateOperators", [])]
        m.layers.update({
            "streaming.pass_s": statistics.mean(c["stream_s"] for c in cycles),
            "streaming.batches": len(batches) / n,
            "streaming.add_batch_s": dur("addBatch"),
            "streaming.wal_commit_s": dur("walCommit"),
            "streaming.commit_offsets_s": dur("commitOffsets"),
            "streaming.query_planning_s": dur("queryPlanning"),
            "streaming.state_commit_s": sum(op.get("commitTimeMs", 0) for op in state) / 1e3 / n,
            "streaming.state_rows": sum(op.get("numRowsTotal", 0) for op in end_state) / n,
            "streaming.state_mb": sum(op.get("memoryUsedBytes", 0) for op in end_state) / 2**20 / n,
            **{f"streaming.{k}": v for k, v in self._stream_numbers(cycles).items()},
        })
        m.layers["trace_overhead_frac"] = overhead(
            [c["stream_s"] + c["curate_s"] for c in cycles], untraced)


def _balanced(items, rng: random.Random):
    """Endless sequence of seeded shuffles of ``items``."""
    while True:
        block = list(items)
        rng.shuffle(block)
        yield from block


def _maybe_span(tracer, name: str):
    return tracer.span(name) if tracer else contextlib.nullcontext()


def _by_name(tracer) -> dict[str, list]:
    out: dict[str, list] = {}
    for sp in tracer.spans:
        out.setdefault(sp.name, []).append(sp)
    return out


WORKLOADS = {
    "omop_batch": OmopBatch,
    "dashboard_mix": DashboardMix,
    "dedup_ingest": DedupIngest,
}
