"""The benchmark's workloads and per-layer probes, each driven through
the public functions of ``fiveg_spark``.

A workload has ``setup()`` (inputs, staging, and ``WARMUP`` passes —
a cold one and a warm one — which the timings exclude), ``op()``
(one operation of its closed loop, untraced; it records its own latency
and counts failed checks), ``split()`` (one operation again, call by
call, each layer in a span: the per-layer numbers of a traced run) and
``probe()`` (a traced run's extra probe).

Two probes run only in traced runs: ``StreamProbe`` (an open loop over
the streaming KPI query) and ``CorpusProbe`` (the 18 ``bench.HEADLINE``
queries).  They record per-layer numbers into the workload that hosts
them; as workloads of their own they would double the time a full set
of benchmark runs takes.
"""

from __future__ import annotations

import itertools
import json
import math
import os
import statistics
import threading
import time
from datetime import datetime

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import Observation
from pyspark.sql import functions as F

from perfbench import datagen
from perfbench.meter import SparkStages, Tracer, add_into

SLICES = ("eMBB", "URLLC", "mMTC")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _pcap_files(root: str) -> list[str]:
    return sorted(
        os.path.join(d, n) for d, _, names in os.walk(root) for n in names if n.endswith(".pcap")
    )


def _slice_totals(rows) -> dict[str, tuple[int, int]]:
    """Packets and bytes per slice of a packet table."""
    sl = rows.column("slice_type").to_numpy(zero_copy_only=False)
    ln = rows.column("packet_len").to_numpy().astype(np.int64)
    return {s: (int((sl == s).sum()), int(ln[sl == s].sum())) for s in SLICES}


def _packets(reader, root: str):
    """``spark.read`` or ``spark.readStream`` over captures → canonical packets."""
    from fiveg_spark.sources.pcap import to_canonical_packets

    return to_canonical_packets(reader.format("pcap").load(root))


class Workload:
    """Shared state: the session, the work directory, the tracer and the
    tallies the runner reports."""

    name = ""
    min_ops = 1
    WARMUP = 2  # the cold pass, then one warm pass

    def __init__(self, spark, work: str, seed: int, seconds: int, tracer: Tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.trace = tracer
        self.stages = SparkStages(spark) if tracer.enabled else None
        self.spark_totals: dict[str, float] = {}
        self.latencies: list[float] = []  # one per operation of the timed section
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.layer: dict[str, float] = {}
        self._obs_ids = itertools.count()

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what)

    def observation(self, what: str) -> Observation:
        return Observation(f"{what}-{next(self._obs_ids)}")

    def take_stages(self) -> dict[str, float]:
        """Stage totals since the last call (traced runs only)."""
        if self.stages is None:
            return {}
        part = self.stages.take()
        add_into(self.spark_totals, part)
        return part

    def mark(self) -> None:
        """Drop stage counters accrued before the timed section."""
        self.take_stages()
        self.spark_totals = {}

    def write_captures(self, rows, root: str, partition) -> float:
        """Stage ``rows`` as capture files through the engine's writer;
        returns the write's seconds."""
        staged = os.path.join(self.work, f"{os.path.basename(root)}.parquet")
        pq.write_table(rows, staged)
        t0 = time.perf_counter()
        with self.trace.span("pcap_writer.write"):
            partition(self.spark.read.parquet(staged)).write.format("pcap").mode(
                "overwrite"
            ).save(root)
        return time.perf_counter() - t0


class CaptureKpi(Workload):
    """Closed loop: ``spark.read.format("pcap")`` → ``to_canonical_packets``
    → ``kpi36_from_packets`` → noop sink over captures that set-up wrote
    with ``df.write.format("pcap")``."""

    name = "capture_kpi"
    # one pass swings 10-15% from the next; the median of five holds
    min_ops = 5
    WRITE_TASKS = 8  # x 3 slices = 24 capture files

    def setup(self) -> None:
        from fiveg_spark.sources.pcap_datasource import register_pcap_source

        register_pcap_source(self.spark)
        # the month of sf0.1 events, day-shifted: 100k packets, 1,500
        # user-keyed flows
        rng = np.random.default_rng(self.seed)
        rows = datagen.packet_rows(datagen.shifted(datagen.events(), datagen.shift_days(rng)))
        self.expect = _slice_totals(rows)
        self.captures = os.path.join(self.work, "captures")
        self.layer["pcap_writer.write_s"] = self.write_captures(
            rows, self.captures, lambda df: df.repartition(self.WRITE_TASKS)
        )
        self.layer["pcap_writer.files"] = len(_pcap_files(self.captures))
        self.layer["pcap_datasource.packets"] = rows.num_rows
        for _ in range(self.WARMUP):
            self.run_chain()

    def run_chain(self) -> float:
        """One pass, checked: the per-slice sums of Total_Packets and
        Total_Bytes must equal the packets set-up wrote."""
        from fiveg_spark.operators.kpi import kpi36_from_packets

        self.attempted += 1
        obs = self.observation("capture-kpi")
        sums = []
        for s in SLICES:
            mine = F.col("slice") == s
            sums.append(F.sum(F.when(mine, F.col("Total_Packets"))).alias(f"n_{s}"))
            sums.append(F.sum(F.when(mine, F.col("Total_Bytes"))).alias(f"b_{s}"))
        t0 = time.perf_counter()
        with self.trace.span("capture_kpi"):
            _noop(kpi36_from_packets(_packets(self.spark.read, self.captures)).observe(obs, *sums))
        dt = time.perf_counter() - t0
        got = obs.get
        for s in SLICES:
            n, b = self.expect[s]
            if got[f"n_{s}"] != n or round(got[f"b_{s}"]) != b:
                self.fail(f"{s}: packets/bytes {got[f'n_{s}']}/{got[f'b_{s}']} != {n}/{b}")
        return dt

    def op(self) -> None:
        self.latencies.append(self.run_chain())
        self.take_stages()

    def split(self) -> None:
        """A decode-only pass, then a whole pass: their difference is the
        KPI aggregation."""
        self.take_stages()
        with self.trace.span("pcap_datasource.decode"):
            _noop(_packets(self.spark.read, self.captures))
        self.layer["pcap_datasource.tasks"] = self.take_stages().get("tasks", 0)
        self.run_chain()
        self.layer["kpi.shuffle_write_bytes"] = self.take_stages().get("shuffle_write_bytes", 0)
        m = self.trace.last
        self.layer["pcap_datasource.decode_s"] = m("pcap_datasource.decode")
        self.layer["kpi.agg_s"] = max(m("capture_kpi") - m("pcap_datasource.decode"), 0.0)
        self.layer["capture_kpi_s"] = statistics.median(self.latencies)

    def probe(self) -> None:
        CorpusProbe(self).run()


class ForecastChain(Workload):
    """Closed loop: the whole ``hybrid_eval`` call plus its action, then
    the whole ``hybrid_train_eval`` call plus its action."""

    name = "forecast_chain"
    EPOCHS = 1
    # In one process the passes after the cold one fall from ~11 to ~9 s
    # while the JIT compiles (14-18 CPU-s of compiling in the second pass,
    # 5-7 from the fourth on): a single timed pass swings with it, so the
    # latency is the median of at least two.
    min_ops = 2

    def setup(self) -> None:
        # a seeded week of sf0.1 events: 168 hourly rows per slice, 108
        # residual sequences each
        self.tables = os.path.join(self.work, "tables")
        rng = np.random.default_rng(self.seed)
        datagen.write_events(self.tables, datagen.week(datagen.events(), rng))
        self.forecast_s: list[float] = []
        self.train_s: list[float] = []
        for _ in range(self.WARMUP):
            self.run_chain()

    def _eval(self) -> list:
        from fiveg_spark.ml.hybrid import hybrid_eval

        return hybrid_eval(self.spark, self.tables).collect()

    def _train(self) -> list:
        from fiveg_spark.ml.train import hybrid_train_eval

        return hybrid_train_eval(self.spark, self.tables, epochs=self.EPOCHS).collect()

    def run_chain(self) -> tuple[float, float]:
        """One pass, checked; returns the seconds of the two whole calls."""
        self.attempted += 1
        t0 = time.perf_counter()
        with self.trace.span("hybrid.eval"):
            evals = self._eval()
        t1 = time.perf_counter()
        with self.trace.span("train.hybrid_train_eval"):
            trained = self._train()
        t2 = time.perf_counter()
        self.check(evals, trained)
        return t1 - t0, t2 - t1

    def op(self) -> None:
        forecast_s, train_s = self.run_chain()
        self.latencies.append(forecast_s + train_s)
        self.forecast_s.append(forecast_s)
        self.train_s.append(train_s)
        self.take_stages()

    def check(self, evals: list, trained: list) -> None:
        """3 slices x 7 features of finite RMSE/MAE over n > 0 rows, and
        one ``hybrid_train_eval`` row per slice plus ``ALL``."""
        bad = [
            r for r in evals
            if not (math.isfinite(r["rmse"]) and math.isfinite(r["mae"]) and r["n"] > 0)
        ]
        keys = {(r["slice"], r["feature"]) for r in evals}
        if len(evals) != 21 or len(keys) != 21 or bad:
            self.fail(f"hybrid_eval: {len(evals)} rows, {len(bad)} non-finite")
        slices = sorted(r["slice"] for r in trained)
        if slices != sorted((*SLICES, "ALL")):
            self.fail(f"hybrid_train_eval: slices {slices}")

    def split(self) -> None:
        """The chain call by call, each layer materialised on its own,
        then a whole ``hybrid_eval``: what it spends beyond the residual
        pipeline, the window and the forward pass is the compose."""
        from fiveg_spark.ml import features, hybrid, model, train, var

        sp, d = self.spark, self.tables
        with self.trace.span("features.scale"):
            scaled, _ = features.robust_scale(features.feature_frame(sp, d))
            scaled = scaled.localCheckpoint()
        with self.trace.span("var.fit"):
            design = var.lag_design(scaled).localCheckpoint()
            var.solve_coefficients(var.normal_equations(design.filter(F.col("split") == "train")))
        with self.trace.span("hybrid.residual_pipeline"):
            _, sequences, _ = hybrid.residual_pipeline(sp, d)
        with self.trace.span("sequences.window"):
            sequences = sequences.localCheckpoint()
        self.take_stages()
        with self.trace.span("model.forward"):
            _noop(model.predict_residuals(sequences, sp.sparkContext.broadcast(model.init_weights())))
        self.layer["model.forward_tasks"] = self.take_stages().get("tasks", 0)
        with self.trace.span("hybrid.eval"):
            self._eval()
        dims = train.Dims(k=len(features.FEATURES))
        with self.trace.span("train.fit"):
            by_slice, _ = train.collect_weights(
                train.train_residual_models(sequences, dims, epochs=self.EPOCHS)
            )
        with self.trace.span("train.score"):
            _noop(train.predict_trained(
                sequences.filter(F.col("split") == "test"), sp.sparkContext.broadcast(by_slice), dims
            ))
        m = self.trace.last
        self.layer.update({
            "features.scale_s": m("features.scale"),
            "var.fit_s": m("var.fit"),
            "hybrid.residual_s": m("hybrid.residual_pipeline"),
            "sequences.window_s": m("sequences.window"),
            "model.forward_s": m("model.forward"),
            "hybrid.compose_eval_s": max(
                m("hybrid.eval") - m("hybrid.residual_pipeline")
                - m("sequences.window") - m("model.forward"),
                0.0,
            ),
            "train.fit_s": m("train.fit"),
            "train.epoch_s": m("train.fit") / self.EPOCHS,
            "train.score_s": m("train.score"),
            "forecast_s": statistics.median(self.forecast_s),
            "train_s": statistics.median(self.train_s),
        })

    def probe(self) -> None:
        StreamProbe(self).run()


class CorpusProbe:
    """The 18 ``bench.HEADLINE`` queries from ``__spark_entry__.queries()``
    over the sf0.01 tables, each to the noop sink: a cold pass, then a
    timed pass.  Each query's row count must equal its DuckDB oracle's on
    the same tables."""

    def __init__(self, host: Workload):
        self.host = host
        self.tables = os.path.join(host.work, "corpus-tables")

    def _count(self, name: str) -> tuple[int, float]:
        h = self.host
        obs = h.observation(name)
        t0 = time.perf_counter()
        with h.trace.span(f"query.{name}"):
            _noop(self.queries[name](h.spark, self.tables).observe(obs, F.count(F.lit(1)).alias("n")))
        return obs.get["n"], time.perf_counter() - t0

    def oracle_counts(self, names) -> dict[str, int]:
        import __spark_entry__ as contract
        import duckdb

        from fiveg_spark.sources.tables import TABLES

        oracles = contract.oracle_sql()
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.tables}/{t}.parquet'")
            return {n: con.execute(f"SELECT count(*) FROM ({oracles[n]})").fetchone()[0] for n in names}
        finally:
            con.close()

    def run(self) -> None:
        import __spark_entry__ as contract
        from bench import HEADLINE

        h = self.host
        datagen.write_corpus(self.tables, np.random.default_rng(h.seed + 1))
        self.queries = contract.queries()
        for _ in range(2):  # cold, then timed
            h.attempted += 1
            h.take_stages()
            runs = {n: self._count(n) for n in HEADLINE}
        spark = h.take_stages()
        expect = self.oracle_counts(HEADLINE)
        wrong = {n: (runs[n][0], expect[n]) for n in HEADLINE if runs[n][0] != expect[n]}
        if wrong:
            h.fail(f"row counts differ from the oracle (spark, oracle): {wrong}")
        h.layer.update({f"query.{n}_s": runs[n][1] for n in HEADLINE})
        h.layer["corpus_total_s"] = sum(dt for _, dt in runs.values())
        h.layer["corpus.task_cpu_s"] = spark.get("task_cpu_s", 0.0)


class StreamProbe:
    """Open loop: a generator thread lands pre-staged capture files into a
    watched directory on a fixed schedule that does not slow when the
    system does; the query runs ``readStream.format("pcap")`` →
    ``to_canonical_packets`` → ``streaming_kpi36`` → noop sink.  A file's
    latency runs from its due time to the end of the micro-batch whose
    end offset first includes it."""

    # offered load: one file per slice every INTERVAL_S, PACKETS_PER_S in
    # all, one flow per user.  On 4 cores a micro-batch takes 5-9 s
    # almost whatever it holds, so each batch takes in all the files that
    # landed while the previous one ran and the backlog stays bounded.
    INTERVAL_S = 1.0
    PACKETS_PER_S = 400

    def __init__(self, host: Workload):
        self.host = host
        self.staging = os.path.join(host.work, "stream-staging")
        self.watched = os.path.join(host.work, "stream-watched")

    def stage(self) -> None:
        h = self.host
        slots = max(2, round(h.seconds / self.INTERVAL_S))
        n = int(self.PACKETS_PER_S * self.INTERVAL_S * slots)
        # a seeded run of consecutive sf0.1 events, day-shifted: at their
        # density (about a day per 3,300) the stream crosses many hourly
        # windows and the watermark moves
        rng = np.random.default_rng(h.seed + 2)
        ev = datagen.events()
        start = int(rng.integers(0, ev.num_rows - n + 1))
        rows = datagen.packet_rows(datagen.shifted(ev.slice(start, n), datagen.shift_days(rng)))
        self.total_packets = rows.num_rows
        # range partitioning makes the writer's task index time-ordered:
        # it is the landing slot
        h.write_captures(rows, self.staging, lambda df: df.repartitionByRange(slots, "timestamp_ms"))
        self.slots: dict[int, list[str]] = {}
        for f in _pcap_files(self.staging):
            self.slots.setdefault(int(os.path.basename(f).split("-")[1]), []).append(f)
        for sub in ("embb", "urllc", "mmtc"):
            os.makedirs(os.path.join(self.watched, sub))

    def _land(self, t0: float, landed: list) -> None:
        for i, part in enumerate(sorted(self.slots)):
            due = t0 + i * self.INTERVAL_S
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            for f in self.slots[part]:
                sub, name = os.path.basename(os.path.dirname(f)), f"c-{i:06d}.pcap"
                os.replace(f, os.path.join(self.watched, sub, name))
                landed.append((sub, name, due, time.time()))

    @staticmethod
    def _batch_end(p: dict) -> float:
        start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        return start + p["durationMs"].get("triggerExecution", 0) / 1000.0

    def _covered(self, progress: list[dict], landed) -> dict[tuple[str, str], float]:
        """(subdir, file) → end time of the first batch whose end offset
        includes it."""
        done: dict[tuple[str, str], float] = {}
        for p in sorted(progress, key=lambda p: p["batchId"]):
            end_offset = p["sources"][0].get("endOffset") if p.get("sources") else None
            if not end_offset:
                continue
            if isinstance(end_offset, str):
                end_offset = json.loads(end_offset)
            last = {os.path.basename(d): m["last"] for d, m in end_offset.get("dirs", {}).items()}
            end = self._batch_end(p)
            for sub, name, _, _ in landed:
                if (sub, name) not in done and last.get(sub, "") >= name:
                    done[(sub, name)] = end
        return done

    def run(self) -> None:
        from fiveg_spark.sources.pcap_datasource import register_pcap_source
        from fiveg_spark.streaming.kpi_stream import streaming_kpi36

        h = self.host
        register_pcap_source(h.spark)
        self.stage()
        q = (
            streaming_kpi36(_packets(h.spark.readStream, self.watched))
            .writeStream.format("noop")
            .outputMode("append")
            .option("checkpointLocation", os.path.join(h.work, "stream-ckpt"))
            .start()
        )
        landed: list = []
        gen = threading.Thread(target=self._land, args=(time.time() + 1.0, landed), name="landing")
        gen.start()
        gen.join()
        # drain: stop only after the batch holding the last landed file
        # has committed; a query that terminates is a failure
        progress, done = [], {}
        deadline = time.time() + 60
        try:
            while time.time() < deadline:
                if not q.isActive:
                    h.fail(f"stream terminated: {q.exception()}")
                    break
                progress = [json.loads(p.json) for p in q.recentProgress]
                done = self._covered(progress, landed)
                if len(done) == len(landed):
                    break
                time.sleep(0.2)
        finally:
            q.stop()
        h.attempted += len(landed)
        lat = []
        for sub, name, due, _ in landed:
            if (sub, name) in done:
                lat.append(done[(sub, name)] - due)
            else:
                h.fail(f"{sub}/{name} never committed")
        rows_in = sum(p["numInputRows"] for p in progress)
        if rows_in != self.total_packets:
            h.fail(f"numInputRows {rows_in} != {self.total_packets} packets landed")
        batches = [p for p in progress if p["numInputRows"] > 0]
        dur = [p["durationMs"].get("triggerExecution", 0) / 1000.0 for p in batches]
        add = [p["durationMs"].get("addBatch", 0) / 1000.0 for p in batches]
        commit = [sum(o.get("commitTimeMs", 0) for o in p["stateOperators"]) / 1000.0 for p in batches]
        state_rows = [sum(o.get("numRowsTotal", 0) for o in p["stateOperators"]) for p in batches]
        first_due = min(due for _, _, due, _ in landed)
        last_end = max(done.values(), default=time.time())
        h.layer.update({
            "kpi_stream.batch_s": statistics.median(dur) if dur else 0.0,
            "kpi_stream.batches": len(batches),
            "kpi_stream.add_batch_s": statistics.median(add) if add else 0.0,
            "kpi_stream.state_rows": state_rows[-1] if state_rows else 0,
            "kpi_stream.state_commit_s": statistics.median(commit) if commit else 0.0,
            "kpi_stream.gen_late_s": max(actual - due for _, _, due, actual in landed),
            "stream_lat_p50_s": statistics.median(lat) if lat else 0.0,
            "stream_lat_p90_s": statistics.quantiles(lat, n=10)[8] if len(lat) > 1 else 0.0,
            "stream_pkts_per_s": rows_in / max(last_end - first_due, 1e-9),
        })


WORKLOADS = {w.name: w for w in (CaptureKpi, ForecastChain)}
