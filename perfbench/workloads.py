"""The workloads. Each drives ``dbus_spark`` through its public API
only and receives nothing but files the generators in
``dbus_spark.datagen`` wrote from the run's seed.

A workload has three steps:

- ``prepare()`` generates its input files (the load generator; not timed);
- ``setup(spark)`` builds the plan and runs it once over a throwaway
  input on a throwaway checkpoint, so that class loading, code
  generation, JIT and Python worker start-up land in set-up time
  (``run.py`` times it as part of ``setup_s``);
- ``measure(spark, seconds, tracer)`` does the timed work for about
  ``seconds``, checks the outputs, and returns a :class:`Result`.

Output checks raise :class:`harness.CheckFailed` (never ``assert``); a
failed check counts in ``Result.failed``.
"""

from __future__ import annotations

import os
import shutil
import threading
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

import harness as H
from harness import require


@dataclass
class Result:
    """Raw samples of one measured phase."""

    rows: int = 0  # input rows the phase consumed
    busy_s: list = field(default_factory=list)  # wall time of each drain or pass
    batch_ms: list = field(default_factory=list)  # per batch (or pass)
    delivery_ms: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    units: int = 0  # batches (streaming) or passes (batch) traced
    layer: dict = field(default_factory=dict)  # per-layer totals
    late_ms: list = field(default_factory=list)
    start: float = 0.0
    end: float = 0.0
    queries: dict = field(default_factory=dict)  # sink label -> query id


def _add(layer: dict, key: str, value: float) -> None:
    layer[key] = layer.get(key, 0.0) + value


def _read_sink(path: str) -> pd.DataFrame:
    """Committed epochs of an IdempotentKeyedSink, read without Spark
    from its documented layout (``data/batch=<epoch>`` partitions,
    ``_batches`` markers): an epoch is visible once its marker exists."""
    meta = os.path.join(path, "_batches")
    parts = []
    for m in sorted(os.listdir(meta)):
        if not m.endswith(".json"):
            continue
        bid = int(m[len("batch-") : -len(".json")])
        d = os.path.join(path, "data", f"batch={bid}")
        files = [f for f in os.listdir(d) if f.endswith(".parquet")]
        parts += [pd.read_parquet(os.path.join(d, f)) for f in files]
    return pd.concat(parts, ignore_index=True) if parts else pd.DataFrame()


def _epoch_rows(path: str, bid: int) -> int:
    import pyarrow.parquet as pq

    d = os.path.join(path, "data", f"batch={bid}")
    return sum(
        pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
        for f in os.listdir(d)
        if f.endswith(".parquet")
    )


class _TracedSink:
    """foreachBatch callable around the library's IdempotentKeyedSink.

    Untraced it is a plain call of ``write_batch``. Traced, it records a
    ``sinks.write_batch`` span per (query, batch), the rows offered
    (an ``Observation`` on the batch) and the rows the epoch holds."""

    def __init__(self, sink, tracer: H.Tracer, label: str):
        self.sink = sink
        self.tracer = tracer
        self.label = label
        self.offered = 0
        self.written = 0

    def __call__(self, df, bid: int) -> None:
        if not self.tracer.enabled:
            self.sink.write_batch(df, bid)
            return
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        obs = Observation(f"offered_{self.label}_{bid}")
        t0 = time.time()
        self.sink.write_batch(df.observe(obs, F.count(F.lit(1)).alias("n")), bid)
        t1 = time.time()
        offered = int(obs.get["n"])
        written = _epoch_rows(self.sink.path, bid)
        self.offered += offered
        self.written += written
        self.tracer.add(
            "sinks.write_batch",
            "sinks",
            t0,
            t1,
            request=f"{self.label}:{bid}",
            offered=offered,
            written=written,
        )


# --- transcript backlog drain ----------------------------------------


class WindowDrain:
    """A transcript backlog (late, duplicate, out-of-order and hot-
    conversation fixture) drained by one streaming query: enrich_turns
    (one Arrow pandas-UDF crossing) -> windowed_agg (JVM window state,
    watermark) -> IdempotentKeyedSink (epoch_overwrite, counts off).
    Each drain starts from a fresh checkpoint and sink over the same
    input files; drains repeat until the measuring time is used up."""

    name = "window_drain"
    N_CONVS = 750
    N_FILES = 12
    WINDOW_S = 60
    WATERMARK_S = 600

    def __init__(self, work: str, seed: int, toy: bool):
        self.work = work
        self.seed = seed
        self.n_convs = 300 if toy else self.N_CONVS
        self.n_files = 4 if toy else self.N_FILES
        # ~11k rows per micro-batch and one task per core (toy: enough
        # batches for the watermark to close windows)
        self.files_per_trigger = 1 if toy else H.nproc()
        self.in_dir = os.path.join(work, "in")
        self.warm_dir = os.path.join(work, "warm_in")
        self._n = 0

    def prepare(self) -> dict:
        from dbus_spark.datagen import generate_transcripts, write_stream_batches

        pdf = generate_transcripts(n_convs=self.n_convs, seed=self.seed)
        write_stream_batches(pdf, self.in_dir, n_files=self.n_files)
        self.rows = len(pdf)
        self.file_frames = {
            f: pd.read_parquet(os.path.join(self.in_dir, f))
            for f in sorted(os.listdir(self.in_dir))
        }
        # the warm-up drains two batches of the measured size, so that
        # the JIT and the Python workers see full-size batches before
        # the clock starts
        warm = generate_transcripts(n_convs=self.n_convs // 2, seed=self.seed + 1)
        write_stream_batches(
            warm, self.warm_dir, n_files=2 * self.files_per_trigger
        )
        return {"rows_offered": self.rows, "files": self.n_files}

    def _plan(self, spark, in_dir: str):
        from pyspark.sql import functions as F

        from dbus_spark.functions.vectorized import enrich_turns
        from dbus_spark.operators import windowed_agg
        from dbus_spark.sources import transcript_file_stream

        src = transcript_file_stream(spark, in_dir, self.files_per_trigger)
        return windowed_agg(
            enrich_turns(src),
            f"{self.WINDOW_S} seconds",
            aggs={"n_turns": F.count("*"), "tok_sum": F.sum("n_tokens")},
            keys=["conv_id"],
            watermark=f"{self.WATERMARK_S} seconds",
        )

    def _drain(self, spark, in_dir: str, tracer: H.Tracer) -> dict:
        from dbus_spark.sinks import IdempotentKeyedSink

        self._n += 1
        label = f"{self.name}{self._n}"
        ck = os.path.join(self.work, "ck", label)
        out = os.path.join(self.work, "out", label)
        sink = IdempotentKeyedSink(
            out,
            keys=["conv_id", "window_start"],
            dedup_mode="epoch_overwrite",
            track_counts=False,
        )
        fb = _TracedSink(sink, tracer, label)
        t_build = time.time()
        plan = self._plan(spark, in_dir)
        t0 = time.time()
        q = (
            plan.writeStream.outputMode("append")
            .option("checkpointLocation", ck)
            .foreachBatch(fb)
            .start()
        )
        t_started = time.time()
        q.processAllAvailable()
        q.stop()
        q.awaitTermination(60)
        tracer.add("pipeline.build", "pipeline", t_build, t0, request=label)
        tracer.add("pipeline.start", "pipeline", t0, t_started, request=label)
        return {
            "label": label,
            "query_id": str(q.id),
            "ck": ck,
            "out": out,
            "t0": t0,
            "build_s": t0 - t_build,
            "start_s": t_started - t0,
            "sink": fb,
        }

    def setup(self, spark) -> None:
        d = self._drain(spark, self.warm_dir, H.Tracer(False))
        shutil.rmtree(d["ck"])
        shutil.rmtree(d["out"])

    def measure(self, spark, seconds: float, tracer: H.Tracer) -> Result:
        res = Result(start=time.time())
        deadline = res.start + seconds
        lay = res.layer
        while True:
            d = self._drain(spark, self.in_dir, tracer)
            times = H.batch_times(d["ck"])
            files = H.files_by_batch(d["ck"])
            committed = {f for b, fs in files.items() if b in times for f in fs}
            res.attempted += len(self.file_frames)
            res.failed += len(set(self.file_frames) - committed)
            last_commit = max(c for _, c in times.values())
            res.busy_s.append(last_commit - d["t0"])
            res.rows += self.rows
            for bid, (off, com) in times.items():
                res.batch_ms.append((com - off) * 1000.0)
                # the whole backlog was due when the drain started
                res.delivery_ms += [(com - d["t0"]) * 1000.0] * len(files.get(bid, []))
            batches = [
                pd.concat([self.file_frames[f] for f in files[b]])
                for b in sorted(files)
            ]
            try:
                self._check(_read_sink(d["out"]), batches)
            except H.CheckFailed as e:
                print(f"check failed: {d['label']}: {e}", flush=True)
                res.failed += 1
                res.attempted += 1
            _add(lay, "pipeline.build_ms", d["build_s"] * 1000.0)
            _add(lay, "pipeline.start_ms", d["start_s"] * 1000.0)
            _add(lay, "pipeline.starts", 1)
            _add(lay, "sources.files", sum(len(v) for v in files.values()))
            lay["sources.backlog_files_max"] = len(self.file_frames)
            _add(lay, "sinks.offered", d["sink"].offered)
            _add(lay, "sinks.written", d["sink"].written)
            res.units += len(times)
            res.queries[d["label"]] = d["query_id"]
            shutil.rmtree(d["ck"])
            shutil.rmtree(d["out"])
            if time.time() >= deadline:
                break
        res.end = time.time()
        res.late_ms = [0.0]  # the backlog is written before the clock starts
        return res

    def _check(self, got: pd.DataFrame, batches: list[pd.DataFrame]) -> None:
        """Closed windows equal a pandas reference over the batches the
        file source formed, with Spark's two-watermark semantics."""
        from tests.oracle_pd import simulate_watermark_survivors

        kept, wm = simulate_watermark_survivors(
            batches, self.WATERMARK_S, self.WINDOW_S
        )
        kept = kept.assign(
            window_start=kept["ts"].dt.floor(f"{self.WINDOW_S}s"),
            n_tok=kept["text"].str.split().str.len(),
        )
        exp = kept.groupby(["conv_id", "window_start"], as_index=False).agg(
            n_turns=("turn_idx", "size"), tok_sum=("n_tok", "sum")
        )
        exp = exp[
            exp["window_start"] + pd.Timedelta(seconds=self.WINDOW_S) <= wm
        ]
        require(len(exp) > 0, "reference has no closed windows")
        require(
            len(got) == len(exp),
            f"{len(got)} windows in the sink, {len(exp)} expected",
        )
        key = ["conv_id", "window_start"]

        def norm(df: pd.DataFrame) -> pd.DataFrame:
            d = df[key + ["n_turns", "tok_sum"]].astype(
                {"n_turns": "int64", "tok_sum": "int64"}
            )
            d["window_start"] = d["window_start"].astype("datetime64[us]")
            return d.sort_values(key).reset_index(drop=True)

        require(
            norm(got).equals(norm(exp)),
            "closed windows differ from the pandas reference",
        )


# --- paced CDC fan-out ---------------------------------------------------


class _Generator(threading.Thread):
    """Open-loop load generator: renames pre-written hidden files into
    the drop directory on a fixed schedule, whatever the engine does
    (the ``post_payload`` pattern: a dot-file is invisible to the file
    source, the rename publishes it in one step)."""

    def __init__(self, drop_dir: str, names: list[str], period_s: float):
        super().__init__(daemon=True)
        self.drop_dir = drop_dir
        self.names = names
        self.period_s = period_s
        self.due: dict[str, float] = {}
        self.done_at: dict[str, float] = {}
        self.t0 = 0.0

    def run(self) -> None:
        self.t0 = time.time()
        for i, name in enumerate(self.names):
            due = self.t0 + i * self.period_s
            pause = due - time.time()
            if pause > 0:
                time.sleep(pause)
            os.replace(
                os.path.join(self.drop_dir, "." + name),
                os.path.join(self.drop_dir, name),
            )
            self.due[name] = due
            self.done_at[name] = time.time()


_TRACED_CLASS = "BenchTracedIdempotentOutput"


def _register_traced_sink() -> None:
    """A stream sink class that builds the library's IdempotentKeyedSink
    with the same options and defaults as ``IdempotentOutput`` and runs
    it through :class:`_TracedSink`. The tracer, and a dict that
    receives each output's wrapper, arrive in the plugin options."""
    from dbus_spark.pipeline.dag import PLUGIN_REGISTRY, register_plugin
    from dbus_spark.pipeline.streaming import register_stream_sink
    from dbus_spark.sinks import IdempotentKeyedSink

    if _TRACED_CLASS in PLUGIN_REGISTRY:
        return

    def stream_factory(options: dict):
        def fn(df, name: str, ckpt: str):
            sink = IdempotentKeyedSink(
                options["path"],
                keys=options.get("keys", ["conv_id", "turn_idx"]),
                dedup_mode=options.get("dedup_mode", "anti_join"),
                track_counts=bool(options.get("track_counts", True)),
            )
            fb = options["wrappers"][name] = _TracedSink(
                sink, options["tracer"], name
            )
            return (
                df.writeStream.outputMode(options.get("output_mode", "append"))
                .foreachBatch(fb)
                .option("checkpointLocation", ckpt)
                .start()
            )

        return fn

    register_plugin(_TRACED_CLASS, lambda options: None)  # streaming only
    register_stream_sink(_TRACED_CLASS, stream_factory)


class CdcFanoutPaced:
    """Binlog rows-events dropped as small files on a fixed schedule;
    MemoryInput -> RekeyFilter(db) -> 4x IdempotentOutput (library
    defaults: anti_join, track_counts on), run by StreamingPipeline."""

    name = "cdc_fanout_paced"
    DBS = ["db1", "db2", "db3", "db4"]
    EVENTS_PER_FILE = 500
    RATE = 2000  # events per second

    def __init__(self, work: str, seed: int, toy: bool):
        self.work = work
        self.seed = seed
        self.period_s = self.EVENTS_PER_FILE / self.RATE
        self._n = 0

    def prepare(self) -> dict:
        # payload files are written per run, hidden, before the clock
        # starts; the generator only publishes them
        return {"events_per_file": self.EVENTS_PER_FILE, "events_per_s": self.RATE}

    def _write_payloads(self, drop: str, n_files: int, seed: int) -> pd.DataFrame:
        from dbus_spark.datagen import generate_rows_events

        os.makedirs(drop, exist_ok=True)
        ev = generate_rows_events(n_files * self.EVENTS_PER_FILE, seed=seed)
        ev["_file"] = [
            f"ev-{i // self.EVENTS_PER_FILE:05d}.parquet" for i in range(len(ev))
        ]
        for name, part in ev.groupby("_file", sort=True):
            part.drop(columns=["_file"]).to_parquet(
                os.path.join(drop, "." + name), index=False
            )
        return ev

    def _config(self, out_root: str, tracer: H.Tracer, wrappers: dict) -> dict:
        cls, extra = "IdempotentOutput", {}
        if tracer.enabled:
            _register_traced_sink()
            cls, extra = _TRACED_CLASS, {"tracer": tracer, "wrappers": wrappers}
        return {
            "plugins": [
                {"name": "binlog", "class": "MemoryInput"},
                {
                    "name": "rekey",
                    "class": "RekeyFilter",
                    "match": ["binlog"],
                    "options": {"ident_col": "db"},
                },
            ]
            + [
                {
                    "name": f"out_{db}",
                    "class": cls,
                    "match": [db],
                    "options": {
                        "path": os.path.join(out_root, db),
                        "keys": ["log", "pos"],
                        **extra,
                    },
                }
                for db in self.DBS
            ]
        }

    @staticmethod
    def _committed_files(ck: str) -> set:
        times = H.batch_times(ck)
        return {
            f for b, fs in H.files_by_batch(ck).items() if b in times for f in fs
        }

    def _run(self, spark, n_files: int, seed: int, tracer: H.Tracer) -> dict:
        from dbus_spark.pipeline import Pipeline
        from dbus_spark.pipeline.streaming import StreamingPipeline
        from dbus_spark.schema import ROWS_EVENT_SCHEMA

        self._n += 1
        label = f"cdc{self._n}"
        root = os.path.join(self.work, label)
        drop = os.path.join(root, "drop")
        ev = self._write_payloads(drop, n_files, seed)
        wrappers: dict = {}
        t_build = time.time()
        src = spark.readStream.schema(ROWS_EVENT_SCHEMA).parquet(drop)
        sp = StreamingPipeline(
            Pipeline(self._config(os.path.join(root, "out"), tracer, wrappers)),
            os.path.join(root, "ck"),
            sources={"binlog": src},
        )
        t0 = time.time()
        sp.start(spark)
        t_started = time.time()
        tracer.add("pipeline.build", "pipeline", t_build, t0, request=label)
        tracer.add("pipeline.start", "pipeline", t0, t_started, request=label)
        names = sorted(ev["_file"].unique())
        gen = _Generator(drop, names, self.period_s)
        gen.start()
        gen.join()
        tracer.add("loadgen.drop", "loadgen", gen.t0, time.time(), request=label)
        # the ack: every published file committed by every output
        deadline = time.time() + 120
        cks = [os.path.join(root, "ck", f"out_{db}") for db in self.DBS]
        while time.time() < deadline and not all(
            self._committed_files(ck) >= set(names) for ck in cks
        ):
            time.sleep(0.05)
        sp.stop()
        return {
            "root": root,
            "ev": ev,
            "names": names,
            "gen": gen,
            "build_s": t0 - t_build,
            "start_s": t_started - t0,
            "queries": {n: str(q.id) for n, q in sp.queries.items()},
            "wrappers": wrappers,
        }

    def setup(self, spark) -> None:
        r = self._run(spark, 1, self.seed + 1, H.Tracer(False))
        shutil.rmtree(r["root"])

    def measure(self, spark, seconds: float, tracer: H.Tracer) -> Result:
        res = Result(start=time.time())
        n_files = max(1, int(round(seconds / self.period_s)))
        r = self._run(spark, n_files, self.seed, tracer)
        gen = r["gen"]
        last_commit = 0.0
        lay = res.layer
        for db in self.DBS:
            ck = os.path.join(r["root"], "ck", f"out_{db}")
            times = H.batch_times(ck)
            files = H.files_by_batch(ck)
            seen = set()
            read_before = 0
            for bid in sorted(times):
                off, com = times[bid]
                res.batch_ms.append((com - off) * 1000.0)
                last_commit = max(last_commit, com)
                for f in files.get(bid, []):
                    seen.add(f)
                    res.delivery_ms.append((com - gen.due[f]) * 1000.0)
                # backlog: files published but not yet read when this
                # batch wrote its offsets
                published = sum(1 for t in gen.done_at.values() if t <= off)
                lay["sources.backlog_files_max"] = max(
                    lay.get("sources.backlog_files_max", 0),
                    published - read_before,
                )
                read_before += len(files.get(bid, []))
            res.attempted += len(r["names"])
            res.failed += len(set(r["names"]) - seen)
            res.units += len(times)
            _add(lay, "sources.files", sum(len(v) for v in files.values()))
            try:
                self._check(_read_sink(os.path.join(r["root"], "out", db)), r["ev"], db)
            except H.CheckFailed as e:
                print(f"check failed: {db}: {e}", flush=True)
                res.failed += 1
                res.attempted += 1
        res.rows = len(r["ev"])
        res.busy_s.append(last_commit - gen.t0)
        res.late_ms = [(gen.done_at[n] - gen.due[n]) * 1000.0 for n in r["names"]]
        _add(lay, "pipeline.build_ms", r["build_s"] * 1000.0)
        _add(lay, "pipeline.start_ms", r["start_s"] * 1000.0)
        _add(lay, "pipeline.starts", 1)
        for fb in r["wrappers"].values():
            _add(lay, "sinks.offered", fb.offered)
            _add(lay, "sinks.written", fb.written)
        res.queries = r["queries"]
        res.end = time.time()
        shutil.rmtree(r["root"])
        return res

    def _check(self, got: pd.DataFrame, ev: pd.DataFrame, db: str) -> None:
        want = ev.loc[ev["db"] == db, ["log", "pos"]]
        require(len(got) > 0, f"sink {db} is empty")
        require(
            (got["db"] == db).all(), f"sink {db} holds rows of another db"
        )
        require(
            not got.duplicated(["log", "pos"]).any(),
            f"sink {db} holds a (log, pos) more than once",
        )
        g = set(map(tuple, got[["log", "pos"]].itertuples(index=False)))
        w = set(map(tuple, want.itertuples(index=False)))
        require(g == w, f"sink {db}: {len(g ^ w)} (log, pos) differ")


# --- batch near-duplicate detection ---------------------------------------


class NeardupBatch:
    """simhash_neardup_pairs_blocked, ngram_jaccard_pairs and
    winnow_match_pairs over one generated corpus, repeated as passes;
    each pair set is checked against its DuckDB oracle in
    ``__spark_entry__.oracle_sql``."""

    name = "neardup_batch"
    N_DOCS = 3000
    OPS = {
        # operator key: (oracle name, value column)
        "simhash_blocked": ("doc_simhash_neardup_full", "hamming"),
        "jaccard": ("doc_jaccard_pairs", "jaccard"),
        "winnow": ("doc_winnow_pairs", "n_shared"),
    }

    def __init__(self, work: str, seed: int, toy: bool):
        self.work = work
        self.seed = seed
        self.n_docs = 400 if toy else self.N_DOCS
        self.corpus = os.path.join(work, "corpus")
        self.warm = os.path.join(work, "warm_corpus")

    @staticmethod
    def _write(docs: pd.DataFrame, d: str) -> None:
        os.makedirs(d, exist_ok=True)
        docs.to_parquet(
            os.path.join(d, "documents.parquet"), index=False, row_group_size=500
        )

    def prepare(self) -> dict:
        from dbus_spark.datagen import generate_documents

        self.docs = generate_documents(self.n_docs, seed=self.seed)
        self._write(self.docs, self.corpus)
        # a warm-up pass over half the corpus size: each pass is mostly
        # per-job overhead, so this costs about what a tiny one does and
        # warms the kernels on realistic segment sizes
        self._write(
            generate_documents(self.n_docs // 2, seed=self.seed + 1), self.warm
        )
        self.expected = self._oracles()
        return {"rows_offered": self.n_docs}

    def _oracles(self) -> dict[str, pd.DataFrame]:
        """DuckDB oracle pair sets, cached per (seed, size) inside the
        benchmark's work area."""
        cache = os.path.join(
            os.path.dirname(self.work), "cache", f"neardup-{self.seed}-{self.n_docs}"
        )
        if os.path.isdir(cache) and len(os.listdir(cache)) == len(self.OPS):
            return {
                k: pd.read_parquet(os.path.join(cache, f"{k}.parquet"))
                for k in self.OPS
            }
        import duckdb

        from __spark_entry__ import oracle_sql

        sql = oracle_sql()
        con = duckdb.connect()
        con.register("documents", self.docs)
        out = {k: con.execute(sql[o]).df() for k, (o, _) in self.OPS.items()}
        con.close()
        tmp = cache + f".tmp{os.getpid()}"
        os.makedirs(tmp, exist_ok=True)
        for k, df in out.items():
            df.to_parquet(os.path.join(tmp, f"{k}.parquet"), index=False)
        shutil.rmtree(cache, ignore_errors=True)
        os.replace(tmp, cache)
        return out

    def _pass(self, spark, corpus: str, tracer: H.Tracer, label: str) -> dict:
        from dbus_spark.operators import dedup as D
        from dbus_spark.sources.batch import load_table

        t0 = time.time()
        docs = load_table(spark, corpus, "documents").repartition(H.nproc())
        # the parameters of the doc_* queries in __spark_entry__, so that
        # their oracles apply unchanged
        ops = {
            "simhash_blocked": lambda: D.simhash_neardup_pairs_blocked(
                docs, max_hamming=3
            ),
            "jaccard": lambda: D.ngram_jaccard_pairs(docs, threshold=0.2, max_df=50),
            "winnow": lambda: D.winnow_match_pairs(docs, min_shared=2, max_df=50),
        }
        out, marks = {}, {}
        for k, op in ops.items():
            t = time.time()
            out[k] = op().toPandas()
            marks[k] = (t, time.time())
            tracer.add(f"operators.dedup.{k}", "operators", *marks[k], request=label)
        t1 = time.time()
        tracer.add("pass", "bench", t0, t1, request=label)
        return {"t0": t0, "t1": t1, "out": out, "marks": marks}

    def setup(self, spark) -> None:
        self._pass(spark, self.warm, H.Tracer(False), "warm")

    def _check(self, k: str, got: pd.DataFrame) -> None:
        _, col = self.OPS[k]
        exp = self.expected[k]
        require(len(exp) > 0, f"{k}: the oracle found no pairs")

        def norm(df):
            d = df[["id_a", "id_b", col]].copy()
            d[col] = d[col].astype(float).round(4)
            return d.sort_values(["id_a", "id_b"]).reset_index(drop=True)

        g, e = norm(got), norm(exp)
        require(len(g) == len(e), f"{k}: {len(g)} pairs, oracle {len(e)}")
        require(
            (g[["id_a", "id_b"]].to_numpy() == e[["id_a", "id_b"]].to_numpy()).all()
            and np.allclose(g[col].to_numpy(), e[col].to_numpy(), atol=1e-4),
            f"{k}: pair set differs from the DuckDB oracle",
        )

    def measure(self, spark, seconds: float, tracer: H.Tracer) -> Result:
        res = Result(start=time.time())
        deadline = res.start + seconds
        i = 0
        while True:
            i += 1
            p = self._pass(spark, self.corpus, tracer, f"pass{i}")
            wall = p["t1"] - p["t0"]
            res.rows += self.n_docs
            res.busy_s.append(wall)
            res.batch_ms.append(wall * 1000.0)
            res.units += 1
            # the pass delivers its verdict when all three pair sets are in
            res.delivery_ms.append(wall * 1000.0)
            for k, (t, te) in p["marks"].items():
                res.attempted += 1
                _add(res.layer, f"operators.dedup_call_ms.{k}", (te - t) * 1000.0)
                _add(res.layer, f"operators.dedup_pairs.{k}", len(p["out"][k]))
                try:
                    self._check(k, p["out"][k])
                except H.CheckFailed as e:
                    print(f"check failed: pass {i}: {e}", flush=True)
                    res.failed += 1
            if time.time() >= deadline:
                break
        res.end = time.time()
        res.late_ms = [0.0]
        return res


WORKLOADS = {w.name: w for w in (WindowDrain, CdcFanoutPaced, NeardupBatch)}
