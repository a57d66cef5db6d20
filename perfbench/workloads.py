"""The benchmark's workloads.

Each workload has the same shape, driven by ``run.py``:

- ``make_inputs(seed)``: write the run's inputs under the work directory
  (not part of set-up time: it is the benchmark's own cost);
- ``setup()``: import and build what the timed passes call, then warm up
  the same code paths (counted in ``setup_s``);
- ``run_pass()``: one timed pass;
- ``check()``: compare the program's outputs with a reference, outside
  the timed window;
- ``close()``: stop whatever the workload started.

An *operation* is one stream drained in a pass (topology) or one query
executed in a pass (registry). A failed operation is counted, never
fatal: the run goes on and reports it in ``failed``.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time
import traceback
from dataclasses import dataclass, field
from datetime import datetime

import numpy as np
import pandas as pd

import inputs

HERE = os.path.dirname(os.path.abspath(__file__))


@dataclass
class PassResult:
    wall_s: float
    construct_s: float
    wait_s: float
    ops: int
    failed: int
    op_ms: list[float]
    groups: list[str] = field(default_factory=list)
    detail: dict = field(default_factory=dict)


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Column- and row-order-insensitive canonical form: numeric columns
    as int64/float64, everything else as str, rows sorted."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_bool_dtype(df[c].dtype):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_integer_dtype(df[c].dtype):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_float_dtype(df[c].dtype):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_datetime64_any_dtype(df[c].dtype):
            df[c] = df[c].astype(str)
        else:
            try:
                num = pd.to_numeric(df[c])
                df[c] = num.astype("int64" if pd.api.types.is_integer_dtype(num.dtype) else "float64")
            except (ValueError, TypeError):
                df[c] = df[c].map(lambda v: json.dumps(v.tolist() if hasattr(v, "tolist") else v,
                                                       default=str, sort_keys=True)
                                  if not isinstance(v, str) else v)
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def digest(df: pd.DataFrame) -> dict:
    """Row count and an order-insensitive value hash."""
    norm = _normalize(df)
    h = hashlib.sha256(",".join(norm.columns).encode())
    h.update(pd.util.hash_pandas_object(norm, index=False).to_numpy().tobytes())
    return {"rows": len(norm), "hash": h.hexdigest()}


# --------------------------------------------------------------------------
# topology: the eight reference streams on one file-replay source
# --------------------------------------------------------------------------


STREAMS = (
    "sentimentStream", "parsedStream", "entityStream", "topicStream",
    "entityOpinionStream", "channelMoodStream", "toxicUserStream", "toxicUserStreamIntent",
)


class TopologyDrain:
    """Closed loop over the eight streams of ``build_streaming_topology``,
    started once, concurrently, on one file-replay source of wire lines
    (one file per trigger) into memory sinks, as the README deployment
    runs them. A pass drops the next ``FILES_PER_PASS`` files into the
    source directory and waits until every stream has processed and
    committed them (``processAllAvailable``).

    The warm-up passes run the same triggers on the same queries, so the
    timed passes see restored state, spawned Python workers and compiled
    code."""

    name = "topology_drain"
    LINES_PER_FILE, FILES_PER_PASS = 2_000, 1
    WARMUP_PASSES = 2
    MAX_PASSES = 40  # inputs are pre-generated; a run stops at its time limit first

    def __init__(self, run):
        self.run = run
        self.staged = os.path.join(run.work, "staged")
        self.source = os.path.join(run.work, "source")
        self.queries: dict = {}
        self.seen: dict[str, int] = {}
        self.n_pass = 0

    def make_inputs(self, seed: int) -> None:
        n = (self.WARMUP_PASSES + self.MAX_PASSES) * self.FILES_PER_PASS * self.LINES_PER_FILE
        self.chunks = inputs.write_chunks(inputs.event_lines(seed, n), self.staged,
                                          self.LINES_PER_FILE)
        os.makedirs(self.source)

    def _schema(self):
        from pyspark.sql import types as T

        return T.StructType([
            T.StructField("line", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_id", T.LongType()),
        ])

    def setup(self) -> None:
        tr, spark = self.run.tracer, self.run.spark
        with tr.span("import"):
            from sparksent.streaming import file_replay_source
            from sparksent.topology import build_streaming_topology
        t0 = time.perf_counter()
        with tr.span("topology.build"):
            nodes = build_streaming_topology(
                file_replay_source(spark, self.source, schema=self._schema()))
        with tr.span("stream.start"):
            ck = os.path.join(self.run.work, "checkpoints")
            for name in STREAMS:
                self.queries[name] = (
                    nodes[name].writeStream.outputMode("append").format("memory")
                    .queryName(f"pb_{name}")
                    .option("checkpointLocation", os.path.join(ck, name)).start()
                )
                self.seen[name] = -1
        self.construct_s = time.perf_counter() - t0
        with tr.span("warmup"):
            for _ in range(self.WARMUP_PASSES):
                self.run_pass()

    def _drop(self, paths: list[str]) -> None:
        for p in paths:
            os.rename(p, os.path.join(self.source, os.path.basename(p)))

    def _drain(self) -> list[str]:
        """Wait until every live stream has committed all files; return the
        streams that failed."""
        from pyspark.errors import StreamingQueryException

        failed = []
        for name, q in self.queries.items():
            try:
                q.processAllAvailable()
            except StreamingQueryException as e:
                failed.append(name)
                _log(f"stream {name} failed: {str(e).splitlines()[0][:300]}")
        for name in failed:
            del self.queries[name]
        return failed

    def _new_progress(self) -> dict[str, list[dict]]:
        out = {}
        for name, q in self.queries.items():
            new = [json.loads(p.json) for p in q.recentProgress]
            # executed batches only: an idle trigger's record has no addBatch
            new = [p for p in new if p["batchId"] > self.seen[name] and "addBatch" in p["durationMs"]]
            if new:
                self.seen[name] = new[-1]["batchId"]
            out[name] = new
        return out

    def run_pass(self) -> PassResult:
        tr = self.run.tracer
        files = self.chunks[self.n_pass * self.FILES_PER_PASS:(self.n_pass + 1) * self.FILES_PER_PASS]
        self.n_pass += 1
        wall_minus_perf = time.time() - time.perf_counter()
        with tr.span("stream.pass"):
            t0 = time.perf_counter()
            self._drop(files)
            failed = self._drain()
            wall = time.perf_counter() - t0
        progress = self._new_progress()
        op_ms = [float(p["durationMs"]["triggerExecution"])
                 for plist in progress.values() for p in plist if p.get("numInputRows", 0) > 0]
        if tr.enabled:
            self._trace_triggers(progress, wall_minus_perf)
        return PassResult(
            wall_s=wall, construct_s=self.construct_s, wait_s=wall,
            ops=len(self.queries) + len(failed), failed=len(failed), op_ms=op_ms,
            groups=[str(q.runId) for q in self.queries.values()],
            detail={"rows": len(files) * self.LINES_PER_FILE, "failed_streams": failed,
                    "phases_ms": _phase_sums(progress), "progress": progress},
        )

    def _trace_triggers(self, progress: dict, wall_minus_perf: float) -> None:
        """One span per trigger, rebuilt from its progress record, under the
        pass's span."""
        tr = self.run.tracer
        parent = next(s["id"] for s in reversed(tr.spans) if s["name"] == "stream.pass")
        for name, plist in progress.items():
            for p in plist:
                start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
                start -= wall_minus_perf
                tr.add("stream.trigger", start, start + p["durationMs"]["triggerExecution"] / 1000,
                       parent, stream=name, batch=p["batchId"], rows=p.get("numInputRows", 0),
                       durationMs=p["durationMs"],
                       state=[{k: o.get(k) for k in ("numRowsTotal", "memoryUsedBytes", "commitTimeMs")}
                              for o in p.get("stateOperators", [])])

    def check(self) -> tuple[int, list[str]]:
        """Every stream's memory-sink output equals batch ``build_topology``
        over all the lines it was given, with the compare rules of the
        streaming-equivalence test: windowed and stateless streams exact,
        count windows restricted to complete buckets and compared with a
        float tolerance.

        Instead of closing the open windows with sentinel lines (two more
        trigger rounds), the queries are stopped and each append-mode
        window stream is compared up to the watermark of its last batch:
        a window is emitted exactly when its end is at or below it."""
        from pyspark.sql import functions as F

        from sparksent import topology

        spark = self.run.spark
        self._drain()
        watermark_ms = {}
        for name, q in self.queries.items():
            q.stop()
            executed = [json.loads(p.json) for p in q.recentProgress]
            executed = [p for p in executed if "addBatch" in p["durationMs"]]
            wm = executed[-1].get("eventTime", {}).get("watermark") if executed else None
            if wm:
                watermark_ms[name] = datetime.fromisoformat(wm.replace("Z", "+00:00")).timestamp() * 1000
        window_s = {
            "parsedStream": topology.PARSED_WINDOW_S,
            "topicStream": topology.TOPIC_WINDOW_S,
            "entityOpinionStream": topology.ENTITY_OPINION_WINDOW_S,
            "channelMoodStream": topology.CHANNEL_MOOD_SIZE_S,
        }
        batch = topology.build_topology(spark.read.schema(self._schema()).parquet(self.source))
        wrong = []
        for name in STREAMS:
            if name not in self.queries:  # failed earlier: its output is incomplete
                wrong.append(name)
                continue
            try:
                got = spark.table(f"pb_{name}")
                want = batch[name]
                if name.startswith("toxicUser"):
                    want = want.filter(F.col("n") == 10)
                if name in window_s:
                    end_ms = (F.col("window_start_s") + window_s[name]) * 1000
                    want = want.filter(end_ms <= F.lit(watermark_ms.get(name, 0.0)))
                cols = [c for c in got.columns if c in want.columns]
                a = got.select(*cols).toPandas()
                b = want.select(*cols).toPandas()
                if not _frames_equal(a, b, tol=name.startswith("toxicUser")):
                    wrong.append(name)
                    _log(f"check {name}: streamed {len(a)} rows != batch {len(b)} rows")
            except Exception:  # reported and counted; the run goes on
                wrong.append(name)
                _log(f"check {name} failed:\n{traceback.format_exc(limit=2)}")
        self.queries = {}
        return len(STREAMS), wrong

    def close(self) -> None:
        for q in self.queries.values():
            q.stop()

    def traced_extras(self) -> dict:
        """Single-job baselines for the streams' work (traced runs only):
        batch enrichment of every line the streams drained, and the batch
        topology over them."""
        from sparksent import nlp
        from sparksent.parse import parse_lines
        from sparksent.topology import build_topology

        spark, tr = self.run.spark, self.run.tracer
        lines = spark.read.schema(self._schema()).parquet(self.source)
        out = {"lines": lines.count()}
        with tr.span("enrich.batch"):
            t0 = time.perf_counter()
            nlp.with_sentiment(parse_lines(lines)).write.mode("overwrite").format("noop").save()
            out["enrich.batch_s"] = time.perf_counter() - t0
        with tr.span("topology.batch"):
            t0 = time.perf_counter()
            nodes = build_topology(lines)
            for name in STREAMS:
                nodes[name].write.mode("overwrite").format("noop").save()
            out["topology.batch_s"] = time.perf_counter() - t0
        return out


def _phase_sums(progress: dict[str, list[dict]]) -> dict[str, float]:
    """Trigger phases summed over all streams' triggers of a pass, overall
    (``stream.<phase>_ms``) and per stream for ``addBatch``, plus the
    state operators' totals after the pass."""
    out: dict[str, float] = {"stream.triggers": 0}
    for name, plist in progress.items():
        for p in plist:
            out["stream.triggers"] += 1
            for phase, ms in p["durationMs"].items():
                out[f"stream.{phase}_ms"] = out.get(f"stream.{phase}_ms", 0) + ms
            out[f"stream.addBatch_ms.{name}"] = (
                out.get(f"stream.addBatch_ms.{name}", 0) + p["durationMs"].get("addBatch", 0))
            for op in p.get("stateOperators", []):
                out["state.commit_ms"] = out.get("state.commit_ms", 0) + op.get("commitTimeMs", 0)
        if plist:
            for op in plist[-1].get("stateOperators", []):
                out["state.rows_total"] = out.get("state.rows_total", 0) + op.get("numRowsTotal", 0)
                out["state.memory_bytes"] = (
                    out.get("state.memory_bytes", 0) + op.get("memoryUsedBytes", 0))
    return out


def _frames_equal(a: pd.DataFrame, b: pd.DataFrame, tol: bool) -> bool:
    if len(a) != len(b):
        return False
    a, b = _normalize(a), _normalize(b)
    for c in a.columns:
        x, y = a[c].to_numpy(), b[c].to_numpy()
        if tol and x.dtype.kind == "f":
            if not np.allclose(x, y, rtol=1e-9, equal_nan=True):
                return False
        elif not (x == y).all():
            return False
    return True


# --------------------------------------------------------------------------
# registry: batch queries from registry.queries(), split by layer
# --------------------------------------------------------------------------


class Registry:
    """Closed loop over a fixed list of registry queries, each built with
    ``queries()[name](spark, sf_dir)`` and materialized with the noop sink.

    The list mixes the two kinds of expensive query the ROADMAP names:
    two whose plans cross the Arrow boundary into Python workers, and one
    that runs only in the driver and the JVM (an iterative graph loop of
    eager pins). A change to one side should leave the other side's
    per-query numbers flat."""

    name = "registry"
    PYTHON = ("dedup_multimodal_keep_set", "bitext_mine_margin")
    JVM = ("label_propagation_communities",)

    def __init__(self, run):
        self.run = run
        self.sf_dir = os.path.join(run.work, "tables")
        with open(os.path.join(HERE, "digests.json")) as f:
            self.expected = json.load(f)
        self.n_pass = 0

    def make_inputs(self, seed: int) -> None:
        inputs.write_registry_tables(self.sf_dir)
        names = list(self.PYTHON + self.JVM)
        self.order = [names[i] for i in np.random.default_rng(seed).permutation(len(names))]

    def setup(self) -> None:
        tr = self.run.tracer
        with tr.span("import"):
            from sparksent.registry import queries
        self.qs = queries()
        # The warm-up pass is the correctness pass: it runs every query
        # once, outside the timed window, and checks its output.
        with tr.span("warmup"):
            self.wrong = self._check_pass()

    def _check_pass(self) -> list[str]:
        wrong = []
        for name in self.order:
            try:
                got = digest(self.qs[name](self.run.spark, self.sf_dir).toPandas())
            except Exception:
                got = None
                _log(f"check {name} failed:\n{traceback.format_exc(limit=3)}")
            if got != self.expected[name]:
                wrong.append(name)
                _log(f"check {name}: got {got}, expected {self.expected[name]}")
        return wrong

    def run_pass(self) -> PassResult:
        spark, tr = self.run.spark, self.run.tracer
        sc = spark.sparkContext
        self.n_pass += 1
        construct = wait = 0.0
        op_ms, groups, failed, per_query = [], [], 0, {}
        t0 = time.perf_counter()
        for name in self.order:
            group = f"pb-{self.n_pass}-{name}"
            groups.append(group)
            sc.setJobGroup(group, name)
            a = time.perf_counter()
            b = None
            try:
                with tr.span("registry.construct", query=name):
                    df = self.qs[name](spark, self.sf_dir)
                b = time.perf_counter()
                with tr.span("registry.action", query=name):
                    df.write.mode("overwrite").format("noop").save()
            except Exception:
                failed += 1
                _log(f"query {name} failed:\n{traceback.format_exc(limit=3)}")
            c = time.perf_counter()
            b = c if b is None else b
            construct += b - a
            wait += c - b
            op_ms.append((c - a) * 1000)
            per_query[name] = {"construct_s": b - a, "action_s": c - b, "group": group}
        sc.setJobGroup("perfbench", "perfbench")
        return PassResult(
            wall_s=time.perf_counter() - t0, construct_s=construct, wait_s=wait,
            ops=len(self.order), failed=failed, op_ms=op_ms, groups=groups,
            detail={"queries": per_query},
        )

    def check(self) -> tuple[int, list[str]]:
        return len(self.order), self.wrong

    def close(self) -> None:
        pass

    def traced_extras(self) -> dict:
        return {}


WORKLOADS = {w.name: w for w in (TopologyDrain, Registry)}
