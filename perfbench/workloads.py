"""The three closed-loop workloads: one client, the next operation starts
only after the previous one has returned.

Each workload has ``setup`` (input materialization, counted in setup_s),
``op`` (one timed operation), ``check`` (correctness against an independent
DuckDB computation, run after the timed loop) and ``layers`` (per-layer
metrics from a traced run).
"""

from __future__ import annotations

import json
import os
import random
import shutil
import statistics
import sys
import traceback

import pyarrow.parquet as pq

from . import inputs, oracles
from .tracing import subtree_totals

#: backfill input: ~25k turns (~12.5 per conversation)
BACKFILL_CONVS = 2000
BACKFILL_BATCHES = 4
#: tail: increments of ~19k turns, each landing as 8 files (one micro-batch
#: at the stream's maxFilesPerTrigger=8)
TAIL_CONVS_PER_INCREMENT = 1500
TAIL_FILES_PER_INCREMENT = 8
TAIL_POOL = 5
TAIL_BUCKETS = (100, 200)
#: dataset_ops: the host's largest query leaves, on the sf0.1 test tables
#: (``documents``, ``embeddings``), and the recorded output digest of the
#: query that has no SQL twin
SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.1")
EXPECTED = os.path.join(os.path.dirname(SF_DIR), "expected.json")
DATASET_QUERIES = (
    ("dedup_minhash_lsh", "functions.dedup.minhash_lsh"),
    ("dedup_cc_clusters", "functions.graph.cc_clusters"),
    ("semdedup", "functions.semdedup.semdedup"),
    ("decontam_report", "functions.decontam.report"),
    ("trigram_quality", "functions.textstats.trigram_quality"),
    ("dedup_exact", "functions.dedup.exact"),
)

#: cumulative noop-sink chain over the backfill input: each step adds one
#: layer to the previous step's plan
LAYER_STEPS = ("read", "extract", "diff_stats", "unwind", "route", "write")
LAYER_METRIC = {
    "read": "sources.read_s",
    "extract": "operators.parse.extract_s",
    "diff_stats": "operators.parse.diff_stats_s",
    "unwind": "operators.parse.unwind_s",
    "route": "sources.sinks.route_s",
    "write": "sources.sinks.write_s",
}
LAYER_REPEATS = 2
#: task metrics summed over a call's stages; ``jobs`` counts Spark jobs
ADDITIVE = ("jobs", "executor_cpu_s", "gc_s", "shuffle_write_mb", "spill_mb")


def increments(cumulative: list[float]) -> list[float]:
    """Per-layer cost from cumulative walls: step k minus step k-1."""
    return [c - (cumulative[i - 1] if i else 0.0) for i, c in enumerate(cumulative)]


def dir_stats(path: str) -> tuple[int, float]:
    """(data files, MB) under ``path``, ignoring checksum and marker files."""
    n, size = 0, 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.startswith((".", "_")):
                continue
            n += 1
            size += os.path.getsize(os.path.join(root, f))
    return n, size / (1024 * 1024)


def p50(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def span_walls(tracer, name: str) -> list[float]:
    return [s["end"] - s["start"] for s in tracer.named(name)]


class Workload:
    name = ""
    #: the first operation is the cold one; the next ``warmup_ops`` are
    #: discarded while the JIT settles, the rest are measured
    warmup_ops = 1
    min_ops = 3
    max_ops = 1000
    #: operations replayed in each of the traced run's two new contexts
    traced_ops = 3

    def __init__(self, ctx) -> None:
        self.ctx = ctx

    def setup(self) -> None:
        raise NotImplementedError

    def op(self, i: int) -> dict:
        raise NotImplementedError

    def check(self, results: list[dict | None]) -> list[str | None]:
        raise NotImplementedError

    def layers(self, results, untraced, traced, events) -> dict[str, float]:
        raise NotImplementedError

    def measured(self, per_op: list) -> list:
        """The entries of the measured operations, given one entry per
        operation in loop order (cold and warm-up dropped)."""
        return per_op[1 + self.warmup_ops:]

    def reset(self) -> None:
        """Prepare a replay of the loop in the same process."""

    def profile(self) -> list[str | None]:
        """Extra traced calls that only the per-layer report needs; returns
        one check message (None when correct) per extra operation."""
        return []

    def call_metrics(
        self, traced, events, spans: list[dict], prefix: str, minus: list[dict] | None = None
    ) -> dict[str, float]:
        """Task metrics per call over the given traced ``spans``, reported
        as ``<prefix>.<metric>``.  With ``minus`` (the spans of the
        previous step of a cumulative chain), additive totals are net of
        its mean call, which isolates one step; ``core_busy`` is executor
        run time over (wall × cores) of the calls themselves."""
        if not spans:
            return {}
        tot = subtree_totals(events["by_span"], traced.spans, [s["id"] for s in spans])
        wall = sum(s["end"] - s["start"] for s in spans)
        out = {k: tot[k] / len(spans) for k in ADDITIVE}
        if minus:
            btot = subtree_totals(events["by_span"], traced.spans, [s["id"] for s in minus])
            for k in ADDITIVE:
                out[k] -= btot[k] / len(minus)
        res = {f"{prefix}.{k}": v for k, v in out.items()}
        res[f"{prefix}.core_busy"] = tot["executor_run_s"] / (wall * self.ctx.nproc) if wall else 0.0
        return res


class Backfill(Workload):
    """``TranscriptPipeline(num_batches=4).run(input_path=…)`` then
    ``final_aggregates().collect()`` on a fresh work dir per pass."""

    name = "backfill"
    min_ops = 5

    def setup(self) -> None:
        from oplog_analyzer_spark.transcripts import generate_transcripts

        ctx = self.ctx
        self.input_dir = os.path.join(ctx.run_dir, "backfill-input")
        with ctx.tracer.span("transcripts.generate"):
            generate_transcripts(ctx.spark, num_conversations=BACKFILL_CONVS, seed=ctx.seed).write.parquet(
                self.input_dir
            )
        self.input_rows = sum(
            pq.ParquetFile(os.path.join(self.input_dir, f)).metadata.num_rows
            for f in os.listdir(self.input_dir) if f.endswith(".parquet")
        )
        self.input_mb = dir_stats(self.input_dir)[1]
        self.pass_no = 0

    def op(self, i: int) -> dict:
        from oplog_analyzer_spark.plans.pipeline import TranscriptPipeline
        from oplog_analyzer_spark.transcripts import tool_catalog

        ctx, tr = self.ctx, self.ctx.tracer
        self.pass_no += 1
        wd = os.path.join(ctx.run_dir, f"backfill-pass-{self.pass_no}")
        p = TranscriptPipeline(ctx.spark, wd, tool_catalog(ctx.spark), num_batches=BACKFILL_BATCHES)
        with tr.span("plans.pipeline.run"):
            state = p.run(input_path=self.input_dir)
        with tr.span("sources.sinks.aggregate"):
            rows = [r.asDict() for r in p.final_aggregates().collect()]
        batches = [state["completed"][str(b)] for b in range(p.num_batches)]
        files, mb = dir_stats(p.routed_dir)
        if self.pass_no > 1:  # keep the previous pass for the layer report
            shutil.rmtree(os.path.join(ctx.run_dir, f"backfill-pass-{self.pass_no - 1}"), ignore_errors=True)
        return {
            "input_rows": self.input_rows, "aggregates": rows, "batches": batches,
            "routed_files": files, "routed_mb": mb,
        }

    def check(self, results):
        import duckdb

        con = duckdb.connect()
        con.execute("SET TimeZone = 'UTC'")
        sql = oracles.pipeline_oracle_sql(os.path.join(self.input_dir, "*.parquet"))
        want = oracles.duckdb_records(con, sql)
        want_routed = con.execute(oracles.routed_rows_sql(sql)).fetchone()[0]
        out = []
        for res in results:
            if res is None:
                out.append("operation failed")
                continue
            msg = oracles.compare("per_sink_aggregates", res["aggregates"], want)
            routed = sum(b["rows_out"] for b in res["batches"])
            if msg is None and routed != want_routed:
                msg = f"routed rows {routed} != oracle {want_routed}"
            out.append(msg)
        return out

    def profile(self) -> list[str | None]:
        """Cumulative noop-sink chain over the backfill input, each step
        timed in its own span of the traced session."""
        from oplog_analyzer_spark.operators.filters import exclude_system_namespaces
        from oplog_analyzer_spark.operators.parse import parse_transcripts, unwind_applyops
        from oplog_analyzer_spark.sources.sinks import route_categories
        from oplog_analyzer_spark.transcripts import tool_catalog

        ctx = self.ctx
        spark = ctx.spark

        def chain(step: str):
            df = spark.read.parquet(self.input_dir)
            if step == "read":
                return df
            df = parse_transcripts(df, with_diff_stats=step != "extract")
            if step in ("extract", "diff_stats"):
                return df
            df = unwind_applyops(exclude_system_namespaces(df))
            if step == "unwind":
                return df
            return route_categories(df, tool_catalog(spark))

        for r in range(LAYER_REPEATS):
            for step in LAYER_STEPS:
                with ctx.tracer.span(f"layer.{step}"):
                    df = chain(step)
                    if step == "write":
                        sink = os.path.join(ctx.run_dir, f"layer-write-{r}")
                        df.write.mode("overwrite").partitionBy("category").parquet(sink)
                        shutil.rmtree(sink, ignore_errors=True)
                    else:
                        df.write.format("noop").mode("overwrite").save()
        return []

    def layers(self, results, untraced, traced, events) -> dict[str, float]:
        out: dict[str, float] = {}
        cum = [p50(span_walls(traced, f"layer.{s}")) for s in LAYER_STEPS]
        for step, v in zip(LAYER_STEPS, increments(cum)):
            out[LAYER_METRIC[step]] = v

        run_walls = self.measured(span_walls(untraced, "plans.pipeline.run"))
        agg_walls = self.measured(span_walls(untraced, "sources.sinks.aggregate"))
        out["sources.sinks.aggregate_s"] = p50(agg_walls)
        out["plans.pipeline.overhead_s"] = p50(run_walls) - cum[-1]
        last = results[-1]
        walls = [b["wall_sec"] for b in last["batches"]]
        out["plans.pipeline.batch_p50_s"] = p50(walls)
        out["plans.pipeline.first_batch_s"] = walls[0]
        rows_in = sum(b["rows_in"] for b in last["batches"])
        rows_out = sum(b["rows_out"] for b in last["batches"])
        out["plans.pipeline.rows_in"] = rows_in
        out["plans.pipeline.rows_out"] = rows_out
        out["plans.pipeline.fanout"] = rows_out / rows_in if rows_in else 0.0
        out["sources.sinks.files_written"] = last["routed_files"]
        out["sources.sinks.bytes_written_mb"] = last["routed_mb"]
        out["sources.sinks.write_amplification"] = last["routed_mb"] / self.input_mb
        out.update(self.call_metrics(
            traced, events, traced.named("layer.diff_stats"), "operators.parse.diff_stats",
            minus=traced.named("layer.extract"),
        ))
        out.update(self.call_metrics(
            traced, events, traced.named("layer.write"), "sources.sinks.write", minus=traced.named("layer.route")
        ))
        for call in ("sources.sinks.aggregate", "plans.pipeline.run"):
            out.update(self.call_metrics(traced, events, traced.named(call)[1:], call))
        return out


class Tail(Workload):
    """Increments land as 8 files each; after each, a fresh
    ``TailStream(...).run_available()`` resumes from the checkpoint, then
    ``report()`` and ``top_ids(20)`` are collected."""

    name = "tail"
    min_ops = TAIL_POOL
    max_ops = TAIL_POOL

    def setup(self) -> None:
        from oplog_analyzer_spark.transcripts import generate_transcripts

        ctx = self.ctx
        raw = os.path.join(ctx.run_dir, "tail-raw")
        with ctx.tracer.span("transcripts.generate"):
            generate_transcripts(
                ctx.spark, num_conversations=TAIL_CONVS_PER_INCREMENT * TAIL_POOL, seed=ctx.seed
            ).write.parquet(raw)
            self.pool = inputs.split_increments(
                raw, os.path.join(ctx.run_dir, "tail-pool"), TAIL_POOL, TAIL_FILES_PER_INCREMENT
            )
        shutil.rmtree(raw)
        self.pool_rows = [sum(pq.ParquetFile(f).metadata.num_rows for f in g) for g in self.pool]
        self.work_dirs: list[str] = []
        self.reset()

    def reset(self) -> None:
        """A new input and work dir: the next loop replays the increments
        from the first, so traced and untraced operation k match."""
        base = os.path.join(self.ctx.run_dir, f"tail-round-{len(self.work_dirs)}")
        self.input_dir = os.path.join(base, "input")
        self.work_dir = os.path.join(base, "work")
        self.work_dirs.append(self.work_dir)
        os.makedirs(self.input_dir)

    def _land(self, k: int) -> None:
        """Hard-link increment ``k`` into the input dir under a hidden name
        (the file source skips dot files), then rename: each file appears
        atomically, and the pool stays intact for a second loop."""
        for f in self.pool[k]:
            name = os.path.basename(f)
            tmp = os.path.join(self.input_dir, f".{name}.tmp")
            os.link(f, tmp)
            os.rename(tmp, os.path.join(self.input_dir, name))

    def op(self, i: int) -> dict:
        from oplog_analyzer_spark.streaming.tail import TailStream

        ctx, tr = self.ctx, self.ctx.tracer
        with tr.span("streaming.tail.land"):
            self._land(i)
        t = TailStream(ctx.spark, self.input_dir, self.work_dir, buckets=TAIL_BUCKETS, id_stats=True)
        with tr.span("streaming.tail.drain"):
            t.run_available()
        with tr.span("streaming.tail.report"):
            report = [r.asDict() for r in t.report().collect()]
        with tr.span("streaming.tail.top_ids"):
            top = t.top_ids(20).collect()
        return {"input_rows": self.pool_rows[i], "report": report, "n_top": len(top), "k": i}

    def check(self, results):
        import duckdb

        con = duckdb.connect()
        con.execute("SET TimeZone = 'UTC'")
        out = []
        for res in results:
            if res is None:
                out.append("operation failed")
                continue
            files = [f for g in self.pool[: res["k"] + 1] for f in g]
            want = oracles.duckdb_records(con, oracles.tail_report_sql(files, TAIL_BUCKETS))
            msg = oracles.compare("tail report", res["report"], want)
            if msg is None and res["n_top"] != 20:
                msg = f"top_ids returned {res['n_top']} rows, expected 20"
            out.append(msg)
        return out

    def profile(self) -> list[str | None]:
        """The dataset-ops queries have no workload slot of their own in the
        benchmark's time budget, so the tail's traced run measures them:
        one cold and one warm pass over the mix, each checked."""
        self.dataset = DatasetOps(self.ctx)
        self.dataset.setup()
        self.dataset_results = []
        for i in range(2):
            try:
                self.dataset_results.append(self.dataset.op(i))
            except Exception:
                print(f"perfbench: dataset pass {i} failed:\n{traceback.format_exc(limit=5)}", file=sys.stderr)
                self.dataset_results.append(None)
        return self.dataset.check(self.dataset_results)

    def layers(self, results, untraced, traced, events) -> dict[str, float]:
        out = self.dataset.layers(self.dataset_results, traced, traced, events)
        drains = span_walls(untraced, "streaming.tail.drain")
        reports = span_walls(untraced, "streaming.tail.report")
        out["streaming.tail.drain_s"] = p50(self.measured(drains))
        out["streaming.tail.report_s"] = p50(self.measured(reports))
        out["streaming.tail.report_last_s"] = reports[-1]
        out["streaming.tail.top_ids_s"] = p50(self.measured(span_walls(untraced, "streaming.tail.top_ids")))
        # streaming progress of the traced replay, its first drain dropped
        drain_spans = traced.named("streaming.tail.drain")[1:]
        add, overhead, trig_by_drain = [], [], {s["id"]: 0.0 for s in drain_spans}
        for prog in events["progress"]:
            d = prog.get("durationMs") or {}
            if "triggerExecution" not in d:
                continue
            stamp = _iso_seconds(prog["timestamp"])
            owner = next((s["id"] for s in drain_spans if s["start"] <= stamp <= s["end"]), None)
            if owner is None:
                continue
            trig = d["triggerExecution"] / 1e3
            batch = d.get("addBatch", 0) / 1e3
            add.append(batch)
            overhead.append(trig - batch)
            trig_by_drain[owner] += trig
        out["streaming.tail.micro_batches"] = len(add) / len(drain_spans) if drain_spans else 0.0
        out["streaming.tail.add_batch_s"] = p50(add)
        out["streaming.tail.trigger_overhead_s"] = p50(overhead)
        out["streaming.tail.query_start_s"] = p50(
            [s["end"] - s["start"] - trig_by_drain[s["id"]] for s in drain_spans]
        )
        # partials as the untraced loop left them
        files = mb = 0
        for sub in ("partials", "metrics", "id_partials"):
            n, m = dir_stats(os.path.join(self.work_dirs[0], sub))
            files, mb = files + n, mb + m
        out["streaming.tail.partials_files"] = files
        out["streaming.tail.partials_mb"] = mb
        out.update(self.call_metrics(traced, events, drain_spans, "streaming.tail.drain"))
        return out


def _iso_seconds(stamp: str) -> float:
    import datetime as dt

    return dt.datetime.fromisoformat(stamp.replace("Z", "+00:00")).timestamp()


class DatasetOps(Workload):
    """One pass over six dataset-ops queries from ``queries()`` on the
    sf0.1 test tables shipped under ``data/``; the seed sets only the
    query order."""

    name = "dataset_ops"
    warmup_ops = 0
    min_ops = 3
    traced_ops = 2

    def setup(self) -> None:
        self.order = list(DATASET_QUERIES)
        random.Random(self.ctx.seed).shuffle(self.order)
        rows = {t: pq.ParquetFile(os.path.join(SF_DIR, f"{t}.parquet")).metadata.num_rows
                for t in ("documents", "embeddings")}
        # five queries scan the documents, semdedup the embeddings
        self.input_rows = 5 * rows["documents"] + rows["embeddings"]

    def op(self, i: int) -> dict:
        import __spark_entry__ as E

        qs = E.queries()
        out = {}
        for qname, layer in self.order:
            with self.ctx.tracer.span(layer):
                out[qname] = qs[qname](self.ctx.spark, SF_DIR).toPandas()
        return {"input_rows": self.input_rows, "frames": out}

    def check(self, results):
        import duckdb

        import __spark_entry__ as E

        con = duckdb.connect()
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")
        sqls = E.oracle_sql()
        want = {q: oracles.duckdb_records(con, sqls[q]) for q, _ in DATASET_QUERIES if q in sqls}
        with open(EXPECTED) as f:
            digests = json.load(f)
        out = []
        for res in results:
            if res is None:
                out.append("operation failed")
                continue
            msg = None
            for qname, frame in res["frames"].items():
                records = frame.to_dict("records")
                if qname in digests:  # no SQL twin: compare with the recorded output
                    got = oracles.digest(records)
                    if got != digests[qname]["sha256"]:
                        msg = f"{qname}: digest {got} != recorded {digests[qname]['sha256']}"
                else:
                    msg = oracles.compare(qname, records, want[qname])
                if msg:
                    break
            out.append(msg)
        return out

    def layers(self, results, untraced, traced, events) -> dict[str, float]:
        out: dict[str, float] = {}
        for _, layer in DATASET_QUERIES:
            out[f"{layer}_s"] = p50(self.measured(span_walls(untraced, layer)))
            out.update(self.call_metrics(traced, events, traced.named(layer)[1:], layer))
        return out


WORKLOADS = {w.name: w for w in (Backfill, Tail, DatasetOps)}
