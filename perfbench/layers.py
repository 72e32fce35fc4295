"""The traced run: per-layer metrics from calls into each module's public
functions, made here, outside the package.

Layers are the package's modules. Every traced run reports every metric
below; a layer the workload does not run reports 0 (the arrow engine never
enters ``relational``; the sql engine never reaches ``arrow_docs`` or the
Spark side of ``fastkernel``).

Sequence (fresh session with the event log on), kept short enough that a
traced run ends well within three minutes on a busy 4-core host:

1. sql only: first ``relational.render_docs_relational`` of the process
   (cold), through the noop sink;
2. one untraced cold ``pipeline.run()`` (``pipeline.cold_run_s``; on sql
   it follows step 1, which already compiled the shared relational plan);
   the staging bytes and persisted RDDs it leaves are read right after it
   returns;
3. cumulative prefixes through the noop sink: the enriched scan, then
   ``jvm_stage_frame`` (arrow) or the relational render (sql), then
   ``rendered_frame`` (arrow); one untimed round, then one timed;
4. a traced replay of ``run()``'s sequence (``build`` -> ``catalog.write``
   per sink -> ``metrics_frame`` + write), one untraced ``run()``, and a
   second traced replay; overhead = traced median - untraced. The untraced
   job sits between the traced ones so the JIT warming over the three
   does not land on one side;
5. arrow only: ``datalib`` calls on the corpus turns, then one cold and
   one traced ``streaming.run_stream_once`` drain of the seed's stream
   corpus, with a ``StreamingQueryListener`` collecting the query progress;
6. the single-core ``fastkernel.render_conv`` loop over the corpus, in
   this process (median of three).

Event-log task metrics are read after the session stops.
"""

from __future__ import annotations

import glob
import os
import time

from spans import EventLog, Tracer, median

SINKS = ("json_doc", "xml_doc", "error", "raw", "json_log", "xml_log",
         "_metrics")
DATALIB = ("exact_dedup", "minhash_lsh_pairs", "mask_pii",
           "document_profile")
TRACE_LAYERS = ("pipeline", "sinks", "harness")

PER_LAYER = {
    "session.start_s": "s",
    "enrich.busy_s": "s",
    "enrich.input_rows": "count",
    "enrich.input_bytes": "bytes",
    "arrow_docs.exchange_s": "s",
    "arrow_docs.shuffle_write_bytes": "bytes",
    "arrow_docs.spill_bytes": "bytes",
    "arrow_docs.task_skew": "ratio",
    "fastkernel.render_s": "s",
    "fastkernel.docs_out": "count",
    "fastkernel.trimmed_share": "ratio",
    "fastkernel.turns_per_core_s": "1/s",
    "relational.render_s": "s",
    "relational.render_cold_s": "s",
    "relational.shuffle_write_bytes": "bytes",
    "relational.spill_bytes": "bytes",
    "pipeline.cold_run_s": "s",
    "pipeline.build_s": "s",
    "pipeline.metrics_s": "s",
    "pipeline.metrics_jobs": "count",
    "pipeline.staging_bytes_left": "bytes",
    "pipeline.persisted_rdds_after": "count",
    "route.error_rows": "count",
    **{f"sinks.{m}.{s}": u for s in SINKS
       for m, u in (("write_s", "s"), ("rows", "count"), ("bytes", "bytes"),
                    ("files", "count"))},
    "docbatch.write_s": "s",
    "docbatch.docs_out": "count",
    "streaming.drain_s": "s",
    "streaming.docs_out": "count",
    "streaming.microbatches": "count",
    "streaming.trigger_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.state_bytes": "bytes",
    **{f"datalib.{f}_s": "s" for f in DATALIB},
    "spark.gc_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.task_retries": "count",
    "trace.run_s": "s",
    "trace.untraced_run_s": "s",
    "trace.overhead_s": "s",
    "trace.accounted_share": "ratio",
    **{f"trace.self_s.{layer}": "s" for layer in TRACE_LAYERS},
}


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def enriched_frame(spark, tdf, cap: bool = False):
    """The scan + ``enrich_roles`` + tool-broadcast frame both engines
    render from (with the sql engine's ``cap_turns`` flag when ``cap``)."""
    from pyspark.sql import functions as F
    from transcriptpipe import enrich, pipeline

    from corpus import MAX_TURNS

    capped = None
    if cap:
        tdf = tdf.withColumn("text", F.coalesce("text", F.lit("")))
        tdf, capped = pipeline.cap_turns(tdf, MAX_TURNS)
    e = enrich.enrich_roles(tdf, enrich.role_dict_df(spark))
    e = e.join(F.broadcast(enrich.tool_dict_df(spark)),
               e["tool"] == F.col("tool_code"), "left"
               ).drop("tool_code", "tool_kind")
    if capped is not None:
        e = e.join(F.broadcast(capped), "conv_id", "left")
    return e


def relational_frame(spark, tdf):
    from transcriptpipe import relational

    from corpus import EVENTS_PER_DOC, MAX_DOC_BYTES

    return relational.render_docs_relational(
        enriched_frame(spark, tdf, cap=True), max_doc_bytes=MAX_DOC_BYTES,
        events_per_doc=EVENTS_PER_DOC)


def timed_span(tr: Tracer, name: str, fn) -> float:
    with tr.span(name) as s:
        fn()
    return s.dur


def replay_run(b, tr: Tracer) -> dict:
    """``pipeline.run()``'s sequence, one span per call; returns the
    committed per-sink stats of this job."""
    from dataclasses import replace

    import pyarrow.parquet as pq
    from transcriptpipe import pipeline
    from transcriptpipe.sinks import SinkCatalog

    stats: dict = {}

    def one(jd, tdf):
        cat = SinkCatalog(os.path.join(jd, "warehouse"))
        run_id = f"job{b.n_jobs}"
        conf = b.conf()
        if conf.engine == "arrow":
            conf = replace(conf, stage_dir=os.path.join(
                cat.root, "_staging", run_id))
        with tr.span("harness.run"):
            with tr.span("pipeline.build"):
                frames = pipeline.build(b.spark, tdf, conf)
            for name, df in frames.items():
                with tr.span(f"sinks.write.{name}"):
                    cat.write(df, name, run_id)
            with tr.span("pipeline.metrics"):
                m = pipeline.metrics_frame(frames, run_id)
                with tr.span("sinks.write._metrics"):
                    cat.write(m, "_metrics", run_id)
        for name in (*frames, "_metrics"):
            files = b._files(cat, name)
            stats[name] = {"rows": cat.total_rows(name),
                           "bytes": sum(os.path.getsize(f) for f in files),
                           "files": len(files)}
        stats["trimmed"] = sum(pq.read_table(
            b._files(cat, "json_doc"), columns=["trimmed"]
        ).column("trimmed").to_pylist())
        return b.gate_batch(cat)

    b.attempt(one)
    return stats


def _batch(b, tr: Tracer, v: dict):
    """Steps 1-5; returns the function that reads the event log."""
    from transcriptpipe import pipeline
    from transcriptpipe.datalib import dedup, pii, textstats

    spark, sql = b.spark, b.workload == "batch_sql"
    tdf = spark.read.parquet(b.corpus.input_path)
    if sql:
        v["relational.render_cold_s"] = timed_span(
            tr, "relational.cold", lambda: noop(relational_frame(spark, tdf)))

    def defects(jd: str) -> None:
        v["pipeline.staging_bytes_left"] = dir_bytes(
            os.path.join(jd, "warehouse", "_staging"))
        v["pipeline.persisted_rdds_after"] = (
            spark.sparkContext._jsc.getPersistentRDDs().size())

    v["pipeline.cold_run_s"] = b.job(check=defects) or 0.0

    pre: dict[str, float] = {}
    steps = [("enrich.frame", lambda: noop(enriched_frame(spark, tdf)))]
    if sql:
        steps.append(("relational.render",
                      lambda: noop(relational_frame(spark, tdf))))
    else:
        steps += [("arrow_docs.exchange",
                   lambda: noop(pipeline.jvm_stage_frame(spark, tdf))),
                  ("fastkernel.render",
                   lambda: noop(pipeline.rendered_frame(spark, tdf)))]
    for _, fn in steps:  # untimed round: one noop is not warm yet
        fn()
    for name, fn in steps:
        pre[name] = timed_span(tr, name, fn)
    v["enrich.busy_s"] = pre["enrich.frame"]
    v["enrich.input_bytes"] = b.corpus.ref["bytes"]
    if sql:
        v["relational.render_s"] = pre["relational.render"]
    else:
        v["arrow_docs.exchange_s"] = (pre["arrow_docs.exchange"]
                                      - v["enrich.busy_s"])
        v["fastkernel.render_s"] = (pre["fastkernel.render"]
                                    - pre["arrow_docs.exchange"])

    stats = replay_run(b, tr)
    untraced = b.job()
    replay_run(b, tr)
    v["trace.untraced_run_s"] = untraced or 0.0
    for s in SINKS:
        durs = [x.dur for x in tr.named(f"sinks.write.{s}")]
        v[f"sinks.write_s.{s}"] = median(durs)
        for k in ("rows", "bytes", "files"):
            v[f"sinks.{k}.{s}"] = stats.get(s, {}).get(k, 0)
    v["pipeline.build_s"] = median([x.dur for x in tr.named("pipeline.build")])
    v["pipeline.metrics_s"] = median(
        [x.dur for x in tr.named("pipeline.metrics")])
    v["route.error_rows"] = v["sinks.rows.error"]
    if sql:
        v["docbatch.write_s"] = (v["sinks.write_s.json_log"]
                                 + v["sinks.write_s.xml_log"])
        v["docbatch.docs_out"] = (v["sinks.rows.json_log"]
                                  + v["sinks.rows.xml_log"])
    else:
        v["fastkernel.docs_out"] = v["sinks.rows.json_doc"]
        v["fastkernel.trimmed_share"] = (
            stats.get("trimmed", 0) / v["sinks.rows.json_doc"]
            if v["sinks.rows.json_doc"] else 0.0)
        from pyspark.sql import functions as F

        docs = tdf.select(
            F.concat_ws(":", "conv_id", F.col("turn_idx").cast("string")
                        ).alias("doc_id"),
            F.coalesce("text", F.lit("")).alias("text"))
        calls = {
            "exact_dedup": lambda: dedup.exact_dedup(docs),
            "minhash_lsh_pairs": lambda: dedup.minhash_lsh_pairs(docs),
            "mask_pii": lambda: pii.mask_pii(docs),
            "document_profile": lambda: textstats.document_profile(docs),
        }
        for name, call in calls.items():
            noop(call())  # warm-up: these calls are not on the run() path
            v[f"datalib.{name}_s"] = timed_span(tr, f"datalib.{name}",
                                                lambda: noop(call()))

    def from_log(ev: EventLog) -> None:
        def group(name):
            return {s.id for s in tr.named(name)}

        enr = ev.of(group("enrich.frame"))
        v["enrich.input_rows"] = ev.total(enr, "records_read")
        if sql:
            rel = ev.of(group("relational.render"))
            v["relational.shuffle_write_bytes"] = ev.total(rel,
                                                           "shuffle_write")
            v["relational.spill_bytes"] = ev.total(rel, "spill")
        else:
            ex = ev.of(group("arrow_docs.exchange"))
            v["arrow_docs.shuffle_write_bytes"] = ev.total(ex,
                                                           "shuffle_write")
            v["arrow_docs.spill_bytes"] = ev.total(ex, "spill")
            v["arrow_docs.task_skew"] = ev.skew(
                ev.of(group("fastkernel.render")))
        first_metrics = tr.named("pipeline.metrics")[0]
        v["pipeline.metrics_jobs"] = ev.jobs(tr.subtree(first_metrics))

    if b.stream_corpus:
        _stream(b, tr, v)
    return from_log


class _Progress:
    """Collects streaming query progress through a listener."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self
        self.progress: dict[str, list] = {}
        self.terminated: set[str] = set()

        class L(StreamingQueryListener):
            def onQueryStarted(self, event):
                outer.progress.setdefault(str(event.id), [])

            def onQueryProgress(self, event):
                outer.progress.setdefault(str(event.progress.id), []).append(
                    event.progress)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                outer.terminated.add(str(event.id))

        self.listener = L()

    def wait_terminated(self, n: int, timeout: float = 30.0) -> None:
        t0 = time.monotonic()
        while len(self.terminated) < n and time.monotonic() - t0 < timeout:
            time.sleep(0.05)


def _stream(b, tr: Tracer, v: dict) -> None:
    """One cold drain, then one traced drain with a listener."""
    import pyarrow.parquet as pq

    def drain(span: str | None) -> None:
        def one(jd, _):
            if span:
                with tr.span(span):
                    b.drain(jd)
            else:
                b.drain(jd)
            v["streaming.docs_out"] = sum(
                pq.read_metadata(f).num_rows
                for f in glob.glob(os.path.join(jd, "out", "part-*.parquet")))
            return b.gate_stream(jd)

        b.attempt(one)

    drain(None)
    prog = _Progress()
    b.spark.streams.addListener(prog.listener)
    drain("streaming.run_stream_once")
    prog.wait_terminated(1)
    b.spark.streams.removeListener(prog.listener)
    v["streaming.drain_s"] = median(
        [s.dur for s in tr.named("streaming.run_stream_once")])
    batches = [p for ps in prog.progress.values() for p in ps
               if p.numInputRows > 0]
    v["streaming.microbatches"] = len(batches)
    v["streaming.trigger_ms"] = median([p.batchDuration for p in batches])
    states = [op for p in batches for op in p.stateOperators]
    v["streaming.state_rows"] = max((op.numRowsTotal for op in states),
                                    default=0)
    v["streaming.state_bytes"] = max((op.memoryUsedBytes for op in states),
                                     default=0)


def run_traced(b) -> tuple[dict, dict]:
    from run import WORK, start_session, stop_session

    from corpus import kernel_convs, kernel_render

    event_dir = os.path.join(b.run_dir, "events")
    b.spark, v_start = start_session(event_dir)
    v = dict.fromkeys(PER_LAYER, 0.0)
    v["session.start_s"] = v_start
    tr = Tracer(b.spark.sparkContext, run=f"{b.workload}-{b.seed}")
    from_log = _batch(b, tr, v)

    runs = tr.named("harness.run")
    v["trace.run_s"] = median([r.dur for r in runs])
    v["trace.overhead_s"] = v["trace.run_s"] - v["trace.untraced_run_s"]
    per_layer: dict[str, list[float]] = {k: [] for k in TRACE_LAYERS}
    shares = []
    for r in runs:
        self_by = dict.fromkeys(TRACE_LAYERS, 0.0)
        self_by["harness"] = tr.self_time(r)
        sub = tr.subtree(r) - {r.id}
        for s in tr.spans:
            if s.id in sub:
                self_by[s.name.split(".")[0]] += tr.self_time(s)
        for k in TRACE_LAYERS:
            per_layer[k].append(self_by[k])
        shares.append(1 - self_by["harness"] / r.dur if r.dur else 0.0)
    for k in TRACE_LAYERS:
        v[f"trace.self_s.{k}"] = median(per_layer[k])
    v["trace.accounted_share"] = median(shares)

    df = b.corpus.frame()
    convs = kernel_convs(df)
    render_s = median([kernel_render(convs)[1] for _ in range(3)])
    v["fastkernel.turns_per_core_s"] = len(df) / render_s

    stop_session(b.spark)  # flushes and closes the event log
    b.spark = None
    ev = EventLog(event_dir)
    from_log(ev)
    run_groups = set().union(*(tr.subtree(r) for r in runs)) if runs else set()
    tasks = ev.of(run_groups)
    n = max(len(runs), 1)
    v["spark.gc_s"] = ev.total(tasks, "gc_ms") / 1e3 / n
    v["spark.executor_cpu_s"] = ev.total(tasks, "cpu_ns") / 1e9 / n
    v["spark.task_retries"] = sum(t.attempt > 0 or t.failed
                                  for t in tasks) / n
    tr.dump(os.path.join(WORK, "traces", f"{b.workload}-{b.seed}.json"),
            {"metrics": v})
    for k in ("trace.run_s", "trace.untraced_run_s", "trace.overhead_s",
              "trace.accounted_share"):
        print(f"{k}: {v[k]:.4f}")
    return v, PER_LAYER
