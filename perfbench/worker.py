"""One benchmark pass in a fresh process: set up a SparkSession, run the
workload's operations once, check their outputs, write a JSON record.

Started by ``run.py``; not meant to be run by hand. The record holds the
moment the session was ready (``ready_at``, epoch seconds, so the parent
can measure set-up from process start), the operations' timings and
verdicts, and with ``--trace 1`` the per-layer numbers.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

#: The tables whose footers bench.py reads while warming up.
WARM_TABLES = ("lineitem", "documents", "embeddings", "events", "customer", "nation")


def setup(tracer, inputs: str):
    """Session start plus the warm-up bench.py does: input footers and
    one Python-worker round trip, so operations do not pay worker start."""
    from etl_moodle_and_mass_email_sending_spark.session import get_spark

    with tracer.span("session", "get_spark"):
        spark = get_spark(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    jvm = spark._jvm
    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.scheduler.DAGScheduler",
        jvm.org.apache.logging.log4j.Level.FATAL,
    )
    with tracer.span("session", "warmup"):
        tables = os.path.join(inputs, "tables")
        if os.path.isdir(tables):
            for t in WARM_TABLES:  # footer reads (schema inference), no job
                spark.read.parquet(os.path.join(tables, f"{t}.parquet")).schema
            spark.read.parquet(os.path.join(tables, "lineitem.parquet")).count()
        else:
            spark.read.text(os.path.join(inputs, "roster")).count()
        spark.range(64).repartition(4).mapInPandas(
            lambda it: it, schema="id long"
        ).write.format("noop").mode("overwrite").save()
    return spark


def group_cpu_s() -> float:
    """CPU seconds used so far by this process group: this process, its
    JVM and the JVM's Python workers, including children already reaped."""
    pgid, total = os.getpgid(0), 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        if int(fields[2]) == pgid:
            total += sum(int(x) for x in fields[11:15])
    return total / os.sysconf("SC_CLK_TCK")


def stop(spark) -> None:
    """Stop the session, then the JVM, and wait for the JVM to exit (it
    exits when its stdin closes), so no process outlives the pass."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    jvm_proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if jvm_proc is not None:
        jvm_proc.stdin.close()
        jvm_proc.wait(timeout=60)


def check(workload: str, inputs: str, work: str, ops) -> dict:
    """Op name -> None when correct, else the reason."""
    import check as chk

    by_name = {o.name: o for o in ops}
    verdict: dict[str, str | None] = {}
    counts: dict = {}
    if workload == "roster_cli":
        cli = ("normalize", "preview", "send", "resend")
        if all(by_name[n].error is None for n in cli):
            verdict, counts = chk.check_roster(inputs, work, by_name)
        if by_name["drain1"].error is None and by_name["drain2"].error is None:
            verdict.update(chk.check_drains(inputs, work,
                                            by_name["drain1"].extra["files"]))
    else:
        con = chk.duck_tables(os.path.join(inputs, "tables"))
        for o in ops:
            if o.error is None:
                verdict[o.name] = chk.check_query(con, o.name, o.frame)
        con.close()
    for o in ops:
        if o.error is not None:
            verdict[o.name] = o.error
        elif o.rc not in (None, 0):
            verdict[o.name] = f"exit code {o.rc}"
        elif o.name not in verdict:
            verdict[o.name] = "output not checked"
    return {"verdict": verdict, "counts": counts}


def layers(spark, tracer, ops, listener, staged: dict, counts: dict) -> dict:
    """Per-layer numbers of this pass from spans and the status stores."""
    import tracing as tr

    jobs = tr.read_jobs(spark)
    out = tr.layer_metrics(tracer, jobs, tr.read_python_ms(spark))
    per_span = tr.attribute_jobs(tracer, jobs)
    spans = tracer.spans
    session = {s.name: s.wall_s for s in spans if s.layer == "session"}
    out["session.get_spark_s"] = session.get("get_spark", 0.0)
    out["session.warmup_s"] = session.get("warmup", 0.0)
    post_s, post_jobs = 0.0, 0
    for s in spans:
        if s.layer != "cli":
            continue
        sinks = [c for c in tracer.children(s) if c.layer == "sinks"]
        if not sinks:
            continue
        after = max(c.end for c in sinks)
        post_s += s.end - after
        post_jobs += sum(j["start"] >= after for j in per_span.get(s.id, []))
    out["cli.post_write_s"], out["cli.jobs"] = post_s, float(post_jobs)
    src = [s for s in spans if s.layer == "sources"]
    out["sources.call_s"] = sum(s.wall_s for s in src)
    out["sources.rows_out"] = float(sum(
        s.result.count() for s in src if s.result is not None))
    out["plans.call_s"] = sum(s.wall_s for s in spans if s.layer == "plans")
    csv_spans = [s for s in spans if s.layer == "sinks" and s.name == "write_csv_single"]
    out["sinks.csv_single_s"] = sum(s.wall_s for s in csv_spans)
    # tasks of the stage that writes the file: the last job of each call
    out["sinks.write_tasks"] = float(max(
        (max(per_span[s.id], key=lambda j: j["job_id"])["result_tasks"]
         for s in csv_spans if per_span.get(s.id)),
        default=0))
    for o in ops:
        if o.kind == "cli":
            out[f"cli.{o.name}_s"] = o.wall_s
    out["sinks.sent"] = float(counts.get("sent", 0))
    out["sinks.ledger_skipped"] = float(counts.get("ledger_skipped", 0))
    out["sinks.useful_ratio"] = (
        counts["sent"] / counts["rendered"] if counts.get("rendered") else 0.0)
    q = [o for o in ops if o.kind == "query"]
    out["queries.build_s"] = sum(o.build_s for o in q)
    out["queries.run_s"] = sum(o.run_s for o in q)
    qwall = sum(s.wall_s for s in spans if s.layer == "queries")
    out["queries.driver_share"] = (
        out["queries.driver_ms"] / 1000 / qwall if qwall else 0.0)
    out["operators.staged_builds"] = float(len(staged))
    out["operators.staged_build_s"] = float(sum(staged.values()))
    out["operators.py_ms"] = out["queries.py_ms"]
    if listener is not None:
        listener.drain()
        out.update(listener.snapshot())
    out["jvm.heap_peak_mb"] = tr.heap_peak_mb(spark)
    # per query: the share of its calls during which none of its own
    # Spark jobs ran, and its job count
    per_query = {}
    for o in q:
        ss = [s for s in spans if s.layer == "queries"
              and s.name.split(":")[0] == o.name]
        wall = sum(s.wall_s for s in ss)
        drv = sum(tracer.driver_s(s, per_span.get(s.id, [])) for s in ss)
        per_query[o.name] = {
            "driver_share": drv / wall if wall else 0.0,
            "jobs": sum(len(per_span.get(s.id, [])) for s in ss),
        }
    return {"metrics": out, "queries": per_query}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--queries", help="comma-separated query_mix override")
    a = ap.parse_args()

    import tracing as tr
    import workloads
    from etl_moodle_and_mass_email_sending_spark.operators.util import staging_ledger

    tracer = tr.Tracer(pass_id=os.path.basename(os.path.dirname(a.work)))
    spark = setup(tracer, a.inputs)
    ready_at = time.time()
    listener = None
    if a.trace:
        tracer.spark = spark  # spans now also name their Spark job groups
        tr.install_engine_shims(tracer)
        listener = tr.make_stream_listener()
        spark.streams.addListener(listener)
    before = staging_ledger()
    os.makedirs(a.work)
    cpu0 = group_cpu_s()
    if a.queries:
        ops = workloads.query_pass(spark, a.inputs, a.work, tracer,
                                   tuple(a.queries.split(",")))
    else:
        ops = workloads.PASSES[a.workload](spark, a.inputs, a.work, tracer)
    pass_cpu_s = group_cpu_s() - cpu0
    # a (re)build re-assigns the key's value object
    staged = {k: v for k, v in staging_ledger().items() if before.get(k) is not v}
    if a.trace:
        tracer.unwrap_all()
        tracer.spark = None  # checks below are not traced
    checked = check(a.workload, a.inputs, a.work, ops)
    record = {
        "ready_at": ready_at,
        "pass_s": sum(o.wall_s for o in ops),
        "pass_cpu_s": pass_cpu_s,
        "ops": [{"name": o.name, "wall_s": o.wall_s, "build_s": o.build_s,
                 "run_s": o.run_s} for o in ops],
        "verdict": checked["verdict"],
    }
    if a.trace:
        record["layers"] = layers(spark, tracer, ops, listener, staged,
                                  checked["counts"])
    stop(spark)
    with open(a.out, "w") as f:
        json.dump(record, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
