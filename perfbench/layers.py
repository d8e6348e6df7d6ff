"""The traced run: per-layer numbers, measured from outside the program
by timing calls into its public functions.

1. one traced repetition of the workload's end-to-end job (for
   corpus_ops, one span per query), under an attached event log;
2. the extraction prefix passes over the workload's pages, each forced
   with a noop sink: scan -> +shuffle -> +Arrow pass-through -> full
   extract_pages; each layer's time is its prefix minus the one before;
3. the kernel in this process, per distinct payload weighted by its
   multiplicity, with its phases timed separately.
"""

from __future__ import annotations

import heapq
import os
import re
import time


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def _passthrough(counter):
    """mapInPandas body with extract_pages' output schema that does no
    extraction: only the Arrow round trip and the batch count remain."""
    from pdf4py_spark.plans.pipeline import EXTRACT_SCHEMA

    empty = [c.split()[0] for c in EXTRACT_SCHEMA.split(", ")][2:]

    def gen(batches):
        for pdf in batches:
            counter.add(1)
            out = pdf[["url", "warc_ts"]].copy()
            for col in empty:
                out[col] = None
            yield out
    return gen


def _shuffle_width(full_df, default: int) -> int:
    """The partition count extract_pages chose, read from its plan."""
    plan = full_df._jdf.queryExecution().optimizedPlan().toString()
    m = re.search(r"RepartitionByExpression \[[^\]]*\], (\d+)", plan)
    return int(m.group(1)) if m else default


def prefix_passes(spark, tracer, pages_path, passwords) -> dict:
    from pyspark.sql import functions as F

    from pdf4py_spark.functions import balanced_repartition
    from pdf4py_spark.plans.pipeline import EXTRACT_SCHEMA, extract_pages
    from pdf4py_spark.sources.storage import read_pages

    def scan():
        return read_pages(spark, pages_path).select("url", "warc_ts", "html")

    def slim():
        df = scan()
        if passwords is not None:
            df = df.join(F.broadcast(passwords), "url", "left")
        return df

    full = extract_pages(read_pages(spark, pages_path), passwords=passwords)
    width = _shuffle_width(full, spark.sparkContext.defaultParallelism * 8)
    batches = spark.sparkContext.accumulator(0)
    prefixes = (
        ("sources.scan", scan),
        ("functions.shuffle", lambda: balanced_repartition(slim(), width)),
        ("plans.arrow_roundtrip", lambda: balanced_repartition(
            slim(), width).mapInPandas(_passthrough(batches), EXTRACT_SCHEMA)),
        ("plans.extract_pages", lambda: full),
    )
    seconds = {}
    for name, build in prefixes:
        with tracer.span(name) as rec:
            _noop(build())
        seconds[name] = rec["end"] - rec["start"]
    return {"seconds": seconds, "arrow_batches": batches.value,
            "width": width}


def kernel_profile(tracer, payloads) -> dict:
    """In-process kernel over ``payloads`` ((payload, password, weight)
    per distinct document), in the default (raw) text mode, then once
    more in unicode mode for kernel.unicode_cpu_s."""
    from pdf4py_spark.kernel.extract import extract_document, sniff_kind
    from pdf4py_spark.kernel.htmlextract import extract_html_text
    from pdf4py_spark.kernel.parser import DocumentParser
    from pdf4py_spark.kernel.textextract import extract_pdf_text

    phase = {"parse": 0.0, "pages": 0.0, "text": 0.0, "html": 0.0}
    clock = time.perf_counter
    with tracer.span("kernel.phases"):
        for payload, pw, weight in payloads:
            if payload and sniff_kind(payload) == "pdf":
                t0 = clock()
                try:
                    doc = DocumentParser(payload, password=pw)
                    t1 = clock()
                    phase["parse"] += (t1 - t0) * weight
                    pages = doc.page_dicts()
                    t2 = clock()
                    phase["pages"] += (t2 - t1) * weight
                    extract_pdf_text(doc, pages)
                    phase["text"] += (clock() - t2) * weight
                except Exception:  # noqa: BLE001 - quarantined document
                    continue
            elif payload:
                t0 = clock()
                extract_html_text(payload)
                phase["html"] += (clock() - t0) * weight
    per_doc, ok, quarantined, bytes_out = [], 0, 0, 0
    with tracer.span("kernel.extract_document"):
        for payload, pw, weight in payloads:
            t0 = clock()
            res = extract_document(payload, pw)
            per_doc.append((clock() - t0) * weight)
            if res.status == "ok":
                ok += weight
                bytes_out += res.bytes_out * weight
            else:
                quarantined += weight
    unicode_s = 0.0
    with tracer.span("kernel.extract_document_unicode"):
        for payload, pw, weight in payloads:
            t0 = clock()
            extract_document(payload, pw, "unicode")
            unicode_s += (clock() - t0) * weight
    cpu = sum(per_doc)
    phase_total = sum(phase.values()) or 1.0
    return {
        "kernel.cpu_s": cpu,
        "kernel.unicode_cpu_s": unicode_s,
        "kernel.parse_share": phase["parse"] / phase_total,
        "kernel.pages_share": phase["pages"] / phase_total,
        "kernel.text_share": phase["text"] / phase_total,
        "kernel.html_share": phase["html"] / phase_total,
        "kernel.top3_share": sum(heapq.nlargest(3, per_doc)) / cpu,
        "kernel.ok_docs": ok,
        "kernel.quarantined_docs": quarantined,
        "kernel.bytes_out_mb": bytes_out / 1e6,
    }


def traced_run(spark, workload, untraced_job_s, work, tracer) -> dict:
    from engine import config, cores
    from spans import EventLog, task_stats

    log = EventLog(spark, os.path.join(work, "eventlog"))
    with tracer.span("job") as job_span:
        job = workload.job(tracer.span)
    probe = workload.probe(tracer.span)
    pages_path, passwords = workload.layer_input()
    prefix = prefix_passes(spark, tracer, pages_path, passwords)
    events = log.close()

    kernel = kernel_profile(tracer, workload.kernel_payloads())

    def stats(pick):
        """Event-log totals over the spans whose name ``pick`` accepts."""
        groups = set()
        for s in tracer.spans:
            if pick(s["name"]):
                groups |= tracer.groups_under(s["id"])
        return task_stats(events, groups)

    job_s = job_span["end"] - job_span["start"]
    sec = prefix["seconds"]
    spark_stats = stats(lambda n: n == "job")
    shuffle = stats(lambda n: n == "functions.shuffle")
    full = stats(lambda n: n == "plans.extract_pages")
    dataset = stats(lambda n: n.startswith(("operators.", "streaming.")))
    metrics = {
        "sources.scan_s": sec["sources.scan"],
        "sources.input_docs": workload.props["docs"],
        "sources.input_mb": workload.props["input_mb"],
        "sources.distinct_payload_frac":
            workload.props["distinct_payload_frac"],
        "functions.shuffle_s":
            sec["functions.shuffle"] - sec["sources.scan"],
        "functions.shuffle_write_mb": shuffle["shuffle_write_mb"],
        "functions.partition_bytes_max_over_median":
            shuffle["shuffle_read_max_over_median"],
        "plans.arrow_roundtrip_s":
            sec["plans.arrow_roundtrip"] - sec["functions.shuffle"],
        "plans.extract_pages_s": sec["plans.extract_pages"],
        "plans.arrow_batches": prefix["arrow_batches"],
        "plans.python_sent_mb": full["python_sent_mb"],
        "plans.python_returned_mb": full["python_returned_mb"],
        "plans.python_run_s": full["python_run_s"],
        "plans.python_boot_s": full["python_boot_s"],
        "plans.python_init_s": full["python_init_s"],
        "plans.engine_share": 1.0 - kernel["kernel.cpu_s"] / (
            sec["plans.extract_pages"] * cores()),
    }
    metrics.update(kernel)
    metrics.update({
        "spark.tasks": spark_stats["tasks"],
        "spark.failed_tasks": spark_stats["failed_tasks"],
        "spark.task_s_p50": spark_stats["task_s_p50"],
        "spark.task_s_max": spark_stats["task_s_max"],
        "spark.gc_s": spark_stats["gc_s"],
        "spark.spill_mb": spark_stats["spill_mb"],
    })
    ops = config()["workloads"]["corpus_ops"]
    for name in ops["queries"]:
        metrics["operators.%s_share" % name] = tracer.seconds(
            "operators." + name) / job_s
    for name in ops["traced_queries"]:
        metrics["streaming.%s_per_job" % name] = tracer.seconds(
            "streaming." + name) / job_s
    metrics["operators.shuffle_write_mb"] = dataset["shuffle_write_mb"]
    metrics["trace.overhead_s"] = job_s - untraced_job_s
    return {"metrics": metrics, "passes": [job, probe], "prefix": prefix}
