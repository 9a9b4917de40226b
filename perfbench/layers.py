"""Per-layer metrics of a traced run.

Walls and CPU come from the spans in spans.py; job, stage and SQL
metrics from the local Spark UI's REST API, read once the measured
phases are over; sizes from the index directory. Batch figures are per
``topk`` call, serve and cold figures are means per query (the
analysis time a median), build figures are for the one build.
"""

from __future__ import annotations

import os
import re
import statistics
import time

import pyarrow.dataset as ds

from spans import SparkRest, job_ms, sql_metric_value

PYTHON_UDF_NODE = "MapInPandas"


def du(path: str) -> int:
    """Bytes of all files under path."""
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _udf_metrics(rest: SparkRest, group: str) -> dict:
    """Sums of the Python-UDF node's SQL metrics, plus the ids of the
    stages it ran in."""
    out = {"rows": 0.0, "sent": 0.0, "stages": set()}
    for node in rest.nodes_of(group, PYTHON_UDF_NODE):
        for m in node["metrics"]:
            if m["name"] == "number of output rows":
                out["rows"] += sql_metric_value(m["value"])
            elif m["name"] == "data sent to Python workers":
                out["sent"] += sql_metric_value(m["value"])
            out["stages"] |= {int(s) for s in re.findall(r"stage (\d+)\.", m["value"])}
    return out


def _scan_bytes(rest: SparkRest, group: str) -> float:
    """Size of the parquet files the group's scans selected. Stage
    inputBytes misses reads made on a Python runner's feeder thread."""
    return sum(
        sql_metric_value(m["value"])
        for node in rest.nodes_of(group, "Scan parquet")
        for m in node["metrics"]
        if m["name"] == "size of files read"
    )


def _build(run, tr, rest) -> dict:
    idx = run.idx
    tok, ixs = tr.of("tokenize")[0], tr.of("index_stage")[0]
    post = ds.dataset(os.path.join(idx, "postings"), format="parquet",
                      partitioning="hive")
    from data_prepper_spark.index import manifest as mf

    man = mf.read_manifest(idx)
    return {
        "tokenize.wall_s": (tok.wall_s, "s"),
        "tokenize.cpu_s": (tok.cpu_s, "s"),
        "tokenize.input_bytes": (_scan_bytes(rest, tok.group), "bytes"),
        "tokenize.rows_out": (
            float(man.loc[man["stage"] == "tokenize", "rows_out"].sum()), "count"),
        "tokens.bytes": (du(os.path.join(idx, "tokens")), "bytes"),
        "quarantine.rows": (run.quarantined, "count"),
        "index_stage.wall_s": (ixs.wall_s, "s"),
        "index_stage.cpu_s": (ixs.cpu_s, "s"),
        "index_stage.shuffle_write_bytes": (
            rest.stage_sum(ixs.group, "shuffleWriteBytes"), "bytes"),
        "index_stage.spill_bytes": (
            rest.stage_sum(ixs.group, "diskBytesSpilled"), "bytes"),
        "postings.bytes": (du(os.path.join(idx, "postings")), "bytes"),
        "postings.blocks": (post.count_rows(), "count"),
        "postings.count": (
            float(post.to_table(columns=["n"]).column("n").to_numpy().sum()), "count"),
        "terms.bytes": (du(os.path.join(idx, "terms")), "bytes"),
        "docs.bytes": (du(os.path.join(idx, "docs")), "bytes"),
    }


def _batch(run, tr, rest) -> dict:
    from data_prepper_spark.index.query import query_terms

    qt, tk = tr.of("query_terms"), tr.of("topk")
    udf = [_udf_metrics(rest, s.group) for s in tk]
    decoded = sum(u["rows"] for u in udf)
    answered = sum(len(r) for r in run.batch_res)
    qt_rows = query_terms(
        run.spark, run.idx, run.batch_df, run.stats["n_docs"]
    ).count()
    return {
        "query_terms.wall_s": (_mean(s.wall_s for s in qt), "s"),
        "query_terms.rows": (qt_rows, "count"),
        "topk.wall_s": (_mean(s.wall_s for s in tk), "s"),
        "topk.cpu_s": (_mean(s.cpu_s for s in tk), "s"),
        "topk.input_bytes": (_mean(_scan_bytes(rest, s.group) for s in tk), "bytes"),
        "decode.stage_s": (_mean(
            sum(rest.stages[i]["executorRunTime"] for i in u["stages"]) / 1e3
            for u in udf), "s"),
        "decode.python_bytes_sent": (_mean(u["sent"] for u in udf), "bytes"),
        "decode.rows_out": (decoded / len(udf), "count"),
        "decode.useful_ratio": (answered / decoded, "ratio"),
        "rank.shuffle_bytes": (_mean(rest.stage_sum(s.group, "shuffleWriteBytes") for s in tk), "bytes"),
    }


def _serve(run, tr, rest) -> dict:
    from data_prepper_spark.index.query import analyze_query_py

    jobs = [rest.jobs_of(s.group) for s in tr.of("serve")]
    job_time = [sum(job_ms(j) for j in js) for js in jobs]
    analyze = []
    for pid in run.serve_ids:
        q = run.pool["query"].iat[int(pid)]
        t0 = time.perf_counter()
        analyze_query_py(run.sess.stats, q)
        analyze.append((time.perf_counter() - t0) * 1e3)
    return {
        "serve.analyze_ms": (statistics.median(analyze), "ms"),
        "serve.jobs_per_query": (_mean(len(js) for js in jobs), "count"),
        "serve.tasks_per_query": (_mean(sum(j["numTasks"] for j in js) for js in jobs), "count"),
        "serve.fetch_job_ms": (_mean(job_time), "ms"),
        "serve.driver_ms": (_mean(
            s.wall_s * 1e3 - t for s, t in zip(tr.of("serve"), job_time)), "ms"),
    }


def _cold(run, tr, rest) -> dict:
    """topk_one_cold runs a terms job, a postings job and a docs job, in
    that order; a query that matches no term stops after the first."""
    terms, postings, docs, driver = [], [], [], []
    for s in tr.of("cold"):
        js = [job_ms(j) for j in rest.jobs_of(s.group)]
        if len(js) >= 3:
            terms.append(js[0])
            postings.append(sum(js[1:-1]))
            docs.append(js[-1])
        driver.append(s.wall_s * 1e3 - sum(js))
    return {
        "cold.terms_job_ms": (_mean(terms), "ms"),
        "cold.postings_job_ms": (_mean(postings), "ms"),
        "cold.docs_job_ms": (_mean(docs), "ms"),
        "cold.driver_ms": (_mean(driver), "ms"),
    }


def per_layer(run, tr) -> dict:
    rest = SparkRest(run.spark.sparkContext)
    t = run.times
    m = (
        _build(run, tr, rest) | _batch(run, tr, rest)
        | _serve(run, tr, rest) | _cold(run, tr, rest)
    )
    m |= {
        "setup.spark_start_s": (t["spark_start"], "s"),
        "setup.generate_s": (t["generate"], "s"),
        "setup.batch_warmup_s": (t["batch_warmup"], "s"),
        "serve.warm_s": (t["serve_warm"], "s"),
    }
    e2e = run.e2e_s()
    layers = ("tokenize", "index_stage", "query_terms", "topk", "serve", "cold")
    covered = sum(s.wall_s for name in layers for s in tr.of(name))
    m["trace.layer_sum_ratio"] = (covered / e2e, "ratio")
    m["trace.overhead_ratio"] = (e2e / (e2e - tr.bookkeeping_s), "ratio")
    return m
