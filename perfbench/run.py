"""Benchmark of the code-search engine in ``data_prepper_spark``.

Run from the root of a checkout:

    python3 perfbench/run.py --workload mixed --seed 1 --seconds 12 --trace 0

One run generates a seeded corpus and query pool, starts a Spark session
at local[nproc] and goes through the engine's three user-facing jobs,
each timed end to end:

1. build: tokenize stage + index stage of a fresh corpus into an empty
   directory (what ``build_index`` runs);
2. batch_query: ``topk(k=10)`` over a DataFrame of ``--batch`` queries;
3. serve: a closed loop with one client over a warm ``QuerySession``
   (``topk_one``), then ``topk_one_cold`` on a few of the same queries.

Every answer is checked against ``oracle.bm25_topk`` (rank-identical,
scores within 1e-6), warm and cold answers must agree, and the build
must quarantine exactly the injected bad rows. The last line of stdout
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics of BENCHMARK.json with ``--trace 1``). A wrong answer exits 1.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import sys
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
DEFAULT_HEAP = "1g"
SCORE_TOL = 1e-6
WARMUP_SERVE = 60
WARMUP_COLD = 2


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=["mixed", "hot"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True,
                   help="sizes the query phases: ceil(S/12) batch calls, "
                   "5*S warm serve queries, ceil(S/2) cold queries")
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--files", type=int, default=300)
    p.add_argument("--pool", type=int, default=60,
                   help="distinct query texts the batch and serve draw from")
    p.add_argument("--batch", type=int, default=1000,
                   help="queries in one batch topk call")
    return p.parse_args(argv)


def pct(values, q: float) -> float:
    import numpy as np

    return float(np.percentile(np.asarray(values, float), q))


def host_identity(spark, n_cores: int) -> dict:
    import pyarrow
    import pyspark

    jvm = spark.sparkContext._jvm
    return {
        "nproc": n_cores,
        "master": spark.sparkContext.master,
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "java": jvm.System.getProperty("java.version"),
        "driver_heap": spark.conf.get("spark.driver.memory"),
        "python": sys.version.split()[0],
    }


# -- gold answers -----------------------------------------------------


def gold_path(args) -> str:
    from data_prepper_spark import oracle, tokenizer

    h = hashlib.sha256()
    for mod_file in (oracle.__file__, tokenizer.__file__,
                     os.path.join(HERE, "workload.py")):
        with open(mod_file, "rb") as f:
            h.update(f.read())
    h.update(f"{args.workload}|{args.seed}|{args.files}|{args.pool}".encode())
    return os.path.join(WORK, "gold", h.hexdigest()[:24] + ".parquet")


def gold_answers(args, corpus, bad, pool):
    """oracle.bm25_topk over the valid rows, cached per seed, sizes and
    oracle/tokenizer/generator source."""
    import pandas as pd
    from data_prepper_spark.oracle import bm25_topk

    path = gold_path(args)
    if os.path.exists(path):
        return pd.read_parquet(path)
    gold = bm25_topk(corpus[~bad].reset_index(drop=True), pool, k=10)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    gold.to_parquet(tmp, index=False)
    os.replace(tmp, path)
    return gold


def failed_queries(answers, asked, gold) -> set:
    """Query ids in `asked` (query_id -> pool_id) whose answer rows are
    not rank-identical to the gold rows of their pool query, or whose
    scores differ by more than SCORE_TOL."""
    import pandas as pd

    cols = ["query_id", "rank", "doc_id", "score"]
    want = asked.merge(
        gold.rename(columns={"query_id": "pool_id"}), on="pool_id"
    )[cols]
    # nullable ints: an outer merge must not turn 64-bit doc ids into floats
    types = {"query_id": "int64", "rank": "int64", "doc_id": "Int64"}
    m = answers[cols].astype(types).merge(
        want.astype(types), on=["query_id", "rank"], how="outer",
        suffixes=("_a", "_g"), indicator=True,
    )
    bad = (
        (m["_merge"] != "both")
        | (m["doc_id_a"] != m["doc_id_g"]).fillna(True)
        | ~((m["score_a"] - m["score_g"]).abs() <= SCORE_TOL)
    )
    out = set(m.loc[bad, "query_id"].astype(int))
    return out & set(asked["query_id"].astype(int))


# -- the run ----------------------------------------------------------


class Run:
    def __init__(self, args):
        self.args = args
        self.dir = os.path.join(WORK, f"run-{os.getpid()}")
        self.times: dict[str, float] = {}
        self.failed = 0
        self.attempted = 0
        self.peaks: dict[int, int] = {}
        self.notes: list[str] = []

    def fail(self, n: int, what: str) -> None:
        self.failed += n
        self.notes.append(what)
        print(f"CHECK FAILED: {what}", file=sys.stderr)

    def sample_rss(self) -> None:
        from spans import tree_peak_rss

        tree_peak_rss(self.peaks)

    def generate(self):
        import numpy as np
        import pandas as pd
        from workload import CorpusGen, draw, write_corpus

        a, S = self.args, self.args.seconds
        t0 = time.perf_counter()
        gen = CorpusGen(a.seed)
        self.corpus, self.bad = gen.corpus(a.files)
        self.pool = gen.queries(a.workload, a.pool)
        self.corpus_dir = os.path.join(self.dir, "corpus")
        write_corpus(self.corpus, self.corpus_dir)
        self.batch_q = pd.DataFrame({
            "query_id": np.arange(a.batch, dtype=np.int64),
            "pool_id": draw(a.seed, 0, a.pool, a.batch),
        })
        self.batch_q["query"] = self.pool["query"].to_numpy()[self.batch_q["pool_id"]]
        self.serve_ids = draw(a.seed, 1, a.pool, 5 * S)
        self.cold_ids = draw(a.seed, 2, a.pool, min(math.ceil(S / 2), a.pool))
        self.warm_ids = draw(a.seed, 3, a.pool, WARMUP_SERVE)
        self.batch_calls = math.ceil(S / 12)
        self.times["generate"] = time.perf_counter() - t0
        self.gold = gold_answers(a, self.corpus, self.bad, self.pool)

    def start_spark(self):
        from data_prepper_spark.session import get_spark

        tmp = os.path.join(self.dir, "tmp")
        os.makedirs(tmp)
        os.environ["TMPDIR"] = tmp
        # the JVM keeps its perf counters in /tmp unless told not to; the
        # launcher JVM of spark-submit reads its options from this variable
        jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
        os.environ.setdefault("SPARK_DRIVER_MEMORY", DEFAULT_HEAP)
        self.n_cores = len(os.sched_getaffinity(0))
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.enabled": "true" if self.args.trace else "false",
            "spark.local.dir": tmp,
            "spark.driver.extraJavaOptions": jvm_opts,
            "spark.sql.warehouse.dir": os.path.join(self.dir, "warehouse"),
        }
        if self.args.trace:
            conf.update({
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.ui.retainedExecutions": "100000",
            })
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench", master=f"local[{self.n_cores}]",
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.times["spark_start"] = time.perf_counter() - t0
        self.sample_rss()

    def build(self, tr):
        import pyarrow.parquet as pq
        from layers import du
        from data_prepper_spark.index.build import (
            BuildConfig, run_index_stage, run_tokenize_stage,
        )

        self.idx = os.path.join(self.dir, "index")
        os.makedirs(self.idx)
        cfg = BuildConfig()
        t0 = time.perf_counter()
        with tr.span("tokenize", cpu=True):
            run_tokenize_stage(self.spark, self.corpus_dir, self.idx, cfg)
        with tr.span("index_stage", cpu=True):
            self.stats = run_index_stage(self.spark, self.idx, cfg)
        self.times["build"] = time.perf_counter() - t0
        self.sample_rss()
        self.attempted += 1
        n_bad = int(self.bad.sum())
        qdir = os.path.join(self.idx, "quarantine")
        self.quarantined = (
            pq.ParquetDataset(qdir).read(columns=["path"]).num_rows
            if du(qdir) else 0
        )
        if self.quarantined != n_bad or self.stats["n_docs"] != len(self.bad) - n_bad:
            self.fail(1, f"build: quarantined {self.quarantined} of {n_bad} "
                      f"bad rows, n_docs {self.stats['n_docs']} of "
                      f"{len(self.bad) - n_bad} valid rows")

    def warm(self, tr):
        from data_prepper_spark.index.query import QuerySession, topk, topk_one_cold

        # warm() runs one query; the serve and cold paths plan and compile
        # a new job per query and reach steady latency only after about
        # 60 queries, so those are set-up too
        t0 = time.perf_counter()
        with tr.span("serve_warm"):
            self.sess = QuerySession(self.spark, self.idx).warm()
            for q in self.pool["query"].iloc[self.warm_ids]:
                self.sess.topk_one(q, k=10)
            for q in self.pool["query"].iloc[self.warm_ids[:WARMUP_COLD]]:
                topk_one_cold(self.spark, self.idx, q, k=10)
        self.times["serve_warm"] = time.perf_counter() - t0
        self.batch_df = self.spark.createDataFrame(
            self.batch_q[["query_id", "query"]]
        )
        # the first batch call in a session pays for planning and code
        # generation of the batch plan
        t0 = time.perf_counter()
        with tr.span("batch_warmup"):
            topk(self.spark, self.idx, self.batch_df, k=10).toPandas()
        self.times["batch_warmup"] = time.perf_counter() - t0
        self.sample_rss()

    def batch(self, tr):
        from data_prepper_spark.index.query import topk

        self.batch_s, self.batch_res = [], []
        for i in range(self.batch_calls):
            t0 = time.perf_counter()
            with tr.span("query_terms", key=str(i)):
                plan = topk(self.spark, self.idx, self.batch_df, k=10)
            with tr.span("topk", key=str(i), cpu=True):
                res = plan.toPandas()
            self.batch_s.append(time.perf_counter() - t0)
            self.batch_res.append(res)
            self.attempted += len(self.batch_q)
        self.sample_rss()

    def _loop(self, tr, layer, ids, call):
        import pandas as pd

        lat, answers, answered = [], [], []
        for j, pid in enumerate(ids):
            q = self.pool["query"].iat[int(pid)]
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                with tr.span(layer, key=str(j)):
                    out = call(q, j)
            except Exception as e:  # a failed request counts, the loop goes on
                self.fail(1, f"{layer} query {q!r}: {e!r}")
                continue
            lat.append(time.perf_counter() - t0)
            answers.append(out.assign(query_id=j))
            answered.append((j, pid))
        self.sample_rss()
        cols = ["query_id", "rank", "doc_id", "score"]
        hits = [a[cols] for a in answers if len(a)]
        res = pd.concat(hits) if hits else pd.DataFrame(columns=cols)
        asked = pd.DataFrame(answered, columns=["query_id", "pool_id"])
        return lat, res, asked

    def serve(self, tr):
        from data_prepper_spark.index.query import topk_one_cold

        self.serve_lat, self.serve_res, self.serve_asked = self._loop(
            tr, "serve", self.serve_ids,
            lambda q, j: self.sess.topk_one(q, k=10, query_id=j),
        )
        self.cold_lat, self.cold_res, self.cold_asked = self._loop(
            tr, "cold", self.cold_ids,
            lambda q, j: topk_one_cold(self.spark, self.idx, q, k=10, query_id=j),
        )

    def check(self):
        import numpy as np

        for i, res in enumerate(self.batch_res):
            bad = failed_queries(res, self.batch_q[["query_id", "pool_id"]], self.gold)
            if bad:
                self.fail(len(bad), f"batch call {i}: {len(bad)} answers differ from the oracle")
        for name in ("serve", "cold"):
            res, asked = getattr(self, f"{name}_res"), getattr(self, f"{name}_asked")
            bad = failed_queries(res, asked, self.gold)
            if bad:
                self.fail(len(bad), f"{name}: {len(bad)} answers differ from the oracle")
        # a cold answer must equal the warm answer to the same text
        warm = self.serve_asked.drop_duplicates("pool_id")
        both = self.cold_asked.merge(warm, on="pool_id", suffixes=("_c", "_w"))
        differ = 0
        for qc, qw in zip(both["query_id_c"], both["query_id_w"]):
            c = self.cold_res[self.cold_res["query_id"] == qc].sort_values("rank")
            w = self.serve_res[self.serve_res["query_id"] == qw].sort_values("rank")
            if len(c) != len(w) or (
                c["doc_id"].to_numpy(np.int64) != w["doc_id"].to_numpy(np.int64)
            ).any() or (
                abs(c["score"].to_numpy(float) - w["score"].to_numpy(float)) > SCORE_TOL
            ).any():
                differ += 1
        if differ:
            self.fail(differ, f"{differ} cold answers differ from the warm ones")

    def e2e_s(self) -> float:
        return (self.times["build"] + sum(self.batch_s)
                + sum(self.serve_lat) + sum(self.cold_lat))

    def end_to_end(self) -> dict:
        from layers import du

        t = self.times
        src_bytes = int(self.corpus["content"].str.len().sum())
        return {
            "setup_s": (t["spark_start"] + t["generate"] + t["serve_warm"]
                        + t["batch_warmup"], "s"),
            "build_files_per_s": (self.args.files / t["build"], "1/s"),
            "index_bytes_per_source_byte": (du(self.idx) / src_bytes, "ratio"),
            "batch_qps": (len(self.batch_q) * len(self.batch_s) / sum(self.batch_s), "1/s"),
            "serve_p50_ms": (pct(self.serve_lat, 50) * 1e3, "ms"),
            "serve_p80_ms": (pct(self.serve_lat, 80) * 1e3, "ms"),
            "serve_cold_p50_ms": (pct(self.cold_lat, 50) * 1e3, "ms"),
            "peak_rss_mb": (sum(self.peaks.values()) / 1024.0, "MB"),
        }


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait
    until each of them has exited."""
    from pyspark import SparkContext
    from spans import process_tree

    children = [p for p in process_tree() if p != os.getpid()]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=120)
    deadline = time.monotonic() + 60
    while any(os.path.exists(f"/proc/{p}") for p in children):
        if time.monotonic() > deadline:
            raise RuntimeError(f"Spark processes still running: {children}")
        time.sleep(0.1)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "data_prepper_spark")):
        print(f"perfbench: no data_prepper_spark package under {ROOT}; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from layers import per_layer
    from spans import Tracer

    run = Run(args)
    shutil.rmtree(run.dir, ignore_errors=True)
    os.makedirs(run.dir)
    try:
        # inputs and gold answers depend on the seed alone: make them
        # while the JVM starts
        with ThreadPoolExecutor(1) as pool:
            inputs = pool.submit(run.generate)
            run.start_spark()
            inputs.result()
        tr = Tracer(run.spark.sparkContext if args.trace else None)
        run.build(tr)
        run.warm(tr)
        run.batch(tr)
        run.serve(tr)
        run.sess.close()
        metrics = per_layer(run, tr) if args.trace else run.end_to_end()
        host = host_identity(run.spark, run.n_cores)
    finally:
        if getattr(run, "spark", None) is not None:
            stop_spark(run.spark)
        shutil.rmtree(run.dir, ignore_errors=True)
    run.check()
    print(json.dumps({"host": host, "workload": args.workload, "seed": args.seed,
                      "files": args.files, "pool": args.pool, "batch": args.batch,
                      "batch_calls": run.batch_calls, "serve_queries": len(run.serve_ids),
                      "cold_queries": len(run.cold_ids),
                      "batch_call_s": run.batch_s, "checks_failed": run.notes}))
    for name, (v, unit) in metrics.items():
        print(f"{name:32s} {v:14.6g} {unit}")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if run.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
