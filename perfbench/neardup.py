"""near_dup: a closed loop of operator-suite jobs over a seeded corpus.

One job runs the curation funnel, MinHash-LSH and SimHash near-duplicate
pairs, LSH cosine near pairs and LSH cosine top-k, with the arguments the
operator suite's driver entry uses.
"""

from __future__ import annotations

import os
import time

from common import (WORK, RssSampler, closed_loop, closed_loop_result,
                    start_spark, stop_spark)
from checks import curation_funnel_oracle
from inputs import write_near_dup_corpus

N_DOCS = 1000
N_VECS = 1000

OPERATORS = (
    "functions.curate.curation_funnel",
    "functions.dedup.minhash_lsh_pairs",
    "functions.dedup.simhash_near_pairs",
    "functions.similarity.cosine_near_pairs",
    "functions.similarity.lsh_cosine_topk",
)


def _plans(spark, docs_path: str, emb_path: str):
    from pyspark.sql import functions as F

    from openlogparse_spark.functions.curate import curation_funnel
    from openlogparse_spark.functions.dedup import (minhash_lsh_pairs,
                                                    simhash_near_pairs)
    from openlogparse_spark.functions.similarity import (cosine_near_pairs,
                                                         lsh_cosine_topk)

    docs = spark.read.parquet(docs_path)
    emb = spark.read.parquet(emb_path)
    return {
        OPERATORS[0]: lambda: curation_funnel(
            docs, jaccard_n=3, jaccard_threshold=0.2, min_quality=0.5,
            weights={"train": 0.9, "val": 0.05, "test": 0.05}, salt="v1",
            max_shingle_df=None),
        OPERATORS[1]: lambda: minhash_lsh_pairs(docs, num_hashes=64, bands=16,
                                                threshold=0.3),
        OPERATORS[2]: lambda: simhash_near_pairs(docs, max_hamming=8),
        OPERATORS[3]: lambda: cosine_near_pairs(emb, threshold=0.35, method="lsh"),
        OPERATORS[4]: lambda: lsh_cosine_topk(
            emb, emb.filter(F.col("vec_id") < 5), k=5),
    }


def _force(name: str, df):
    """Materialise every column: the funnel's stage table is collected;
    the pair outputs are reduced to (rows, content hash), which must repeat
    exactly from job to job."""
    from pyspark.sql import functions as F

    if name == OPERATORS[0]:
        return tuple(sorted((r[0], int(r[1])) for r in df.collect()))
    h = F.pmod(F.xxhash64(*df.columns), F.lit(2 ** 31 - 1))
    n, s = df.select(F.count("*"), F.sum(h)).first()
    return int(n), int(s or 0)


class Suite:
    def __init__(self, spark, docs_path: str, emb_path: str, expected_funnel):
        self.spark = spark
        self.plans = _plans(spark, docs_path, emb_path)
        self.expected_funnel = tuple(expected_funnel)
        self.first: dict | None = None
        self.warm_errors: list[str] = []
        self.checks = {"curation_funnel_oracle": 0}

    def __call__(self, spans: dict | None = None):
        """(wall seconds, errors, {operator: result})."""
        sc = self.spark.sparkContext
        out = {}
        t0 = time.perf_counter()
        for name, plan in self.plans.items():
            if spans is not None:
                sc.setJobGroup(name, name)
            ts = time.perf_counter()
            out[name] = _force(name, plan())
            if spans is not None:
                spans[name] = time.perf_counter() - ts
        wall = time.perf_counter() - t0
        if spans is not None:
            sc.setJobGroup("trace.aux", "trace.aux")
        errs = []
        self.checks["curation_funnel_oracle"] += 1
        if out[OPERATORS[0]] != self.expected_funnel:
            errs.append(f"funnel {out[OPERATORS[0]]} != DuckDB {self.expected_funnel}")
        if self.first is None:
            self.first = out
        else:
            self.checks["pairs_repeat"] = self.checks.get("pairs_repeat", 0) + 1
            if out != self.first:
                errs.append(f"operator results {out} differ from first job {self.first}")
        return wall, errs, out


def _corpus(args, scale: int):
    """(documents path, embeddings path, rows, DuckDB funnel, gen seconds)
    for N_DOCS / scale documents and N_VECS / scale vectors."""
    t0 = time.perf_counter()
    n_docs, n_vecs = N_DOCS // scale, N_VECS // scale
    docs, emb = write_near_dup_corpus(n_docs, n_vecs, args.seed,
                                      os.path.join(WORK, "near_dup"))
    t_gen = time.perf_counter() - t0
    return docs, emb, n_docs + n_vecs, curation_funnel_oracle(docs), t_gen


def _warm(suite: Suite, jobs: int) -> float:
    t0 = time.perf_counter()
    for _ in range(jobs):
        _wall, errs, _out = suite()
        suite.warm_errors += errs
    return time.perf_counter() - t0


def run(args):
    with RssSampler() as rss:
        docs, emb, n_rows, expected, t_gen = _corpus(args, 5 if args.smoke else 1)
        spark, t_sess = start_spark("perfbench_near_dup")
        suite = Suite(spark, docs, emb, expected)
        parts = {"session": t_sess, "gen": t_gen,
                 "warm": _warm(suite, args.warmup_jobs)}
        walls, failed = closed_loop(args, suite)
        stop_spark(spark)
    return closed_loop_result("near_dup", walls, failed, n_rows, parts,
                              suite.checks, suite.warm_errors, rss.peak_mb)


def trace_leg(spark, args, scale: int):
    """The operator-suite leg of the traced run, in a session with the event
    log on: one job with each operator under its own job group, on the
    corpus at 1 / scale of its size. The suite's code paths are cold here
    (the JVM is not); one job leaves nothing for the repeat check, so only
    the funnel is checked. Returns (check errors, values, checks run)."""
    docs, emb, n_rows, expected, _t_gen = _corpus(args, scale)
    suite = Suite(spark, docs, emb, expected)
    spans: dict = {}
    wall_t, errs, out = suite(spans)
    values = {}
    for name in OPERATORS:
        values[f"{name}.s"] = spans[name]
        if name == OPERATORS[0]:
            values[f"{name}.rows"] = dict(out[name])["30_quality"]
        else:
            values[f"{name}.pairs"] = out[name][0]
    print(f"operator-suite leg ({n_rows} documents and vectors): traced job "
          f"{wall_t:.3f} s")
    for name in OPERATORS:
        print(f"    {name:<42} {spans[name]:8.3f} s")
    return errs, values, suite.checks
