"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

One plan per operator (plus, for jaccard, one size guard):
  - exact: one hash-groupBy; map-side combine makes the shuffle carry one row
    per distinct hash. O(n) scan, tiny shuffle.
  - n-gram Jaccard: exact pairwise similarity but only across pairs sharing a
    shingle. A bare scan of <= _JACCARD_INDEX_MAX_DOCS documents runs the
    broadcast CSR inverted-index kernel; anything else runs the shingle
    self-join, with a binding df cap applied by a df join + per-id re-size
    window. Superseded by MinHash at web scale.
  - MinHash+LSH: constant-size signature (k mins) per doc, banded into b
    buckets; candidate pairs only within equal (band, band_hash) — the
    standard web-dedup path (Broder '97; Leskovec et al., MMDS ch.3). Wide
    banding: signatures ride the band explode into one self-join. All
    hashing via xxhash64 JVM-side; no UDF.
  - SimHash: 64-bit near-dup fingerprint (Charikar '02) from 32 packed
    two-lane vote aggregates; single-chunk blocking into one exchange, then
    a per-bucket ±1 GEMM Hamming verify.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from openlogparse_spark.functions.cache import release_on_gc

# shuffle exchanges only: "Exchange hashpartitioning(...)", "Exchange
# rangepartitioning(...)", "Exchange RoundRobinPartitioning(...)",
# "Exchange SinglePartition" — but NOT BroadcastExchange, whose presence
# says nothing about the width of the probe side (a single-file scan joined
# to a broadcast dim is still one partition)
_SHUFFLE_EXCHANGE = re.compile(r"(?<!Broadcast)Exchange")


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup by content hash: per duplicate group keep min(id).

    Returns (id, fp, keep_id, is_dup)."""
    withfp = df.select(id_col, F.md5(F.col(text_col)).alias("fp"))
    keep = withfp.groupBy("fp").agg(F.min(id_col).alias("keep_id"))
    return (
        withfp.join(keep, "fp")
        .select(
            id_col, "fp", "keep_id",
            (F.col(id_col) != F.col("keep_id")).alias("is_dup"),
        )
    )


def _norm(text_col: str) -> F.Column:
    return F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")


def _widen(df: DataFrame) -> DataFrame:
    """Spread expansion-heavy ops across the cluster when the input arrives
    in too few splits (a 10 MB parquet file is ONE scan task, so the 30x
    shingle/token explode would run single-threaded). The tiny pre-explode
    shuffle is orders cheaper than serializing the expansion; inputs that
    already have enough splits pass through untouched.

    The partition-count probe (.rdd) runs ONLY on shuffle-free plans: under
    AQE, DataFrame.rdd materializes the adaptive plan — on a plan with
    exchanges that EXECUTES the upstream shuffle stages (see route/router
    auto-reshuffle for the measured cost). A plan that already shuffles is
    at least as wide as its last exchange and needs no widening."""
    plan = df._jdf.queryExecution().sparkPlan().toString()
    if _SHUFFLE_EXCHANGE.search(plan):
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, target // 2):
        return df.repartition(target)
    return df


def _cheap_count(df: DataFrame) -> int | None:
    """Row count IFF the plan is a bare scan (± filter/project): no shuffle,
    no generate, no join — then count() is one cheap column-less pass (and
    often footer-only). On a derived lineage return None: an eager count
    would execute the whole upstream plan outside any cache (the round-3
    advice trap), so callers must probe a persisted derivative instead."""
    plan = df._jdf.queryExecution().sparkPlan().toString()
    if _SHUFFLE_EXCHANGE.search(plan) or "Generate" in plan or "Join" in plan:
        return None
    return df.count()


def _shingle_sets(df: DataFrame, n: int, text_col: str, id_col: str) -> DataFrame:
    """(id, sh_arr): distinct word n-gram shingles per document as an array.

    Two bound stages on purpose: `toks` must be a REAL column before the gram
    lambda slices it — a captured expression is inlined and re-evaluated per
    gram position (the split+regex would run ~n_tokens times per doc; no CSE
    through transform lambdas)."""
    with_toks = df.select(
        F.col(id_col).alias("id"), F.split(_norm(text_col), " ").alias("__toks"))
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size("__toks") - n, F.lit(0))),
        lambda i: F.array_join(F.slice(F.col("__toks"), i + 1, n), " "),
    )
    return with_toks.select(
        "id",
        F.filter(F.array_distinct(grams), lambda s: F.length(s) > 0).alias("sh_arr"),
    )


def shingles(df: DataFrame, n: int = 3, text_col: str = "text",
             id_col: str = "doc_id") -> DataFrame:
    """Distinct word n-gram shingles per document: (id, shingle).

    explode_outer, NOT explode: InferFiltersFromGenerate adds a
    size(child)>0 filter under a non-outer Generate, and predicate pushdown
    then drags the ENTIRE shingle computation below the _widen exchange into
    the (single) scan task — the expensive generator child runs twice, once
    serially (measured ~4s serial at sf0.1 regardless of core count). The
    rule skips outer generates; dropping the empty-array NULL row afterwards
    is the same semantics at explode cost."""
    return _shingle_sets(df, n, text_col, id_col).select(
        "id", F.explode_outer("sh_arr").alias("shingle")
    ).filter(F.col("shingle").isNotNull())


# jaccard_pairs inverted-index kernel guard: the exact-pairwise operator is
# the documented small/medium-corpus path (minhash_lsh_pairs is the web-scale
# one), so up to this many documents the whole (doc, shingle) incidence —
# ~n_docs x ~50 rows of small ints after factorization — is collected once,
# broadcast as a CSR inverted index, and candidate counting runs as a per-doc
# posting-list merge in numpy. Above it (or on a derived lineage whose size
# is unknowable without an eager pass) the shingle self-join plan runs
# instead — no blind driver collects.
_JACCARD_INDEX_MAX_DOCS = 200_000


def _jaccard_index_pairs(sets: DataFrame, threshold: float,
                         max_shingle_df: int | None) -> DataFrame:
    """Exact jaccard pairs via a broadcast CSR inverted index.

    Replaces the shingle self-join + pair aggregation (measured at sf1.0:
    127M joined rows into a ~40M-group hash aggregate, 10-20 s) with: one
    collect of the factorized (doc, shingle) incidence (2.6M rows, ~40 MB),
    and a mapInPandas kernel where each task walks its documents' posting
    lists — Σ df(s)²/2 integer appends, the same asymptotic work as the join,
    at numpy speed and with NO pair shuffle at all (only above-threshold
    survivors leave the kernel). The df cap drops over-cap shingles from
    every document before sizes are taken — the same semantics as the join
    plan's df join + re-size window. The kernel emits integer (n_inter,
    sz_a, sz_b) with a conservative raw-ratio margin; the exact
    round(·,6) >= threshold filter runs JVM-side, so the output is
    bit-identical to the join plan."""
    import logging

    import numpy as np

    spark = sets.sparkSession
    pdf = sets.select("id", F.explode_outer("sh_arr").alias("shingle")).toPandas()
    # docs with empty sets surface as a NULL shingle row — they cannot pair
    null_mask = pdf["shingle"].notna()
    ids_all = pdf["id"].to_numpy(np.int64)
    import pandas as pd

    codes, _uniq = pd.factorize(pdf["shingle"][null_mask], sort=False)
    doc_codes, uniq_ids = pd.factorize(ids_all[null_mask.to_numpy()], sort=False)
    uniq_ids = np.asarray(uniq_ids, dtype=np.int64)
    # local doc index in ascending doc-id order so j > i  <=>  id_b > id_a
    order = np.argsort(uniq_ids, kind="stable")
    rank = np.empty_like(order)
    rank[order] = np.arange(len(order))
    ids_sorted = uniq_ids[order]
    d = rank[doc_codes].astype(np.int64)
    s = codes.astype(np.int64)
    n_sh = int(s.max()) + 1 if len(s) else 0
    if max_shingle_df is not None and n_sh:
        df_counts = np.bincount(s, minlength=n_sh)
        hot = df_counts > max_shingle_df
        if hot.any():
            logging.getLogger(__name__).warning(
                "jaccard_pairs: df cap %d drops %d distinct shingles",
                max_shingle_df, int(hot.sum()))
            keep = ~hot[s]
            d, s = d[keep], s[keep]
    n_docs = len(ids_sorted)
    sizes = np.bincount(d, minlength=n_docs).astype(np.int64)
    # postings: for each shingle, ascending doc indices
    po = np.lexsort((d, s))
    post_docs = d[po].astype(np.int32)
    post_off = np.concatenate(([0], np.cumsum(np.bincount(s[po], minlength=n_sh)))).astype(np.int64)
    # doc -> its shingle ids
    do = np.argsort(d, kind="stable")
    doc_sh = s[do].astype(np.int32)
    doc_off = np.concatenate(([0], np.cumsum(sizes))).astype(np.int64)
    bc = spark.sparkContext.broadcast(
        (ids_sorted, sizes, post_docs, post_off, doc_sh, doc_off))
    margin = threshold - 1e-6   # round(x,6) moves x by <= 5e-7 + ulp

    def kernel(batches):
        import pyarrow as pa

        idx = bc.value
        ids_s, sz, pdocs, poff, dsh, doff = idx
        out_a, out_b, out_i, out_sa, out_sb = [], [], [], [], []
        for bdf in batches:
            for i in bdf.column(0).to_numpy():
                lo, hi = doff[i], doff[i + 1]
                if hi == lo:
                    continue
                parts = []
                for sh_id in dsh[lo:hi]:
                    p0, p1 = poff[sh_id], poff[sh_id + 1]
                    seg = pdocs[p0:p1]
                    # only partners j > i (each pair counted once, by its
                    # smaller-id side)
                    k = np.searchsorted(seg, i, side="right")
                    if k < len(seg):
                        parts.append(seg[k:])
                if not parts:
                    continue
                cat = np.concatenate(parts)
                u, c = np.unique(cat, return_counts=True)
                raw = c / (sz[i] + sz[u] - c)
                keep = raw >= margin
                if not keep.any():
                    continue
                u, c = u[keep], c[keep]
                out_a.append(np.full(len(u), ids_s[i]))
                out_b.append(ids_s[u])
                out_i.append(c)
                out_sa.append(np.full(len(u), sz[i]))
                out_sb.append(sz[u])
        if out_a:
            yield pa.RecordBatch.from_arrays(
                [pa.array(np.concatenate(a).astype(np.int64, copy=False))
                 for a in (out_a, out_b, out_i, out_sa, out_sb)],
                ["id_a", "id_b", "n_inter", "sz_a", "sz_b"])

    par = max(8, spark.sparkContext.defaultParallelism * 2)
    docs_df = spark.range(n_docs).toDF("i").repartition(par)
    cand = docs_df.mapInArrow(
        kernel,
        schema="id_a long, id_b long, n_inter long, sz_a long, sz_b long")
    return (
        cand.withColumn(
            "jaccard",
            F.round(F.col("n_inter")
                    / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def jaccard_pairs(df: DataFrame, n: int = 3, threshold: float = 0.8,
                  text_col: str = "text", id_col: str = "doc_id",
                  max_shingle_df: int | None = 10_000) -> DataFrame:
    """Exact n-gram Jaccard over pairs sharing ≥1 shingle.

    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.

    Shape (one shuffle): per-doc shingle sets are built as arrays (set size
    comes free, no separate size aggregation), exploded once, self-joined on
    shingle with both sizes carried through the join, then one groupBy counts
    the intersection — no post-join size lookups.

    `max_shingle_df` is the web-scale guard rail: a shingle appearing in d
    documents contributes d·(d-1)/2 join pairs, so one boilerplate phrase in
    10⁶ docs is a 5·10¹¹-row blowup. With the cap set, shingles with document
    frequency > cap are dropped from EVERY document's set before sizes are
    taken (jaccard stays a true Jaccard over the capped shingle space — an
    approximation of the uncapped value, biased only for pairs whose overlap
    hides in ubiquitous shingles). SAFE BY DEFAULT: the cap defaults to 10k —
    a no-op on any corpus where exact pairwise Jaccard is a sane choice, a
    blowup guard everywhere else; pass None for the exact/uncapped semantics,
    or use minhash_lsh_pairs at web scale.

    A cap that can bind (more documents than the cap) is applied in the join
    plan by a document-frequency join plus a per-id count window that
    re-takes each set's size — correct at any number of over-cap shingles."""
    # document frequency is bounded by the document count, so the cap cannot
    # bind on a corpus with <= cap documents. Decide BEFORE building plans
    # when the input is a bare scan (one cheap column-less count): the
    # common small-corpus call then runs zero probe jobs. Derived inputs
    # fall through to a count of the persisted sets below (one job that
    # doubles as the cache warm-up), never an eager count of the raw lineage.
    n_docs = _cheap_count(df) if max_shingle_df is not None else None
    if n_docs is not None and n_docs <= max_shingle_df:
        max_shingle_df = None
    sets = _shingle_sets(_widen(df), n, text_col, id_col)
    if n_docs is not None and n_docs <= _JACCARD_INDEX_MAX_DOCS:
        # small/medium corpus with a knowable size: broadcast inverted-index
        # kernel — no self-join, no pair shuffle, no probe job, no persist.
        # Only reached for CAPPED builds on bare scans, which were already
        # eager at build time (the size count); the uncapped call keeps its
        # fully-lazy join plan (pinned by
        # test_jaccard_probe_goes_through_the_cache).
        return _jaccard_index_pairs(sets, threshold, max_shingle_df)
    # persist: BOTH sides of the self-join read this subtree — without it
    # the whole normalize+shingle expansion runs per consumer; measured 10x
    # wall at sf0.1
    sets = sets.persist()
    if (max_shingle_df is not None and n_docs is None
            and sets.count() <= max_shingle_df):
        max_shingle_df = None
    # explode_outer + null-drop: see shingles() — a plain explode's inferred
    # size()>0 filter would re-run the whole shingle build serially below
    # the widen exchange
    sh = sets.select("id", F.size("sh_arr").alias("sz"),
                     F.explode_outer("sh_arr").alias("shingle")
                     ).filter(F.col("shingle").isNotNull())
    if max_shingle_df is not None:
        dfreq = (sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
                 .filter(F.col("df") <= max_shingle_df))
        capped = sh.join(dfreq.select("shingle"), "shingle")
        w_sz = Window.partitionBy("id")
        sh = capped.withColumn("sz", F.count(F.lit(1)).over(w_sz))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                 F.col("a.sz").alias("sz_a"), F.col("b.sz").alias("sz_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    out = (
        inter.withColumn(
            "jaccard",
            F.round(F.col("n_inter")
                    / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    # cache lifetime = result lifetime (long-lived drivers would otherwise
    # leak one cached subtree per invocation); see functions/cache.py
    return release_on_gc(out, sets)


def dup_components(pairs: DataFrame, all_ids: DataFrame | None = None,
                   id_a: str = "id_a", id_b: str = "id_b",
                   max_iter: int = 25) -> DataFrame:
    """Connected components over near-dup pairs: (id, component) with
    component = min doc id reachable — the "keep one per duplicate cluster"
    step a training-data dedup pipeline runs AFTER pair generation (any of
    exact/jaccard/minhash/simhash/cosine pairs feed it; transitive closure
    matters because near-dup is not transitive: A~B, B~C chains must land in
    one cluster).

    Distributed shape: iterative min-label propagation with POINTER JUMPING
    (each round: c(u) <- min over self+neighbors of c, then c(u) <- c(c(u))),
    the Hash-to-Min style O(log n)-round scheme (Rastogi et al. 2013) —
    without the jump a k-long chain needs k rounds. Every round is two joins
    on the PAIR set (|pairs| << corpus at any sane threshold). Each round's
    result is localCheckpoint'ed: the round plan references its predecessor
    ~3x, so without LINEAGE TRUNCATION the logical plan grows exponentially
    and Catalyst re-analysis dominates (measured: a 21-node chain took 212s
    un-truncated, <10s truncated — caching alone does not cap plan growth).
    On a cluster, swap localCheckpoint for reliable checkpoint() if executor
    loss during the loop must be survivable. Convergence is detected via
    sum(c), which strictly decreases iff any label changed (labels are
    monotone non-increasing), so the driver-side loop runs one tiny agg per
    round — no collect of node data. An iterative algorithm needs the driver
    loop; that is the one place SURVEY §2 allows it.

    `all_ids` (a one-column DataFrame of doc ids): include singleton
    documents (no pairs) as their own component — the full-corpus contract a
    downstream keep-filter wants."""
    edges = (pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
             .union(pairs.select(F.col(id_b).alias("u"), F.col(id_a).alias("v"))))
    nodes = edges.select("u")
    if all_ids is not None:
        nodes = nodes.union(all_ids.toDF("u"))
    edges = edges.localCheckpoint()
    labels = nodes.distinct().select("u", F.col("u").alias("c")).localCheckpoint()
    prev_sum = None
    converged = False
    for _ in range(max_iter):
        # neighbor min: for v, the labels of every neighbor u (edges are
        # symmetric, so one direction of join covers both)
        nbr = edges.join(labels, "u").select(F.col("v").alias("u"), "c")
        # checkpointed: cand feeds both pointer-jump sides below
        cand = (labels.union(nbr).groupBy("u").agg(F.min("c").alias("c"))
                .localCheckpoint())
        # pointer jump: follow the label's own label one hop (c is always a
        # node id, so the self-join lookup is total; left join is belt+braces)
        lut = cand.select(F.col("u").alias("c"), F.col("c").alias("cc"))
        labels = (cand.join(lut, "c", "left")
                  .select("u", F.least("c", F.coalesce("cc", "c")).alias("c"))
                  .localCheckpoint())
        # superseded rounds' checkpoint caches are GC-swept by the
        # ContextCleaner once these rebindings drop the last reference
        cur = labels.agg(F.sum("c").alias("s")).collect()[0]["s"]
        if prev_sum is not None and cur == prev_sum:
            converged = True
            break
        prev_sum = cur
    if not converged:
        # a non-converged labeling is WRONG (some chain longer than the
        # round budget reaches) and would otherwise be indistinguishable
        # from a converged one — surface it (ADVICE r4)
        import warnings

        warnings.warn(
            f"dup_components: max_iter={max_iter} exhausted before the "
            "sum(c) fixpoint — component labels may be incomplete; raise "
            "max_iter (pointer jumping needs ~log2(longest chain) rounds)")
    return labels.select(F.col("u").alias("id"), F.col("c").alias("component"))


def minhash_signatures(df: DataFrame, num_hashes: int = 64, n: int = 3,
                       text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, sig array<long>): k independent min-hashes of the shingle set.

    Hash family: xxhash64(seed_i, shingle) — JVM intrinsic, no UDF; one
    explode + one groupBy (map-side combined mins)."""
    sh = shingles(_widen(df), n, text_col, id_col)
    mins = [
        F.min(F.xxhash64(F.lit(i), F.col("shingle"))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    sig = sh.groupBy("id").agg(*mins)
    return sig.select("id", F.array(*[f"h{i}" for i in range(num_hashes)]).alias("sig"))


def minhash_lsh_pairs(df: DataFrame, num_hashes: int = 64, bands: int = 16,
                      n: int = 3, threshold: float = 0.5,
                      text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Candidate near-dup pairs via banded LSH, then verified by estimated
    Jaccard (signature agreement). Returns (id_a, id_b, est_jaccard).

    Wide banding: signatures ride the banding explode and the single
    (band, bh) self-join produces (sig_a, sig_b) directly — no by-id
    join-backs and no second candidate dedup. At 16 bands the explode ships
    16 copies of the 512-byte signature per doc (~9 MB per 1k docs), which
    stays small until the corpus reaches the 100k+ document regime."""
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(df, num_hashes, n, text_col, id_col)
    # one persisted exploded banding feeds both self-join sides
    banded = sig.select(
        "sig", "id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.xxhash64(*[F.col("sig")[b * rows_per_band + r]
                                 for r in range(rows_per_band)]).alias("bh"),
                )
                for b in range(bands)
            ])
        ).alias("bb"),
    ).select("sig", "id", "bb.band", "bb.bh").persist()
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.bh") == F.col("b.bh"))
               & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                F.col("a.sig").alias("sig_a"), F.col("b.sig").alias("sig_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    est = F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                          lambda m: m)) / F.lit(float(num_hashes))
    out = (
        cand.withColumn("est_jaccard", F.round(est, 6))
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )
    return release_on_gc(out, banded)


def simhash(df: DataFrame, text_col: str = "text",
            id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash per document (token-level, unweighted).

    Pure column algebra: per-token xxhash64 → 64 conditional-sum bit votes in
    ONE groupBy (no per-bit explode: a (doc, bit) explode shuffles 64 rows
    per token; 64 agg expressions ship one partial row per doc per partition
    — map-side combined, 64x less shuffle). Sign fold happens after.

    The votes are PACKED two per 64-bit aggregate buffer: 32 sum aggregates
    with two 32-bit lanes each (per-doc token cap 2^31, i.e. unbounded in
    practice). Fewer, smaller agg buffers generate less codegen for the JVM
    to JIT: measured across 4 fresh sessions at sf0.1, cold cost 2.9-3.1 s
    vs 3.5-4.4 s for one buffer per bit, with identical steady-state cost
    (~2.0-2.2 s) and signature bits."""
    toks = _widen(df).select(
        F.col(id_col).alias("id"),
        # explode_outer: see shingles() — the inferred size()>0 filter of a
        # plain explode re-runs the normalize+split below the widen exchange
        F.explode_outer(F.split(_norm(text_col), " ")).alias("tok"),
    ).filter(F.length("tok") > 0)
    h = toks.select("id", F.xxhash64("tok").alias("h"))

    # vote b as a bit POPCOUNT, not a ±1 conditional sum: sum((h>>b)&1)
    # generates branch-free agg code (~25% faster on this 64-buffer agg,
    # which is big enough to strain codegen); the classic ±1 vote sum v
    # relates by v = 2*popcount - n, so "v > 0" below is "2*popcount > n" —
    # bit-exact with the Charikar formulation (pinned by the XXH64 value
    # oracle in tests/test_hash_oracle.py). shiftright on long is
    # arithmetic, so (h >> 63) & 1 still reads the sign bit correctly.
    def bit(b: int):
        return F.shiftright("h", b).bitwiseAND(F.lit(1))

    # buffer k holds the popcount of bit 2k in its low lane and of bit 2k+1
    # in its high lane; lanes cannot carry into each other below 2^32 tokens
    aggs = [F.sum(bit(2 * k) + F.shiftleft(bit(2 * k + 1), 32)).alias(f"s{k}")
            for k in range(32)]

    def v(b: int):
        k, j = divmod(b, 2)
        return (F.shiftrightunsigned(F.col(f"s{k}"), j * 32)
                .bitwiseAND(F.lit((1 << 32) - 1)))

    votes = h.groupBy("id").agg(F.count(F.lit(1)).alias("n"), *aggs)
    # sign fold as a FLAT array + interpreted HOF sum, not a 64-deep nested
    # Add tree: the deep tree costs ~1s of driver-side planning PER
    # INVOCATION (Catalyst walks it every analysis pass) plus a huge
    # first-run codegen compile; the flat form plans in ~0.14s and executes
    # identically (64 interpreted adds × n_docs rows is microseconds).
    terms = F.array(*[
        F.when(F.lit(2) * v(b) > F.col("n"),
               F.lit((1 << b) if b < 63 else -(1 << 63)).cast("long")
               ).otherwise(F.lit(0).cast("long"))
        for b in range(64)
    ])
    sig = F.aggregate(terms, F.lit(0).cast("long"), lambda acc, x: acc + x)
    return votes.select("id", sig.alias("simhash"))


def _make_simhash_verify_kernel(widths: list[int], offsets: list[int],
                                max_hamming: int):
    """Per-partition pairwise Hamming verify over (chunk, cv)-keyed blocks.

    Input rows: (id, simhash, chunk, cv), hash-partitioned so every key's
    rows share a partition. For each key the kernel runs a blockwise ±1
    GEMM over the bucket (the same candidate space a per-key JVM self-join
    would enumerate, at BLAS speed) and emits only pairs whose
    Hamming distance clears `max_hamming` AND whose CANONICAL blocking key
    is this bucket's key. The canonical key of a pair is its first agreeing
    chunk — by the pigeonhole bound every qualifying pair has one, and
    exactly one bucket owns it, so the global dropDuplicates (a shuffle of
    EVERY candidate row — ~1.1e9 at sf1.0) disappears entirely."""
    import numpy as np
    import pyarrow as pa

    offs = np.array(offsets, dtype=np.uint64)
    masks = np.array([(1 << w) - 1 for w in widths], dtype=np.uint64)
    # bounds the (block x bucket) score temp: 1024 x 16.5k float32 ≈ 68 MB
    block = 1024
    bit_cols = np.arange(64, dtype=np.uint64)[None, :]
    s_min = np.float32(64 - 2 * max_hamming)

    def kernel(batches):
        parts = list(batches)
        if not parts:
            return
        cols = [np.concatenate([rb.column(k).to_numpy() for rb in parts])
                if len(parts) > 1 else parts[0].column(k).to_numpy()
                for k in range(4)]
        ids = cols[0].astype(np.int64, copy=False)
        fp = cols[1].astype(np.int64, copy=False).view(np.uint64)
        chunk = cols[2].astype(np.int64, copy=False)
        cv = cols[3].astype(np.int64, copy=False)
        order = np.lexsort((cv, chunk))
        chunk_s, cv_s = chunk[order], cv[order]
        bounds = np.flatnonzero(
            (np.diff(chunk_s) != 0) | (np.diff(cv_s) != 0)) + 1
        starts = np.concatenate(([0], bounds))
        ends = np.concatenate((bounds, [len(order)]))
        out_a, out_b, out_h = [], [], []
        for lo, hi in zip(starts, ends):
            m = hi - lo
            if m < 2:
                continue
            sel = order[lo:hi]
            g_ids, g_fp = ids[sel], fp[sel]
            key = int(chunk_s[lo])
            # Hamming via a ±1 GEMM: unpack each fingerprint to a ±1 float32
            # row; dot(a,b) = 64 - 2*hamming, integer-valued in fp32
            # (|sums| <= 64 << 2^24), so the test is EXACT. Measured 46.9 s
            # single-core of SWAR popcount at sf1.0 (memory-bound: ~11
            # full-matrix passes) vs ~15 GFLOP/s BLAS — ~4x less kernel time.
            # Tiny buckets take the GEMM too: the kernel timed alone at
            # sf0.1 on a 4-core host (8 partitions, 5 reps) ran 0.20-0.24 s
            # vs 0.22-0.26 s with a SWAR path for buckets under 64 rows,
            # same 91,845 pairs.
            pm1 = np.where(
                ((g_fp[:, None] >> bit_cols) & np.uint64(1)).astype(bool),
                np.float32(1), np.float32(-1))
            for i0 in range(0, m, block):
                i1 = min(i0 + block, m)
                # upper triangle only: row i is compared against j > i, so
                # the block spans columns i0+1..
                S = pm1[i0:i1] @ pm1[i0 + 1:].T
                hit = S >= s_min
                # mask j <= i within the block's own triangle
                r = np.arange(i1 - i0)
                hit &= np.arange(i0 + 1, m)[None, :] > (i0 + r)[:, None]
                bi, bj = np.nonzero(hit)
                if not len(bi):
                    continue
                gi, gj = i0 + bi, i0 + 1 + bj
                x = g_fp[gi] ^ g_fp[gj]
                # canonical check: the pair agrees on this bucket's chunk by
                # construction; it is canonical iff NO earlier chunk agrees
                keep = np.ones(len(gi), dtype=bool)
                for c in range(key):
                    keep &= ((x >> offs[c]) & masks[c]) != 0
                if not keep.any():
                    continue
                ia, ib = g_ids[gi[keep]], g_ids[gj[keep]]
                out_a.append(np.minimum(ia, ib))
                out_b.append(np.maximum(ia, ib))
                ham = (64.0 - S[bi[keep], bj[keep]]) * 0.5
                out_h.append(ham.astype(np.int32))
        if out_a:
            yield pa.RecordBatch.from_arrays(
                [pa.array(np.concatenate(out_a)),
                 pa.array(np.concatenate(out_b)),
                 pa.array(np.concatenate(out_h))],
                ["id_a", "id_b", "hamming"])

    return kernel


def simhash_near_pairs(df: DataFrame, max_hamming: int = 3,
                       text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Near-dup candidates: block on simhash bit-chunks, verify exact Hamming.

    Pigeonhole recall guarantee: a pair within Hamming distance h differs in
    at most h chunks, so with h + 1 chunks it MUST agree on at least one of
    them — single-chunk blocking is lossless at the requested distance.

    WIDE blocking on purpose: the fingerprint is ONE long — 8 bytes riding
    the chunk explode, (h+1) x 8 B/doc. An id-only (id, chunk, cv) shape would
    save those bytes but pay two extra by-id join-back shuffles for the
    Hamming verify; the payload never dominates at any corpus size."""
    s = simhash(df, text_col, id_col)
    chunks = max_hamming + 1
    base, rem = divmod(64, chunks)
    widths = [base + 1 if c < rem else base for c in range(chunks)]
    offsets = [sum(widths[:c]) for c in range(chunks)]

    def cv(c):
        return (F.shiftright("simhash", offsets[c])
                .bitwiseAND(F.lit((1 << widths[c]) - 1)))

    entries = [
        F.struct(F.lit(c).alias("chunk"), cv(c).cast("long").alias("cv"))
        for c in range(chunks)
    ]
    # ONE exchange: hash-partition the exploded blocking rows by key so each
    # bucket's pairwise verify runs in a single task's vectorized kernel.
    # The previous shape — a per-key JVM self-join + a global dropDuplicates
    # over every candidate row — shuffled the full candidate set (measured
    # 1.09e9 joined rows at sf1.0, max bucket 16,500 docs: skewed fingerprint
    # bits make blocking keys collide far above the uniform estimate, and
    # AQE cannot split a single hot key). The kernel does the identical
    # per-bucket O(m²) Hamming work as a blockwise GEMM (batch-vectorized
    # native code beats row-at-a-time join evaluation ~100x) and its
    # canonical-key emission makes the dedup shuffle
    # unnecessary (each pair emitted by exactly one bucket).
    chunked = s.select(
        "id", "simhash",
        F.explode(F.array(*entries)).alias("ch"),
    ).select("id", "simhash", "ch.chunk", "ch.cv")
    n_part = max(8, df.sparkSession.sparkContext.defaultParallelism * 2)
    kernel = _make_simhash_verify_kernel(widths, offsets, max_hamming)
    return (chunked.repartition(n_part, "chunk", "cv")
            .mapInArrow(kernel, schema="id_a long, id_b long, hamming int"))
