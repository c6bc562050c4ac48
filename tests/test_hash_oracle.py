"""Independent hash-level oracles for the xxhash64-family operators.

The driver's DuckDB gate cannot check minhash/simhash (DuckDB has no
xxhash64), so those CORRECTNESS rows are rows-only. These tests close that
gap from the other side: a pure-python XXH64 (public spec, bit-exact with
Spark — see xxh64_ref.py) recomputes the signatures end-to-end, so the
hash VALUES — not just downstream behavior — are pinned.
"""

import os
import re

import pyspark.sql.functions as F

from openlogparse_spark.functions.dedup import minhash_signatures, simhash
from tests.xxh64_ref import spark_xxhash64_int_str, spark_xxhash64_str


def _norm_py(text: str) -> str:
    return re.sub(r"\s+", " ", text.strip().lower())


def _shingles_py(text: str, n: int = 3) -> set[str]:
    toks = _norm_py(text).split(" ")
    out = {" ".join(toks[i:i + n]) for i in range(max(len(toks) - n, 0) + 1)}
    return {s for s in out if s}


def test_minhash_signatures_match_pure_python(spark, fx_dir):
    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .limit(40))
    pdf = docs.toPandas()
    got = {r["id"]: list(r["sig"])
           for r in minhash_signatures(docs, num_hashes=16).collect()}
    for _, row in pdf.iterrows():
        sh = _shingles_py(row["text"])
        exp = [min(spark_xxhash64_int_str(i, s) for s in sh) for i in range(16)]
        assert got[row["doc_id"]] == exp, row["doc_id"]


def _simhash_py(text: str) -> int | None:
    toks = [t for t in _norm_py(text).split(" ") if t]
    if not toks:
        return None   # no tokens: no vote row, the document has no simhash
    votes = [0] * 64
    for tok in toks:
        h = spark_xxhash64_str(tok) & ((1 << 64) - 1)
        for b in range(64):
            votes[b] += 1 if (h >> b) & 1 else -1
    exp = sum((1 << b) for b in range(64) if votes[b] > 0)
    return exp - (1 << 64) if exp >= (1 << 63) else exp


def test_simhash_matches_pure_python(spark):
    """Hand-written edge rows plus the 40-document real-text slice the
    minhash oracle reads: pins the packed two-lane vote layout bit for bit."""
    rows = [(0, "the quick brown fox"), (1, "pack my box with five dozen jugs"),
            (2, "a b a b repeated tokens a b"), (3, "single")]
    hand = spark.createDataFrame(rows, "doc_id long, text string")
    real = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .limit(40))
    for df, n_docs in ((hand, 4), (real, 40)):
        pdf = df.toPandas()
        got = {r["id"]: r["simhash"] for r in simhash(df).collect()}
        assert len(pdf) == n_docs
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            assert got.get(doc_id) == _simhash_py(text), doc_id


def test_lsh_bucket_hash_matches_pure_python(spark):
    """hyperplane signature plane components derive from
    xxhash64(seed, tbl, plane, dim) — int32 chain, verified bit-exact."""
    df = spark.range(1).select(
        F.xxhash64(F.lit(42), F.lit(3), F.lit(2), F.lit(7)).alias("h"))
    got = df.first()["h"]
    from tests.xxh64_ref import signed, xxh64_int32

    h = 42
    for v in (42, 3, 2, 7):
        h = xxh64_int32(v, h)
    assert got == signed(h)
