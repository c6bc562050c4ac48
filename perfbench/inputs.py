"""Seeded workload inputs. The same seed gives the same bytes.

The program under test only ever sees the files written here: transcripts
and dimension tables from ``fixtures.transcripts``, pre-framed stream
segments cut from the same generator, and a near-duplicate document and
embedding corpus generated below.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq


def _micros(df: pd.DataFrame) -> pd.DataFrame:
    df = df.copy()
    for c in df.columns:   # Spark cannot read TIMESTAMP(NANOS) parquet
        if str(df[c].dtype).startswith("datetime64[ns"):
            df[c] = df[c].astype("datetime64[us]")
    return df


def _to_parquet(df: pd.DataFrame, path: str) -> None:
    _micros(df).to_parquet(path, index=False, row_group_size=65536)


def write_dims(out_dir: str) -> None:
    from openlogparse_spark.fixtures.transcripts import generate_dims

    os.makedirs(out_dir, exist_ok=True)
    for name, df in generate_dims().items():
        _to_parquet(df, os.path.join(out_dir, f"{name}.parquet"))


def write_transcripts(n_rows: int, seed: int, out_dir: str) -> tuple[str, str, int]:
    """Raw transcripts, their merged (logical) form and the dimension
    tables. Returns (raw path, logical path, raw row count); the logical
    table is what ``merge_row_pieces`` must reconstruct and is read only by
    the output checks."""
    from openlogparse_spark.fixtures.transcripts import generate_transcripts

    os.makedirs(out_dir, exist_ok=True)
    gen = generate_transcripts(n_rows, seed)
    raw = os.path.join(out_dir, "transcripts.parquet")
    logical = os.path.join(out_dir, "logical.parquet")
    _to_parquet(gen["transcripts"], raw)
    _to_parquet(gen["transcripts_logical"], logical)
    write_dims(out_dir)
    return raw, logical, len(gen["transcripts"])


def write_segments(n_files: int, rows_per_file: int, seed: int,
                   out_dir: str) -> list[str]:
    """Pre-framed stream segments: the generator's logical rows in
    event-time order, cut into equal files (so no row arrives behind the
    watermark). Files are written here and later moved into the stream's
    input directory one at a time."""
    from openlogparse_spark.fixtures.transcripts import generate_transcripts

    os.makedirs(out_dir, exist_ok=True)
    need = n_files * rows_per_file
    # ask for a margin: the generator's row count only approximates n_rows
    logical = generate_transcripts(need + need // 5, seed)["transcripts_logical"]
    if len(logical) < need:
        raise ValueError(f"generator gave {len(logical)} rows, need {need}")
    logical = logical.sort_values(["ts", "conv_id", "turn_idx"],
                                  kind="stable").head(need)
    # one schema for every file: a segment whose nullable column is all
    # NULL would otherwise be written with a null type Spark cannot read
    table = pa.Table.from_pandas(_micros(logical), preserve_index=False)
    paths = []
    for k in range(n_files):
        p = os.path.join(out_dir, f"seg-{k:05d}.parquet")
        pq.write_table(table.slice(k * rows_per_file, rows_per_file), p)
        paths.append(p)
    return paths


VOCAB = ("a the data spark stream batch line row column table key value scan "
         "sort hash join group agg filter window merge query order part vector "
         "fast slow big small customer log parse route sink template drain "
         "shard").split()


def write_near_dup_corpus(n_docs: int, n_vecs: int, seed: int,
                          out_dir: str) -> tuple[str, str]:
    """Documents (doc_id, text, lang, source, n_chars) over a Zipf-weighted
    vocabulary where ~8% are exact copies and ~15% are token-edited copies
    of earlier documents, and clustered 64-d embeddings (vec_id, embedding,
    label) — the shapes of the operator suite's driver tables."""
    rng = np.random.default_rng(seed)
    w = 1.0 / np.arange(1, len(VOCAB) + 1)
    w /= w.sum()
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.08:
            texts.append(texts[rng.integers(0, i)])
        elif i > 10 and r < 0.23:
            toks = texts[rng.integers(0, i)].split(" ")
            edit = rng.random(len(toks)) < 0.1
            repl = vocab[rng.choice(len(VOCAB), len(toks), p=w)]
            texts.append(" ".join(np.where(edit, repl, toks)))
        else:
            n_tok = int(rng.integers(8, 90))
            texts.append(" ".join(vocab[rng.choice(len(VOCAB), n_tok, p=w)]))
    docs = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "zh", "es", "fr", "de"], n_docs,
                           p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(n_docs)],
    })
    docs["n_chars"] = docs["text"].str.len().astype(np.int64)
    centers = rng.normal(size=(10, 64))
    label = rng.integers(0, 10, n_vecs)
    vecs = (0.5 * centers[label] + rng.normal(size=(n_vecs, 64))).astype(np.float32)
    emb = pd.DataFrame({"vec_id": np.arange(n_vecs, dtype=np.int64),
                        "embedding": list(vecs),
                        "label": label.astype(np.int32)})
    os.makedirs(out_dir, exist_ok=True)
    dpath = os.path.join(out_dir, "documents.parquet")
    epath = os.path.join(out_dir, "embeddings.parquet")
    docs.to_parquet(dpath, index=False)
    emb.to_parquet(epath, index=False)
    return dpath, epath
