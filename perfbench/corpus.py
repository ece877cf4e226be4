"""Seeded ×N copy of a scale-factor directory with a larger corpus.

The corpus tables (``documents``, ``embeddings``) are replicated N times;
every other table is a symlink to the source file. Copy 0 is the source
rows unchanged. In copy ``c``:

- ids are offset by ``c * (max id + 1)``, so keys stay unique;
- every vocabulary word is renamed to a word no other copy uses, so the
  vocabulary grows with the corpus and near-duplicates never pair
  across copies;
- the 64 embedding dimensions go through a seeded signed permutation,
  which keeps every cosine within a copy exact while moving the copy
  to another region of the space.

Only numpy and pyarrow are used, so generation needs no Spark session.
"""

from __future__ import annotations

import os
import random
import shutil
import string

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_TABLES = ("documents", "embeddings")


def _rename_maps(vocab: list[str], copies: int, rng: random.Random) -> list[dict[str, str]]:
    """One word map per copy; copy 0 is the identity. Renamed words are
    lowercase letters only (the tokenizers split on anything else) and
    unique across the source vocabulary and every copy."""
    used = set(vocab)
    maps = [{w: w for w in vocab}]
    for _ in range(1, copies):
        m = {}
        for w in vocab:
            while True:
                new = "".join(rng.choice(string.ascii_lowercase) for _ in range(len(w) + 3))
                if new not in used:
                    break
            used.add(new)
            m[w] = new
        maps.append(m)
    return maps


def _documents(src: pa.Table, copies: int, rng: random.Random) -> pa.Table:
    texts = src.column("text").to_pylist()
    vocab = sorted({w for t in texts if t is not None for w in t.split(" ") if w})
    maps = _rename_maps(vocab, copies, rng)
    ids = src.column("doc_id").to_numpy()
    step = int(ids.max()) + 1
    parts = [src]
    for c in range(1, copies):
        m = maps[c]
        new_texts = [None if t is None else " ".join(m.get(w, w) for w in t.split(" ")) for t in texts]
        cols = {
            "doc_id": pa.array(ids + c * step, pa.int64()),
            "text": pa.array(new_texts, pa.string()),
            "lang": src.column("lang"),
            "source": src.column("source"),
            "n_chars": pa.array([None if t is None else len(t) for t in new_texts], pa.int64()),
        }
        parts.append(pa.table(cols, schema=src.schema))
    return pa.concat_tables(parts)


def _embeddings(src: pa.Table, copies: int, rng: random.Random) -> pa.Table:
    ids = src.column("vec_id").to_numpy()
    step = int(ids.max()) + 1
    emb = src.column("embedding")
    vecs = np.array(emb.to_pylist(), dtype=np.float32)
    dim = vecs.shape[1]
    value_type = emb.type.value_type
    parts = [src]
    for c in range(1, copies):
        perm = list(range(dim))
        rng.shuffle(perm)
        signs = np.array([rng.choice((-1.0, 1.0)) for _ in range(dim)], dtype=np.float32)
        moved = vecs[:, perm] * signs
        cols = {
            "vec_id": pa.array(ids + c * step, pa.int64()),
            "embedding": pa.array(list(moved), pa.list_(value_type)),
            "label": src.column("label"),
        }
        parts.append(pa.table(cols, schema=src.schema))
    return pa.concat_tables(parts)


def build(src_dir: str, out_dir: str, copies: int, seed: int) -> str:
    """Write the ×``copies`` directory at ``out_dir`` (replacing it) and
    return it. Same arguments, same bytes."""
    from streaming_data_lake_spark.catalog import TABLES, table_path

    rng = random.Random(seed)
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name in TABLES:
        src_path = os.path.abspath(table_path(src_dir, name))
        dst_path = table_path(tmp, name)
        if name not in CORPUS_TABLES:
            os.symlink(src_path, dst_path)
            continue
        src = pq.read_table(src_path)
        src = src.replace_schema_metadata(None)
        grow = _documents if name == "documents" else _embeddings
        pq.write_table(grow(src, copies, rng), dst_path, row_group_size=1 << 30)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)
    return out_dir
