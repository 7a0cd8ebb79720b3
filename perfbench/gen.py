"""Seeded input generator for the benchmark.

The base tables under ``perfbench/data/<sf>/`` are the fixed synthetic
TPC-H-ish star schema plus the ``events``, ``documents`` and ``embeddings``
tables the engine's correctness suite runs on. ``generate`` writes a copy
of one scale into a run directory:

- seed 0 copies every file verbatim;
- any other seed copies the relational tables and ``events`` verbatim and
  rewrites ``documents`` and ``embeddings`` with a structure-preserving
  transform:

  * tokens go through a seeded bijection over the vocabulary that maps each
    token to one of the same length, so ``n_chars`` stays equal to
    ``length(text)``; the stopwords and blocklist words the curation
    operators name literally are fixed points, so every filter still
    selects the same documents;
  * embeddings get a seeded per-dimension sign flip and dimension
    permutation.

  Token-set equality, Jaccard similarity, near-duplicate groups, token
  counts and cosine similarity are all unchanged; hash-bucket layouts and
  every token string are not.

The engine only ever sees the files this writes.
"""

from __future__ import annotations

import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data")
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
# Words the curation operators match literally (stopwords, blocklist, the
# planted-duplicate marker): left in place so filters keep their meaning.
FIXED_TOKENS = frozenset({"a", "the", "of", "and", "slow", "big", "dup"})


def token_bijection(vocab: set[str], rng: random.Random) -> dict[str, str]:
    """Seeded permutation of ``vocab`` within each token-length class."""
    by_len: dict[int, list[str]] = {}
    for tok in sorted(vocab - FIXED_TOKENS):
        by_len.setdefault(len(tok), []).append(tok)
    mapping = {tok: tok for tok in vocab & FIXED_TOKENS}
    for toks in by_len.values():
        shuffled = toks[:]
        rng.shuffle(shuffled)
        mapping.update(zip(toks, shuffled))
    return mapping


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _documents(src: str, dst: str, rng: random.Random) -> None:
    t = pq.read_table(src)
    texts = t.column("text").to_pylist()
    vocab = {tok for text in texts for tok in text.split(" ")}
    mapping = token_bijection(vocab, rng)
    mapped = [" ".join(mapping[tok] for tok in text.split(" ")) for text in texts]
    i = t.schema.get_field_index("text")
    _write(t.set_column(i, t.schema.field(i), pa.array(mapped, pa.string())), dst)


def _embeddings(src: str, dst: str, rng: random.Random) -> None:
    t = pq.read_table(src)
    vecs = t.column("embedding").to_pylist()
    dim = len(vecs[0])  # every embedding has the same dimension
    perm = list(range(dim))
    rng.shuffle(perm)
    sign = [rng.choice((-1.0, 1.0)) for _ in range(dim)]
    out = [[sign[j] * v[perm[j]] for j in range(dim)] for v in vecs]
    i = t.schema.get_field_index("embedding")
    field = t.schema.field(i)
    _write(t.set_column(i, field, pa.array(out, field.type)), dst)


def generate(seed: int, sf: str, out: str) -> str:
    """Write the seeded inputs for scale ``sf`` into ``out``; return ``out``."""
    src = os.path.join(DATA, sf)
    if not os.path.isdir(src):
        raise FileNotFoundError(f"no base data for scale {sf!r} at {src}")
    os.makedirs(out, exist_ok=True)
    rng = random.Random(seed)
    for name in TABLES:
        s = os.path.join(src, f"{name}.parquet")
        d = os.path.join(out, f"{name}.parquet")
        if seed == 0 or name not in ("documents", "embeddings"):
            shutil.copyfile(s, d)
        elif name == "documents":
            _documents(s, d, rng)
        else:
            _embeddings(s, d, rng)
    return out
