"""The seeded input generator: reproducible, structure-preserving, and the
identity at seed 0."""

from __future__ import annotations

import collections
import hashlib
import os

import numpy as np
import pyarrow.parquet as pq
import pytest

from perfbench.gen import DATA, FIXED_TOKENS, TABLES, generate

SF = "sf0.01"


def _sha(path: str) -> str:
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


@pytest.fixture(scope="module")
def dirs(tmp_path_factory):
    root = tmp_path_factory.mktemp("gen")
    return {
        "s0": generate(0, SF, str(root / "s0")),
        "s7a": generate(7, SF, str(root / "s7a")),
        "s7b": generate(7, SF, str(root / "s7b")),
        "s8": generate(8, SF, str(root / "s8")),
    }


def _docs(d):
    return pq.read_table(os.path.join(d, "documents.parquet")).to_pylist()


def _vecs(d):
    t = pq.read_table(os.path.join(d, "embeddings.parquet"))
    return np.array(t.column("embedding").to_pylist(), dtype=np.float64)


def test_same_seed_byte_identical(dirs):
    for t in TABLES:
        assert _sha(f"{dirs['s7a']}/{t}.parquet") == _sha(f"{dirs['s7b']}/{t}.parquet"), t


def test_seed_zero_is_the_base_data(dirs):
    sums = {}
    with open(os.path.join(DATA, "SHA256SUMS")) as fh:
        for line in fh:
            digest, rel = line.split()
            sums[rel] = digest
    for t in TABLES:
        assert _sha(f"{dirs['s0']}/{t}.parquet") == sums[f"{SF}/{t}.parquet"], t


@pytest.mark.skipif(not os.environ.get("MFDB_TEST_SF_DIR"), reason="no external fixture dir")
def test_seed_zero_matches_external_fixture(dirs):
    """With MFDB_TEST_SF_DIR pointing at the engine's sf0.01 fixtures, the
    committed base data is byte-identical to them."""
    ext = os.environ["MFDB_TEST_SF_DIR"]
    if os.path.basename(os.path.normpath(ext)) != SF:
        pytest.skip(f"{ext} is not an {SF} fixture dir")
    for t in TABLES:
        assert _sha(f"{dirs['s0']}/{t}.parquet") == _sha(f"{ext}/{t}.parquet"), t


def test_other_seed_changes_only_documents_and_embeddings(dirs):
    for t in TABLES:
        same = _sha(f"{dirs['s0']}/{t}.parquet") == _sha(f"{dirs['s7a']}/{t}.parquet")
        assert same == (t not in ("documents", "embeddings")), t
    assert _sha(f"{dirs['s7a']}/documents.parquet") != _sha(f"{dirs['s8']}/documents.parquet")


def _group_sizes(docs):
    groups = collections.Counter((d["lang"], frozenset(d["text"].split(" "))) for d in docs)
    return sorted(groups.values())


def test_documents_keep_structure(dirs):
    base, moved = _docs(dirs["s0"]), _docs(dirs["s7a"])
    assert [d["doc_id"] for d in base] == [d["doc_id"] for d in moved]
    assert sum(a["text"] != b["text"] for a, b in zip(base, moved)) > len(base) // 2
    for a, b in zip(base, moved):
        ta, tb = a["text"].split(" "), b["text"].split(" ")
        assert len(ta) == len(tb)
        assert b["n_chars"] == len(b["text"]) == len(a["text"])
        assert [t for t in ta if t in FIXED_TOKENS] == [t for t in tb if t in FIXED_TOKENS]
        assert sorted(collections.Counter(ta).values()) == sorted(collections.Counter(tb).values())
    assert _group_sizes(base) == _group_sizes(moved)
    # pairwise Jaccard over the first 60 documents is unchanged
    sa = [set(d["text"].split(" ")) for d in base[:60]]
    sb = [set(d["text"].split(" ")) for d in moved[:60]]
    for i in range(60):
        for j in range(i):
            ja = len(sa[i] & sa[j]) / len(sa[i] | sa[j])
            jb = len(sb[i] & sb[j]) / len(sb[i] | sb[j])
            assert ja == jb


def test_embeddings_keep_cosine(dirs):
    a, b = _vecs(dirs["s0"]), _vecs(dirs["s7a"])
    assert a.shape == b.shape
    assert not np.allclose(a, b)
    na = a / np.linalg.norm(a, axis=1, keepdims=True)
    nb = b / np.linalg.norm(b, axis=1, keepdims=True)
    np.testing.assert_allclose(na @ na.T, nb @ nb.T, atol=1e-9)
    # float32 values are moved, never rounded
    assert sorted(np.abs(a).ravel()) == sorted(np.abs(b).ravel())
