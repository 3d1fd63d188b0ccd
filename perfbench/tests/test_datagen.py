"""The generated corpus has the shape measured on the sf0.1 test data
and depends only on the seed."""

from collections import Counter

import pyarrow.compute as pc

from perfbench import datagen


def test_same_seed_same_tables():
    a, b = datagen.tables(3), datagen.tables(3)
    assert all(a[name].equals(b[name]) for name in a)
    assert not a["documents"].equals(datagen.tables(4)["documents"])


def test_documents_shape():
    docs = datagen.tables(1)["documents"].to_pydict()
    texts = docs["text"]
    assert len(texts) == 5000
    near = [t for t in texts if t.endswith(" dup")]
    assert len(near) == datagen.NEAR_DUPS
    words = [len(t.split()) for t in texts if not t.endswith(" dup")]
    assert (min(words), max(words)) == datagen.WORDS
    # exact duplicates come only from two near duplicates of one text
    dups = [t for t, n in Counter(texts).items() if n > 1]
    assert dups and all(t.endswith(" dup") for t in dups)
    # one vocabulary for every language, without " and " or " of "
    assert {w for t in texts for w in t.split()} == set(datagen.VOCAB) | {
        "dup"}
    share = Counter(docs["lang"])["en"] / len(texts)
    assert 0.39 < share < 0.43
    assert docs["source"][:21] == [f"src{i % 20}" for i in range(21)]
    assert docs["n_chars"] == [len(t) for t in texts]


def test_embeddings_are_unit_vectors():
    emb = datagen.tables(1)["embeddings"]
    assert emb.num_rows == 2000
    lengths = pc.list_value_length(emb["embedding"])
    assert pc.min(lengths).as_py() == pc.max(lengths).as_py() == 64
    vecs = emb["embedding"].to_pylist()
    assert all(abs(sum(x * x for x in v) - 1.0) < 1e-5 for v in vecs[:50])
