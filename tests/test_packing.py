"""Sequence packing: fixed-length training blocks from tokenized docs."""
import pytest

from pyspark.sql import functions as F

from aml_entity_resolution_assignment_spark.operators.packing import (
    pack_sequences,
)


def _py_pack(docs, L, eos=None, drop_last=True):
    """Pure-Python reference: concat in id order, cut every L."""
    stream = []
    for _, toks in sorted(docs):
        toks = list(toks) + ([eos] if eos is not None else [])
        stream.extend(toks)
    blocks = {}
    for b in range(0, len(stream), L):
        chunk = stream[b : b + L]
        if drop_last and len(chunk) < L:
            continue
        blocks[b // L] = chunk
    return blocks


def _df(spark, docs, typ="string"):
    return spark.createDataFrame(
        [(i, list(t)) for i, t in docs], f"doc_id long, tokens array<{typ}>"
    )


DOCS = [
    (3, ["d", "e", "f", "g"]),
    (1, ["a", "b"]),
    (7, ["h"]),
    (2, ["c"]),
    (9, ["i", "j", "k", "l", "m", "n"]),
]


@pytest.mark.parametrize("L,eos", [(4, None), (4, "<eos>"), (3, None), (5, "E")])
def test_pack_matches_python_reference(spark, L, eos):
    got = {
        r["block_id"]: r["tokens"]
        for r in pack_sequences(_df(spark, DOCS), L, eos=eos).collect()
    }
    assert got == _py_pack(DOCS, L, eos=eos)


def test_pack_drop_last_false_keeps_tail(spark):
    got = {
        r["block_id"]: r["tokens"]
        for r in pack_sequences(_df(spark, DOCS), 4, drop_last=False).collect()
    }
    expected = _py_pack(DOCS, 4, drop_last=False)
    assert got == expected
    assert len(got[max(got)]) < 4  # the tail block really is partial


def test_pack_doc_spanning_multiple_blocks(spark):
    docs = [(1, [str(i) for i in range(10)])]  # one doc, 10 tokens, L=3
    got = {
        r["block_id"]: r["tokens"]
        for r in pack_sequences(_df(spark, docs), 3).collect()
    }
    assert got == {0: ["0", "1", "2"], 1: ["3", "4", "5"], 2: ["6", "7", "8"]}


def test_pack_empty_docs(spark):
    docs = [(1, ["a"]), (2, []), (3, ["b", "c"])]
    # without eos an empty doc contributes nothing
    got = {
        r["block_id"]: r["tokens"]
        for r in pack_sequences(_df(spark, docs), 3).collect()
    }
    assert got == {0: ["a", "b", "c"]}
    # with eos it still marks a document boundary
    got = {
        r["block_id"]: r["tokens"]
        for r in pack_sequences(_df(spark, docs), 3, eos="E").collect()
    }
    assert got == {0: ["a", "E", "E"], 1: ["b", "c", "E"]}


def test_pack_partitioning_invariant(spark):
    docs = [(i, [f"t{i}_{j}" for j in range(1 + i % 7)]) for i in range(200)]
    d = _df(spark, docs)
    r1 = {
        r["block_id"]: r["tokens"]
        for r in pack_sequences(d.repartition(1), 16).collect()
    }
    r8 = {
        r["block_id"]: r["tokens"]
        for r in pack_sequences(d.repartition(8), 16).collect()
    }
    assert r1 == r8 == _py_pack(docs, 16)


def test_pack_int_token_ids(spark):
    """BPE-shaped input: integer token ids, eos id appended per doc."""
    docs = [(1, [5, 6, 7]), (2, [8]), (3, [9, 10, 11, 12])]
    got = {
        r["block_id"]: r["tokens"]
        for r in pack_sequences(_df(spark, docs, "int"), 4, eos=0).collect()
    }
    assert got == _py_pack(docs, 4, eos=0)
    assert all(isinstance(t, int) for ts in got.values() for t in ts)


def test_pack_rejects_bad_block_size(spark):
    with pytest.raises(ValueError):
        pack_sequences(_df(spark, DOCS), 0)


class TestChunkDocuments:
    def _run(self, spark, texts, chunk=8, stride=4):
        from aml_entity_resolution_assignment_spark.operators.packing import (
            chunk_documents,
        )

        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        return (
            chunk_documents(df, chunk_tokens=chunk, stride=stride)
            .orderBy("doc_id", "chunk_id")
            .collect()
        )

    def test_overlap_and_tail_truncation(self, spark):
        words = [f"w{i}" for i in range(10)]
        rows = self._run(spark, [" ".join(words)], chunk=8, stride=4)
        # starts 0 and 4; start 8 suppressed (chunk [4,10) reached end)
        assert [(r["chunk_start"], r["n_chunk_tokens"]) for r in rows] == [
            (0, 8),
            (4, 6),
        ]
        assert rows[0]["chunk_text"] == " ".join(words[0:8])
        assert rows[1]["chunk_text"] == " ".join(words[4:10])
        assert [r["chunk_id"] for r in rows] == [0, 1]

    def test_every_token_covered_and_overlap_exact(self, spark):
        words = [f"t{i}" for i in range(50)]
        rows = self._run(spark, [" ".join(words)], chunk=16, stride=12)
        covered = set()
        for r in rows:
            s, n = r["chunk_start"], r["n_chunk_tokens"]
            assert r["chunk_text"] == " ".join(words[s : s + n])
            covered.update(range(s, s + n))
        assert covered == set(range(50))

    def test_short_doc_single_chunk(self, spark):
        rows = self._run(spark, ["a b c"], chunk=8, stride=4)
        assert len(rows) == 1
        assert rows[0]["n_chunk_tokens"] == 3
        assert rows[0]["chunk_text"] == "a b c"

    def test_empty_docs_produce_no_chunks(self, spark):
        rows = self._run(spark, ["", "   ", "x y"], chunk=4, stride=4)
        assert [r["doc_id"] for r in rows] == [2]

    def test_no_overlap_when_stride_equals_chunk(self, spark):
        words = [f"t{i}" for i in range(12)]
        rows = self._run(spark, [" ".join(words)], chunk=4, stride=4)
        assert [(r["chunk_start"], r["n_chunk_tokens"]) for r in rows] == [
            (0, 4),
            (4, 4),
            (8, 4),
        ]

    def test_bad_stride_raises(self, spark):
        import pytest as _pytest

        from aml_entity_resolution_assignment_spark.operators.packing import (
            chunk_documents,
        )

        df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
        with _pytest.raises(ValueError):
            chunk_documents(df, chunk_tokens=4, stride=5)
        with _pytest.raises(ValueError):
            chunk_documents(df, chunk_tokens=4, stride=0)


class TestShardByTokens:
    def test_balanced_and_deterministic(self, spark):
        from aml_entity_resolution_assignment_spark.operators.packing import (
            shard_by_tokens,
        )

        # docs of wildly varying length: row-count bucketing would skew
        rows = [(i, " ".join(["w"] * ((i * 37) % 100 + 1))) for i in range(200)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = shard_by_tokens(df, tokens_per_shard=500).collect()
        by_doc = {r["doc_id"]: r for r in out}
        # offsets are the exclusive running sum in doc_id order
        acc = 0
        for i in range(200):
            r = by_doc[i]
            assert r["token_start"] == acc
            assert r["shard_id"] == acc // 500
            acc += r["n_tokens"]
        # every shard except the last holds >= 500 - (max doc) tokens
        # and <= 500 + (max doc) tokens: whole docs never split
        tot = {}
        for r in out:
            tot[r["shard_id"]] = tot.get(r["shard_id"], 0) + r["n_tokens"]
        last = max(tot)
        for sid, n in tot.items():
            if sid != last:
                assert 400 <= n <= 600, (sid, n)

    def test_partitioning_invariant(self, spark):
        from aml_entity_resolution_assignment_spark.operators.packing import (
            shard_by_tokens,
        )

        rows = [(i, " ".join(["w"] * (i % 7 + 1))) for i in range(100)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        a = sorted(
            (r["doc_id"], r["token_start"], r["shard_id"])
            for r in shard_by_tokens(df.repartition(1), tokens_per_shard=50).collect()
        )
        b = sorted(
            (r["doc_id"], r["token_start"], r["shard_id"])
            for r in shard_by_tokens(df.repartition(8), tokens_per_shard=50).collect()
        )
        assert a == b
