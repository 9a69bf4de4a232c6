"""Unigram-LM tokenizer seed pass (operators/unigram.py): the substring
counts match a plain Python count."""

from __future__ import annotations

from collections import defaultdict

from modal_vector_db_spark.operators.unigram import substring_frequencies


def test_substring_frequencies_matches_python(spark):
    wf = spark.createDataFrame(
        [("abca", 3), ("bc", 5), ("a", 2)], "word string, freq long"
    )
    got = {
        r["piece"]: r["freq"]
        for r in substring_frequencies(wf, max_piece_len=3, min_piece_len=1).collect()
    }
    want = defaultdict(int)
    for w, f in [("abca", 3), ("bc", 5), ("a", 2)]:
        for l in range(1, 4):
            for s in range(len(w) - l + 1):
                want[w[s : s + l]] += f
    assert got == dict(want)
