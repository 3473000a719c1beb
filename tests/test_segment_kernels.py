"""The dedup segment kernels read a partition batch by batch: a segment
cut by a batch boundary is carried into the next batch, so the output
must not depend on where the batches are cut. The pure-numpy tests
feed the ``mapInPandas`` generators directly (no Spark session); the
last test cuts real Arrow batches to 3 rows inside Spark."""

from collections import Counter

import numpy as np
import pandas as pd
import pytest

from dbus_spark.operators import dedup as D


def _run(gen, batches):
    """Every output row of ``gen`` over ``batches``, as a multiset."""
    rows = Counter()
    for out in gen(iter(batches)):
        rows.update(map(tuple, out.itertuples(index=False)))
    return rows


def _cuttings(df, seed=0):
    """The same sorted stream cut into batches every way that matters:
    one frame; two frames at every boundary (including an empty first
    or last frame); single rows with an empty frame between each; and
    seeded random cuts into frames of 0-4 rows."""
    n = len(df)
    yield [df]
    for i in range(n + 1):
        yield [df.iloc[:i], df.iloc[i:]]
    ones = [df.iloc[:0]]
    for i in range(n):
        ones += [df.iloc[i : i + 1], df.iloc[:0]]
    yield ones
    rng = np.random.default_rng(seed)
    for _ in range(20):
        cuts, i = [], 0
        while i < n:
            k = int(rng.integers(0, 5))
            cuts.append(df.iloc[i : i + k])
            i += k
        yield cuts


def _keyed_stream():
    """(fp, doc_id) rows sorted on fp. Key 7 is a segment of length 4
    (= max_df + 1 below) whose docs, 100-103, have no other key; every
    other segment has 1-3 rows."""
    rng = np.random.default_rng(3)
    keys, ids = [], []
    for key in range(12):
        if key == 7:
            keys += [key] * 4
            ids += [100, 101, 102, 103]
            continue
        m = int(rng.integers(1, 4))
        keys += [key] * m
        ids += sorted(rng.choice(40, size=m, replace=False).tolist())
    return pd.DataFrame({"fp": keys, "doc_id": ids}).astype("int64")


def _segment_reference(df, max_df, emit_self):
    rows = Counter()
    for _, g in df.groupby("fp"):
        ids = g["doc_id"].tolist()
        if max_df is not None and len(ids) > max_df:
            continue
        if emit_self:
            rows.update((i, i) for i in ids)
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                a, b = ids[x], ids[y]
                rows[(min(a, b), max(a, b))] += 1
    return rows


@pytest.mark.parametrize(
    "max_df,emit_self", [(None, False), (3, True), (3, False)]
)
def test_segment_pairs_independent_of_batch_cuts(max_df, emit_self):
    df = _keyed_stream()
    expect = _segment_reference(df, max_df, emit_self)
    assert expect  # the stream pairs up
    for batches in _cuttings(df):
        gen = D._segment_pair_gen("fp", "doc_id", max_df, emit_self)
        assert _run(gen, batches) == expect


def test_overlong_segment_across_three_batches_is_dropped():
    df = _keyed_stream()
    seg = np.flatnonzero(df["fp"].to_numpy() == 7)
    assert len(seg) == 4
    lo, hi = int(seg[0]), int(seg[-1]) + 1
    # key 7's segment spans three batches: its first row ends the first
    # batch, two rows fill the second, its last row opens the third
    batches = [df.iloc[: lo + 1], df.iloc[lo + 1 : hi - 1], df.iloc[hi - 1 :]]
    gen = D._segment_pair_gen("fp", "doc_id", 3, True)
    got = _run(gen, batches)
    assert got == _segment_reference(df, 3, True)
    assert not [p for p in got if {100, 101, 102, 103} & set(p)]


def _hamming_stream(n_sub):
    """(_packed, doc_id, simhash) rows as `_bucketed_hamming_pairs`
    ships them: one row per doc and sub-block pair, packed as
    (bucket, gi, gj, sub), sorted on the packed key."""
    rng = np.random.default_rng(5)
    n_docs = 30
    bucket = rng.integers(0, 4, n_docs)
    sketch = rng.integers(0, 1 << 8, n_docs)
    sb = max(1, (n_sub - 1).bit_length())
    rows = []
    for doc in range(n_docs):
        sub = doc % n_sub
        for gi, gj in [(min(sub, q), max(sub, q)) for q in range(n_sub)]:
            packed = (((int(bucket[doc]) << sb | gi) << sb | gj) << sb) | sub
            rows.append((packed, doc, int(sketch[doc])))
    df = pd.DataFrame(rows, columns=["_packed", "doc_id", "simhash"])
    df = df.sort_values("_packed", kind="stable", ignore_index=True)
    return df.astype("int64"), sb, bucket, sketch


@pytest.mark.parametrize("n_sub", [1, 8])
def test_hamming_pairs_independent_of_batch_cuts(n_sub):
    df, sb, bucket, sketch = _hamming_stream(n_sub)
    max_h = 3
    expect = Counter()
    for a in range(len(bucket)):
        for b in range(a + 1, len(bucket)):
            h = bin(int(sketch[a]) ^ int(sketch[b])).count("1")
            if bucket[a] == bucket[b] and h <= max_h:
                expect[(a, b, h)] += 1
    assert expect
    for batches in _cuttings(df):
        gen = D._hamming_pair_gen("doc_id", sb, n_sub, max_h, True)
        assert _run(gen, batches) == expect


def test_pair_chunks_are_bounded(monkeypatch):
    monkeypatch.setattr(D, "CHUNK", 5)
    rep = np.array([3, 0, 2, 4, 7, 1, 0, 0, 2])
    base = np.arange(len(rep)) + 1
    pairs = []
    for a_idx, b_idx in D._pair_chunks(rep, base):
        # at most CHUNK pairs, unless one row alone has more
        assert len(a_idx) <= 5 or len(set(a_idx)) == 1
        pairs += zip(a_idx.tolist(), b_idx.tolist())
    assert pairs == [
        (i, base[i] + j) for i in range(len(rep)) for j in range(rep[i])
    ]


@pytest.mark.parametrize("kernel", ["segment", "hamming"])
def test_kernels_yield_before_the_last_batch(kernel):
    """The first pairs leave before the last batch is read: the input
    is never concatenated into one partition frame."""
    if kernel == "segment":
        df = _keyed_stream()
        gen = D._segment_pair_gen("fp", "doc_id", None, False)
    else:
        df, sb, _, _ = _hamming_stream(8)
        gen = D._hamming_pair_gen("doc_id", sb, 8, None, False)
    batches = [df.iloc[i : i + 4] for i in range(0, len(df), 4)]
    pulled = 0

    def feed():
        nonlocal pulled
        for b in batches:
            pulled += 1
            yield b

    next(gen(feed()))
    assert pulled < len(batches)


def test_pair_kernels_match_across_arrow_batch_sizes(spark):
    """Arrow batches of 3 rows cut segments inside Spark; the pair
    sets must equal those of the default batch size. The hostile
    corpus gets near-duplicate rows so every kernel emits pairs, and
    four docs share "repeat repeat repeat" so the jaccard max_df cut
    drops a segment longer than a batch."""
    from tests.test_arrow_kernels_parity import HOSTILE

    near_dups = [
        (20, "plain token salad words here"),
        (21, "plain token salad words here and there"),
        (22, "repeat repeat repeat repeat once more"),
        (23, "repeat repeat repeat repeat twice more"),
        (24, "repeat repeat repeat"),
        (25, "mixed \t\n separators multi   space   runs"),
    ]
    df = spark.createDataFrame(HOSTILE + near_dups, "doc_id long, text string")
    ops = {
        "winnow": lambda: D.winnow_match_pairs(df),
        "jaccard": lambda: D.ngram_jaccard_pairs(df, max_df=3),
        "blocked": lambda: D.simhash_neardup_pairs_blocked(df),
    }

    def collect():
        return {k: sorted(map(tuple, op().collect())) for k, op in ops.items()}

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    default = collect()
    assert all(default.values())  # every kernel emits pairs here
    old = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        small = collect()
    finally:
        spark.conf.set(key, old)
    assert small == default
