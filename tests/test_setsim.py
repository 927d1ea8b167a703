"""setsim_join (prefix-filtered all-pairs Jaccard) vs a pure-Python
brute force on crafted corpora — exercises arbitrary column names,
a non-default threshold, and the no-pairs edge."""

import pytest

import skdist_spark.operators.setsim as S
from skdist_spark.operators.setsim import setsim_join

DOCS = [
    (1, "alpha beta gamma delta epsilon zeta"),
    (2, "alpha beta gamma delta epsilon eta"),     # near-dup of 1
    (3, "alpha beta gamma delta epsilon zeta"),    # exact dup of 1
    (4, "one two three four five six seven"),
    (5, "one two three four five six eight nine"),  # near-dup of 4
    (6, "totally different words here now ok"),
    (7, "short doc"),
    (8, "short doc"),                               # exact dup of 7 (tiny set)
]


def _shingles(text, n=3):
    w = text.split()
    if len(w) < n:
        return {" ".join(w)}
    return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}


def _brute(docs, t_num, t_den):
    out = []
    for i, (ida, ta) in enumerate(docs):
        for idb, tb in docs[i + 1 :]:
            a, b = _shingles(ta), _shingles(tb)
            inter = len(a & b)
            uni = len(a | b)
            if t_den * inter >= t_num * uni:
                out.append((min(ida, idb), max(ida, idb), inter, uni))
    return sorted(out)


def _run(spark, docs, t_num, t_den):
    df = spark.createDataFrame(docs, "item bigint, body string")
    got = setsim_join(df, id_col="item", text_col="body", t_num=t_num, t_den=t_den)
    return sorted(
        (r["doc_a"], r["doc_b"], r["inter"], r["uni"]) for r in got.collect()
    )


def test_setsim_matches_brute_force_t05(spark):
    got = _run(spark, DOCS, 1, 2)
    want = _brute(DOCS, 1, 2)
    assert got == want
    assert len(got) >= 3  # the crafted dups must surface


def test_setsim_cogroup_path_equals_direct(spark, monkeypatch):
    """Force the count gate to the blocked-cogroup verify and pin it
    row-for-row against the direct array-join verify (the r9 gate's
    two strategies must be indistinguishable on the same corpus)."""
    import random

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(15)]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(6, 25))))
        for i in range(30)
    ]
    base = " ".join(rng.choice(vocab) for _ in range(18))
    docs += [(200, base), (201, base + " w1")]
    direct = _run(spark, docs, 1, 2)
    monkeypatch.setattr(S, "SETSIM_DIRECT_VERIFY_MAX_PAIRS", -1)
    cogrouped = _run(spark, docs, 1, 2)
    assert cogrouped == direct == _brute(docs, 1, 2)
    assert (200, 201) in {(a, b) for a, b, _, _ in direct}


def test_setsim_matches_brute_force_t08(spark):
    got = _run(spark, DOCS, 4, 5)
    assert got == _brute(DOCS, 4, 5)


def test_setsim_no_pairs(spark):
    docs = [(1, "aa bb cc dd"), (2, "ee ff gg hh"), (3, "ii jj kk ll")]
    assert _run(spark, docs, 1, 2) == []


def test_setsim_small_vocab_candidate_storm(spark):
    """The r8 regression shape: a tiny word vocabulary makes every
    posting list long, so the prefix filter generates orders of
    magnitude more candidates than true pairs and the pair-level
    positional prune + integer-rank verify carry the load.  Brute
    force equality proves the prune lossless and the rank bijection
    intersection-exact on a corpus where candidates vastly outnumber
    matches (including near-threshold pairs on both sides of t)."""
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(12)]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(6, 30))))
        for i in range(40)
    ]
    # planted near-dups: one word appended (just above t=0.5), and a
    # half-replaced tail (just below)
    base = " ".join(rng.choice(vocab) for _ in range(20))
    docs += [(100, base), (101, base + " w0"), (102, base.rsplit(" ", 8)[0] + " x1 x2 x3 x4 x5 x6 x7 x8")]
    got = _run(spark, docs, 1, 2)
    want = _brute(docs, 1, 2)
    assert got == want
    assert (100, 101) in {(a, b) for a, b, _, _ in got}


@pytest.mark.parametrize("gate", ["direct", "cogroup"])
def test_setsim_ppm_integer_exact(spark, monkeypatch, gate):
    """Identical docs score exactly 1000000 ppm on both verify paths,
    also past 2147 shared shingles, where inter * 1000000 no longer
    fits in INT (ANSI mode raises ARITHMETIC_OVERFLOW there)."""
    if gate == "cogroup":
        monkeypatch.setattr(S, "SETSIM_DIRECT_VERIFY_MAX_PAIRS", -1)
    long_text = " ".join(f"w{i}" for i in range(2200))
    for text in ("a b c d e", long_text):
        docs = [(1, text), (2, text)]  # identical: J = 1
        df = spark.createDataFrame(docs, "doc_id bigint, text string")
        rows = setsim_join(df).collect()
        assert len(rows) == 1 and rows[0]["jaccard_ppm"] == 1000000


def test_setsim_blocked_verify_equals_set_reference():
    """The blocked-cogroup verifier (the per-pair Python-set
    implementation used above the direct-verify gate) counts exactly
    |A ∩ B| for sorted unique rank arrays — pinned against an
    independent set reference on randomized groups including empty
    token arrays and docs on both sides.  Imported directly from the
    module (r9 hoisted it out of setsim_join for exactly this test)."""
    import random

    import pandas as pd

    from skdist_spark.operators.setsim import _setsim_verify_fn

    t_num, t_den = 1, 2
    _verify = _setsim_verify_fn(t_num, t_den)

    rng = random.Random(7)
    for trial in range(100):
        n_docs = rng.randint(1, 12)
        vocab = rng.randint(1, 25)
        toks = {
            d: sorted(rng.sample(range(vocab), min(rng.randint(0, 8), vocab)))
            for d in range(n_docs)
        }
        rows = [
            (0, 0, side, d, tk, len(tk))
            for d, tk in toks.items()
            for side in (0, 1)
            if rng.random() < 0.9
        ]
        if not rows:
            continue
        block = pd.DataFrame(
            rows, columns=["pa", "pb", "side", "doc", "toks", "len"]
        )
        a_av = sorted(set(block[block.side == 0]["doc"]))
        b_av = sorted(set(block[block.side == 1]["doc"]))
        prs = [(a, b) for a in a_av for b in b_av if rng.random() < 0.5]
        if not prs:
            continue
        pairs = pd.DataFrame(prs, columns=["da", "db"])
        got = sorted(
            tuple(r) for r in _verify(pairs, block).itertuples(index=False)
        )
        want = []
        for da, db in prs:
            sa, sb = set(toks[da]), set(toks[db])
            if da not in a_av or db not in b_av:
                continue
            inter = len(sa & sb)
            uni = len(toks[da]) + len(toks[db]) - inter
            if t_den * inter >= t_num * uni:
                want.append((da, db, inter, uni))
        assert got == sorted(want), trial
