"""Property-based tests (hypothesis) for the pure kernel functions —
stronger than the reference's randomized-but-structural assertions
(SURVEY §5.4); no SparkSession needed."""

from hypothesis import assume, given, settings
from hypothesis import strategies as st

from vechord_spark.functions.embed import _hash_vector, sparse_query_vector
from vechord_spark.operators.chunk import regex_chunk
from vechord_spark.operators.dedup import MINHASH_P, _mh_a, _mh_b

texts = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=2000
)


@settings(max_examples=200, deadline=None)
@given(texts, st.integers(16, 256), st.integers(0, 64))
def test_regex_chunk_invariants(text, size, overlap):
    assume(overlap < size)  # the reference's regime (1536 / 200)
    chunks = regex_chunk(text, size=size, overlap=overlap)
    # deterministic
    assert chunks == regex_chunk(text, size=size, overlap=overlap)
    # no empty chunks; every non-separator character sequence of the
    # input is preserved somewhere (weak coverage: total stripped
    # content length is preserved up to overlap duplication)
    assert all(c for c in chunks)
    # size budget is on PIECE characters (concat separators excluded,
    # matching the reference): re-split each chunk; the piece-length sum
    # fits the budget unless the chunk is one indivisible oversized piece
    import re

    sep = re.compile(r"[\n\r\f\v\t?!.;]{1,}")
    for c in chunks:
        pieces = [p.strip() for p in sep.split(c) if p.strip()]
        assert sum(len(p) for p in pieces) <= size or len(pieces) == 1


@settings(max_examples=200, deadline=None)
@given(texts)
def test_chunks_preserve_content_order(text):
    """Concatenated chunks contain the separator-stripped pieces in
    order (overlap repeats allowed)."""
    chunks = regex_chunk(text, size=128, overlap=0)
    joined = " ".join(chunks)
    import re

    pieces = [p.strip() for p in re.split(r"[\n\r\f\v\t?!.;]{1,}", text) if p.strip()]
    pos = 0
    for p in pieces:
        found = joined.find(p, pos)
        assert found >= 0
        pos = found + len(p)


@settings(max_examples=100, deadline=None)
@given(st.text(max_size=500), st.integers(2, 128))
def test_hash_vector_unit_norm_and_deterministic(text, dim):
    v = _hash_vector(text, dim, "doc")
    assert len(v) == dim
    assert v == _hash_vector(text, dim, "doc")
    n = sum(x * x for x in v)
    assert abs(n - 1.0) < 1e-6


@settings(max_examples=100, deadline=None)
@given(st.text(max_size=500), st.integers(8, 30522))
def test_sparse_query_vector_bounds(text, dim):
    qv = sparse_query_vector(text, dim)
    assert all(0 <= i < dim for i in qv)
    assert all(w > 0 for w in qv.values())


@settings(max_examples=50, deadline=None)
@given(st.integers(0, 63), st.integers(0, MINHASH_P - 1))
def test_minhash_affine_family_in_range(i, h):
    v = (h * _mh_a(i) + _mh_b(i)) % MINHASH_P
    assert 0 <= v < MINHASH_P


@given(st.text(alphabet=st.characters(codec="ascii", exclude_characters="\x00"), max_size=300))
@settings(max_examples=200, deadline=None)
def test_split_sentences_preserves_content(text):
    """Sentence splitting must never lose or invent non-whitespace
    content, and every piece must be non-empty and stripped."""
    from vechord_spark.operators.chunk import split_sentences

    sents = split_sentences(text)
    assert all(s == s.strip() and s for s in sents)
    assert "".join("".join(s.split()) for s in sents) == "".join(text.split())


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.text(alphabet="abcdefghijklmnopqrstuvwxyzäöüλ", min_size=1, max_size=30),
        min_size=0,
        max_size=40,
    ),
    st.integers(16, 256),
    st.integers(0, 64),
    st.sampled_from(["\n", "?", "!", ";", "\t", ".", "\n\n"]),
)
def test_regex_chunk_carryover_with_unique_pieces(words, size, overlap, sep_char):
    """r4 VERDICT item 8: the subtle property is the overlap CARRY —
    chunk N+1 may open with a repeated suffix of chunk N, bounded by
    the overlap budget. Indexed (therefore unique) pieces make every
    repeat attributable to the carry, never to coincidence; exercised
    across separators, unicode pieces, and the overlap >= piece-length
    regime (short pieces with overlap up to 64)."""
    assume(overlap < size)
    # unique pieces: suffix each word with its index
    pieces_in = [f"{w}{i}" for i, w in enumerate(words)]
    text = sep_char.join(pieces_in)
    chunks = regex_chunk(text, size=size, overlap=overlap)

    import re

    sep = re.compile(r"[\n\r\f\v\t?!.;]{1,}")
    seen_first: list[str] = []
    for ci, c in enumerate(chunks):
        cpieces = [p.strip() for p in sep.split(c) if p.strip()]
        assert cpieces, "no empty chunks"
        # budget: piece-length sum fits unless the chunk is (or was
        # trimmed down to) one indivisible oversized piece
        assert sum(len(p) for p in cpieces) <= size or len(cpieces) == 1
        repeats = [p for p in cpieces if p in seen_first]
        fresh = [p for p in cpieces if p not in seen_first]
        # 1. repeated pieces (the carry) sit at the FRONT of the chunk
        assert cpieces[: len(repeats)] == repeats
        # 2. the carry respects the overlap budget (strictly under)
        assert sum(len(p) for p in repeats) < max(overlap, 1) or not repeats
        # 3. fresh pieces arrive in input order
        seen_first.extend(fresh)
    # 4. full coverage: every input piece appears exactly once as fresh
    assert seen_first == pieces_in


@settings(max_examples=150, deadline=None)
@given(
    st.lists(st.integers(0, 30), min_size=1, max_size=400),
    st.integers(2, 16),
)
def test_space_saving_superset_guarantee(stream, capacity):
    """The Misra-Gries summary (operators/sketch.py) keeps every value
    whose frequency exceeds n/capacity — the guarantee the
    heavy-hitters exactness condition rests on."""
    import pandas as pd

    from vechord_spark.operators.sketch import _misra_gries_partition

    gen = _misra_gries_partition(capacity=capacity, col="v")
    (out,) = list(gen(iter([pd.DataFrame({"v": stream})])))
    kept = set(out["v"])
    assert len(kept) <= capacity
    n = len(stream)
    from collections import Counter

    for v, c in Counter(stream).items():
        if c > n / capacity:
            assert v in kept, f"{v} (freq {c} > {n}/{capacity}) evicted"


@settings(max_examples=80, deadline=None)
@given(
    st.lists(st.integers(0, 30), min_size=1, max_size=400),
    st.integers(2, 16),
    st.integers(1, 8),
)
def test_space_saving_guarantee_across_batches(stream, capacity, n_batches):
    """The per-partition guarantee must hold regardless of how Arrow
    slices the partition into record batches."""
    import pandas as pd

    from vechord_spark.operators.sketch import _misra_gries_partition

    size = max(1, len(stream) // n_batches)
    batches = [
        pd.DataFrame({"v": stream[i : i + size]})
        for i in range(0, len(stream), size)
    ]
    gen = _misra_gries_partition(capacity=capacity, col="v")
    (out,) = list(gen(iter(batches)))
    kept = set(out["v"])
    n = len(stream)
    from collections import Counter

    for v, c in Counter(stream).items():
        if c > n / capacity:
            assert v in kept
