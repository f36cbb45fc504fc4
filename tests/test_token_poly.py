"""Property tests (hypothesis, in-process, no Spark) for the one token-hash
kernel of the Arrow passes, ``ops.text.token_poly``, and its power table.

Both must equal the plain Python definition — a Horner fold over code
points, ``pow(base, i, 2**bits)`` — for every (base, bits) the operators
use, on arbitrary Unicode: non-BMP characters, combining marks, empty
tokens and tokens of 10k+ characters. The fixtures hold no non-ASCII
text, so these are the only tests that reach those inputs. Every check
runs under ``warnings.simplefilter("error")``: a numpy scalar overflow,
which inside a Python worker would fire unseen, fails here.
"""

from __future__ import annotations

import warnings

from hypothesis import given, settings, strategies as st

from etl_data_processor_spark.ops.text import pow_table, token_poly

# (base, bits) of every token_poly caller: base 31 for char_poly_hash /
# the DSIR buckets / portable SimHash, 37 for the second portable SimHash
# base, 1000003 for the positional gram token hashes
KERNEL_PARAMS = [(31, 32), (37, 32), (1000003, 64)]
# pow_table alone also serves the symmetric-delete hashes (FNV-64 prime)
# and the positional gram combiner (golden-ratio base)
TABLE_PARAMS = KERNEL_PARAMS + [(0x100000001B3, 64), (0x9E3779B97F4A7C15, 64)]

CHAR = st.characters(blacklist_categories=("Cs",))
TOKEN = st.one_of(
    st.text(alphabet=CHAR, max_size=30),
    # combining marks on ASCII and astral-plane bases
    st.lists(
        st.sampled_from(["a", "e", "́", "̈", "\U0001d11e", "\U0001f600"]),
        max_size=12,
    ).map("".join),
)
LONG_TOKEN = st.builds(
    lambda c, n: c * n, CHAR, st.integers(min_value=10_000, max_value=12_000)
)


def horner(token: str, base: int, bits: int) -> int:
    h = 0
    for c in token:
        h = (h * base + ord(c)) % (1 << bits)
    return h


@settings(max_examples=200, deadline=None)
@given(st.lists(TOKEN, max_size=40))
def test_token_poly_matches_horner_fold(tokens):
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        for base, bits in KERNEL_PARAMS:
            got = token_poly(tokens, base, bits)
            assert got.dtype == "uint64" and len(got) == len(tokens)
            assert got.tolist() == [horner(t, base, bits) for t in tokens]


@settings(max_examples=10, deadline=None)
@given(st.lists(TOKEN, max_size=5), LONG_TOKEN, st.lists(TOKEN, max_size=5))
def test_token_poly_long_tokens(before, long_token, after):
    tokens = [*before, long_token, *after]
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        for base, bits in KERNEL_PARAMS:
            got = token_poly(tokens, base, bits).tolist()
            assert got == [horner(t, base, bits) for t in tokens]


@settings(max_examples=50, deadline=None)
@given(st.integers(min_value=0, max_value=300))
def test_pow_table_matches_pow(n):
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        for base, bits in TABLE_PARAMS:
            got = pow_table(base, n, bits)
            assert got.dtype == "uint64"
            assert got.tolist() == [pow(base, i, 1 << bits) for i in range(n)]


def test_token_poly_edges():
    assert token_poly([], 31, 32).tolist() == []
    assert token_poly(["", "", ""], 1000003, 64).tolist() == [0, 0, 0]
    # one astral character is one term (its code point), not two
    # UTF-16 units or four UTF-8 bytes
    assert token_poly(["\U0001d11e"], 31, 32).tolist() == [0x1D11E]
