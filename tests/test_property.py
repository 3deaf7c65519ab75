"""Property-based tests (Hypothesis): the SSZ codec and snappy codec must
round-trip arbitrary well-formed inputs, and the era container must survive
arbitrary block subsets.  No Spark session needed — pure kernel.
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from era_parser_spark.parsing import snappy
from era_parser_spark.parsing.beacon import decode_signed_block, encode_signed_block
from era_parser_spark.parsing.e2store import iter_blocks, write_era
from era_parser_spark.parsing.ssz import Bitlist, ByteList, ByteVector, Container, List, Uint
from era_parser_spark.testing.era_gen import make_block_doc


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=4096))
def test_snappy_raw_roundtrip(blob):
    assert snappy.decompress_raw(snappy.compress_raw(blob)) == blob


@settings(max_examples=100, deadline=None)
@given(st.binary(max_size=200_000))
def test_snappy_framed_roundtrip(blob):
    assert snappy.frame_decompress(snappy.frame_compress(blob), verify_crc=True) == blob


# an SSZ container mixing every variable/fixed combination the codec supports
_MIXED = Container(
    "Mixed",
    [
        ("a", Uint(64)),
        ("blob", ByteList(1 << 20)),
        ("v", ByteVector(16)),
        ("nums", List(Uint(64), 1 << 20)),
        ("bits", Bitlist(1 << 16)),
        ("nested", List(Container("Inner", [("x", Uint(32)), ("s", ByteList(64))]), 64)),
    ],
)

_hex = lambda n: st.binary(min_size=n, max_size=n).map(lambda b: "0x" + b.hex())  # noqa: E731


@settings(max_examples=200, deadline=None)
@given(
    st.fixed_dictionaries(
        {
            "a": st.integers(0, 2**64 - 1),
            "blob": st.binary(max_size=300).map(lambda b: "0x" + b.hex()),
            "v": _hex(16),
            "nums": st.lists(st.integers(0, 2**64 - 1), max_size=50),
            "bits": st.binary(min_size=1, max_size=32).map(lambda b: "0x" + b.hex()),
            "nested": st.lists(
                st.fixed_dictionaries(
                    {
                        "x": st.integers(0, 2**32 - 1),
                        "s": st.binary(max_size=40).map(lambda b: "0x" + b.hex()),
                    }
                ),
                max_size=16,
            ),
        }
    )
)
def test_ssz_mixed_container_roundtrip(doc):
    encoded = _MIXED.encode(doc)
    assert _MIXED.decode(encoded) == doc
    # the schema-compiled fast decoder and the generic walk must agree
    assert _MIXED.decode_generic(encoded) == _MIXED.decode(encoded)


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=512))
def test_ssz_compiled_matches_generic_on_garbage(blob):
    """Compiled and generic decoders agree on arbitrary bytes: same value
    or both raise (defensive-decode semantics must not drift)."""
    try:
        got = _MIXED.decode(blob)
        err = None
    except Exception as exc:  # noqa: BLE001
        got, err = None, type(exc)
    try:
        want = _MIXED.decode_generic(blob)
        gen_err = None
    except Exception as exc:  # noqa: BLE001
        want, gen_err = None, type(exc)
    assert (err is None) == (gen_err is None)
    if err is None:
        assert got == want


@settings(max_examples=30, deadline=None)
@given(
    st.lists(
        st.sampled_from([300, 8200, 6_500_000, 10_400_000, 14_300_000, 21_500_000]),
        min_size=0,
        max_size=6,
        unique=True,
    )
)
def test_era_container_roundtrip(slots):
    from era_parser_spark.config.networks import fork_at_slot

    docs = {s: make_block_doc(s, "gnosis") for s in sorted(slots)}
    payloads = [
        encode_signed_block(d, fork_at_slot(s, "gnosis")) for s, d in sorted(docs.items())
    ]
    era = write_era(payloads)
    got = list(iter_blocks(era))
    assert [s for s, _, _ in got] == sorted(docs)
    for s, _, raw in got:
        assert decode_signed_block(raw, fork_at_slot(s, "gnosis")) == docs[s]
