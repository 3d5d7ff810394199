"""Sketch state wire format: every kind round-trips losslessly, and every
corrupt, truncated, padded, foreign or retired state is rejected with a
plain ``ValueError`` (never ``struct.error``, ``IndexError`` or
``UnicodeDecodeError``).

Also: ``fold_states`` (decode each state once, merge objects, encode
once) equals the pairwise ``merge_bytes`` fold byte for byte.
"""

import struct
import zlib

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from tdigest_spark.operators.aggregate import (
    AMS_F2,
    AUTODIGEST,
    BLOOM_INTS,
    BLOOM_STRINGS,
    BOTTOMK_INTS,
    BOTTOMK_MD5,
    BOTTOMK_STRINGS,
    CMS_INTS,
    CMS_STRINGS,
    DDSKETCH_SPEC,
    HLL_INTS,
    HLL_STRINGS,
    KLL_SPEC,
    MG_SPEC,
    MOMENTS_SPEC,
    TDIGEST,
    TDIGEST_DISCRETE,
    TDIGEST_DISCRETE_STR,
    fold_states,
)
from tdigest_spark.sketch.bottomk import BottomK
from tdigest_spark.sketch.theta import ThetaSketch

# kind -> (spec, input kind, values per state); small parameters keep each
# state to a few KB so every truncation length can be tried
SPECS = {
    "tdigest": (TDIGEST(0.05), "floats", 300),
    "discrete": (TDIGEST_DISCRETE(), "ints", 300),
    "discrete_str": (TDIGEST_DISCRETE_STR(), "strings", 300),
    "autodigest": (AUTODIGEST(), "ints", 300),
    "autodigest_switched": (AUTODIGEST(), "floats", 1500),
    "hll_ints": (HLL_INTS(6), "ints", 300),
    "hll_strings": (HLL_STRINGS(6), "strings", 300),
    "cms_ints": (CMS_INTS(3, 64, 8), "ints", 300),
    "cms_strings": (CMS_STRINGS(3, 64), "strings", 300),
    "bloom_ints": (BLOOM_INTS(200), "ints", 300),
    "bloom_strings": (BLOOM_STRINGS(200), "strings", 300),
    "kll": (KLL_SPEC(16), "floats", 300),
    "ddsketch": (DDSKETCH_SPEC(0.05), "floats", 300),
    "mg_ints": (MG_SPEC(8), "ints", 300),
    "mg_strings": (MG_SPEC(8), "strings", 300),
    "moments": (MOMENTS_SPEC(), "ints", 300),
    "bottomk_ints": (BOTTOMK_INTS(16), "ints", 300),
    "bottomk_strings": (BOTTOMK_STRINGS(16), "strings", 300),
    "bottomk_md5": (BOTTOMK_MD5(16), "ints", 300),
    "ams": (AMS_F2(3, 16), "ints", 300),
}
KINDS = [*SPECS, "theta"]
# every tag an earlier byte layout used
RETIRED = [
    b"TDG1", b"TDG2", b"DDG1", b"ADG1", b"HLL1", b"CMS1", b"CMS2", b"BLM1",
    b"KLL1", b"DDS1", b"MGS1", b"MOM1", b"BTK1", b"BTK2", b"THS1", b"AMS1",
]


def _values(kind: str, n: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    if kind == "floats":
        return rng.normal(size=n) * 100.0
    ints = rng.integers(-50, 200, n)
    if kind == "ints":
        return ints
    return np.array([f"w{i}é" for i in ints], dtype=object)


def _sketch(kind: str, seed: int = 0):
    if kind == "theta":
        ints = _values("ints", 300, seed)
        return ThetaSketch.from_bottomk(BottomK(16).update_ints(ints))
    spec, values, n = SPECS[kind]
    sk = spec.make()
    spec.update(sk, _values(values, n, seed))
    return sk


def _decoder(kind: str):
    return ThetaSketch.from_bytes if kind == "theta" else SPECS[kind][0].from_bytes


STATES = {k: _sketch(k).to_bytes() for k in KINDS}


def _rejects(decode, data: bytes) -> ValueError:
    with pytest.raises(ValueError) as err:
        decode(data)
    assert type(err.value) is ValueError, repr(err.value)
    return err.value


def test_autodigest_kinds_cover_both_modes():
    assert not _sketch("autodigest").is_continuous
    assert _sketch("autodigest_switched").switched


@pytest.mark.parametrize("kind", KINDS)
def test_roundtrip_is_lossless(kind):
    b = STATES[kind]
    assert _decoder(kind)(b).to_bytes() == b
    empty = ThetaSketch() if kind == "theta" else SPECS[kind][0].make()
    empty = empty.to_bytes()
    assert _decoder(kind)(empty).to_bytes() == empty


@pytest.mark.parametrize("kind", KINDS)
def test_every_truncation_is_rejected(kind):
    b = STATES[kind]
    for n in range(len(b)):
        _rejects(_decoder(kind), b[:n])


@pytest.mark.parametrize("kind", KINDS)
def test_trailing_bytes_are_rejected(kind):
    for n in range(1, 8):
        _rejects(_decoder(kind), STATES[kind] + b"\xa5" * n)


@pytest.mark.parametrize("kind", KINDS)
def test_header_bit_flips_are_rejected(kind):
    b = STATES[kind]
    for pos in range(16):
        for bit in range(8):
            bad = bytearray(b)
            bad[pos] ^= 1 << bit
            _rejects(_decoder(kind), bytes(bad))


@settings(max_examples=400, deadline=None, database=None)
@given(st.data())
def test_any_single_bit_flip_is_rejected(data):
    kind = data.draw(st.sampled_from(KINDS))
    b = bytearray(STATES[kind])
    pos = data.draw(st.integers(0, len(b) - 1))
    b[pos] ^= 1 << data.draw(st.integers(0, 7))
    _rejects(_decoder(kind), bytes(b))


@pytest.mark.parametrize("kind", KINDS)
def test_unknown_and_retired_tags_are_rejected(kind):
    b = STATES[kind]
    _rejects(_decoder(kind), b"ZZZZ" + b[4:])
    for tag in RETIRED:
        err = _rejects(_decoder(kind), tag + b[4:])
        assert f"format {tag.decode()}: rebuild" in str(err), str(err)


def test_foreign_state_is_rejected():
    _rejects(SPECS["hll_ints"][0].from_bytes, STATES["cms_ints"])
    _rejects(SPECS["tdigest"][0].from_bytes, STATES["discrete"])


def test_wire_rejects_malformed_payloads_with_a_valid_crc():
    """States no writer produces but whose checksum holds: an array that
    runs past the payload, an unknown dtype code, a string column whose
    lengths do not add up, bad utf-8, and a nested state of an unknown or
    unexpected kind."""
    from tdigest_spark.sketch import wire
    from tdigest_spark.sketch.discrete import AutoDigest, DiscreteDigest
    from tdigest_spark.sketch.hll import HLL

    def envelope(tag: bytes, body: bytes) -> bytes:
        head = struct.pack("<4sIII", tag, wire.VERSION, len(body), zlib.crc32(body))
        return head + body

    def array(code: bytes, count: int, data: bytes = b"") -> bytes:
        return struct.pack("<2sI", code, count) + data

    p = struct.pack("<B", 6)
    _rejects(HLL.from_bytes, envelope(b"HLL2", p + array(b"u1", 65, bytes(64))))
    _rejects(HLL.from_bytes, envelope(b"HLL2", p + array(b"O8", 0)))
    _rejects(HLL.from_bytes, envelope(b"HLL2", p + b"\x00"))
    _rejects(HLL.from_bytes, envelope(b"HLL2", b""))

    def strings_state(lens: list[int], blob: bytes) -> bytes:
        counts = array(b"f8", len(lens), np.ones(len(lens)).tobytes())
        lengths = array(b"u4", len(lens), np.array(lens, "<u4").tobytes())
        body = struct.pack("<?", True) + counts + lengths + array(b"u1", len(blob), blob)
        return envelope(b"DDG2", body)

    good = DiscreteDigest.from_bytes(strings_state([1, 2], b"abc"))
    assert good.items() == [("a", 1.0), ("bc", 1.0)]
    _rejects(DiscreteDigest.from_bytes, strings_state([1, 3], b"abc"))
    _rejects(DiscreteDigest.from_bytes, strings_state([2], b"\xff\xfe"))

    def auto_state(inner: bytes) -> bytes:
        head = struct.pack("<4sddI", b"auto", 0.01, 0.9, 1000)
        return envelope(b"ADG2", head + array(b"u1", len(inner), inner))

    assert AutoDigest.from_bytes(auto_state(DiscreteDigest().to_bytes())).n == 0
    _rejects(AutoDigest.from_bytes, auto_state(b"ZZZZ" + bytes(12)))
    _rejects(AutoDigest.from_bytes, auto_state(HLL(6).to_bytes()))
    _rejects(wire.decode, b"ZZ")


def _pairwise_fold(states: list[bytes], spec) -> bytes:
    """The fold as it was: sort, then merge_bytes pairwise up a fixed
    tree (two decodes and one encode per merge)."""
    states = sorted(states)
    while len(states) > 1:
        states = [
            spec.merge_bytes(states[i], states[i + 1])
            if i + 1 < len(states)
            else states[i]
            for i in range(0, len(states), 2)
        ]
    return states[0] if states else spec.make().to_bytes()


@pytest.mark.parametrize("kind", list(SPECS))
@pytest.mark.parametrize("n_states", [0, 1, 2, 3, 17])
def test_fold_states_matches_pairwise_merge_bytes(kind, n_states):
    spec = SPECS[kind][0]
    states = [_sketch(kind, seed).to_bytes() for seed in range(n_states)]
    assert fold_states(states, spec) == _pairwise_fold(states, spec)
    assert fold_states(states[::-1], spec) == fold_states(states, spec)
