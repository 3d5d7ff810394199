"""The one wire format of every sketch state.

A state is a header (4-byte tag, format version, payload length, zlib
crc32 of the payload) and a payload: one ``struct`` of the sketch's scalar
params, then little-endian numpy arrays, each led by a 2-byte dtype code
and a u4 item count. Sketch classes register a tag and a params struct
with :func:`layout` and hand ``pack`` / ``unpack`` their params and arrays.
Every malformed input raises ``ValueError``.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

VERSION = 1
_HEAD = struct.Struct("<4sIII")  # tag, version, payload length, crc32
_ARRAY = struct.Struct("<2sI")  # dtype code, item count
_DTYPES = {b"f8", b"i8", b"u8", b"u4", b"u1"}
# tags of earlier byte layouts: their states cannot be read, only rebuilt
RETIRED = {
    b"TDG1": "TDigest", b"TDG2": "TDigest", b"DDG1": "DiscreteDigest",
    b"ADG1": "AutoDigest", b"HLL1": "HLL", b"CMS1": "CMS", b"CMS2": "CMS",
    b"BLM1": "BloomFilter", b"KLL1": "KLL", b"DDS1": "DDSketch",
    b"MGS1": "MisraGries", b"MOM1": "MomentsSketch", b"BTK1": "BottomK",
    b"BTK2": "BottomK", b"THS1": "ThetaSketch", b"AMS1": "AMSF2",
}
_CLASSES: dict[bytes, type] = {}


class Layout:
    """One sketch class's tag and scalar-params struct. As a class
    decorator it becomes ``cls._wire``, and :func:`decode` finds ``cls``
    by its tag."""

    def __init__(self, tag: bytes, params: str) -> None:
        self.name, self.tag, self.params = "", tag, struct.Struct(params)

    def __call__(self, cls: type) -> type:
        self.name = cls.__name__
        cls._wire = self
        _CLASSES[self.tag] = cls
        return cls

    def pack(self, params: tuple, *arrays: np.ndarray) -> bytes:
        parts = [self.params.pack(*params)]
        for a in arrays:
            code = f"{a.dtype.kind}{a.dtype.itemsize}".encode()
            if code not in _DTYPES:
                raise TypeError(f"{self.name}: no wire dtype for {a.dtype}")
            le = a.astype(a.dtype.newbyteorder("<"), copy=False)
            parts += [_ARRAY.pack(code, a.size), le.tobytes()]
        body = b"".join(parts)
        return _HEAD.pack(self.tag, VERSION, len(body), zlib.crc32(body)) + body

    def unpack(self, data: bytes) -> tuple[tuple, list[np.ndarray]]:
        """(params, arrays) of a state this layout packed; the arrays are
        writable copies."""
        tag = bytes(data[:4])
        if tag in RETIRED:
            stale = f"stale {RETIRED[tag]} format {tag.decode()}"
            raise ValueError(f"{stale}: rebuild the sketch state")
        if tag != self.tag:
            raise ValueError(f"not a {self.name} state: tag {tag!r}")
        try:
            _, version, length, crc = _HEAD.unpack_from(data)
            body = memoryview(data)[_HEAD.size:]
            if version != VERSION:
                raise ValueError(f"wire version {version}")
            if length != len(body):
                raise ValueError(f"{len(body)} payload bytes, header says {length}")
            if zlib.crc32(body) != crc:
                raise ValueError("crc mismatch")
            params = self.params.unpack_from(body)
            off, arrays = self.params.size, []
            while off < length:
                code, count = _ARRAY.unpack_from(body, off)
                if code not in _DTYPES:
                    raise ValueError(f"unknown dtype code {code!r}")
                dt = np.dtype("<" + code.decode())
                off += _ARRAY.size
                # frombuffer raises ValueError when the array runs past the body
                arrays.append(np.frombuffer(body, dt, count, off).copy())
                off += count * dt.itemsize
        except (struct.error, ValueError) as e:
            raise ValueError(f"bad {self.name} state: {e}") from None
        return params, arrays


def decode(data: bytes):
    """The sketch object of a state of any registered class, found by tag."""
    cls = _CLASSES.get(bytes(data[:4]))
    if cls is None:
        raise ValueError(f"unknown sketch state tag {bytes(data[:4])!r}")
    return cls.from_bytes(data)


def strings(values) -> tuple[np.ndarray, np.ndarray]:
    """A string column as two arrays: u4 utf-8 lengths and a u1 blob."""
    enc = [str(v).encode() for v in values]
    lens = np.array([len(b) for b in enc], dtype=np.uint32)
    return lens, np.frombuffer(b"".join(enc), dtype=np.uint8)


def unstrings(lens: np.ndarray, blob: np.ndarray) -> np.ndarray:
    """The strings :func:`strings` packed, as an object array."""
    ends = np.cumsum(lens, dtype=np.int64).tolist()
    if (ends[-1] if ends else 0) != blob.size:
        raise ValueError("string lengths do not add up to the blob")
    raw = blob.tobytes()
    try:
        out = [raw[e - n : e].decode() for n, e in zip(lens.tolist(), ends)]
    except UnicodeDecodeError as e:
        raise ValueError(f"bad utf-8 in a string column: {e}") from None
    return np.array(out, dtype=object)
