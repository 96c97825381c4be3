"""Logical type registry: codecs over binary payload cells.

Scanner's data model is "index + blob" — structure lives in registered
serialization codecs, not the storage schema (reference:
python/scannerpy/types.py:25-142).  This module reproduces that registry
for payload columns: each type is a (serialize, deserialize) pair over
bytes, usable driver-side or inside Arrow-batched kernels.

Registered parity set (reference file:line):
  bytes            types.py:38-44      identity
  any              types.py:31-36      pickle
  ndarray_f32/i32  types.py:116-130    raw little-endian array
  uniform_list     types.py:91-111     fixed-stride concatenation
  variable_list    types.py:68-89      length-prefixed concatenation
  bbox / bbox_list types.py:113-114 (proto scanner/types.proto:11-20)
  histogram        types.py:132        3 x int32 bins
  image            types.py:134-142    PNG bytes

Where Spark-native columns are expressible (arrays, structs), PREFER them —
codecs exist for payload-blob interop with Scanner-style pipelines, not as
the primary schema strategy.
"""

from __future__ import annotations

import pickle
import struct
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np

_REGISTRY: dict[str, "PayloadType"] = {}


@dataclass(frozen=True)
class PayloadType:
    name: str
    serialize: Callable[[Any], bytes]
    deserialize: Callable[[bytes], Any]


def register_type(name: str, serialize, deserialize) -> PayloadType:
    if name in _REGISTRY:
        raise ValueError(f"type {name!r} already registered")
    t = PayloadType(name, serialize, deserialize)
    _REGISTRY[name] = t
    return t


def get_type(name: str) -> PayloadType:
    return _REGISTRY[name]


def registered_types() -> list[str]:
    return sorted(_REGISTRY)


# -- scalar / generic ---------------------------------------------------------

register_type("bytes", lambda b: bytes(b), lambda b: bytes(b))
register_type("any", pickle.dumps, pickle.loads)


def _ndarray_codec(dtype: str):
    def ser(a: np.ndarray) -> bytes:
        return np.ascontiguousarray(a, dtype=dtype).tobytes()

    def de(b: bytes) -> np.ndarray:
        return np.frombuffer(b, dtype=dtype)

    return ser, de


register_type("ndarray_f32", *_ndarray_codec("float32"))
register_type("ndarray_i32", *_ndarray_codec("int32"))


# -- lists (reference VariableList / UniformList) ------------------------------

def serialize_variable_list(items: list[bytes]) -> bytes:
    # length-prefixed: u32 count, then (u32 size, payload)*
    out = [struct.pack("<I", len(items))]
    for it in items:
        out.append(struct.pack("<I", len(it)))
        out.append(it)
    return b"".join(out)


def deserialize_variable_list(b: bytes) -> list[bytes]:
    (n,) = struct.unpack_from("<I", b, 0)
    off, items = 4, []
    for _ in range(n):
        (sz,) = struct.unpack_from("<I", b, off)
        off += 4
        items.append(b[off : off + sz])
        off += sz
    return items


register_type("variable_list", serialize_variable_list, deserialize_variable_list)


def uniform_list_codec(stride: int) -> PayloadType:
    """Fixed-stride list codec (not in the global registry — stride is a
    parameter, mirroring UniformList's type argument)."""

    def ser(items: list[bytes]) -> bytes:
        assert all(len(i) == stride for i in items)
        return b"".join(items)

    def de(b: bytes) -> list[bytes]:
        return [b[i : i + stride] for i in range(0, len(b), stride)]

    return PayloadType(f"uniform_list[{stride}]", ser, de)


# -- domain types ----------------------------------------------------------------

@dataclass(frozen=True)
class Bbox:
    """Bounding box (reference proto scanner/types.proto:11-20)."""

    x1: float
    y1: float
    x2: float
    y2: float
    score: float = 0.0
    label: int = 0

    _FMT = "<fffffi"

    def to_bytes(self) -> bytes:
        return struct.pack(self._FMT, self.x1, self.y1, self.x2, self.y2, self.score, self.label)

    @classmethod
    def from_bytes(cls, b: bytes) -> "Bbox":
        return cls(*struct.unpack(cls._FMT, b))


register_type("bbox", lambda bb: bb.to_bytes(), Bbox.from_bytes)
register_type(
    "bbox_list",
    lambda boxes: serialize_variable_list([b.to_bytes() for b in boxes]),
    lambda b: [Bbox.from_bytes(x) for x in deserialize_variable_list(b)],
)

# histogram: C channels x B bins of int32 (reference Histogram = 3 x int32 array)
register_type(
    "histogram",
    lambda h: np.ascontiguousarray(h, dtype="int32").tobytes(),
    lambda b: np.frombuffer(b, dtype="int32"),
)


def _png_ser(img: np.ndarray) -> bytes:
    from scanner_spark.kernels.image import encode_png

    return encode_png(img)


def _png_de(b: bytes):
    raise NotImplementedError(
        "PNG decode requires an image library (cv2/PIL) not present in this "
        "environment; payload is standard PNG bytes"
    )


register_type("image", _png_ser, _png_de)
