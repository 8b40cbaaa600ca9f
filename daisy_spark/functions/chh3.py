"""H3 cell-index functions (pure-Python port of the public H3 spec).

The reference exposes Uber's H3 hierarchical hex grid through scalar
functions (src/Functions/h3GetResolution.cpp, h3ToParent.cpp,
h3ToChildren.cpp, h3IsValid.cpp, h3ToString.cpp, stringToH3.cpp,
h3GetBaseCell.cpp, h3EdgeAngle.cpp, h3EdgeLengthM.cpp,
h3HexAreaM2.cpp) backed by the Apache-2.0 H3 library.  Everything here
derives from the PUBLIC H3 index format specification
(h3geo.org/docs/core-library/h3Indexing) and the published per-
resolution edge-length / hex-area tables (h3geo.org/docs/core-library/
restable):

64-bit cell index layout (highest bit first):
    1 bit  reserved (0)
    4 bits mode (1 = cell)
    3 bits reserved (0)
    4 bits resolution (0-15)
    7 bits base cell (0-121)
    15 x 3 bits per-resolution child digit (unused digits = 7)

These are corpus-presentation scalar functions (same tier as
functions/chhash.py): plain Python UDFs, never on a distributed hot
path — the registry's analytical queries do not call them.
"""

from __future__ import annotations

import math

_MODE_CELL = 1
_NUM_BASE_CELLS = 122

#: base cells centered on an icosahedron vertex (12 pentagons) — public
#: H3 spec, "base cells" table
_PENTAGON_BASE_CELLS = frozenset(
    {4, 14, 24, 38, 49, 58, 63, 72, 83, 97, 107, 117}
)

#: average hexagon edge length in METERS per resolution (public H3 v3
#: resolution table)
_EDGE_LENGTH_M = [
    1107712.591, 418676.0055, 158244.6558, 59810.85794, 22606.3794,
    8544.408276, 3229.482772, 1220.629759, 461.3546837, 174.3756681,
    65.90780749, 24.9105614, 9.415526211, 3.559893033, 1.348574562,
    0.509713273,
]

#: average hexagon area in SQUARE METERS per resolution (public H3 v3
#: resolution table, km^2 * 1e6)
_HEX_AREA_M2 = [
    4250546.848e6, 607220.9782e6, 86745.85403e6, 12392.26486e6,
    1770.323552e6, 252.9033645e6, 36.1290521e6, 5.1612932e6,
    0.7373276e6, 0.1053325e6, 0.0150475e6, 0.0021496e6, 0.0003071e6,
    0.0000439e6, 0.0000063e6, 0.0000009e6,
]

#: mean Earth radius used by the reference's h3EdgeAngle
#: (src/Functions/h3EdgeAngle.cpp: edge_length_m * 180 / pi / R)
_EARTH_RADIUS_M = 6371007.180918475


def _res(h: int) -> int:
    return (h >> 52) & 0xF


def _base_cell(h: int) -> int:
    return (h >> 45) & 0x7F


def _digit(h: int, r: int) -> int:
    """Child digit for resolution ``r`` (1-15)."""
    return (h >> ((15 - r) * 3)) & 7


def get_resolution(h: int | None) -> int | None:
    if h is None:
        return None
    return _res(h)


def get_base_cell(h: int | None) -> int | None:
    if h is None:
        return None
    return _base_cell(h)


def is_valid(h: int | None) -> int:
    """Full cell-index validation (public spec h3IsValid):
    mode == cell, reserved bits clear, base cell in range, digits
    inside the resolution in 0-6, digits beyond it all 7, and no
    leading K-axis digit under a pentagon base cell (the deleted
    subsequence)."""
    if h is None or h <= 0 or h >= (1 << 63):
        return 0
    if (h >> 59) & 0xF != _MODE_CELL:
        return 0
    if (h >> 56) & 0x7:
        return 0
    bc = _base_cell(h)
    if bc >= _NUM_BASE_CELLS:
        return 0
    res = _res(h)
    seen_nonzero = False
    for r in range(1, 16):
        d = _digit(h, r)
        if r <= res:
            if d == 7:
                return 0
            if not seen_nonzero and d:
                if d == 1 and bc in _PENTAGON_BASE_CELLS:
                    return 0
                seen_nonzero = True
        elif d != 7:
            return 0
    return 1


def to_parent(h: int | None, parent_res: int | None) -> int | None:
    if h is None or parent_res is None:
        return None
    parent_res = _check_res(parent_res)
    if parent_res > _res(h):
        return None
    out = (h & ~(0xF << 52)) | (parent_res << 52)
    for r in range(parent_res + 1, 16):
        out |= 7 << ((15 - r) * 3)
    return out


def to_children(h: int | None, child_res: int | None) -> list[int]:
    """All descendants at ``child_res`` (empty when child_res < res;
    pentagons skip the deleted K-axis subtree — digit 1 under a
    pentagon center child)."""
    if h is None or child_res is None:
        return []
    child_res = _check_res(child_res)
    res = _res(h)
    if child_res < res:
        return []
    results = [(h & ~(0xF << 52)) | (child_res << 52)]
    for rr in range(res + 1, child_res + 1):
        shift = (15 - rr) * 3
        nxt = []
        for x in results:
            # center-lineage pentagon: digits res+1..rr-1 all zero
            pent = _base_cell(x) in _PENTAGON_BASE_CELLS and all(
                _digit(x, q) == 0 for q in range(1, rr)
            )
            for d in range(7):
                if d == 1 and pent:
                    continue
                nxt.append((x & ~(7 << shift)) | (d << shift))
        results = nxt
    return results


def to_string(h: int | None) -> str | None:
    if h is None:
        return None
    return format(h, "x")


def string_to_h3(s: str | None) -> int:
    """Parse a lowercase-hex cell index; 0 on malformed input
    (src/Functions/stringToH3.cpp returns 0 for parse failure)."""
    if not s:
        return 0
    try:
        v = int(s, 16)
    except ValueError:
        return 0
    return v if 0 <= v < (1 << 63) else 0


def _check_res(res: int) -> int:
    res = int(res)
    if not 0 <= res <= 15:
        # reference: ARGUMENT_OUT_OF_BOUND (69)
        raise ValueError(f"h3 resolution out of bounds: {res}")
    return res


def edge_length_m(res: int | None) -> float | None:
    if res is None:
        return None
    return _EDGE_LENGTH_M[_check_res(res)]


def hex_area_m2(res: int | None) -> float | None:
    if res is None:
        return None
    return _HEX_AREA_M2[_check_res(res)]


def edge_angle(res: int | None) -> float | None:
    """Average edge length in DEGREES of arc
    (src/Functions/h3EdgeAngle.cpp: 180/pi * edge_m / earth_radius)."""
    if res is None:
        return None
    # math.degrees(edge/R): same op order as the reference's
    # degs-conversion (last-ulp exact on the corpus vectors)
    return math.degrees(_EDGE_LENGTH_M[_check_res(res)] / _EARTH_RADIUS_M)


def register_udfs(spark) -> None:
    if getattr(spark, "_daisy_chh3_udfs", False):
        return
    spark.udf.register("ch_h3_get_resolution", get_resolution, "int")
    spark.udf.register("ch_h3_get_base_cell", get_base_cell, "int")
    spark.udf.register("ch_h3_is_valid", is_valid, "tinyint")
    spark.udf.register("ch_h3_to_parent", to_parent, "bigint")
    spark.udf.register("ch_h3_to_children", to_children, "array<bigint>")
    spark.udf.register("ch_h3_to_string", to_string, "string")
    spark.udf.register("ch_string_to_h3", string_to_h3, "bigint")
    spark.udf.register("ch_h3_edge_length_m", edge_length_m, "double")
    spark.udf.register("ch_h3_hex_area_m2", hex_area_m2, "double")
    spark.udf.register("ch_h3_edge_angle", edge_angle, "double")
    spark._daisy_chh3_udfs = True
