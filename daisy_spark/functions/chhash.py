"""Exact reference hash functions: CityHash64 (v1.0.2) and SipHash-2-4.

The reference's cityHash64/sipHash64 (src/Functions/FunctionsHashing.h)
hash each argument's raw byte serialization and fold multiple arguments
with Hash128to64; tuples flatten elementwise (cityHash64((1,2),'') ==
cityHash64(1,2,'')).  Spark's built-in hashes (xxhash64, murmur3) can't
reproduce those values, so this module implements the published
algorithms in pure Python:

- CityHash64 v1.0.2 — Google cityhash, MIT (the 1.0.2 revision the
  reference vendors in contrib/cityhash102)
- SipHash-2-4 — Aumasson & Bernstein, public reference implementation,
  with the reference's zero key (SipHash.h uses k0 = k1 = 0)

These run as Python UDFs: corpus/test-scale surface, not a 100-TB hot
path (the distributed hot paths use xxhash64 JVM-side throughout).
"""

from __future__ import annotations

import struct

_M64 = (1 << 64) - 1

K0 = 0xC3A5C85C97CB3127
K1 = 0xB492B66FBE98F273
K2 = 0x9AE16A3B2F90404F
K3 = 0xC949D7C7509E6557
_KMUL = 0x9DDFEA08EB382D69


def _rot(v: int, s: int) -> int:
    return ((v >> s) | (v << (64 - s))) & _M64 if s else v


def _rot_al1(v: int, s: int) -> int:
    s &= 63
    s = s or 1
    return ((v >> s) | (v << (64 - s))) & _M64


def _shift_mix(v: int) -> int:
    return (v ^ (v >> 47)) & _M64


def hash128to64(lo: int, hi: int) -> int:
    a = ((lo ^ hi) * _KMUL) & _M64
    a ^= a >> 47
    b = ((hi ^ a) * _KMUL) & _M64
    b ^= b >> 47
    return (b * _KMUL) & _M64


def _hash_len16(u: int, v: int) -> int:
    return hash128to64(u, v)


def _fetch64(s: bytes, p: int) -> int:
    return struct.unpack_from("<Q", s, p)[0]


def _fetch32(s: bytes, p: int) -> int:
    return struct.unpack_from("<I", s, p)[0]


def _hash_len_0_to_16(s: bytes) -> int:
    n = len(s)
    if n > 8:
        a = _fetch64(s, 0)
        b = _fetch64(s, n - 8)
        return (_hash_len16(a, _rot_al1((b + n) & _M64, n)) ^ b) & _M64
    if n >= 4:
        a = _fetch32(s, 0)
        return _hash_len16((n + (a << 3)) & _M64, _fetch32(s, n - 4))
    if n > 0:
        a, b, c = s[0], s[n >> 1], s[n - 1]
        y = (a + (b << 8)) & 0xFFFFFFFF
        z = (n + (c << 2)) & 0xFFFFFFFF
        return (_shift_mix((y * K2 ^ z * K3) & _M64) * K2) & _M64
    return K2


def _hash_len_17_to_32(s: bytes) -> int:
    n = len(s)
    a = (_fetch64(s, 0) * K1) & _M64
    b = _fetch64(s, 8)
    c = (_fetch64(s, n - 8) * K2) & _M64
    d = (_fetch64(s, n - 16) * K0) & _M64
    return _hash_len16(
        (_rot((a - b) & _M64, 43) + _rot(c, 30) + d) & _M64,
        (a + _rot((b ^ K3) & _M64, 20) - c + n) & _M64,
    )


def _hash_len_33_to_64(s: bytes) -> int:
    n = len(s)
    z = _fetch64(s, 24)
    a = (_fetch64(s, 0) + (n + _fetch64(s, n - 16)) * K0) & _M64
    b = _rot((a + z) & _M64, 52)
    c = _rot(a, 37)
    a = (a + _fetch64(s, 8)) & _M64
    c = (c + _rot(a, 7)) & _M64
    a = (a + _fetch64(s, 16)) & _M64
    vf = (a + z) & _M64
    vs = (b + _rot(a, 31) + c) & _M64
    a = (_fetch64(s, 16) + _fetch64(s, n - 32)) & _M64
    z = _fetch64(s, n - 8)
    b = _rot((a + z) & _M64, 52)
    c = _rot(a, 37)
    a = (a + _fetch64(s, n - 24)) & _M64
    c = (c + _rot(a, 7)) & _M64
    a = (a + _fetch64(s, n - 16)) & _M64
    wf = (a + z) & _M64
    ws = (b + _rot(a, 31) + c) & _M64
    r = _shift_mix(((vf + ws) * K2 + (wf + vs) * K0) & _M64)
    return (_shift_mix((r * K0 + vs) & _M64) * K2) & _M64


def _weak_hash_len32_with_seeds(s: bytes, p: int, a: int, b: int):
    w = _fetch64(s, p)
    x = _fetch64(s, p + 8)
    y = _fetch64(s, p + 16)
    z = _fetch64(s, p + 24)
    a = (a + w) & _M64
    b = _rot((b + a + z) & _M64, 21)
    c = a
    a = (a + x + y) & _M64
    b = (b + _rot(a, 44)) & _M64
    return (a + z) & _M64, (b + c) & _M64


def cityhash64(s: bytes) -> int:
    """CityHash64 v1.0.2 of a byte string."""
    n = len(s)
    if n <= 16:
        return _hash_len_0_to_16(s)
    if n <= 32:
        return _hash_len_17_to_32(s)
    if n <= 64:
        return _hash_len_33_to_64(s)
    x = _fetch64(s, 0)
    y = (_fetch64(s, n - 16) ^ K1) & _M64
    z = (_fetch64(s, n - 56) ^ K0) & _M64
    v = _weak_hash_len32_with_seeds(s, n - 64, n, y)
    w = _weak_hash_len32_with_seeds(s, n - 32, (n * K1) & _M64, K0)
    z = (z + _shift_mix(v[1]) * K1) & _M64
    x = (_rot((z + x) & _M64, 39) * K1) & _M64
    y = (_rot(y, 33) * K1) & _M64
    rem = (n - 1) & ~63
    p = 0
    while True:
        x = (_rot((x + y + v[0] + _fetch64(s, p + 16)) & _M64, 37) * K1) & _M64
        y = (_rot((y + v[1] + _fetch64(s, p + 48)) & _M64, 42) * K1) & _M64
        x ^= w[1]
        y ^= v[0]
        z = _rot((z ^ w[0]) & _M64, 33)
        v = _weak_hash_len32_with_seeds(s, p, (v[1] * K1) & _M64, (x + w[0]) & _M64)
        w = _weak_hash_len32_with_seeds(s, p + 32, (z + w[1]) & _M64, y)
        z, x = x, z
        p += 64
        rem -= 64
        if rem == 0:
            break
    return _hash_len16(
        (_hash_len16(v[0], w[0]) + _shift_mix(y) * K1 + z) & _M64,
        (_hash_len16(v[1], w[1]) + x) & _M64,
    )


def siphash64(s: bytes) -> int:
    """SipHash-2-4 with the reference's zero key (src/Common/SipHash.h)."""
    v0 = 0x736F6D6570736575
    v1 = 0x646F72616E646F6D
    v2 = 0x6C7967656E657261
    v3 = 0x7465646279746573

    def _round():
        nonlocal v0, v1, v2, v3
        v0 = (v0 + v1) & _M64
        v1 = _rot(v1, 51)  # rotl 13 == rotr 51
        v1 ^= v0
        v0 = _rot(v0, 32)
        v2 = (v2 + v3) & _M64
        v3 = _rot(v3, 48)  # rotl 16
        v3 ^= v2
        v0 = (v0 + v3) & _M64
        v3 = _rot(v3, 43)  # rotl 21
        v3 ^= v0
        v2 = (v2 + v1) & _M64
        v1 = _rot(v1, 47)  # rotl 17
        v1 ^= v2
        v2 = _rot(v2, 32)

    n = len(s)
    end = n - (n % 8)
    for p in range(0, end, 8):
        m = _fetch64(s, p)
        v3 ^= m
        _round()
        _round()
        v0 ^= m
    b = (n & 0xFF) << 56
    tail = s[end:]
    for i, ch in enumerate(tail):
        b |= ch << (8 * i)
    v3 ^= b
    _round()
    _round()
    v0 ^= b
    v2 ^= 0xFF
    _round()
    _round()
    _round()
    _round()
    return (v0 ^ v1) ^ (v2 ^ v3)


def _to_i64(u: int) -> int:
    return u - (1 << 64) if u >= (1 << 63) else u


# ---------------------------------------------------------------------------
# Integer mixers (reference src/Common/HashTable/Hash.h) and the POD rule
# (FunctionsHashing.h IntHash64Impl/IntHash32Impl)
# ---------------------------------------------------------------------------

def inthash64(x: int) -> int:
    x &= _M64
    x ^= x >> 33
    x = (x * 0xFF51AFD7ED558CCD) & _M64
    x ^= x >> 33
    x = (x * 0xC4CEB9FE1A85EC53) & _M64
    x ^= x >> 33
    return x


def int_hash64_impl(x: int) -> int:
    return inthash64((x ^ 0x4CF2D2BAAE6DA887) & _M64)


def inthash32(key: int, salt: int = 0x75D9543DE018BF45) -> int:
    key = (key ^ salt) & _M64
    key = ((~key & _M64) + ((key << 18) & _M64)) & _M64
    key ^= ((key >> 31) | (key << 33)) & _M64
    key = (key * 21) & _M64
    key ^= ((key >> 11) | (key << 53)) & _M64
    key = (key + ((key << 6) & _M64)) & _M64
    key ^= ((key >> 22) | (key << 42)) & _M64
    return key & 0xFFFFFFFF


def int_hash32_impl(x: int) -> int:
    return inthash32(x)


# ---------------------------------------------------------------------------
# MurmurHash family (Austin Appleby, public domain) with the reference's
# seeds (FunctionsHashing.h: murmur2 seed 0, gccMurmurHash seed
# 0xc70f6907, murmur3 seed 0)
# ---------------------------------------------------------------------------

_M32 = 0xFFFFFFFF


def murmurhash2_32(data: bytes, seed: int = 0) -> int:
    m, r = 0x5BD1E995, 24
    n = len(data)
    h = (seed ^ n) & _M32
    i = 0
    while n - i >= 4:
        k = struct.unpack_from("<I", data, i)[0]
        k = (k * m) & _M32
        k ^= k >> r
        k = (k * m) & _M32
        h = (h * m) & _M32
        h ^= k
        i += 4
    rem = n - i
    if rem >= 3:
        h ^= data[i + 2] << 16
    if rem >= 2:
        h ^= data[i + 1] << 8
    if rem >= 1:
        h ^= data[i]
        h = (h * m) & _M32
    h ^= h >> 13
    h = (h * m) & _M32
    h ^= h >> 15
    return h


def murmurhash64a(data: bytes, seed: int = 0) -> int:
    m, r = 0xC6A4A7935BD1E995, 47
    n = len(data)
    h = (seed ^ ((n * m) & _M64)) & _M64
    i = 0
    while n - i >= 8:
        k = struct.unpack_from("<Q", data, i)[0]
        k = (k * m) & _M64
        k ^= k >> r
        k = (k * m) & _M64
        h ^= k
        h = (h * m) & _M64
        i += 8
    rem = n - i
    for j in range(rem - 1, -1, -1):
        h ^= data[i + j] << (8 * j)
    if rem:
        h = (h * m) & _M64
    h ^= h >> r
    h = (h * m) & _M64
    h ^= h >> r
    return h


def _rotl32(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _M32


def murmurhash3_32(data: bytes, seed: int = 0) -> int:
    c1, c2 = 0xCC9E2D51, 0x1B873593
    n = len(data)
    h = seed & _M32
    i = 0
    while n - i >= 4:
        k = struct.unpack_from("<I", data, i)[0]
        k = (k * c1) & _M32
        k = _rotl32(k, 15)
        k = (k * c2) & _M32
        h ^= k
        h = _rotl32(h, 13)
        h = (h * 5 + 0xE6546B64) & _M32
        i += 4
    k = 0
    rem = n - i
    if rem >= 3:
        k ^= data[i + 2] << 16
    if rem >= 2:
        k ^= data[i + 1] << 8
    if rem >= 1:
        k ^= data[i]
        k = (k * c1) & _M32
        k = _rotl32(k, 15)
        k = (k * c2) & _M32
        h ^= k
    h ^= n
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & _M32
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & _M32
    h ^= h >> 16
    return h


def _fmix64(x: int) -> int:
    x ^= x >> 33
    x = (x * 0xFF51AFD7ED558CCD) & _M64
    x ^= x >> 33
    x = (x * 0xC4CEB9FE1A85EC53) & _M64
    x ^= x >> 33
    return x


def murmurhash3_128(data: bytes, seed: int = 0) -> tuple[int, int]:
    c1, c2 = 0x87C37B91114253D5, 0x4CF5AD432745937F
    n = len(data)
    h1 = h2 = seed & _M64
    nblocks = n // 16
    for b in range(nblocks):
        k1 = struct.unpack_from("<Q", data, b * 16)[0]
        k2 = struct.unpack_from("<Q", data, b * 16 + 8)[0]
        k1 = (k1 * c1) & _M64
        k1 = _rot(k1, 64 - 31)
        k1 = (k1 * c2) & _M64
        h1 ^= k1
        h1 = _rot(h1, 64 - 27)
        h1 = (h1 + h2) & _M64
        h1 = (h1 * 5 + 0x52DCE729) & _M64
        k2 = (k2 * c2) & _M64
        k2 = _rot(k2, 64 - 33)
        k2 = (k2 * c1) & _M64
        h2 ^= k2
        h2 = _rot(h2, 64 - 31)
        h2 = (h2 + h1) & _M64
        h2 = (h2 * 5 + 0x38495AB5) & _M64
    tail = data[nblocks * 16 :]
    k1 = k2 = 0
    t = len(tail)
    for j in range(t - 1, 7, -1):
        k2 |= tail[j] << (8 * (j - 8))
    if t > 8:
        k2 = (k2 * c2) & _M64
        k2 = _rot(k2, 64 - 33)
        k2 = (k2 * c1) & _M64
        h2 ^= k2
    for j in range(min(t, 8) - 1, -1, -1):
        k1 |= tail[j] << (8 * j)
    if t > 0:
        k1 = (k1 * c1) & _M64
        k1 = _rot(k1, 64 - 31)
        k1 = (k1 * c2) & _M64
        h1 ^= k1
    h1 ^= n
    h2 ^= n
    h1 = (h1 + h2) & _M64
    h2 = (h2 + h1) & _M64
    h1 = _fmix64(h1)
    h2 = _fmix64(h2)
    h1 = (h1 + h2) & _M64
    h2 = (h2 + h1) & _M64
    return h1, h2


def murmurhash3_64(data: bytes) -> int:
    h1, h2 = murmurhash3_128(data)
    return h1 ^ h2


def halfmd5(data: bytes) -> int:
    import hashlib

    d = hashlib.md5(data).digest()
    # first 8 bytes read little-endian then byte-flipped == big-endian
    return struct.unpack(">Q", d[:8])[0]


# ---------------------------------------------------------------------------
# Typed-argument hashing: serialize PODs at their reference widths and
# fold multi-argument calls with each family's combine rule
# (FunctionsHashing.h executeIntType/executeString/executeArray)
# ---------------------------------------------------------------------------

#: kind -> (bytes_hash, returns_bits, uses_int_hash_for_pods)
_KINDS = {
    "city": (cityhash64, 64, True),
    "sip": (siphash64, 64, False),
    "md5": (halfmd5, 64, False),
    "m2_32": (murmurhash2_32, 32, False),
    "m2_64": (murmurhash64a, 64, False),
    "gcc": (lambda b: murmurhash64a(b, 0xC70F6907), 64, False),
    "m3_32": (murmurhash3_32, 32, False),
    "m3_64": (murmurhash3_64, 64, False),
}


def _pod_bytes(val, width: int) -> bytes:
    if isinstance(val, float):
        return struct.pack("<f" if width == 4 else "<d", val)
    mask = (1 << (8 * width)) - 1
    return int(val & mask).to_bytes(width, "little")


def _bit_cast64(val, width: int) -> int:
    """ext::bit_cast<UInt64>: reinterpret then ZERO-extend to 64 bits."""
    if isinstance(val, float):
        raw = struct.pack("<f" if width == 4 else "<d", val)
        return int.from_bytes(raw, "little")
    return val & ((1 << (8 * width)) - 1)


def hash_value(kind: str, node) -> int:
    """Hash one parsed literal node:
    ("int", v, w) | ("float", v, w) | ("str", bytes) | ("array", [nodes]).
    Tuples never reach here — they flatten into separate arguments."""
    bytes_hash, bits, int_pods = _KINDS[kind]
    tag = node[0]
    if tag == "str":
        return bytes_hash(node[1])
    if tag in ("int", "float"):
        _, v, w = node
        if int_pods:
            h = int_hash64_impl(_bit_cast64(v, w))
            return h if bits == 64 else int_hash32_impl(h)
        return bytes_hash(_pod_bytes(v, w))
    if tag == "array":
        elems = node[1]
        h = (int_hash64_impl if bits == 64 else int_hash32_impl)(len(elems))
        for e in elems:
            h = combine(kind, h, hash_value(kind, e))
        return h
    raise ValueError(f"chhash: cannot hash node {tag}")


def combine(kind: str, h1: int, h2: int) -> int:
    if kind == "city":
        return hash128to64(h1, h2)
    if kind == "sip":
        return siphash64(struct.pack("<QQ", h1, h2))
    if kind == "md5":
        return halfmd5(struct.pack("<QQ", h1, h2))
    if kind in ("m2_32", "m3_32"):
        return int_hash32_impl(h1) ^ h2
    return int_hash64_impl(h1) ^ h2  # m2_64 / m3_64 / gcc


def fold(kind: str, nodes) -> int:
    """Hash a full argument list (tuples pre-flattened by the caller).

    A top-level array argument STREAMS into the running accumulator —
    combine(h, IntHash(len)) then combine per element — because
    executeArray writes straight into vec_to and the combine rules are
    not associative; only arrays nested inside arrays hash locally
    (executeAny<true> into vec_temp)."""
    h = None
    for nd in nodes:
        if nd[0] == "array":
            bits = _KINDS[kind][1]
            lh = (int_hash64_impl if bits == 64 else int_hash32_impl)(
                len(nd[1])
            )
            h = lh if h is None else combine(kind, h, lh)
            for e in nd[1]:
                h = combine(kind, h, hash_value(kind, e))
            continue
        hv = hash_value(kind, nd)
        h = hv if h is None else combine(kind, h, hv)
    return h if h is not None else 0




def jump_consistent_hash(key: int, n: int) -> int:
    """Lamping & Veach jump consistent hash (the public Google paper;
    src/Functions/jumpConsistentHash.cpp applies it to an Int64 key)."""
    key &= _M64
    b, j = -1, 0
    while j < n:
        b = j
        key = (key * 2862933555777941757 + 1) & _M64
        j = int(float(b + 1) * (float(1 << 31) / float((key >> 33) + 1)))
    return b


def _ch_pow2_bucket(a: int, b: int, c: int, k2: int) -> int:
    # contrib/consistent-hashing: exact bucket for n = 2^k
    cblock = c & (k2 - 1)
    if cblock < 2:
        return cblock
    y2 = 1 << (cblock.bit_length() - 1)
    ab = (a if bin(cblock).count("1") % 2 == 0 else b) & (y2 - 1)
    return y2 + ab


def yandex_consistent_hash(x: int, n: int) -> int:
    """contrib/consistent-hashing ConsistentHashing(UInt64, n) with
    16-bit blocks (a,b,c,d = the four uint16 halves of x)."""
    x &= _M64
    a, b = x & 0xFFFF, (x >> 16) & 0xFFFF
    c, d = (x >> 32) & 0xFFFF, (x >> 48) & 0xFFFF
    if n <= 1:
        return 0
    k = (n - 1).bit_length()
    k2 = 1 << k
    large = _ch_pow2_bucket(a, b, c, k2)
    if large < n:
        return large
    k21 = 1 << (k - 1)
    shift = 16 - k
    res = ((d << shift) | (c >> k)) & _M64
    shift += 1
    res = ((res << shift) | (b >> (k - 1))) & _M64
    res = ((res << shift) | (a >> (k - 1))) & _M64
    s = res % (large * (large + 1))
    large2 = s // k2 + k21
    if large2 < n:
        return large2
    return _ch_pow2_bucket(a, b, c, k21)


def register_udfs(spark) -> None:
    """Register string-input hash UDFs for dynamic (non-literal) args.
    Python row-at-a-time UDFs — corpus/test surface only; distributed
    hot paths use xxhash64 JVM-side."""
    if getattr(spark, "_daisy_chhash_udfs", False):
        return

    def _s(f):
        return lambda s: (
            None if s is None else _to_i64(f(s.encode("utf-8")))
        )

    spark.udf.register("ch_cityhash64_str", _s(cityhash64), "long")
    spark.udf.register("ch_siphash64_str", _s(siphash64), "long")
    spark.udf.register(
        "ch_city_comb",
        lambda a, b: (
            None if a is None or b is None
            else _to_i64(hash128to64(a & _M64, b & _M64))
        ),
        "long",
    )
    spark.udf.register(
        "ch_inthash32",
        lambda x: None if x is None else int_hash32_impl(x & _M64),
        "long",
    )

    def _hex_float(v, w):
        if v is None:
            return None
        return struct.pack("<f" if w == 4 else "<d", float(v)).hex().upper()

    def _hex_le_str(s, w):
        if s is None:
            return None
        return int(s).to_bytes(w, "little", signed=True).hex().upper()

    spark.udf.register(
        "ch_jump_hash",
        lambda s, n: (
            None if s is None or n is None
            else jump_consistent_hash(int(s) % (1 << 64), int(n))
        ),
        "long",
    )
    spark.udf.register(
        "ch_yandex_hash",
        lambda s, n: (
            None if s is None or n is None
            else yandex_consistent_hash(int(s) % (1 << 64), int(n))
        ),
        "long",
    )
    spark.udf.register("ch_hex_float", _hex_float, "string")
    spark.udf.register("ch_hex_le_str", _hex_le_str, "string")
    spark._daisy_chhash_udfs = True
