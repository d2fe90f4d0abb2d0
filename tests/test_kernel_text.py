"""MinHash text kernel, no Spark: the vectorized XXH64 against
``xxhash64`` values recorded from Spark and a scalar XXH64 written from
the public spec, and the chunked shingle/signature/band-key pass against
a per-document loop reference."""

import random

import numpy as np
import pytest

from sparkh3.kernel import text as kt

M64 = (1 << 64) - 1
P1 = 0x9E3779B185EBCA87
P2 = 0xC2B2AE3D27D4EB4F
P3 = 0x165667B19E3779F9
P4 = 0x85EBCA77C2B2AE63
P5 = 0x27D4EB2F165667C5

# ``SELECT xxhash64(t)`` (seed 42) on Spark 4.1 for the strings of
# _SPARK_TEXTS, in order: every length 0..70 bytes, so each 1-, 4-, 8-
# and 32-byte path runs, then three multi-byte UTF-8 texts
SPARK_XXHASH64 = [
    -7444071767201028348, -6311126006683288135, 4583938488564079135,
    -7052673091582930264, 8354448701318224014, 4282158837944637199,
    -8402111140224875094, -5101693755872341554, -891853684756715180,
    7551385873108665358, 1665409198526766299, 179782656844691078,
    -7558458784979727023, -7455068255493386873, 553999349432136010,
    -7810160278898255439, 2860565699990860909, -1302857446109162796,
    1183295304705572526, -5006843084329692029, 6999849711190217413,
    -6082531666588214385, 4966083297828497815, -6727365748617648309,
    5704643642927416226, 3771380111775894375, 6364090245905200220,
    -8370538003987635126, -6593269888381424488, -910606350742291817,
    4476203098039478330, 7912600270655784841, -1056095403450319144,
    -2027827134984844652, 987314852539144298, 6253387911941391990,
    4159985544978839881, 8907742969499499742, 1486088097676867240,
    6110994585581370911, 5820725508270666443, -4147312962463942886,
    -1139144789632314582, -8038658118403199231, 5663010336014278131,
    -4624756806381431564, -2303575095063154113, 5099924710274689750,
    3252823897154591894, 94949485808479219, 2734458652230328272,
    -5522251072993542722, 1675743774718404830, -7201501346622481478,
    1794448258298750436, -3755745379838311610, 8256286132451140235,
    7012532300573457384, -8948249621525480578, 3634862738803884215,
    -4545957637430012535, 2696245934377949655, -7597698793001264491,
    -8406803537449244942, -6065835432099785797, 2207720371487974293,
    4031072860577464092, 3548214810448459223, -6099438442920105168,
    -862474940412607967, -2928318384643828262, -4299509217354321023,
    1219072378590617505, -7761048892145395894,]
_SPARK_TEXTS = [
    "".join(chr(33 + (i * 7 + k * 13) % 90) for k in range(i)) for i in range(71)
] + ["é" * 3, "\U0001F600x", "a\tb\nc"]


def _xxh64_ref(data: bytes) -> int:
    """Scalar XXH64 with Spark's seed, one byte string at a time."""
    seed = 42

    def rotl(x, r):
        return ((x << r) | (x >> (64 - r))) & M64

    def rnd(acc, lane):
        return rotl((acc + lane * P2) & M64, 31) * P1 & M64

    def word(i, w):
        return int.from_bytes(data[i : i + w], "little")

    n, i = len(data), 0
    if n >= 32:
        v = [(seed + P1 + P2) & M64, (seed + P2) & M64, seed, (seed - P1) & M64]
        while i + 32 <= n:
            v = [rnd(v[j], word(i + 8 * j, 8)) for j in range(4)]
            i += 32
        h = (rotl(v[0], 1) + rotl(v[1], 7) + rotl(v[2], 12) + rotl(v[3], 18)) & M64
        for x in v:
            h = ((h ^ rnd(0, x)) * P1 + P4) & M64
    else:
        h = (seed + P5) & M64
    h = (h + n) & M64
    while i + 8 <= n:
        h = (rotl(h ^ rnd(0, word(i, 8)), 27) * P1 + P4) & M64
        i += 8
    if i + 4 <= n:
        h = (rotl(h ^ (word(i, 4) * P1 & M64), 23) * P2 + P3) & M64
        i += 4
    while i < n:
        h = rotl(h ^ (data[i] * P5 & M64), 11) * P1 & M64
        i += 1
    h ^= h >> 33
    h = h * P2 & M64
    h ^= h >> 29
    h = h * P3 & M64
    return h ^ (h >> 32)


def _pack(blobs):
    """(buf, start, length) of byte strings laid end to end, with the 8
    bytes of read slack ``kt.xxh64`` needs."""
    lens = np.array([len(b) for b in blobs], dtype=np.int64)
    buf = np.frombuffer(b"".join(blobs) + bytes(8), dtype=np.uint8)
    return buf, np.cumsum(lens) - lens, lens


def _signed(h: int) -> int:
    return h - (1 << 64) if h >> 63 else h


def test_xxh64_matches_spark_on_every_short_length():
    blobs = [t.encode() for t in _SPARK_TEXTS]
    got = kt.xxh64(*_pack(blobs)).view(np.int64).tolist()
    assert got == SPARK_XXHASH64
    assert [_signed(_xxh64_ref(b)) for b in blobs] == SPARK_XXHASH64


def test_xxh64_mixed_lengths_in_one_pass():
    """Strings of many stripe counts hashed together, in shuffled order
    and at unaligned offsets, each equal to the scalar hash."""
    rng = random.Random(71)
    blobs = [rng.randbytes(rng.randint(0, 300)) for _ in range(400)]
    blobs += [rng.randbytes(n) for n in (32, 64, 96, 1000, 4099)]
    rng.shuffle(blobs)
    got = kt.xxh64(*_pack(blobs)).tolist()
    assert got == [_xxh64_ref(b) for b in blobs]


TEXTS = [
    "",
    " ",
    "    ",
    "one",
    "one two",
    "one two three",
    "a  b   c    d e",
    "  pad  both  ends  ",
    "a\tb c\nd e\t\nf",
    "𝔘𝔫𝔦 co de 𝔴𝔬𝔯𝔡 s",
    "é ü 😀 x😀y 中文 字",
    "x" * 33 + " " + "y" * 40 + " short " + "z" * 71,
    " ".join(f"w{i % 13}" for i in range(500)),
]


def _texts():
    rng = random.Random(5)
    alphabet = ["a", "bb", " ", "  ", "\t", "\n", "é", "𝔘", "q" * 37]
    fuzz = [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 30)))
        for _ in range(300)
    ]
    return TEXTS + fuzz


def _shingles_ref(text: str, n: int) -> list[str]:
    toks = [t for t in text.split(" ") if t]
    if len(toks) <= n:
        return [" ".join(toks)]
    return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]


def _signature_ref(text: str, n: int, a, b) -> list[int]:
    hs = [_xxh64_ref(s.encode()) for s in _shingles_ref(text, n)]
    return [
        min(((int(aj) * h + int(bj)) & M64) >> 1 for h in hs)
        for aj, bj in zip(a, b)
    ]


@pytest.mark.parametrize("chunk", [5, 64, kt.SHINGLE_CHUNK])
@pytest.mark.parametrize("n", [1, 2, 3])
def test_signatures_match_loop_reference(monkeypatch, chunk, n):
    """Runs of documents and slices of one long document (small chunks)
    give the signatures of the per-document loop."""
    monkeypatch.setattr(kt, "SHINGLE_CHUNK", chunk)
    texts = _texts()
    a, b = kt.minhash_coeffs(16)
    blobs = [t.encode() for t in texts]
    data = np.frombuffer(b"".join(blobs), dtype=np.uint8)
    offsets = np.cumsum([0] + [len(x) for x in blobs])
    sig = kt.signatures(data, offsets, n, a, b)
    assert sig.tolist() == [_signature_ref(t, n, a, b) for t in texts]


@pytest.mark.parametrize("bands", [1, 2, 4, 8, 16])
def test_band_keys_match_loop_reference(bands):
    rng = np.random.default_rng(3)
    sig = rng.integers(0, 1 << 63, size=(50, 16), dtype=np.uint64)
    sig[0] = 0
    sig[1] = (1 << 63) - 1
    r = 16 // bands

    def key(k, row):
        text = ",".join(map(str, [k, *row[k * r : (k + 1) * r]]))
        return _signed(_xxh64_ref(text.encode()))

    want = [[key(k, row) for k in range(bands)] for row in sig.tolist()]
    assert kt.band_keys(sig, bands).tolist() == want
    assert kt.band_keys(sig[:0], bands).shape == (0, bands)
