"""Scalar hash-function registry — the engine's mirror of quichash's
15-algorithm kernel registry (F1, /root/reference/src/hash.rs:12-21,
320-439) and fast-mode sampled hashing (P3, src/hash.rs:977-1066).

Dispatch policy (SURVEY.md §2.7): algorithms with JVM built-ins stay in
whole-stage codegen (`F.md5`, `F.sha1`, `F.sha2`, `F.xxhash64`, `F.crc32`);
the rest run as Arrow-vectorized pandas UDFs — never per-row Python UDFs.
SHA3/BLAKE2 use Python's hashlib; BLAKE3 and XXH3/XXH128 (no wheel in this
environment) dispatch through three tiers (``resolve_batch_kernels``):
an installed wheel, else a compile-on-first-use C kernel
(:mod:`quichash_spark.functions.cc_kernels` — a translation of this
repo's own spec kernels, gated on reproducing the published vectors at
load time), else the spec-implemented pure-Python kernels in
:mod:`quichash_spark.functions.blake3_pure` / ``xxh3_pure`` — validated
against the published test vectors (see those modules' docstrings).
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable

import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from quichash_spark.functions import cc_kernels
from quichash_spark.functions.blake3_pure import blake3_hex, blake3_hex_batch
from quichash_spark.functions.xxh3_pure import xxh3_64_hex, xxh3_128_hex

_LOG = __import__("logging").getLogger(__name__)


def resolve_native_kernels() -> dict[str, Callable[[bytes], str]]:
    """Prefer wheel-backed C kernels when installed (``blake3``,
    ``xxhash``); fall back to the spec-implemented pure-Python kernels
    (:func:`resolve_batch_kernels` logs any algorithm left that slow).
    Without the wheel, blake3 (the reference's *default* dedup
    algorithm, src/dedup.rs:279-282) runs the numpy-vectorized batch
    kernel at the UDF layer (~50 MB/s/core — see
    ``blake3_pure.blake3_hex_batch``); xxh3/xxh128 remain
    interpreter-speed catalog closure (JVM xxh64 is the fast path)."""
    kernels: dict[str, Callable[[bytes], str]] = {}
    try:
        import blake3 as _b3  # type: ignore[import-not-found]

        kernels["blake3"] = lambda b: _b3.blake3(b).hexdigest()
    except ImportError:
        kernels["blake3"] = blake3_hex
    try:
        import xxhash as _xxh  # type: ignore[import-not-found]

        kernels["xxh3"] = _xxh.xxh3_64_hexdigest
        kernels["xxh128"] = _xxh.xxh3_128_hexdigest
    except ImportError:
        kernels["xxh3"] = xxh3_64_hex
        kernels["xxh128"] = xxh3_128_hex
    return kernels


def resolve_batch_kernels() -> tuple[
    dict[str, str], dict[str, Callable[[list[bytes]], list[str]]]
]:
    """Kernel tiers for the three algorithms with no JVM built-in
    (blake3 / xxh3 / xxh128): ``wheel`` (installed C extension) >
    ``cc`` (compile-on-first-use C translation of the spec kernels,
    :mod:`cc_kernels` — ~350-3500 MB/s/core measured) > ``purevec``
    (numpy-vectorized / scalar spec Python).  Returns
    ``(provenance_by_algo, batch_kernel_by_algo)``; the registry below
    wraps each batch kernel in one Arrow-batched pandas UDF; one log
    line names any algorithm left on the ``purevec`` tier."""
    scalar = resolve_native_kernels()
    wheel_b3 = scalar["blake3"] is not blake3_hex
    wheel_x = scalar["xxh3"] is not xxh3_64_hex
    cc = None if (wheel_b3 and wheel_x) else cc_kernels.available()

    def _lift(fn: Callable[[bytes], str]) -> Callable[[list[bytes]], list[str]]:
        return lambda vals: [fn(v) for v in vals]

    prov: dict[str, str] = {}
    batch: dict[str, Callable[[list[bytes]], list[str]]] = {}
    if wheel_b3:
        prov["blake3"], batch["blake3"] = "wheel", _lift(scalar["blake3"])
    elif cc is not None:
        prov["blake3"], batch["blake3"] = "cc", cc_kernels.blake3_hex_batch_cc
    else:
        prov["blake3"], batch["blake3"] = "purevec", blake3_hex_batch
    if wheel_x:
        prov["xxh3"], batch["xxh3"] = "wheel", _lift(scalar["xxh3"])
        prov["xxh128"], batch["xxh128"] = "wheel", _lift(scalar["xxh128"])
    elif cc is not None:
        prov["xxh3"], batch["xxh3"] = "cc", cc_kernels.xxh3_64_hex_batch_cc
        prov["xxh128"] = "cc"
        batch["xxh128"] = cc_kernels.xxh3_128_hex_batch_cc
    else:
        prov["xxh3"], batch["xxh3"] = "purevec", _lift(xxh3_64_hex)
        prov["xxh128"], batch["xxh128"] = "purevec", _lift(xxh3_128_hex)
    if "purevec" in prov.values():
        _LOG.warning(
            "no wheel and no C compiler for %s: falling back to the "
            "interpreter/numpy spec kernels (~MB/s). Install `blake3`/"
            "`xxhash` wheels or gcc on the cluster for C-speed hashing; "
            "JVM sha256/xxh64 remain the bulk-hash fast path.",
            sorted(a for a, p in prov.items() if p == "purevec"),
        )
    return prov, batch


#: provenance of the non-JVM kernels actually wired into HASH_REGISTRY
#: ("wheel" | "cc" | "purevec") — bench.py sizes its corpus tiers off this
KERNEL_PROVENANCE, _BATCH = resolve_batch_kernels()


def _hashlib_udf(algo: str) -> Callable[[Column], Column]:
    @F.pandas_udf(StringType())
    def _h(s: pd.Series) -> pd.Series:
        return s.map(
            lambda v: hashlib.new(algo, v if isinstance(v, bytes) else str(v).encode("utf-8")).hexdigest()
            if v is not None
            else None
        )

    return lambda col: _h(col)


def _batch_udf(fn_batch: Callable[[list[bytes]], list[str]]) -> Callable[[Column], Column]:
    """Wrapper for WHOLE-BATCH kernels (one call per Arrow batch, the
    kernel vectorizes internally across rows — blake3_hex_batch)."""

    @F.pandas_udf(StringType())
    def _h(s: pd.Series) -> pd.Series:
        vals = [
            v if isinstance(v, bytes) else (None if v is None else str(v).encode("utf-8"))
            for v in s
        ]
        idx = [i for i, v in enumerate(vals) if v is not None]
        hexes = fn_batch([vals[i] for i in idx])
        out: list[str | None] = [None] * len(vals)
        for i, h in zip(idx, hexes):
            out[i] = h
        return pd.Series(out, dtype=object)

    return lambda col: _h(col)


#: algorithm name -> (Column -> hex-string Column).  JVM-native entries
#: marked; the reference's full catalog is covered (src/hash.rs:346-439).
HASH_REGISTRY: dict[str, Callable[[Column], Column]] = {
    # JVM built-ins (whole-stage codegen)
    "md5": lambda c: F.md5(c),
    "sha1": lambda c: F.sha1(c),
    "sha256": lambda c: F.sha2(c, 256),
    "sha224": lambda c: F.sha2(c, 224),
    "sha384": lambda c: F.sha2(c, 384),
    "sha512": lambda c: F.sha2(c, 512),
    "crc32": lambda c: F.lower(F.hex(F.crc32(c))),
    "xxh64": lambda c: F.lower(F.hex(F.xxhash64(c))),
    # Arrow-vectorized hashlib kernels
    "sha3-224": _hashlib_udf("sha3_224"),
    "sha3-256": _hashlib_udf("sha3_256"),
    "sha3-384": _hashlib_udf("sha3_384"),
    "sha3-512": _hashlib_udf("sha3_512"),
    "blake2b": _hashlib_udf("blake2b"),
    "blake2s": _hashlib_udf("blake2s"),
    # spec-implemented kernels (see module docstrings for the
    # published-vector validation status); the reference's default dedup
    # algorithm is blake3 (src/dedup.rs:279-282), xxh3/xxh128 mirror its
    # xxhash-rust wrappers (src/hash.rs:276-338).  Tiered dispatch
    # (resolve_batch_kernels): wheel > compile-on-first-use C kernel
    # (cc_kernels, published-vector-gated) > numpy/scalar spec Python.
    "blake3": _batch_udf(_BATCH["blake3"]),
    "xxh3": _batch_udf(_BATCH["xxh3"]),
    "xxh128": _batch_udf(_BATCH["xxh128"]),
}


def hash_column(col: Column, algorithm: str) -> Column:
    """Dispatch like quichash's HashRegistry::get_hasher
    (src/hash.rs:320-343); unknown algorithm raises KeyError with the
    catalog, mirroring its error path."""
    try:
        return HASH_REGISTRY[algorithm](col)
    except KeyError:
        raise KeyError(
            f"unknown algorithm {algorithm!r}; available: {sorted(HASH_REGISTRY)}"
        ) from None


def multi_hash(col: Column, algorithms: list[str]) -> list[Column]:
    """Single-pass multi-hash (reference P2, src/hash.rs:814-967): one
    select evaluating N hash expressions per batch in one scan."""
    return [hash_column(col, a).alias(a.replace("-", "_")) for a in algorithms]


# ---------------------------------------------------------------------------
# fast-mode sampled hashing (reference P3, src/hash.rs:977-1066)
# ---------------------------------------------------------------------------

FAST_MODE_THRESHOLD = 300  # sample when longer than this (ref: 300 MB files)
FAST_MODE_SAMPLE = 100     # bytes per region (ref: 100 MB regions)


def fast_mode_md5(col: Column, threshold: int = FAST_MODE_THRESHOLD,
                  sample: int = FAST_MODE_SAMPLE) -> Column:
    """Sampled digest: md5 over first/middle/last ``sample`` units when the
    value exceeds ``threshold``, else over the whole value — quichash fast
    mode scaled down (src/hash.rs:466-467,977-1032: 3x100MB regions above
    300MB).  Pure JVM (substring arithmetic), SQL-expressible for the
    DuckDB oracle."""
    n = F.length(col)
    mid_start = F.floor((n - F.lit(sample)) / F.lit(2)) + F.lit(1)
    sampled = F.concat(
        col.substr(F.lit(1), F.lit(sample)),
        col.substr(mid_start.cast("int"), F.lit(sample)),
        col.substr((n - F.lit(sample) + F.lit(1)).cast("int"), F.lit(sample)),
    )
    return F.when(n > threshold, F.md5(sampled)).otherwise(F.md5(col))
