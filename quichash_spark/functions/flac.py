"""FLAC decoder (and a test encoder) from the public format spec
(RFC 9639 / xiph.org FLAC format), stdlib + numpy only.

Closes the `flac` entry of the audio codec registry that rounds 1-3
carried as an honest stub: FLAC is lossless — its decode path is pure
bit-stream parsing (Rice/unary codes) + integer prediction, no DSP
tables or wheels required.  Supported: 8/16-bit samples, 1-2 channels
(all four stereo decorrelation modes), constant / verbatim / fixed /
LPC subframes, Rice + RICE2 residual partitions incl. the raw-bits
escape, wasted bits, frame CRC-8/CRC-16 verification.  Exotic depths
(12/20/24/32-bit) and >2 channels raise ``ValueError`` (surfaced as
``decode_ok=false`` by ``audio.decode_pcm``).

Contract matches the other audio codecs: ``bytes -> 1-D int16 PCM``,
stereo integer-mean downmixed exactly like the WAV decoder.

Validation strategy (same as PNG/JPEG): a spec-conformant ENCODER lives
here (verbatim / constant / fixed-order Rice subframes, real CRCs) and
tests round-trip through it losslessly; Rice coding, fixed prediction
and the stereo modes are additionally pinned by hand-derived bit-level
cases.  The reference never decodes payloads
(/root/reference/src/hash.rs:595-667); this is extension surface.

Scale note: Rice decoding is inherently bit-serial (one Python loop
iteration per residual), like the PNG Paeth path — fine for
feature-extraction volumes, and the registry swap-in point for a C
decoder wheel on bulk-audio clusters is ``audio.CODECS["flac"]``.
Verbatim/constant subframes and fixed-order reconstruction
(cumulative-sum form) are vectorized.
"""

from __future__ import annotations

import struct

import numpy as np

FLAC_MAGIC = b"fLaC"

def _crc8(data: bytes) -> int:
    """CRC-8, poly x^8+x^2+x+1 (0x07), init 0 — frame header CRC."""
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07 if crc & 0x80 else crc << 1) & 0xFF
    return crc


def _crc16(data: bytes) -> int:
    """CRC-16, poly 0x8005, init 0 — whole-frame CRC."""
    crc = 0
    for b in data:
        crc ^= b << 8
        for _ in range(8):
            crc = ((crc << 1) ^ 0x8005 if crc & 0x8000 else crc << 1) & 0xFFFF
    return crc


class _BitReader:
    """MSB-first bit reader tracking byte position for CRC slices."""

    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self.pos = pos       # byte position of the NEXT unread byte
        self.buf = 0
        self.nbits = 0

    def read(self, n: int) -> int:
        while self.nbits < n:
            if self.pos >= len(self.data):
                raise ValueError("FLAC stream truncated")
            self.buf = (self.buf << 8) | self.data[self.pos]
            self.pos += 1
            self.nbits += 8
        self.nbits -= n
        v = (self.buf >> self.nbits) & ((1 << n) - 1)
        self.buf &= (1 << self.nbits) - 1
        return v

    def read_signed(self, n: int) -> int:
        v = self.read(n)
        return v - (1 << n) if v >= (1 << (n - 1)) else v

    def read_unary(self) -> int:
        q = 0
        while self.read(1) == 0:
            q += 1
        return q

    def align(self) -> None:
        self.buf = 0
        self.nbits = 0


def _read_utf8_number(br: _BitReader) -> int:
    """UTF-8-style coded frame/sample number (extended to 7 bytes)."""
    b0 = br.read(8)
    if b0 < 0x80:
        return b0
    n_cont = 0
    mask = 0x40
    while b0 & mask:
        n_cont += 1
        mask >>= 1
    if n_cont < 1 or n_cont > 6:
        raise ValueError("invalid FLAC frame number coding")
    v = b0 & (mask - 1)
    for _ in range(n_cont):
        c = br.read(8)
        if c & 0xC0 != 0x80:
            raise ValueError("invalid FLAC frame number continuation")
        v = (v << 6) | (c & 0x3F)
    return v


_BLOCKSIZE_CODE = {1: 192, **{n: 576 * (1 << (n - 2)) for n in range(2, 6)},
                   **{n: 256 * (1 << (n - 8)) for n in range(8, 16)}}
_SAMPLE_SIZE_CODE = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24, 7: 32}


def _zigzag_decode(v: int) -> int:
    return (v >> 1) ^ -(v & 1)


def _read_residual(br: _BitReader, blocksize: int, order: int) -> np.ndarray:
    """Rice-coded residual (spec §9.2.7): partitioned, 4- or 5-bit
    parameters, all-ones parameter = raw-bits escape."""
    method = br.read(2)
    if method > 1:
        raise ValueError(f"reserved FLAC residual method {method}")
    pbits = 4 + method
    escape = (1 << pbits) - 1
    po = br.read(4)
    n_part = 1 << po
    if blocksize % n_part != 0:
        raise ValueError("FLAC blocksize not divisible by partition count")
    if blocksize // n_part < order:
        raise ValueError("invalid FLAC partition order")
    out = np.empty(blocksize - order, dtype=np.int64)
    idx = 0
    for p in range(n_part):
        count = blocksize // n_part - (order if p == 0 else 0)
        param = br.read(pbits)
        if param == escape:
            nbits = br.read(5)
            for _ in range(count):
                out[idx] = br.read_signed(nbits) if nbits else 0
                idx += 1
        else:
            for _ in range(count):
                q = br.read_unary()
                v = (q << param) | br.read(param)
                out[idx] = _zigzag_decode(v)
                idx += 1
    return out


def _reconstruct_fixed(order: int, warmup: np.ndarray, residual: np.ndarray) -> np.ndarray:
    """Fixed predictor reconstruction — residual is the order-th finite
    difference, so reconstruction is ``order`` cumulative sums seeded by
    the warmup differences (vectorized; no per-sample Python loop)."""
    if order == 0:
        return residual.copy()
    # seeds: the k-th difference chain of the warmup samples
    diffs = [warmup.astype(np.int64)]
    for _ in range(order):
        diffs.append(np.diff(diffs[-1]))
    signal = residual.astype(np.int64)
    for k in range(order, 0, -1):
        seed = diffs[k - 1][-1]  # last known (k-1)-th difference
        signal = seed + np.cumsum(signal, dtype=np.int64)
    return np.concatenate([warmup.astype(np.int64), signal])


def _read_subframe(br: _BitReader, blocksize: int, bps: int) -> np.ndarray:
    if br.read(1) != 0:
        raise ValueError("invalid FLAC subframe padding bit")
    sft = br.read(6)
    wasted = 0
    if br.read(1):
        wasted = br.read_unary() + 1
        bps -= wasted
    if sft == 0:  # CONSTANT
        out = np.full(blocksize, br.read_signed(bps), dtype=np.int64)
    elif sft == 1:  # VERBATIM
        out = np.fromiter(
            (br.read_signed(bps) for _ in range(blocksize)), np.int64, blocksize
        )
    elif 8 <= sft <= 12:  # FIXED, order = sft - 8
        order = sft - 8
        warmup = np.fromiter(
            (br.read_signed(bps) for _ in range(order)), np.int64, order
        )
        residual = _read_residual(br, blocksize, order)
        out = _reconstruct_fixed(order, warmup, residual)
    elif sft >= 32:  # LPC, order = (sft & 31) + 1
        order = (sft & 31) + 1
        warmup = [br.read_signed(bps) for _ in range(order)]
        precision = br.read(4) + 1
        if precision == 16:
            raise ValueError("invalid FLAC LPC precision")
        shift = br.read_signed(5)
        if shift < 0:
            raise ValueError("negative FLAC LPC shift")
        coefs = [br.read_signed(precision) for _ in range(order)]
        residual = _read_residual(br, blocksize, order)
        # sequential IIR — per-sample Python by nature (see module note)
        sig = list(warmup)
        for r in residual:
            pred = sum(c * s for c, s in zip(coefs, sig[-1 : -order - 1 : -1]))
            sig.append(int(r) + (pred >> shift))
        out = np.array(sig, dtype=np.int64)
    else:
        raise ValueError(f"reserved FLAC subframe type {sft}")
    return out << wasted if wasted else out


def decode_flac(data: bytes) -> np.ndarray:
    """FLAC stream -> 1-D int16 PCM (stereo integer-mean downmixed)."""
    data = bytes(data)
    if data[:4] != FLAC_MAGIC:
        raise ValueError("not a FLAC stream")
    pos = 4
    streaminfo = None
    while pos + 4 <= len(data):  # metadata blocks
        hdr = data[pos]
        btype, last = hdr & 0x7F, bool(hdr & 0x80)
        ln = int.from_bytes(data[pos + 1 : pos + 4], "big")
        if btype == 0:
            streaminfo = data[pos + 4 : pos + 4 + ln]
        pos += 4 + ln
        if last:
            break
    if streaminfo is None or len(streaminfo) < 18:
        raise ValueError("FLAC missing STREAMINFO")
    si_rate = (int.from_bytes(streaminfo[10:13], "big") >> 4) & 0xFFFFF
    si_bps = (((streaminfo[12] & 0x01) << 4) | (streaminfo[13] >> 4)) + 1

    chans_out: list[np.ndarray] = []
    n_channels = None
    frame_bps = 16
    while pos < len(data):
        if pos + 2 > len(data) or data[pos] != 0xFF or (data[pos + 1] & 0xFC) != 0xF8:
            raise ValueError("bad FLAC frame sync")
        frame_start = pos
        br = _BitReader(data, pos)
        sync = br.read(14)
        if sync != 0x3FFE:
            raise ValueError("bad FLAC frame sync code")
        br.read(1)  # reserved
        br.read(1)  # blocking strategy
        bs_code = br.read(4)
        sr_code = br.read(4)
        ch_code = br.read(4)
        ss_code = br.read(3)
        br.read(1)  # reserved
        _read_utf8_number(br)
        if bs_code == 6:
            blocksize = br.read(8) + 1
        elif bs_code == 7:
            blocksize = br.read(16) + 1
        elif bs_code in _BLOCKSIZE_CODE:
            blocksize = _BLOCKSIZE_CODE[bs_code]
        else:
            raise ValueError(f"reserved FLAC blocksize code {bs_code}")
        if sr_code == 12:
            br.read(8)
        elif sr_code in (13, 14):
            br.read(16)
        elif sr_code == 15:
            raise ValueError("invalid FLAC sample rate code")
        bps = si_bps if ss_code == 0 else _SAMPLE_SIZE_CODE.get(ss_code)
        if bps is None:
            raise ValueError(f"reserved FLAC sample size code {ss_code}")
        if bps not in (8, 16):
            raise ValueError(f"unsupported FLAC bit depth {bps}")
        frame_bps = bps
        # every header field is a whole number of bits summing to byte
        # alignment here; the CRC-8 byte covers all header bytes so far
        if br.nbits:
            raise ValueError("FLAC frame header not byte-aligned")
        expect = br.read(8)
        if _crc8(data[frame_start : br.pos - 1]) != expect:
            raise ValueError("FLAC frame header CRC mismatch")

        if ch_code <= 7:
            nch = ch_code + 1
            if nch > 2:
                raise ValueError(f"unsupported FLAC channel count {nch}")
            subs = [_read_subframe(br, blocksize, bps) for _ in range(nch)]
        elif ch_code in (8, 9, 10):
            # stereo decorrelation: the SIDE channel carries one extra bit
            side_idx = 1 if ch_code in (8, 10) else 0
            subs = [
                _read_subframe(br, blocksize, bps + (1 if i == side_idx else 0))
                for i in range(2)
            ]
            if ch_code == 8:  # left/side: right = left - side
                subs = [subs[0], subs[0] - subs[1]]
            elif ch_code == 9:  # side/right: left = right + side
                subs = [subs[1] + subs[0], subs[1]]
            else:  # mid/side: mid = (L+R)>>1 (floor), side = L-R
                mid, side = subs
                mid2 = (mid << 1) | (side & 1)  # restore the dropped LSB
                lft = (mid2 + side) >> 1
                subs = [lft, lft - side]
            nch = 2
        else:
            raise ValueError(f"reserved FLAC channel assignment {ch_code}")
        if n_channels is None:
            n_channels = nch
        elif n_channels != nch:
            raise ValueError("FLAC channel count changed mid-stream")
        br.align()
        body_end = br.pos
        if body_end + 2 > len(data):
            raise ValueError("FLAC stream truncated at frame CRC")
        expect16 = int.from_bytes(data[body_end : body_end + 2], "big")
        if _crc16(data[frame_start:body_end]) != expect16:
            raise ValueError("FLAC frame CRC-16 mismatch")
        pos = body_end + 2
        if nch == 1:
            chans_out.append(subs[0])
        else:
            mixed = (subs[0] + subs[1]) // 2  # same downmix as the WAV path
            chans_out.append(mixed)
    if not chans_out:
        raise ValueError("FLAC stream has no frames")
    del si_rate  # parsed for completeness; PCM contract carries no rate
    out = np.concatenate(chans_out)
    if frame_bps == 8:
        out = out << 8  # signed 8-bit scaled to int16 range
    return np.clip(out, -32768, 32767).astype(np.int16)


# ---------------------------------------------------------------------------
# test encoder (verbatim / constant / fixed-order-k Rice subframes)
# ---------------------------------------------------------------------------


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.buf = 0
        self.nbits = 0

    def write(self, v: int, n: int) -> None:
        self.buf = (self.buf << n) | (v & ((1 << n) - 1))
        self.nbits += n
        while self.nbits >= 8:
            self.nbits -= 8
            self.out.append((self.buf >> self.nbits) & 0xFF)
        self.buf &= (1 << self.nbits) - 1

    def write_unary(self, q: int) -> None:
        while q >= 32:
            self.write(0, 32)
            q -= 32
        self.write(1, q + 1)

    def align(self) -> None:
        if self.nbits:
            self.write(0, 8 - self.nbits)


def _zigzag_encode(v: int) -> int:
    return (v << 1) ^ (v >> 63) if v < 0 else v << 1


def _write_subframe(bw: _BitWriter, block: np.ndarray, bps: int,
                    subframe: str, fixed_order: int,
                    rice_param: int | None) -> None:
    if subframe == "constant":
        if not np.all(block == block[0]):
            raise ValueError("constant subframe needs a constant block")
        bw.write(0, 1)
        bw.write(0, 6)
        bw.write(0, 1)
        bw.write(int(block[0]), bps)
    elif subframe == "fixed":
        order = fixed_order
        resid = block.astype(np.int64)
        for _ in range(order):
            resid = np.diff(resid)
        bw.write(0, 1)
        bw.write(8 + order, 6)
        bw.write(0, 1)
        for s in block[:order]:
            bw.write(int(s), bps)
        bw.write(0, 2)      # RICE (4-bit params)
        bw.write(0, 4)      # partition order 0
        zz = np.array([_zigzag_encode(int(r)) for r in resid], dtype=np.uint64)
        if rice_param is None:
            mean = int(zz.mean()) if zz.size else 0
            param = max(0, min(14, mean.bit_length() - 1))
        else:
            param = rice_param
        bw.write(param, 4)
        for v in zz:
            v = int(v)
            bw.write_unary(v >> param)
            bw.write(v & ((1 << param) - 1), param)
    else:
        bw.write(0, 1)
        bw.write(1, 6)
        bw.write(0, 1)
        for s in block:
            bw.write(int(s), bps)


#: encoder stereo mode -> frame-header channel assignment code
_STEREO_MODE_CODE = {"indep": 1, "left-side": 8, "right-side": 9,
                     "mid-side": 10}


def encode_flac(
    pcm: np.ndarray,
    sr_hz: int = 8000,
    blocksize: int = 4096,
    subframe: str = "verbatim",
    fixed_order: int = 2,
    rice_param: int | None = None,
    stereo_mode: str = "indep",
) -> bytes:
    """Minimal spec-conformant FLAC writer, 16-bit, mono ``(n,)`` or
    stereo ``(n, 2)`` input.

    ``subframe``: 'verbatim' (raw), 'constant' (requires constant
    blocks), or 'fixed' (order-``fixed_order`` prediction, Rice residual
    at partition order 0, parameter auto or ``rice_param``).
    ``stereo_mode`` (stereo input only): 'indep', 'left-side',
    'right-side' or 'mid-side' — exercises every decoder decorrelation
    path.  Exists to validate the decoder and produce interop streams.
    """
    pcm = np.asarray(pcm, dtype=np.int64)
    stereo = pcm.ndim == 2
    n = pcm.shape[0]
    ch_code = _STEREO_MODE_CODE[stereo_mode] if stereo else 0
    out = bytearray(FLAC_MAGIC)
    si = bytearray(34)
    si[0:2] = struct.pack(">H", blocksize)
    si[2:4] = struct.pack(">H", blocksize)
    # sample rate (20) | channels-1 (3) | bps-1 (5) | total samples (36)
    packed = (sr_hz << 44) | ((1 if stereo else 0) << 41) | ((16 - 1) << 36) | n
    si[10:18] = packed.to_bytes(8, "big")
    out += bytes([0x80]) + len(si).to_bytes(3, "big") + bytes(si)

    for fi, start in enumerate(range(0, n, blocksize)):
        block = pcm[start : start + blocksize]
        bs = block.shape[0]
        bw = _BitWriter()
        bw.write(0x3FFE, 14)
        bw.write(0, 1)
        bw.write(0, 1)          # fixed blocking
        bw.write(7, 4)          # blocksize: 16-bit field below
        bw.write(13, 4)         # sample rate: 16-bit Hz field below
        bw.write(ch_code, 4)
        bw.write(4, 3)          # 16-bit samples
        bw.write(0, 1)
        if fi < 0x80:
            bw.write(fi, 8)     # UTF-8 frame number (single byte)
        else:
            bw.write(0xC0 | (fi >> 6), 8)
            bw.write(0x80 | (fi & 0x3F), 8)
        bw.write(bs - 1, 16)
        bw.write(sr_hz, 16)
        bw.align()
        hdr = bytes(bw.out)
        bw.write(_crc8(hdr), 8)

        if not stereo:
            chans = [(block, 16)]
        else:
            lft, rgt = block[:, 0], block[:, 1]
            side = lft - rgt
            if stereo_mode == "indep":
                chans = [(lft, 16), (rgt, 16)]
            elif stereo_mode == "left-side":
                chans = [(lft, 16), (side, 17)]
            elif stereo_mode == "right-side":
                chans = [(side, 17), (rgt, 16)]
            else:  # mid-side
                chans = [((lft + rgt) >> 1, 16), (side, 17)]
        for ch, bps in chans:
            _write_subframe(bw, ch, bps, subframe, fixed_order, rice_param)
        bw.align()
        frame = bytes(bw.out)
        out += frame + struct.pack(">H", _crc16(frame))
    return bytes(out)


__all__ = ["decode_flac", "encode_flac", "FLAC_MAGIC"]
