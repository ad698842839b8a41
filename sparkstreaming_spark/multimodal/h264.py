"""Clean-room pure-Python H.264 baseline intra codec: one IDR I-frame
per stream, paired encoder + decoder. Implements the real coding stack
per ITU-T H.264 (public spec): CAVLC entropy coding (coeff_token /
level prefix-suffix with escapes / total_zeros / run_before), 4x4
integer transform with the standard MF/V quantization tables, intra
prediction, and a conformant NAL/SPS/PPS/slice-header bitstream
(Annex-B).

Scope (precise, honestly guarded):
- encoder: one IDR I-slice per frame, each macroblock the cheaper of
  Intra_4x4 with ALL NINE §8.3.1.2 prediction modes (V/H/DC/DDL/DDR/
  VR/HD/VL/HU, per-block SAD selection under the §8.3.1.1
  most-probable-mode signaling, top-right sample substitution per the
  spec's derivation) and Intra_16x16 (§8.3.3 V/H/DC/Plane whole-MB
  prediction, the §8.5.10 luma DC Hadamard path coding the MB DC at
  4x AC precision, Table 7-11 mb_type jointly coding the prediction
  mode and both CBPs, Intra16x16DCLevel + 15-coefficient AC CAVLC),
  — or, when even the cheaper coded form spends more luma bits than
  the raw macroblock (entropy-defeating noise at very low qp), I_PCM
  (mb_type 25: pcm alignment + the samples verbatim, losslessly) —
  full luma residual coding (CBP luma = 15 for I_4x4), and REAL 4:2:0
  chroma residual coding: §8.3.4 DC chroma prediction (per-4x4
  availability rules) plus the §8.5.11 chroma DC path (2x2 Hadamard,
  Table 8-15 QPc, the nC = -1 coeff_token and Table 9-9(a)
  total_zeros chroma DC CAVLC tables) and 15-coefficient chroma AC
  blocks — CBP chroma 0/1/2 signaled through the full 48-entry
  Table 9-4 mapping. Deblocking disabled in the slice header
  (disable_deblocking_filter_idc=1 — decoding without a deblocking
  pass is then conformant), fixed QP per frame.
- decoder (decode_iframe): parses SPS/PPS and the first IDR slice of
  any stream within the same feature envelope; raises
  NotImplementedError with a precise reason for P/B slices, CABAC,
  High profile (8x8 transform), interlace, cropping, slice groups or
  deblocking — honest stubs, not silent wrong output. Malformed input
  raises ValueError; a forged SPS beyond 8192x8192 is rejected before
  any frame allocation.

Verification stance: bit-exact ROUND-TRIP is the contract — the
decoder must reproduce the encoder's own reconstruction exactly
(prediction + dequantized residual), the same contract the JPEG codec
(jpeg.py) ships under. The VLC tables are entered from the public
spec; per-table prefix-freeness tests plus exhaustive encode/decode
property tests guard against transcription slips. The independent SPS
parser in mediameta.py must agree on geometry (cross-implementation
test). External conformance vectors are not bundled in this
environment; that caveat is documented here rather than papered over.

Reference parity: the reference repo has no video path (three CSV
jobs). Spark plumbing: suite/platform_ops.py::q_multimodal_ingest
decodes the video/h264 blobs of its mixed binary column.
"""

from __future__ import annotations


import numpy as np

# ---------------------------------------------------------------------------
# bit I/O (MSB-first, as H.264 bitstreams are)


class BitWriter:
    def __init__(self) -> None:
        self.bits: list[int] = []

    def u(self, v: int, n: int) -> None:
        for i in range(n - 1, -1, -1):
            self.bits.append((v >> i) & 1)

    def ue(self, v: int) -> None:
        k = v + 1
        n = k.bit_length()
        self.u(0, n - 1)
        self.u(k, n)

    def se(self, v: int) -> None:
        self.ue(2 * v - 1 if v > 0 else -2 * v)

    def bitstring(self, s: str) -> None:
        for c in s:
            self.bits.append(1 if c == "1" else 0)

    def rbsp(self) -> bytes:
        """Close the RBSP (stop bit + alignment) and apply emulation
        prevention (00 00 0x -> 00 00 03 0x)."""
        bits = self.bits + [1]
        while len(bits) % 8:
            bits.append(0)
        raw = bytearray()
        for i in range(0, len(bits), 8):
            b = 0
            for v in bits[i : i + 8]:
                b = (b << 1) | v
            raw.append(b)
        out = bytearray()
        zeros = 0
        for b in raw:
            if zeros >= 2 and b <= 3:
                out.append(3)
                zeros = 0
            out.append(b)
            zeros = zeros + 1 if b == 0 else 0
        return bytes(out)


class BitReader:
    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0

    def bit(self) -> int:
        if self.pos >> 3 >= len(self.data):
            raise ValueError("bitstream exhausted")
        v = (self.data[self.pos >> 3] >> (7 - (self.pos & 7))) & 1
        self.pos += 1
        return v

    def u(self, n: int) -> int:
        out = 0
        for _ in range(n):
            out = (out << 1) | self.bit()
        return out

    def ue(self) -> int:
        zeros = 0
        while self.bit() == 0:
            zeros += 1
            if zeros > 31:
                raise ValueError("malformed Exp-Golomb code")
        return (1 << zeros) - 1 + (self.u(zeros) if zeros else 0)

    def se(self) -> int:
        k = self.ue()
        return (k + 1) // 2 if k % 2 else -(k // 2)


def strip_emulation(rbsp: bytes) -> bytes:
    out = bytearray()
    i = 0
    while i < len(rbsp):
        if i + 2 < len(rbsp) and rbsp[i] == 0 and rbsp[i + 1] == 0 and rbsp[i + 2] == 3:
            out += rbsp[i : i + 2]
            i += 3
        else:
            out.append(rbsp[i])
            i += 1
    return bytes(out)


# ---------------------------------------------------------------------------
# CAVLC tables (ITU-T H.264 Table 9-5, 9-7, 9-10) as bit strings.
# tests/test_h264.py asserts every VLC table is prefix-free.

# coeff_token[nc_class][(trailing_ones, total_coeff)] = bits
# nc_class 0: 0 <= nC < 2; 1: 2 <= nC < 4; 2: 4 <= nC < 8  (nC >= 8 is FLC)
COEFF_TOKEN: list[dict[tuple[int, int], str]] = [
    {
        (0, 0): "1",
        (0, 1): "000101", (1, 1): "01",
        (0, 2): "00000111", (1, 2): "000100", (2, 2): "001",
        (0, 3): "000000111", (1, 3): "00000110", (2, 3): "0000101",
        (3, 3): "00011",
        (0, 4): "0000000111", (1, 4): "000000110", (2, 4): "00000101",
        (3, 4): "000011",
        (0, 5): "00000000111", (1, 5): "0000000110", (2, 5): "000000101",
        (3, 5): "0000100",
        (0, 6): "0000000001111", (1, 6): "00000000110", (2, 6): "0000000101",
        (3, 6): "00000100",
        (0, 7): "0000000001011", (1, 7): "0000000001110",
        (2, 7): "00000000101", (3, 7): "000000100",
        (0, 8): "0000000001000", (1, 8): "0000000001010",
        (2, 8): "0000000001101", (3, 8): "0000000100",
        (0, 9): "00000000001111", (1, 9): "00000000001110",
        (2, 9): "0000000001001", (3, 9): "00000000100",
        (0, 10): "00000000001011", (1, 10): "00000000001010",
        (2, 10): "00000000001101", (3, 10): "0000000001100",
        (0, 11): "000000000001111", (1, 11): "000000000001110",
        (2, 11): "00000000001001", (3, 11): "00000000001100",
        (0, 12): "000000000001011", (1, 12): "000000000001010",
        (2, 12): "000000000001101", (3, 12): "00000000001000",
        (0, 13): "0000000000001111", (1, 13): "000000000000001",
        (2, 13): "000000000001001", (3, 13): "000000000001100",
        (0, 14): "0000000000001011", (1, 14): "0000000000001110",
        (2, 14): "0000000000001101", (3, 14): "000000000001000",
        (0, 15): "0000000000000111", (1, 15): "0000000000001010",
        (2, 15): "0000000000001001", (3, 15): "0000000000001100",
        (0, 16): "0000000000000100", (1, 16): "0000000000000110",
        (2, 16): "0000000000000101", (3, 16): "0000000000001000",
    },
    {
        (0, 0): "11",
        (0, 1): "001011", (1, 1): "10",
        (0, 2): "000111", (1, 2): "00111", (2, 2): "011",
        (0, 3): "0000111", (1, 3): "001010", (2, 3): "001001", (3, 3): "0101",
        (0, 4): "00000111", (1, 4): "000110", (2, 4): "000101", (3, 4): "0100",
        (0, 5): "00000100", (1, 5): "0000110", (2, 5): "0000101",
        (3, 5): "00110",
        (0, 6): "000000111", (1, 6): "00000110", (2, 6): "00000101",
        (3, 6): "001000",
        (0, 7): "00000001111", (1, 7): "000000110", (2, 7): "000000101",
        (3, 7): "000100",
        (0, 8): "00000001011", (1, 8): "00000001110", (2, 8): "00000001101",
        (3, 8): "0000100",
        (0, 9): "000000001111", (1, 9): "00000001010", (2, 9): "00000001001",
        (3, 9): "000000100",
        (0, 10): "000000001011", (1, 10): "000000001110",
        (2, 10): "000000001101", (3, 10): "00000001100",
        (0, 11): "000000001000", (1, 11): "000000001010",
        (2, 11): "000000001001", (3, 11): "00000001000",
        (0, 12): "0000000001111", (1, 12): "0000000001110",
        (2, 12): "0000000001101", (3, 12): "000000001100",
        (0, 13): "0000000001011", (1, 13): "0000000001010",
        (2, 13): "0000000001001", (3, 13): "0000000001100",
        (0, 14): "0000000000111", (1, 14): "00000000001011",
        (2, 14): "0000000000110", (3, 14): "0000000001000",
        (0, 15): "00000000001001", (1, 15): "00000000001000",
        (2, 15): "00000000001010", (3, 15): "0000000000001",
        (0, 16): "00000000000111", (1, 16): "00000000000110",
        (2, 16): "00000000000101", (3, 16): "00000000000100",
    },
    {
        (0, 0): "1111",
        (0, 1): "001111", (1, 1): "1110",
        (0, 2): "001011", (1, 2): "01111", (2, 2): "1101",
        (0, 3): "001000", (1, 3): "01100", (2, 3): "01110", (3, 3): "1100",
        (0, 4): "0001111", (1, 4): "01010", (2, 4): "01011", (3, 4): "1011",
        (0, 5): "0001011", (1, 5): "01000", (2, 5): "01001", (3, 5): "1010",
        (0, 6): "0001001", (1, 6): "001110", (2, 6): "001101", (3, 6): "1001",
        (0, 7): "0001000", (1, 7): "001010", (2, 7): "001001", (3, 7): "1000",
        (0, 8): "00001111", (1, 8): "0001110", (2, 8): "0001101",
        (3, 8): "01101",
        (0, 9): "00001011", (1, 9): "00001110", (2, 9): "0001010",
        (3, 9): "001100",
        (0, 10): "000001111", (1, 10): "00001010", (2, 10): "00001101",
        (3, 10): "0001100",
        (0, 11): "000001011", (1, 11): "000001110", (2, 11): "00001001",
        (3, 11): "00001100",
        (0, 12): "000001000", (1, 12): "000001010", (2, 12): "000001101",
        (3, 12): "00001000",
        (0, 13): "0000001101", (1, 13): "000000111", (2, 13): "000001001",
        (3, 13): "000001100",
        (0, 14): "0000001001", (1, 14): "0000001100", (2, 14): "0000001011",
        (3, 14): "0000001010",
        (0, 15): "0000000101", (1, 15): "0000001000", (2, 15): "0000000111",
        (3, 15): "0000000110",
        (0, 16): "0000000001", (1, 16): "0000000100", (2, 16): "0000000011",
        (3, 16): "0000000010",
    },
]

# total_zeros[total_coeff][total_zeros] (Table 9-7/9-8, 4x4 blocks)
TOTAL_ZEROS: dict[int, list[str]] = {
    1: ["1", "011", "010", "0011", "0010", "00011", "00010", "000011",
        "000010", "0000011", "0000010", "00000011", "00000010",
        "000000011", "000000010", "000000001"],
    2: ["111", "110", "101", "100", "011", "0101", "0100", "0011",
        "0010", "00011", "00010", "000011", "000010", "000001", "000000"],
    3: ["0101", "111", "110", "101", "0100", "0011", "100", "011",
        "0010", "00011", "00010", "000001", "00001", "000000"],
    4: ["00011", "111", "0101", "0100", "110", "101", "100", "0011",
        "011", "0010", "00010", "00001", "00000"],
    5: ["0101", "0100", "0011", "111", "110", "101", "100", "011",
        "0010", "00001", "0001", "00000"],
    6: ["000001", "00001", "111", "110", "101", "100", "011", "010",
        "0001", "001", "000000"],
    7: ["000001", "00001", "101", "100", "011", "11", "010", "0001",
        "001", "000000"],
    8: ["000001", "0001", "00001", "011", "11", "10", "010", "001",
        "000000"],
    9: ["000001", "000000", "0001", "11", "10", "001", "01", "00001"],
    10: ["00001", "00000", "001", "11", "10", "01", "0001"],
    11: ["0000", "0001", "001", "010", "1", "011"],
    12: ["0000", "0001", "01", "1", "001"],
    13: ["000", "001", "1", "01"],
    14: ["00", "01", "1"],
    15: ["0", "1"],
}

# coeff_token for chroma DC blocks (Table 9-5, the nC == -1 column —
# 4:2:0 chroma DC 2x2 blocks, maxNumCoeff = 4)
COEFF_TOKEN_CHROMA_DC: dict[tuple[int, int], str] = {
    (0, 0): "01",
    (0, 1): "000111", (1, 1): "1",
    (0, 2): "000100", (1, 2): "000110", (2, 2): "001",
    (0, 3): "000011", (1, 3): "0000011", (2, 3): "0000010", (3, 3): "000101",
    (0, 4): "000010", (1, 4): "00000011", (2, 4): "00000010",
    (3, 4): "0000000",
}

# total_zeros for chroma DC 2x2 blocks (Table 9-9(a), 4:2:0)
TOTAL_ZEROS_CHROMA_DC: dict[int, list[str]] = {
    1: ["1", "01", "001", "000"],
    2: ["1", "01", "00"],
    3: ["1", "0"],
}

# run_before[min(zeros_left, 7)][run] (Table 9-10)
RUN_BEFORE: dict[int, list[str]] = {
    1: ["1", "0"],
    2: ["1", "01", "00"],
    3: ["11", "10", "01", "00"],
    4: ["11", "10", "01", "001", "000"],
    5: ["11", "10", "011", "010", "001", "000"],
    6: ["11", "000", "001", "011", "010", "101", "100"],
    7: ["111", "110", "101", "100", "011", "010", "001", "0001",
        "00001", "000001", "0000001", "00000001", "000000001",
        "0000000001", "00000000001"],
}


def _invert(table: dict | list) -> dict[str, object]:
    if isinstance(table, dict):
        return {bits: key for key, bits in table.items()}
    return {bits: i for i, bits in enumerate(table)}


_COEFF_TOKEN_DEC = [_invert(t) for t in COEFF_TOKEN]
_TOTAL_ZEROS_DEC = {tc: _invert(t) for tc, t in TOTAL_ZEROS.items()}
_RUN_BEFORE_DEC = {zl: _invert(t) for zl, t in RUN_BEFORE.items()}
_COEFF_TOKEN_CDC_DEC = _invert(COEFF_TOKEN_CHROMA_DC)
_TOTAL_ZEROS_CDC_DEC = {
    tc: _invert(t) for tc, t in TOTAL_ZEROS_CHROMA_DC.items()
}


def _read_vlc(r: BitReader, table: dict[str, object], what: str):
    bits = ""
    for _ in range(20):
        bits += "1" if r.bit() else "0"
        if bits in table:
            return table[bits]
    raise ValueError(f"invalid {what} code: {bits}")


# ---------------------------------------------------------------------------
# CAVLC residual block (16-coeff 4x4, §9.2)

ZIGZAG_4x4 = [(0, 0), (0, 1), (1, 0), (2, 0), (1, 1), (0, 2), (0, 3),
              (1, 2), (2, 1), (3, 0), (3, 1), (2, 2), (1, 3), (2, 3),
              (3, 2), (3, 3)]


def _nc_class(nc: int) -> int:
    if nc < 2:
        return 0
    if nc < 4:
        return 1
    if nc < 8:
        return 2
    return 3  # FLC


# chroma DC 2x2 scan (§8.5.11 raster order for 4:2:0)
CHROMA_DC_SCAN = [(0, 0), (0, 1), (1, 0), (1, 1)]


def encode_residual_block(w: BitWriter, coeffs: np.ndarray, nc: int,
                          kind: str = "full") -> int:
    """CAVLC-encode one residual block; returns TotalCoeff for the
    caller's nC bookkeeping. `kind`: "full" = 16-coeff 4x4 (coeffs is
    a raster (4,4) int array); "ac" = 15-coeff AC-only 4x4 (position
    (0,0) is carried separately — chroma AC, §7.4.5.3.3); "cdc" =
    4-coeff chroma DC 2x2 (coeffs is (2,2), coeff_token from the
    nC == -1 table, total_zeros from Table 9-9(a); nc is ignored)."""
    if kind == "cdc":
        scan = [int(coeffs[i, j]) for i, j in CHROMA_DC_SCAN]
        max_coeff = 4
    elif kind == "ac":
        scan = [int(coeffs[i, j]) for i, j in ZIGZAG_4x4[1:]]
        max_coeff = 15
    else:
        scan = [int(coeffs[i, j]) for i, j in ZIGZAG_4x4]
        max_coeff = 16
    while scan and scan[-1] == 0:
        scan.pop()
    total_coeff = sum(1 for v in scan if v != 0)
    if total_coeff > max_coeff:
        raise ValueError("impossible coefficient count")
    # trailing ones: up to 3 consecutive +-1 at the high-frequency end
    nz = [i for i, v in enumerate(scan) if v != 0]
    t1 = 0
    for i in reversed(nz):
        if abs(scan[i]) == 1 and t1 < 3:
            t1 += 1
        else:
            break
    if kind == "cdc":
        w.bitstring(COEFF_TOKEN_CHROMA_DC[(t1, total_coeff)])
    else:
        cls = _nc_class(nc)
        if cls == 3:
            code = 3 if total_coeff == 0 else ((total_coeff - 1) << 2) | t1
            w.u(code, 6)
        else:
            w.bitstring(COEFF_TOKEN[cls][(t1, total_coeff)])
    if total_coeff == 0:
        return 0
    # trailing-one signs, high frequency first (1 = negative)
    levels = [scan[i] for i in nz]
    for v in levels[-1 : -1 - t1 : -1]:
        w.u(1 if v < 0 else 0, 1)
    # remaining levels, high frequency first
    suffix_len = 1 if total_coeff > 10 and t1 < 3 else 0
    rest = levels[: total_coeff - t1]
    for k, v in enumerate(reversed(rest)):
        level_code = 2 * abs(v) - 2 if v > 0 else 2 * abs(v) - 1
        if k == 0 and t1 < 3:
            level_code -= 2
        _encode_level(w, level_code, suffix_len)
        if suffix_len == 0:
            suffix_len = 1
        if abs(v) > (3 << (suffix_len - 1)) and suffix_len < 6:
            suffix_len += 1
    # total_zeros: zeros before the last nonzero coefficient
    total_zeros = len(scan) - total_coeff
    if total_coeff < max_coeff:
        tz_table = TOTAL_ZEROS_CHROMA_DC if kind == "cdc" else TOTAL_ZEROS
        w.bitstring(tz_table[total_coeff][total_zeros])
    # run_before per coefficient, high frequency first, except the lowest
    zeros_left = total_zeros
    for i in range(len(nz) - 1, 0, -1):
        if zeros_left == 0:
            break
        run = nz[i] - nz[i - 1] - 1
        w.bitstring(RUN_BEFORE[min(zeros_left, 7)][run])
        zeros_left -= run
    return total_coeff


def _encode_level(w: BitWriter, level_code: int, suffix_len: int) -> None:
    """Inverse of the §9.2.2.1 level decode for the given suffixLength."""
    if suffix_len == 0:
        if level_code < 14:
            w.u(0, level_code)
            w.u(1, 1)
        elif level_code < 30:
            w.u(0, 14)
            w.u(1, 1)
            w.u(level_code - 14, 4)
        else:
            lc = level_code - 30  # decoder adds 15 then (15<<0)=15: 30 total
            if lc >= 4096:
                raise ValueError("level escape beyond prefix-15 unsupported")
            w.u(0, 15)
            w.u(1, 1)
            w.u(lc, 12)
    else:
        if level_code < (15 << suffix_len):
            w.u(0, level_code >> suffix_len)
            w.u(1, 1)
            w.u(level_code & ((1 << suffix_len) - 1), suffix_len)
        else:
            lc = level_code - (15 << suffix_len)
            if lc >= 4096:
                raise ValueError("level escape beyond prefix-15 unsupported")
            w.u(0, 15)
            w.u(1, 1)
            w.u(lc, 12)


def decode_residual_block(r: BitReader, nc: int,
                          kind: str = "full") -> tuple[np.ndarray, int]:
    """→ (coefficient array, TotalCoeff). `kind` as in
    encode_residual_block: "full"/"ac" return a (4,4) raster array
    ("ac" leaves position (0,0) zero), "cdc" returns (2,2)."""
    if kind == "cdc":
        t1, total_coeff = _read_vlc(
            r, _COEFF_TOKEN_CDC_DEC, "coeff_token(chroma DC)"
        )
        max_coeff, scan_pos = 4, CHROMA_DC_SCAN
        out = np.zeros((2, 2), dtype=np.int64)
    else:
        cls = _nc_class(nc)
        if cls == 3:
            code = r.u(6)
            if code == 3:
                t1, total_coeff = 0, 0
            else:
                t1, total_coeff = code & 3, (code >> 2) + 1
        else:
            t1, total_coeff = _read_vlc(
                r, _COEFF_TOKEN_DEC[cls], "coeff_token"
            )
        max_coeff = 15 if kind == "ac" else 16
        scan_pos = ZIGZAG_4x4[1:] if kind == "ac" else ZIGZAG_4x4
        out = np.zeros((4, 4), dtype=np.int64)
    if total_coeff == 0:
        return out, 0
    # untrusted-blob hardening: a corrupt coeff_token / total_zeros /
    # run_before may name more coefficients or zeros than the block
    # holds — an invalid bitstream (ValueError), never an IndexError or
    # a wrapped negative scan index
    if t1 > total_coeff or total_coeff > max_coeff:
        raise ValueError("coeff_token exceeds the block size")
    levels: list[int] = []
    for _ in range(t1):
        levels.append(-1 if r.bit() else 1)
    suffix_len = 1 if total_coeff > 10 and t1 < 3 else 0
    for k in range(total_coeff - t1):
        prefix = 0
        while r.bit() == 0:
            prefix += 1
            if prefix > 19:
                raise ValueError("level prefix overrun")
        suffix_size = suffix_len
        if prefix == 14 and suffix_len == 0:
            suffix_size = 4
        elif prefix >= 15:
            suffix_size = prefix - 3
        level_code = (min(15, prefix) << suffix_len) + (
            r.u(suffix_size) if suffix_size else 0
        )
        if prefix >= 15 and suffix_len == 0:
            level_code += 15
        if prefix >= 16:
            level_code += (1 << (prefix - 3)) - 4096
        if k == 0 and t1 < 3:
            level_code += 2
        level = (level_code + 2) >> 1 if level_code % 2 == 0 else -(
            (level_code + 1) >> 1
        )
        levels.append(level)
        if suffix_len == 0:
            suffix_len = 1
        if abs(level) > (3 << (suffix_len - 1)) and suffix_len < 6:
            suffix_len += 1
    # levels[] is high-frequency first; rebuild scan positions via runs
    if total_coeff < max_coeff:
        tz_dec = _TOTAL_ZEROS_CDC_DEC if kind == "cdc" else _TOTAL_ZEROS_DEC
        total_zeros = _read_vlc(
            r, tz_dec[total_coeff], "total_zeros"
        )
    else:
        total_zeros = 0
    if total_zeros + total_coeff > max_coeff:
        raise ValueError("total_zeros exceeds the block size")
    runs = []
    zeros_left = total_zeros
    for _ in range(total_coeff - 1):
        if zeros_left > 0:
            run = _read_vlc(
                r, _RUN_BEFORE_DEC[min(zeros_left, 7)], "run_before"
            )
            if run > zeros_left:
                raise ValueError("run_before exceeds zeros left")
        else:
            run = 0
        runs.append(run)
        zeros_left -= run
    runs.append(zeros_left)  # lowest-frequency coefficient takes the rest
    pos = total_zeros + total_coeff - 1
    scan = [0] * max_coeff
    for i, level in enumerate(levels):
        scan[pos] = level
        pos -= runs[i] + 1 if i < len(runs) else 1
    for idx, (i, j) in enumerate(scan_pos):
        out[i, j] = scan[idx]
    return out, total_coeff


# ---------------------------------------------------------------------------
# 4x4 integer transform + quantization (§8.5, standard MF/V tables)

_MF = [(13107, 5243, 8066), (11916, 4660, 7490), (10082, 4194, 6554),
       (9362, 3647, 5825), (8192, 3355, 5243), (7282, 2893, 4559)]
_V = [(10, 16, 13), (11, 18, 14), (13, 20, 16), (14, 23, 18),
      (16, 25, 20), (18, 29, 23)]

_POS_CLASS = np.array(
    [[0, 2, 0, 2], [2, 1, 2, 1], [0, 2, 0, 2], [2, 1, 2, 1]], dtype=np.int64
)


def forward_transform_4x4(block: np.ndarray) -> np.ndarray:
    x = block.astype(np.int64)
    cf = np.array([[1, 1, 1, 1], [2, 1, -1, -2], [1, -1, -1, 1],
                   [1, -2, 2, -1]], dtype=np.int64)
    return cf @ x @ cf.T


def inverse_transform_4x4(d: np.ndarray) -> np.ndarray:
    """§8.5.12.2 exact integer inverse (with the >>1 taps), output is
    the residual AFTER the (x + 32) >> 6 normalization."""
    d = d.astype(np.int64)
    # horizontal (rows)
    e = np.empty_like(d)
    e[:, 0] = d[:, 0] + d[:, 2]
    e[:, 1] = d[:, 0] - d[:, 2]
    e[:, 2] = (d[:, 1] >> 1) - d[:, 3]
    e[:, 3] = d[:, 1] + (d[:, 3] >> 1)
    f = np.empty_like(d)
    f[:, 0] = e[:, 0] + e[:, 3]
    f[:, 1] = e[:, 1] + e[:, 2]
    f[:, 2] = e[:, 1] - e[:, 2]
    f[:, 3] = e[:, 0] - e[:, 3]
    # vertical (columns)
    g = np.empty_like(f)
    g[0, :] = f[0, :] + f[2, :]
    g[1, :] = f[0, :] - f[2, :]
    g[2, :] = (f[1, :] >> 1) - f[3, :]
    g[3, :] = f[1, :] + (f[3, :] >> 1)
    h = np.empty_like(f)
    h[0, :] = g[0, :] + g[3, :]
    h[1, :] = g[1, :] + g[2, :]
    h[2, :] = g[1, :] - g[2, :]
    h[3, :] = g[0, :] - g[3, :]
    return (h + 32) >> 6


def quantize_4x4(w: np.ndarray, qp: int) -> np.ndarray:
    mf_row = _MF[qp % 6]
    mf = np.array(mf_row, dtype=np.int64)[_POS_CLASS.ravel()].reshape(4, 4)
    qbits = 15 + qp // 6
    # reference-encoder (JM) intra deadzone f = 2^qbits/3 — encoder
    # policy only: the decoder only ever sees the levels
    f = (1 << qbits) // 3
    sign = np.sign(w)
    return sign * ((np.abs(w) * mf + f) >> qbits)


def dequantize_4x4(levels: np.ndarray, qp: int) -> np.ndarray:
    v_row = _V[qp % 6]
    v = np.array(v_row, dtype=np.int64)[_POS_CLASS.ravel()].reshape(4, 4)
    return (levels.astype(np.int64) * v) << (qp // 6)


# ---------------------------------------------------------------------------
# chroma: QPc mapping, 2x2 DC Hadamard (§8.5.11), DC intra prediction
# (§8.3.4 mode 0)

# Table 8-15: qPI -> QPc (chroma_qp_index_offset = 0 in our PPS)
_QPC = list(range(30)) + [29, 30, 31, 32, 32, 33, 34, 34, 35, 35, 36, 36,
                          37, 37, 37, 38, 38, 38, 39, 39, 39, 39]

_H2 = np.array([[1, 1], [1, -1]], dtype=np.int64)


def chroma_qp(qp: int) -> int:
    return _QPC[max(0, min(51, qp))]


def chroma_dc_forward(dc2: np.ndarray) -> np.ndarray:
    """Forward 2x2 Hadamard over the four 4x4 DC transform
    coefficients of one chroma component (§8.5.11 analysis side)."""
    return _H2 @ dc2.astype(np.int64) @ _H2


def quantize_chroma_dc(fdc: np.ndarray, qpc: int) -> np.ndarray:
    """Encoder-side chroma DC quantization (JM-style: the 4x4 MF at
    position (0,0) with a doubled deadzone and one extra shift for the
    Hadamard gain — encoder policy only, any levels are conformant)."""
    mf = _MF[qpc % 6][0]
    qbits = 15 + qpc // 6
    f = (1 << qbits) // 3
    sign = np.sign(fdc)
    return sign * ((np.abs(fdc) * mf + 2 * f) >> (qbits + 1))


def dequantize_chroma_dc(levels: np.ndarray, qpc: int) -> np.ndarray:
    """§8.5.11 normative scaling: inverse 2x2 Hadamard of the parsed
    DC levels, then dcC = (f * LevelScale(QPc%6, 0, 0)) << (QPc/6 - 1)
    (>> 1 when QPc < 6). Each dcC lands as coefficient (0,0) of its
    4x4 block before the normal §8.5.12.2 inverse transform."""
    f2 = _H2 @ levels.astype(np.int64) @ _H2
    v = _V[qpc % 6][0]
    if qpc >= 6:
        return (f2 * v) << (qpc // 6 - 1)
    return (f2 * v) >> 1


# Intra_16x16 luma DC path (§8.5.10): the 16 per-block DC transform
# coefficients form a 4x4 array (element (i, j) = the block at
# MB-relative pixel (4i, 4j)) that is 4x4-Hadamard transformed and
# quantized separately from the 15-coefficient AC blocks.
_H4 = np.array([[1, 1, 1, 1], [1, 1, -1, -1],
                [1, -1, -1, 1], [1, -1, 1, -1]], dtype=np.int64)


def luma_dc_forward(dc4: np.ndarray) -> np.ndarray:
    """Encoder-side forward 4x4 Hadamard over the DC array (encoder
    policy; the decoder only sees levels)."""
    return _H4 @ dc4.astype(np.int64) @ _H4


def quantize_luma_dc(fdc: np.ndarray, qp: int) -> np.ndarray:
    """Encoder-side luma DC quantization: MF at position class (0,0)
    with the shift reduced by 2 — the unity-gain pairing with the
    §8.5.10 dequant (forward H gain 16, decoder H gain 1 per element
    on the DC-of-DC, dequant >> (6 - qP/6)), which codes the MB DC at
    4x the AC precision — the design intent of the DC Hadamard (the
    chroma twin codes its DC at 2x for the same reason, gains 4/2).
    Verified by the unity-gain property test and the smooth-frame
    PSNR tests."""
    mf = _MF[qp % 6][0]
    qb2 = 13 + qp // 6
    f = (1 << qb2) // 3
    sign = np.sign(fdc)
    return sign * ((np.abs(fdc) * mf + f) >> qb2)


def dequantize_luma_dc(levels: np.ndarray, qp: int) -> np.ndarray:
    """§8.5.10 normative scaling: inverse 4x4 Hadamard of the parsed
    Intra16x16DCLevel array, then
    dcY = (f * LevelScale(QP%6, 0, 0)) << (QP/6 - 6) for QP >= 36,
    else (f * LevelScale + 2^(5 - QP/6)) >> (6 - QP/6). Each dcY
    lands as coefficient (0,0) of its 4x4 block before the normal
    inverse transform."""
    f4 = _H4 @ levels.astype(np.int64) @ _H4
    v = _V[qp % 6][0]
    if qp >= 36:
        return (f4 * v) << (qp // 6 - 6)
    return (f4 * v + (1 << (5 - qp // 6))) >> (6 - qp // 6)


def _intra16_preds(recon: np.ndarray, mbx: int, mby: int) -> dict:
    """All AVAILABLE Intra_16x16 luma predictions (§8.3.3) for the MB
    at (mbx, mby): {mode: (16,16) int64} with 0 = Vertical,
    1 = Horizontal, 2 = DC (always present, with the edge fallbacks),
    3 = Plane."""
    y0, x0 = mby * 16, mbx * 16
    has_t, has_l = mby > 0, mbx > 0
    out = {}
    if has_t:
        top = recon[y0 - 1, x0 : x0 + 16].astype(np.int64)
        out[0] = np.tile(top, (16, 1))
    if has_l:
        left = recon[y0 : y0 + 16, x0 - 1].astype(np.int64)
        out[1] = np.tile(left.reshape(-1, 1), (1, 16))
    if has_t and has_l:
        dc = (int(top.sum()) + int(left.sum()) + 16) >> 5
    elif has_t:
        dc = (int(top.sum()) + 8) >> 4
    elif has_l:
        dc = (int(left.sum()) + 8) >> 4
    else:
        dc = 128
    out[2] = np.full((16, 16), dc, dtype=np.int64)
    if has_t and has_l:
        # §8.3.3.4 plane prediction; t/l carry x,y = -1..15 with the
        # shared corner sample at index 0
        t = recon[y0 - 1, x0 - 1 : x0 + 16].astype(np.int64)
        lft = recon[y0 - 1 : y0 + 16, x0 - 1].astype(np.int64)
        hh = sum((i + 1) * (int(t[9 + i]) - int(t[7 - i]))
                 for i in range(8))
        vv = sum((i + 1) * (int(lft[9 + i]) - int(lft[7 - i]))
                 for i in range(8))
        a = 16 * (int(t[16]) + int(lft[16]))
        b = (5 * hh + 32) >> 6
        c = (5 * vv + 32) >> 6
        xs = np.arange(16, dtype=np.int64)
        out[3] = np.clip(
            (a + b * (xs.reshape(1, -1) - 7)
             + c * (xs.reshape(-1, 1) - 7) + 16) >> 5, 0, 255)
    return out


def _chroma_dc_pred8(plane: np.ndarray, y: int, x: int) -> np.ndarray:
    """Intra chroma DC prediction (§8.3.4, intra_chroma_pred_mode 0)
    for the 8x8 chroma block of one MB at chroma-plane pixel (y, x):
    per 4x4 sub-block, the corner blocks average both available edges;
    block (4,0) prefers its top-edge samples, (0,4) its left-edge
    samples, each falling back to the other edge then to 128."""
    pred = np.empty((8, 8), dtype=np.int64)
    top, left = y > 0, x > 0

    def stop(x0: int) -> int:
        return int(plane[y - 1, x + x0 : x + x0 + 4].sum())

    def sleft(y0: int) -> int:
        return int(plane[y + y0 : y + y0 + 4, x - 1].sum())

    for xo, yo in ((0, 0), (4, 0), (0, 4), (4, 4)):
        if (xo, yo) in ((0, 0), (4, 4)):
            if top and left:
                v = (stop(xo) + sleft(yo) + 4) >> 3
            elif top:
                v = (stop(xo) + 2) >> 2
            elif left:
                v = (sleft(yo) + 2) >> 2
            else:
                v = 128
        elif (xo, yo) == (4, 0):
            if top:
                v = (stop(4) + 2) >> 2
            elif left:
                v = (sleft(0) + 2) >> 2
            else:
                v = 128
        else:  # (0, 4)
            if left:
                v = (sleft(4) + 2) >> 2
            elif top:
                v = (stop(0) + 2) >> 2
            else:
                v = 128
        pred[yo : yo + 4, xo : xo + 4] = v
    return pred



# chroma 4x4 sub-block raster order within the 8x8 MB block (§6.4.7)
CHROMA_BLOCK_XY = [(0, 0), (4, 0), (0, 4), (4, 4)]



def _quantize_chroma_mb(res_cb: np.ndarray, res_cr: np.ndarray, qpc: int):
    """Transform + quantize the two 8x8 chroma residuals of one MB.
    → (cbp_chroma, {comp: dc_levels (2,2)}, {comp: [ac_levels x4]})
    where cbp_chroma is 0 (nothing), 1 (DC only) or 2 (DC + AC); when
    it is < 2 the AC levels returned are all-zero (the encoder's
    reconstruction must match a decoder that never sees them)."""
    if not res_cb.any() and not res_cr.any():
        # all-zero residual (grayscale / perfectly-predicted chroma):
        # levels are zero at any QP — skip the transforms entirely
        zero_dc = np.zeros((2, 2), dtype=np.int64)
        zero_ac = [np.zeros((4, 4), dtype=np.int64) for _ in range(4)]
        return 0, {"cb": zero_dc, "cr": zero_dc.copy()}, {
            "cb": zero_ac, "cr": [a.copy() for a in zero_ac]}
    dcs, acs = {}, {}
    any_ac = False
    any_dc = False
    for comp, res in (("cb", res_cb), ("cr", res_cr)):
        dc2 = np.zeros((2, 2), dtype=np.int64)
        ac4 = []
        for bi, (bx, by) in enumerate(CHROMA_BLOCK_XY):
            wt = forward_transform_4x4(res[by : by + 4, bx : bx + 4])
            dc2[by // 4, bx // 4] = wt[0, 0]
            lv = quantize_4x4(wt, qpc)
            lv[0, 0] = 0
            ac4.append(lv)
            if lv.any():
                any_ac = True
        dcq = quantize_chroma_dc(chroma_dc_forward(dc2), qpc)
        if dcq.any():
            any_dc = True
        dcs[comp] = dcq
        acs[comp] = ac4
    cbp_chroma = 2 if any_ac else (1 if any_dc else 0)
    if cbp_chroma < 2:
        for comp in acs:
            acs[comp] = [np.zeros((4, 4), dtype=np.int64) for _ in range(4)]
    return cbp_chroma, dcs, acs


def _recon_chroma_blocks(pred: np.ndarray, dc_levels: np.ndarray,
                         ac_levels: list, qpc: int) -> np.ndarray:
    """Reconstruct one 8x8 chroma component: §8.5.11 DC scaling into
    position (0,0) of each 4x4, normal AC dequant, inverse transform,
    clip. Shared by encoder loop and decoder (bit-exact contract)."""
    dcc = dequantize_chroma_dc(dc_levels, qpc)
    out = np.empty((8, 8), dtype=np.int64)
    for bi, (bx, by) in enumerate(CHROMA_BLOCK_XY):
        d = dequantize_4x4(ac_levels[bi], qpc)
        d[0, 0] = dcc[by // 4, bx // 4]
        res = inverse_transform_4x4(d)
        out[by : by + 4, bx : bx + 4] = np.clip(
            pred[by : by + 4, bx : bx + 4] + res, 0, 255)
    return out


def _write_chroma_residual(w: BitWriter, cbp_chroma: int, dcs: dict,
                           acs: dict, tc_cb: np.ndarray, tc_cr: np.ndarray,
                           yc4: int, xc4: int) -> None:
    """Emit the chroma residual bits for one MB (§7.4.5.3.3 order:
    ChromaDCLevel Cb, Cr; then ChromaACLevel Cb x4, Cr x4) and update
    the per-component chroma-AC TotalCoeff maps ((yc4, xc4) = the
    MB's top-left chroma 4x4 block coordinate). Callers emit these
    bits AFTER all luma residual bits."""
    if cbp_chroma == 0:
        for tc in (tc_cb, tc_cr):
            tc[yc4 : yc4 + 2, xc4 : xc4 + 2] = 0
        return
    for comp in ("cb", "cr"):
        encode_residual_block(w, dcs[comp], -1, kind="cdc")
    for comp, tc in (("cb", tc_cb), ("cr", tc_cr)):
        for bi, (bx, by) in enumerate(CHROMA_BLOCK_XY):
            b4y, b4x = yc4 + by // 4, xc4 + bx // 4
            if cbp_chroma == 2:
                nc = _neighbor_nc(tc, b4y, b4x)
                tc[b4y, b4x] = encode_residual_block(
                    w, acs[comp][bi], nc, kind="ac")
            else:
                tc[b4y, b4x] = 0


def _read_chroma_residual(r: BitReader, cbp_chroma: int,
                          tc_cb: np.ndarray, tc_cr: np.ndarray,
                          yc4: int, xc4: int) -> tuple[dict, dict]:
    """Parse one MB's chroma residual (inverse of
    _write_chroma_residual) → (dcs, acs) keyed "cb"/"cr"."""
    zero_dc = np.zeros((2, 2), dtype=np.int64)
    dcs = {"cb": zero_dc, "cr": zero_dc}
    acs = {c: [np.zeros((4, 4), dtype=np.int64) for _ in range(4)]
           for c in ("cb", "cr")}
    if cbp_chroma == 0:
        for tc in (tc_cb, tc_cr):
            tc[yc4 : yc4 + 2, xc4 : xc4 + 2] = 0
        return dcs, acs
    for comp in ("cb", "cr"):
        dcs[comp], _ = decode_residual_block(r, -1, kind="cdc")
    for comp, tc in (("cb", tc_cb), ("cr", tc_cr)):
        for bi, (bx, by) in enumerate(CHROMA_BLOCK_XY):
            b4y, b4x = yc4 + by // 4, xc4 + bx // 4
            if cbp_chroma == 2:
                nc = _neighbor_nc(tc, b4y, b4x)
                acs[comp][bi], tcv = decode_residual_block(r, nc, kind="ac")
                tc[b4y, b4x] = tcv
            else:
                tc[b4y, b4x] = 0
    return dcs, acs


# ---------------------------------------------------------------------------
# Intra_4x4 prediction (all nine §8.3.1.2 modes) + plane bookkeeping

# luma 4x4 block scan within a macroblock: (x, y) offsets, §6.4.3
LUMA_BLOCK_XY = [(0, 0), (4, 0), (0, 4), (4, 4), (8, 0), (12, 0), (8, 4),
                 (12, 4), (0, 8), (4, 8), (0, 12), (4, 12), (8, 8), (12, 8),
                 (8, 12), (12, 12)]


def _dc_predict(plane: np.ndarray, y: int, x: int, size: int) -> int:
    has_top = y > 0
    has_left = x > 0
    if has_top and has_left:
        s = int(plane[y - 1, x : x + size].sum()) + int(
            plane[y : y + size, x - 1].sum()
        )
        return (s + size) >> (size.bit_length())
    if has_top:
        return (int(plane[y - 1, x : x + size].sum()) + size // 2) >> (
            size.bit_length() - 1
        )
    if has_left:
        return (int(plane[y : y + size, x - 1].sum()) + size // 2) >> (
            size.bit_length() - 1
        )
    return 128


# The nine Intra_4x4 luma prediction modes (Table 8-2 / §8.3.1.2.1-9).
# Sample convention below: p[x,-1] = top row (T, with the top-right
# extension TR as T[4..7]), p[-1,y] = left column (L), p[-1,-1] = the
# corner (X). All arithmetic is the spec's integer rounding.
I4_V, I4_H, I4_DC, I4_DDL, I4_DDR, I4_VR, I4_HD, I4_VL, I4_HU = range(9)


def _intra4_allowed(done4: np.ndarray, y4: int, x4: int) -> list[int]:
    """Modes whose REQUIRED neighbor samples exist for the 4x4 block at
    (y4, x4) in block-grid coords: V/DDL/VL need the top row, H/HU the
    left column, DDR/VR/HD all of left+top+corner; DC always allowed
    (it has per-availability fallbacks). Top-right unavailability does
    NOT forbid DDL/VL — §8.3.1.2 substitutes p[3,-1]."""
    top = y4 > 0
    left = x4 > 0
    allowed = [I4_DC]
    if top:
        allowed += [I4_V, I4_DDL, I4_VL]
    if left:
        allowed += [I4_H, I4_HU]
    if top and left:
        allowed += [I4_DDR, I4_VR, I4_HD]
    return sorted(allowed)


def _intra4_predict(plane: np.ndarray, done4: np.ndarray, y: int, x: int,
                    mode: int) -> np.ndarray:
    """Intra_4x4 prediction (§8.3.1.2) for the block at pixel (y, x)
    from already-reconstructed samples; `done4` marks reconstructed 4x4
    blocks (drives top-right availability — the above-right block may
    not be decoded yet under the §6.4.3 zigzag scan, in which case
    p[4..7,-1] take p[3,-1], the spec's substitution). Raises on a
    mode whose required samples are unavailable (malformed stream)."""
    y4, x4 = y // 4, x // 4
    h4, w4 = done4.shape
    top = y4 > 0
    left = x4 > 0

    if mode == I4_DC:
        return np.full((4, 4), _dc_predict(plane, y, x, 4), dtype=np.int64)
    if mode in (I4_V, I4_DDL, I4_VL) and not top:
        raise ValueError("intra mode needs unavailable top samples")
    if mode in (I4_H, I4_HU) and not left:
        raise ValueError("intra mode needs unavailable left samples")
    if mode in (I4_DDR, I4_VR, I4_HD) and not (top and left):
        raise ValueError("intra mode needs unavailable corner samples")

    T = plane[y - 1, x : x + 4].astype(np.int64) if top else None
    L = plane[y : y + 4, x - 1].astype(np.int64) if left else None
    X = int(plane[y - 1, x - 1]) if (top and left) else 0
    if mode in (I4_DDL, I4_VL):
        tr_ok = (x4 + 1 < w4 and y4 > 0 and done4[y4 - 1, x4 + 1])
        if tr_ok:
            TR = plane[y - 1, x + 4 : x + 8].astype(np.int64)
        else:
            TR = np.full(4, int(T[3]), dtype=np.int64)  # p[3,-1] subst
        t = np.concatenate([T, TR])  # p[0..7,-1]

    # every mode below is the closed vector form of the per-pixel
    # §8.3.1.2 formulas — tests/test_h264.py pins each against an
    # independent per-pixel reference implementation
    _RC = np.arange(4)
    if mode == I4_V:
        return np.tile(T, (4, 1))
    if mode == I4_H:
        return np.tile(L[:, None], (1, 4))
    if mode == I4_DDL:
        u = (t[:6] + 2 * t[1:7] + t[2:8] + 2) >> 2
        full = np.append(u, (t[6] + 3 * t[7] + 2) >> 2)
        return full[np.add.outer(_RC, _RC)]
    if mode == I4_DDR:
        m = np.array([L[3], L[2], L[1], L[0], X, T[0], T[1], T[2], T[3]],
                     dtype=np.int64)
        diag = (m[:-2] + 2 * m[1:-1] + m[2:] + 2) >> 2  # index c-r+3
        return diag[np.add.outer(-_RC, _RC) + 3]
    if mode == I4_VL:
        e = (t[:7] + t[1:8] + 1) >> 1
        o = (t[:6] + 2 * t[1:7] + t[2:8] + 2) >> 2
        return np.stack([e[0:4], o[0:4], e[1:5], o[1:5]])
    if mode == I4_HU:
        he = (L[:3] + L[1:] + 1) >> 1
        ho = (L[:2] + 2 * L[1:3] + L[2:] + 2) >> 2
        z5 = (int(L[2]) + 3 * int(L[3]) + 2) >> 2
        l3 = int(L[3])
        return np.array([
            [he[0], ho[0], he[1], ho[1]],
            [he[1], ho[1], he[2], z5],
            [he[2], z5, l3, l3],
            [l3, l3, l3, l3],
        ], dtype=np.int64)
    if mode == I4_VR:
        q = np.concatenate([[X], T])          # q[j] = p[j-1, -1]
        ve = (q[:4] + q[1:] + 1) >> 1         # i = 0..3
        vo = (q[:3] + 2 * q[1:4] + q[2:] + 2) >> 2  # i = 1..3 at vo[i-1]
        vz = (int(L[0]) + 2 * X + int(T[0]) + 2) >> 2
        vl2 = (int(L[1]) + 2 * int(L[0]) + X + 2) >> 2
        vl3 = (int(L[2]) + 2 * int(L[1]) + int(L[0]) + 2) >> 2
        return np.array([
            [ve[0], ve[1], ve[2], ve[3]],
            [vz, vo[0], vo[1], vo[2]],
            [vl2, ve[0], ve[1], ve[2]],
            [vl3, vz, vo[0], vo[1]],
        ], dtype=np.int64)
    if mode == I4_HD:
        ql = np.concatenate([[X], L])         # ql[j] = p[-1, j-1]
        de = (ql[:4] + ql[1:] + 1) >> 1       # i = 0..3
        do = (ql[:3] + 2 * ql[1:4] + ql[2:] + 2) >> 2  # i = 1..3 at do[i-1]
        hz = (int(L[0]) + 2 * X + int(T[0]) + 2) >> 2
        hl2 = (int(T[1]) + 2 * int(T[0]) + X + 2) >> 2
        hl3 = (int(T[2]) + 2 * int(T[1]) + int(T[0]) + 2) >> 2
        return np.array([
            [de[0], hz, hl2, hl3],
            [de[1], do[0], de[0], hz],
            [de[2], do[1], de[1], do[0]],
            [de[3], do[2], de[2], do[1]],
        ], dtype=np.int64)
    raise ValueError(f"unknown Intra_4x4 mode {mode}")


def _intra4_all_preds(plane: np.ndarray, done4: np.ndarray, y: int,
                      x: int, allowed: list[int]) -> dict[int, list[int]]:
    """Encoder fast path: ALL allowed-mode predictions for one block as
    flat row-major 16-int lists, sharing one sample extraction (plain
    Python ints — at 4x4 scale the per-call numpy overhead of
    _intra4_predict costs more than the arithmetic; measured ~2x).
    Pinned to agree with _intra4_predict bit-for-bit by
    tests/test_h264.py::test_intra4_all_preds_agrees."""
    y4, x4 = y // 4, x // 4
    h4, w4 = done4.shape
    top, left = y4 > 0, x4 > 0
    out: dict[int, list[int]] = {}
    if top:
        T = [int(v) for v in plane[y - 1, x : x + 4]]
    if left:
        L = [int(v) for v in plane[y : y + 4, x - 1]]
    X = int(plane[y - 1, x - 1]) if (top and left) else 0

    dc = _dc_predict(plane, y, x, 4)
    out[I4_DC] = [dc] * 16
    if top:
        out[I4_V] = T * 4
        tr_ok = (x4 + 1 < w4 and y4 > 0 and done4[y4 - 1, x4 + 1])
        if tr_ok:
            t = T + [int(v) for v in plane[y - 1, x + 4 : x + 8]]
        else:
            t = T + [T[3]] * 4
        u = [(t[i] + 2 * t[i + 1] + t[i + 2] + 2) >> 2 for i in range(6)]
        u.append((t[6] + 3 * t[7] + 2) >> 2)
        out[I4_DDL] = [u[r + c] for r in range(4) for c in range(4)]
        e = [(t[i] + t[i + 1] + 1) >> 1 for i in range(7)]
        o = [(t[i] + 2 * t[i + 1] + t[i + 2] + 2) >> 2 for i in range(6)]
        out[I4_VL] = e[0:4] + o[0:4] + e[1:5] + o[1:5]
    if left:
        out[I4_H] = [v for v in L for _ in range(4)]
        he = [(L[i] + L[i + 1] + 1) >> 1 for i in range(3)]
        ho = [(L[i] + 2 * L[i + 1] + L[i + 2] + 2) >> 2 for i in range(2)]
        z5 = (L[2] + 3 * L[3] + 2) >> 2
        out[I4_HU] = [he[0], ho[0], he[1], ho[1],
                      he[1], ho[1], he[2], z5,
                      he[2], z5, L[3], L[3],
                      L[3], L[3], L[3], L[3]]
    if top and left:
        m = [L[3], L[2], L[1], L[0], X, T[0], T[1], T[2], T[3]]
        dg = [(m[i] + 2 * m[i + 1] + m[i + 2] + 2) >> 2 for i in range(7)]
        out[I4_DDR] = [dg[c - r + 3] for r in range(4) for c in range(4)]
        q = [X] + T
        ve = [(q[i] + q[i + 1] + 1) >> 1 for i in range(4)]
        vo = [(q[i] + 2 * q[i + 1] + q[i + 2] + 2) >> 2 for i in range(3)]
        vz = (L[0] + 2 * X + T[0] + 2) >> 2
        vl2 = (L[1] + 2 * L[0] + X + 2) >> 2
        vl3 = (L[2] + 2 * L[1] + L[0] + 2) >> 2
        out[I4_VR] = [ve[0], ve[1], ve[2], ve[3],
                      vz, vo[0], vo[1], vo[2],
                      vl2, ve[0], ve[1], ve[2],
                      vl3, vz, vo[0], vo[1]]
        ql = [X] + L
        de = [(ql[i] + ql[i + 1] + 1) >> 1 for i in range(4)]
        do = [(ql[i] + 2 * ql[i + 1] + ql[i + 2] + 2) >> 2
              for i in range(3)]
        hl2 = (T[1] + 2 * T[0] + X + 2) >> 2
        hl3 = (T[2] + 2 * T[1] + T[0] + 2) >> 2
        out[I4_HD] = [de[0], vz, hl2, hl3,
                      de[1], do[0], de[0], vz,
                      de[2], do[1], de[1], do[0],
                      de[3], do[2], de[2], do[1]]
    return {m: out[m] for m in allowed}


def _intra4_pred_mode(mode4: np.ndarray, y4: int, x4: int) -> int:
    """predIntra4x4PredMode (§8.3.1.1): min of the left and above 4x4
    blocks' modes; an out-of-picture neighbor counts as DC (2)."""
    ma = int(mode4[y4, x4 - 1]) if x4 > 0 else 2
    mb = int(mode4[y4 - 1, x4]) if y4 > 0 else 2
    return min(ma, mb)


# CBP me(v) mapping, Table 9-4 column "Intra_4x4" (codeNum -> cbp)
CBP_INTRA = [47, 31, 15, 0, 23, 27, 29, 30, 7, 11, 13, 14, 39, 43, 45, 46,
             16, 3, 5, 10, 12, 19, 21, 26, 28, 35, 37, 42, 44, 1, 2, 4, 8,
             17, 18, 20, 24, 6, 9, 22, 25, 32, 33, 34, 36, 40, 38, 41]
_CBP_INTRA_INV = {cbp: i for i, cbp in enumerate(CBP_INTRA)}


def _cbp_lookup(table, code: int) -> int:
    # untrusted-blob hardening: Table 9-4 has 48 rows; a larger codeNum
    # is an invalid bitstream (documented ValueError), not an IndexError
    if code >= len(table):
        raise ValueError(f"invalid coded_block_pattern codeNum {code}")
    return table[code]


# ---------------------------------------------------------------------------
# headers


def _build_sps_rbsp(width: int, height: int) -> bytes:
    """Baseline profile (66); poc_type 2 pins display order to decoding
    order, which is all a single-frame stream needs."""
    if width % 16 or height % 16:
        raise ValueError("dimensions must be multiples of 16 in this scope")
    w = BitWriter()
    w.u(66, 8)   # profile_idc
    w.u(0, 8)    # constraint flags
    w.u(30, 8)   # level_idc
    w.ue(0)      # sps id
    w.ue(0)      # log2_max_frame_num_minus4
    w.ue(2)      # pic_order_cnt_type
    w.ue(1)      # max_num_ref_frames
    w.u(0, 1)    # gaps_in_frame_num
    w.ue(width // 16 - 1)
    w.ue(height // 16 - 1)
    w.u(1, 1)    # frame_mbs_only
    w.u(1, 1)    # direct_8x8_inference
    w.u(0, 1)    # no cropping
    w.u(0, 1)    # no VUI
    return w.rbsp()


def _build_pps_rbsp() -> bytes:
    w = BitWriter()
    w.ue(0)      # pps id
    w.ue(0)      # sps id
    w.u(0, 1)    # entropy_coding_mode = CAVLC
    w.u(0, 1)    # bottom_field_pic_order_in_frame_present
    w.ue(0)      # num_slice_groups_minus1
    w.ue(0)      # num_ref_idx_l0_default_active_minus1
    w.ue(0)      # num_ref_idx_l1_default_active_minus1
    w.u(0, 1)    # weighted_pred_flag
    w.u(0, 2)    # weighted_bipred_idc
    w.se(0)      # pic_init_qp_minus26
    w.se(0)      # pic_init_qs_minus26
    w.se(0)      # chroma_qp_index_offset
    w.u(1, 1)    # deblocking_filter_control_present_flag
    w.u(0, 1)    # constrained_intra_pred
    w.u(0, 1)    # redundant_pic_cnt_present
    return w.rbsp()


def _nal(nal_type: int, rbsp: bytes) -> bytes:
    """Annex-B start code + NAL header with nal_ref_idc 3."""
    return b"\x00\x00\x00\x01" + bytes([(3 << 5) | nal_type]) + rbsp


# ---------------------------------------------------------------------------
# encoder


def encode_iframe(rgb_or_gray: np.ndarray, qp: int = 20) -> bytes:
    """(H, W) grayscale or (H, W, 3) RGB uint8 → Annex-B H.264 stream
    (SPS + PPS + one IDR I-slice). H and W must be multiples of 16.
    Luma carries full Intra_4x4 + CAVLC residual at the given QP;
    4:2:0 chroma carries DC prediction plus the real §8.5.11 residual
    (2x2 DC Hadamard + AC CAVLC) at the Table 8-15 chroma QP. Use
    `encoder_reconstruction` for the decoder-exact reference pixels."""
    y_plane, cb, cr = _to_yuv(rgb_or_gray)
    _recon, payload = _encode_slice(y_plane, cb, cr, qp)
    h, w_ = y_plane.shape
    return (_nal(7, _build_sps_rbsp(w_, h))
            + _nal(8, _build_pps_rbsp())
            + _nal(5, payload))


def encoder_reconstruction(rgb_or_gray: np.ndarray, qp: int = 20) -> np.ndarray:
    """The encoder's own decoded-loop luma reconstruction — the
    bit-exact reference the decoder must reproduce."""
    return encoder_reconstruction_yuv(rgb_or_gray, qp)[0]


def encoder_reconstruction_yuv(rgb_or_gray: np.ndarray, qp: int = 20,
                               ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Full decoded-loop (luma, cb, cr) reconstruction — the bit-exact
    reference the decoder must reproduce on all three planes."""
    y_plane, cb, cr = _to_yuv(rgb_or_gray)
    recon, _ = _encode_slice(y_plane, cb, cr, qp)
    return recon


def _to_yuv(img: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    img = np.asarray(img)
    if img.ndim == 3:
        r = img[:, :, 0].astype(np.int64)
        g = img[:, :, 1].astype(np.int64)
        b = img[:, :, 2].astype(np.int64)
        y = (77 * r + 150 * g + 29 * b + 128) >> 8
        cb = np.clip(((b - y) * 144 // 256) + 128, 0, 255)
        cr = np.clip(((r - y) * 183 // 256) + 128, 0, 255)
        y = np.clip(y, 0, 255)
    else:
        y = img.astype(np.int64)
        cb = np.full_like(y, 128)
        cr = np.full_like(y, 128)
    return (y.astype(np.uint8), cb[::2, ::2].astype(np.uint8),
            cr[::2, ::2].astype(np.uint8))


def _encode_slice(y_plane: np.ndarray, cb_plane: np.ndarray,
                  cr_plane: np.ndarray, qp: int,
                  ) -> tuple[tuple[np.ndarray, np.ndarray, np.ndarray],
                             bytes]:
    """Encode one IDR I slice. Every MB picks the cheaper of I_4x4
    (all nine §8.3.1.2 modes under most-probable-mode signaling) and
    I_16x16 (§8.3.3 V/H/DC/Plane whole-MB prediction with the §8.5.10
    luma DC Hadamard path, mb_type jointly coding the prediction mode
    and both CBPs per Table 7-11) — smooth macroblocks collapse to a
    handful of I_16x16 bits."""
    h, w_ = y_plane.shape
    if h % 16 or w_ % 16:
        raise ValueError("dimensions must be multiples of 16 in this scope")
    if not 0 <= qp <= 51:
        raise ValueError("QP out of range")
    mbs_w, mbs_h = w_ // 16, h // 16
    w = BitWriter()
    # slice header (IDR I-slice)
    w.ue(0)            # first_mb_in_slice
    w.ue(7)            # slice_type I (all slices)
    w.ue(0)            # pps id
    w.u(0, 4)          # frame_num (log2_max_frame_num = 4)
    w.ue(0)            # idr_pic_id
    # dec_ref_pic_marking (present: IDR with nal_ref_idc != 0, §7.3.3.3)
    w.u(0, 1)          # no_output_of_prior_pics_flag
    w.u(0, 1)          # long_term_reference_flag
    w.se(qp - 26)      # slice_qp_delta
    w.ue(1)            # disable_deblocking_filter_idc = 1 (off)

    recon = np.zeros((h, w_), dtype=np.int64)
    tc_map = np.zeros((h // 4, w_ // 4), dtype=np.int64)
    mode4 = np.full((h // 4, w_ // 4), I4_DC, dtype=np.int64)
    done4 = np.zeros((h // 4, w_ // 4), dtype=bool)
    src_cb = cb_plane.astype(np.int64)
    src_cr = cr_plane.astype(np.int64)
    rec_cb = np.zeros((h // 2, w_ // 2), dtype=np.int64)
    rec_cr = np.zeros((h // 2, w_ // 2), dtype=np.int64)
    tc_cb = np.zeros((h // 8, w_ // 8), dtype=np.int64)
    tc_cr = np.zeros((h // 8, w_ // 8), dtype=np.int64)
    qpc = chroma_qp(qp)
    # I_16x16-vs-I_4x4 deadband: I_4x4 spends ~16 extra mode-signal
    # bits plus typically more coded residual blocks, so its SAD win
    # must clear a qp-scaled margin (~48 SAD per qp double-step —
    # smooth near-tie MBs then take the cheaper I_16x16 coding)
    i16_pen = 48 << (qp // 6)
    for mby in range(mbs_h):
        for mbx in range(mbs_w):
            y0m, x0m = mby * 16, mbx * 16
            src_mb = y_plane[y0m : y0m + 16, x0m : x0m + 16].astype(
                np.int64)
            p16_all = _intra16_preds(recon, mbx, mby)
            sad16, m16 = min(
                (int(np.abs(src_mb - p).sum()), m)
                for m, p in p16_all.items()
            )
            # stage the I_4x4 coding; MB-local state snapshots allow
            # rolling back to the I_16x16 alternative
            snap_tc = tc_map[y0m // 4 : y0m // 4 + 4,
                             x0m // 4 : x0m // 4 + 4].copy()
            i4_sad = 0
            # mode syntax precedes the residuals in the bitstream, but
            # selecting block i's mode needs blocks 0..i-1 already
            # reconstructed — so stage both bit runs and splice after
            mode_bits, res_bits = BitWriter(), BitWriter()
            for blk in range(16):
                bx, by = LUMA_BLOCK_XY[blk]
                x, y = mbx * 16 + bx, mby * 16 + by
                y4, x4 = y // 4, x // 4
                src_blk = y_plane[y : y + 4, x : x + 4].astype(np.int64)
                src_flat = [int(v) for v in src_blk.ravel()]
                predm = _intra4_pred_mode(mode4, y4, x4)
                best = None
                preds = _intra4_all_preds(
                    recon, done4, y, x, _intra4_allowed(done4, y4, x4)
                )
                for m, p in preds.items():
                    cost = sum(
                        a - b if a >= b else b - a
                        for a, b in zip(src_flat, p)
                    )
                    # ties: predicted mode (1 signaled bit) beats a
                    # 4-bit explicit mode; then the smaller mode number
                    key = (cost, 0 if m == predm else 1, m)
                    if best is None or key < best[0]:
                        best = (key, m, p)
                _, mode, pred_flat = best
                i4_sad += best[0][0]
                pred = np.array(pred_flat, dtype=np.int64).reshape(4, 4)
                if mode == predm:
                    mode_bits.u(1, 1)  # prev_intra4x4_pred_mode_flag
                else:
                    mode_bits.u(0, 1)
                    mode_bits.u(mode - (1 if mode > predm else 0), 3)
                res = src_blk - pred
                levels = quantize_4x4(forward_transform_4x4(res), qp)
                nc = _neighbor_nc(tc_map, y4, x4)
                tc = encode_residual_block(res_bits, levels, nc)
                tc_map[y4, x4] = tc
                rec_res = inverse_transform_4x4(dequantize_4x4(levels, qp))
                recon[y : y + 4, x : x + 4] = np.clip(
                    pred + rec_res, 0, 255)
                mode4[y4, x4] = mode
                done4[y4, x4] = True
            # chroma: DC prediction from reconstructed neighbors + real
            # residual (2x2 DC Hadamard + AC) — CBP chroma 0/1/2,
            # common to both luma coding choices
            cy, cx = mby * 8, mbx * 8
            pred_cb = _chroma_dc_pred8(rec_cb, cy, cx)
            pred_cr = _chroma_dc_pred8(rec_cr, cy, cx)
            cc, dcs, acs = _quantize_chroma_mb(
                src_cb[cy : cy + 8, cx : cx + 8] - pred_cb,
                src_cr[cy : cy + 8, cx : cx + 8] - pred_cr, qpc)
            take_i16 = sad16 <= i4_sad + i16_pen
            # I_PCM (mb_type 25): when even the cheaper coded form
            # spends more LUMA bits than the raw macroblock (384 bytes
            # incl. chroma), transmit the samples verbatim — losslessly
            # and strictly smaller. Only entropy-defeating content at
            # very low qp trips this.
            i4_bits = len(mode_bits.bits) + len(res_bits.bits)
            if not take_i16 and i4_bits > 8 * 384 + 64:
                tc_map[y0m // 4 : y0m // 4 + 4,
                       x0m // 4 : x0m // 4 + 4] = 16  # §9.2.1: nN = 16
                mode4[y0m // 4 : y0m // 4 + 4,
                      x0m // 4 : x0m // 4 + 4] = I4_DC
                cy, cx = mby * 8, mbx * 8
                tc_cb[cy // 4 : cy // 4 + 2, cx // 4 : cx // 4 + 2] = 16
                tc_cr[cy // 4 : cy // 4 + 2, cx // 4 : cx // 4 + 2] = 16
                w.ue(25)  # mb_type I_PCM
                while len(w.bits) % 8:
                    w.u(0, 1)  # pcm_alignment_zero_bit
                for row in src_mb:
                    for v in row:
                        w.u(int(v), 8)
                for plane in (src_cb, src_cr):
                    for row in plane[cy : cy + 8, cx : cx + 8]:
                        for v in row:
                            w.u(int(v), 8)
                recon[y0m : y0m + 16, x0m : x0m + 16] = src_mb
                rec_cb[cy : cy + 8, cx : cx + 8] =                     src_cb[cy : cy + 8, cx : cx + 8]
                rec_cr[cy : cy + 8, cx : cx + 8] =                     src_cr[cy : cy + 8, cx : cx + 8]
                done4[y0m // 4 : y0m // 4 + 4,
                      x0m // 4 : x0m // 4 + 4] = True
                continue
            if take_i16:
                p16 = p16_all[m16]
                dc4 = np.empty((4, 4), dtype=np.int64)
                ac_levels = []
                cbp15 = False
                for blk in range(16):
                    bx, by = LUMA_BLOCK_XY[blk]
                    res = (src_mb[by : by + 4, bx : bx + 4]
                           - p16[by : by + 4, bx : bx + 4])
                    w16 = forward_transform_4x4(res)
                    dc4[by // 4, bx // 4] = w16[0, 0]
                    lv = quantize_4x4(w16, qp)
                    lv[0, 0] = 0
                    ac_levels.append(lv)
                    if lv.any():
                        cbp15 = True
                dc_levels = quantize_luma_dc(luma_dc_forward(dc4), qp)
                # the 4x-precision DC path can exceed the CAVLC
                # level-escape range on extreme flat residuals at very
                # low qp — fall back to the already-staged I_4x4 MB
                # (which codes the DC per block at 1x scale) there
                if int(np.abs(dc_levels).max()) > 2000:
                    take_i16 = False
            if take_i16:
                # I_16x16 wins: roll the staged I_4x4 state back (the
                # luma recon is rewritten in full below; neighbor
                # Intra4x4 contexts see DC per §8.3.1.1)
                tc_map[y0m // 4 : y0m // 4 + 4,
                       x0m // 4 : x0m // 4 + 4] = snap_tc
                mode4[y0m // 4 : y0m // 4 + 4,
                      x0m // 4 : x0m // 4 + 4] = I4_DC
                # Table 7-11: mb_type jointly codes the prediction
                # mode and both coded-block patterns
                w.ue(1 + m16 + 4 * cc + (12 if cbp15 else 0))
                w.ue(0)   # intra_chroma_pred_mode DC
                w.se(0)   # mb_qp_delta (always present for I_16x16)
                # Intra16x16DCLevel: nC as for luma block 0 (§9.2.1)
                nc = _neighbor_nc(tc_map, y0m // 4, x0m // 4)
                encode_residual_block(w, dc_levels, nc, "full")
                dcy = dequantize_luma_dc(dc_levels, qp)
                for blk in range(16):
                    bx, by = LUMA_BLOCK_XY[blk]
                    y4g, x4g = (y0m + by) // 4, (x0m + bx) // 4
                    if cbp15:
                        nc = _neighbor_nc(tc_map, y4g, x4g)
                        tc_map[y4g, x4g] = encode_residual_block(
                            w, ac_levels[blk], nc, "ac")
                    else:
                        tc_map[y4g, x4g] = 0
                    d = dequantize_4x4(ac_levels[blk], qp)
                    d[0, 0] = dcy[by // 4, bx // 4]
                    resr = inverse_transform_4x4(d)
                    recon[y0m + by : y0m + by + 4,
                          x0m + bx : x0m + bx + 4] = np.clip(
                        p16[by : by + 4, bx : bx + 4] + resr, 0, 255)
                    done4[y4g, x4g] = True
            else:
                w.ue(0)  # mb_type I_4x4
                w.bits.extend(mode_bits.bits)
                w.ue(0)        # intra_chroma_pred_mode DC
                w.ue(_CBP_INTRA_INV[15 | (cc << 4)])
                w.se(0)        # mb_qp_delta
                w.bits.extend(res_bits.bits)
            _write_chroma_residual(w, cc, dcs, acs, tc_cb, tc_cr,
                                   cy // 4, cx // 4)
            rec_cb[cy : cy + 8, cx : cx + 8] = _recon_chroma_blocks(
                pred_cb, dcs["cb"], acs["cb"], qpc)
            rec_cr[cy : cy + 8, cx : cx + 8] = _recon_chroma_blocks(
                pred_cr, dcs["cr"], acs["cr"], qpc)
    return ((recon.astype(np.uint8), rec_cb.astype(np.uint8),
             rec_cr.astype(np.uint8)), w.rbsp())


def _neighbor_nc(tc_map: np.ndarray, by: int, bx: int) -> int:
    has_a = bx > 0
    has_b = by > 0
    if has_a and has_b:
        return (int(tc_map[by, bx - 1]) + int(tc_map[by - 1, bx]) + 1) >> 1
    if has_a:
        return int(tc_map[by, bx - 1])
    if has_b:
        return int(tc_map[by - 1, bx])
    return 0


# ---------------------------------------------------------------------------
# decoder


def decode_iframe(data: bytes) -> dict:
    """Annex-B H.264 stream → {width, height, qp, luma (H,W) uint8,
    cb, cr (H/2,W/2) uint8, n_mbs, n_i16_mbs, n_pcm_mbs}. Decodes the
    first IDR slice; raises NotImplementedError with the exact
    unsupported feature for anything outside the intra-CAVLC envelope
    documented in the module docstring."""
    sps = pps = slice_rbsp = None
    slice_ref_idc = 0
    for ref_idc, nal_type, rbsp in _split_annexb(data):
        if nal_type == 7 and sps is None:
            sps = _parse_sps(BitReader(strip_emulation(rbsp)))
        elif nal_type == 8 and pps is None:
            pps = _parse_pps(BitReader(strip_emulation(rbsp)))
        elif nal_type in (1, 5) and slice_rbsp is None:
            if nal_type == 1:
                raise NotImplementedError("non-IDR slices (P/B) unsupported")
            slice_rbsp = strip_emulation(rbsp)
            slice_ref_idc = ref_idc
    if sps is None or pps is None or slice_rbsp is None:
        raise ValueError("stream lacks SPS, PPS, or an IDR slice")
    if pps["cabac"]:
        raise NotImplementedError("CABAC entropy coding unsupported")
    r = BitReader(slice_rbsp)
    if r.ue() != 0:
        raise NotImplementedError("multi-slice pictures unsupported")
    if r.ue() % 5 != 2:
        raise NotImplementedError("only I slices supported")
    (luma, cb, cr), qp, n_i16, n_pcm = _decode_islice_body(
        r, sps, pps, slice_ref_idc)
    return {
        "width": sps["width"],
        "height": sps["height"],
        "qp": qp,
        "n_mbs": (sps["width"] // 16) * (sps["height"] // 16),
        "n_i16_mbs": n_i16,
        "n_pcm_mbs": n_pcm,
        "luma": luma,
        "cb": cb,
        "cr": cr,
    }


def _split_annexb(data: bytes) -> list[tuple[int, int, bytes]]:
    """→ [(nal_ref_idc, nal_type, payload)] — ref_idc is kept because
    dec_ref_pic_marking presence in slice headers depends on it."""
    starts = []
    i = 0
    while True:
        j = data.find(b"\x00\x00\x01", i)
        if j < 0:
            break
        starts.append(j + 3)
        i = j + 3
    out = []
    for k, s in enumerate(starts):
        end = (starts[k + 1] - 3) if k + 1 < len(starts) else len(data)
        nal = data[s:end]
        while nal and nal[-1] == 0:
            nal = nal[:-1]
        if nal:
            out.append(((nal[0] >> 5) & 3, nal[0] & 0x1F, nal[1:]))
    return out


def _parse_sps(r: BitReader) -> dict:
    profile = r.u(8)
    r.u(8)
    r.u(8)  # level
    r.ue()  # sps id
    if profile in (100, 110, 122, 244, 44, 83, 86, 118, 128):
        raise NotImplementedError("High-profile SPS unsupported")
    log2_mfn = r.ue() + 4
    poc_type = r.ue()
    if poc_type == 0:
        log2_poc_lsb = r.ue() + 4
    elif poc_type == 2:
        log2_poc_lsb = 0
    else:
        raise NotImplementedError("POC type 1 unsupported")
    r.ue()  # max refs
    r.u(1)
    w_mbs = r.ue() + 1
    h_units = r.ue() + 1
    if w_mbs > 512 or h_units > 512:
        # untrusted-blob guard: a forged SPS claiming huge dimensions
        # must not become a multi-GB frame allocation downstream
        raise ValueError(
            f"SPS dimensions {16 * w_mbs}x{16 * h_units} exceed the "
            "8192x8192 envelope bound"
        )
    frame_mbs_only = r.u(1)
    if not frame_mbs_only:
        raise NotImplementedError("interlaced streams unsupported")
    r.u(1)  # direct_8x8
    if r.u(1):
        raise NotImplementedError("cropped SPS unsupported in this scope")
    r.u(1)  # vui
    return {
        "width": w_mbs * 16,
        "height": h_units * 16,
        "log2_max_frame_num": log2_mfn,
        "poc_type": poc_type,
        "log2_max_poc_lsb": log2_poc_lsb,
    }


def _parse_pps(r: BitReader) -> dict:
    r.ue()  # pps id
    r.ue()  # sps id
    cabac = r.u(1)
    r.u(1)
    if r.ue() != 0:
        raise NotImplementedError("slice groups unsupported")
    r.ue()  # num_ref_idx_l0_default_active_minus1
    r.ue()  # num_ref_idx_l1_default_active_minus1
    r.u(3)  # weighted_pred_flag, weighted_bipred_idc
    qp_delta = r.se()
    r.se()
    r.se()
    deblocking_control = r.u(1)
    r.u(1)
    r.u(1)
    return {
        "cabac": bool(cabac),
        "pic_init_qp_delta": qp_delta,
        "deblocking_control": bool(deblocking_control),
    }




def _decode_islice_body(r: BitReader, sps: dict, pps: dict,
                        ref_idc: int) -> tuple:
    """Decode an IDR I slice whose first_mb/slice_type were consumed →
    ((luma, cb, cr), qp, n_i16, n_pcm). dec_ref_pic_marking is present
    only when nal_ref_idc != 0."""
    w_, h = sps["width"], sps["height"]
    r.ue()  # pps id
    r.u(sps["log2_max_frame_num"])
    r.ue()  # idr_pic_id
    if sps["poc_type"] == 0:
        r.u(sps["log2_max_poc_lsb"])  # pic_order_cnt_lsb
    if ref_idc:
        r.u(2)  # no_output_of_prior_pics + long_term_reference flags
    qp = 26 + pps["pic_init_qp_delta"] + r.se()
    if pps["deblocking_control"]:
        if r.ue() != 1:
            raise NotImplementedError(
                "deblocking filter enabled — decode-without-deblock would "
                "not be conformant"
            )
    recon = np.zeros((h, w_), dtype=np.int64)
    tc_map = np.zeros((h // 4, w_ // 4), dtype=np.int64)
    mode4 = np.full((h // 4, w_ // 4), I4_DC, dtype=np.int64)
    done4 = np.zeros((h // 4, w_ // 4), dtype=bool)
    rec_cb = np.zeros((h // 2, w_ // 2), dtype=np.int64)
    rec_cr = np.zeros((h // 2, w_ // 2), dtype=np.int64)
    tc_cb = np.zeros((h // 8, w_ // 8), dtype=np.int64)
    tc_cr = np.zeros((h // 8, w_ // 8), dtype=np.int64)
    qpc = chroma_qp(qp)
    n_mbs = (h // 16) * (w_ // 16)
    n_i16 = 0
    n_pcm = 0
    for mb in range(n_mbs):
        mbx, mby = mb % (w_ // 16), mb // (w_ // 16)
        mb_type = r.ue()
        if mb_type > 25:
            raise ValueError(f"invalid I mb_type {mb_type} (Table 7-11)")
        if mb_type == 25:
            # I_PCM: byte-align, then the raw samples verbatim
            n_pcm += 1
            while r.pos % 8:
                if r.bit():
                    raise ValueError("nonzero pcm_alignment bit")
            y0m, x0m = mby * 16, mbx * 16
            cy, cx = mby * 8, mbx * 8
            for ry in range(16):
                for rx in range(16):
                    recon[y0m + ry, x0m + rx] = r.u(8)
            for plane in (rec_cb, rec_cr):
                for ry in range(8):
                    for rx in range(8):
                        plane[cy + ry, cx + rx] = r.u(8)
            tc_map[y0m // 4 : y0m // 4 + 4,
                   x0m // 4 : x0m // 4 + 4] = 16  # §9.2.1: nN = 16
            mode4[y0m // 4 : y0m // 4 + 4,
                  x0m // 4 : x0m // 4 + 4] = I4_DC
            tc_cb[cy // 4 : cy // 4 + 2, cx // 4 : cx // 4 + 2] = 16
            tc_cr[cy // 4 : cy // 4 + 2, cx // 4 : cx // 4 + 2] = 16
            done4[y0m // 4 : y0m // 4 + 4,
                  x0m // 4 : x0m // 4 + 4] = True
            continue
        if mb_type >= 1:
            # I_16x16 (Table 7-11): mb_type jointly codes the
            # prediction mode and both coded-block patterns
            n_i16 += 1
            im = (mb_type - 1) % 4
            cbp_c = ((mb_type - 1) // 4) % 3
            cbp15 = (mb_type - 1) >= 12
            if r.ue() != 0:
                raise NotImplementedError(
                    "non-DC chroma prediction unsupported")
            if r.se() != 0:
                raise NotImplementedError("mb_qp_delta unsupported")
            preds16 = _intra16_preds(recon, mbx, mby)
            if im not in preds16:
                raise ValueError(
                    f"I_16x16 mode {im} needs unavailable neighbors")
            p16 = preds16[im]
            y0m, x0m = mby * 16, mbx * 16
            nc = _neighbor_nc(tc_map, y0m // 4, x0m // 4)
            dc_levels, _tc = decode_residual_block(r, nc, "full")
            dcy = dequantize_luma_dc(dc_levels, qp)
            for blk in range(16):
                bx, by = LUMA_BLOCK_XY[blk]
                y4g, x4g = (y0m + by) // 4, (x0m + bx) // 4
                if cbp15:
                    nc = _neighbor_nc(tc_map, y4g, x4g)
                    ac, tc = decode_residual_block(r, nc, "ac")
                    tc_map[y4g, x4g] = tc
                else:
                    ac = np.zeros((4, 4), dtype=np.int64)
                    tc_map[y4g, x4g] = 0
                d = dequantize_4x4(ac, qp)
                d[0, 0] = dcy[by // 4, bx // 4]
                res = inverse_transform_4x4(d)
                recon[y0m + by : y0m + by + 4,
                      x0m + bx : x0m + bx + 4] = np.clip(
                    p16[by : by + 4, bx : bx + 4] + res, 0, 255)
                done4[y4g, x4g] = True
                # neighbor Intra4x4 contexts see DC (§8.3.1.1)
                mode4[y4g, x4g] = I4_DC
            cy, cx = mby * 8, mbx * 8
            dcs, acs = _read_chroma_residual(r, cbp_c, tc_cb, tc_cr,
                                             cy // 4, cx // 4)
            rec_cb[cy : cy + 8, cx : cx + 8] = _recon_chroma_blocks(
                _chroma_dc_pred8(rec_cb, cy, cx), dcs["cb"],
                acs["cb"], qpc)
            rec_cr[cy : cy + 8, cx : cx + 8] = _recon_chroma_blocks(
                _chroma_dc_pred8(rec_cr, cy, cx), dcs["cr"],
                acs["cr"], qpc)
            continue
        modes = []
        for blk in range(16):
            bx, by = LUMA_BLOCK_XY[blk]
            y4, x4 = (mby * 16 + by) // 4, (mbx * 16 + bx) // 4
            predm = _intra4_pred_mode(mode4, y4, x4)
            if r.bit():
                mode = predm
            else:
                rem = r.u(3)
                # rem skips the predicted mode (§8.3.1.1)
                mode = rem if rem < predm else rem + 1
            mode4[y4, x4] = mode
            modes.append(mode)
        if r.ue() != 0:
            raise NotImplementedError("non-DC chroma prediction unsupported")
        cbp = _cbp_lookup(CBP_INTRA, r.ue())
        if r.se() != 0:
            raise NotImplementedError("mb_qp_delta unsupported")
        for blk in range(16):
            bx, by = LUMA_BLOCK_XY[blk]
            x, y = mbx * 16 + bx, mby * 16 + by
            group = 1 << (2 * (by // 8) + (bx // 8))
            pred = _intra4_predict(recon, done4, y, x, modes[blk])
            if cbp & group:
                nc = _neighbor_nc(tc_map, y // 4, x // 4)
                levels, tc = decode_residual_block(r, nc)
                tc_map[y // 4, x // 4] = tc
                res = inverse_transform_4x4(dequantize_4x4(levels, qp))
            else:
                tc_map[y // 4, x // 4] = 0
                res = 0
            recon[y : y + 4, x : x + 4] = np.clip(pred + res, 0, 255)
            done4[y // 4, x // 4] = True
        cy, cx = mby * 8, mbx * 8
        dcs, acs = _read_chroma_residual(r, cbp >> 4, tc_cb, tc_cr,
                                         cy // 4, cx // 4)
        rec_cb[cy : cy + 8, cx : cx + 8] = _recon_chroma_blocks(
            _chroma_dc_pred8(rec_cb, cy, cx), dcs["cb"], acs["cb"], qpc)
        rec_cr[cy : cy + 8, cx : cx + 8] = _recon_chroma_blocks(
            _chroma_dc_pred8(rec_cr, cy, cx), dcs["cr"], acs["cr"], qpc)
    return ((recon.astype(np.uint8), rec_cb.astype(np.uint8),
             rec_cr.astype(np.uint8)), qp, n_i16, n_pcm)
