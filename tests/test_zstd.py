"""From-scratch RFC 8878 zstd decoder (kernel/zstd.py).

Same evidence pattern as the brotli codec:

* **conformance vs the reference implementation** (system libzstd
  via ctypes, tests only — skipped loudly if absent): streams
  produced at compression levels 1..22, with/without content size,
  checksums, explicit window logs, plus multi-frame concatenation
  and skippable frames, must decode here byte-identically;
* **store-mode encoder** output must decode under the real library
  AND here;
* **robustness**: random garbage and every truncation of a valid
  frame raise ZstdError only; the max_output zip-bomb guard trips;
  dictionary frames raise with the feature named; crafted hostile
  frames (Huffman weight above 11, truncated RLE sequence table,
  a match reaching into the previous frame, an overrunning skippable
  frame) fail closed with ZstdError.
"""

import ctypes
import random

import pytest

from credit_ocr_system_spark.kernel.zstd import (
    ZstdError,
    zstd_compress_store,
    zstd_decompress,
)


def _lib():
    try:
        lib = ctypes.CDLL("libzstd.so.1")
    except OSError:
        return None
    lib.ZSTD_createCCtx.restype = ctypes.c_void_p
    lib.ZSTD_freeCCtx.argtypes = [ctypes.c_void_p]
    lib.ZSTD_compressBound.restype = ctypes.c_size_t
    lib.ZSTD_isError.restype = ctypes.c_uint
    lib.ZSTD_CCtx_setParameter.argtypes = [
        ctypes.c_void_p, ctypes.c_int, ctypes.c_int]
    lib.ZSTD_compress2.restype = ctypes.c_size_t
    lib.ZSTD_compress2.argtypes = [
        ctypes.c_void_p, ctypes.c_char_p, ctypes.c_size_t,
        ctypes.c_char_p, ctypes.c_size_t]
    lib.ZSTD_decompress.restype = ctypes.c_size_t
    return lib


_Z = _lib()
needs_lib = pytest.mark.skipif(
    _Z is None, reason="system libzstd absent — conformance oracle "
                       "unavailable")

# zstd.h parameter enums
_P_LEVEL, _P_WLOG, _P_CSIZE, _P_CKSUM = 100, 101, 200, 201


def c_compress(data, level=3, wlog=0, csize=1, cksum=0):
    cctx = _Z.ZSTD_createCCtx()
    _Z.ZSTD_CCtx_setParameter(cctx, _P_LEVEL, level)
    if wlog:
        _Z.ZSTD_CCtx_setParameter(cctx, _P_WLOG, wlog)
    _Z.ZSTD_CCtx_setParameter(cctx, _P_CSIZE, csize)
    _Z.ZSTD_CCtx_setParameter(cctx, _P_CKSUM, cksum)
    bound = _Z.ZSTD_compressBound(len(data))
    out = ctypes.create_string_buffer(bound)
    n = _Z.ZSTD_compress2(cctx, out, bound, data, len(data))
    assert not _Z.ZSTD_isError(n)
    _Z.ZSTD_freeCCtx(cctx)
    return out.raw[:n]


def c_decompress(data, cap=1 << 26):
    out = ctypes.create_string_buffer(cap)
    n = _Z.ZSTD_decompress(out, cap, data, len(data))
    assert not _Z.ZSTD_isError(n)
    return out.raw[:n]


def _payloads():
    rng = random.Random(7)
    return [
        b"",
        b"a",
        b"hello zstd world " * 300,
        bytes(rng.getrandbits(8) for _ in range(4096)),
        (b"abcdef" * 50000),
        " ".join(rng.choice(["the", "of", "download", "info",
                             "page", "straße"])
                 for _ in range(20000)).encode(),
        bytes([170]) * 70000,
    ]


@needs_lib
@pytest.mark.parametrize("level", [1, 2, 3, 5, 9, 12, 19, 22])
def test_decodes_reference_encoder_levels(level):
    for p in _payloads():
        assert zstd_decompress(c_compress(p, level),
                               max_output=1 << 27) == p


@needs_lib
@pytest.mark.parametrize("wlog,csize,cksum",
                         [(0, 0, 0), (10, 1, 0), (18, 0, 1),
                          (0, 1, 1)])
def test_frame_header_variants(wlog, csize, cksum):
    for p in _payloads():
        c = c_compress(p, 9, wlog, csize, cksum)
        assert zstd_decompress(c, max_output=1 << 27) == p


@needs_lib
def test_multi_frame_and_skippable():
    c = (c_compress(b"first frame ", 3)
         + bytes.fromhex("502a4d18") + (4).to_bytes(4, "little")
         + b"SKIP" + c_compress(b"second", 19))
    assert zstd_decompress(c) == b"first frame second"


@needs_lib
def test_store_mode_accepted_by_reference_decoder():
    for p in _payloads():
        assert c_decompress(zstd_compress_store(p),
                            cap=1 << 27) == p


def test_store_mode_self_roundtrip():
    for p in _payloads():
        assert zstd_decompress(zstd_compress_store(p),
                               max_output=1 << 27) == p


def test_garbage_raises_zstd_error_only():
    rng = random.Random(99)
    for _ in range(300):
        blob = bytes(rng.getrandbits(8)
                     for _ in range(rng.randrange(1, 120)))
        try:
            zstd_decompress(blob, max_output=1 << 20)
        except ZstdError:
            pass


@needs_lib
def test_truncations_raise():
    stream = c_compress(b"hello zstd " * 500, 9)
    for cut in range(len(stream)):
        try:
            zstd_decompress(stream[:cut])
        except ZstdError:
            continue
        pytest.fail(f"truncation at {cut} decoded silently")


def test_max_output_guard():
    stream = zstd_compress_store(b"\x00" * (1 << 20))
    with pytest.raises(ZstdError):
        zstd_decompress(stream, max_output=1 << 10)


def test_dictionary_frames_named():
    # frame header declaring a 1-byte nonzero Dictionary_ID
    frame = (0xFD2FB528).to_bytes(4, "little") + bytes([0x21, 7])
    with pytest.raises(ZstdError, match="[Dd]ictionary"):
        zstd_decompress(frame + b"\x01\x00\x00")


# --- crafted hostile frames: each must fail closed with ZstdError ------

_MAGIC = (0xFD2FB528).to_bytes(4, "little")


def _frame(content_size, block):
    """Single-segment frame, 1-byte content size, one last compressed
    block."""
    bh = (len(block) << 3) | (2 << 1) | 1
    return (_MAGIC + bytes([0x20, content_size])
            + bh.to_bytes(3, "little") + block)


def _huffman_literal_frame(weight):
    """One Huffman-coded literal (symbol 0) behind a direct-weights
    tree whose single explicit weight is ``weight``; no sequences."""
    payload = bytes([128, weight << 4]) + b"\x02"  # tree + 1-bit stream
    joint = 1 | (len(payload) << 10)               # regen 1, 1 stream
    lit_hdr = bytes([2 | (joint & 0xF) << 4, (joint >> 4) & 0xFF,
                     (joint >> 12) & 0xFF])
    return _frame(1, lit_hdr + payload + b"\x00")


def _one_match_block(literals):
    """Raw ``literals`` then one sequence — all three tables in RLE
    mode: literal length len(literals), offset 4, match length 4."""
    return (bytes([len(literals) << 3]) + literals
            + bytes([1, 0x54, len(literals), 2, 1, 0x07]))


def test_huffman_weight_above_11_rejected():
    assert zstd_decompress(_huffman_literal_frame(1)) == b"\x00"
    with pytest.raises(ZstdError, match="11-bit maximum"):
        zstd_decompress(_huffman_literal_frame(12))


def test_truncated_rle_sequence_table_rejected():
    # one sequence, literal-length table in RLE mode, symbol byte cut
    with pytest.raises(ZstdError, match="RLE sequence table"):
        zstd_decompress(_frame(0, bytes([0x00, 0x01, 0x40])))


def test_match_offset_cannot_reach_into_previous_frame():
    assert zstd_decompress(_frame(8, _one_match_block(b"abcd"))) \
        == b"abcdabcd"
    # the same match, but the 4 bytes it points at belong to frame 1
    stream = zstd_compress_store(b"abcd") + _frame(4, _one_match_block(b""))
    with pytest.raises(ZstdError, match="beyond window"):
        zstd_decompress(stream)


def test_skippable_frame_overrunning_input_rejected():
    skip = bytes.fromhex("502a4d18") + (100).to_bytes(4, "little")
    with pytest.raises(ZstdError, match="skippable"):
        zstd_decompress(skip + b"abc")
    with pytest.raises(ZstdError, match="skippable"):
        zstd_decompress(zstd_compress_store(b"x") + skip + b"abc")
