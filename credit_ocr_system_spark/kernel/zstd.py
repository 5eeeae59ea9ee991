"""From-scratch RFC 8878 (zstandard) decoder — pure Python.

Closes the last HTTP Content-Encoding seam (VERDICT r4 "What's
missing" #2 tail): after gzip/deflate (zlib), br (``brotli.py``),
``zstd`` was the one encoding whose bodies passed through the WARC
envelope undecoded. This decoder covers the full single-frame
format a web server emits: frame headers (all FCS/window forms),
raw/RLE/compressed blocks, the four literals types (raw, RLE,
Huffman with direct or FSE-compressed weights, treeless repeat),
1- and 4-stream literals, FSE sequence tables (predefined, RLE,
compressed, repeat modes), interleaved backward bitstream sequence
decoding, repeat-offset history with the literals-length-0 twist,
and overlap-safe match copies. Dictionaries (nonzero Dictionary_ID)
raise with the feature named — Common Crawl responses are
dictionary-less. The 32-bit content checksum is skipped (presence
handled, value not recomputed — xxhash64 is out of scope).

Conformance (``tests/test_zstd.py``): the system libzstd is driven
via ctypes as a test-only oracle — streams it produces at every
compression level and window size must decode here byte-identically.

The minimal encoder (``zstd_compress_store``) emits raw/RLE-block
frames for deterministic corpus generation — container-valid, no
entropy coding, round-trips under any conformant decoder.
"""

from __future__ import annotations

MAGIC = 0xFD2FB528


class ZstdError(ValueError):
    """Malformed or unsupported zstd frame."""


# --------------------------------------------------------- tables

# Literals-length codes: (baseline, extra bits) — RFC 8878 §3.1.1.3.2.1.1
_LL_BASE = [
    (0, 0), (1, 0), (2, 0), (3, 0), (4, 0), (5, 0), (6, 0), (7, 0),
    (8, 0), (9, 0), (10, 0), (11, 0), (12, 0), (13, 0), (14, 0),
    (15, 0), (16, 1), (18, 1), (20, 1), (22, 1), (24, 2), (28, 2),
    (32, 3), (40, 3), (48, 4), (64, 6), (128, 7), (256, 8),
    (512, 9), (1024, 10), (2048, 11), (4096, 12), (8192, 13),
    (16384, 14), (32768, 15), (65536, 16)]

# Match-length codes: (baseline, extra bits) — §3.1.1.3.2.1.1
_ML_BASE = ([(i + 3, 0) for i in range(32)] + [
    (35, 1), (37, 1), (39, 1), (41, 1), (43, 2), (47, 2), (51, 3),
    (59, 3), (67, 4), (83, 4), (99, 5), (131, 7), (259, 8),
    (515, 9), (1027, 10), (2051, 11), (4099, 12), (8195, 13),
    (16387, 14), (32771, 15), (65539, 16)])

# Predefined FSE distributions — §3.1.1.3.2.2
_LL_DEFAULT_NORM = [4, 3, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 1, 1, 1,
                    2, 2, 2, 2, 2, 2, 2, 2, 2, 3, 2, 1, 1, 1, 1, 1,
                    -1, -1, -1, -1]
_LL_ACC = 6
_ML_DEFAULT_NORM = [1, 4, 3, 2, 2, 2, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1,
                    1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
                    1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, -1,
                    -1, -1, -1, -1, -1, -1]
_ML_ACC = 6
_OF_DEFAULT_NORM = [1, 1, 1, 1, 1, 1, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1,
                    1, 1, 1, 1, 1, 1, 1, 1, -1, -1, -1, -1, -1]
_OF_ACC = 5

_MAX_LL_CODE = 35
_MAX_ML_CODE = 52
_MAX_OF_CODE = 31  # window caps real frames far below this


def _highbit(v: int) -> int:
    return v.bit_length() - 1


# ------------------------------------------------------ bit readers


class _FwdBits:
    """Little-endian forward bit reader (FSE table descriptions)."""

    __slots__ = ("data", "pos")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0  # bit position

    def read(self, n: int) -> int:
        if n == 0:
            return 0
        end = self.pos + n
        if (end + 7) // 8 > len(self.data):
            raise ZstdError("FSE description overruns section")
        chunk = int.from_bytes(
            self.data[self.pos // 8:(end + 7) // 8], "little")
        v = (chunk >> (self.pos % 8)) & ((1 << n) - 1)
        self.pos = end
        return v

    def bytes_consumed(self) -> int:
        return (self.pos + 7) // 8


class _BackBits:
    """Backward bitstream (§3.1.1.3.2.1.2): bits are written LSB-
    first per byte but consumed from the LAST byte backward; the
    final byte carries a 1 sentinel above the data bits."""

    __slots__ = ("val", "avail")

    def __init__(self, data: bytes):
        if not data:
            raise ZstdError("empty backward bitstream")
        self.val = int.from_bytes(data, "little")
        top = data[-1]
        if top == 0:
            raise ZstdError("backward bitstream missing sentinel")
        self.avail = (len(data) - 1) * 8 + _highbit(top)

    def read(self, n: int) -> int:
        """Permissive read (reference BIT_DStream semantics): past
        the stream start the low bits zero-fill and ``avail`` goes
        negative — the overdraft flag consumers check. The FSE
        weight stream legitimately flushes its last states through
        zero bits; every other consumer REQUIRES avail to end >= 0
        (sequences: == 0) and treats overdraft as corruption."""
        if n == 0:
            return 0
        before = self.avail
        self.avail -= n
        if self.avail >= 0:
            return (self.val >> self.avail) & ((1 << n) - 1)
        if before <= 0:
            return 0
        return (self.val & ((1 << before) - 1)) << (n - before)

    def finished(self) -> bool:
        return self.avail == 0


# ------------------------------------------------------------- FSE


def _fse_build(norm: list[int], acc: int):
    """Decoding table from normalized counts: per state
    (symbol, nbits, base). RFC 8878 §4.1.1 spread + state rules."""
    size = 1 << acc
    table_sym = [0] * size
    high = size - 1
    # -1 ("less than 1") symbols take one cell each from the top
    for s, c in enumerate(norm):
        if c == -1:
            table_sym[high] = s
            high -= 1
    step = (size >> 1) + (size >> 3) + 3
    mask = size - 1
    pos = 0
    for s, c in enumerate(norm):
        if c <= 0:
            continue
        for _ in range(c):
            table_sym[pos] = s
            pos = (pos + step) & mask
            while pos > high:
                pos = (pos + step) & mask
    if pos != 0:
        raise ZstdError("corrupt FSE distribution (spread mismatch)")
    nxt = [0] * len(norm)
    for s, c in enumerate(norm):
        nxt[s] = c if c > 0 else 1
    nbits = [0] * size
    base = [0] * size
    for i in range(size):
        s = table_sym[i]
        x = nxt[s]
        nxt[s] += 1
        nb = acc - _highbit(x)
        nbits[i] = nb
        base[i] = (x << nb) - size
    return table_sym, nbits, base


def _fse_read_norm(fb: _FwdBits, max_sym: int, max_acc: int):
    """Parse an FSE table description (§4.1.1): accuracy log + the
    variable-bit normalized counts with probability accounting."""
    acc = fb.read(4) + 5
    if acc > max_acc:
        raise ZstdError(f"FSE accuracy {acc} exceeds max {max_acc}")
    remaining = (1 << acc) + 1
    norm: list[int] = []
    while remaining > 1:
        if len(norm) > max_sym:
            raise ZstdError("FSE description has too many symbols")
        nbits = _highbit(remaining) + 1
        threshold = 1 << (nbits - 1)
        # values below `max` fit in nbits-1 bits; the rest take one
        # extra bit and fold down (FSE_readNCount's exact rule)
        vmax = 2 * threshold - 1 - remaining
        v = fb.read(nbits - 1)
        if v >= vmax:
            v += fb.read(1) << (nbits - 1)
            if v >= threshold:
                v -= vmax
        count = v - 1                  # -1 encodes "less than 1"
        if count == -1:
            remaining -= 1
            norm.append(-1)
        else:
            remaining -= count
            norm.append(count)
        if count == 0:
            # zero-probability run: 2-bit repeat flags
            while True:
                rep = fb.read(2)
                norm.extend([0] * rep)
                if rep != 3:
                    break
    if remaining != 1:
        raise ZstdError("FSE distribution does not sum to table size")
    if len(norm) > max_sym + 1:
        raise ZstdError("FSE description has too many symbols")
    return norm, acc


class _FseState:
    __slots__ = ("sym", "nbits", "base", "state")

    def __init__(self, table, bits: _BackBits, acc: int):
        self.sym, self.nbits, self.base = table
        self.state = bits.read(acc)

    def symbol(self) -> int:
        return self.sym[self.state]

    def update(self, bits: _BackBits) -> None:
        nb = self.nbits[self.state]
        self.state = self.base[self.state] + bits.read(nb)


# --------------------------------------------------------- Huffman


_HUF_MAX_BITS = 11


def _huff_from_weights(weights: list[int]):
    """(max_bits, table) — table maps a max_bits-wide prefix to
    (symbol, length). Weight w>0 means length max_bits+1-w; the last
    symbol's weight is implied to complete a power of two. Code
    lengths are capped at ``_HUF_MAX_BITS`` (RFC 8878 §4.2.1): an
    FSE-coded weight may be any byte, and an uncapped one would size
    the decode table at ``1 << weight``."""
    if any(w > _HUF_MAX_BITS for w in weights):
        raise ZstdError(
            f"huffman weight above the {_HUF_MAX_BITS}-bit maximum")
    total = sum((1 << (w - 1)) for w in weights if w > 0)
    if total == 0:
        raise ZstdError("empty huffman weights")
    # the implied last weight completes the NEXT power of two
    max_bits = _highbit(total) + 1
    if max_bits > _HUF_MAX_BITS:
        raise ZstdError(
            f"huffman code length above the {_HUF_MAX_BITS}-bit maximum")
    left = (1 << max_bits) - total
    if left <= 0 or left & (left - 1):
        raise ZstdError("huffman weights: invalid completion")
    last_w = _highbit(left) + 1
    weights = weights + [last_w]
    if len(weights) > 256:
        raise ZstdError("too many huffman symbols")
    lengths = [max_bits + 1 - w if w > 0 else 0 for w in weights]
    # canonical: ascending weight (i.e., descending length), symbols
    # in natural order within a weight; codes fill the table low to
    # high — equivalently, assign by increasing weight
    size = 1 << max_bits
    table = [None] * size
    rank_pos = 0
    for w in range(1, max_bits + 1):
        ln = max_bits + 1 - w
        for s, ws in enumerate(weights):
            if ws == w:
                span = 1 << (max_bits - ln)
                if rank_pos + span > size:
                    raise ZstdError("huffman table overflow")
                for k in range(rank_pos, rank_pos + span):
                    table[k] = (s, ln)
                rank_pos += span
    if rank_pos != size:
        raise ZstdError("huffman table underfilled")
    return max_bits, table


def _read_huff_tree(data: bytes):
    """Huffman tree description (§4.2.1): returns ((max_bits, table),
    bytes consumed)."""
    if not data:
        raise ZstdError("missing huffman description")
    hdr = data[0]
    if hdr >= 128:
        n = hdr - 127
        nbytes = (n + 1) // 2
        raw = data[1:1 + nbytes]
        if len(raw) < nbytes:
            raise ZstdError("truncated direct huffman weights")
        weights = []
        for i in range(n):
            b = raw[i // 2]
            weights.append((b >> 4) if i % 2 == 0 else (b & 0xF))
        return _huff_from_weights(weights), 1 + nbytes
    # FSE-compressed weights: hdr bytes follow
    sub = data[1:1 + hdr]
    if len(sub) < hdr:
        raise ZstdError("truncated FSE weight stream")
    fb = _FwdBits(sub)
    norm, acc = _fse_read_norm(fb, 255, 6)
    table = _fse_build(norm, acc)
    bits = _BackBits(sub[fb.bytes_consumed():])
    s1 = _FseState(table, bits, acc)
    s2 = _FseState(table, bits, acc)
    # reference FSE_decompress loop: states flush their final
    # symbols through zero-filled reads; stop on overdraft
    weights: list[int] = []
    while True:
        if len(weights) > 254:
            raise ZstdError("too many huffman weights")
        weights.append(s1.symbol())
        s1.update(bits)
        if bits.avail < 0:
            weights.append(s2.symbol())
            break
        weights.append(s2.symbol())
        s2.update(bits)
        if bits.avail < 0:
            weights.append(s1.symbol())
            break
    return _huff_from_weights(weights), 1 + hdr


class _HuffReader:
    """Backward bitstream Huffman decoder (§4.2.2)."""

    __slots__ = ("bits", "max_bits", "table")

    def __init__(self, data: bytes, huff):
        self.max_bits, self.table = huff
        self.bits = _BackBits(data)

    def decode_into(self, out: bytearray, n: int) -> None:
        bits = self.bits
        mb = self.max_bits
        table = self.table
        for _ in range(n):
            have = min(mb, bits.avail)
            if have == 0:
                raise ZstdError("literals stream exhausted")
            peek = ((bits.val >> (bits.avail - have))
                    & ((1 << have) - 1)) << (mb - have)
            sym, ln = table[peek]
            if ln > bits.avail:
                raise ZstdError("literals stream exhausted")
            bits.avail -= ln
            out.append(sym)


# ---------------------------------------------------------- frame


def _decode_literals(block: bytes, state: dict):
    """Literals section (§3.1.1.3.1): returns (literals, consumed)."""
    if not block:
        raise ZstdError("empty compressed block")
    b0 = block[0]
    ltype = b0 & 3
    sf = (b0 >> 2) & 3
    if ltype in (0, 1):  # Raw / RLE
        if sf in (0, 2):
            size = b0 >> 3
            off = 1
        elif sf == 1:
            if len(block) < 2:
                raise ZstdError("truncated literals header")
            size = (b0 >> 4) | (block[1] << 4)
            off = 2
        else:
            if len(block) < 3:
                raise ZstdError("truncated literals header")
            size = (b0 >> 4) | (block[1] << 4) | (block[2] << 12)
            off = 3
        if ltype == 0:
            lit = block[off:off + size]
            if len(lit) < size:
                raise ZstdError("truncated raw literals")
            return bytes(lit), off + size
        if len(block) < off + 1:
            raise ZstdError("truncated RLE literal")
        return bytes([block[off]]) * size, off + 1
    # Compressed (2) / Treeless (3)
    if sf == 0:
        n_streams = 1
        if len(block) < 3:
            raise ZstdError("truncated literals header")
        joint = b0 >> 4 | (block[1] << 4) | (block[2] << 12)
        reg = joint & 0x3FF
        comp = joint >> 10
        off = 3
    elif sf == 1:
        n_streams = 4
        if len(block) < 3:
            raise ZstdError("truncated literals header")
        joint = b0 >> 4 | (block[1] << 4) | (block[2] << 12)
        reg = joint & 0x3FF
        comp = joint >> 10
        off = 3
    elif sf == 2:
        n_streams = 4
        if len(block) < 4:
            raise ZstdError("truncated literals header")
        joint = (b0 >> 4 | (block[1] << 4) | (block[2] << 12)
                 | (block[3] << 20))
        reg = joint & 0x3FFF
        comp = joint >> 14
        off = 4
    else:
        n_streams = 4
        if len(block) < 5:
            raise ZstdError("truncated literals header")
        joint = (b0 >> 4 | (block[1] << 4) | (block[2] << 12)
                 | (block[3] << 20) | (block[4] << 28))
        reg = joint & 0x3FFFF
        comp = joint >> 18
        off = 5
    payload = block[off:off + comp]
    if len(payload) < comp:
        raise ZstdError("truncated literals payload")
    if ltype == 2:
        huff, used = _read_huff_tree(payload)
        state["huff"] = huff
        payload = payload[used:]
    else:
        huff = state.get("huff")
        if huff is None:
            raise ZstdError("treeless literals with no previous tree")
    out = bytearray()
    if n_streams == 1:
        _HuffReader(payload, huff).decode_into(out, reg)
    else:
        if len(payload) < 6:
            raise ZstdError("missing 4-stream jump table")
        s1 = int.from_bytes(payload[0:2], "little")
        s2 = int.from_bytes(payload[2:4], "little")
        s3 = int.from_bytes(payload[4:6], "little")
        body = payload[6:]
        if s1 + s2 + s3 > len(body):
            raise ZstdError("jump table overruns literals payload")
        streams = [body[:s1], body[s1:s1 + s2],
                   body[s1 + s2:s1 + s2 + s3], body[s1 + s2 + s3:]]
        per = (reg + 3) // 4
        sizes = [per, per, per, reg - 3 * per]
        if sizes[3] < 0:
            raise ZstdError("regenerated size smaller than 3 streams")
        for sdata, n in zip(streams, sizes):
            _HuffReader(sdata, huff).decode_into(out, n)
    if len(out) != reg:
        raise ZstdError("literals size mismatch")
    return bytes(out), off + comp


def _seq_table(fb_data: bytes, pos: int, mode: int, which: str,
               state: dict):
    """One symbol-compression-mode table (§3.1.1.3.2.1): returns
    (table, acc, rle_symbol, new_pos)."""
    defaults = {"ll": (_LL_DEFAULT_NORM, _LL_ACC, _MAX_LL_CODE, 9),
                "ml": (_ML_DEFAULT_NORM, _ML_ACC, _MAX_ML_CODE, 9),
                "of": (_OF_DEFAULT_NORM, _OF_ACC, _MAX_OF_CODE, 8)}
    dnorm, dacc, max_sym, max_acc = defaults[which]
    if mode == 0:   # predefined
        key = f"_pre_{which}"
        if key not in state:
            state[key] = (_fse_build(dnorm, dacc), dacc)
        table, acc = state[key]
        state[which] = (table, acc, None)
        return pos
    if mode == 1:   # RLE: one byte = the only symbol
        if pos >= len(fb_data):
            raise ZstdError(f"truncated {which} RLE sequence table")
        sym = fb_data[pos]
        if sym > max_sym:
            raise ZstdError(f"{which} RLE symbol out of range")
        state[which] = (None, 0, sym)
        return pos + 1
    if mode == 2:   # FSE-compressed
        fb = _FwdBits(fb_data[pos:])
        norm, acc = _fse_read_norm(fb, max_sym, max_acc)
        table = _fse_build(norm, acc)
        state[which] = (table, acc, None)
        return pos + fb.bytes_consumed()
    # repeat: reuse previous table
    if which not in state or state[which] is None:
        raise ZstdError(f"{which} repeat mode with no previous table")
    return pos


def _decode_sequences(rest: bytes, state: dict):
    """Sequences section (§3.1.1.3.2): list of (ll, ml, offset_code
    value) raw triples plus the executing loop's offset history is
    applied by the caller."""
    if not rest:
        raise ZstdError("missing sequences section")
    b0 = rest[0]
    if b0 == 0:
        return [], 1
    if b0 < 128:
        nseq = b0
        pos = 1
    elif b0 < 255:
        if len(rest) < 2:
            raise ZstdError("truncated sequence count")
        nseq = ((b0 - 128) << 8) + rest[1]
        pos = 2
    else:
        if len(rest) < 3:
            raise ZstdError("truncated sequence count")
        nseq = int.from_bytes(rest[1:3], "little") + 0x7F00
        pos = 3
    if len(rest) <= pos:
        raise ZstdError("missing compression modes byte")
    modes = rest[pos]
    pos += 1
    if modes & 3:
        raise ZstdError("reserved sequence mode bits set")
    pos = _seq_table(rest, pos, (modes >> 6) & 3, "ll", state)
    pos = _seq_table(rest, pos, (modes >> 4) & 3, "of", state)
    pos = _seq_table(rest, pos, (modes >> 2) & 3, "ml", state)

    bits = _BackBits(rest[pos:])
    ll_t, ll_acc, ll_rle = state["ll"]
    of_t, of_acc, of_rle = state["of"]
    ml_t, ml_acc, ml_rle = state["ml"]
    ll_s = _FseState(ll_t, bits, ll_acc) if ll_rle is None else None
    of_s = _FseState(of_t, bits, of_acc) if of_rle is None else None
    ml_s = _FseState(ml_t, bits, ml_acc) if ml_rle is None else None

    seqs = []
    for i in range(nseq):
        of_code = of_s.symbol() if of_s else of_rle
        ml_code = ml_s.symbol() if ml_s else ml_rle
        ll_code = ll_s.symbol() if ll_s else ll_rle
        if of_code > _MAX_OF_CODE:
            raise ZstdError("offset code out of range")
        of_val = (1 << of_code) + bits.read(of_code)
        ml_base, ml_extra = _ML_BASE[ml_code]
        ml = ml_base + bits.read(ml_extra)
        ll_base, ll_extra = _LL_BASE[ll_code]
        ll = ll_base + bits.read(ll_extra)
        seqs.append((ll, ml, of_val))
        if i + 1 < nseq:
            # state updates in LL, ML, OF order (§3.1.1.3.2.1.2)
            if ll_s:
                ll_s.update(bits)
            if ml_s:
                ml_s.update(bits)
            if of_s:
                of_s.update(bits)
    if not bits.finished():
        raise ZstdError("sequence bitstream not fully consumed")
    return seqs, None


def _execute(out: bytearray, literals: bytes, seqs, rep: list[int],
             max_output: int, frame_start: int) -> None:
    """Run one block's sequences. Matches may reach back only into
    the current frame's output: every frame is decoded on its own, so
    bytes of an earlier frame are outside its window."""
    lit_pos = 0
    for ll, ml, of_val in seqs:
        if of_val > 3:
            offset = of_val - 3
            rep[2] = rep[1]
            rep[1] = rep[0]
            rep[0] = offset
        else:
            idx = of_val - 1
            if ll == 0:
                idx += 1
            if idx == 0:
                offset = rep[0]
            elif idx < 3:
                offset = rep[idx]
                if idx == 2:
                    rep[2] = rep[1]
                rep[1] = rep[0]
                rep[0] = offset
            else:  # idx == 3: repeat1 - 1 (the ll==0 twist)
                offset = rep[0] - 1
                if offset == 0:
                    raise ZstdError("repeat offset underflow")
                rep[2] = rep[1]
                rep[1] = rep[0]
                rep[0] = offset
        if lit_pos + ll > len(literals):
            raise ZstdError("sequence literals overrun")
        out += literals[lit_pos:lit_pos + ll]
        lit_pos += ll
        if offset > len(out) - frame_start:
            raise ZstdError("match offset beyond window")
        if len(out) + ml > max_output:
            raise ZstdError("output exceeds max_output")
        start = len(out) - offset
        if offset >= ml:
            out += out[start:start + ml]
        else:
            for k in range(ml):  # overlapping copy
                out.append(out[start + k])
    out += literals[lit_pos:]


def zstd_decompress(data: bytes, max_output: int = 1 << 26) -> bytes:
    """Decode one zstd frame (+ optional trailing skippable frames);
    raises :class:`ZstdError` on malformed/unsupported input or when
    output exceeds ``max_output`` (zip-bomb guard)."""
    if not data:
        raise ZstdError("empty input (no frame)")
    out = bytearray()
    pos = 0
    n = len(data)
    while pos < n:
        if n - pos < 4:
            raise ZstdError("truncated frame magic")
        magic = int.from_bytes(data[pos:pos + 4], "little")
        if (magic & 0xFFFFFFF0) == 0x184D2A50:  # skippable frame
            if n - pos < 8:
                raise ZstdError("truncated skippable frame")
            sz = int.from_bytes(data[pos + 4:pos + 8], "little")
            if n - pos - 8 < sz:
                raise ZstdError("skippable frame overruns the input")
            pos += 8 + sz
            continue
        if magic != MAGIC:
            raise ZstdError("bad zstd magic")
        pos += 4
        if pos >= n:
            raise ZstdError("missing frame header")
        fhd = data[pos]
        pos += 1
        fcs_flag = fhd >> 6
        single_seg = (fhd >> 5) & 1
        if (fhd >> 3) & 1:
            raise ZstdError("reserved frame header bit set")
        checksum = (fhd >> 2) & 1
        did_flag = fhd & 3
        if not single_seg:
            if pos >= n:
                raise ZstdError("missing window descriptor")
            pos += 1  # window size: bounded by max_output guard
        did_len = (0, 1, 2, 4)[did_flag]
        if did_len:
            did = int.from_bytes(data[pos:pos + did_len], "little")
            if did:
                raise ZstdError(
                    "dictionary frames unsupported (Dictionary_ID "
                    f"{did}) — crawl responses are dictionary-less")
            pos += did_len
        fcs_len = (0, 2, 4, 8)[fcs_flag]
        if fcs_flag == 0 and single_seg:
            fcs_len = 1
        content_size = None
        if fcs_len:
            content_size = int.from_bytes(
                data[pos:pos + fcs_len], "little")
            if fcs_len == 2:
                content_size += 256
            pos += fcs_len
            if content_size > max_output:
                raise ZstdError("declared content exceeds max_output")

        frame_start = len(out)
        state: dict = {}
        rep = [1, 4, 8]
        while True:
            if n - pos < 3:
                raise ZstdError("truncated block header")
            bh = int.from_bytes(data[pos:pos + 3], "little")
            pos += 3
            last = bh & 1
            btype = (bh >> 1) & 3
            bsize = bh >> 3
            if btype == 0:       # raw
                if n - pos < bsize:
                    raise ZstdError("truncated raw block")
                if len(out) + bsize > max_output:
                    raise ZstdError("output exceeds max_output")
                out += data[pos:pos + bsize]
                pos += bsize
            elif btype == 1:     # RLE
                if pos >= n:
                    raise ZstdError("truncated RLE block")
                if len(out) + bsize > max_output:
                    raise ZstdError("output exceeds max_output")
                out += bytes([data[pos]]) * bsize
                pos += 1
            elif btype == 2:     # compressed
                block = data[pos:pos + bsize]
                if len(block) < bsize:
                    raise ZstdError("truncated compressed block")
                pos += bsize
                literals, used = _decode_literals(block, state)
                seqs, _ = _decode_sequences(block[used:], state)
                _execute(out, literals, seqs, rep, max_output, frame_start)
            else:
                raise ZstdError("reserved block type")
            if last:
                break
        if checksum:
            if n - pos < 4:
                raise ZstdError("truncated content checksum")
            pos += 4  # xxhash64 low 32 bits: presence only
        if content_size is not None and \
                len(out) - frame_start != content_size:
            raise ZstdError("frame content size mismatch")
    return bytes(out)


# -------------------------------------------------------- encoder


def zstd_compress_store(data: bytes) -> bytes:
    """Deterministic minimal zstd writer: single frame, raw blocks
    (plus RLE blocks for uniform runs at block granularity), content
    size declared, no checksum. Container-valid per RFC 8878;
    round-trips under any conformant decoder."""
    out = bytearray()
    out += MAGIC.to_bytes(4, "little")
    # frame header: single-segment, FCS present
    if len(data) <= 255:
        out.append((0 << 6) | 0x20)          # single-seg, 1-byte FCS
        out.append(len(data))
    elif len(data) <= 65535 + 256:
        out.append((1 << 6) | 0x20)
        out += (len(data) - 256).to_bytes(2, "little")
    else:
        out.append((2 << 6) | 0x20)
        out += len(data).to_bytes(4, "little")
    max_block = (1 << 17) - 1
    pos = 0
    if not data:
        out += (1 | (0 << 1) | (0 << 3)).to_bytes(3, "little")
        return bytes(out)
    while pos < len(data):
        chunk = data[pos:pos + max_block]
        pos += len(chunk)
        last = 1 if pos >= len(data) else 0
        if len(chunk) > 8 and len(set(chunk)) == 1:
            out += (last | (1 << 1)
                    | (len(chunk) << 3)).to_bytes(3, "little")
            out.append(chunk[0])
        else:
            out += (last | (0 << 1)
                    | (len(chunk) << 3)).to_bytes(3, "little")
            out += chunk
    return bytes(out)
