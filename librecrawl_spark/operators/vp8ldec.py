"""WebP-lossless (VP8L) decode — pure stdlib, no codec library.

Why this exists: like PNG and GIF, VP8L is entropy coding + integer
pixel transforms — no DCT, no DSP — so a complete decoder is
expressible in plain Python (the WebP lossless bitstream spec /
RFC 9649 §3). This makes pixel features (phash, mean_luma) REAL for
lossless WebP alongside PNG/GIF/JPEG, leaving only lossy VP8 frames
stubbed (a full VP8 intra decoder genuinely needs a codec).

Scope (honest): the full VP8L still-image stream — simple and
normal (code-length-coded) huffman codes, meta-huffman entropy
images, color cache, LZ77 backrefs with the 2D distance map, and all
four transforms (predictor with its 14 modes, color, subtract-green,
color-indexing with pixel bundling). Lossy `VP8 ` chunks and VP8X
animations return None — callers fall back to the documented fake
path.

The inverse (make_test_webp_lossless) encodes REAL decodable VP8L
fixtures: literal-coded ARGB with per-channel simple or canonical
huffman codes, optional subtract-green / constant-mode predictor /
constant color transform / palette, color-cache hits, and RLE
backrefs — so tests can assert decode(encode(img)) == img exactly,
with no image library anywhere.

Reference behavior modeled: LibreCrawl stores image bytes opaquely
and defers to PIL at display time (src/core/seo_extractor.py); this
module is the engine-side stand-in keeping feature extraction
distributed and dependency-free.
"""

from __future__ import annotations

# 2D distance map for LZ77 distance codes 1..120 (spec §3.5.2.2): the
# near offsets (dx, dy) with dy in 0..7, dx in -7..8 (dy == 0 needs
# dx >= 1), ordered by squared euclidean distance, then |dx|, then
# positive dx first — this closed form reproduces the spec's table
# (checked against its plane-code listing).
_DIST_MAP = sorted(
    [(dx, dy) for dy in range(8) for dx in range(-7, 9)
     if dy > 0 or dx >= 1],
    key=lambda p: (p[0] * p[0] + p[1] * p[1], abs(p[0]), p[0] < 0),
)
assert len(_DIST_MAP) == 120

# order in which code-length-code lengths are transmitted (spec §3.4.1)
_CL_ORDER = [17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15]

_HASH_MUL = 0x1E35A7BD


class _LsbReader:
    """LSB-first bit reader (VP8L packs bits little-endian)."""

    def __init__(self, data: bytes, pos_bytes: int = 0):
        self.d = data
        self.pos = pos_bytes * 8

    def read(self, n: int) -> int:
        end = self.pos + n
        if end > len(self.d) * 8:
            raise EOFError
        v = 0
        got = 0
        pos = self.pos
        while got < n:
            byte = self.d[pos >> 3]
            off = pos & 7
            take = min(8 - off, n - got)
            v |= ((byte >> off) & ((1 << take) - 1)) << got
            got += take
            pos += take
        self.pos = pos
        return v


class _LsbWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, v: int, bits: int) -> None:
        self.acc |= (v & ((1 << bits) - 1)) << self.n
        self.n += bits
        while self.n >= 8:
            self.buf.append(self.acc & 0xFF)
            self.acc >>= 8
            self.n -= 8

    def getvalue(self) -> bytes:
        out = bytearray(self.buf)
        if self.n:
            out.append(self.acc & 0xFF)
        return bytes(out)


def _canonical_codes(lengths):
    """DEFLATE-style canonical huffman from code lengths: {sym: (code,
    len)}; codes transmitted MSB-first."""
    pairs = sorted((l, s) for s, l in enumerate(lengths) if l > 0)
    codes = {}
    code = 0
    prev_len = 0
    for length, sym in pairs:
        code <<= (length - prev_len)
        codes[sym] = (code, length)
        code += 1
        prev_len = length
    return codes


class _HuffCode:
    """Decode side of one huffman code: 0-bit constant, 1-bit simple
    pair, or canonical tree walk."""

    def __init__(self, const=None, table=None):
        self.const = const
        self.table = table               # {(len, code): sym}

    @classmethod
    def from_lengths(cls, lengths):
        used = [(s, l) for s, l in enumerate(lengths) if l > 0]
        if not used:
            return cls(const=0)
        if len(used) == 1:
            return cls(const=used[0][0])
        table = {(l, c): s for s, (c, l) in _canonical_codes(lengths).items()}
        return cls(table=table)

    def read(self, br: _LsbReader) -> int:
        if self.const is not None:
            return self.const
        code = 0
        for length in range(1, 16):
            code = (code << 1) | br.read(1)
            sym = self.table.get((length, code))
            if sym is not None:
                return sym
        raise EOFError


def _read_code(br: _LsbReader, alphabet: int) -> _HuffCode:
    """One huffman code from the stream: simple (1-2 symbols) or
    normal (code-length-coded canonical), spec §3.4."""
    if br.read(1):                       # simple
        nsym = br.read(1) + 1
        sym0 = br.read(8) if br.read(1) else br.read(1)
        if nsym == 1:
            return _HuffCode(const=sym0)
        sym1 = br.read(8)
        return _HuffCode(table={(1, 0): sym0, (1, 1): sym1})
    num_codes = 4 + br.read(4)
    cl_lengths = [0] * 19
    for i in range(num_codes):
        cl_lengths[_CL_ORDER[i]] = br.read(3)
    cl = _HuffCode.from_lengths(cl_lengths)
    if br.read(1):                       # bounded symbol count
        nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(nbits)
    else:
        max_symbol = alphabet
    lengths = [0] * alphabet
    symbol = 0
    prev = 8
    while symbol < alphabet:
        if max_symbol == 0:
            break
        max_symbol -= 1
        c = cl.read(br)
        if c < 16:
            lengths[symbol] = c
            symbol += 1
            if c:
                prev = c
        else:
            if c == 16:
                rep, val = 3 + br.read(2), prev
            elif c == 17:
                rep, val = 3 + br.read(3), 0
            else:
                rep, val = 11 + br.read(7), 0
            if symbol + rep > alphabet:
                raise ValueError("code length repeat overflow")
            for _ in range(rep):
                lengths[symbol] = val
                symbol += 1
    return _HuffCode.from_lengths(lengths)


def _subsample(size: int, bits: int) -> int:
    return (size + (1 << bits) - 1) >> bits


def _prefix_decode(br: _LsbReader, code: int) -> int:
    """LZ77 length/distance prefix decode (spec §3.5.2.1)."""
    if code < 4:
        return code + 1
    extra = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra
    return offset + br.read(extra) + 1


def _prefix_encode(value: int):
    """(code, extra_bits, n_extra) — inverse of _prefix_decode."""
    if value <= 4:
        return value - 1, 0, 0
    v = value - 1
    extra = v.bit_length() - 2
    code = 2 * extra + ((v >> extra) & 1)
    offset = (2 + (code & 1)) << extra
    return code + 2, value - offset - 1, extra


def _decode_pixels(br, w, h, level0):
    """Spec §3: one spatially-coded ARGB image. Returns (pixels as
    0xAARRGGBB ints row-major, transforms read at this level). Only
    the top-level image may carry transforms / a meta-huffman entropy
    image; sub-images (transform data, palettes, the entropy image
    itself) recurse with level0=False."""
    transforms = []
    if level0:
        seen_types = set()
        while br.read(1):
            ttype = br.read(2)
            if ttype in seen_types:
                raise ValueError("duplicate transform")
            seen_types.add(ttype)
            if ttype in (0, 1):          # predictor / color
                bits = br.read(3) + 2
                tw, th = _subsample(w, bits), _subsample(h, bits)
                data, _ = _decode_pixels(br, tw, th, False)
                transforms.append((ttype, bits, w, data))
            elif ttype == 2:             # subtract green
                transforms.append((2, 0, w, None))
            else:                        # color indexing (palette)
                size = br.read(8) + 1
                deltas, _ = _decode_pixels(br, size, 1, False)
                pal = []
                prev = 0
                for d in deltas:         # palette entries are delta-coded
                    prev = _addpix(prev, d)
                    pal.append(prev)
                wb = 3 if size <= 2 else 2 if size <= 4 else \
                    1 if size <= 16 else 0
                transforms.append((3, wb, w, pal))
                w = _subsample(w, wb)
    cache_bits = br.read(4) if br.read(1) else 0
    if cache_bits > 11:
        raise ValueError("bad cache bits")
    cache_size = (1 << cache_bits) if cache_bits else 0
    cache = [0] * cache_size
    meta, hb, ew = None, 0, 0
    ngroups = 1
    if level0 and br.read(1):
        hb = br.read(3) + 2
        ew, eh = _subsample(w, hb), _subsample(h, hb)
        eimg, _ = _decode_pixels(br, ew, eh, False)
        meta = [(p >> 8) & 0xFFFF for p in eimg]
        ngroups = max(meta) + 1
    green_alpha = 256 + 24 + cache_size
    groups = []
    for _ in range(ngroups):
        groups.append((_read_code(br, green_alpha),
                       _read_code(br, 256), _read_code(br, 256),
                       _read_code(br, 256), _read_code(br, 40)))
    n = w * h
    px = []
    while len(px) < n:
        if meta is not None:
            pos = len(px)
            g = groups[meta[(pos // w >> hb) * ew + ((pos % w) >> hb)]]
        else:
            g = groups[0]
        s = g[0].read(br)
        if s < 256:
            red = g[1].read(br)
            blue = g[2].read(br)
            alpha = g[3].read(br)
            pix = (alpha << 24) | (red << 16) | (s << 8) | blue
            px.append(pix)
            if cache_size:
                cache[(_HASH_MUL * pix & 0xFFFFFFFF) >> (32 - cache_bits)] = pix
        elif s < 280:
            length = _prefix_decode(br, s - 256)
            dcode = _prefix_decode(br, g[4].read(br))
            if dcode > 120:
                dist = dcode - 120
            else:
                dx, dy = _DIST_MAP[dcode - 1]
                dist = max(dy * w + dx, 1)
            if dist > len(px) or len(px) + length > n:
                raise ValueError("backref out of range")
            for _ in range(length):
                pix = px[-dist]
                px.append(pix)
                if cache_size:
                    cache[(_HASH_MUL * pix & 0xFFFFFFFF)
                          >> (32 - cache_bits)] = pix
        else:
            px.append(cache[s - 280])
    return px, transforms


def _avg2(a, b):
    return (((a >> 24) + (b >> 24)) // 2 << 24
            | ((a >> 16 & 0xFF) + (b >> 16 & 0xFF)) // 2 << 16
            | ((a >> 8 & 0xFF) + (b >> 8 & 0xFF)) // 2 << 8
            | ((a & 0xFF) + (b & 0xFF)) // 2)


def _addpix(a, b):
    return (((a >> 24) + (b >> 24) & 0xFF) << 24
            | ((a >> 16) + (b >> 16) & 0xFF) << 16
            | ((a >> 8) + (b >> 8) & 0xFF) << 8
            | (a + b) & 0xFF)


def _select(l, t, tl):
    p = [(l >> s & 0xFF) + (t >> s & 0xFF) - (tl >> s & 0xFF)
         for s in (24, 16, 8, 0)]
    pl = sum(abs(p[i] - (l >> s & 0xFF)) for i, s in enumerate((24, 16, 8, 0)))
    pt = sum(abs(p[i] - (t >> s & 0xFF)) for i, s in enumerate((24, 16, 8, 0)))
    return l if pl < pt else t


def _clamp_full(l, t, tl):
    out = 0
    for s in (24, 16, 8, 0):
        v = (l >> s & 0xFF) + (t >> s & 0xFF) - (tl >> s & 0xFF)
        out |= max(0, min(255, v)) << s
    return out


def _clamp_half(l, t, tl):
    ave = _avg2(l, t)
    out = 0
    for s in (24, 16, 8, 0):
        d = (ave >> s & 0xFF) - (tl >> s & 0xFF)
        q = abs(d) // 2
        v = (ave >> s & 0xFF) + (q if d >= 0 else -q)
        out |= max(0, min(255, v)) << s
    return out


def _predict(mode, l, t, tr, tl):
    if mode == 0:
        return 0xFF000000
    if mode == 1:
        return l
    if mode == 2:
        return t
    if mode == 3:
        return tr
    if mode == 4:
        return tl
    if mode == 5:
        return _avg2(_avg2(l, tr), t)
    if mode == 6:
        return _avg2(l, tl)
    if mode == 7:
        return _avg2(l, t)
    if mode == 8:
        return _avg2(tl, t)
    if mode == 9:
        return _avg2(t, tr)
    if mode == 10:
        return _avg2(_avg2(l, tl), _avg2(t, tr))
    if mode == 11:
        return _select(l, t, tl)
    if mode == 12:
        return _clamp_full(l, t, tl)
    if mode == 13:
        return _clamp_half(l, t, tl)
    raise ValueError("bad predictor mode")


def _cdelta(t, c):
    """Color-transform delta: (int8(t) * int8(c)) >> 5 (spec §3.3.2)."""
    t = t - 256 if t >= 128 else t
    c = c - 256 if c >= 128 else c
    return (t * c) >> 5


def _apply_inverse(px, w, h, transforms):
    """Apply inverse transforms in reverse read order (spec §3.3);
    returns (pixels, width) — color indexing restores the width."""
    for ttype, bits, tw_full, data in reversed(transforms):
        if ttype == 3:                   # palette: unbundle + lookup
            pal, wb = data, bits
            out = []
            per = 1 << wb
            pbits = 8 >> wb
            mask = (1 << pbits) - 1 if wb else 0xFF
            cw = _subsample(tw_full, wb)
            for y in range(h):
                row = []
                for cx in range(cw):
                    packed = (px[y * cw + cx] >> 8) & 0xFF
                    for i in range(per):
                        if len(row) >= tw_full:
                            break
                        idx = packed & mask if wb else packed
                        packed >>= pbits
                        row.append(pal[idx] if idx < len(pal) else 0)
                out.extend(row)
            px, w = out, tw_full
        elif ttype == 2:                 # add green
            out = []
            for p in px:
                g = (p >> 8) & 0xFF
                r = ((p >> 16) + g) & 0xFF
                b = (p + g) & 0xFF
                out.append((p & 0xFF00FF00) | (r << 16) | b)
            px = out
        elif ttype == 1:                 # color transform inverse
            tw = _subsample(w, bits)
            for y in range(h):
                for x in range(w):
                    cte = data[(y >> bits) * tw + (x >> bits)]
                    g2r, g2b, r2b = cte & 0xFF, (cte >> 8) & 0xFF, \
                        (cte >> 16) & 0xFF
                    p = px[y * w + x]
                    g = (p >> 8) & 0xFF
                    r = ((p >> 16 & 0xFF) + _cdelta(g2r, g)) & 0xFF
                    b = ((p & 0xFF) + _cdelta(g2b, g) + _cdelta(r2b, r)) & 0xFF
                    px[y * w + x] = (p & 0xFF00FF00) | (r << 16) | b
        else:                            # predictor inverse
            tw = _subsample(w, bits)
            for y in range(h):
                for x in range(w):
                    i = y * w + x
                    if x == 0 and y == 0:
                        pred = 0xFF000000
                    elif y == 0:
                        pred = px[i - 1]
                    elif x == 0:
                        pred = px[i - w]
                    else:
                        mode = (data[(y >> bits) * tw + (x >> bits)] >> 8) & 0xFF
                        # rightmost column: TR is the leftmost pixel of
                        # the current row (RFC 9649 4.4.1), i.e. i - w + 1
                        tr = px[i - w + 1]
                        pred = _predict(mode, px[i - 1], px[i - w],
                                        tr, px[i - w - 1])
                    px[i] = _addpix(px[i], pred)
    return px, w


def decode_webp_lossless(payload):
    """REAL pixel decode for lossless WebP (VP8L) — pure stdlib bit
    reads. Returns rows of (r, g, b, a) tuples, or None when the
    payload isn't a VP8L stream (lossy VP8 / animations / corrupt)."""
    if not isinstance(payload, (bytes, bytearray)):
        return None
    b = bytes(payload)
    if b[:4] != b"RIFF" or b[8:12] != b"WEBP" or b[12:16] != b"VP8L" \
            or len(b) < 26 or b[20] != 0x2F:
        return None
    try:
        br = _LsbReader(b, 21)
        head = br.read(32)
        w = (head & 0x3FFF) + 1
        h = ((head >> 14) & 0x3FFF) + 1
        if (head >> 29) & 0x7:           # version must be 0
            return None
        # color indexing may reduce the coded width; _decode_pixels
        # tracks that internally and its transforms list lets us
        # recover the coded width it actually decoded at
        px, transforms = _decode_pixels(br, w, h, True)
        cw = w
        for ttype, bits, _, _data in transforms:
            if ttype == 3:
                cw = _subsample(cw, bits)
        if len(px) != cw * h:
            return None
        px, w2 = _apply_inverse(px, cw, h, transforms)
        if w2 != w or len(px) != w * h:
            return None
        return [[((p >> 16) & 0xFF, (p >> 8) & 0xFF, p & 0xFF,
                  (p >> 24) & 0xFF)
                 for p in px[y * w:(y + 1) * w]] for y in range(h)]
    except (EOFError, ValueError, IndexError):
        return None



# ----------------------------------------------------------------------
# encoder (test fixtures)
# ----------------------------------------------------------------------

def _write_huff_bits(bw: _LsbWriter, code: int, length: int) -> None:
    """Huffman codes go to the stream MSB-first, one bit per LSB-order
    stream bit (the DEFLATE convention VP8L follows)."""
    for i in range(length - 1, -1, -1):
        bw.write((code >> i) & 1, 1)


def _balanced_lengths(freqs: dict, alphabet: int):
    """Complete canonical code lengths for the used symbols: with k
    symbols, 2^L - k get length L-1 (the most frequent), the rest L
    (L = ceil(log2 k)) — Kraft sums to exactly 1, as the spec's
    completeness check requires."""
    used = sorted(freqs, key=lambda s: (-freqs[s], s))
    k = len(used)
    lengths = [0] * alphabet
    if k <= 1:
        raise ValueError("use a simple code")
    level = max((k - 1).bit_length(), 1)
    n_short = (1 << level) - k
    for i, s in enumerate(used):
        lengths[s] = level - 1 if i < n_short else level
    return lengths


def _emit_code(bw: _LsbWriter, freqs: dict, alphabet: int):
    """Write one huffman code (simple or normal) and return the
    {sym: (code, len)} encode map ((sym, 0-length) = no bits)."""
    syms = sorted(freqs)
    # simple codes carry at most 8-bit symbols (spec §3.4) — length/
    # cache symbols (>= 256) must go through a normal code
    if len(syms) <= 1 and (not syms or syms[0] <= 255):
        s = syms[0] if syms else 0
        bw.write(1, 1)                   # simple
        bw.write(0, 1)                   # 1 symbol
        if s > 1:
            bw.write(1, 1), bw.write(s, 8)
        else:
            bw.write(0, 1), bw.write(s, 1)
        return {s: (0, 0)}
    if len(syms) == 2 and syms[1] <= 255:
        s0, s1 = syms
        bw.write(1, 1)                   # simple
        bw.write(1, 1)                   # 2 symbols
        if s0 > 1:
            bw.write(1, 1), bw.write(s0, 8)
        else:
            bw.write(0, 1), bw.write(s0, 1)
        bw.write(s1, 8)
        return {s0: (0, 1), s1: (1, 1)}
    if len(syms) == 1:
        # single >8-bit symbol: normal code with the lone symbol at
        # length 1; a one-symbol code decodes as 0-bit, so the encode
        # map must also write no bits per occurrence
        lengths = [0] * alphabet
        lengths[syms[0]] = 1
    elif len(syms) == 2:
        lengths = [0] * alphabet
        lengths[syms[0]] = lengths[syms[1]] = 1
    else:
        lengths = _balanced_lengths(freqs, alphabet)
    bw.write(0, 1)                       # normal (code-length-coded)
    cl_freqs = {}
    for l in lengths:
        cl_freqs[l] = cl_freqs.get(l, 0) + 1
    if len(cl_freqs) == 1:
        cl_map = {next(iter(cl_freqs)): (0, 0)}
        cl_lengths = [0] * 19
    else:
        cl_lengths = _balanced_lengths(cl_freqs, 19) \
            if len(cl_freqs) > 2 else None
        if cl_lengths is None:
            cl_lengths = [0] * 19
            a, b = sorted(cl_freqs)
            cl_lengths[a] = cl_lengths[b] = 1
        cl_map = _canonical_codes(cl_lengths)
    num_codes = max(4, max(
        (_CL_ORDER.index(s) + 1 for s in cl_freqs), default=4))
    bw.write(num_codes - 4, 4)
    for i in range(num_codes):
        bw.write(cl_lengths[_CL_ORDER[i]], 3)
    bw.write(0, 1)                       # no max_symbol bound
    for l in lengths:
        code, ln = cl_map[l]
        _write_huff_bits(bw, code, ln)
    if len(syms) == 1:
        return {syms[0]: (0, 0)}         # decoder reads 0 bits
    return _canonical_codes(lengths)


def _plan_ops(argb, cache_bits: int, rle: bool):
    """Symbol plan for one entropy-coded image: literals, optional
    color-cache hits, optional distance-1 RLE backrefs."""
    ops = []
    cache = {}
    i, n = 0, len(argb)
    while i < n:
        pix = argb[i]
        run = 0
        if rle and i > 0 and argb[i - 1] == pix:
            while i + run < n and argb[i + run] == pix:
                run += 1
        if run >= 2:
            ops.append(("ref", run, 1))  # distance 1
            i += run
            if cache_bits:
                cache[(_HASH_MUL * pix & 0xFFFFFFFF)
                      >> (32 - cache_bits)] = pix
            continue
        idx = (_HASH_MUL * pix & 0xFFFFFFFF) >> (32 - cache_bits) \
            if cache_bits else 0
        if cache_bits and cache.get(idx) == pix:
            ops.append(("cache", idx))
        else:
            ops.append(("lit", pix))
            if cache_bits:
                cache[idx] = pix
        i += 1
    return ops


def _emit_image(bw: _LsbWriter, argb, w, h, level0: bool,
                cache_bits: int = 0, rle: bool = False,
                meta_bits: int = 0) -> None:
    """Entropy-coded ARGB image body (after any transform bits):
    cache bit, meta bit (level0), huffman group(s), pixels. With
    ``meta_bits`` (level0, literals-only) an entropy image assigns one
    of TWO huffman groups per meta block — alternating so decode
    exercises the per-pixel group lookup."""
    if meta_bits:
        assert level0 and not rle and not cache_bits
        ops = [("lit", p) for p in argb]
    else:
        ops = _plan_ops(argb, cache_bits, rle)
    if cache_bits:
        bw.write(1, 1), bw.write(cache_bits, 4)
    else:
        bw.write(0, 1)
    group_of = lambda pos: 0             # noqa: E731
    ngroups = 1
    if level0:
        if meta_bits:
            bw.write(1, 1)
            bw.write(meta_bits - 2, 3)
            ew, eh = _subsample(w, meta_bits), _subsample(h, meta_bits)
            meta = [(bx + by) % 2 for by in range(eh) for bx in range(ew)]
            _emit_image(bw, [(0xFF << 24) | (m << 8) for m in meta],
                        ew, eh, False)
            ngroups = max(meta) + 1
            group_of = lambda pos: meta[  # noqa: E731
                ((pos // w) >> meta_bits) * ew + ((pos % w) >> meta_bits)]
        else:
            bw.write(0, 1)               # no meta huffman
    green_alpha = 256 + 24 + ((1 << cache_bits) if cache_bits else 0)
    freqs = [[{}, {}, {}, {}, {}] for _ in range(ngroups)]
    pos = 0
    for op in ops:
        gf, rf, bf, af, df = freqs[group_of(pos)]
        if op[0] == "lit":
            p = op[1]
            gf[(p >> 8) & 0xFF] = gf.get((p >> 8) & 0xFF, 0) + 1
            rf[(p >> 16) & 0xFF] = rf.get((p >> 16) & 0xFF, 0) + 1
            bf[p & 0xFF] = bf.get(p & 0xFF, 0) + 1
            af[(p >> 24) & 0xFF] = af.get((p >> 24) & 0xFF, 0) + 1
            pos += 1
        elif op[0] == "cache":
            s = 280 + op[1]
            gf[s] = gf.get(s, 0) + 1
            pos += 1
        else:
            lcode, _, _ = _prefix_encode(op[1])
            gf[256 + lcode] = gf.get(256 + lcode, 0) + 1
            dcode, _, _ = _prefix_encode(2)   # plane code 2 = (1, 0)
            df[dcode] = df.get(dcode, 0) + 1
            pos += op[1]
    maps = []
    for gf, rf, bf, af, df in freqs:
        maps.append((_emit_code(bw, gf, green_alpha),
                     _emit_code(bw, rf, 256), _emit_code(bw, bf, 256),
                     _emit_code(bw, af, 256), _emit_code(bw, df, 40)))
    pos = 0
    for op in ops:
        gm, rm, bm, am, dm = maps[group_of(pos)]
        if op[0] == "lit":
            p = op[1]
            _write_huff_bits(bw, *gm[(p >> 8) & 0xFF])
            _write_huff_bits(bw, *rm[(p >> 16) & 0xFF])
            _write_huff_bits(bw, *bm[p & 0xFF])
            _write_huff_bits(bw, *am[(p >> 24) & 0xFF])
            pos += 1
        elif op[0] == "cache":
            _write_huff_bits(bw, *gm[280 + op[1]])
            pos += 1
        else:
            lcode, lx, lnb = _prefix_encode(op[1])
            _write_huff_bits(bw, *gm[256 + lcode])
            if lnb:
                bw.write(lx, lnb)
            dcode, dx, dnb = _prefix_encode(2)
            _write_huff_bits(bw, *dm[dcode])
            if dnb:
                bw.write(dx, dnb)
            pos += op[1]


def _fwd_predict(argb, w, h, mode: int):
    """Forward constant-mode predictor: residuals the decoder's
    inverse reconstructs exactly (edge rules identical)."""
    out = []
    for y in range(h):
        for x in range(w):
            i = y * w + x
            if x == 0 and y == 0:
                pred = 0xFF000000
            elif y == 0:
                pred = argb[i - 1]
            elif x == 0:
                pred = argb[i - w]
            else:
                tr = argb[i - w + 1]
                pred = _predict(mode, argb[i - 1], argb[i - w],
                                tr, argb[i - w - 1])
            out.append((((argb[i] >> 24) - (pred >> 24) & 0xFF) << 24)
                       | (((argb[i] >> 16) - (pred >> 16) & 0xFF) << 16)
                       | (((argb[i] >> 8) - (pred >> 8) & 0xFF) << 8)
                       | ((argb[i] - pred) & 0xFF))
    return out


def make_test_webp_lossless(pixels, subtract_green: bool = False,
                            predictor_mode: int | None = None,
                            color_transform: tuple | None = None,
                            palette: bool = False, cache_bits: int = 0,
                            rle: bool = False, meta_bits: int = 0) -> bytes:
    """Encode a REAL decodable lossless WebP (VP8L) — stdlib only.
    ``pixels``: rows of (r, g, b) or (r, g, b, a) tuples. Options
    exercise each decoder path: subtract_green / constant-mode
    predictor (0-13) / constant color_transform (g2r, g2b, r2b) /
    palette (color-indexing with bundling) / color cache / distance-1
    RLE backrefs. decode_webp_lossless(result) == pixels exactly."""
    h, w = len(pixels), len(pixels[0])
    argb = []
    for row in pixels:
        for t in row:
            r, g, b = t[0], t[1], t[2]
            a = t[3] if len(t) > 3 else 0xFF
            argb.append((a << 24) | (r << 16) | (g << 8) | b)

    bw = _LsbWriter()
    bw.write(w - 1, 14), bw.write(h - 1, 14)
    bw.write(0, 1), bw.write(0, 3)       # alpha hint, version

    if subtract_green:
        bw.write(1, 1), bw.write(2, 2)
        argb = [(p & 0xFF00FF00)
                | (((p >> 16) - (p >> 8) & 0xFF) << 16)
                | ((p - (p >> 8)) & 0xFF) for p in argb]
    if color_transform is not None:
        g2r, g2b, r2b = color_transform
        bw.write(1, 1), bw.write(1, 2)
        bits = 3
        bw.write(bits - 2, 3)
        tw, th = _subsample(w, bits), _subsample(h, bits)
        cte = (0xFF << 24) | (r2b << 16) | (g2b << 8) | g2r
        _emit_image(bw, [cte] * (tw * th), tw, th, False)
        out = []
        for p in argb:
            g = (p >> 8) & 0xFF
            r0 = (p >> 16) & 0xFF
            r = (r0 - _cdelta(g2r, g)) & 0xFF
            b = ((p & 0xFF) - _cdelta(g2b, g) - _cdelta(r2b, r0)) & 0xFF
            out.append((p & 0xFF00FF00) | (r << 16) | b)
        argb = out
    if predictor_mode is not None:
        bw.write(1, 1), bw.write(0, 2)
        bits = 3
        bw.write(bits - 2, 3)
        tw, th = _subsample(w, bits), _subsample(h, bits)
        _emit_image(bw, [(0xFF << 24) | (predictor_mode << 8)] * (tw * th),
                    tw, th, False)
        argb = _fwd_predict(argb, w, h, predictor_mode)
    cw = w
    if palette:
        pal = []
        seen = {}
        for p in argb:
            if p not in seen:
                seen[p] = len(pal)
                pal.append(p)
        assert len(pal) <= 256, "palette fixture needs <= 256 colors"
        bw.write(1, 1), bw.write(3, 2)
        bw.write(len(pal) - 1, 8)
        deltas = [pal[0]] + [
            (((pal[i] >> 24) - (pal[i - 1] >> 24) & 0xFF) << 24)
            | (((pal[i] >> 16) - (pal[i - 1] >> 16) & 0xFF) << 16)
            | (((pal[i] >> 8) - (pal[i - 1] >> 8) & 0xFF) << 8)
            | ((pal[i] - pal[i - 1]) & 0xFF)
            for i in range(1, len(pal))]
        _emit_image(bw, deltas, len(pal), 1, False)
        wb = 3 if len(pal) <= 2 else 2 if len(pal) <= 4 else \
            1 if len(pal) <= 16 else 0
        pbits = 8 >> wb
        cw = _subsample(w, wb)
        packed_img = []
        for y in range(h):
            for cx in range(cw):
                packed = 0
                for i in range(1 << wb):
                    x = (cx << wb) + i
                    if x < w:
                        packed |= seen[argb[y * w + x]] << (i * pbits)
                packed_img.append((0xFF << 24) | (packed << 8))
        argb = packed_img
    bw.write(0, 1)                       # end of transforms

    _emit_image(bw, argb, cw, h, True, cache_bits=cache_bits, rle=rle,
                meta_bits=meta_bits)

    chunk = b"\x2f" + bw.getvalue()
    if len(chunk) % 2:
        chunk += b"\x00"
    body = b"WEBP" + b"VP8L" + len(chunk).to_bytes(4, "little") + chunk
    return b"RIFF" + len(body).to_bytes(4, "little") + body
