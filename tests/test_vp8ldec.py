"""WebP-lossless (VP8L) decoder tests — roundtrips against the
in-repo stdlib encoder plus handcrafted bitstreams for the paths the
fixture encoder never emits. The decoder is REAL (no codec library
anywhere)."""

import random

import pytest


def _img(rnd, w, h, nval=256, alpha=False):
    return [[(rnd.randrange(nval), rnd.randrange(nval), rnd.randrange(nval))
             + ((rnd.randrange(nval),) if alpha else ())
             for _ in range(w)] for _ in range(h)]


def _want(px):
    return [[(t[0], t[1], t[2], t[3] if len(t) > 3 else 255) for t in row]
            for row in px]


class TestVp8lDecode:
    def test_literal_roundtrip(self):
        """Literal-coded ARGB with canonical (normal) huffman codes,
        simple 1/2-symbol codes, and an alpha channel all roundtrip
        exactly."""
        from librecrawl_spark.operators.vp8ldec import (
            decode_webp_lossless, make_test_webp_lossless)

        rnd = random.Random(5)
        p = _img(rnd, 13, 7)
        assert decode_webp_lossless(make_test_webp_lossless(p)) == _want(p)
        checker = [[(0, 255, 7) if (x + y) % 2 else (255, 0, 9)
                    for x in range(9)] for y in range(5)]
        assert decode_webp_lossless(
            make_test_webp_lossless(checker)) == _want(checker)
        pa = _img(rnd, 11, 5, alpha=True)
        assert decode_webp_lossless(make_test_webp_lossless(pa)) == _want(pa)

    def test_all_transforms_roundtrip(self):
        """Every transform inverse: subtract-green, all 14 predictor
        modes, constant color transforms, their composition, and
        color-indexing at every pixel-bundling width (8/4/2/1 px per
        green byte)."""
        from librecrawl_spark.operators.vp8ldec import (
            decode_webp_lossless, make_test_webp_lossless)

        rnd = random.Random(7)
        p = _img(rnd, 17, 11)
        assert decode_webp_lossless(
            make_test_webp_lossless(p, subtract_green=True)) == _want(p)
        for mode in range(14):
            pm = _img(rnd, 17, 11)
            assert decode_webp_lossless(make_test_webp_lossless(
                pm, predictor_mode=mode)) == _want(pm), f"predictor {mode}"
        for cte in ((0, 0, 0), (16, 240, 8), (255, 1, 128)):
            pc = _img(rnd, 19, 9)
            assert decode_webp_lossless(make_test_webp_lossless(
                pc, color_transform=cte)) == _want(pc), cte
        pcomb = _img(rnd, 21, 13)
        assert decode_webp_lossless(make_test_webp_lossless(
            pcomb, subtract_green=True, predictor_mode=11)) == _want(pcomb)
        for ncol in (2, 4, 16, 200):
            colors = [(i * 37 % 256, i * 11 % 256, i * 53 % 256)
                      for i in range(ncol)]
            pp = [[rnd.choice(colors) for _ in range(23)] for _ in range(9)]
            assert decode_webp_lossless(make_test_webp_lossless(
                pp, palette=True)) == _want(pp), f"palette {ncol}"

    def test_rightmost_column_tr_is_row_start(self):
        """RFC 9649 4.4.1: a rightmost-column pixel takes the leftmost
        pixel of its own row as TR (not the pixel above). Mode 3
        predicts from TR alone, so each right-edge residual must be the
        pixel minus its row's first pixel, and the decoder must invert
        that."""
        from librecrawl_spark.operators.vp8ldec import (
            _fwd_predict, decode_webp_lossless, make_test_webp_lossless)

        w, h = 3, 3
        argb = [0xFF000000 | (10 * i + 1) << 16 | (7 * i + 2) << 8 | (3 * i + 5)
                for i in range(w * h)]
        res = _fwd_predict(argb, w, h, 3)
        for y in range(1, h):
            i, row0 = y * w + w - 1, y * w
            want = 0
            for sh in (24, 16, 8, 0):
                want |= (((argb[i] >> sh) - (argb[row0] >> sh)) & 0xFF) << sh
            assert res[i] == want, y

        rnd = random.Random(11)
        for mode in (3, 5, 9, 10):
            p = _img(rnd, 6, 5)
            assert decode_webp_lossless(make_test_webp_lossless(
                p, predictor_mode=mode)) == _want(p), f"predictor {mode}"

    def test_cache_backrefs_meta(self):
        """Color-cache hits, distance-1 LZ77 backrefs (the 2D distance
        map path), and a meta-huffman entropy image selecting between
        two huffman groups per 4px block."""
        from librecrawl_spark.operators.vp8ldec import (
            decode_webp_lossless, make_test_webp_lossless)

        rnd = random.Random(9)
        few = [(1, 2, 3), (4, 5, 6), (7, 8, 9), (250, 1, 2)]
        pc = [[rnd.choice(few) for _ in range(31)] for _ in range(7)]
        assert decode_webp_lossless(
            make_test_webp_lossless(pc, cache_bits=4)) == _want(pc)
        runs = [[(10, 20, 30) if x < 20 else (200, 100, 50)
                 for x in range(40)] for _ in range(6)]
        assert decode_webp_lossless(
            make_test_webp_lossless(runs, rle=True)) == _want(runs)
        pm = _img(rnd, 25, 14)
        assert decode_webp_lossless(
            make_test_webp_lossless(pm, meta_bits=2)) == _want(pm)

    def test_code_length_repeats_handcrafted(self):
        """Decoder paths the fixture encoder never emits: code-length
        repeat symbols 16 (repeat previous), 17/18 (zero runs), read
        from a hand-built bitstream; the resulting canonical code must
        map the four len-2 codewords 00/01/10/11 to symbols 0..3."""
        from librecrawl_spark.operators.vp8ldec import (
            _CL_ORDER, _LsbReader, _LsbWriter, _canonical_codes,
            _read_code, _write_huff_bits)

        bw = _LsbWriter()
        bw.write(0, 1)                   # normal code
        cl_lengths = [0] * 19
        for s in (2, 16, 17, 18):
            cl_lengths[s] = 2
        bw.write(19 - 4, 4)
        for i in range(19):
            bw.write(cl_lengths[_CL_ORDER[i]], 3)
        bw.write(0, 1)                   # no max_symbol bound
        clm = _canonical_codes(cl_lengths)
        _write_huff_bits(bw, *clm[2])                      # sym0: len 2
        _write_huff_bits(bw, *clm[16]), bw.write(0, 2)     # 3x prev len
        _write_huff_bits(bw, *clm[17]), bw.write(0, 3)     # 3 zeros
        _write_huff_bits(bw, *clm[18]), bw.write(0, 7)     # 11 zeros
        _write_huff_bits(bw, *clm[18]), bw.write(11, 7)    # 22 zeros
        code = _read_code(_LsbReader(bw.getvalue()), 40)
        for i, bits in enumerate(("00", "01", "10", "11")):
            w2 = _LsbWriter()
            for b in bits:
                w2.write(int(b), 1)
            assert code.read(_LsbReader(w2.getvalue())) == i

    def test_distance_map_matches_spec(self):
        """The closed-form distance map must reproduce the spec's
        table: checked against its first plane codes (0x18 0x07 0x17
        0x19 0x28 0x06 ... with dx = 8 - low_nibble, dy = high) and
        structural invariants (120 entries, dy<=7, unique)."""
        from librecrawl_spark.operators.vp8ldec import _DIST_MAP

        spec_head = [0x18, 0x07, 0x17, 0x19, 0x28, 0x06, 0x27, 0x29,
                     0x16, 0x1A, 0x26, 0x2A, 0x38, 0x05, 0x37, 0x39,
                     0x15, 0x1B, 0x36, 0x3A, 0x25, 0x2B, 0x48, 0x04]
        decoded = [(8 - (c & 0xF), c >> 4) for c in spec_head]
        assert _DIST_MAP[:len(decoded)] == decoded
        assert len(set(_DIST_MAP)) == 120
        assert all(0 <= dy <= 7 and -7 <= dx <= 8 for dx, dy in _DIST_MAP)

    def test_vertical_backref_handcrafted(self):
        """A hand-built stream using distance code 1 ((0, 1): copy the
        pixel one ROW up, dist = width) exercises the 2D map beyond
        the encoder's distance-1 RLE: row 0 is literals, rows 1-2 are
        one backref of length 2*w."""
        from librecrawl_spark.operators.vp8ldec import (
            _LsbReader, _LsbWriter, _decode_pixels, _emit_code,
            _prefix_encode, _write_huff_bits)

        w, h = 4, 3
        row0 = [(0xFF << 24) | (r << 16) | (g << 8) | b
                for r, g, b in ((1, 2, 3), (4, 5, 6), (7, 8, 9),
                                (250, 251, 252))]
        length = 2 * w
        lcode, lx, lnb = _prefix_encode(length)
        dcode, dx, dnb = _prefix_encode(1)     # plane code 1 = (0, 1)
        bw = _LsbWriter()
        bw.write(0, 1)                         # no color cache
        gm = _emit_code(bw, {**{(p >> 8) & 0xFF: 1 for p in row0},
                             256 + lcode: 1}, 280)
        rm = _emit_code(bw, {(p >> 16) & 0xFF: 1 for p in row0}, 256)
        bm = _emit_code(bw, {p & 0xFF: 1 for p in row0}, 256)
        am = _emit_code(bw, {0xFF: 1}, 256)
        dm = _emit_code(bw, {dcode: 1}, 40)
        for p in row0:
            _write_huff_bits(bw, *gm[(p >> 8) & 0xFF])
            _write_huff_bits(bw, *rm[(p >> 16) & 0xFF])
            _write_huff_bits(bw, *bm[p & 0xFF])
            _write_huff_bits(bw, *am[0xFF])
        _write_huff_bits(bw, *gm[256 + lcode])
        if lnb:
            bw.write(lx, lnb)
        _write_huff_bits(bw, *dm[dcode])
        if dnb:
            bw.write(dx, dnb)
        px, transforms = _decode_pixels(_LsbReader(bw.getvalue()), w, h,
                                        False)
        assert transforms == []
        assert px == row0 * 3

    def test_solid_rle_single_symbol_codes(self):
        """A solid image with RLE forces the green code to carry ONE
        >8-bit symbol pair {literal green, length code} — the path
        where simple codes can't be used (8-bit symbol limit) and a
        lone >255 symbol must decode as a 0-bit normal code."""
        from librecrawl_spark.operators.vp8ldec import (
            decode_webp_lossless, make_test_webp_lossless)

        img = [[(9, 9, 9)] * 40 for _ in range(3)]
        out = decode_webp_lossless(make_test_webp_lossless(
            [list(r) for r in img], rle=True))
        assert out == _want(img)

    def test_rejection_and_truncation(self):
        """Lossy VP8, animations, non-WebP, truncation, and corrupt
        streams return None — never an exception."""
        from librecrawl_spark.operators.vp8ldec import (
            decode_webp_lossless, make_test_webp_lossless)

        assert decode_webp_lossless(b"RIFF\x10\x00\x00\x00WEBPVP8 ") is None
        assert decode_webp_lossless(b"\x89PNG\r\n\x1a\n") is None
        assert decode_webp_lossless(b"") is None
        assert decode_webp_lossless(None) is None
        rnd = random.Random(3)
        good = make_test_webp_lossless(_img(rnd, 9, 4))
        assert decode_webp_lossless(good[:30]) is None
        bad = bytearray(good)
        bad[21] ^= 0x40                  # corrupt the size header:
        # the widened image runs the literal stream dry -> EOF -> None
        assert decode_webp_lossless(bytes(bad)) is None


if __name__ == "__main__":
    raise SystemExit(pytest.main([__file__, "-q"]))
