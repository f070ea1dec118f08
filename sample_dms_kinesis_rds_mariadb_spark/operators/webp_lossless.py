"""WebP lossless (VP8L) pixel decode — spec-derived, library-free.

Closes the r12 gap list's item 5: WebP was metadata-only because the
LOSSY half (VP8) needs an arithmetic-coded predictive codec, but the
LOSSLESS half carries its Huffman codes IN the stream — the same
property that made the Vorbis decoder completable (r12), whereas AAC
and Opus need printed codebook tables that no stream carries.
Everything here restates the public "WebP Lossless Bitstream
Specification" (RFC 9649 §3-§5):

* LSB-first bit reader over the VP8L chunk payload;
* canonical prefix codes (DEFLATE-style assignment, code bits read
  MSB-first) carried in-stream, either "simple" (1-2 symbols) or via
  the 19-symbol code-length code with 16/17/18 repeats and the
  optional max_symbol cap;
* five codes per meta group (green+length+cache, red, blue, alpha,
  distance) with the optional entropy (meta-Huffman) subimage;
* LZ77 backward references with the length/distance prefix coding and
  the 120-entry two-dimensional short-distance neighbor map;
* the optional color cache (multiplicative hash 0x1e35a7bd);
* all four transforms, inverted in reverse stream order: predictor
  (14 modes), cross-color, subtract-green, color-indexing incl. the
  sub-byte pixel-bundling widths.

One recalled-constant caveat, stated honestly: the short-distance
neighbor map is printed in the spec as a 120-entry (dx, dy) list. It
is GENERATED here — the DOMAIN is exact (the printed byte packing
(dy << 4) | (8 - dx) bounds the rectangle to dx ∈ [-7, 8], dy ∈
[0, 7], whose causal subset has exactly 120 members, so only the
ORDERING rests on the recalled rule: ascending dx²+dy², then |dx|,
positive dx before negative) — and the first 34 entries are pinned
against an independently recalled prefix of the printed table in
tests/test_vp8l.py, so a misremembered rule fails loudly rather than
decoding real files to shifted pixels. Unlike the AAC tables the rule
is a one-liner over a tiny, highly structured list, and the roundtrip
property suite drives both the short (mapped) and long (linear)
distance paths.

At scale: pure per-payload numpy/Python inside the same Arrow
``mapInPandas`` image pass as PNG/JPEG/GIF/TIFF — cost scales with
the WebP share of the corpus, never with corpus size. The pixel loop
is sequential by construction (LZ77 + color cache are serial
dependencies), bounded by the decoded pixel count.

Reference parity target: the sample-*-kinesis* reference delegates
image handling to managed services; this module exists for the
LLM-curation surface (image dedup/features), not reference parity.
"""

from __future__ import annotations

import numpy as np

__all__ = ["decode_vp8l", "vp8l_distance_map"]


class VP8LError(ValueError):
    pass


class _BitReader:
    """LSB-first bit reader (RFC 9649 §2)."""

    __slots__ = ("data", "pos", "nbits")

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0  # bit position

    def read(self, n: int) -> int:
        pos = self.pos
        end = pos + n
        if end > len(self.data) * 8:
            raise VP8LError("truncated VP8L stream")
        v = 0
        shift = 0
        data = self.data
        while pos < end:
            byte = data[pos >> 3]
            take = min(8 - (pos & 7), end - pos)
            v |= ((byte >> (pos & 7)) & ((1 << take) - 1)) << shift
            shift += take
            pos += take
        self.pos = end
        return v


# --------------------------------------------------------------------------
# canonical prefix codes
# --------------------------------------------------------------------------

_CL_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14,
             15)


class _Code:
    """Decode structure: either a zero-bit single symbol or a
    (length, code)->symbol map walked bit-by-bit, code bits MSB-first."""

    __slots__ = ("single", "table", "maxlen")

    def __init__(self, lengths: list[int]) -> None:
        used = [(l, s) for s, l in enumerate(lengths) if l > 0]
        if not used:
            raise VP8LError("empty prefix code")
        if len(used) == 1:
            self.single = used[0][1]
            self.table = None
            self.maxlen = 0
            return
        self.single = None
        # canonical assignment (RFC 1951 style): symbols ordered by
        # (length, symbol value) get increasing code values
        used.sort()
        kraft = 0
        code = 0
        prev_len = used[0][0]
        table = {}
        for ln, sym in used:
            code <<= ln - prev_len
            prev_len = ln
            table[(ln, code)] = sym
            kraft += 1 << (15 - ln) if ln <= 15 else 0
            code += 1
        if any(ln > 15 for ln, _ in used) or kraft != (1 << 15):
            raise VP8LError("prefix code is not complete")
        self.table = table
        self.maxlen = used[-1][0]

    @classmethod
    def from_simple_pair(cls, sym0: int, sym1: int) -> "_Code":
        """Simple 2-symbol code (§3.5.1): bit 0 is the FIRST symbol in
        stream order, bit 1 the second — NOT canonical symbol order."""
        self = cls.__new__(cls)
        self.single = None
        self.table = {(1, 0): sym0, (1, 1): sym1}
        self.maxlen = 1
        return self

    def decode(self, br: _BitReader) -> int:
        if self.single is not None:
            return self.single
        code = 0
        ln = 0
        table = self.table
        for _ in range(self.maxlen):
            code = (code << 1) | br.read(1)
            ln += 1
            sym = table.get((ln, code))
            if sym is not None:
                return sym
        raise VP8LError("invalid prefix code in stream")


def _read_code(br: _BitReader, alphabet_size: int) -> _Code:
    """One prefix code (RFC 9649 §3.5): simple (1-2 symbols) or
    normal (code-length-coded lengths)."""
    if br.read(1):  # simple code
        num_symbols = br.read(1) + 1
        if br.read(1):  # first symbol is 8 bits
            sym0 = br.read(8)
        else:
            sym0 = br.read(1)
        if sym0 >= alphabet_size:
            raise VP8LError("simple-code symbol outside alphabet")
        if num_symbols == 2:
            sym1 = br.read(8)
            if sym1 >= alphabet_size:
                raise VP8LError("simple-code symbol outside alphabet")
            return _Code.from_simple_pair(sym0, sym1)
        lengths = [0] * alphabet_size
        lengths[sym0] = 1
        # one symbol -> the constructor's zero-bit single-symbol path
        return _Code(lengths)
    num_codes = 4 + br.read(4)
    if num_codes > len(_CL_ORDER):
        raise VP8LError("too many code-length codes")
    cl_lengths = [0] * 19
    for i in range(num_codes):
        cl_lengths[_CL_ORDER[i]] = br.read(3)
    cl_code = _Code(cl_lengths)
    if br.read(1):  # max_symbol cap present
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
    else:
        max_symbol = alphabet_size
    lengths = [0] * alphabet_size
    prev_len = 8
    i = 0
    while i < alphabet_size and max_symbol > 0:
        max_symbol -= 1
        s = cl_code.decode(br)
        if s < 16:
            lengths[i] = s
            i += 1
            if s:
                prev_len = s
        elif s == 16:
            rep = 3 + br.read(2)
            for _ in range(rep):
                if i < alphabet_size:
                    lengths[i] = prev_len
                    i += 1
        elif s == 17:
            i += 3 + br.read(3)
        else:  # 18
            i += 11 + br.read(7)
    return _Code(lengths)


# --------------------------------------------------------------------------
# LZ77 prefix values and the 2D short-distance map
# --------------------------------------------------------------------------

def _prefix_value(code: int, br: _BitReader) -> int:
    """Length/distance prefix decoding (RFC 9649 §3.6.2.2)."""
    if code < 4:
        return code + 1
    extra = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra
    return offset + br.read(extra) + 1


def vp8l_distance_map() -> list[tuple[int, int]]:
    """The 120-entry short-distance neighbor list: (dx, dy) offsets of
    causal pixels ordered by ascending dx²+dy², ties by |dx| then
    positive-dx-first (the printed table's ordering rule — the first
    34 entries are pinned against independent recall in the tests).

    The DOMAIN is exact, not truncated (r13 self-review fix): the
    printed table packs each entry into a byte as (dy << 4) | (8 - dx),
    which bounds dx to [-7, 8] and dy to [0, 7] — and the causal
    subset of exactly that rectangle has exactly 120 members, so the
    table is the WHOLE neighborhood and only the ordering rests on the
    recalled ordering rule. The first generator drew from a symmetric
    dx range and let truncation pick the tail, which provably admitted
    entries ((-8, 1) ...) the real encoding cannot represent."""
    cands = [
        (dx, dy)
        for dy in range(0, 8)
        for dx in range(-7, 9)
        if dy > 0 or dx > 0
    ]
    cands.sort(key=lambda p: (p[0] * p[0] + p[1] * p[1], abs(p[0]),
                              0 if p[0] >= 0 else 1))
    if len(cands) != 120:
        raise AssertionError("VP8L neighbor domain must have 120 entries")
    return cands


_DISTANCE_MAP = vp8l_distance_map()


def _plane_to_distance(v: int, width: int) -> int:
    if v > 120:
        return v - 120
    dx, dy = _DISTANCE_MAP[v - 1]
    return max(dy * width + dx, 1)


# --------------------------------------------------------------------------
# image streams
# --------------------------------------------------------------------------

def _div_round_up(a: int, b: int) -> int:
    return (a + b - 1) // b


def _decode_entropy_pixels(
    br: _BitReader, w: int, h: int, level0: bool
) -> np.ndarray:
    """The entropy-coded ARGB pixel stream (§3.6): color-cache info,
    optional meta-Huffman subimage (level 0 only), the per-group code
    quintet, then the literal/backref/cache pixel loop. Returns a flat
    uint32 array of length w*h (ARGB)."""
    cache_bits = 0
    cache = None
    if br.read(1):
        cache_bits = br.read(4)
        if not 1 <= cache_bits <= 11:
            raise VP8LError(f"color cache bits {cache_bits} outside 1..11")
        cache = np.zeros(1 << cache_bits, dtype=np.uint32)
    meta_idx = None
    meta_bits = 0
    meta_w = 0
    n_groups = 1
    if level0 and br.read(1):
        meta_bits = br.read(3) + 2
        meta_w = _div_round_up(w, 1 << meta_bits)
        meta_h = _div_round_up(h, 1 << meta_bits)
        meta_img = _decode_entropy_pixels(br, meta_w, meta_h, False)
        # meta index = (red << 8) | green
        meta_idx = ((meta_img >> 8) & 0xFFFF).astype(np.int64)
        n_groups = int(meta_idx.max()) + 1
    groups = []
    green_alpha = 256 + 24 + (1 << cache_bits if cache_bits else 0)
    for _ in range(n_groups):
        groups.append((
            _read_code(br, green_alpha),   # green + length + cache
            _read_code(br, 256),           # red
            _read_code(br, 256),           # blue
            _read_code(br, 256),           # alpha
            _read_code(br, 40),            # distance
        ))
    n = w * h
    out = np.zeros(n, dtype=np.uint32)
    pos = 0
    mask = (1 << cache_bits) - 1 if cache_bits else 0
    shift = 32 - cache_bits if cache_bits else 0
    group = groups[0]
    while pos < n:
        if meta_idx is not None:
            x = pos % w
            y = pos // w
            group = groups[
                int(meta_idx[(y >> meta_bits) * meta_w + (x >> meta_bits)])
            ]
        g_code, r_code, b_code, a_code, d_code = group
        s = g_code.decode(br)
        if s < 256:
            r = r_code.decode(br)
            b = b_code.decode(br)
            a = a_code.decode(br)
            px = (a << 24) | (r << 16) | (s << 8) | b
            out[pos] = px
            if cache is not None:
                cache[((0x1E35A7BD * px) & 0xFFFFFFFF) >> shift] = px
            pos += 1
        elif s < 280:
            length = _prefix_value(s - 256, br)
            dist = _plane_to_distance(_prefix_value(d_code.decode(br), br), w)
            if dist > pos:
                raise VP8LError("backward reference before image start")
            if pos + length > n:
                raise VP8LError("backward reference past image end")
            for _ in range(length):
                px = int(out[pos - dist])
                out[pos] = px
                if cache is not None:
                    cache[((0x1E35A7BD * px) & 0xFFFFFFFF) >> shift] = px
                pos += 1
        else:
            idx = s - 280
            if cache is None or idx > mask:
                raise VP8LError("color-cache reference without a cache")
            out[pos] = cache[idx]
            pos += 1
    return out


# --------------------------------------------------------------------------
# inverse transforms (§4), applied in reverse stream order
# --------------------------------------------------------------------------

def _avg2(a: int, b: int) -> int:
    """Per-channel byte average of two ARGB pixels (SIMD-style)."""
    return (((a ^ b) & 0xFEFEFEFE) >> 1) + (a & b)


def _channels(px: int) -> tuple[int, int, int, int]:
    return (px >> 24) & 0xFF, (px >> 16) & 0xFF, (px >> 8) & 0xFF, px & 0xFF


def _pack(a: int, r: int, g: int, b: int) -> int:
    return ((a & 0xFF) << 24) | ((r & 0xFF) << 16) | ((g & 0xFF) << 8) \
        | (b & 0xFF)


def _add_px(p: int, q: int) -> int:
    """Per-channel modular sum of two ARGB pixels."""
    pa, pr, pg, pb = _channels(p)
    qa, qr, qg, qb = _channels(q)
    return _pack(pa + qa, pr + qr, pg + qg, pb + qb)


def _select(l: int, t: int, tl: int) -> int:
    pt = 0
    pl = 0
    for sh in (24, 16, 8, 0):
        pred = ((l >> sh) & 0xFF) + ((t >> sh) & 0xFF) - ((tl >> sh) & 0xFF)
        pt += abs(pred - ((t >> sh) & 0xFF))
        pl += abs(pred - ((l >> sh) & 0xFF))
    # spec: strictly closer LEFT wins; ties go to TOP (r13 self-review
    # fix — the writer shares this function, so only spec parity moved)
    return l if pl < pt else t


def _clamp_add_full(l: int, t: int, tl: int) -> int:
    out = 0
    for sh in (24, 16, 8, 0):
        v = ((l >> sh) & 0xFF) + ((t >> sh) & 0xFF) - ((tl >> sh) & 0xFF)
        out |= max(0, min(255, v)) << sh
    return out


def _clamp_add_half(ave: int, tl: int) -> int:
    out = 0
    for sh in (24, 16, 8, 0):
        a = (ave >> sh) & 0xFF
        c = (tl >> sh) & 0xFF
        d = a - c
        # C-style truncating division (the spec's arithmetic model)
        v = a + (d // 2 if d >= 0 else -((-d) // 2))
        out |= max(0, min(255, v)) << sh
    return out


def _inverse_predictor(
    argb: np.ndarray, w: int, h: int, size_bits: int, modes: np.ndarray,
    modes_w: int,
) -> None:
    """In-place: argb holds residuals; add the per-block prediction
    (RFC 9649 §4.2). Sequential by construction — L is the
    reconstructed left neighbor."""
    a = argb  # flat uint32, scan order
    for y in range(h):
        row = y * w
        for x in range(w):
            i = row + x
            if y == 0 and x == 0:
                pred = 0xFF000000
            elif y == 0:
                pred = int(a[i - 1])
            elif x == 0:
                pred = int(a[i - w])
            else:
                mode = int(
                    modes[(y >> size_bits) * modes_w + (x >> size_bits)]
                ) >> 8 & 0xFF
                left = int(a[i - 1])
                top = int(a[i - w])
                tl = int(a[i - w - 1])
                # linear-array semantics at x == w-1: index i-w+1 is
                # the current row's first (already decoded) pixel
                tr = int(a[i - w + 1])
                if mode == 0:
                    pred = 0xFF000000
                elif mode == 1:
                    pred = left
                elif mode == 2:
                    pred = top
                elif mode == 3:
                    pred = tr
                elif mode == 4:
                    pred = tl
                elif mode == 5:
                    pred = _avg2(_avg2(left, tr), top)
                elif mode == 6:
                    pred = _avg2(left, tl)
                elif mode == 7:
                    pred = _avg2(left, top)
                elif mode == 8:
                    pred = _avg2(tl, top)
                elif mode == 9:
                    pred = _avg2(top, tr)
                elif mode == 10:
                    pred = _avg2(_avg2(left, tl), _avg2(top, tr))
                elif mode == 11:
                    pred = _select(left, top, tl)
                elif mode == 12:
                    pred = _clamp_add_full(left, top, tl)
                elif mode == 13:
                    pred = _clamp_add_half(
                        int(_avg2(np.uint32(left), np.uint32(top))), tl
                    )
                else:
                    raise VP8LError(f"predictor mode {mode} outside 0..13")
            a[i] = _add_px(int(a[i]), pred)


def _ct_delta(t: int, c: int) -> int:
    """(int8)t * (int8)c >> 5 — the cross-color fixed-point product."""
    ts = t - 256 if t >= 128 else t
    cs = c - 256 if c >= 128 else c
    return (ts * cs) >> 5


def _inverse_color_transform(
    argb: np.ndarray, w: int, h: int, size_bits: int, elems: np.ndarray,
    elems_w: int,
) -> None:
    """In-place cross-color inverse (§4.3): element channels carry
    green_to_red (blue), green_to_blue (green), red_to_blue (red)."""
    for y in range(h):
        row = y * w
        ey = (y >> size_bits) * elems_w
        for x in range(w):
            i = row + x
            e = int(elems[ey + (x >> size_bits)])
            g2r = e & 0xFF
            g2b = (e >> 8) & 0xFF
            r2b = (e >> 16) & 0xFF
            px = int(argb[i])
            a, r, g, b = _channels(px)
            r = (r + _ct_delta(g2r, g)) & 0xFF
            b = (b + _ct_delta(g2b, g) + _ct_delta(r2b, r)) & 0xFF
            argb[i] = _pack(a, r, g, b)


def _inverse_subtract_green(argb: np.ndarray) -> None:
    g = (argb >> 8) & 0xFF
    r = (((argb >> 16) & 0xFF) + g) & 0xFF
    b = ((argb & 0xFF) + g) & 0xFF
    argb[:] = (argb & 0xFF00FF00) | (r << 16) | b


def _inverse_color_index(
    packed: np.ndarray, w: int, h: int, width_bits: int,
    palette: np.ndarray,
) -> np.ndarray:
    """Unbundle sub-byte indices from the packed image's green channel
    and map through the palette (§4.4). Out-of-range indices resolve
    to 0x00000000 (the unused-entry convention)."""
    bits_per = 8 >> width_bits
    packed_w = _div_round_up(w, 1 << width_bits)
    full = np.zeros(w * h, dtype=np.uint32)
    lut = np.zeros(256, dtype=np.uint32)
    lut[: len(palette)] = palette
    greens = (packed >> 8) & 0xFF
    for y in range(h):
        prow = y * packed_w
        frow = y * w
        for x in range(w):
            byte = int(greens[prow + (x >> width_bits)])
            idx = (byte >> ((x & ((1 << width_bits) - 1)) * bits_per)) \
                & ((1 << bits_per) - 1)
            full[frow + x] = lut[idx]
    return full


# --------------------------------------------------------------------------
# top level
# --------------------------------------------------------------------------

def _decode_stream(br: _BitReader, w: int, h: int) -> np.ndarray:
    """Level-0 image stream: transforms, then entropy pixels, then the
    inverse transforms in reverse stream order."""
    transforms = []
    seen = set()
    cur_w = w
    while br.read(1):
        ttype = br.read(2)
        if ttype in seen:
            raise VP8LError(f"transform {ttype} repeated")
        seen.add(ttype)
        if ttype in (0, 1):  # predictor / cross-color
            size_bits = br.read(3) + 2
            sub_w = _div_round_up(cur_w, 1 << size_bits)
            sub_h = _div_round_up(h, 1 << size_bits)
            sub = _decode_entropy_pixels(br, sub_w, sub_h, False)
            transforms.append((ttype, size_bits, sub, sub_w))
        elif ttype == 2:  # subtract green
            transforms.append((2, 0, None, 0))
        else:  # color indexing
            n_colors = br.read(8) + 1
            deltas = _decode_entropy_pixels(br, n_colors, 1, False)
            # palette entries are stored as component-wise deltas
            palette = np.zeros(n_colors, dtype=np.uint32)
            prev = 0
            for i in range(n_colors):
                prev = _add_px(prev, int(deltas[i]))
                palette[i] = prev
            width_bits = (
                3 if n_colors <= 2 else 2 if n_colors <= 4
                else 1 if n_colors <= 16 else 0
            )
            transforms.append((3, width_bits, palette, cur_w))
            cur_w = _div_round_up(cur_w, 1 << width_bits)
    argb = _decode_entropy_pixels(br, cur_w, h, True)
    for ttype, bits, payload, aux in reversed(transforms):
        if ttype == 3:
            if bits:
                argb = _inverse_color_index(argb, aux, h, bits, payload)
            else:
                lut = np.zeros(256, dtype=np.uint32)
                lut[: len(payload)] = payload
                argb = lut[(argb >> 8) & 0xFF]
            cur_w = aux
        elif ttype == 2:
            _inverse_subtract_green(argb)
        elif ttype == 1:
            _inverse_color_transform(argb, cur_w, h, bits, payload, aux)
        else:
            _inverse_predictor(argb, cur_w, h, bits, payload, aux)
    if cur_w != w:
        raise VP8LError("width mismatch after inverse transforms")
    return argb


def decode_vp8l(content: bytes) -> tuple[int, int, int, bytes]:
    """(width, height, channels, pixel bytes) from a lossless WebP.

    Accepts a full RIFF WebP container (the VP8L chunk is located) or
    a bare VP8L stream (signature byte 0x2F first). Channels follow
    the header's alpha_is_used hint: 4 → RGBA bytes, 3 → RGB bytes —
    the ``decode_png``/``decode_bmp`` convention, so the payload feeds
    the shared resize/feature/dedup paths unchanged."""
    data = content
    if content[:4] == b"RIFF" and content[8:12] == b"WEBP":
        pos = 12
        data = None
        while pos + 8 <= len(content):
            cid = content[pos : pos + 4]
            size = int.from_bytes(content[pos + 4 : pos + 8], "little")
            if cid == b"VP8L":
                data = content[pos + 8 : pos + 8 + size]
                break
            if cid == b"VP8 ":
                raise NotImplementedError(
                    "lossy WebP (VP8) pixel decode is a codec boundary — "
                    "only the lossless half (VP8L) carries its codes "
                    "in-stream"
                )
            pos += 8 + size + (size & 1)
        if data is None:
            raise VP8LError("RIFF WebP container has no VP8L chunk")
    if not data or data[0] != 0x2F:
        raise VP8LError("VP8L signature byte 0x2F missing")
    br = _BitReader(data[1:])
    w = br.read(14) + 1
    h = br.read(14) + 1
    alpha_hint = br.read(1)
    version = br.read(3)
    if version != 0:
        raise VP8LError(f"VP8L version {version} != 0")
    argb = _decode_stream(br, w, h)
    a = ((argb >> 24) & 0xFF).astype(np.uint8)
    r = ((argb >> 16) & 0xFF).astype(np.uint8)
    g = ((argb >> 8) & 0xFF).astype(np.uint8)
    b = (argb & 0xFF).astype(np.uint8)
    if alpha_hint:
        out = np.stack([r, g, b, a], axis=-1)
        return w, h, 4, out.tobytes()
    out = np.stack([r, g, b], axis=-1)
    return w, h, 3, out.tobytes()
