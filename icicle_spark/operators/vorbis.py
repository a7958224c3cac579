"""Ogg Vorbis I decode (+ a profile encoder for fixtures) in pure
numpy/stdlib — the last compressed-audio tier (Vorbis I
specification, Xiph.Org; reference parity target: the `audio/ogg`
assets an ingest pipeline meets; reference repo has no codec layer —
this is engine infrastructure for the multimodal dedup/feature
operators, same tier as ``flac.py`` / ``mpeg1.py``).

Decoder scope (loud, not silent): the full header stack — LSB-first
bit unpacking, codebook headers (ordered/unordered, sparse, VQ
lookup types 0/1/2 with the spec's float32 format and canonical
codeword assignment), floor type 1 (any partition/class layout,
integer render_line, the inverse-dB amplitude table), residue types
0/1/2, mapping/mode plumbing, square-polar channel coupling with
nonzero propagation, IMDCT synthesis, Princen-Bradley windowed
overlap-add, and window switching (mixed blocksizes with
neighbor-flagged lapping windows and centered overlap-add). Only
the deprecated floor type 0 raises ``NotImplementedError`` by name.

The encoder emits one fixed profile (mono, blocksizes 64/64, floor1
with zero partitions = a flat two-post curve, residue type 1 over
one 16-entry dim-2 VQ codebook with values {-1,-0.5,0,+0.5}) from a
caller-supplied QUANTIZED SPECTRUM per packet. Vorbis is lossy so a
PCM round-trip cannot anchor an oracle; instead the fixture encodes
a single spectral line k0 with amplitude v, and the decoded signal
is then CLOSED FORM:

    out[t] = v * (w(j+32) * C(j+32) + w(j) * C(j)),   j = t mod 32
    C(j)   = cos(pi/128 * (2*j + 1 + 32) * (2*k0 + 1))   # IMDCT line
    w(j)   = sin(pi/2 * sin((j + 0.5) * pi/64)^2)        # Vorbis window

(equal consecutive blocks make the overlap-add periodic with period
n/2 = 32) — elementary functions an external SQL engine recomputes
with no shared code, the same closed-form-oracle strategy as
``png_features`` / ``m1v_features`` / ``ogg_flac_features``.
"""

from __future__ import annotations

import functools
import math

import numpy as np

# ------------------------------------------------------------ bit I/O
# Vorbis packs LSB-first within bytes (spec §2) — the opposite of
# FLAC/MPEG, so ``flac.py``'s MSB-first reader cannot be shared.


class BitWriter:
    """LSB-first bit packer over an integer accumulator: each write is
    one shift+or (C-speed big-int ops) instead of a per-bit Python
    loop, with whole bytes flushed to the bytearray once the
    accumulator holds 256 bits so single writes stay O(1)."""

    def __init__(self) -> None:
        self._bytes = bytearray()
        self._acc = 0       # pending bits, LSB = next stream bit
        self._nbits = 0     # number of pending bits in _acc

    def write(self, value: int, bits: int) -> None:
        if bits < 0 or (bits and value < 0):
            raise ValueError("write wants non-negative value/bits")
        self._acc |= (value & ((1 << bits) - 1)) << self._nbits
        self._nbits += bits
        if self._nbits >= 256:
            whole = self._nbits // 8
            self._bytes += (
                self._acc & ((1 << (whole * 8)) - 1)
            ).to_bytes(whole, "little")
            self._acc >>= whole * 8
            self._nbits -= whole * 8

    def getvalue(self) -> bytes:
        tail = self._acc.to_bytes((self._nbits + 7) // 8, "little")
        return bytes(self._bytes) + tail


class BitReader:
    """LSB-first reader over ONE big int (``int.from_bytes`` per
    packet): every read is a C-speed shift+mask, and the Huffman LUT
    probe below is the same shift — faster per symbol than both the
    per-bit walk and a pre-unpacked numpy bit array (whose per-call
    slice/dot overhead dominated at these packet sizes)."""

    def __init__(self, buf: bytes) -> None:
        self._big = int.from_bytes(buf, "little")
        self._n = len(buf) * 8
        self._pos = 0  # absolute bit position

    def read(self, bits: int) -> int:
        p = self._pos
        if p + bits > self._n:
            # spec §4.3: end-of-packet during audio decode is a
            # hard stop the CALLER handles; surface it loudly
            raise EOFError("vorbis: end of packet")
        self._pos = p + bits
        if bits == 0:
            return 0
        return (self._big >> p) & ((1 << bits) - 1)


def ilog(x: int) -> int:
    """Spec §9.2.1: position of the highest set bit (ilog(0) = 0)."""
    n = 0
    while x > 0:
        n += 1
        x >>= 1
    return n


def float32_unpack(x: int) -> float:
    """Spec §9.2.2 — Vorbis' own portable float format."""
    mantissa = x & 0x1FFFFF
    exponent = (x & 0x7FE00000) >> 21
    if x & 0x80000000:
        mantissa = -mantissa
    return float(mantissa) * (2.0 ** (exponent - 788))


def float32_pack(v: float) -> int:
    """Inverse of :func:`float32_unpack` (exact for the dyadic
    codebook constants this profile uses)."""
    if v == 0.0:
        return 0
    sign = 0x80000000 if v < 0 else 0
    m, e = math.frexp(abs(v))  # abs(v) = m * 2^e, m in [0.5, 1)
    mant = int(m * (1 << 21))  # 21-bit mantissa, top bit set
    exponent = e - 21 + 788
    if not 0 <= exponent < 1024:
        raise ValueError(f"float32_pack: exponent out of range for {v}")
    return sign | (exponent << 21) | mant


def lookup1_values(entries: int, dim: int) -> int:
    """Spec §9.2.3: largest x with x**dim <= entries."""
    x = 1
    while (x + 1) ** dim <= entries:
        x += 1
    return x


def assign_codewords(lengths: list[int]) -> list[int | None]:
    """Spec §3.2.1 canonical codeword assignment: each used entry, in
    order, takes the lowest-valued available codeword of its length.
    Returns MSB-first codeword ints (None for unused entries); raises
    on over/under-specified trees (the spec's error cases), except
    the legal single-entry book handled by the caller."""
    free: list[tuple[int, int]] = [(0, 0)]  # (code, depth), root free
    codes: list[int | None] = [None] * len(lengths)
    for i, ln in enumerate(lengths):
        if ln == 0:
            continue
        # smallest free prefix (by value left-aligned) not deeper than l
        best = None
        for f in free:
            code, depth = f
            if depth > ln:
                continue
            key = code << (32 - depth)
            if best is None or key < (best[0] << (32 - best[1])):
                best = f
        if best is None:
            raise ValueError("vorbis: overspecified codebook")
        free.remove(best)
        code, depth = best
        # descend to length l along the 0 branch, freeing 1-siblings
        while depth < ln:
            code <<= 1
            depth += 1
            free.append((code | 1, depth))
        codes[i] = code
    if free:
        raise ValueError("vorbis: underspecified codebook")
    return codes


# ---------------------------------------------------------- codebooks


class Codebook:
    """One parsed codebook: scalar (Huffman entry) and VQ decode."""

    def __init__(self, dim: int, entries: int, lengths: list[int],
                 lookup_type: int, minimum: float = 0.0,
                 delta: float = 0.0, sequence_p: int = 0,
                 multiplicands: list[int] | None = None):
        self.dim = dim
        self.entries = entries
        self.lengths = lengths
        self.lookup_type = lookup_type
        used = [i for i, l in enumerate(lengths) if l > 0]
        if len(used) == 1:
            # spec: the single legal underpopulated tree — decode
            # reads length-many bits, entry is the single used one
            self._single = used[0]
            self._dec = None
        else:
            self._single = None
            codes = assign_codewords(lengths)
            self._dec = {
                (lengths[i], c): i
                for i, c in enumerate(codes) if c is not None
            }
            self._lut = None  # lazy (ln, entry) table, built on first decode
        self.vq: np.ndarray | None = None
        if lookup_type:
            lv = (lookup1_values(entries, dim)
                  if lookup_type == 1 else None)
            vq = np.zeros((entries, dim))
            for e in range(entries):
                last = 0.0
                div = 1
                for j in range(dim):
                    if lookup_type == 1:
                        off = (e // div) % lv
                        div *= lv
                    else:
                        off = e * dim + j
                    v = minimum + delta * multiplicands[off] + last
                    if sequence_p:
                        last = v
                    vq[e, j] = v
            self.vq = vq

    # -- decode ----------------------------------------------------
    def _build_lut(self) -> None:
        """Prefix LUT over the first ``L`` STREAM bits (LSB-first
        packet order): index = little-endian integer of the next L
        bits, value = (codeword length, entry). One slice+dot plus a
        table probe per symbol replaces the per-bit walk — the
        measured hot path of residue decode. Codes longer than L
        (none in typical profiles, but legal) fall back to the walk."""
        L = min(max(ln for ln, _ in self._dec), 12)
        lut_e = [-1] * (1 << L)
        lut_l = [0] * (1 << L)
        for (ln, code), e in self._dec.items():
            if ln > L:
                continue
            # codeword bits arrive MSB-first in the stream: stream bit
            # i (little-endian weight 2^i) is code's bit (ln-1-i)
            base = 0
            for i in range(ln):
                if (code >> (ln - 1 - i)) & 1:
                    base |= 1 << i
            for fill in range(1 << (L - ln)):
                v = base | (fill << ln)
                lut_e[v] = e
                lut_l[v] = ln
        self._lut = (L, lut_e, lut_l)

    def decode_scalar(self, r: BitReader) -> int:
        if self._single is not None:
            ln = self.lengths[self._single]
            r.read(ln)  # the lone codeword (all zeros)
            return self._single
        big, pos, n = r._big, r._pos, r._n
        if self._lut is None:
            self._build_lut()
        L, lut_e, lut_l = self._lut
        v = (big >> pos) & ((1 << L) - 1)
        e = lut_e[v]
        # phantom zero bits past the packet can only select an entry
        # whose length overruns the packet — guarded here, falling
        # back to the walk (which raises EOF per spec)
        if e >= 0 and pos + lut_l[v] <= n:
            r._pos = pos + lut_l[v]
            return e
        # near end-of-packet or code longer than L: per-bit walk
        dec = self._dec
        code, ln = 0, 0
        while True:
            if pos >= n:
                raise EOFError("vorbis: end of packet")
            code = (code << 1) | ((big >> pos) & 1)
            pos += 1
            ln += 1
            if ln > 32:
                raise ValueError("vorbis: invalid codeword")
            e = dec.get((ln, code))
            if e is not None:
                r._pos = pos
                return e

    def decode_vq(self, r: BitReader) -> np.ndarray:
        if self.vq is None:
            raise ValueError("vorbis: scalar book used in VQ context")
        return self.vq[self.decode_scalar(r)]

    # -- header ----------------------------------------------------
    @classmethod
    def parse(cls, r: BitReader) -> "Codebook":
        if r.read(24) != 0x564342:
            raise ValueError("vorbis: bad codebook sync")
        dim = r.read(16)
        if dim == 0:
            # a raw 16-bit header field: dim 0 would hang
            # lookup1_values and the residue partition loop (and
            # zero-divide residue type 0) — reject by name
            raise ValueError("vorbis: zero-dimension codebook")
        entries = r.read(24)
        ordered = r.read(1)
        lengths: list[int] = []
        if not ordered:
            sparse = r.read(1)
            for _ in range(entries):
                if sparse:
                    lengths.append(r.read(5) + 1 if r.read(1) else 0)
                else:
                    lengths.append(r.read(5) + 1)
        else:
            length = r.read(5) + 1
            while len(lengths) < entries:
                num = r.read(ilog(entries - len(lengths)))
                lengths.extend([length] * num)
                length += 1
            if len(lengths) > entries:
                raise ValueError("vorbis: ordered lengths overflow")
        lookup_type = r.read(4)
        minimum = delta = 0.0
        seq = 0
        mults: list[int] | None = None
        if lookup_type in (1, 2):
            minimum = float32_unpack(r.read(32))
            delta = float32_unpack(r.read(32))
            value_bits = r.read(4) + 1
            seq = r.read(1)
            n = (lookup1_values(entries, dim) if lookup_type == 1
                 else entries * dim)
            mults = [r.read(value_bits) for _ in range(n)]
        elif lookup_type != 0:
            raise ValueError(f"vorbis: reserved lookup {lookup_type}")
        return cls(dim, entries, lengths, lookup_type, minimum,
                   delta, seq, mults)


# ----------------------------------------------------- floor type 1

# Spec §10.1 floor1_inverse_dB_table: 256 amplitudes spanning
# -140.25 dB .. 0 dB in steps of 0.546875 dB (= 7/256 decades per
# step; the spec lists the same values as float literals).
FLOOR1_INVERSE_DB_TABLE = np.float32(
    10.0 ** ((np.arange(256) - 255) * (7.0 / 256.0))
).astype(np.float64)
_FLOOR1_RANGES = [256, 128, 86, 64]


class Floor1:
    def __init__(self, partition_classes: list[int],
                 class_dims: list[int], class_subclasses: list[int],
                 class_masterbooks: list[int],
                 subclass_books: list[list[int]], multiplier: int,
                 rangebits: int, x_list: list[int]):
        self.partition_classes = partition_classes
        self.class_dims = class_dims
        self.class_subclasses = class_subclasses
        self.class_masterbooks = class_masterbooks
        self.subclass_books = subclass_books
        self.multiplier = multiplier
        self.rangebits = rangebits
        self.x_list = x_list
        # spec: sort order of X positions, keeping index 0/1 first two
        self.sort_order = sorted(
            range(len(x_list)), key=lambda i: x_list[i]
        )
        # neighbor search per spec §9.2.4 over the UNSORTED list
        self.neigh: list[tuple[int, int]] = []
        for i in range(2, len(x_list)):
            lo = max(
                (j for j in range(i) if x_list[j] < x_list[i]),
                key=lambda j: x_list[j],
            )
            hi = min(
                (j for j in range(i) if x_list[j] > x_list[i]),
                key=lambda j: x_list[j],
            )
            self.neigh.append((lo, hi))

    @classmethod
    def parse(cls, r: BitReader) -> "Floor1":
        partitions = r.read(5)
        partition_classes = [r.read(4) for _ in range(partitions)]
        maxc = max(partition_classes, default=-1)
        dims, subs, masters, books = [], [], [], []
        for _ in range(maxc + 1):
            dims.append(r.read(3) + 1)
            s = r.read(2)
            subs.append(s)
            masters.append(r.read(8) if s else -1)
            books.append([r.read(8) - 1 for _ in range(1 << s)])
        multiplier = r.read(2) + 1
        rangebits = r.read(4)
        x_list = [0, 1 << rangebits]
        for c in partition_classes:
            for _ in range(dims[c]):
                x_list.append(r.read(rangebits))
        if len(set(x_list)) != len(x_list):
            raise ValueError("vorbis: duplicate floor1 X positions")
        return cls(partition_classes, dims, subs, masters, books,
                   multiplier, rangebits, x_list)

    def decode(self, r: BitReader, books: list[Codebook]):
        """Packet-side decode -> final Y list (None = unused floor)."""
        if not r.read(1):
            return None
        rng = _FLOOR1_RANGES[self.multiplier - 1]
        ybits = ilog(rng - 1)
        y = [r.read(ybits), r.read(ybits)]
        for c in self.partition_classes:
            cdim = self.class_dims[c]
            csub = self.class_subclasses[c]
            csubs = 1 << csub
            cbits = 0
            if csub:
                cbits = books[self.class_masterbooks[c]].decode_scalar(r)
            for j in range(cdim):
                book = self.subclass_books[c][
                    (cbits >> (j * csub)) & (csubs - 1)
                    if csub else 0
                ]
                y.append(books[book].decode_scalar(r) if book >= 0
                         else 0)
        return y

    def synthesize(self, y: list[int], n_half: int) -> np.ndarray:
        """Amplitude curve (spec §7.2.3-7.2.4): delta-decode the post
        amplitudes, render integer line segments, map through the
        inverse-dB table."""
        rng = _FLOOR1_RANGES[self.multiplier - 1]
        n_posts = len(self.x_list)
        final_y = [0] * n_posts
        step2 = [False] * n_posts
        final_y[0], final_y[1] = y[0], y[1]
        step2[0] = step2[1] = True
        for i in range(2, n_posts):
            lo, hi = self.neigh[i - 2]
            pred = _render_point(
                self.x_list[lo], final_y[lo],
                self.x_list[hi], final_y[hi], self.x_list[i],
            )
            val = y[i]
            high_room = rng - pred
            low_room = pred
            room = 2 * min(high_room, low_room)
            if val:
                step2[lo] = step2[hi] = True
                step2[i] = True
                if val >= room:
                    final_y[i] = (val - low_room + pred
                                  if high_room > low_room
                                  else pred - (val - high_room) - 1)
                else:
                    # odd -> predicted - (val+1)/2, even -> + val/2
                    final_y[i] = (pred - ((val + 1) >> 1) if val & 1
                                  else pred + (val >> 1))
            else:
                step2[i] = False
                final_y[i] = pred
            final_y[i] = min(max(final_y[i], 0), rng - 1)
        # render along sorted X; posts with step2 unset are dropped
        curve = np.zeros(n_half)
        so = [i for i in self.sort_order if step2[i]]
        hx = 0
        lx, ly = 0, final_y[so[0]] * self.multiplier
        for i in so[1:]:
            hx = self.x_list[i]
            hy = final_y[i] * self.multiplier
            _render_line(lx, ly, hx, hy, curve)
            lx, ly = hx, hy
        if hx < n_half:
            _render_line(hx, ly, n_half, ly, curve)
        return FLOOR1_INVERSE_DB_TABLE[
            np.clip(curve.astype(np.int64), 0, 255)
        ]


def _render_point(x0: int, y0: int, x1: int, y1: int, x: int) -> int:
    dy = y1 - y0
    adx = x1 - x0
    err = abs(dy) * (x - x0)
    off = err // adx
    return y0 - off if dy < 0 else y0 + off


def _render_line(x0: int, y0: int, x1: int, y1: int,
                 v: np.ndarray) -> None:
    """Spec §9.2.6 integer Bresenham — bit-exact across decoders.
    ``base`` uses C-style truncating division (the spec's int div)."""
    dy = y1 - y0
    adx = x1 - x0
    base = -((-dy) // adx) if dy < 0 else dy // adx
    ady = abs(dy) - abs(base) * adx
    sy = base - 1 if dy < 0 else base + 1
    y = y0
    err = 0
    if x0 < len(v):
        v[x0] = y
    for x in range(x0 + 1, min(x1, len(v))):
        err += ady
        if err >= adx:
            err -= adx
            y += sy
        else:
            y += base
        v[x] = y


# ------------------------------------------------------------ residue


class Residue:
    def __init__(self, rtype: int, begin: int, end: int, psize: int,
                 classifications: int, classbook: int,
                 cascade: list[int], books: list[list[int]]):
        self.type = rtype
        self.begin = begin
        self.end = end
        self.psize = psize
        self.classifications = classifications
        self.classbook = classbook
        self.cascade = cascade
        self.books = books

    @classmethod
    def parse(cls, r: BitReader, rtype: int) -> "Residue":
        begin = r.read(24)
        end = r.read(24)
        psize = r.read(24) + 1
        classifications = r.read(6) + 1
        classbook = r.read(8)
        cascade = []
        for _ in range(classifications):
            low = r.read(3)
            high = r.read(5) if r.read(1) else 0
            cascade.append((high << 3) | low)
        books = []
        for c in range(classifications):
            row = []
            for stage in range(8):
                row.append(r.read(8) if cascade[c] & (1 << stage)
                           else -1)
            books.append(row)
        return cls(rtype, begin, end, psize, classifications,
                   classbook, cascade, books)

    def decode(self, r: BitReader, books: list[Codebook],
               do_not_decode: list[bool], n_half: int) -> np.ndarray:
        """Spec §8.6.2; returns (channels, n_half) float vectors."""
        ch = len(do_not_decode)
        if self.type == 2:
            # interleave channels into one vector, decode as type 1,
            # de-interleave (spec §8.6.5)
            if all(do_not_decode):
                return np.zeros((ch, n_half))
            flat = self._decode_vectors(
                r, books, [False], n_half * ch
            )[0]
            return flat.reshape(n_half, ch).T.copy()
        return self._decode_vectors(r, books, do_not_decode, n_half)

    def _decode_vectors(self, r: BitReader, books: list[Codebook],
                        do_not_decode: list[bool],
                        actual_size: int) -> np.ndarray:
        ch = len(do_not_decode)
        out = np.zeros((ch, actual_size))
        try:
            self._decode_into(r, books, do_not_decode, out,
                              actual_size)
        except EOFError:
            # spec §1.3.2 / §8.6.2: end-of-packet during AUDIO decode
            # is a normal condition — real encoders elide trailing
            # zeros. Residue decode halts; everything decoded so far
            # stands, the rest of the vector stays zero.
            pass
        return out

    def _decode_into(self, r: BitReader, books: list[Codebook],
                     do_not_decode: list[bool], out: np.ndarray,
                     actual_size: int) -> None:
        ch = len(do_not_decode)
        begin = min(self.begin, actual_size)
        end = min(self.end, actual_size)
        n_to_read = end - begin
        if n_to_read == 0:
            return
        partitions = n_to_read // self.psize
        cbook = books[self.classbook]
        cw = cbook.dim  # classwords per codeword
        classif = np.zeros((ch, partitions + cw), dtype=np.int64)
        for p in range(8):  # passes
            pc = 0
            while pc < partitions:
                if p == 0:
                    for j in range(ch):
                        if do_not_decode[j]:
                            continue
                        temp = cbook.decode_scalar(r)
                        for i in range(cw - 1, -1, -1):
                            classif[j, pc + i] = (
                                temp % self.classifications
                            )
                            temp //= self.classifications
                for _ in range(cw):
                    if pc >= partitions:
                        break
                    for j in range(ch):
                        if do_not_decode[j]:
                            continue
                        c = int(classif[j, pc])
                        if not self.cascade[c] & (1 << p):
                            continue
                        book = books[self.books[c][p]]
                        off = begin + pc * self.psize
                        if self.type == 0:
                            step = self.psize // book.dim
                            for i in range(step):
                                vals = book.decode_vq(r)
                                out[j, off + i:off + i
                                    + step * book.dim:step] += vals
                        elif (
                            self.psize % book.dim == 0
                            and off + self.psize <= out.shape[1]
                            and book.vq is not None
                        ):
                            # type 1 batch path: decode the partition's
                            # symbol stream first, then ONE vq
                            # fancy-index + slice add — replaces two
                            # numpy ops per 2-dim symbol (measured the
                            # residue hot loop's dominant cost). An
                            # EOF mid-partition still contributes the
                            # symbols decoded so far (spec §1.3.2),
                            # exactly like the sequential form.
                            es: list[int] = []
                            try:
                                for _i in range(self.psize // book.dim):
                                    es.append(book.decode_scalar(r))
                            except EOFError:
                                if es:
                                    vals = book.vq[es].ravel()
                                    out[j, off:off + len(vals)] += vals
                                raise
                            vals = book.vq[es].ravel()
                            out[j, off:off + len(vals)] += vals
                        else:  # type 1 general (ragged psize/dim)
                            i = 0
                            while i < self.psize:
                                vals = book.decode_vq(r)
                                out[j, off + i:off + i + book.dim] \
                                    += vals
                                i += book.dim
                    pc += 1


# ----------------------------------------------------- setup / modes


class VorbisSetup:
    def __init__(self, channels: int, rate: int, blocksizes,
                 books, floors, residues, mappings, modes):
        self.channels = channels
        self.rate = rate
        self.blocksizes = blocksizes
        self.books = books
        self.floors = floors
        self.residues = residues
        self.mappings = mappings
        self.modes = modes


def _parse_ident(packet: bytes) -> tuple[int, int, tuple[int, int]]:
    r = BitReader(packet)
    if r.read(8) != 1 or bytes(
        r.read(8) for _ in range(6)
    ) != b"vorbis":
        raise ValueError("vorbis: bad identification header")
    if r.read(32) != 0:
        raise ValueError("vorbis: unsupported stream version")
    channels = r.read(8)
    rate = r.read(32)
    r.read(32), r.read(32), r.read(32)  # bitrates
    bs0 = 1 << r.read(4)
    bs1 = 1 << r.read(4)
    # spec §4.2.2: blocksizes must lie in [64, 8192] with
    # blocksize_0 <= blocksize_1, else the stream is undecodable —
    # reject HERE by name (the lapping-window geometry downstream
    # assumes it and would otherwise fail with a raw shape error)
    if not (64 <= bs0 <= 8192 and 64 <= bs1 <= 8192 and bs0 <= bs1):
        raise ValueError(
            f"vorbis: invalid blocksizes ({bs0}, {bs1})"
        )
    # spec §4.2.2: zero channels or rate is equally undecodable —
    # reject by name instead of surfacing as empty/NaN features or a
    # downstream division by zero (r5 ADVICE)
    if channels == 0 or rate == 0:
        raise ValueError(
            f"vorbis: invalid channels/rate ({channels}, {rate})"
        )
    if not r.read(1):
        raise ValueError("vorbis: identification framing bit unset")
    return channels, rate, (bs0, bs1)


@functools.lru_cache(maxsize=32)
def _parse_setup(packet: bytes, channels: int, rate: int,
                 blocksizes) -> VorbisSetup:
    r = BitReader(packet)
    if r.read(8) != 5 or bytes(
        r.read(8) for _ in range(6)
    ) != b"vorbis":
        raise ValueError("vorbis: bad setup header")
    books = [Codebook.parse(r) for _ in range(r.read(8) + 1)]
    for _ in range(r.read(6) + 1):  # time transforms (placeholders)
        if r.read(16) != 0:
            raise ValueError("vorbis: nonzero time transform")
    floors = []
    for _ in range(r.read(6) + 1):
        ft = r.read(16)
        if ft != 1:
            raise NotImplementedError(
                f"vorbis: floor type {ft} not implemented (floor0 is "
                "the deprecated LSP path; this engine decodes floor1)"
            )
        floors.append(Floor1.parse(r))
    residues = []
    for _ in range(r.read(6) + 1):
        rt = r.read(16)
        if rt not in (0, 1, 2):
            raise ValueError(f"vorbis: reserved residue type {rt}")
        residues.append(Residue.parse(r, rt))
    mappings = []
    for _ in range(r.read(6) + 1):
        if r.read(16) != 0:
            raise ValueError("vorbis: reserved mapping type")
        submaps = r.read(4) + 1 if r.read(1) else 1
        coupling: list[tuple[int, int]] = []
        if r.read(1):
            steps = r.read(8) + 1
            cbits = ilog(channels - 1)
            for _ in range(steps):
                m = r.read(cbits)
                a = r.read(cbits)
                if m == a or m >= channels or a >= channels:
                    raise ValueError("vorbis: invalid coupling pair")
                coupling.append((m, a))
        if r.read(2) != 0:
            raise ValueError("vorbis: mapping reserved bits set")
        mux = ([r.read(4) for _ in range(channels)]
               if submaps > 1 else [0] * channels)
        sub = []
        for _ in range(submaps):
            r.read(8)  # unused time config
            sub.append((r.read(8), r.read(8)))  # (floor, residue)
        mappings.append((mux, sub, coupling))
    modes = []
    for _ in range(r.read(6) + 1):
        blockflag = r.read(1)
        if r.read(16) != 0 or r.read(16) != 0:
            raise ValueError("vorbis: reserved mode transform")
        modes.append((blockflag, r.read(8)))
    if not r.read(1):
        raise ValueError("vorbis: setup framing bit unset")
    return VorbisSetup(channels, rate, blocksizes, books, floors,
                       residues, mappings, modes)


@functools.lru_cache(maxsize=32)
def synthesis_window(n: int, prev_long: bool, next_long: bool,
                     n0: int) -> np.ndarray:
    """Spec §4.3.1 lapping window: a LONG block next to a SHORT
    neighbor narrows that slope to ``n0/2`` wide, centered at the
    quarter point, and is zero outside it — so the short neighbor's
    full slope still sums Princen-Bradley with it. With both flags
    long (or a short block, where both are trivially long-relative)
    this reduces to the classic full-slope Vorbis window
    ``sin(pi/2 * sin^2((j+0.5) * pi/n))``."""
    left_n = n // 2 if prev_long else n0 // 2
    left_start = 0 if prev_long else n // 4 - n0 // 4
    right_n = n // 2 if next_long else n0 // 2
    right_end = n if next_long else 3 * n // 4 + n0 // 4
    right_start = right_end - right_n
    w = np.zeros(n)
    i = np.arange(left_n)
    w[left_start:left_start + left_n] = np.sin(
        0.5 * np.pi
        * np.sin((i + 0.5) / left_n * 0.5 * np.pi) ** 2
    )
    w[left_start + left_n:right_start] = 1.0
    i = np.arange(right_n)
    w[right_start:right_end] = np.sin(
        0.5 * np.pi
        * np.sin((i + 0.5) / right_n * 0.5 * np.pi + 0.5 * np.pi)
        ** 2
    )
    w.setflags(write=False)
    return w


@functools.lru_cache(maxsize=8)
def _imdct_matrix(n: int) -> np.ndarray:
    k = np.arange(n // 2)
    j = np.arange(n)[:, None]
    m = np.cos(np.pi / (2 * n) * (2 * j + 1 + n // 2) * (2 * k + 1))
    m.setflags(write=False)
    return m


def imdct(spectrum: np.ndarray, n: int) -> np.ndarray:
    """Spec §4.3.6 inverse MDCT, direct matmul form with the cos
    basis cached per blocksize (blocksizes here are tiny; a
    real-time path would use the FFT factorization)."""
    return _imdct_matrix(n) @ spectrum


def decode_vorbis(buf: bytes) -> tuple[np.ndarray, int]:
    """Ogg Vorbis -> (float64 samples (N,) mono / (N, ch), rate).

    Spec §4.3 packet decode: mode -> floor -> residue -> dot product
    -> IMDCT -> windowed overlap-add (the first audio packet primes
    the lap buffer and emits nothing). End-of-packet conditions
    inside AUDIO packets are normal per spec §1.3.2 (encoders elide
    trailing zeros): EOP in the mode/window bits loses the packet
    (the next one re-primes the lap buffer), EOP during floor decode
    zeroes the whole block (spec §4.3.2), EOP in a residue keeps the
    partial vectors — headers stay hard errors.
    The final Ogg page's granule position truncates the tail (real
    streams' PCM length is rarely a block-hop multiple)."""
    from icicle_spark.operators.ogg import ogg_parse

    parsed = ogg_parse(buf)
    packets = [p for p, _ in parsed]
    if len(packets) < 3:
        raise ValueError("vorbis: missing header packets")
    channels, rate, blocksizes = _parse_ident(packets[0])
    # packets[1] is the comment header — validated shape, skipped
    if not packets[1][:7] == b"\x03vorbis":
        raise ValueError("vorbis: bad comment header")
    setup = _parse_setup(packets[2], channels, rate, blocksizes)
    mode_bits = ilog(len(setup.modes) - 1)
    out: list[np.ndarray] = []
    prev: np.ndarray | None = None  # (ch, n_prev) windowed block
    for pk in packets[3:]:
        r = BitReader(pk)
        try:
            if r.read(1) != 0:
                raise ValueError(
                    "vorbis: audio packet with header type"
                )
            blockflag, mapping_no = setup.modes[
                r.read(mode_bits) if mode_bits else 0
            ]
            prev_long = next_long = True
            if blockflag:
                # spec: flag SET = the neighbor is a long block; an
                # unset flag narrows that slope to the short width
                prev_long = bool(r.read(1))
                next_long = bool(r.read(1))
        except EOFError:
            # spec: EOP before the packet body -> the packet is LOST.
            # The lap buffer is invalid across the hole: the next
            # good packet must re-prime (emit nothing), else its left
            # half would splice onto the tail of the pre-hole block.
            prev = None
            continue
        n = setup.blocksizes[blockflag]
        mux, sub, coupling = setup.mappings[mapping_no]
        n_half = n // 2
        # floors
        curves: list[np.ndarray | None] = []
        try:
            for ch in range(channels):
                fl_no, _ = sub[mux[ch]]
                y = setup.floors[fl_no].decode(r, setup.books)
                curves.append(
                    None if y is None
                    else setup.floors[fl_no].synthesize(y, n_half)
                )
        except EOFError:
            # spec §4.3.2: EOP during floor decode zeroes ALL channel
            # output vectors and skips straight to the overlap-add
            # stage — the leftover bits are dead (feeding them to
            # residue decode of the already-floored channels would
            # produce misaligned garbage, not audio)
            curves = [None] * channels
            r._pos = r._n
        # nonzero propagation (spec §4.3.3): a coupled pair decodes
        # residue if EITHER side's floor is in use
        no_res = [curves[ch] is None for ch in range(channels)]
        for m, a in coupling:
            if not (no_res[m] and no_res[a]):
                no_res[m] = no_res[a] = False
        # residues, per submap
        spectra = np.zeros((channels, n_half))
        for s, (fl_no, res_no) in enumerate(sub):
            chans = [ch for ch in range(channels) if mux[ch] == s]
            dnd = [no_res[ch] for ch in chans]
            vecs = setup.residues[res_no].decode(
                r, setup.books, dnd, n_half
            )
            for i, ch in enumerate(chans):
                spectra[ch] = vecs[i]
        # inverse coupling (spec §4.3.5 square polar), reverse order
        for m, a in reversed(coupling):
            M, A = spectra[m], spectra[a]
            new_m = np.where(
                M > 0,
                np.where(A > 0, M, M + A),
                np.where(A > 0, M, M - A),
            )
            new_a = np.where(
                M > 0,
                np.where(A > 0, M - A, M),
                np.where(A > 0, M + A, M),
            )
            spectra[m], spectra[a] = new_m, new_a
        # dot product + synthesis
        w = synthesis_window(
            n, prev_long, next_long, setup.blocksizes[0]
        )
        cur = np.zeros((channels, n))
        for ch in range(channels):
            if curves[ch] is None:
                continue
            cur[ch] = imdct(spectra[ch] * curves[ch], n)
        cur *= w
        if prev is not None:
            # centered lap (spec §4.3.9): consecutive block CENTERS
            # are n_prev/4 + n_cur/4 apart; emit from the previous
            # center to the current center, adding the regions where
            # each windowed block is live (outside them its window
            # is zero by construction, so the slices below cover all
            # nonzero contributions)
            n_prev = prev.shape[1]
            ret = n_prev // 4 + n // 4
            o = n_prev // 4 - n // 4  # cur sample 0 at prev_center+o
            chunk = np.zeros((channels, ret))
            m = min(ret, n_prev // 2)
            chunk[:, :m] += prev[:, n_prev // 2:n_prev // 2 + m]
            if o >= 0:
                chunk[:, o:] += cur[:, :n // 2]
            else:
                chunk += cur[:, -o:-o + ret]
            out.append(chunk)
        prev = cur
    if not out:
        return np.zeros((0,) if channels == 1 else (0, channels)), rate
    pcm = np.concatenate(out, axis=1)
    # spec §A.2: the final page's granule is the TRUE PCM length —
    # truncate the synthetic tail of the last (usually partial) block
    final_granule = parsed[-1][1]
    if 0 <= final_granule < pcm.shape[1]:
        pcm = pcm[:, :final_granule]
    return (pcm[0] if channels == 1 else pcm.T), rate


# ------------------------------------------------- profile encoder

_N = 64          # blocksize (both)
_HALF = _N // 2  # 32 spectral bins / output samples per packet
_BOOK_VALUES = (-1.0, -0.5, 0.0, 0.5)  # min=-1, delta=0.5, 4 muls
_ZERO_IDX = 2    # multiplicand index encoding 0.0


def _write_common_header(w: BitWriter, ptype: int) -> None:
    w.write(ptype, 8)
    for b in b"vorbis":
        w.write(b, 8)


def _ident_packet(channels: int, rate: int,
                  exps: tuple[int, int] = (6, 6)) -> bytes:
    w = BitWriter()
    _write_common_header(w, 1)
    w.write(0, 32)
    w.write(channels, 8)
    w.write(rate, 32)
    w.write(0, 32), w.write(0, 32), w.write(0, 32)
    w.write(exps[0], 4)   # blocksize_0 exponent
    w.write(exps[1], 4)   # blocksize_1 exponent
    w.write(1, 1)
    return w.getvalue()


def _comment_packet() -> bytes:
    w = BitWriter()
    _write_common_header(w, 3)
    vendor = b"icicle_spark vorbis profile"
    w.write(len(vendor), 32)
    for b in vendor:
        w.write(b, 8)
    w.write(0, 32)  # no user comments
    w.write(1, 1)
    return w.getvalue()


def _setup_packet(residue_type: int = 1,
                  book1_coding: str = "dense",
                  channels: int = 1,
                  two_modes: bool = False) -> bytes:
    """The profile setup header. ``residue_type``/``book1_coding``
    exist so tests can emit spec-equivalent streams through the
    OTHER decoder paths (residue 0/2 re-interleave to the same
    vector for mono at partition_size == dim multiples; ordered and
    sparse codeword-length codings describe the same uniform tree)
    and assert identical decodes. ``channels=2`` adds one square-
    polar coupling step (magnitude ch0, angle ch1) and widens the
    type-2 residue to the interleaved vector."""
    w = BitWriter()
    _write_common_header(w, 5)
    w.write(1, 8)  # 2 codebooks
    # book 0: residue classbook — dim 1, 2 entries, lengths 1/1,
    # no lookup (scalar context)
    w.write(0x564342, 24)
    w.write(1, 16)
    w.write(2, 24)
    w.write(0, 1), w.write(0, 1)   # unordered, dense
    w.write(0, 5), w.write(0, 5)   # lengths 1,1 (stored -1)
    w.write(0, 4)                  # lookup type 0
    # book 1: residue values — dim 2, 16 entries, uniform 4-bit tree,
    # VQ lookup type 1 over multiplicands {0,1,2,3},
    # min -1.0, delta 0.5 -> values {-1,-0.5, 0, 0.5}
    w.write(0x564342, 24)
    w.write(2, 16)
    w.write(16, 24)
    if book1_coding == "dense":
        w.write(0, 1), w.write(0, 1)
        for _ in range(16):
            w.write(3, 5)          # all lengths 4 (stored -1)
    elif book1_coding == "sparse":
        w.write(0, 1), w.write(1, 1)
        for _ in range(16):
            w.write(1, 1)          # used flag
            w.write(3, 5)
    elif book1_coding == "ordered":
        w.write(1, 1)
        w.write(3, 5)              # initial length 4 (stored -1)
        w.write(16, ilog(16))      # 16 entries of that length
    else:
        raise ValueError(f"unknown coding {book1_coding!r}")
    w.write(1, 4)                  # lookup type 1
    w.write(float32_pack(-1.0), 32)
    w.write(float32_pack(0.5), 32)
    w.write(1, 4)                  # value_bits 2 (stored -1)
    w.write(0, 1)                  # sequence_p off
    for m in range(4):             # lookup1_values(16, 2) = 4
        w.write(m, 2)
    # time transforms
    w.write(0, 6)
    w.write(0, 16)
    # floors: one floor1, zero partitions -> two posts [0, 2^5]
    w.write(0, 6)
    w.write(1, 16)                 # floor type 1
    w.write(0, 5)                  # floor1_partitions = 0
    w.write(0, 2)                  # multiplier 1 (stored -1)
    w.write(5, 4)                  # rangebits: X list [0, 32]
    # residues: one residue covering all bins (type 2's begin/end
    # address the INTERLEAVED vector, so stereo doubles the end)
    w.write(0, 6)
    w.write(residue_type, 16)
    w.write(0, 24)                 # begin
    w.write(_HALF * (channels if residue_type == 2 else 1), 24)
    w.write(7, 24)                 # partition size 8 (stored -1)
    w.write(1, 6)                  # 2 classifications (stored -1)
    w.write(0, 8)                  # classbook = book 0
    for _ in range(2):             # cascade = 1 for both classes
        w.write(1, 3)
        w.write(0, 1)
    for _ in range(2):             # stage-0 book = book 1
        w.write(1, 8)
    # mappings: one type-0 mapping, 1 submap
    w.write(0, 6)
    w.write(0, 16)
    w.write(0, 1)                  # submaps flag (1 submap)
    if channels == 2:
        w.write(1, 1)              # coupling flag
        w.write(0, 8)              # 1 step (stored -1)
        w.write(0, 1)              # magnitude = ch 0 (ilog(1) bits)
        w.write(1, 1)              # angle = ch 1
    else:
        w.write(0, 1)              # no coupling
    w.write(0, 2)                  # reserved
    w.write(0, 8)                  # time config (unused)
    w.write(0, 8)                  # floor 0
    w.write(0, 8)                  # residue 0
    # modes: one short-block mode (plus a long-block mode when the
    # stream declares two blocksizes — window-switching profile)
    w.write(1 if two_modes else 0, 6)
    w.write(0, 1)                  # mode 0: blockflag 0
    w.write(0, 16), w.write(0, 16)
    w.write(0, 8)                  # mapping 0
    if two_modes:
        w.write(1, 1)              # mode 1: blockflag 1 (long)
        w.write(0, 16), w.write(0, 16)
        w.write(0, 8)              # mapping 0 (floor/residue shared)
    w.write(1, 1)                  # framing
    return w.getvalue()


def _write_packet_body(w: BitWriter, mult_idx: np.ndarray,
                       floor_y: tuple[int, int],
                       channels: int) -> None:
    """The profile packet body shared by every encoder variant:
    per-channel floor posts (255,255 = unity) then the residue
    vector as multiplicand indices (0..3 -> ``_BOOK_VALUES``) —
    32 per-channel values for mono types 0/1, or the 32*channels
    INTERLEAVED vector for the type-2 profile."""
    n_vals = _HALF * channels
    if mult_idx.shape != (n_vals,):
        raise ValueError(f"want {n_vals} spectral indices")
    for _ in range(channels):
        w.write(1, 1)              # floor nonzero
        w.write(floor_y[0], 8)     # post y0
        w.write(floor_y[1], 8)     # post y1
    for part in range(n_vals // 8):  # partitions of 8 values
        w.write(0, 1)              # classword: class 0 (book 0)
        seg = mult_idx[part * 8:(part + 1) * 8]
        for i in range(0, 8, 2):   # 4 dim-2 codewords from book 1
            entry = int(seg[i]) + 4 * int(seg[i + 1])
            # book 1 codewords are uniform 4-bit, MSB-first == the
            # entry number; write MSB-first through the LSB packer
            for bit in range(3, -1, -1):
                w.write((entry >> bit) & 1, 1)


def _audio_packet(mult_idx: np.ndarray,
                  floor_y: tuple[int, int] = (255, 255),
                  channels: int = 1) -> bytes:
    w = BitWriter()
    w.write(0, 1)                  # audio packet
    # mode number: ilog(0) = 0 bits (single-mode profiles)
    _write_packet_body(w, mult_idx, floor_y, channels)
    return w.getvalue()


def encode_vorbis_pattern(
    spectra: np.ndarray, sample_rate: int = 16_000,
    floor_y: tuple[int, int] = (255, 255),
    residue_type: int = 1, book1_coding: str = "dense",
) -> bytes:
    """Ogg Vorbis stream (this profile) from per-packet quantized
    spectra: ``spectra`` is (n_packets, 32) of multiplicand indices
    0..3 -> spectral values {-1, -0.5, 0, +0.5}. Lossy-codec
    fixtures anchor on the SPECTRUM, which this encodes exactly."""
    from icicle_spark.operators.ogg import ogg_pack

    spectra = np.asarray(spectra, dtype=np.int64)
    if spectra.ndim != 2 or spectra.shape[1] != _HALF:
        raise ValueError(f"spectra must be (n, {_HALF})")
    if spectra.size and (spectra.min() < 0 or spectra.max() > 3):
        raise ValueError("multiplicand indices must be 0..3")
    packets = [_ident_packet(1, sample_rate), _comment_packet(),
               _setup_packet(residue_type, book1_coding)]
    granules = [0, 0, 0]
    done = 0
    for i in range(spectra.shape[0]):
        packets.append(_audio_packet(spectra[i], floor_y))
        if i > 0:
            done += _HALF  # first audio packet primes the lap buffer
        granules.append(done)
    return ogg_pack(packets, granules)


def encode_vorbis_pattern_switching(
    spectra: np.ndarray, blockflags, sample_rate: int = 16_000,
) -> bytes:
    """Window-switching variant of :func:`encode_vorbis_pattern`:
    blocksizes 64/256 with one short and one long mode. Each packet
    i carries 32 spectral values (the long block's remaining 96 bins
    stay zero — residue [0,32) is valid at any blocksize, and the
    two-post floor renders flat across any n/2) and
    ``blockflags[i]`` picks the mode; the long-block prev/next
    window flags are derived from the ACTUAL neighbors, the way a
    real encoder sets them."""
    from icicle_spark.operators.ogg import ogg_pack

    spectra = np.asarray(spectra, dtype=np.int64)
    flags = [int(b) for b in blockflags]
    if spectra.ndim != 2 or spectra.shape[1] != _HALF \
            or len(flags) != spectra.shape[0]:
        raise ValueError(
            f"want spectra (n, {_HALF}) + one blockflag per packet"
        )
    if spectra.size and (spectra.min() < 0 or spectra.max() > 3):
        raise ValueError("multiplicand indices must be 0..3")
    sizes = (_N, 4 * _N)  # 64 / 256 (exponents 6 / 8)
    packets = [_ident_packet(1, sample_rate, exps=(6, 8)),
               _comment_packet(),
               _setup_packet(two_modes=True)]
    granules = [0, 0, 0]
    done = 0
    for i, bf in enumerate(flags):
        w = BitWriter()
        w.write(0, 1)              # audio packet
        w.write(bf, 1)             # mode number (ilog(1) = 1 bit)
        if bf:
            # flag SET = that neighbor is long; stream edges are
            # conventionally long (full slope)
            w.write(1 if (i == 0 or flags[i - 1]) else 0, 1)
            w.write(1 if (i + 1 >= len(flags) or flags[i + 1])
                    else 0, 1)
        _write_packet_body(w, spectra[i], (255, 255), 1)
        packets.append(w.getvalue())
        if i > 0:
            done += sizes[flags[i - 1]] // 4 + sizes[bf] // 4
        granules.append(done)
    return ogg_pack(packets, granules)


def encode_vorbis_pattern_stereo(
    mag_spectra: np.ndarray, ang_spectra: np.ndarray,
    sample_rate: int = 16_000,
) -> bytes:
    """Stereo (coupled) variant of :func:`encode_vorbis_pattern`:
    the caller supplies the COUPLED square-polar (magnitude, angle)
    spectra as multiplicand indices, written as one type-2
    interleaved residue with one coupling step (mag ch0, angle ch1)
    — the decoder's inverse coupling reconstructs the two output
    channels (spec §4.3.5)."""
    from icicle_spark.operators.ogg import ogg_pack

    mag = np.asarray(mag_spectra, dtype=np.int64)
    ang = np.asarray(ang_spectra, dtype=np.int64)
    if mag.shape != ang.shape or mag.ndim != 2 \
            or mag.shape[1] != _HALF:
        raise ValueError(f"spectra must both be (n, {_HALF})")
    for s in (mag, ang):
        if s.size and (s.min() < 0 or s.max() > 3):
            raise ValueError("multiplicand indices must be 0..3")
    packets = [_ident_packet(2, sample_rate), _comment_packet(),
               _setup_packet(residue_type=2, channels=2)]
    granules = [0, 0, 0]
    done = 0
    for i in range(mag.shape[0]):
        flat = np.empty(2 * _HALF, np.int64)
        flat[0::2] = mag[i]  # interleave: v[j*ch + c]
        flat[1::2] = ang[i]
        packets.append(_audio_packet(flat, channels=2))
        if i > 0:
            done += _HALF
        granules.append(done)
    return ogg_pack(packets, granules)


def is_ogg_vorbis(buf: bytes) -> bool:
    from icicle_spark.operators.ogg import is_ogg, ogg_parse

    if not is_ogg(buf):
        return False
    try:
        first = ogg_parse(buf)[0][0]
    except Exception:  # noqa: BLE001 — sniffing only
        return False
    return first[:7] == b"\x01vorbis"
