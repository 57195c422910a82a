"""QM arithmetic decoder + the T.81 sequential DC/AC statistical models,
from scratch (ITU-T T.81 Annexes D, F; public spec), numpy-free.

The probability-estimation state machine is Table D.3 (113 adaptive
states + the fixed near-equiprobable state used for AC sign bits). The
interval convention follows the published QM decoder procedures: the
MPS subinterval sits at the BOTTOM of [0, A); coding the top interval
adds the bottom width to the code register; conditional exchange swaps
the roles when the LPS width (Qe) exceeds the MPS width (A - Qe).

Only the decoder is implemented: the engine writes baseline (Huffman)
JPEG tiles only. With no arithmetic-capable foreign codec to test
against, decoding is pinned by committed byte streams
(tests/data/jpeg_streams.npz): raw QM code strings of seeded skewed
sources, and SOF9/SOF10 images (with and without DRI/RSTn) that must
decode coefficient-exact against the Huffman baseline.

Serialization follows the T.81 arithmetic convention (the one libjpeg's
jdarith.c documents): a ZERO BYTE is stuffed after every 0xFF code byte
(so 0xFF 0x90+ stays unambiguous as markers — the caller un-stuffs
FF 00 → FF exactly like the Huffman path), and the decoder feeds ZERO
bytes past the end of data.
"""

from __future__ import annotations

# Table D.3: (Qe, NLPS, NMPS, SWITCH) for the 113 adaptive states;
# index 113 is the non-adapting near-0.5 state (AC sign bits)
QM_TABLE = (
    (0x5A1D, 1, 1, 1), (0x2586, 14, 2, 0), (0x1114, 16, 3, 0),
    (0x080B, 18, 4, 0), (0x03D8, 20, 5, 0), (0x01DA, 23, 6, 0),
    (0x00E5, 25, 7, 0), (0x006F, 28, 8, 0), (0x0036, 30, 9, 0),
    (0x001A, 33, 10, 0), (0x000D, 35, 11, 0), (0x0006, 9, 12, 0),
    (0x0003, 10, 13, 0), (0x0001, 12, 13, 0), (0x5A7F, 15, 15, 1),
    (0x3F25, 36, 16, 0), (0x2CF2, 38, 17, 0), (0x207C, 39, 18, 0),
    (0x17B9, 40, 19, 0), (0x1182, 42, 20, 0), (0x0CEF, 43, 21, 0),
    (0x09A1, 45, 22, 0), (0x072F, 46, 23, 0), (0x055C, 48, 24, 0),
    (0x0406, 49, 25, 0), (0x0303, 51, 26, 0), (0x0240, 52, 27, 0),
    (0x01B1, 54, 28, 0), (0x0144, 56, 29, 0), (0x00F5, 57, 30, 0),
    (0x00B7, 59, 31, 0), (0x008A, 60, 32, 0), (0x0068, 62, 33, 0),
    (0x004E, 63, 34, 0), (0x003B, 32, 35, 0), (0x002C, 33, 9, 0),
    (0x5AE1, 37, 37, 1), (0x484C, 64, 38, 0), (0x3A0D, 65, 39, 0),
    (0x2EF1, 67, 40, 0), (0x261F, 68, 41, 0), (0x1F33, 69, 42, 0),
    (0x19A8, 70, 43, 0), (0x1518, 72, 44, 0), (0x1177, 73, 45, 0),
    (0x0E74, 74, 46, 0), (0x0BFB, 75, 47, 0), (0x09F8, 77, 48, 0),
    (0x0861, 78, 49, 0), (0x0706, 79, 50, 0), (0x05CD, 48, 51, 0),
    (0x04DE, 50, 52, 0), (0x040F, 50, 53, 0), (0x0363, 51, 54, 0),
    (0x02D4, 52, 55, 0), (0x025C, 53, 56, 0), (0x01F8, 54, 57, 0),
    (0x01A4, 55, 58, 0), (0x0160, 56, 59, 0), (0x0125, 57, 60, 0),
    (0x00F6, 58, 61, 0), (0x00CB, 59, 62, 0), (0x00AB, 61, 63, 0),
    (0x008F, 61, 32, 0), (0x5B12, 65, 65, 1), (0x4D04, 80, 66, 0),
    (0x412C, 81, 67, 0), (0x37D8, 82, 68, 0), (0x2FE8, 83, 69, 0),
    (0x293C, 84, 70, 0), (0x2379, 86, 71, 0), (0x1EDF, 87, 72, 0),
    (0x1AA9, 87, 73, 0), (0x174E, 72, 74, 0), (0x1424, 72, 75, 0),
    (0x119C, 74, 76, 0), (0x0F6B, 74, 77, 0), (0x0D51, 75, 78, 0),
    (0x0BB6, 77, 79, 0), (0x0A40, 77, 48, 0), (0x5832, 80, 81, 1),
    (0x4D1C, 88, 82, 0), (0x438E, 89, 83, 0), (0x3BDD, 90, 84, 0),
    (0x34EE, 91, 85, 0), (0x2EAE, 92, 86, 0), (0x299A, 93, 87, 0),
    (0x2516, 86, 71, 0), (0x5570, 88, 89, 1), (0x4CA9, 95, 90, 0),
    (0x44D9, 96, 91, 0), (0x3E22, 97, 92, 0), (0x3824, 99, 93, 0),
    (0x32B4, 99, 94, 0), (0x2E17, 93, 86, 0), (0x56A8, 95, 96, 1),
    (0x4F46, 101, 97, 0), (0x47E5, 102, 98, 0), (0x41CF, 103, 99, 0),
    (0x3C3D, 104, 100, 0), (0x375E, 99, 93, 0), (0x5231, 105, 102, 0),
    (0x4C0F, 106, 103, 0), (0x4639, 107, 104, 0), (0x415E, 103, 99, 0),
    (0x5627, 105, 106, 1), (0x50E7, 108, 107, 0), (0x4B85, 109, 103, 0),
    (0x5597, 110, 109, 0), (0x504F, 111, 107, 0), (0x5A10, 110, 111, 1),
    (0x5522, 112, 109, 0), (0x59EB, 112, 111, 1),
    (0x5A1D, 113, 113, 0),  # index 113: fixed ~equiprobable, never adapts
)


class Ctx:
    """One adaptive binary context: estimation-state index + MPS sense."""

    __slots__ = ("i", "mps")

    def __init__(self):
        self.i = 0
        self.mps = 0


FIXED = 113  # the non-adapting state index


class QMDecoder:
    """Windowed QM decoder (16-bit active window over the UN-stuffed
    byte stream — the caller removes FF 00 byte stuffing, as for
    Huffman scans); feeds zero bytes past the end of data."""

    __slots__ = ("data", "pos", "a", "c", "ct")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.a = 0x10000
        self.c = 0
        self.ct = 0
        for _ in range(2):  # load the initial 16-bit window
            self._byte_in()
        self.ct = 0

    def _byte_in(self) -> None:
        b = self.data[self.pos] if self.pos < len(self.data) else 0
        self.pos += 1
        self.c = (self.c << 8) | b
        self.ct += 8

    def decode(self, ctx: Ctx) -> int:
        qe, nlps, nmps, switch = QM_TABLE[ctx.i]
        self.a -= qe
        boundary = self.a << self.ct
        if self.c >= boundary:  # top subinterval
            self.c -= boundary
            if self.a < qe:  # exchange: top was the MPS
                bit = ctx.mps
                ctx.i = nmps
            else:
                bit = ctx.mps ^ 1
                if switch:
                    ctx.mps ^= 1
                ctx.i = nlps
            self.a = qe
        else:
            if self.a >= 0x8000:
                return ctx.mps  # short MPS path
            if self.a < qe:  # exchange: bottom was the LPS
                bit = ctx.mps ^ 1
                if switch:
                    ctx.mps ^= 1
                ctx.i = nlps
            else:
                bit = ctx.mps
                ctx.i = nmps
        while self.a < 0x8000:
            if self.ct == 0:
                self._byte_in()
            self.a <<= 1
            self.ct -= 1
        return bit

    def decode_fixed(self) -> int:
        c = Ctx()
        c.i = FIXED
        return self.decode(c)


# --------------------------------------------------------------------------
# T.81 F.1.4 sequential statistical models (DC difference + AC bands)
# --------------------------------------------------------------------------


class DCModel:
    """Per-TABLE DC difference statistics (T.81 F.1.4.1 / F.1.4.4.1):
    bins are shared by every component referencing the table, while the
    conditioning context (classification of the previous diff) is
    per-component state passed in and returned by the caller.

    Bin layout: 5 conditioning classes × 4 decision bins (0..19), the
    shared log2-magnitude tree at X1=20, magnitude-bit bins at +14.
    Default conditioning bounds L=0, U=1 (the DAC defaults).
    """

    __slots__ = ("bins", "lo", "hi")

    def __init__(self, L: int = 0, U: int = 1):
        self.bins = [Ctx() for _ in range(64)]
        self.lo = (1 << L) >> 1
        self.hi = (1 << U) >> 1

    def _classify(self, m: int, sign: int) -> int:
        if m < self.lo:
            return 0  # near-zero diff class
        if m > self.hi:
            return 12 + sign * 4  # large diff
        return 4 + sign * 4  # small diff

    def decode(self, dec: QMDecoder, context: int) -> tuple:
        """Returns (diff, next conditioning context)."""
        st = context
        if dec.decode(self.bins[st]) == 0:
            return 0, 0
        sign = dec.decode(self.bins[st + 1])
        st2 = st + 2 + sign
        m = dec.decode(self.bins[st2])
        if m:
            t = 20
            while dec.decode(self.bins[t]):
                m <<= 1
                t += 1
                assert m < 0x8000, "DC magnitude overflow"
            bits_ctx = self.bins[t + 14]
            v = m
            mm = m >> 1
            while mm:
                if dec.decode(bits_ctx):
                    v |= mm
                mm >>= 1
        else:
            v = 0
        ncontext = self._classify(m, sign)
        v += 1
        return (-v if sign else v), ncontext


class ACModel:
    """Per-table AC coefficient model (T.81 F.1.4.2 / F.1.4.4.2).

    3 bins per zigzag position k (EOB decision, zero/nonzero, first
    magnitude decision), two magnitude trees at 189 (k <= Kx) and 217
    (k > Kx) each followed by its bit bins at +14; the sign is coded in
    the fixed equiprobable state. Default conditioning Kx=5.
    """

    __slots__ = ("bins", "kx")

    def __init__(self, kx: int = 5):
        self.bins = [Ctx() for _ in range(256)]
        self.kx = kx

    def decode_block(self, dec: QMDecoder, zz, *, ss: int = 1,
                     se: int = 63, al: int = 0) -> None:
        k = ss
        while k <= se:
            st = 3 * (k - 1)
            if dec.decode(self.bins[st]):
                break  # EOB
            while dec.decode(self.bins[st + 1]) == 0:
                st += 3
                k += 1
                assert k <= se, "AC run past end of block"
            sign = dec.decode_fixed()
            st += 2
            m = dec.decode(self.bins[st])
            bits_ctx = self.bins[st + 14]
            if m:
                if dec.decode(self.bins[st]):
                    m <<= 1
                    t = 189 if k <= self.kx else 217
                    while dec.decode(self.bins[t]):
                        m <<= 1
                        t += 1
                        assert m < 0x8000, "AC magnitude overflow"
                    bits_ctx = self.bins[t + 14]
                else:
                    bits_ctx = self.bins[st + 14]
            v = m
            mm = m >> 1
            while mm:
                if dec.decode(bits_ctx):
                    v |= mm
                mm >>= 1
            v += 1
            zz[k] = (-v if sign else v) << al
            k += 1

    def decode_refine(self, dec: QMDecoder, zz, *, ss: int, se: int,
                      al: int) -> None:
        p1, m1 = 1 << al, -(1 << al)
        kex = ss - 1
        for k in range(se, ss - 1, -1):
            if int(zz[k]):
                kex = k
                break
        k = ss
        while k <= se:
            st = 3 * (k - 1)
            if k > kex and dec.decode(self.bins[st]):
                break  # EOB: rest of band unchanged
            while True:
                if int(zz[k]):
                    if dec.decode(self.bins[st + 2]):
                        zz[k] += m1 if int(zz[k]) < 0 else p1
                    break
                if dec.decode(self.bins[st + 1]):
                    zz[k] = m1 if dec.decode_fixed() else p1
                    break
                st += 3
                k += 1
                assert k <= se, "AC refinement past end of band"
            k += 1
