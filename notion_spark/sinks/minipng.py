"""Dependency-free PNG chart rasterizer (the S9 chart renderer).

Charts render through this tiny deterministic rasterizer whatever is
installed, so the chart files never depend on the host: an RGB
framebuffer, filled-rect / pie-sector primitives, a 5x7 bitmap font for
labels, and a stdlib-zlib PNG encoder. Deterministic byte-for-byte given the same inputs — the
golden tests hash the output. The same framebuffer doubles as the raw
RGB payload for PDF image XObjects (sinks/minipdf.py embeds it directly,
which is how charts end up inside the report PDF like the reference's
fpdf `image()` calls, generate_reports.py:592-600).

This renders CHARTS, not matplotlib parity: the reference's visual style
(analyze_pages.py:422-492 pies/bars) is reproduced at the
structure level — titled pie with legend, labeled bar chart — not
pixel-for-pixel.
"""

from __future__ import annotations

import math
import struct
import zlib

# 5x7 bitmap font for ASCII 32-126 (each glyph: 5 columns, LSB = top row).
_FONT = {}


def _def_glyphs():
    # Compact column-encoded 5x7 font (public-domain "font5x7" layout).
    data = {
        " ": "0000000000", "!": "00005F0000", '"': "0007000700", "#": "147F147F14",
        "$": "242A7F2A12", "%": "2313086462", "&": "3649552250", "'": "0005030000",
        "(": "001C224100", ")": "0041221C00", "*": "14083E0814", "+": "08083E0808",
        ",": "0050300000", "-": "0808080808", ".": "0060600000", "/": "2010080402",
        "0": "3E5149453E", "1": "00427F4000", "2": "4261514946", "3": "2141454B31",
        "4": "181412107F", "5": "2745454539", "6": "3C4A494930", "7": "0171090503",
        "8": "3649494936", "9": "064949291E", ":": "0036360000", ";": "0056360000",
        "<": "0814224100", "=": "1414141414", ">": "0041221408", "?": "0201510906",
        "@": "324979413E", "A": "7E1111117E", "B": "7F49494936", "C": "3E41414122",
        "D": "7F4141221C", "E": "7F49494941", "F": "7F09090901", "G": "3E41494979",
        "H": "7F0808087F", "I": "00417F4100", "J": "2040413F01", "K": "7F08142241",
        "L": "7F40404040", "M": "7F020C027F", "N": "7F0408107F", "O": "3E4141413E",
        "P": "7F09090906", "Q": "3E4151215E", "R": "7F09192946", "S": "4649494931",
        "T": "01017F0101", "U": "3F4040403F", "V": "1F2040201F", "W": "3F4038403F",
        "X": "6314081463", "Y": "0708700807", "Z": "6151494543", "[": "007F414100",
        "\\": "0204081020", "]": "0041417F00", "^": "0402010204", "_": "4040404040",
        "`": "0001020400", "a": "2054545478", "b": "7F48444438", "c": "3844444420",
        "d": "384444487F", "e": "3854545418", "f": "087E090102", "g": "0C5252523E",
        "h": "7F08040478", "i": "00447D4000", "j": "2040443D00", "k": "7F10284400",
        "l": "00417F4000", "m": "7C04180478", "n": "7C08040478", "o": "3844444438",
        "p": "7C14141408", "q": "0814141878", "r": "7C08040408", "s": "4854545424",
        "t": "043F444020", "u": "3C4040207C", "v": "1C2040201C", "w": "3C4030403C",
        "x": "4428102844", "y": "0C5050503C", "z": "4464544C44",
    }
    for ch, hexcols in data.items():
        _FONT[ch] = [int(hexcols[i : i + 2], 16) for i in range(0, 10, 2)]


_def_glyphs()

# Brand-neutral categorical palette (distinct, readable on white).
PALETTE = [
    (31, 119, 180), (255, 127, 14), (44, 160, 44), (214, 39, 40),
    (148, 103, 189), (140, 86, 75), (227, 119, 194), (127, 127, 127),
    (188, 189, 34), (23, 190, 207),
]


class Canvas:
    """RGB framebuffer with just enough primitives for report charts."""

    def __init__(self, width: int, height: int, bg=(255, 255, 255)):
        self.w = width
        self.h = height
        self.buf = bytearray(bytes(bg) * (width * height))

    def put(self, x: int, y: int, color) -> None:
        if 0 <= x < self.w and 0 <= y < self.h:
            i = 3 * (y * self.w + x)
            self.buf[i : i + 3] = bytes(color)

    def rect(self, x0: int, y0: int, x1: int, y1: int, color, fill=True) -> None:
        x0, x1 = max(0, min(x0, x1)), min(self.w - 1, max(x0, x1))
        y0, y1 = max(0, min(y0, y1)), min(self.h - 1, max(y0, y1))
        if fill:
            row = bytes(color) * (x1 - x0 + 1)
            for y in range(y0, y1 + 1):
                i = 3 * (y * self.w + x0)
                self.buf[i : i + len(row)] = row
        else:
            for x in range(x0, x1 + 1):
                self.put(x, y0, color)
                self.put(x, y1, color)
            for y in range(y0, y1 + 1):
                self.put(x0, y, color)
                self.put(x1, y, color)

    def text(self, x: int, y: int, s: str, color=(0, 0, 0), scale: int = 1) -> None:
        cx = x
        for ch in s:
            cols = _FONT.get(ch, _FONT["?"])
            for col_i, col in enumerate(cols):
                for row_i in range(7):
                    if col >> row_i & 1:
                        for dy in range(scale):
                            for dx in range(scale):
                                self.put(
                                    cx + col_i * scale + dx,
                                    y + row_i * scale + dy,
                                    color,
                                )
            cx += 6 * scale

    def pie_sector(self, cx, cy, r, a0, a1, color) -> None:
        """Filled sector [a0, a1) radians, 12 o'clock origin, clockwise —
        per-pixel angle test over the bounding box (deterministic)."""
        for y in range(cy - r, cy + r + 1):
            for x in range(cx - r, cx + r + 1):
                dx, dy = x - cx, y - cy
                if dx * dx + dy * dy > r * r:
                    continue
                ang = (math.atan2(dx, -dy)) % (2 * math.pi)
                if a0 <= ang < a1:
                    self.put(x, y, color)

    # ------------------------------------------------------------ encode
    def png_bytes(self) -> bytes:
        """Encode as PNG (8-bit RGB, filter 0, single IDAT)."""

        def chunk(tag: bytes, body: bytes) -> bytes:
            return (
                struct.pack(">I", len(body))
                + tag
                + body
                + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
            )

        raw = b"".join(
            b"\x00" + bytes(self.buf[3 * y * self.w : 3 * (y + 1) * self.w])
            for y in range(self.h)
        )
        ihdr = struct.pack(">IIBBBBB", self.w, self.h, 8, 2, 0, 0, 0)
        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw, 9))
            + chunk(b"IEND", b"")
        )

    def rgb_bytes(self) -> bytes:
        return bytes(self.buf)


def _txt(v) -> str:
    s = str(v)
    return "".join(ch if ch in _FONT else "?" for ch in s)


def pie_chart(pairs: list[tuple], title: str, width=420, height=300) -> Canvas:
    """Titled pie with side legend: pairs = [(label, count), ...]."""
    c = Canvas(width, height)
    c.text(10, 8, _txt(title), scale=2)
    total = sum(max(0, int(n)) for _, n in pairs) or 1
    cx, cy, r = height // 2 + 20, height // 2 + 10, height // 2 - 30
    ang = 0.0
    for i, (label, n) in enumerate(pairs):
        frac = max(0, int(n)) / total
        color = PALETTE[i % len(PALETTE)]
        c.pie_sector(cx, cy, r, ang, ang + frac * 2 * math.pi, color)
        ly = 40 + i * 16
        c.rect(cx + r + 20, ly, cx + r + 30, ly + 10, color)
        c.text(cx + r + 36, ly + 2, f"{_txt(label)} ({n}, {100 * frac:.1f}%)")
        ang += frac * 2 * math.pi
    return c


def bar_chart(pairs: list[tuple], title: str, width=560, height=300) -> Canvas:
    """Titled vertical bars with value labels and rotated-free x labels:
    pairs = [(label, count), ...] in given order."""
    c = Canvas(width, height)
    c.text(10, 8, _txt(title), scale=2)
    if not pairs:
        return c
    top, bottom, left = 40, height - 50, 40
    peak = max(max(0, int(n)) for _, n in pairs) or 1
    c.rect(left, bottom + 1, width - 10, bottom + 1, (0, 0, 0))
    bw = max(6, (width - left - 20) // max(len(pairs), 1) - 8)
    for i, (label, n) in enumerate(pairs):
        x0 = left + 4 + i * (bw + 8)
        h = int((bottom - top) * max(0, int(n)) / peak)
        c.rect(x0, bottom - h, x0 + bw, bottom, PALETTE[i % len(PALETTE)])
        c.text(x0, bottom - h - 10, _txt(n))
        c.text(x0, bottom + 6, _txt(label)[: max(1, (bw + 8) // 6)])
    return c
