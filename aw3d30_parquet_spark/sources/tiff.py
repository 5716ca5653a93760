"""Minimal single-band GeoTIFF codec (pure numpy, network-free).

The reference decodes AW3D30 DEM tiles with GDAL (reference
``src/main.rs:172-180``: open dataset, read ``geo_transform()``, read band
1 as i32). This container ships no raster library, so we implement the
narrow slice of TIFF 6.0 + GeoTIFF the reference actually consumes:

- classic TIFF, little- or big-endian, single IFD
- one sample per pixel, integer sample formats (int8..int32, uint8..uint16)
- strip-based OR tiled storage (TileWidth/TileLength/TileOffsets tags;
  edge tiles are padded to full tile size per TIFF 6.0 §15 and cropped
  after assembly)
- uncompressed (Compression=1), DEFLATE (Compression=8 / legacy 32946,
  stdlib zlib) or LZW (Compression=5, the TIFF variant with MSB-first
  bit packing and the early-change code-width switch), with optional
  horizontal differencing (Predictor=2) — DEFLATE strips are what GDAL
  writes for real AW3D30 tiles; tiled+LZW+predictor-2 is the other
  layout GDAL commonly emits for real-world GeoTIFFs
- geotransform from ModelPixelScaleTag (33550) + ModelTiepointTag (33922),
  the standard north-up GeoTIFF encoding; full 2-D affine via
  ModelTransformationTag (34264) also supported

``decode_geotiff`` is the hot-path decode, one call per tile file, made
by the tile kernels' shared per-tile loop
(:func:`~aw3d30_parquet_spark.sources.geotiff._decoded_tiles`);
``encode_geotiff`` exists so tests and the ingest benchmark can
fabricate deterministic tiles without GDAL. When ``rasterio`` is
importable it is preferred at decode time (exotic codecs); without it
this codec reads DEFLATE AW3D30 strips and the tiled and LZW layouts
GDAL commonly writes for other GeoTIFFs.

Nothing here touches Spark: bytes in, ``(numpy array, 6-float
geotransform)`` out, so the codec is unit-testable without a session.
"""

from __future__ import annotations

import struct
import zlib
from typing import Iterator

import numpy as np

try:  # pragma: no cover - exercised only where rasterio is installed
    import rasterio  # type: ignore
    import rasterio.io  # type: ignore

    _HAVE_RASTERIO = True
except Exception:  # pragma: no cover
    _HAVE_RASTERIO = False

# TIFF tag ids we understand (TIFF 6.0 spec + GeoTIFF spec appendix 6).
_TAG_WIDTH = 256
_TAG_LENGTH = 257
_TAG_BITS_PER_SAMPLE = 258
_TAG_COMPRESSION = 259
_TAG_PHOTOMETRIC = 262
_TAG_STRIP_OFFSETS = 273
_TAG_SAMPLES_PER_PIXEL = 277
_TAG_ROWS_PER_STRIP = 278
_TAG_STRIP_BYTE_COUNTS = 279
_TAG_PREDICTOR = 317
_TAG_TILE_WIDTH = 322
_TAG_TILE_LENGTH = 323
_TAG_TILE_OFFSETS = 324
_TAG_TILE_BYTE_COUNTS = 325
_TAG_SAMPLE_FORMAT = 339
_TAG_MODEL_PIXEL_SCALE = 33550
_TAG_MODEL_TIEPOINT = 33922
_TAG_MODEL_TRANSFORMATION = 34264

# TIFF field types → (struct char, byte size)
_FIELD_TYPES = {
    1: ("B", 1),  # BYTE
    2: ("c", 1),  # ASCII
    3: ("H", 2),  # SHORT
    4: ("I", 4),  # LONG
    5: ("II", 8),  # RATIONAL (2×LONG)
    8: ("h", 2),  # SSHORT
    9: ("i", 4),  # SLONG
    11: ("f", 4),  # FLOAT
    12: ("d", 8),  # DOUBLE
}

GeoTransform = tuple[float, float, float, float, float, float]


def _read_ifd_values(buf: bytes, endian: str, ftype: int, count: int, value_field: bytes):
    """Decode one IFD entry's values (inline if they fit in 4 bytes)."""
    ch, size = _FIELD_TYPES[ftype]
    total = size * count
    if total <= 4:
        raw = value_field[:total]
    else:
        (offset,) = struct.unpack(endian + "I", value_field)
        raw = buf[offset : offset + total]
    if ftype == 2:
        return raw.rstrip(b"\0").decode("ascii", "replace")
    vals = struct.unpack(endian + ch * count, raw)
    return list(vals)


def _parse_ifd(buf: bytes) -> tuple[dict[int, list], str]:
    if buf[:2] == b"II":
        endian = "<"
    elif buf[:2] == b"MM":
        endian = ">"
    else:
        raise ValueError("not a TIFF: bad byte-order mark")
    (magic,) = struct.unpack(endian + "H", buf[2:4])
    if magic != 42:
        raise ValueError(f"not a classic TIFF (magic={magic})")
    (ifd_off,) = struct.unpack(endian + "I", buf[4:8])
    (n_entries,) = struct.unpack(endian + "H", buf[ifd_off : ifd_off + 2])
    tags: dict[int, list] = {}
    pos = ifd_off + 2
    for _ in range(n_entries):
        tag, ftype, count = struct.unpack(endian + "HHI", buf[pos : pos + 8])
        if ftype in _FIELD_TYPES:
            tags[tag] = _read_ifd_values(buf, endian, ftype, count, buf[pos + 8 : pos + 12])
        pos += 12
    return tags, endian


def _geotransform_from_tags(tags: dict[int, list]) -> GeoTransform:
    """GDAL-style geotransform (gt0..gt5) from GeoTIFF georeferencing tags.

    Matches what the reference reads via ``dataset.geo_transform()``
    (reference ``src/main.rs:173``): ``lon = gt0 + x*gt1 + y*gt2``,
    ``lat = gt3 + x*gt4 + y*gt5`` for *pixel-corner* indices.
    """
    if _TAG_MODEL_TRANSFORMATION in tags:
        m = tags[_TAG_MODEL_TRANSFORMATION]  # 4×4 row-major matrix
        return (m[3], m[0], m[1], m[7], m[4], m[5])
    if _TAG_MODEL_PIXEL_SCALE in tags and _TAG_MODEL_TIEPOINT in tags:
        sx, sy = tags[_TAG_MODEL_PIXEL_SCALE][:2]
        i, j, _k, x, y, _z = tags[_TAG_MODEL_TIEPOINT][:6]
        # tiepoint maps raster (i, j) → model (x, y); north-up => negative y step
        return (x - i * sx, sx, 0.0, y + j * sy, 0.0, -sy)
    raise ValueError("no GeoTIFF georeferencing tags (33550+33922 or 34264)")


def _sample_dtype(tags: dict[int, list], endian: str) -> np.dtype:
    bits = tags.get(_TAG_BITS_PER_SAMPLE, [1])[0]
    fmt = tags.get(_TAG_SAMPLE_FORMAT, [1])[0]  # 1=uint, 2=int, 3=float
    base = {1: "u", 2: "i", 3: "f"}.get(fmt)
    if base is None or bits % 8:
        raise ValueError(f"unsupported sample format {fmt}/{bits}-bit")
    return np.dtype(f"{endian}{base}{bits // 8}")


# ------------------------------------------------------------- TIFF LZW
# TIFF 6.0 §13 LZW with the de-facto "early change": codes are packed
# MSB-first; 256=Clear, 257=EOI, entries start at 258 at 9 bits. The
# encoder widens its output one code earlier than plain LZW (next
# assignable code hits 2^w - 1), so the decoder — whose table lags the
# encoder's by exactly one entry at the corresponding stream position —
# widens at 2^w - 2. The pairing is pinned by tests that roundtrip
# streams crossing every width boundary and the 4094-entry table reset,
# plus a hand-derived known-answer bitstream.

_LZW_CLEAR, _LZW_EOI, _LZW_FIRST = 256, 257, 258
#: table-full threshold: entries are assigned up to _LZW_RESET_AT - 1
#: (4093, matching libtiff), and the encoder emits Clear instead of
#: assigning _LZW_RESET_AT itself
_LZW_RESET_AT = 4094


def _lzw_encode(raw: bytes) -> bytes:
    out = bytearray()
    acc = nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            nbits -= 8
            out.append((acc >> nbits) & 0xFF)

    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    next_code, width = _LZW_FIRST, 9
    emit(_LZW_CLEAR, width)
    omega = b""
    for b in raw:
        cand = omega + bytes([b])
        if cand in table:
            omega = cand
            continue
        emit(table[omega], width)
        if next_code == _LZW_RESET_AT:
            # table full (entry 4093 already assigned): hand the
            # decoder a Clear, then both sides restart at 9 bits
            emit(_LZW_CLEAR, width)
            table = {bytes([i]): i for i in range(256)}
            next_code, width = _LZW_FIRST, 9
        else:
            table[cand] = next_code
            next_code += 1
            if next_code == (1 << width) - 1 and width < 12:
                width += 1
        omega = bytes([b])
    if omega:
        emit(table[omega], width)
        # the decoder adds a table entry on the final data code like any
        # other, so account a phantom entry here (libtiff's post-encode
        # does the same) or EOI's width mismatches when the stream ends
        # exactly on a width boundary
        next_code += 1
        if next_code == (1 << width) - 1 and width < 12:
            width += 1
    emit(_LZW_EOI, width)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def _lzw_decode(data: bytes, expected_bytes: int | None = None) -> bytes:
    """Decode one TIFF LZW stream (one strip or tile).

    Code extraction is vectorized: the stream's bits are unpacked once,
    and codes are pulled in fixed-width runs (the width is constant
    between the deterministic early-change boundaries and any in-band
    Clear code, so each run is a single reshape+dot) — only the
    table-update loop stays per-code Python. ~20× faster than a
    read-one-code-at-a-time loop on DEM-sized tiles.

    ``expected_bytes`` is the chunk's decoded size (rows × width ×
    itemsize, known from the IFD): TIFF 6.0 §13 requires an EOI code,
    but some historical encoders omit it, so a stream that already
    produced the full chunk is accepted without one (ADVICE r9) —
    missing EOI only means truncation when the output is SHORT.
    """
    out = bytearray()
    bits = np.unpackbits(np.frombuffer(data, np.uint8)).astype(np.int32)
    nbits_total = bits.shape[0]
    pos = 0  # bit cursor
    weights = {w: (1 << np.arange(w - 1, -1, -1, dtype=np.int32)) for w in range(9, 13)}

    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    width, prev = 9, b""
    pending: list[int] = []  # codes extracted but not yet consumed
    pi = 0
    saw_eoi = False
    while True:
        if pi >= len(pending):
            # extract the next run: width is constant until the table
            # grows to 2^width - 2 entries (early change) or a Clear
            # resets it, so cap the run at the entries-to-boundary count
            if pos + width > nbits_total:
                break  # fewer than one code of bits left
            if width < 12:
                to_boundary = ((1 << width) - 2) - len(table)
            else:
                to_boundary = _LZW_RESET_AT - len(table)
            n_codes = min(
                max(1, to_boundary + 1), (nbits_total - pos) // width
            )
            if n_codes <= 0:
                break
            seg = bits[pos : pos + n_codes * width].reshape(n_codes, width)
            pending = (seg @ weights[width]).tolist()
            pi = 0
            pos += n_codes * width
        code = pending[pi]
        pi += 1
        if code == _LZW_EOI:
            saw_eoi = True
            break
        if code == _LZW_CLEAR:
            del table[_LZW_FIRST:]
            prev = b""
            # rewind unconsumed codes (extracted at the old width) and
            # re-extract at 9 bits
            pos -= (len(pending) - pi) * width
            pending, pi = [], 0
            width = 9
            continue
        if code < len(table):
            entry = table[code]
        elif code == len(table) and prev:
            entry = prev + prev[:1]  # the KwKwK self-reference case
        else:
            raise ValueError(f"corrupt LZW stream: code {code} out of range")
        out += entry
        if expected_bytes is not None and len(out) >= expected_bytes:
            # full chunk decoded: stop HERE (libtiff semantics — decode
            # exactly the strip/tile size). Trailing bits are the EOI
            # and/or byte padding; decoding them would append spurious
            # bytes (padding zeros parse as code 0 → b"\\x00") that blow
            # up np.frombuffer downstream, and an EOI-less stream (the
            # tolerated encoder quirk) has nothing left to check.
            return bytes(out[:expected_bytes])
        if prev:
            table.append(prev + entry[:1])
        # early change, one below the encoder's 2^w - 1 (see block comment)
        if len(table) == (1 << width) - 2 and width < 12:
            pos -= (len(pending) - pi) * width  # rewind unconsumed codes
            pending, pi = [], 0
            width += 1
        prev = entry
    if not saw_eoi:
        # TIFF 6.0 §13 requires an EndOfInformation code to terminate
        # every strip/tile stream; running out of bits first means the
        # payload was truncated or corrupt. (An EOI-less stream that
        # carries the full chunk returns from inside the loop above the
        # moment expected_bytes is reached — reaching HERE means the
        # output is short of the expectation, or no expectation was
        # given.) Fail with a codec-layer error rather than letting the
        # short buffer surface later as a baffling np.frombuffer/
        # reshape shape mismatch.
        raise ValueError(
            "truncated LZW stream: bitstream exhausted before EOI "
            f"(decoded {len(out)} bytes"
            + (f", expected {expected_bytes})" if expected_bytes else ")")
        )
    return bytes(out)


def _decompress_chunk(
    data: bytes,
    offset: int,
    count: int,
    compression: int,
    dtype: np.dtype,
    expected_bytes: int | None = None,
) -> np.ndarray:
    if compression == 1:
        return np.frombuffer(data, dtype, count // dtype.itemsize, offset)
    raw = data[offset : offset + count]
    if compression == 5:
        return np.frombuffer(_lzw_decode(raw, expected_bytes), dtype)
    return np.frombuffer(zlib.decompress(raw), dtype)  # 8 / legacy 32946


def decode_geotiff(data: bytes) -> tuple[np.ndarray, GeoTransform]:
    """Decode single-band GeoTIFF bytes → (2-D int32 array, geotransform).

    Pixels are returned as int32 regardless of storage width, mirroring the
    reference's ``read_band_as::<i32>()`` (``src/main.rs:180``).
    """
    if _HAVE_RASTERIO:  # pragma: no cover - only where rasterio is installed
        with rasterio.io.MemoryFile(data) as mem, mem.open() as ds:
            band = ds.read(1).astype(np.int32)
            t = ds.transform  # affine: (a, b, c, d, e, f) = (gt1, gt2, gt0, gt4, gt5, gt3)
            return band, (t.c, t.a, t.b, t.f, t.d, t.e)
    tags, endian = _parse_ifd(data)
    compression = tags.get(_TAG_COMPRESSION, [1])[0]
    if compression not in (1, 5, 8, 32946):
        raise ValueError(
            f"fallback codec reads uncompressed, LZW or DEFLATE TIFF only "
            f"(Compression={compression}; install rasterio)"
        )
    if tags.get(_TAG_SAMPLES_PER_PIXEL, [1])[0] != 1:
        raise ValueError("single-band rasters only (reference reads band 1)")
    predictor = tags.get(_TAG_PREDICTOR, [1])[0]
    if predictor not in (1, 2):
        raise ValueError(f"unsupported Predictor={predictor}")
    width = int(tags[_TAG_WIDTH][0])
    height = int(tags[_TAG_LENGTH][0])
    dtype = _sample_dtype(tags, endian)

    if _TAG_TILE_OFFSETS in tags:
        # tiled layout (TIFF 6.0 §15): tiles are laid out row-major,
        # each exactly TileLength×TileWidth samples — edge tiles carry
        # padding that is cropped after assembly
        tw = int(tags[_TAG_TILE_WIDTH][0])
        tl = int(tags[_TAG_TILE_LENGTH][0])
        offsets = tags[_TAG_TILE_OFFSETS]
        counts = tags[_TAG_TILE_BYTE_COUNTS]
        across = -(-width // tw)
        down = -(-height // tl)
        if len(offsets) != across * down or len(counts) != len(offsets):
            # must fail loudly: zip() would silently truncate a short
            # TileByteCounts and leave uninitialized band rows
            raise ValueError(
                f"tile count mismatch: {len(offsets)} offsets / "
                f"{len(counts)} byte counts for {down}x{across} grid"
            )
        band = np.empty((down * tl, across * tw), dtype=np.int32)
        for idx, (o, c) in enumerate(zip(offsets, counts)):
            tile = _decompress_chunk(
                data, o, c, compression, dtype, tl * tw * dtype.itemsize
            )
            if predictor == 2:
                # differencing resets at each tile row (row width = tw)
                tile = tile.reshape(-1, tw).cumsum(axis=1, dtype=dtype)
            ty, tx = divmod(idx, across)
            band[ty * tl : (ty + 1) * tl, tx * tw : (tx + 1) * tw] = (
                tile.reshape(tl, tw).astype(np.int32)
            )
        return band[:height, :width], _geotransform_from_tags(tags)

    offsets = tags[_TAG_STRIP_OFFSETS]
    counts = tags[_TAG_STRIP_BYTE_COUNTS]
    rps = int(tags.get(_TAG_ROWS_PER_STRIP, [height])[0]) or height
    # last strip holds only the remaining rows; a lying IFD with MORE
    # strips than ceil(height/rps) would give surplus strips a <=0 row
    # count — pass None there (strict EOI mode) so the tolerance can
    # never mask truncation behind a negative expectation
    def _strip_expected(i: int) -> int | None:
        rows_i = min(rps, height - i * rps)
        return rows_i * width * dtype.itemsize if rows_i > 0 else None

    band = np.concatenate([
        _decompress_chunk(data, o, c, compression, dtype, _strip_expected(i))
        for i, (o, c) in enumerate(zip(offsets, counts))
    ]).reshape(height, width)
    if predictor == 2:
        # horizontal differencing: samples are row-wise deltas; undo with
        # one same-dtype cumulative sum over the assembled band
        # (wraparound arithmetic per spec; strips hold whole rows)
        band = band.cumsum(axis=1, dtype=dtype)
    return band.astype(np.int32, copy=False), _geotransform_from_tags(tags)


def _predict2(rows: np.ndarray) -> np.ndarray:
    """Horizontal differencing (wraparound): first column kept, remaining
    columns become row-wise deltas."""
    return np.concatenate(
        [rows[:, :1], np.diff(rows.astype(np.int32), axis=1)], axis=1
    ).astype("<i4")


def _compress_chunk(raw: bytes, compression: str) -> bytes:
    if compression == "deflate":
        return zlib.compress(raw)
    if compression == "lzw":
        return _lzw_encode(raw)
    return raw


def encode_geotiff(
    band: np.ndarray,
    gt: GeoTransform,
    compression: str = "none",
    predictor: int = 1,
    rows_per_strip: int | None = None,
    tile_size: tuple[int, int] | None = None,
) -> bytes:
    """Encode a 2-D int32 array + geotransform as a minimal valid GeoTIFF.

    Little-endian, ModelPixelScale+ModelTiepoint georeferencing (north-up
    only: gt2 == gt4 == 0). ``compression`` is ``"none"``, ``"deflate"``
    (per-chunk zlib, Compression=8, what GDAL writes for real AW3D30
    tiles) or ``"lzw"`` (Compression=5); ``predictor=2`` applies
    horizontal differencing first. ``tile_size=(tile_width,
    tile_length)`` writes the TIFF 6.0 §15 tiled layout (dimensions must
    be multiples of 16 per spec; edge tiles zero-padded) instead of
    strips. Used by tests and the ingest benchmark to fabricate
    deterministic tiles — the synthetic analogue of the reference's S3
    download (``src/main.rs:136-161``).
    """
    if gt[2] != 0.0 or gt[4] != 0.0:
        raise ValueError("encoder supports north-up geotransforms only")
    if compression not in ("none", "deflate", "lzw"):
        raise ValueError(f"unsupported compression {compression!r}")
    if predictor not in (1, 2):
        raise ValueError(f"unsupported predictor {predictor}")
    band = np.ascontiguousarray(band, dtype="<i4")
    height, width = band.shape

    chunks: list[bytes] = []
    if tile_size is not None:
        tw, tl = tile_size
        if tw % 16 or tl % 16:
            raise ValueError("tile dimensions must be multiples of 16")
        across = -(-width // tw)
        down = -(-height // tl)
        padded = np.zeros((down * tl, across * tw), dtype="<i4")
        padded[:height, :width] = band
        for ty in range(down):
            for tx in range(across):
                rows = padded[ty * tl : (ty + 1) * tl, tx * tw : (tx + 1) * tw]
                if predictor == 2:
                    rows = _predict2(rows)
                chunks.append(_compress_chunk(rows.tobytes(), compression))
    else:
        rps = height if rows_per_strip is None else max(1, rows_per_strip)
        for y0 in range(0, height, rps):
            rows = band[y0 : y0 + rps]
            if predictor == 2:
                rows = _predict2(rows)
            chunks.append(_compress_chunk(rows.tobytes(), compression))

    entries = []  # (tag, ftype, count, raw)

    def entry(tag: int, ftype: int, values: list) -> None:
        ch, _size = _FIELD_TYPES[ftype]
        raw = struct.pack("<" + ch * len(values), *values)
        entries.append((tag, ftype, len(values), raw))

    comp_code = {"none": 1, "deflate": 8, "lzw": 5}[compression]
    n_chunks = len(chunks)
    offsets_tag = _TAG_TILE_OFFSETS if tile_size is not None else _TAG_STRIP_OFFSETS
    entry(_TAG_WIDTH, 4, [width])
    entry(_TAG_LENGTH, 4, [height])
    entry(_TAG_BITS_PER_SAMPLE, 3, [32])
    entry(_TAG_COMPRESSION, 3, [comp_code])
    entry(_TAG_PHOTOMETRIC, 3, [1])
    entry(_TAG_SAMPLES_PER_PIXEL, 3, [1])
    if tile_size is not None:
        entry(_TAG_TILE_WIDTH, 4, [tile_size[0]])
        entry(_TAG_TILE_LENGTH, 4, [tile_size[1]])
        entry(_TAG_TILE_OFFSETS, 4, [0] * n_chunks)  # patched below
        entry(_TAG_TILE_BYTE_COUNTS, 4, [len(s) for s in chunks])
    else:
        entry(_TAG_STRIP_OFFSETS, 4, [0] * n_chunks)  # patched below
        entry(
            _TAG_ROWS_PER_STRIP,
            4,
            [height if rows_per_strip is None else max(1, rows_per_strip)],
        )
        entry(_TAG_STRIP_BYTE_COUNTS, 4, [len(s) for s in chunks])
    if predictor == 2:
        entry(_TAG_PREDICTOR, 3, [2])
    entry(_TAG_SAMPLE_FORMAT, 3, [2])
    entry(_TAG_MODEL_PIXEL_SCALE, 12, [gt[1], -gt[5], 0.0])
    entry(_TAG_MODEL_TIEPOINT, 12, [0.0, 0.0, 0.0, gt[0], gt[3], 0.0])

    entries.sort(key=lambda e: e[0])  # TIFF requires ascending tag order
    n = len(entries)
    ifd_off = 8
    data_off = ifd_off + 2 + n * 12 + 4  # after entry table + next-IFD pointer

    # first pass: lay out out-of-line values to learn where chunks land
    blob_len = sum(len(raw) for _t, _f, _c, raw in entries if len(raw) > 4)
    chunks_off = data_off + blob_len
    chunk_offsets = []
    pos = chunks_off
    for s in chunks:
        chunk_offsets.append(pos)
        pos += len(s)
    # patch Strip/TileOffsets with the real positions
    patched = []
    for tag, ftype, count, raw in entries:
        if tag == offsets_tag:
            raw = struct.pack("<" + "I" * n_chunks, *chunk_offsets)
        patched.append((tag, ftype, count, raw))

    blob = bytearray()
    out = bytearray()
    out += b"II" + struct.pack("<HI", 42, ifd_off)
    out += struct.pack("<H", n)
    for tag, ftype, count, raw in patched:
        if len(raw) <= 4:
            field = raw.ljust(4, b"\0")
        else:
            field = struct.pack("<I", data_off + len(blob))
            blob += raw
        out += struct.pack("<HHI", tag, ftype, count) + field
    out += struct.pack("<I", 0)  # no next IFD
    out += blob
    for s in chunks:
        out += s
    return bytes(out)


def flatten_raster(
    band: np.ndarray, gt: GeoTransform, chunk_rows: int = 512_000
) -> Iterator[tuple[np.ndarray, np.ndarray, np.ndarray]]:
    """Raster grid → (lat, lon, elevation) column chunks, vectorized.

    The Spark-side analogue of the reference's per-cell loop
    (``src/main.rs:182-191``): ``lon = gt0 + x*gt1 + y*gt2``,
    ``lat = gt3 + x*gt4 + y*gt5`` over integer pixel indices, except
    computed as numpy outer products instead of 13M scalar iterations,
    and yielded in bounded chunks so a 3600² tile (~13M rows, ~260 MB)
    never materializes as one Arrow batch (SURVEY §7.3 item 2).

    A band with values per cell, shaped ``(h, w, k)``, yields its values
    as ``(n, k)`` rows of the same cells.
    """
    height, width = band.shape[:2]
    x = np.arange(width, dtype=np.float64)
    y = np.arange(height, dtype=np.float64)
    rows_per_chunk = max(1, chunk_rows // width)
    for y0 in range(0, height, rows_per_chunk):
        y1 = min(y0 + rows_per_chunk, height)
        yy = y[y0:y1]
        lon = (gt[0] + x * gt[1])[None, :] + (yy * gt[2])[:, None]
        lat = (x * gt[4])[None, :] + (gt[3] + yy * gt[5])[:, None]
        n = (y1 - y0) * width
        yield (
            np.broadcast_to(lat, (y1 - y0, width)).reshape(n),
            np.broadcast_to(lon, (y1 - y0, width)).reshape(n),
            band[y0:y1].reshape((n, *band.shape[2:])),
        )
