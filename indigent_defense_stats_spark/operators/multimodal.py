"""Multimodal columns over the span documents (training-data layer).

The span grammar interleaves ``kind='media'`` spans (mugshot and
document-image refs — reference artifact:
/root/reference/resources/test_files/test_123456.html:24-26,
``ViewMugshots.aspx``) with text.  This module provides the pipeline
plumbing a 100 TB multimodal corpus needs:

- :func:`media_table` — explode media spans into a typed media table
  (native ops; media treated as opaque refs + typed metadata)
- :func:`decode_media` — metadata extraction behind ``mapInPandas``.
  The default 'stub' fabricates deterministic metadata from the ref
  hash (no bytes needed); ``decoder='real'`` does a REAL decode of
  the payload bytes via the pure-stdlib codecs: PNG (functions/
  png.py) and baseline JPEG (functions/jpeg.py), sniffed by magic.
  Anything else raises ValueError naming the format — quarantine,
  not crash.
- :func:`frame_sample` — every-nth-frame sampling rows via native
  ``sequence``/``explode`` (no UDF) over stub frame counts.

Scale notes: decode is per-item local (zero shuffle); media tables
should be bucketed by doc_id so media joins back to text co-partition.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..functions.hashing import xxh64_int

DECODE_SCHEMA = (
    "doc_id string, media_ref string, media_kind string,"
    " width int, height int, n_bytes long, format string"
)


def media_table(documents: DataFrame) -> DataFrame:
    """documents(spans) -> (doc_id, county, media_ref, media_kind, offset)."""
    s = documents.select(
        "doc_id", "county", F.explode("spans").alias("s")
    ).filter(F.col("s.kind") == "media")
    kind = (
        F.when(F.col("s.media_ref").contains("ViewMugshots"), "mugshot")
        .when(F.col("s.media_ref").contains("ViewDocument"), "document_image")
        .otherwise("unknown")
    )
    return s.select(
        "doc_id",
        "county",
        F.col("s.media_ref").alias("media_ref"),
        kind.alias("media_kind"),
        F.col("s.offset").alias("offset"),
    )


def decode_media(media: DataFrame, decoder: str = "stub") -> DataFrame:
    """Attach decoded metadata.  'stub' fabricates deterministic values
    from the ref hash (works on the metadata-only media table);
    'real' decodes actual bytes from a ``content`` column (PNG and
    baseline JPEG — see the media_payloads_* generators) —
    width/height/format come from the decoded payload, not a header
    sniff; any other magic raises ValueError."""
    if decoder == "real":
        if "content" not in media.columns:
            raise ValueError(
                "decoder='real' decodes actual bytes: pass a payloads"
                " DataFrame with a binary 'content' column"
                " (media_payloads_png), not the metadata-only media table"
            )

        def _real_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            from ..functions import jpeg as jpegmod
            from ..functions import png as pngmod

            for pdf in batches:
                if not len(pdf):
                    continue
                ws, hs, nbytes, fmts = [], [], [], []
                for c in pdf["content"]:
                    c = bytes(c)
                    if c[:8] == pngmod._SIG:
                        w, h, _ct, _px = pngmod.decode_png(c)
                        fmts.append("png")
                    elif c[:2] == b"\xff\xd8":
                        w, h, _nc, _px = jpegmod.decode_jpeg(c)
                        fmts.append("jpeg")
                    else:
                        raise ValueError(
                            "decoder='real' supports PNG and baseline"
                            " JPEG in this container (libjpeg absent);"
                            f" got magic {c[:4]!r}"
                        )
                    ws.append(w)
                    hs.append(h)
                    nbytes.append(len(c))
                yield pd.DataFrame(
                    {
                        "doc_id": pdf["doc_id"],
                        "media_ref": pdf["media_ref"],
                        "media_kind": pdf["media_kind"],
                        "width": pd.Series(ws, dtype="int32"),
                        "height": pd.Series(hs, dtype="int32"),
                        "n_bytes": pd.Series(nbytes, dtype="int64"),
                        "format": fmts,
                    }
                )

        return media.select(
            "doc_id", "media_ref", "media_kind", "content"
        ).mapInPandas(_real_batch, schema=DECODE_SCHEMA)

    def _decode_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            h = pdf["media_ref"].map(lambda r: xxh64_int(r.encode("utf-8")))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_ref": pdf["media_ref"],
                    "media_kind": pdf["media_kind"],
                    "width": (64 + (h % 512)).astype("int32"),
                    "height": (64 + ((h // 512) % 512)).astype("int32"),
                    "n_bytes": (1024 + (h % 100_000)).astype("int64"),
                    "format": pdf["media_kind"].map(
                        lambda k: "jpeg" if k == "mugshot" else "tiff"
                    ),
                }
            )

    return media.select("doc_id", "media_ref", "media_kind").mapInPandas(
        _decode_batch, schema=DECODE_SCHEMA
    )


_MAGIC = {"jpeg": b"\xff\xd8", "tiff": b"II*\x00"}
PAYLOAD_SCHEMA = (
    "doc_id string, media_ref string, media_kind string, format string,"
    " content binary"
)
DIMS_SCHEMA = "doc_id string, media_ref string, width int, height int"


def media_payloads(decoded: DataFrame, max_body: int = 4096) -> DataFrame:
    """Opaque ``binary`` payload column for each media item (the
    brief's image/audio/video-as-binary model).  Payload = format magic
    + 2x2-byte big-endian (width, height) header + deterministic body
    bytes seeded from the ref hash — so downstream binary-parsing UDFs
    do real work against real bytes.  In production this stage is the
    media fetch (S3/blob get) and content is the actual file."""
    import numpy as np

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            content = []
            for ref, w, h, n, fmt in zip(
                pdf["media_ref"], pdf["width"], pdf["height"],
                pdf["n_bytes"], pdf["format"],
            ):
                rnd = np.random.RandomState(
                    xxh64_int(ref.encode("utf-8")) % (2**31)
                )
                body = rnd.bytes(int(min(n, max_body)))
                content.append(
                    _MAGIC[fmt]
                    + int(w).to_bytes(2, "big")
                    + int(h).to_bytes(2, "big")
                    + body
                )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_ref": pdf["media_ref"],
                    "media_kind": pdf["media_kind"],
                    "format": pdf["format"],
                    "content": content,
                }
            )

    return decoded.mapInPandas(gen, schema=PAYLOAD_SCHEMA)


# PNG payload grammar (all arithmetic in doc_id, so the DuckDB oracle
# recomputes decoded pixel statistics WITHOUT parsing any binary):
#   w  = 8 + d % 25,  h = 8 + (d // 25) % 25
#   channels = 3 (RGB) when d % 7 == 0 else 1 (greyscale)
#   pixel[i] = (d*7 + i*13) % 256   for i in row-major sample order
#   scanline filter for row y = (d + y) % 5  -> every decode exercises
#   all five PNG filter reversals across the corpus
PNG_DIM_MOD = 25
PNG_RGB_EVERY = 7


def media_payloads_png(decoded: DataFrame) -> DataFrame:
    """REAL PNG payloads (zlib-compressed, CRC-checked, filtered
    scanlines) with doc_id-arithmetic pixels — the generator feeding
    :func:`decode_media(decoder='real')`.  format column is 'png'."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from ..functions import png as pngmod

        for pdf in batches:
            if not len(pdf):
                continue
            content = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                w = 8 + d % PNG_DIM_MOD
                h = 8 + (d // PNG_DIM_MOD) % PNG_DIM_MOD
                ct = 2 if d % PNG_RGB_EVERY == 0 else 0
                n = w * h * (3 if ct == 2 else 1)
                i = np.arange(n, dtype=np.int64)
                px = ((d * 7 + i * 13) % 256).astype(np.uint8).tobytes()
                content.append(
                    pngmod.encode_png(
                        w, h, px, color_type=ct,
                        filter_choice=lambda y, d=d: (d + y) % 5,
                    )
                )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_ref": pdf["media_ref"],
                    "media_kind": pdf["media_kind"],
                    "format": ["png"] * len(pdf),
                    "content": content,
                }
            )

    return decoded.select(
        "doc_id", "media_ref", "media_kind"
    ).mapInPandas(gen, schema=PAYLOAD_SCHEMA)


def parse_dimensions(payloads: DataFrame) -> DataFrame:
    """Binary-parsing UDF: recover (width, height) from the payload
    header — the real shape of an image-metadata sniffer (exif/SOF
    scan) over an opaque binary column."""

    def sniff(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            ws, hs = [], []
            for c in pdf["content"]:
                c = bytes(c)
                hdr = 2 if c[:2] == _MAGIC["jpeg"] else 4
                ws.append(int.from_bytes(c[hdr: hdr + 2], "big"))
                hs.append(int.from_bytes(c[hdr + 2: hdr + 4], "big"))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_ref": pdf["media_ref"],
                    "width": ws,
                    "height": hs,
                }
            )

    return payloads.mapInPandas(sniff, schema=DIMS_SCHEMA)


def extract_features(payloads: DataFrame, dim: int = 16) -> DataFrame:
    """Feature extraction over binary content: deterministic byte-bucket
    features normalized to unit length (numpy over the whole Arrow
    batch).  This is the model-inference integration point — swap the
    histogram for an ONNX/torch forward pass in production; schema,
    batching and partition spread are identical."""
    import numpy as np

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            out = []
            for c in pdf["content"]:
                a = np.frombuffer(c, dtype=np.uint8).astype(np.float64)
                pad = (-len(a)) % dim
                if pad:
                    a = np.pad(a, (0, pad))
                v = a.reshape(-1, dim).sum(axis=0)
                n = np.linalg.norm(v)
                out.append((v / n if n else v).astype(np.float32).tolist())
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_ref": pdf["media_ref"],
                    "embedding": out,
                }
            )

    return payloads.mapInPandas(
        feats, schema="doc_id string, media_ref string, embedding array<float>"
    )


def resize_media(
    payloads: DataFrame, scale: float = 0.5, decoder: str = "stub"
) -> DataFrame:
    """Binary-in/binary-out resize.  'real' decodes PNG payloads with
    the stdlib codec, resamples pixels by nearest neighbor
    (src = (dst * src_dim) // dst_dim — integer arithmetic, so the
    DuckDB oracle can replay every output pixel), and re-encodes; the
    'stub' rewrites the synthetic header dimensions and truncates the
    body proportionally — same parse -> transform -> re-encode
    contract, no pixel decode."""
    if decoder == "real":

        def rz_real(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            import numpy as np

            from ..functions import png as pngmod

            for pdf in batches:
                if not len(pdf):
                    continue
                out = []
                for c in pdf["content"]:
                    w, h, ct, px = pngmod.decode_png(bytes(c))
                    ch = 3 if ct == 2 else 1
                    a = np.frombuffer(px, dtype=np.uint8).reshape(h, w, ch)
                    nw, nh = max(1, int(w * scale)), max(1, int(h * scale))
                    ys = (np.arange(nh) * h) // nh
                    xs = (np.arange(nw) * w) // nw
                    out.append(
                        pngmod.encode_png(
                            nw, nh, a[ys][:, xs].tobytes(), color_type=ct
                        )
                    )
                yield pd.DataFrame(
                    {
                        "doc_id": pdf["doc_id"],
                        "media_ref": pdf["media_ref"],
                        "media_kind": pdf["media_kind"],
                        "format": pdf["format"],
                        "content": out,
                    }
                )

        return payloads.mapInPandas(rz_real, schema=PAYLOAD_SCHEMA)

    def rz(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            out = []
            for c in pdf["content"]:
                c = bytes(c)
                hdr = 2 if c[:2] == _MAGIC["jpeg"] else 4
                w = int.from_bytes(c[hdr: hdr + 2], "big")
                h = int.from_bytes(c[hdr + 2: hdr + 4], "big")
                nw, nh = max(1, int(w * scale)), max(1, int(h * scale))
                body = c[hdr + 4:]
                body = body[: max(1, int(len(body) * scale * scale))]
                out.append(
                    c[:hdr]
                    + nw.to_bytes(2, "big")
                    + nh.to_bytes(2, "big")
                    + body
                )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_ref": pdf["media_ref"],
                    "media_kind": pdf["media_kind"],
                    "format": pdf["format"],
                    "content": out,
                }
            )

    return payloads.mapInPandas(rz, schema=PAYLOAD_SCHEMA)


PHASH_BODY = 512  # payload body bytes (64 cells x 8 bytes)
PHASH_CELLS = 64  # aHash grid: 8x8 cells -> 64-bit hash
PHASH_GROUPS = 100  # near-dup group mixing for the arithmetic body
PHASH_HAM_MAX = 8  # Hamming threshold for a verified near-dup pair


def media_payloads_arith(decoded: DataFrame, body_len: int = PHASH_BODY) -> DataFrame:
    """Payloads whose body bytes are ARITHMETIC in doc_id (vs the
    xxh64-seeded :func:`media_payloads`): byte[i] = (g*131 + i*17) mod
    256 with g = doc_id mod PHASH_GROUPS, plus a single per-doc
    perturbation byte — so documents sharing g are near-identical
    images and the DuckDB oracle can recompute every byte.  The
    binary pack/parse contract is identical to media_payloads."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        import numpy as np

        i = np.arange(body_len, dtype=np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            content = []
            for doc_id, w, h, fmt in zip(
                pdf["doc_id"], pdf["width"], pdf["height"], pdf["format"]
            ):
                d = int(doc_id)
                g = d % PHASH_GROUPS
                # per-(group, cell) md5 base values decorrelate the
                # aHash bit patterns ACROSS groups (measured: min
                # cross-group Hamming 20/64; arithmetic-only bodies
                # left aliased groups within the verify threshold);
                # same md5-int convention as textstats.md5_int, so
                # the oracle replays every byte in SQL
                base = np.array(
                    [
                        int(
                            hashlib.md5(f"c:{g}:{c}".encode()).hexdigest()[:15],
                            16,
                        )
                        % 256
                        for c in range(PHASH_CELLS)
                    ],
                    dtype=np.int64,
                )
                body = (base[i // (body_len // PHASH_CELLS)] + i * 17) % 256
                body = body.copy()
                body[d % body_len] = (
                    body[d % body_len] + (d // PHASH_GROUPS) % 5
                ) % 256
                content.append(
                    _MAGIC[fmt]
                    + int(w).to_bytes(2, "big")
                    + int(h).to_bytes(2, "big")
                    + bytes(body.astype(np.uint8))
                )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_ref": pdf["media_ref"],
                    "media_kind": pdf["media_kind"],
                    "format": pdf["format"],
                    "content": content,
                }
            )

    return decoded.mapInPandas(gen, schema=PAYLOAD_SCHEMA)


def perceptual_hash(payloads: DataFrame) -> DataFrame:
    """64-bit aHash over the binary payload body — the image near-dup
    fingerprint (average hash: downsample to an 8x8 grid, bit = cell
    above the global mean; in production the grid comes from the
    PIL-decoded, resized grayscale image — here from the raw body
    bytes, same contract).  The mean comparison is kept INTEGER
    (64*cell_sum > total_sum), so the hash is exactly replayable.
    Returns (doc_id BIGINT, hi, lo): the hash split into two 32-bit
    halves so band extraction and XOR stay sign-free in BIGINTs."""

    def ph(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            if not len(pdf):
                continue
            his, los = [], []
            for c in pdf["content"]:
                c = bytes(c)
                hdr = 2 if c[:2] == _MAGIC["jpeg"] else 4
                body = np.frombuffer(c, dtype=np.uint8)[hdr + 4:]
                # zero-pad to a cell multiple: media_payloads bodies
                # are min(n_bytes, 4096) bytes — rarely divisible by
                # 64 — and an unpadded reshape raised ValueError
                # inside the task (review finding); padding is the
                # standard downsample-grid edge fill
                pad = (-len(body)) % PHASH_CELLS
                if pad:
                    body = np.pad(body, (0, pad))
                cells = body.astype(np.int64).reshape(PHASH_CELLS, -1).sum(
                    axis=1
                )
                bits = (PHASH_CELLS * cells > cells.sum()).astype(np.int64)
                hi = int((bits[:32] << np.arange(31, -1, -1)).sum())
                lo = int((bits[32:] << np.arange(31, -1, -1)).sum())
                his.append(hi)
                los.append(lo)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "hi": his,
                    "lo": los,
                }
            )

    return payloads.mapInPandas(ph, schema="doc_id long, hi long, lo long")


PIXSTATS_SCHEMA = (
    "doc_id string, width int, height int, channels int,"
    " pixel_sum long, pixel_min int, pixel_max int"
)


def png_pixel_stats(payloads: DataFrame) -> DataFrame:
    """REAL-decode PNG payloads and aggregate per-image pixel
    statistics (exact integers).  Because :func:`media_payloads_png`
    pixels are arithmetic in doc_id, a SQL oracle recomputes every
    statistic without touching a byte of PNG — any defect anywhere in
    the codec chain (chunk framing, CRC, inflate, any of the five
    defilters, sample order) shifts a sum and hash-mismatches."""

    def st(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from ..functions import png as pngmod

        for pdf in batches:
            if not len(pdf):
                continue
            rows = []
            for doc_id, c in zip(pdf["doc_id"], pdf["content"]):
                w, h, ct, px = pngmod.decode_png(bytes(c))
                a = np.frombuffer(px, dtype=np.uint8).astype(np.int64)
                rows.append(
                    (
                        doc_id,
                        w,
                        h,
                        3 if ct == 2 else 1,
                        int(a.sum()),
                        int(a.min()),
                        int(a.max()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "width", "height", "channels",
                    "pixel_sum", "pixel_min", "pixel_max",
                ],
            )

    return payloads.mapInPandas(st, schema=PIXSTATS_SCHEMA)


# JPEG flat-tile grammar: image = (JPEG_BW_MOD-bounded) grid of 8x8
# constant tiles; tile k of doc d carries value (d*11 + k*37) % 256.
# With functions/jpeg.py's unit quantization tables a constant block
# round-trips BIT-EXACTLY through the lossy pipeline (DC-only block,
# see the codec's exactness contract), so the decoded pixel statistics
# are pure doc_id arithmetic — SQL-replayable like the PNG grammar.
JPEG_BW_MOD = 3
JPEG_TILE_A = 11
JPEG_TILE_B = 37


def media_payloads_jpeg(decoded: DataFrame) -> DataFrame:
    """REAL baseline-JPEG payloads (Huffman entropy coding, FDCT,
    markers, byte stuffing) with flat-tile doc_id-arithmetic pixels —
    the generator feeding :func:`decode_media(decoder='real')` and
    :func:`jpeg_pixel_stats`.  format column is 'jpeg'."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from ..functions import jpeg as jpegmod

        for pdf in batches:
            if not len(pdf):
                continue
            content = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                bw = 1 + d % JPEG_BW_MOD
                bh = 1 + (d // JPEG_BW_MOD) % JPEG_BW_MOD
                tiles = (
                    (d * JPEG_TILE_A + np.arange(bw * bh) * JPEG_TILE_B) % 256
                ).astype(np.uint8)
                img = np.kron(
                    tiles.reshape(bh, bw), np.ones((8, 8), dtype=np.uint8)
                )
                content.append(
                    jpegmod.encode_jpeg(bw * 8, bh * 8, img.tobytes())
                )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_ref": pdf["media_ref"],
                    "media_kind": pdf["media_kind"],
                    "format": ["jpeg"] * len(pdf),
                    "content": content,
                }
            )

    return decoded.select(
        "doc_id", "media_ref", "media_kind"
    ).mapInPandas(gen, schema=PAYLOAD_SCHEMA)


def jpeg_pixel_stats(payloads: DataFrame) -> DataFrame:
    """REAL-decode JPEG payloads and aggregate per-image pixel
    statistics (exact integers — see media_payloads_jpeg's flat-tile
    exactness contract).  Any defect in the codec chain (marker
    framing, DHT canonical build, entropy unstuffing, dequant, IDCT,
    DC prediction) shifts a sum and hash-mismatches the oracle."""

    def st(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from ..functions import jpeg as jpegmod

        for pdf in batches:
            if not len(pdf):
                continue
            rows = []
            for doc_id, c in zip(pdf["doc_id"], pdf["content"]):
                w, h, nc, px = jpegmod.decode_jpeg(bytes(c))
                a = np.frombuffer(px, dtype=np.uint8).astype(np.int64)
                rows.append(
                    (doc_id, w, h, nc, int(a.sum()), int(a.min()), int(a.max()))
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "width", "height", "channels",
                    "pixel_sum", "pixel_min", "pixel_max",
                ],
            )

    return payloads.mapInPandas(st, schema=PIXSTATS_SCHEMA)


def frame_sample(decoded: DataFrame, every_n: int = 10) -> DataFrame:
    """Every-nth-frame sample rows (video-shaped path): frame count is
    fabricated from n_bytes by the stub; the sequence/explode plumbing
    is the real thing."""
    n_frames = (F.col("n_bytes") / 1000).cast("int") + 1
    return decoded.select(
        "doc_id",
        "media_ref",
        F.explode(
            F.sequence(F.lit(0), n_frames - 1, F.lit(every_n))
        ).alias("frame_idx"),
    )
