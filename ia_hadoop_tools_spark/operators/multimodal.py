"""Multimodal (image/audio/video) column operators.

Training-data-pipeline extension (BASELINE.json): media travels as an opaque
``binary`` payload column plus typed metadata (schemas.MEDIA_SCHEMA). The
Spark-side plumbing — schema, Arrow batching, ``mapInPandas`` fan-out,
partition sizing — is identical for both decoders:

- ``decoder='fake'`` (default): a DETERMINISTIC fake decoder derives
  features from the payload bytes (md5-seeded) — stable across runs, so tests
  and oracles can pin results;
- ``decoder='real'``: actual codecs. One format per modality decodes
  IN-TREE with zero third-party dependencies, so the real path runs on
  any box: image -> binary netpbm P5/P6 (``_ppm_decode`` + box resize),
  audio -> stdlib ``wave`` + numpy WAV (bucketed RMS over PCM),
  video -> YUV4MPEG2 (``_y4m_frames`` Y-plane). Everything else is
  gated behind optional imports (the warcio pattern — tests skip when a
  lib is absent): other images -> Pillow, containerized video -> PyAV.
  A MISSING LIBRARY raises ImportError at the decode site (the job should
  fail loudly, not silently emit nulls); a CORRUPT PAYLOAD is recorded
  per-record in ``decode_error`` with a null feature (one bad asset must
  not kill a 100 TB decode pass).

Scale notes: payloads dominate row size, so operators project metadata-only
where possible (Parquet column pruning keeps payload I/O at zero until a
decode actually needs bytes); decode fan-out uses ``mapInPandas`` so payload
batches stream through Arrow without materializing a partition in memory.
"""

from __future__ import annotations

import hashlib
import importlib
import io
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

FEATURE_DIM = 8

DECODE_SCHEMA = (
    "asset_id long, media_type string, feature array<float>, decode_error string"
)
FRAME_SAMPLE_SCHEMA = "asset_id long, frame_index int, frame_digest string"

_DECODERS = ("fake", "real")


def _check_decoder(decoder: str) -> None:
    if decoder not in _DECODERS:
        raise ValueError(f"decoder must be one of {_DECODERS}, got {decoder!r}")


def _optional(module: str, what: str):
    """Import an optional codec library or fail loudly with the remedy."""
    try:
        return importlib.import_module(module)
    except ImportError as e:  # pragma: no cover - depends on environment
        raise ImportError(
            f"decoder='real' for {what} requires {module.split('.')[0]}; "
            f"install it or use decoder='fake'"
        ) from e


def _fake_feature(payload: bytes | None, dim: int = FEATURE_DIM) -> list[float]:
    """Deterministic pseudo-feature: dim floats in [0,1) from md5(payload)."""
    if payload is None:
        payload = b""
    h = hashlib.md5(bytes(payload)).digest()
    return [h[i % 16] / 256.0 for i in range(dim)]


def _ppm_decode(data: bytes):
    """In-tree decoder for the binary netpbm family: P5 (PGM grayscale)
    and P6 (PPM RGB), maxval <= 255. Returns (float64 grayscale HxW array
    — ITU-R 601 integer luma, matching Pillow's 'L' conversion —, (w, h),
    and the raw HxWxC int64 channel planes scaled to maxval 255).

    Exists so ``decoder='real'`` has a codec path with ZERO third-party
    dependencies — CI boxes without Pillow still exercise the real
    decode plumbing on netpbm fixtures; other formats require Pillow.
    """
    import numpy as np

    if data[:2] not in (b"P5", b"P6"):
        raise ValueError("not a binary PGM/PPM payload")
    # header: magic, width, height, maxval as whitespace-separated tokens,
    # '#' comments legal between any of them, single whitespace after
    # maxval then raster
    tokens, pos = [], 2
    while len(tokens) < 3:
        while pos < len(data) and data[pos : pos + 1].isspace():
            pos += 1
        if data[pos : pos + 1] == b"#":
            while pos < len(data) and data[pos : pos + 1] != b"\n":
                pos += 1
            continue
        tok = bytearray()
        while pos < len(data) and not data[pos : pos + 1].isspace():
            tok += data[pos : pos + 1]
            pos += 1
        tokens.append(bytes(tok))
    pos += 1  # the single whitespace after maxval
    w, h, maxval = int(tokens[0]), int(tokens[1]), int(tokens[2])
    if w < 1 or h < 1 or not (0 < maxval <= 255):
        raise ValueError(f"unsupported PGM/PPM geometry {w}x{h}/{maxval}")
    ch = 1 if data[:2] == b"P5" else 3
    raster = np.frombuffer(data, dtype=np.uint8, count=w * h * ch, offset=pos)
    planes = raster.reshape(h, w, ch).astype(np.int64) * 255 // maxval
    if ch == 1:
        gray = planes[:, :, 0].astype(np.float64)
    else:
        # Pillow 'L': (R*299 + G*587 + B*114) / 1000, integer
        gray = (
            (
                planes[:, :, 0] * 299
                + planes[:, :, 1] * 587
                + planes[:, :, 2] * 114
            )
            // 1000
        ).astype(np.float64)
    return gray, (w, h), planes


def _box_resize(gray, width: int, height: int):
    """Area-mean (box filter) resize of a 2-D array — the in-tree twin of
    Pillow's reduce/resize for the netpbm path.

    Each target cell averages the source slice [i*src//dst,
    (i+1)*src//dst), widened to at least one pixel — so DOWNSCALING is a
    proper box mean and UPSCALING replicates nearest pixels
    (array_split would instead pad the output with empty-slice zeros:
    black bands, round-6 review finding).
    """
    import numpy as np

    def edges(src: int, dst: int):
        lo = (np.arange(dst) * src) // dst
        hi = np.maximum(((np.arange(dst) + 1) * src) // dst, lo + 1)
        return lo, hi

    ylo, yhi = edges(gray.shape[0], height)
    xlo, xhi = edges(gray.shape[1], width)
    return np.array(
        [
            [gray[ylo[r] : yhi[r], xlo[c] : xhi[c]].mean() for c in range(width)]
            for r in range(height)
        ]
    )


def _image_feature(data: bytes, dim: int) -> list[float]:
    """Grayscale, box-resize to dim x 1, normalized intensities.

    netpbm payloads (P5/P6 magic) decode IN-TREE (deterministic across
    environments, no Pillow variance); every other format uses Pillow.
    """
    if data[:2] in (b"P5", b"P6"):
        gray, _, _ = _ppm_decode(data)
        return [float(v) / 255.0 for v in _box_resize(gray, dim, 1)[0]]
    image_mod = _optional("PIL.Image", "image decode")
    img = image_mod.open(io.BytesIO(data))
    small = img.convert("L").resize((dim, 1))
    return [p / 255.0 for p in small.getdata()]


def _wav_feature(data: bytes, dim: int) -> list[float]:
    """stdlib wave + numpy: bucketed RMS over PCM16 samples, in [0, 1]."""
    import wave

    import numpy as np

    with wave.open(io.BytesIO(data), "rb") as w:
        sw, ch = w.getsampwidth(), w.getnchannels()
        raw = w.readframes(w.getnframes())
    if sw != 2:
        raise ValueError(f"unsupported WAV sample width {sw} (PCM16 only)")
    x = np.frombuffer(raw, dtype="<i2").astype(np.float64)
    if ch > 1:
        x = x[: len(x) - len(x) % ch].reshape(-1, ch).mean(axis=1)
    if len(x) == 0:
        return [0.0] * dim
    return [
        float(np.sqrt((b * b).mean()) / 32768.0) if len(b) else 0.0
        for b in np.array_split(x, dim)
    ]


def _y4m_frames(data: bytes):
    """In-tree YUV4MPEG2 (.y4m) frame iterator: yields grayscale (Y
    plane) uint8 HxW arrays. Supports C420*, C422, C444 and Cmono
    chroma taggings (the Y plane layout is identical; only the skipped
    chroma size differs). The no-dependency video twin of
    :func:`_ppm_decode` — PyAV handles every containerized format.
    """
    import numpy as np

    if not data.startswith(b"YUV4MPEG2"):
        raise ValueError("not a YUV4MPEG2 payload")
    nl = data.index(b"\n")
    w = h = None
    chroma = "420"
    for param in data[9:nl].split(b" "):
        if param[:1] == b"W":
            w = int(param[1:])
        elif param[:1] == b"H":
            h = int(param[1:])
        elif param[:1] == b"C":
            chroma = param[1:].decode("ascii", "replace")
    if not w or not h:
        raise ValueError("YUV4MPEG2 header missing W/H")
    if chroma.startswith("420"):
        frame_size = w * h * 3 // 2
    elif chroma.startswith("422"):
        frame_size = w * h * 2
    elif chroma.startswith("444"):
        frame_size = w * h * 3
    elif chroma.startswith("mono"):
        frame_size = w * h
    else:
        raise ValueError(f"unsupported y4m chroma C{chroma}")
    pos = nl + 1
    while pos < len(data):
        fl = data.index(b"\n", pos)  # FRAME line (may carry params)
        if not data[pos:fl].startswith(b"FRAME"):
            raise ValueError("malformed y4m: expected FRAME marker")
        pos = fl + 1
        if pos + w * h > len(data):
            raise ValueError("truncated y4m frame")
        yield np.frombuffer(data, np.uint8, count=w * h, offset=pos).reshape(
            h, w
        )
        pos += frame_size


def _video_feature(data: bytes, dim: int) -> list[float]:
    """First decoded frame, grayscale, dim vertical-strip means.

    YUV4MPEG2 payloads decode in-tree; containerized formats use PyAV.
    """
    import numpy as np

    if data.startswith(b"YUV4MPEG2"):
        for arr in _y4m_frames(data):
            gray = arr.astype(np.float64)
            return [
                float(s.mean()) / 255.0 if s.size else 0.0
                for s in np.array_split(gray, dim, axis=1)
            ]
        raise ValueError("no video frames decoded")
    av = _optional("av", "video decode")

    with av.open(io.BytesIO(data)) as container:
        for frame in container.decode(video=0):
            arr = frame.to_ndarray(format="gray").astype(np.float64)
            # frames narrower than dim yield EMPTY strips whose mean is
            # NaN (silent, no exception) — guard like _wav_feature does
            return [
                float(s.mean()) / 255.0 if s.size else 0.0
                for s in np.array_split(arr, dim, axis=1)
            ]
    raise ValueError("no video frames decoded")


def _real_feature(
    payload: bytes | None, media_type: str, dim: int = FEATURE_DIM
) -> list[float]:
    data = bytes(payload or b"")
    if media_type == "image":
        return _image_feature(data, dim)
    if media_type == "audio":
        return _wav_feature(data, dim)
    if media_type == "video":
        return _video_feature(data, dim)
    raise ValueError(f"unknown media_type {media_type!r}")


def decode_features(df: DataFrame, decoder: str = "fake") -> DataFrame:
    """payload -> fixed-dim feature vector (the decode/feature-extract stage).

    Input needs (asset_id, media_type, payload); output row per asset with a
    ``feature`` array<float> and a per-record ``decode_error`` (null feature
    + message for corrupt payloads on the real path; missing codec libraries
    raise instead — see module docstring).

    The REAL decode stage is CPU-bound Python: it inherits the scan's
    partitioning, and a small input in one parquet row group would decode
    on ONE core (measured exactly that at sf0.1). ``ensure_min_partitions``
    spreads the batches across the executor slots; at 100 TB the input
    already has thousands of partitions and it's a no-op.  Only
    ``decoder='real'`` spreads: for the fake decoder, shuffling every
    payload byte costs more than the md5 work it parallelizes
    (multimodal_decode x0.69/x0.75 at sf0.1).
    """
    from ia_hadoop_tools_spark.operators.textops import ensure_min_partitions

    _check_decoder(decoder)
    # project BEFORE spreading: the round-robin repartition would
    # otherwise shuffle every metadata column just to drop it next line
    df = df.select("asset_id", "media_type", "payload")
    if decoder == "real":
        df = ensure_min_partitions(df)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats, errs = [], []
            for payload, mtype in zip(pdf["payload"], pdf["media_type"]):
                if decoder == "real":
                    try:
                        feats.append(_real_feature(payload, mtype))
                        errs.append(None)
                    except ImportError:
                        raise  # missing codec lib: fail the job loudly
                    except Exception as e:
                        feats.append(None)
                        errs.append(f"{type(e).__name__}: {e}")
                else:
                    feats.append(_fake_feature(payload))
                    errs.append(None)
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "media_type": pdf["media_type"],
                    "feature": feats,
                    "decode_error": errs,
                }
            )

    return df.select("asset_id", "media_type", "payload").mapInPandas(
        run, schema=DECODE_SCHEMA
    )


def frame_sample(df: DataFrame, every_n: int = 10, decoder: str = "fake") -> DataFrame:
    """Video frame sampling: emit one row per sampled frame (UDTF shape).

    Fake decoder: 'frames' are every_n-th 1 KiB payload slice, digest =
    its md5. Real decoder (PyAV): every_n-th decoded frame, digest = md5
    of the grayscale pixel buffer; a corrupt payload contributes zero
    rows (per-record errors belong to :func:`decode_features`).
    """
    from ia_hadoop_tools_spark.operators.textops import ensure_min_partitions

    _check_decoder(decoder)
    if every_n < 1:
        # validated on the DRIVER: every_n=0 on the real path would be a
        # ZeroDivisionError swallowed by the corrupt-container catch
        # (silently empty output), and an executor-side ValueError on the
        # fake path
        raise ValueError(f"every_n must be >= 1, got {every_n}")

    def fake_frames(data: bytes):
        n_frames = max(1, len(data) // 1024)
        for i in range(0, n_frames, every_n):
            yield i, hashlib.md5(data[i * 1024 : (i + 1) * 1024]).hexdigest()

    def real_frames(data: bytes):
        if data.startswith(b"YUV4MPEG2"):  # in-tree path, no PyAV needed
            try:
                for i, gray in enumerate(_y4m_frames(data)):
                    if i % every_n == 0:
                        yield i, hashlib.md5(gray.tobytes()).hexdigest()
            except ImportError:
                raise  # missing lib fails loudly (module contract)
            except Exception:
                return  # truncated/malformed y4m: contribute no frames
            return
        av = _optional("av", "frame sampling")
        try:
            with av.open(io.BytesIO(data)) as container:
                for i, frame in enumerate(container.decode(video=0)):
                    if i % every_n == 0:
                        gray = frame.to_ndarray(format="gray")
                        yield i, hashlib.md5(gray.tobytes()).hexdigest()
        except ImportError:
            raise
        except Exception:
            return  # corrupt container: contribute no frames

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        frames = real_frames if decoder == "real" else fake_frames
        for pdf in batches:
            ids, idxs, digests = [], [], []
            for aid, payload in zip(pdf["asset_id"], pdf["payload"]):
                for i, digest in frames(bytes(payload or b"")):
                    ids.append(aid)
                    idxs.append(i)
                    digests.append(digest)
            yield pd.DataFrame(
                {"asset_id": ids, "frame_index": idxs, "frame_digest": digests}
            )

    # same real-decoder-only spread as decode_features (project first)
    src = df.filter("media_type = 'video'").select("asset_id", "payload")
    if decoder == "real":
        src = ensure_min_partitions(src)
    return src.mapInPandas(run, schema=FRAME_SAMPLE_SCHEMA)


def resize_images(df: DataFrame, width: int, height: int, decoder: str = "fake") -> DataFrame:
    """Image resize stage.

    Fake decoder passes payload through and stamps the new dimensions;
    real decoder decodes, resizes to exactly (width, height) and
    re-encodes — netpbm payloads (P5/P6) box-resize in-tree and re-emit
    binary PGM (grayscale survives the round trip without Pillow); every
    other format uses Pillow and re-encodes as PNG. Corrupt payloads
    keep their original bytes and dimensions (detectable: width/height
    unchanged) rather than failing the pass.
    """
    from ia_hadoop_tools_spark.operators.textops import ensure_min_partitions

    _check_decoder(decoder)
    if width < 1 or height < 1:
        raise ValueError(f"width/height must be >= 1, got {width}x{height}")

    def _resize_one(data: bytes) -> bytes:
        if data[:2] in (b"P5", b"P6"):
            import numpy as np

            _, _, planes = _ppm_decode(data)
            # resize each channel: P6 stays RGB (a silent luma collapse
            # would destroy color the Pillow path preserves — round-6
            # review finding), P5 stays grayscale
            resized = np.stack(
                [
                    np.rint(
                        _box_resize(
                            planes[:, :, c].astype(np.float64), width, height
                        )
                    ).clip(0, 255)
                    for c in range(planes.shape[2])
                ],
                axis=2,
            ).astype(np.uint8)
            magic = b"P5" if planes.shape[2] == 1 else b"P6"
            return (
                magic
                + b"\n%d %d\n255\n" % (width, height)
                + resized.tobytes()
            )
        image_mod = _optional("PIL.Image", "image resize")
        img = image_mod.open(io.BytesIO(data))
        buf = io.BytesIO()
        img.resize((width, height)).save(buf, format="PNG")
        return buf.getvalue()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if decoder == "real":
                payloads, widths, heights = [], [], []
                for payload, w0, h0 in zip(
                    pdf["payload"], pdf["width"], pdf["height"]
                ):
                    try:
                        payloads.append(_resize_one(bytes(payload or b"")))
                        widths.append(width)
                        heights.append(height)
                    except ImportError:
                        raise  # missing codec lib must fail loudly
                    except Exception:
                        payloads.append(payload)
                        widths.append(w0)
                        heights.append(h0)
                out = pd.DataFrame(
                    {
                        "asset_id": pdf["asset_id"],
                        "media_type": pdf["media_type"],
                        "payload": payloads,
                        "width": widths,
                        "height": heights,
                    }
                )
            else:
                out = pdf.copy()
                out["width"] = width
                out["height"] = height
            yield out

    # real-decoder-only spread — see decode_features
    src = df.filter("media_type = 'image'").select(
        "asset_id", "media_type", "payload", "width", "height"
    )
    if decoder == "real":
        src = ensure_min_partitions(src)
    return src.mapInPandas(
        run,
        schema="asset_id long, media_type string, payload binary, width int, height int",
    )
