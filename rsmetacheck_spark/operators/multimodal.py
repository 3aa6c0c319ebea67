"""Multimodal column plumbing: opaque binary payloads + typed metadata,
processed by Arrow-batched mapInPandas.

The image/audio codecs are not available, so the DECODE step is stubbed
(deterministic fake features behind `decode_stub`) — but everything
Spark-side is real and tested: the schema contract, batch iteration,
per-row error isolation (the reference's detector-loop semantics,
detect_pitfalls_main.py:356-358), and the partition-parallel execution
shape. Swapping `decode_stub` for PIL/librosa is a one-function change.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

MEDIA_SCHEMA = (
    "media_id long, kind string, payload binary, width int, height int"
)

FEATURE_COLS = (
    "n_bytes int, sha256 string, sum_bytes long, mean_byte double, "
    "frame_count int, feat_error string"
)


def decode_stub(payload: bytes, kind: str) -> dict:
    """Deterministic fake decode: byte stats + a fake frame count."""
    if not isinstance(payload, (bytes, bytearray, memoryview)):
        raise ValueError("payload must be binary")
    b = bytes(payload)
    if kind not in ("image", "audio", "video"):
        raise ValueError(f"unknown media kind: {kind}")
    return {
        "n_bytes": len(b),
        # checksum is over the payload's lowercase-hex TEXT so an ANSI-SQL
        # oracle (DuckDB sha256 is VARCHAR-only) can recompute it
        "sha256": hashlib.sha256(b.hex().encode()).hexdigest(),
        "sum_bytes": sum(b),
        "mean_byte": round(sum(b) / len(b), 6) if b else 0.0,
        "frame_count": 1 if kind == "image" else max(len(b) // 256, 1),
    }


def extract_features(df: DataFrame) -> DataFrame:
    """media table -> features; Arrow batches, per-row error isolation."""
    in_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            out = {
                "n_bytes": [0] * n, "sha256": [""] * n, "sum_bytes": [0] * n,
                "mean_byte": [0.0] * n, "frame_count": [0] * n,
                "feat_error": [None] * n,
            }
            for i, (payload, kind) in enumerate(zip(pdf["payload"], pdf["kind"])):
                try:
                    feats = decode_stub(payload, kind)
                    for k, v in feats.items():
                        out[k][i] = v
                except Exception as exc:
                    out["feat_error"][i] = f"{type(exc).__name__}: {exc}"
            for k, v in out.items():
                pdf[k] = v
            yield pdf.drop(columns=["payload"])

    out_schema = (
        ", ".join(
            f"{f.name} {f.dataType.simpleString()}"
            for f in df.schema.fields if f.name != "payload"
        )
        + ", " + FEATURE_COLS
    )
    return df.mapInPandas(run, schema=out_schema)


# ---------------------------------------------------------------------------
# Content-defined deterministic media derived from the documents table:
# payload = md5-chain bytes keyed by (seed, media_id), so an ANSI-SQL oracle
# can rebuild the exact payload hex and cross-check every feature — this is
# what upgrades mm01 from a rows-only check to a fully oracle-checked query.
# ---------------------------------------------------------------------------

MEDIA_SEED = 5


def payload_hex_chain(media_id: int) -> tuple[str, int]:
    """(payload_hex, size): size = 64 + (md5-int % 1985); payload = the
    first `size` bytes of concat(md5(f"{MEDIA_SEED}:{id}:{block}") digests)."""
    h = int(hashlib.md5(f"{MEDIA_SEED}:{media_id}:sz".encode()).hexdigest()[:8], 16)
    size = 64 + h % 1985
    n_blk = (size + 15) // 16
    hexfull = "".join(
        hashlib.md5(f"{MEDIA_SEED}:{media_id}:{b}".encode()).hexdigest()
        for b in range(n_blk)
    )
    return hexfull[: 2 * size], size


def synth_media_from_docs(docs: DataFrame) -> DataFrame:
    """documents -> media rows (media_id = doc_id) with md5-chain payloads."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["doc_id"]:
                mid = int(i)
                phex, size = payload_hex_chain(mid)
                kind = ("image", "audio", "video")[mid % 3]
                w = 8 + int(hashlib.md5(f"{MEDIA_SEED}:{mid}:w".encode()).hexdigest()[:8], 16) % 504
                h = 8 + int(hashlib.md5(f"{MEDIA_SEED}:{mid}:h".encode()).hexdigest()[:8], 16) % 504
                rows.append((mid, kind, bytes.fromhex(phex), w, h))
            yield pd.DataFrame(
                rows, columns=["media_id", "kind", "payload", "width", "height"]
            )

    return docs.select("doc_id").mapInPandas(gen, MEDIA_SCHEMA)


# ---------------------------------------------------------------------------
# Frame sampling: the 1-row -> N-rows mapInPandas fan-out shape (mm01's
# feature stage is 1:1). Frames are fixed-length byte windows at
# integer-spaced offsets — a deterministic stand-in for video frame
# extraction; a real deployment swaps the window slice for a decoder call
# with the same emit-per-frame contract.
# ---------------------------------------------------------------------------

FRAME_LEN = 64
N_FRAMES = 4

FRAME_SCHEMA = (
    "media_id long, frame_idx int, start int, n int, sum_bytes long, "
    "frame_md5 string, frame_error string"
)


def sample_frames(df: DataFrame) -> DataFrame:
    """media rows -> up to N_FRAMES FRAME_LEN-byte windows per payload.

    Offsets are integer-arithmetic (i * ((size - FRAME_LEN) // (N-1))) so
    an ANSI-SQL oracle reproduces them exactly; payloads at or under one
    frame yield a single whole-payload frame. Per-row error isolation:
    a bad payload emits one frame_idx=-1 row with frame_error set."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [
            "media_id", "frame_idx", "start", "n", "sum_bytes",
            "frame_md5", "frame_error",
        ]
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                try:
                    b = bytes(r["payload"])
                    size = len(b)
                    if size <= FRAME_LEN:
                        starts = [0]
                    else:
                        step = (size - FRAME_LEN) // (N_FRAMES - 1)
                        starts = [i * step for i in range(N_FRAMES)]
                    for idx, st in enumerate(starts):
                        w = b[st:st + FRAME_LEN]
                        rows.append((
                            int(r["media_id"]), idx, st, len(w), sum(w),
                            hashlib.md5(w.hex().encode()).hexdigest(), None,
                        ))
                except Exception as e:  # noqa: BLE001 — reference-style isolation
                    rows.append((
                        int(r["media_id"]), -1, 0, 0, 0, None,
                        f"{type(e).__name__}: {e}",
                    ))
            yield pd.DataFrame(rows, columns=cols)

    return df.mapInPandas(run, FRAME_SCHEMA)


# ---------------------------------------------------------------------------
# Resize: stride decimation of the payload plus scaled dimensions — the
# deterministic stand-in for image downscaling (a real deployment swaps
# the byte stride for PIL.Image.resize with the same 1:1 contract).
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Patch grid: ViT-style patchify — the payload is treated as a row-major
# byte matrix (PATCH_ROW_W bytes per pixel-row, ragged tail dropped) and
# cut into non-overlapping PATCH×PATCH tiles, one output row per tile.
# This is the 2-D slicing contract a vision tokenizer needs; a real
# deployment swaps the byte gather for decoded-pixel gather with the same
# (media_id, gx, gy) emit shape.
# ---------------------------------------------------------------------------

PATCH = 8        # tile side, bytes
PATCH_ROW_W = 16  # matrix row width, bytes

PATCH_SCHEMA = (
    "media_id long, gx int, gy int, n int, sum_bytes long, "
    "patch_md5 string, patch_error string"
)


def patch_grid(df: DataFrame) -> DataFrame:
    """media rows -> one row per PATCH×PATCH tile of the byte matrix.

    Tile (gx, gy) gathers bytes [(gy*P+ry)*row_w + gx*P, +P) for
    ry in 0..P-1 — pure integer arithmetic, so an ANSI-SQL oracle can
    rebuild every tile from the payload hex. The checksum is over the
    tile bytes' hex text (DuckDB md5 is VARCHAR-only). Payloads shorter
    than one full tile row-band emit nothing; a bad payload emits one
    gx=-1 row with patch_error set (reference-style isolation,
    detect_pitfalls_main.py:356-358)."""
    patch, row_w = PATCH, PATCH_ROW_W
    nx = row_w // patch

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [
            "media_id", "gx", "gy", "n", "sum_bytes",
            "patch_md5", "patch_error",
        ]
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                try:
                    b = bytes(r["payload"])
                    ny = (len(b) // row_w) // patch
                    for gy in range(ny):
                        for gx in range(nx):
                            t = b"".join(
                                b[(gy * patch + ry) * row_w + gx * patch:
                                  (gy * patch + ry) * row_w + gx * patch + patch]
                                for ry in range(patch)
                            )
                            rows.append((
                                int(r["media_id"]), gx, gy, len(t), sum(t),
                                hashlib.md5(t.hex().encode()).hexdigest(),
                                None,
                            ))
                except Exception as e:  # noqa: BLE001 — reference-style isolation
                    rows.append((
                        int(r["media_id"]), -1, -1, 0, 0, None,
                        f"{type(e).__name__}: {e}",
                    ))
            yield pd.DataFrame(rows, columns=cols)

    return df.mapInPandas(run, PATCH_SCHEMA)


RESIZE_STRIDE = 4

RESIZED_SCHEMA = (
    "media_id long, kind string, out_w int, out_h int, out_bytes int, "
    "resized_md5 string, resize_error string"
)


def resize_media(df: DataFrame) -> DataFrame:
    """media rows -> decimated payload features: every stride-th byte
    (positions 0, stride, 2*stride, ...), dims divided by stride (floor,
    min 1), stride = RESIZE_STRIDE. The checksum is over the decimated
    bytes' hex text so an ANSI-SQL oracle can rebuild it character-exactly."""
    stride = RESIZE_STRIDE

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [
            "media_id", "kind", "out_w", "out_h", "out_bytes",
            "resized_md5", "resize_error",
        ]
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                try:
                    b = bytes(r["payload"])[::stride]
                    rows.append((
                        int(r["media_id"]), r["kind"],
                        max(int(r["width"]) // stride, 1),
                        max(int(r["height"]) // stride, 1),
                        len(b), hashlib.md5(b.hex().encode()).hexdigest(),
                        None,
                    ))
                except Exception as e:  # noqa: BLE001 — reference-style isolation
                    rows.append((
                        int(r["media_id"]), r.get("kind"), 0, 0, 0, None,
                        f"{type(e).__name__}: {e}",
                    ))
            yield pd.DataFrame(rows, columns=cols)

    return df.mapInPandas(run, RESIZED_SCHEMA)
