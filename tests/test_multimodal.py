"""Multimodal plumbing: schema contract, determinism, error isolation."""

from __future__ import annotations

from rsmetacheck_spark.operators.multimodal import (
    decode_stub,
    extract_features,
    synth_media_from_docs,
)

DOCS = "/root/testdata/sf0.001/documents.parquet"


def _media(spark, n):
    docs = spark.read.parquet(DOCS).filter(f"doc_id < {n}")
    return synth_media_from_docs(docs)


def test_media_features_end_to_end(spark):
    feats = extract_features(_media(spark, 60)).collect()
    assert len(feats) == 60
    by_id = {r.media_id: r for r in feats}
    assert set(by_id) == set(range(60))
    r0 = by_id[0]
    assert r0.feat_error is None and len(r0.sha256) == 64 and r0.n_bytes > 0
    # images decode to exactly one frame; audio/video to size-derived counts
    for r in feats:
        if r.kind == "image":
            assert r.frame_count == 1
        else:
            assert r.frame_count >= 1


def test_media_determinism(spark):
    a = sorted((r.media_id, r.sha256) for r in extract_features(_media(spark, 20)).collect())
    b = sorted((r.media_id, r.sha256) for r in extract_features(_media(spark, 20)).collect())
    assert a == b


def test_decode_error_isolation(spark):
    import pandas as pd
    bad = spark.createDataFrame(
        pd.DataFrame({
            "media_id": [1, 2], "kind": ["image", "hologram"],
            "payload": [b"ok-bytes", b"x"], "width": [1, 1], "height": [1, 1],
        })
    )
    rows = {r.media_id: r for r in extract_features(bad).collect()}
    assert rows[1].feat_error is None
    assert "unknown media kind" in rows[2].feat_error
    assert rows[2].sha256 == ""  # failed row keeps defaults, task survives


def test_decode_stub_pure():
    a = decode_stub(b"abc", "image")
    assert a == decode_stub(b"abc", "image")
    assert decode_stub(b"", "audio")["mean_byte"] == 0.0


def test_payload_hex_chain_matches_python_reference():
    """The content-defined payload is exactly the md5 chain (the contract
    the DuckDB oracle rebuilds in SQL)."""
    import hashlib
    from rsmetacheck_spark.operators.multimodal import payload_hex_chain

    phex, size = payload_hex_chain(7)
    assert len(phex) == 2 * size
    h = int(hashlib.md5(b"5:7:sz").hexdigest()[:8], 16)
    assert size == 64 + h % 1985
    assert phex.startswith(hashlib.md5(b"5:7:0").hexdigest()[: min(32, 2 * size)])


def test_media_from_docs_features(spark):
    from rsmetacheck_spark.operators.multimodal import (
        extract_features,
        payload_hex_chain,
        synth_media_from_docs,
    )
    docs = spark.read.parquet(DOCS)
    feats = {r.media_id: r for r in
             extract_features(synth_media_from_docs(docs)).collect()}
    assert len(feats) == docs.count()
    phex, size = payload_hex_chain(0)
    b = bytes.fromhex(phex)
    assert feats[0].n_bytes == size and feats[0].sum_bytes == sum(b)


def test_sample_frames_fanout_and_content(spark):
    from rsmetacheck_spark.operators.multimodal import (
        FRAME_LEN, N_FRAMES, payload_hex_chain, sample_frames,
        synth_media_from_docs,
    )
    docs = spark.read.parquet(DOCS)
    media = synth_media_from_docs(docs).filter("kind = 'video'")
    frames = sample_frames(media).collect()
    by_id = {}
    for r in frames:
        by_id.setdefault(r.media_id, []).append(r)
    # every video payload in testdata exceeds one frame -> exactly N each
    assert all(len(v) == N_FRAMES for v in by_id.values())
    mid = min(by_id)
    rows = sorted(by_id[mid], key=lambda r: r.frame_idx)
    phex, size = payload_hex_chain(mid)
    b = bytes.fromhex(phex)
    step = (size - FRAME_LEN) // (N_FRAMES - 1)
    assert [r.start for r in rows] == [i * step for i in range(N_FRAMES)]
    for r in rows:
        w = b[r.start:r.start + FRAME_LEN]
        assert r.sum_bytes == sum(w) and r.n == len(w)


def test_sample_frames_error_isolation(spark):
    import pandas as pd
    from rsmetacheck_spark.operators.multimodal import MEDIA_SCHEMA, sample_frames

    df = spark.createDataFrame(
        pd.DataFrame({
            "media_id": [1, 2],
            "kind": ["video", "video"],
            "payload": [b"ok-bytes" * 20, None],  # row 2: bad payload
            "width": [8, 8], "height": [8, 8],
        }),
        MEDIA_SCHEMA,
    )
    rows = sample_frames(df).collect()
    good = [r for r in rows if r.media_id == 1]
    bad = [r for r in rows if r.media_id == 2]
    assert good and all(r.frame_error is None for r in good)
    assert len(bad) == 1 and bad[0].frame_idx == -1 and bad[0].frame_error
