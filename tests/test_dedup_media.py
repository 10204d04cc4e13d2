"""One-call media dedup (`multimodal.dedup_media_corpus`): stage
ordering (byte collapse BEFORE decode), attribution stages, accounting
reconciliation (input = kept + byte + percept + index + dropped), both
modalities, and the optional persisted-index probe/extend."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest

from hive_serde_schema_gen_spark.operators.multimodal import (
    _bmp_encode,
    _video_encode,
    _wav_encode,
    dedup_media_corpus,
)


@pytest.fixture()
def idx_dir():
    root = tempfile.mkdtemp(prefix="media_dedup_")
    yield os.path.join(root, "index")
    shutil.rmtree(root, ignore_errors=True)


def _image_rows():
    base = _bmp_encode(1, b"the one true image body, with pixels")
    return [
        (1, base),
        (2, base),                     # byte-identical copy -> 'byte'
        (3, _bmp_encode(1, b"the one true image body, with pixelz")),
        # ^ one byte off same construction -> perceptual near-dup of 1
        (4, _bmp_encode(4, b"a completely different image payload")),
        (5, b"NOTABMP-garbage"),       # decode failure -> dropped
    ]


def test_image_stages_and_reconciliation(spark):
    acct: list = []
    d = spark.createDataFrame(_image_rows(), "img_id long, payload binary")
    kept, attr, dropped = dedup_media_corpus(
        d, "image", accounting=acct
    )
    kept_ids = {r["img_id"] for r in kept.collect()}
    attr_rows = {
        r["img_id"]: (r["dup_of"], r["stage"]) for r in attr.collect()
    }
    drop_ids = {r["img_id"] for r in dropped.collect()}
    assert attr_rows[2] == (1, "byte")
    assert attr_rows.get(3, (None, None))[1] in ("percept", None)
    assert drop_ids == {5}
    # reconciliation: every input id lands in exactly one bucket
    assert kept_ids | set(attr_rows) | drop_ids == {1, 2, 3, 4, 5}
    assert not (kept_ids & set(attr_rows))
    counts = dict(acct)
    assert counts["input"] == 5
    assert counts["byte_unique"] == 4       # id 2 collapsed pre-decode
    assert counts["decoded"] == 3           # id 5 dropped at decode
    assert counts["dropped"] == 1           # ... and accounted as such
    assert counts["kept"] == len(kept_ids)
    assert counts["input"] == (
        counts["kept"] + len(attr_rows) + len(drop_ids)
    )


def test_audio_stages(spark):
    base = _wav_encode(1, b"the one true audio clip body, with samples")
    rows = [
        (1, base),
        (2, base),                      # byte-identical -> 'byte'
        (3, _wav_encode(3, b"a completely different audio clip payload")),
        (4, b"NOTAWAV"),                # dropped
    ]
    acct: list = []
    d = spark.createDataFrame(rows, "aud_id long, payload binary")
    kept, attr, dropped = dedup_media_corpus(d, "audio", accounting=acct)
    assert {r["aud_id"] for r in kept.collect()} == {1, 3}
    a = {r["aud_id"]: (r["dup_of"], r["stage"]) for r in attr.collect()}
    assert a == {2: (1, "byte")}
    assert {r["aud_id"] for r in dropped.collect()} == {4}
    assert dict(acct)["byte_unique"] == 3


@pytest.mark.parametrize(
    "modality,id_col,encode",
    [
        ("image", "img_id", _bmp_encode),
        ("audio", "aud_id", _wav_encode),
        ("video", "vid_id", _video_encode),
    ],
    ids=["image", "audio", "video"],
)
def test_image_index_probe_and_extend(spark, idx_dir, modality, id_col, encode):
    from hive_serde_schema_gen_spark.operators.phash_index import (
        FAMILIES,
        build_phash_index,
    )

    family = FAMILIES[modality]
    schema = f"{id_col} long, payload binary"
    history = spark.createDataFrame(
        [(100, encode(1, b"the one true image body, with pixels"))], schema
    )
    build_phash_index(
        family.fingerprint(history), idx_dir, n_files=1, family=family
    )
    acct: list = []
    d = spark.createDataFrame(
        [
            (1, encode(1, b"the one true image body, with pixels")),
            (4, encode(4, b"a completely different image payload")),
        ],
        schema,
    )
    kept, attr, _ = dedup_media_corpus(
        d, modality, index_path=idx_dir, extend_epoch=7, accounting=acct
    )
    a = {r[id_col]: (r["dup_of"], r["stage"]) for r in attr.collect()}
    assert a[1] == (100, "index")  # history match, attributed to the index
    assert {r[id_col] for r in kept.collect()} == {4}
    # the accepted novel payload extended the index: a re-run of the same
    # novel payload under a NEW id now matches history
    d2 = spark.createDataFrame(
        [(9, encode(4, b"a completely different image payload"))], schema
    )
    kept2, attr2, _ = dedup_media_corpus(d2, modality, index_path=idx_dir)
    assert kept2.count() == 0
    a2 = {r[id_col]: (r["dup_of"], r["stage"]) for r in attr2.collect()}
    assert a2[9] == (4, "index")


def test_unknown_modality_and_custom_id_guard(spark, idx_dir):
    d = spark.createDataFrame(
        [(1, _bmp_encode(1, b"body"))], "media_id long, payload binary"
    )
    with pytest.raises(ValueError, match="unknown modality"):
        dedup_media_corpus(d, "hologram")  # video became real in r16
    with pytest.raises(ValueError, match="default id column"):
        dedup_media_corpus(
            d, "image", id_col="media_id", index_path=idx_dir
        )
    # custom id without an index is fine
    kept, attr, dropped = dedup_media_corpus(d, "image", id_col="media_id")
    assert kept.count() == 1 and attr.count() == 0 and dropped.count() == 0
