"""Golden bytes for the ten container packers, and the bad-blob rule
the decoders share.

The decoders read back only what they need, so nothing else pins the
container bytes a decoder skips (the PNG zlib level, the MP4 boxes
other than ``stbl``, the GIF extension blocks). The digests below are
sha256 of each packer's payload for three fixed texts; a change to
any byte of any container changes them.
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import types as T

from rentals_data_pipeline_spark.operators import multimodal as M

TEXTS = {
    1: "spark-graft media golden " * 12,  # ASCII, spans several frames
    2: "",
    3: "naïve café — 日本語 🎞 " * 8,  # multi-byte utf-8
    4: None,
}

GOLDEN = {
    "pack_wav": (
        "0b491f3d1c9c99b519a45db9923b83f02bc92afa19f1693e188cf6140c5fc866",
        "5b517b506f635e251ee0d7020062f1ce375cc3a92f1f445e71be6995f4a591f1",
        "0811725544b2f8c8afee595a198f8d4319f477d280bbc9feb38e18f923d40720",
    ),
    "pack_ppm": (
        "5ee485718caf2842cd55c6c1b02f19bf5c4cc67137ab3e729af5a9c38439ded0",
        "498fc6af35b825a3125e21b0e91fdd6eb8cf0dfb21e0f5d68ddc4edfca2efef9",
        "109f511dfc5b7ec6c06720e7eb47fbc4708bff1e5a0bf1243258dcf2f9401c8b",
    ),
    "pack_png": (
        "0c01fa38215a30bef24204673f281aa6620dcaeff8b77de01e6408f8ab2423d1",
        "3552bb8bf493ba63896f7abfb3ee3d899bf7312cd0b3d87691a639344b051238",
        "56fb10b23a97024067b3f77e82973ae6464245bc3f094e5c6f098407680ea1cc",
    ),
    "pack_bmp": (
        "69238e48ce6db48b5c48837d1c02709d965f205d9073ad8637f69fe48317bbba",
        "5f4dac2376a9411f29396471b76d9e091caf163c23fd2997dbbd457290bcc126",
        "b2162708b43e264f31c272a7a01ea2b92875fa5e459dbe6bb1d0797acc4e2d74",
    ),
    "pack_flac": (
        "b54937f035ae553efd8f40749c60997d8dc0a16229a6df1c1e443f73c2b0f644",
        "96f41de9a2f5d22bce6e968e4c83b2368997b36764e666aac8d78c4c652c0f95",
        "015c0fc44f817a77e6a5eae29600a6563b50663648d570927513dde0ecb778cb",
    ),
    "pack_gif_anim": (
        "770cac6286cad252d21191c24b4f4d31c547963d7583e9d04f4e33994b7a0a42",
        "3081cc1b472c6f4e69d873b3ff7448f2b89a45be1beb49e76b3d21f3070447dc",
        "27bfbf703bc1220332773059c3e3f78294d49ed7b6cdd3b7899f9a3032758e23",
    ),
    "pack_avi_mjpeg": (
        "b5dbc16bd431bc70df56ad372568d46579943c52782b77a56625ff8765bd3898",
        "bf7268011173fb1da85d5d35e67fd89522768f2efe689fa5bf21d93abbeeb274",
        "57f6721f649af47cee066ca75221f1fefc439924b69e61b07490b4c99899cfbc",
    ),
    "pack_mp4_mjpeg": (
        "1d0602ba7fc71b95833f42f7f783bc7fe8822436484a0b55f9825db098a4d8e0",
        "9c8d90231ae92c67c309229e542384c8f5f530881b388f8f6cf18596d7728070",
        "0a974c4bb8ecb315720763e916779cec1a9906506ab345449930aa556a1f118c",
    ),
    "pack_ogg_flac": (
        "7f95a9e2b551000c0086937c7a40ca012b1ffc0f749de5c4b8cdda65efa0a91f",
        "5ce680ff62b3cb28ac019da261f1706dc45159cbdc2e64a082fdaa8727caf550",
        "b197447c68a9e4a4e89a8bc57bc35d6548d688112a4e0bc30c946032aa6a3f7d",
    ),
    "pack_ogg_opus": (
        "69634c5fab59c43ec4b81923bfa1336a06833d2852b894b22136f8897f6f08a6",
        "dddc1b633a2a1644d8a39e4330360ac054a8fbecb78a5995bcaf5dc56d3a793c",
        "6b9c5c7591c35a58501494fd229617f80451ee9a4daf336481b1c788f2337212",
    ),
}


@pytest.fixture(scope="module")
def texts(spark):
    return spark.createDataFrame(
        list(TEXTS.items()), "doc_id long, text string"
    )


@pytest.mark.parametrize("name", sorted(GOLDEN))
def test_packer_golden_bytes(texts, name):
    pack = getattr(M, name)
    out = pack(widen=False)(texts)
    assert out.schema == T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
    ])
    narrow = dict(out.collect())
    assert narrow == dict(pack(widen=True)(texts).collect())
    assert narrow[4] is None  # NULL text -> NULL payload
    digests = tuple(
        hashlib.sha256(narrow[k]).hexdigest() for k in (1, 2, 3)
    )
    assert digests == GOLDEN[name]


class _Boom(Exception):
    pass


@pytest.mark.parametrize("verb", ["decode", "probe"])
def test_bad_blob_rule(verb):
    from rentals_data_pipeline_spark.operators.codecs import CodecError
    from rentals_data_pipeline_spark.operators.multimodal import _guarded

    def raises(exc):
        def fn(raw):
            raise exc
        return fn

    assert _guarded(verb, len, b"abc") == (3, None)
    assert _guarded(verb, len, bytearray(b"ab")) == (2, None)
    assert _guarded(verb, raises(AssertionError), None) == (
        None, "null payload"
    )
    assert _guarded(verb, raises(CodecError("truncated PNG")), b"x") == (
        None, "truncated PNG"
    )
    assert _guarded(verb, raises(IndexError("index 9 out of range")), b"x") == (
        None, f"{verb} failure: IndexError: index 9 out of range"
    )
    long_msg = "m" * 200
    assert _guarded(verb, raises(_Boom(long_msg)), b"x") == (
        None, f"{verb} failure: _Boom: {'m' * 120}"
    )
