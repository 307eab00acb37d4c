from __future__ import annotations

import json

import pandas as pd

from notion_spark.schema import BLOCKS_SCHEMA
from notion_spark.sources.blocks import flatten_body
from notion_spark.sources.io import export_tasks_csv, read_tasks_csv
from notion_spark.sources.notion import FixtureClient, blocks_df, comments_df
from tests.fixtures import make_tasks


def test_csv_round_trip(spark, tmp_path):
    path = str(tmp_path / "tasks_csv")
    df = make_tasks(spark, n=50)
    export_tasks_csv(df, path)
    back = read_tasks_csv(spark, path)
    assert back.count() == 50
    orig = {r.uid: r for r in df.collect()}
    got = {r.uid: r for r in back.collect()}
    for uid, r in got.items():
        assert sorted(r.active_tags) == sorted(orig[uid].active_tags)
        assert [int(x) for x in (r.children_nids or [])] == orig[uid].children_nids


def test_flatten_body_ordering_and_rendering(spark):
    def payload(text, **kw):
        d = {
            "rich_text": [
                {
                    "plain_text": text,
                    "href": None,
                    "annotations": {
                        "bold": False, "italic": False, "underline": False,
                        "strikethrough": False, "code": False,
                    },
                }
            ]
        }
        d.update(kw)
        return json.dumps(d)

    rows = [
        ("p1", "b1", None, 0, "heading_1", payload("Title")),
        ("p1", "b2", None, 1, "bulleted_list_item", payload("item one")),
        ("p1", "b3", "b2", 0, "paragraph", payload("nested")),
        ("p1", "b4", None, 2, "to_do", payload("task", checked=True)),
        ("p1", "b5", None, 3, "divider", json.dumps({})),
        ("p2", "c1", None, 0, "paragraph", payload("other page")),
    ]
    blocks = spark.createDataFrame(rows, BLOCKS_SCHEMA)
    out = {r.page_uid: r.body_content for r in flatten_body(blocks).collect()}
    assert out["p1"] == "# Title\n- item one\n  nested\n[x] task\n---"
    assert out["p2"] == "other page"


def test_flatten_body_large_ordinals(spark):
    # Regression: sibling ordinals beyond any fixed pad width must still
    # order numerically (the old lpad(...,6) key truncated >= 1e6).
    def payload(text):
        return json.dumps(
            {
                "rich_text": [
                    {
                        "plain_text": text,
                        "href": None,
                        "annotations": {
                            "bold": False, "italic": False, "underline": False,
                            "strikethrough": False, "code": False,
                        },
                    }
                ]
            }
        )

    rows = [
        ("p1", "b1", None, 10_000_000, "paragraph", payload("last")),
        ("p1", "b2", None, 2, "paragraph", payload("second")),
        ("p1", "b3", None, 999_999, "paragraph", payload("third")),
        ("p1", "b4", None, 1, "paragraph", payload("first")),
    ]
    blocks = spark.createDataFrame(rows, BLOCKS_SCHEMA)
    out = {r.page_uid: r.body_content for r in flatten_body(blocks).collect()}
    assert out["p1"] == "first\nsecond\nthird\nlast"


def test_fixture_client_crawl(spark):
    pages = [{"id": "p1"}, {"id": "p2"}]
    blocks = {
        "p1": [
            {"id": "b1", "type": "paragraph", "has_children": True, "paragraph": {"rich_text": []}},
        ],
        "b1": [{"id": "b2", "type": "paragraph", "has_children": False, "paragraph": {}}],
    }
    comments = {"p1": [{"rich_text": [{"plain_text": "hello"}]}]}
    client = FixtureClient(pages, blocks, comments)
    bdf = blocks_df(spark, client, ["p1", "p2"])
    rows = {r.block_id: r for r in bdf.collect()}
    assert rows["b1"].parent_block_id is None
    assert rows["b2"].parent_block_id == "b1"
    cdf = comments_df(spark, client, ["p1", "p2"])
    assert [(r.page_uid, r.text) for r in cdf.collect()] == [("p1", "hello")]


def test_multimodal_feature_plumbing(spark):
    from notion_spark.pipeline.multimodal import FEATURE_DIM, extract_image_features, sample_frames

    assets = spark.createDataFrame(
        [
            ("a1", "image", b"\x89PNGfake", "image/png", {"w": "100"}),
            ("a2", "image", b"other-bytes", "image/png", {}),
            ("v1", "video", None, "video/mp4", {"n_frames": "100"}),
        ],
        "asset_id string, modality string, payload binary, mime string, meta map<string,string>",
    )
    feats = {r.asset_id: r for r in extract_image_features(assets).collect()}
    assert len(feats["a1"].features) == FEATURE_DIM
    assert feats["a1"].features != feats["a2"].features  # payload-derived
    assert feats["a1"].width >= 64

    frames = sample_frames(assets, every_n=10, max_frames=8)
    idx = sorted(r.frame_idx for r in frames.collect())
    assert idx == [0, 10, 20, 30, 40, 50, 60, 70]


def test_compact_store(spark, tmp_path):
    from notion_spark.sources.io import compact_store

    path = str(tmp_path / "store")
    df = spark.createDataFrame([(i,) for i in range(1000)], "id long")
    df.repartition(20).write.parquet(path)  # 20 small files
    import glob

    assert len(glob.glob(path + "/part-*")) == 20
    n = compact_store(spark, path, target_records_per_file=500)
    assert n == 1000
    assert len(glob.glob(path + "/part-*")) == 2
    assert spark.read.parquet(path).count() == 1000


def test_multimodal_audio_and_codec_injection(spark):
    from notion_spark.pipeline.multimodal import (
        FEATURE_DIM,
        FakeCodec,
        extract_audio_features,
        extract_image_features,
    )

    assets = spark.createDataFrame(
        [
            ("a1", "audio", b"pcm-bytes-1", "audio/wav", {}),
            ("a2", "audio", None, "audio/wav", {}),
        ],
        "asset_id string, modality string, payload binary, mime string, meta map<string,string>",
    )
    audio = {r.asset_id: r for r in extract_audio_features(assets).collect()}
    assert audio["a1"].duration_ms >= 1000 and audio["a1"].sample_rate >= 8000
    assert len(audio["a1"].features) == FEATURE_DIM
    assert audio["a2"].duration_ms == 0  # null payload -> zeros, not a crash
    # re-run is bit-identical (pure function of payload bytes)
    again = {r.asset_id: r for r in extract_audio_features(assets).collect()}
    assert again["a1"].features == audio["a1"].features

    class UpsideDown:
        def decode(self, payload):
            w, h, f = FakeCodec().decode(payload)
            return h, w, f

    flipped = extract_image_features(assets, codec=UpsideDown()).collect()
    straight = extract_image_features(assets, codec=FakeCodec()).collect()
    assert {(r.asset_id, r.width, r.height) for r in flipped} == {
        (r.asset_id, r.height, r.width) for r in straight
    }


def test_phash_hamming_pairs_matches_python_reference(spark):
    import hashlib

    from notion_spark.pipeline.multimodal import phash_hamming_pairs

    payloads = {
        "a1": b"the same bytes",
        "a2": b"the same bytes",      # exact dup of a1 -> hamming 0
        "a3": b"different payload",
        "a4": b"another thing",
        "a5": b"the same bytes ",     # one byte off -> unrelated hash
    }
    rows = [(k, bytearray(v)) for k, v in payloads.items()]
    assets = spark.createDataFrame(rows, "asset_id string, payload binary")

    def ref_pairs():
        hx = {k: hashlib.sha256(v).hexdigest()[:16] for k, v in payloads.items()}
        out = {}
        ids = sorted(payloads)
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                shares = any(
                    hx[a][4 * t : 4 * t + 4] == hx[b][4 * t : 4 * t + 4]
                    for t in range(4)
                )
                if shares:
                    d = bin(int(hx[a], 16) ^ int(hx[b], 16)).count("1")
                    out[(a, b)] = d
        return out

    got = {
        (r.id_a, r.id_b): r.hamming
        for r in phash_hamming_pairs(assets).collect()
    }
    expected = ref_pairs()
    assert got == expected
    assert got[("a1", "a2")] == 0           # the exact dup is always found
    assert ("a1", "a5") not in got or got[("a1", "a5")] > 3


def test_phash_decoder_swap_contract(spark):
    """The claimed drop-in: a REAL per-asset 64-bit hash (here a
    pandas_udf 'decoder' producing hand-chosen hex16 values) replaces
    the sha256 stand-in via `signatures=`, and banding + star guard +
    Hamming verify behave identically — near hashes (Hamming <= 3,
    pigeonhole: >= 1 shared 16-bit band) are found with exact
    distances; far hashes that share no band are not candidates."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType

    from notion_spark.pipeline.multimodal import (
        phash_hamming_pairs,
        signatures_from_hex,
    )

    # a pandas_udf standing in for "decode image bytes -> DCT pHash":
    # deterministic per payload, emits 16 hex chars
    table = {
        b"img-a": "00000000000000ff",   # a vs b: differ in bits 0,1 -> ham 2
        b"img-b": "00000000000000fc",
        b"img-c": "a5a5b4b4c3c3d2d2",   # shares no band with a/b
        b"img-d": "a5a5b4b4c3c3d2d3",   # 1 bit off c -> ham 1
    }

    def _decode(payload: pd.Series) -> pd.Series:
        return payload.map(lambda b: table[bytes(b)])

    fake_decoder = F.pandas_udf(_decode, StringType())

    assets = spark.createDataFrame(
        [(k.decode(), bytearray(k)) for k in table],
        "asset_id string, payload binary",
    )
    sig = assets.select("asset_id", fake_decoder("payload").alias("hex16"))
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in phash_hamming_pairs(None, signatures=sig).collect()
    }
    assert got == {("img-a", "img-b"): 2, ("img-c", "img-d"): 1}

    # the hex -> (hi, lo) split is exact (verify path depends on it)
    hilo = {r.id: (r.hi, r.lo) for r in signatures_from_hex(sig).collect()}
    for k, hx in table.items():
        assert hilo[k.decode()] == (int(hx[:8], 16), int(hx[8:], 16))

    # and the injected path agrees with the built-in path when the
    # custom hash EQUALS the stand-in (same hex -> same pairs)
    builtin = phash_hamming_pairs(assets)
    stand_in = assets.select(
        "asset_id", F.substring(F.sha2("payload", 256), 1, 16).alias("hex16")
    )
    injected = phash_hamming_pairs(None, signatures=stand_in)
    as_set = lambda df: {(r.id_a, r.id_b, r.hamming) for r in df.collect()}  # noqa: E731
    assert as_set(builtin) == as_set(injected)
