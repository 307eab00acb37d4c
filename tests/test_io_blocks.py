from __future__ import annotations

from pyspark.sql import functions as F

from notion_spark.sources.blocks import flatten_body
from notion_spark.sources.io import export_tasks_csv
from notion_spark.sources.notion import FixtureClient, blocks_df, comments_df
from tests.fixtures import make_tasks, read_csv_like_reference, rich


def test_csv_round_trip(spark, tmp_path):
    # the export is in the reference dialect: display headers, list
    # columns its ast.literal_eval reader parses
    path = str(tmp_path / "tasks_csv")
    df = make_tasks(spark, n=50)
    export_tasks_csv(df, path)
    back = read_csv_like_reference(path)
    assert len(back) == 50
    orig = {r.uid: r for r in df.collect()}
    for r in back:
        assert sorted(r["Active Tags"]) == sorted(orig[r["UID"]].active_tags)
        assert r["Children NIDs"] == orig[r["UID"]].children_nids


def _block(bid, kind, has_children=False, **payload):
    return {"id": bid, "type": kind, "has_children": has_children, kind: payload}


def _bodies(spark, blocks, page_ids):
    """page_uid -> body_content for ``blocks`` served by a FixtureClient."""
    client = FixtureClient([], blocks, {})
    bdf = blocks_df(spark, client, page_ids)
    return {r.page_uid: r.body_content
            for r in bdf.select("page_uid", flatten_body(F.col("blocks")).alias("body_content")).collect()}


def test_flatten_body_ordering_and_rendering(spark):
    blocks = {
        "p1": [
            _block("b1", "heading_1", **rich("Title")),
            _block("b2", "bulleted_list_item", has_children=True, **rich("item one")),
            _block("b4", "to_do", checked=True, **rich("task")),
            _block("b5", "divider"),
        ],
        "b2": [_block("b3", "paragraph", **rich("nested"))],
        "p2": [_block("c1", "paragraph", **rich("other page"))],
    }
    out = _bodies(spark, blocks, ["p1", "p2"])
    assert out["p1"] == "# Title\n- item one\n  nested\n[x] task\n---"
    assert out["p2"] == "other page"


def test_flatten_body_large_ordinals(spark):
    # 12 siblings keep crawl order: nothing re-sorts them, so the 10th
    # and later lines cannot land before the 2nd (as a string sort of
    # their ordinals would put them)
    texts = [f"line {i}" for i in range(12)]
    blocks = {"p1": [_block(f"b{i}", "paragraph", **rich(t)) for i, t in enumerate(texts)]}
    assert _bodies(spark, blocks, ["p1"])["p1"] == "\n".join(texts)


def test_flatten_body_deep_chain(spark):
    # a 20-level chain of nested blocks renders all 20 lines, each
    # indented two spaces per level (the crawl has no depth cap)
    blocks = {
        ("p1" if d == 0 else f"b{d - 1}"): [_block(f"b{d}", "paragraph", has_children=d < 19, **rich(f"level {d}"))]
        for d in range(20)
    }
    lines = _bodies(spark, blocks, ["p1"])["p1"].split("\n")
    assert lines == [f"{'  ' * d}level {d}" for d in range(20)]


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
    rows = {r.page_uid: r.blocks for r in bdf.collect()}
    assert [(b.depth, b.type) for b in rows["p1"]] == [(0, "paragraph"), (1, "paragraph")]
    assert rows["p2"] == []
    cdf = comments_df(spark, client, ["p1", "p2"])
    assert sorted((r.page_uid, r.comments) for r in cdf.collect()) == [("p1", "hello"), ("p2", "")]


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
    # enough payloads that unrelated hashes share a 16-bit band: the
    # banded join emits them with their full Hamming distance
    payloads.update({f"g{i:03d}": f"asset-{i}".encode() for i in range(400)})
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
    assert sum(d > 3 for d in got.values()) >= 3
    assert ("a1", "a5") not in got or got[("a1", "a5")] > 3
