"""Inter-frame (predicted-frame) video — the delta-coded clip family
(llm/video.py round 11): sync samples real baseline JPEGs, non-sync
samples closed-loop per-pixel diffs, decode driven by the sample
table's sync flags.

Pins the contracts the oracled stats query and the rows-only all-frame
near-dup rely on: CLOSED-LOOP EXACTNESS (delta frames reconstruct
their source byte-exactly even though JPEG keyframes round-trip only
within +-2), chain-break error semantics (a corrupt delta or keyframe
poisons every dependent frame until the next keyframe, which
recovers), and the capability contract that motivates the family:
clips differing ONLY in non-sync content are indistinguishable to
keyframe-only near-dup and distinguished by all-frame near-dup."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from etl_procedure_codes_crawler_spark.llm import multimodal as M
from etl_procedure_codes_crawler_spark.llm import video as V
from etl_procedure_codes_crawler_spark.llm.jpeg import decode_jpeg

TEXT = "the quick brown fox jumps over a lazy dog with padding words " * 3


def _clip_frames(text=TEXT):
    data = text.encode()
    nf = min(V.VIDEO_MAX_FRAMES, max(1, len(text.split())))
    return V.padded_frame_pixels(data, nf)


def _media_df(spark, payloads):
    return spark.createDataFrame(
        [
            (i + 1, p, "video/mp4", len(p), "s")
            for i, p in enumerate(payloads)
        ],
        M.MEDIA_SCHEMA,
    )


class TestDeltaCodec:
    def test_delta_frames_reconstruct_source_exactly(self):
        """Closed-loop prediction: the encoder diffs against the
        DECODER's reconstruction, so non-sync frames round-trip with
        ZERO error; keyframes carry the JPEG's +-2."""
        frames, w, h = _clip_frames()
        samples = V.encode_delta_clip(frames, w, h)
        recon = None
        hdr = len(V.DELTA_MAGIC) + 4
        for i, (s, f) in enumerate(zip(samples, frames)):
            if i % M.MP4_KEYFRAME_EVERY == 0:
                fw, fh, fc, pix = decode_jpeg(s)
                assert (fw, fh, fc) == (w, h, 1)
                recon = np.frombuffer(pix, dtype=np.uint8)
                src = np.frombuffer(f, dtype=np.uint8)
                assert np.abs(
                    recon.astype(int) - src.astype(int)
                ).max() <= 2
            else:
                assert s[:4] == V.DELTA_MAGIC
                dw, dh = struct.unpack_from(">HH", s, 4)
                assert (dw, dh) == (w, h) and len(s) == hdr + w * h
                diff = np.frombuffer(s[hdr:], dtype=np.uint8)
                recon = (
                    recon.astype(np.int16) + diff.astype(np.int16)
                ).astype(np.uint8)
                assert recon.tobytes() == f  # EXACT

    def test_shared_geometry_is_the_padded_max_chunk(self):
        frames, w, h = _clip_frames()
        sizes = M._mp4_sample_sizes(len(TEXT.encode()), len(frames))
        assert w == V.VIDEO_FRAME_WIDTH
        assert h == max(1, -(-max(sizes) // w))
        assert all(len(f) == w * h for f in frames)

    def test_mismatched_frame_sizes_rejected(self):
        with pytest.raises(ValueError, match="one geometry"):
            V.encode_delta_clip([b"\x00" * 16, b"\x00" * 32], 16, 1)

    def test_empty_text_builds_a_one_frame_clip(self):
        frames, w, h = V.padded_frame_pixels(b"", 1)
        assert (len(frames), w, h) == (1, 16, 1)
        samples = V.encode_delta_clip(frames, w, h)
        info = M.parse_mp4(
            M.build_mp4_samples(samples, width=w, height=h, codec=b"dgry")
        )
        assert info["tracks"][0]["keyframes"] == [1]


class TestVideoFrameHashes:
    def test_failure_planes_and_sync_flags(self, spark):
        docs = spark.createDataFrame(
            [
                (i, f"clip number {i} frame payload words more here "
                 * (i % 9 + 2), "src")
                for i in (1, 2, 37, 50, 74)
            ],
            "doc_id long, text string, source string",
        )
        rows = V.video_frame_hashes(
            V.documents_as_delta_mp4(docs)
        ).collect()
        by: dict[int, list] = {}
        for r in rows:
            by.setdefault(r.media_id, []).append(r)
        # container-corrupt (50): no rows at all
        assert 50 not in by
        # chain-break (37, 74): first delta sample zeroed => samples
        # 2..min(nf,5) error, the NEXT KEYFRAME (6) recovers
        for mid in (37, 74):
            rs = sorted(by[mid], key=lambda r: r.sample_no)
            errs = [r.sample_no for r in rs if r.decode_error]
            assert errs == list(range(2, min(len(rs), 5) + 1))
            assert "bad magic" in rs[1].decode_error
            assert "chain broken" in rs[2].decode_error
            for r in rs:
                if r.sample_no not in errs:
                    assert r.phash is not None
        # healthy clips: every frame hashed, sync flags at 1 and 6
        for mid in (1, 2):
            rs = sorted(by[mid], key=lambda r: r.sample_no)
            assert all(r.decode_error is None for r in rs)
            assert [r.sample_no for r in rs if r.is_sync] == [
                n for n in (1, 6) if n <= len(rs)
            ]

    def test_corrupt_keyframe_poisons_its_whole_gop(self, spark):
        """An undecodable SYNC sample breaks the chain from sample 1:
        every frame of its GOP errors, the next keyframe recovers."""
        frames, w, h = _clip_frames()
        samples = V.encode_delta_clip(frames, w, h)
        samples[0] = b"\x00" * len(samples[0])  # kill keyframe 1
        payload = M.build_mp4_samples(
            samples, width=w, height=h, codec=b"dgry"
        )
        rows = sorted(
            V.video_frame_hashes(_media_df(spark, [payload])).collect(),
            key=lambda r: r.sample_no,
        )
        errs = [r.sample_no for r in rows if r.decode_error]
        assert errs == [1, 2, 3, 4, 5]
        assert all(
            r.phash is not None for r in rows if r.sample_no >= 6
        )

    def test_geometry_mismatch_delta_is_an_error_row(self, spark):
        frames, w, h = _clip_frames()
        samples = V.encode_delta_clip(frames, w, h)
        # forge sample 2's header to claim a different geometry
        samples[1] = (
            V.DELTA_MAGIC
            + struct.pack(">HH", w, h + 1)
            + samples[1][len(V.DELTA_MAGIC) + 4 :]
        )
        payload = M.build_mp4_samples(
            samples, width=w, height=h, codec=b"dgry"
        )
        rows = sorted(
            V.video_frame_hashes(_media_df(spark, [payload])).collect(),
            key=lambda r: r.sample_no,
        )
        assert "geometry" in rows[1].decode_error
        # chain broken until keyframe 6
        assert [r.sample_no for r in rows if r.decode_error] == [
            2, 3, 4, 5,
        ]


class TestClipIdentityHashes:
    """The unified gate's one-pass video identity (round 11): payload
    sha + first-keyframe phash, identity ONLY when the container
    parses and every keyframe decodes."""

    def test_identity_for_clean_clip_and_twin_equality(self, spark):
        docs = spark.createDataFrame(
            [(1, "same clip text here", "s"), (2, "same clip text here", "s"),
             (3, "a different clip body", "s")],
            "doc_id long, text string, source string",
        )
        rows = {
            r.media_id: r
            for r in V.clip_identity_from_documents(docs).collect()
        }
        assert all(rows[i].decode_error is None for i in (1, 2, 3))
        # identical text => identical payload => identical identity
        assert rows[1].content_sha == rows[2].content_sha
        assert rows[1].phash == rows[2].phash
        assert rows[3].content_sha != rows[1].content_sha
        import hashlib

        payload = V.build_mp4_samples(
            [
                V.encode_frame_jpeg(c)
                for c in V._frame_chunks(b"same clip text here", 4)
            ],
            width=V.VIDEO_FRAME_WIDTH,
            height=V.VIDEO_FRAME_WIDTH,
            codec=b"jpeg",
        )
        assert rows[1].content_sha == hashlib.sha256(payload).hexdigest()

    def test_corrupt_container_and_broken_keyframe_have_no_identity(
        self, spark
    ):
        # doc 50: truncated container; doc 37: first keyframe zeroed —
        # both must flow as identity-less rows (phash/sha NULL), the
        # no-perceptual-identity admission path
        docs = spark.createDataFrame(
            [(37, "words for a broken keyframe clip", "s"),
             (50, "words for a truncated container", "s")],
            "doc_id long, text string, source string",
        )
        rows = {
            r.media_id: r
            for r in V.clip_identity_from_documents(docs).collect()
        }
        assert set(rows) == {37, 50}
        for r in rows.values():
            assert r.phash is None and r.content_sha is None
            assert r.decode_error is not None


class TestAllFrameNearDup:
    def test_byte_identical_twins_pair_at_full_score(self, spark):
        frames, w, h = _clip_frames()
        payload = M.build_mp4_samples(
            V.encode_delta_clip(frames, w, h), width=w, height=h,
            codec=b"dgry",
        )
        fh = V.video_frame_hashes(_media_df(spark, [payload, payload]))
        pairs = V.video_near_dup_pairs(fh).collect()
        assert len(pairs) == 1
        (p,) = pairs
        assert {p.video_a, p.video_b} == {1, 2}
        assert p.score == 1.0 and p.n_matched == len(frames)

    def test_delta_only_difference_splits_keyframe_and_all_frame(
        self, spark
    ):
        """THE capability contract: clip B differs from clip A only in
        a NON-SYNC frame (keyframes identical). Keyframe-only near-dup
        pairs them at full score — the miss the round-10 verdict named
        — while all-frame near-dup correctly refuses the pair at
        min_match_frac=1."""
        frames_a, w, h = _clip_frames()
        assert len(frames_a) == 8  # keyframes 1 and 6
        frames_b = list(frames_a)
        # invert a mid-GOP frame (sample 3): maximal gradient flip,
        # keyframes untouched
        frames_b[2] = bytes(255 - b for b in frames_a[2])
        pays = [
            M.build_mp4_samples(
                V.encode_delta_clip(f, w, h), width=w, height=h,
                codec=b"dgry",
            )
            for f in (frames_a, frames_b)
        ]
        media = _media_df(spark, pays)
        kf_pairs = V.video_near_dup_pairs(
            V.video_keyframe_hashes(media)
        ).collect()
        assert len(kf_pairs) == 1 and kf_pairs[0].score == 1.0
        af_pairs = V.video_near_dup_pairs(
            V.video_frame_hashes(media)
        ).collect()
        assert af_pairs == []


class TestTwinOffsetSchedule:
    """The twin queries' byte-identical contract holds only if the
    offset preserves BOTH planted-corruption schedules (round 12,
    ADVICE r11): 10^9 ≡ 1 (mod 37), so the old offset gave docs
    ≡ 36 (mod 37) a chain-broken twin of a clean original. The fixed
    offset 1_850_000_000 = 50·37·10^6 is ≡ 0 under both moduli."""

    OFFSET = 1_850_000_000

    def test_offset_divisible_by_both_corruption_moduli(self):
        assert self.OFFSET % V.VIDEO_CORRUPT_CONTAINER_EVERY == 0
        assert self.OFFSET % V.VIDEO_CORRUPT_DELTA_EVERY == 0
        assert self.OFFSET % V.VIDEO_CORRUPT_SAMPLE_EVERY == 0

    def test_twin_payload_byte_identical_across_schedules(self, spark):
        # doc 147 = first id that is BOTH a twin candidate (mult of 7)
        # and ≡ 36 (mod 37): under offset 10^9 its twin lands on the
        # delta-corruption schedule while the original is clean
        assert 147 % 7 == 0 and 147 % 37 == 36
        docs = spark.createDataFrame(
            [
                (147, TEXT, "s"),
                (147 + self.OFFSET, TEXT, "s"),
                (147 + 1_000_000_000, TEXT, "s"),  # the old, broken offset
            ],
            "doc_id long, text string, source string",
        )
        rows = {
            r.media_id: r.payload
            for r in V.documents_as_delta_mp4(docs).collect()
        }
        assert rows[147 + self.OFFSET] == rows[147]
        # the old offset genuinely diverges — the bug this test pins
        assert rows[147 + 1_000_000_000] != rows[147]
