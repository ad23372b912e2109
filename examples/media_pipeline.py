"""End-to-end multimodal pipeline: binary media → features → near-dups.

Composes the multimodal plumbing with similarity search as one model:
``binaryFile`` scan → feature extraction via Arrow-batched
``mapInPandas`` (byte-histogram stub here; pass
``featurizer=multimodal.real_image_features`` for the real
thumbnail-embedding over the stdlib pixel decoders, or a model-backed
encoder in production — the Spark plan is identical either way) →
pairwise cosine near-duplicate detection over the feature vectors → a
manifest of media files to keep.
"""

import os
import sys

# allow running as a plain script: put the repo root on sys.path
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from ayeaye_spark import AccessMode, Connect, Model
from ayeaye_spark.operators.multimodal import extract_features, read_binary_dir
from ayeaye_spark.operators.similarity import embedding_near_dup_pairs


class MediaDedupPipeline(Model):
    keep_manifest = Connect(
        engine_url="json://{output_path}/media_keep_manifest.json;indent=2",
        access=AccessMode.WRITE,
    )

    media_dir: str = "{media_path}"  # resolved at build time
    feature_dim = 8
    near_dup_threshold = 0.999

    def build(self):
        from ayeaye_spark import connector_resolver

        media_path = connector_resolver.resolve(self.media_dir)
        media = read_binary_dir(self.spark, media_path, "image")
        self.add_stat("n_files", media.count())

        feats = extract_features(media, dim=self.feature_dim).withColumn(
            "media_id", F.xxhash64("path")
        )
        pairs = embedding_near_dup_pairs(
            feats, id_col="media_id", vec_col="features",
            threshold=self.near_dup_threshold,
        )
        dropped = pairs.select(F.col("media_id_b").alias("media_id")).distinct()
        keep = feats.join(dropped, on="media_id", how="left_anti")

        kept_paths = sorted(r["path"] for r in keep.select("path").collect())
        self.keep_manifest.data = {
            "kept": kept_paths,
            "n_kept": len(kept_paths),
            "n_dropped": self.stats["n_files"] - len(kept_paths),
        }
        self.log(f"kept {len(kept_paths)} of {self.stats['n_files']} media files")


class PerceptualMediaDedup(Model):
    """Perceptual variant: near-dups by IMAGE CONTENT, not identical
    bytes — dHash fingerprints over real decoded pixels, candidates via
    the lossless banded Hamming join (no all-pairs scan), min-path
    survivor per duplicate pair.  A re-saved / slightly-edited copy of
    an image dedupes here where byte- or feature-hash equality misses
    it."""

    keep_manifest = Connect(
        engine_url="json://{output_path}/media_phash_manifest.json;indent=2",
        access=AccessMode.WRITE,
    )

    media_dir: str = "{media_path}"
    max_hamming = 3

    def build(self):
        from ayeaye_spark import connector_resolver
        from ayeaye_spark.operators.multimodal import image_near_dup_pairs

        media_path = connector_resolver.resolve(self.media_dir)
        media = read_binary_dir(self.spark, media_path, "image")
        self.add_stat("n_files", media.count())

        pairs = image_near_dup_pairs(media, max_hamming=self.max_hamming)
        # keep the lexicographically-smaller path of each near-dup pair
        dropped = pairs.select(
            F.greatest("path_a", "path_b").alias("path")
        ).distinct()
        keep = media.select("path").join(dropped, on="path", how="left_anti")

        kept_paths = sorted(r["path"] for r in keep.collect())
        self.keep_manifest.data = {
            "kept": kept_paths,
            "n_kept": len(kept_paths),
            "n_dropped": self.stats["n_files"] - len(kept_paths),
        }
        self.log(f"kept {len(kept_paths)} of {self.stats['n_files']} media files")


class TensorExportPipeline(Model):
    """Tensor-feed end of the media pipeline: binary media → REAL
    pure-numpy resize (``resize_images``: stdlib pixel decode +
    bilinear resample, no codec library) → fixed-shape RGB byte
    buffers → WebDataset tar shards.  Undecodable files are counted
    and routed out, never silently dropped; every exported member is
    exactly ``side*side*3`` bytes, the shape a training loader mmaps
    straight into a tensor."""

    shard_manifest = Connect(
        engine_url="json://{output_path}/media_tensor_manifest.json;indent=2",
        access=AccessMode.WRITE,
    )

    media_dir: str = "{media_path}"
    side = 32

    def build(self):
        from ayeaye_spark import connector_resolver
        from ayeaye_spark.operators.multimodal import resize_images
        from ayeaye_spark.sources.webdataset import write_tar_shards

        media_path = connector_resolver.resolve(self.media_dir)
        out_dir = os.path.join(
            connector_resolver.resolve("{output_path}"), "tensor_shards"
        )
        media = read_binary_dir(self.spark, media_path, "image")
        tensors = resize_images(media, width=self.side, height=self.side)
        decoded = tensors.where(F.col("pixels").isNotNull()).select(
            F.element_at(F.split("path", "/"), -1).alias("key"), "pixels"
        )
        shards = write_tar_shards(
            decoded, out_dir, key_col="key",
            member_cols={"rgb": "pixels"}, n_shards=2,
        ).collect()  # the manifest collect IS the write action
        n_skipped = tensors.where(F.col("pixels").isNull()).count()
        self.shard_manifest.data = {
            "shards": sorted(s["path"] for s in shards),
            "n_tensors": sum(s["n_keys"] for s in shards),
            "n_skipped": n_skipped,
            "tensor_bytes": self.side * self.side * 3,
        }
        self.log(
            f"exported {sum(s['n_keys'] for s in shards)} tensors, "
            f"skipped {n_skipped} undecodable"
        )


class AudioVideoCuration(Model):
    """Audio/video end of the media pipeline: WAVs through the
    integer-exact quality gate (REAL PCM / G.711 decode →
    silence/clipping ppm → keep-or-drop verdict) and AVI clips through
    the scene-cut detector (REAL RIFF demux → per-frame dHash →
    hamming cuts → the keyframe plan a frame-sampling stage fetches:
    frame 0 plus the first frame after every cut).  The speech/video
    counterpart of the image dedup models above — same committed
    fixture kernels as catalog entries ``media_audio_quality`` and
    ``media_scene_cuts``."""

    curation_manifest = Connect(
        engine_url="json://{output_path}/media_av_manifest.json;indent=2",
        access=AccessMode.WRITE,
    )

    media_dir: str = "{media_path}"
    cut_bits = 16

    def build(self):
        from pyspark.sql import Window as W

        from ayeaye_spark import connector_resolver
        from ayeaye_spark.operators.multimodal import (
            EXACT_AUDIO_SCHEMA,
            decode_audio,
            exact_audio_stats,
            split_avi_frames,
            video_frame_signatures,
        )

        media_path = connector_resolver.resolve(self.media_dir)
        media = read_binary_dir(self.spark, media_path, "media")

        audio = decode_audio(
            media, decoder=exact_audio_stats, batch_schema=EXACT_AUDIO_SCHEMA
        ).where(F.col("codec").isNotNull())
        verdicts = audio.select(
            F.element_at(F.split("path", "/"), -1).alias("file"),
            F.expr(
                "CASE WHEN n_clipped * 1000000L DIV n_samples > 5000 "
                "THEN 'clipped' "
                "WHEN n_silence * 1000000L DIV n_samples > 500000 "
                "THEN 'mostly_silent' ELSE 'ok' END"
            ).alias("verdict"),
        )
        # one collect, partitioned driver-side: two filtered collects
        # would re-scan and re-decode every WAV as separate Spark jobs
        verdict_rows = verdicts.collect()
        kept_audio = sorted(
            r["file"] for r in verdict_rows if r["verdict"] == "ok"
        )
        dropped_audio = {
            r["file"]: r["verdict"]
            for r in verdict_rows if r["verdict"] != "ok"
        }

        sig = video_frame_signatures(media, splitter=split_avi_frames).where(
            F.col("frame_hashes").isNotNull()
        )
        fr = sig.select(
            F.element_at(F.split("path", "/"), -1).alias("file"),
            F.posexplode("frame_hashes").alias("frame_idx", "dhash"),
        )
        w = W.partitionBy("file").orderBy("frame_idx")
        keyframes = (
            fr.withColumn("prev", F.lag("dhash").over(w))
            .where(
                F.col("prev").isNull()  # frame 0 always anchors a scene
                | (
                    F.bit_count(F.col("dhash").bitwiseXOR(F.col("prev")))
                    >= self.cut_bits
                )
            )
            .groupBy("file")
            .agg(F.sort_array(F.collect_list("frame_idx")).alias("frames"))
        )
        keyframe_plan = {
            r["file"]: r["frames"] for r in keyframes.collect()
        }

        self.curation_manifest.data = {
            "kept_audio": kept_audio,
            "dropped_audio": dropped_audio,
            "keyframe_plan": keyframe_plan,
        }
        self.log(
            f"audio kept {len(kept_audio)}, dropped {len(dropped_audio)}; "
            f"keyframes for {len(keyframe_plan)} clips"
        )


if __name__ == "__main__":
    from ayeaye_spark import connector_resolver

    here = os.path.dirname(os.path.abspath(__file__))
    with connector_resolver.context(media_path=os.path.join(here, "data"), output_path=here):
        MediaDedupPipeline().go()
        PerceptualMediaDedup().go()
        TensorExportPipeline().go()
        AudioVideoCuration().go()
