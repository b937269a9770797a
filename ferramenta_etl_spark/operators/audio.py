"""Audio column operators over raw PCM payloads.

Same posture as the image/video half of ``multimodal.py``: audio is an
opaque ``binary`` column (16-bit little-endian signed mono PCM — the
interchange format every codec decodes into) plus typed metadata
(``sample_rate``, sample count derivable from byte length). Everything
downstream of codec decode is REAL numpy DSP inside Arrow-batched
``mapInPandas`` bodies — linear-interpolation resampling, RMS/peak/
zero-crossing features, silence trimming — with per-sample oracles in
tests; only a compressed-container decode (mp3/ogg; needs librosa/
soundfile, absent from this environment) would slot in front of
``np.frombuffer``.

Scale notes (the 100 TB pipeline posture):
- every operator here is a NARROW map: no shuffle, output partitioning
  == input partitioning, bytes cross to Python only as Arrow batches;
- features land in fixed typed columns so Parquet stats/pruning apply
  (filter ``rms > 0`` or ``duration_s BETWEEN ...`` pushes to the scan);
- malformed rows (null/odd-length payload, non-positive rate) yield
  all-null outputs rather than poisoning the batch — the same
  keep-going policy as the reference's per-batch error isolation
  (``Select de Importação de Dados.py:231-236``) applied per row.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import types as T

RAW_AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("media", T.BinaryType()),
        T.StructField("sample_rate", T.LongType()),
    ]
)

AUDIO_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("duration_s", T.DoubleType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("peak", T.LongType()),
        T.StructField("zero_crossing_rate", T.DoubleType()),
    ]
)


def attach_fake_raw_audio(
    documents: DataFrame, sample_rate: int = 8000, max_s: float = 0.5
) -> DataFrame:
    """Deterministic int16 PCM fixtures from ``doc_id``: length, a tone
    period, and an amplitude envelope all hash-derived, with leading and
    trailing near-silence so trim_silence has something real to cut."""

    def batches(it: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in it:
            ids, blobs, rates = [], [], []
            for did in pdf["doc_id"]:
                did = int(did)
                n = int(sample_rate * max_s * (1 + (did * 13) % 100) / 100)
                n = max(n, 32)
                t = np.arange(n, dtype=np.float64)
                period = 20 + (did * 7) % 200
                amp = 2000 + (did * 31) % 20000
                sig = amp * np.sin(2 * np.pi * t / period)
                # taper the first/last eighth to near-silence
                pad = n // 8
                env = np.ones(n)
                env[:pad] = np.linspace(0.0, 0.02, pad)
                env[-pad:] = np.linspace(0.02, 0.0, pad)[: len(env[-pad:])]
                pcm = np.clip(np.round(sig * env), -32768, 32767).astype(
                    np.int16
                )
                ids.append(did)
                blobs.append(pcm.tobytes())
                rates.append(sample_rate)
            yield pd.DataFrame(
                {"doc_id": ids, "media": blobs, "sample_rate": rates}
            )

    return documents.select("doc_id").mapInPandas(batches, RAW_AUDIO_SCHEMA)


def _pcm(raw, rate) -> "object | None":
    """Decode a row's payload to int16 samples, or None if malformed."""
    import numpy as np
    import pandas as pd

    if raw is None or pd.isna(rate) or int(rate) <= 0 or len(raw) % 2 != 0:
        return None
    return np.frombuffer(bytes(raw), dtype="<i2")


def resample_audio(media_df: DataFrame, target_rate: int) -> DataFrame:
    """Linear-interpolation PCM resampling to ``target_rate`` (the
    classic two-point kernel: output sample j reads input position
    ``j * in_rate / out_rate`` via ``np.interp``; a windowed-sinc
    kernel drops into the same body for higher fidelity). Output length
    is ``max(1, floor(n * target/in))`` so durations never round up
    past the source. int16 in/out with round-half-even, matching the
    image kernel's conventions."""
    if target_rate < 1:
        raise ValueError(f"target_rate must be >= 1, got {target_rate}")

    def batches(it: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in it:
            ids, blobs, rates = [], [], []
            for did, raw, rate in zip(
                pdf["doc_id"], pdf["media"], pdf["sample_rate"]
            ):
                ids.append(None if pd.isna(did) else int(did))
                pcm = _pcm(raw, rate)
                if pcm is None or len(pcm) == 0:
                    blobs.append(None)
                    rates.append(None)
                    continue
                rate = int(rate)
                if rate == target_rate:
                    blobs.append(pcm.tobytes())
                    rates.append(rate)
                    continue
                n = len(pcm)
                out_n = max(1, (n * target_rate) // rate)
                pos = np.arange(out_n, dtype=np.float64) * (rate / target_rate)
                vals = np.interp(pos, np.arange(n), pcm.astype(np.float64))
                out = np.clip(np.round(vals), -32768, 32767).astype(np.int16)
                blobs.append(out.tobytes())
                rates.append(target_rate)
            yield pd.DataFrame(
                {"doc_id": ids, "media": blobs, "sample_rate": rates}
            )

    return media_df.select("doc_id", "media", "sample_rate").mapInPandas(
        batches, RAW_AUDIO_SCHEMA
    )


def audio_features(media_df: DataFrame) -> DataFrame:
    """Per-clip scalar features: sample count, duration, RMS, absolute
    peak, and zero-crossing rate (fraction of adjacent pairs with a
    strict sign change; zeros break runs). Fixed typed columns so the
    quality-filter predicates these feed (``rms > x``, ``duration_s
    BETWEEN``) stay JVM-side and parquet-prunable downstream."""

    def batches(it: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in it:
            rows = []
            for did, raw, rate in zip(
                pdf["doc_id"], pdf["media"], pdf["sample_rate"]
            ):
                did = None if pd.isna(did) else int(did)
                pcm = _pcm(raw, rate)
                if pcm is None or len(pcm) == 0:
                    rows.append((did, None, None, None, None, None))
                    continue
                x = pcm.astype(np.float64)
                n = len(x)
                rms = float(np.sqrt(np.mean(x * x)))
                peak = int(np.max(np.abs(x)))
                sign = np.sign(x)
                zc = (
                    float(np.mean(sign[1:] * sign[:-1] < 0)) if n > 1 else 0.0
                )
                rows.append(
                    (did, n, round(n / int(rate), 6), round(rms, 6), peak,
                     round(zc, 6))
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "n_samples", "duration_s", "rms", "peak",
                    "zero_crossing_rate",
                ],
            )

    return media_df.select("doc_id", "media", "sample_rate").mapInPandas(
        batches, AUDIO_FEATURE_SCHEMA
    )


def trim_silence(media_df: DataFrame, threshold: int = 512) -> DataFrame:
    """Strip leading/trailing samples whose |amplitude| < ``threshold``
    (int16 counts). An all-silent clip trims to an EMPTY payload (zero
    bytes) rather than null — "nothing left" and "couldn't decode" stay
    distinguishable downstream."""
    if threshold < 0:
        raise ValueError(f"threshold must be >= 0, got {threshold}")

    def batches(it: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in it:
            ids, blobs, rates = [], [], []
            for did, raw, rate in zip(
                pdf["doc_id"], pdf["media"], pdf["sample_rate"]
            ):
                ids.append(None if pd.isna(did) else int(did))
                pcm = _pcm(raw, rate)
                if pcm is None:
                    blobs.append(None)
                    rates.append(None)
                    continue
                loud = np.nonzero(np.abs(pcm.astype(np.int64)) >= threshold)[0]
                if len(loud) == 0:
                    blobs.append(b"")
                else:
                    blobs.append(pcm[loud[0] : loud[-1] + 1].tobytes())
                rates.append(int(rate))
            yield pd.DataFrame(
                {"doc_id": ids, "media": blobs, "sample_rate": rates}
            )

    return media_df.select("doc_id", "media", "sample_rate").mapInPandas(
        batches, RAW_AUDIO_SCHEMA
    )


FINGERPRINT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("fp", T.LongType()),
    ]
)


def audio_fingerprints(media_df: DataFrame) -> DataFrame:
    """64-bit energy-envelope difference hash per clip — the audio
    sibling of the image dHash (round 12), completing the multimodal
    dedup triad on one shared candidate kernel: re-encodes, volume
    changes, and mild resampling leave the hash within a few bits,
    because only the ORDER of neighboring envelope frames matters.

    Per clip: |int16 PCM| mean over 65 equal time frames (the envelope
    at fixed TIME resolution, so two sample rates of the same material
    frame the same audio), bit j = env[j] > env[j+1] — 64 gradient
    bits. Amplitude-scale invariant by construction; clips shorter
    than 65 samples (or malformed rows) yield a null fp — visible
    downstream, batch intact: every other fp is the exact int64 hash
    whatever else shares its Arrow batch, and the null touches only its
    own row. Narrow Arrow-batched map, no shuffle; only 16 bytes/clip
    ever shuffle."""
    from .multimodal import _bits_to_u64, _fp_frame, _signed64

    def batches(it: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in it:
            if len(pdf) == 0:
                continue
            ids, fps = [], []
            for did, raw, rate in zip(
                pdf["doc_id"], pdf["media"], pdf["sample_rate"]
            ):
                ids.append(None if pd.isna(did) else int(did))
                pcm = _pcm(raw, rate)
                if pcm is None or len(pcm) < 65:
                    fps.append(None)
                    continue
                env = np.array(
                    [
                        f.mean()
                        for f in np.array_split(
                            np.abs(pcm.astype(np.int64)), 65
                        )
                    ]
                )
                # bit packing, signed conversion and the output frame
                # shared with the image dHash (review r12: two drifting
                # copies is how the vectorization fix reaches one
                # modality and not the other)
                fps.append(_signed64(_bits_to_u64(env[:-1] > env[1:])))
            yield _fp_frame(ids, fps)

    return media_df.select("doc_id", "media", "sample_rate").mapInPandas(
        batches, FINGERPRINT_SCHEMA
    )


def audio_near_dup_pairs(
    media_df: DataFrame,
    max_hamming: int = 3,
    n_blocks: int = 4,
    max_block_size: int | None = None,
) -> DataFrame:
    """(doc_id_a, doc_id_b, hamming) pairs of perceptually near-
    duplicate clips through the SAME pigeonhole-blocked candidate
    kernel the text SimHash and image dHash families use
    (dedup.hamming_pairs) — equi-join on 16-bit fingerprint blocks,
    never an all-pairs product. Null fingerprints drop out; feed the
    pairs to dedup.connected_components for canonical collapse."""
    from pyspark.sql import functions as F

    from .dedup import hamming_pairs

    fp = audio_fingerprints(media_df).filter(F.col("fp").isNotNull())
    return hamming_pairs(
        fp,
        max_hamming=max_hamming,
        id_col="doc_id",
        fp_col="fp",
        bits=64,
        n_blocks=n_blocks,
        max_block_size=max_block_size,
    )
