"""Decoders are injected per call, never through module state.

r8 VERDICT "what's wrong" #2: the multimodal queries used to call a
module-global decoder setter at query-construction time with no
save/restore, so CONSTRUCTING any of them silently wiped a
caller-injected decoder for the rest of the session. `multimodal` now
has one mechanism, the per-call ``decoder=`` argument (``None``, the
default, is the stdlib magic-byte dispatch); this pins its semantics."""

from __future__ import annotations

from ndr_import_spark.operators import multimodal as MM


def test_per_call_none_forces_stdlib_dispatch(spark):
    """The default and ``decoder=None`` decode a WAV payload with the
    stdlib path; a decoder passed for one call applies to that call
    only."""
    from ndr_import_spark.functions.wav import encode_wav

    # closure, not a module-level function: cloudpickle serialises nested
    # functions by value, while a test-module-level function pickles by
    # reference to a module the executors can't import
    def canary(data):
        return 1, 16000, [0.0]

    wav = encode_wav(8000, [0.0, 0.5, -0.5, 0.25])
    df = spark.createDataFrame(
        [(1, "audio", "audio/wav", None, None, None, bytearray(wav))],
        MM.MEDIA_SCHEMA,
    )
    rows = MM.extract_audio_features(df, decoder=canary).collect()
    assert rows[0].n_samples == 1  # the injected canary
    rows = MM.extract_audio_features(df, decoder=None).collect()
    assert rows[0].n_samples == 4  # stdlib decode, not the 1-sample canary
    rows = MM.extract_audio_features(df).collect()
    assert rows[0].n_samples == 4  # the earlier injection left no state
