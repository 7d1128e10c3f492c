"""In-process codec kernel microbench: the ``codecs.*`` and ``selector.*``
layer metrics, with no Spark involved. One seeded block per column is
encoded at both efforts and decoded on this thread after a warm-up; every
decode is checked bit-exact against its input."""

from __future__ import annotations

import statistics
import time

import pyarrow as pa

BLOCK_ROWS = 1000
REPS = 3

# codec name (selector.codec_name) -> value of encode_column_arrow's force=
_FORCE = {"str_plain": "plain", "dict": "dict", "fsst": "fsst", "zlib": "zlib", "bz2": "bz2", "zstd": "zstd"}


def _timed(fn) -> tuple[float, object]:
    """Median wall time of REPS calls after one warm-up call."""
    out = fn()
    ts = []
    for _ in range(REPS):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    return statistics.median(ts), out


def _int_winner(name: str):
    from duckdb_raquet_spark.codecs import ints

    return {
        "plain": ints.encode_plain,
        "for+bitpack": ints.encode_for,
        "delta+for+bitpack": ints.encode_delta,
        "rle": ints.encode_rle,
    }.get(name)


def kernel_metrics(table: pa.Table) -> tuple[dict[str, float], list[str]]:
    """``codecs.<col>.{encode_max,encode_fast,decode}_mb_s`` and
    ``selector.<col>.race_x`` for the first block of ``table`` (edge rows
    included); returns (metrics, failed checks)."""
    from duckdb_raquet_spark import selector

    kinds = {
        "url": selector.KIND_STRING,
        "text": selector.KIND_STRING,
        "html": selector.KIND_BINARY,
        "lang": selector.KIND_STRING,
        "warc_ts": selector.KIND_TIMESTAMP,
    }
    block = table.slice(0, BLOCK_ROWS)
    out: dict[str, float] = {}
    bad: list[str] = []
    for col, kind in kinds.items():
        arr = block[col].combine_chunks()
        if kind == selector.KIND_TIMESTAMP:
            raw = 8 * len(arr)
            want = arr.cast(pa.timestamp("us"))
        else:
            want = arr.cast(pa.large_string() if kind == selector.KIND_STRING else pa.large_binary())
            raw = pa.compute.sum(pa.compute.binary_length(want)).as_py() or 0
        mb = raw / 1e6
        t_max, (payload, codec, _) = _timed(
            lambda: selector.encode_column_arrow(arr, kind, effort=selector.EFFORT_MAX)
        )
        t_fast, _ = _timed(lambda: selector.encode_column_arrow(arr, kind, effort=selector.EFFORT_FAST))
        t_dec, dec = _timed(lambda: selector.decode_column_arrow(payload, kind, len(arr)))
        if not dec.equals(want):
            bad.append(f"codec {codec} on {col}: decode differs from input")
        inner = codec[len("nullable("):-1] if codec.startswith("nullable(") else codec
        if kind == selector.KIND_TIMESTAMP:
            fn = _int_winner(inner)
            vals = arr.cast(pa.int64()).to_numpy(zero_copy_only=False)
            t_win = _timed(lambda: fn(vals))[0] if fn else t_max
        elif inner in _FORCE:
            t_win = _timed(
                lambda: selector.encode_column_arrow(arr, kind, force=_FORCE[inner], effort=selector.EFFORT_MAX)
            )[0]
        else:  # const payloads have no forced form: the race is the encode
            t_win = t_max
        out[f"codecs.{col}.encode_max_mb_s"] = mb / t_max
        out[f"codecs.{col}.encode_fast_mb_s"] = mb / t_fast
        out[f"codecs.{col}.decode_mb_s"] = mb / t_dec
        out[f"selector.{col}.race_x"] = t_max / t_win
    return out, bad
