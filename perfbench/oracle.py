"""Expected results computed from the generated input alone, with
pyarrow and plain Python — never through the engine — and the matching
Spark-side digests of what the engine returned."""

from __future__ import annotations

import zlib
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

import pyarrow as pa
import pyarrow.compute as pc

COLUMNS = ("url", "warc_ts", "html", "text", "lang")
TS_BASE_US = 1704067200 * 1_000_000


def _crc(v) -> int:
    return zlib.crc32(v if isinstance(v, bytes) else v.encode())


def checksum(table: pa.Table, cols=COLUMNS) -> dict:
    """Row count, and per column its non-null count and an order-free
    digest (sum of crc32 of the value bytes; timestamps as micros)."""
    out = {"n": table.num_rows}
    for c in cols:
        vals = table[c].to_pylist()
        nn = [v for v in vals if v is not None]
        out[f"n_{c}"] = len(nn)
        if c == "warc_ts":
            us = pc.cast(table[c], pa.int64()).to_pylist()
            out[f"h_{c}"] = sum(v - TS_BASE_US for v in us if v is not None)
        else:
            out[f"h_{c}"] = sum(_crc(v) for v in nn)
    return out


def spark_checksum(df, cols=COLUMNS) -> dict:
    """The same digest as :func:`checksum`, computed by one Spark
    aggregate over the engine's output (which also forces it)."""
    from pyspark.sql import functions as F

    aggs = [F.count(F.lit(1)).alias("n")]
    for c in cols:
        aggs.append(F.count(c).alias(f"n_{c}"))
        if c == "warc_ts":
            v = F.unix_micros(F.col(c)) - F.lit(TS_BASE_US)
        else:
            v = F.crc32(F.col(c).cast("binary"))
        aggs.append(F.sum(v).alias(f"h_{c}"))
    row = df.agg(*aggs).first().asDict()
    return {k: int(v or 0) for k, v in row.items()}


def diff(got: dict, want: dict) -> str | None:
    """None when equal, else a one-line description of the mismatch."""
    bad = {k: (got.get(k), want[k]) for k in want if got.get(k) != want[k]}
    return None if not bad else f"mismatch {bad}"


def row_digests(table: pa.Table) -> list[tuple]:
    """Sorted (url, crc32 text, crc32 html, lang, ts micros), one per row:
    the per-url byte-identity invariant of an encode. A list, not a dict
    keyed by url, so that a row decoded twice shows."""
    us = pc.cast(table["warc_ts"], pa.int64()).to_pylist()
    return sorted(
        (u, _crc(t), _crc(h), lang, ts)
        for u, t, h, lang, ts in zip(
            table["url"].to_pylist(),
            table["text"].to_pylist(),
            table["html"].to_pylist(),
            table["lang"].to_pylist(),
            us,
        )
    )


def spark_row_digests(df) -> list[tuple]:
    from pyspark.sql import functions as F

    rows = df.select(
        "url",
        F.crc32(F.col("text").cast("binary")).alias("t"),
        F.crc32("html").alias("h"),
        "lang",
        F.unix_micros("warc_ts").alias("ts"),
    ).collect()
    return sorted(tuple(r) for r in rows)


def digests_diff(got: list[tuple], want: list[tuple]) -> str | None:
    if got == want:
        return None
    if len(got) != len(want):
        return f"{len(got)} rows decoded, {len(want)} expected"
    dup = Counter(got) - Counter(set(got))
    if dup:
        return f"{sum(dup.values())} rows decoded more than once, e.g. {next(iter(dup))[0][:80]}"
    extra = Counter(got) - Counter(want)
    return f"{sum(extra.values())} rows differ, e.g. {next(iter(extra))[0][:80]}"


# ------------------------------------------------------------- curate ----


def shingles(text: str, n: int = 3) -> set[str]:
    """Word n-gram shingles with single-space tokenization (a text of
    fewer than n tokens is one shingle)."""
    toks = text.split(" ")
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


def components(pairs: list[tuple[int, int]]) -> dict[int, int]:
    """id -> smallest id of its connected component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def repetition(text: str) -> tuple[float, float]:
    """(dup_token_frac, top_2gram_frac) with single-space tokens; a text
    without a 2-gram has top_2gram_frac 0."""
    toks = text.split(" ")
    dup = 1.0 - len(set(toks)) / len(toks)
    if len(toks) < 2:
        return dup, 0.0
    grams = Counter(f"{a} {b}" for a, b in zip(toks, toks[1:]))
    return dup, max(grams.values()) / sum(grams.values())


def round4(x: float) -> float:
    """Spark's round(double, 4): half-up on the double's decimal form."""
    return float(Decimal(repr(x)).quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP))


def quality(text: str, stopwords: list[str]) -> tuple[int, float, float]:
    """(n_tokens, mean_token_len, stopword_ratio), rounded as the engine
    rounds them."""
    toks = text.split(" ")
    n = len(toks)
    chars = sum(len(t) for t in toks)
    sw = sum(1 for t in toks if t in stopwords)
    return n, round4(chars / n), round4(sw / n)


def top_bpe_pair(texts: list[str]) -> int:
    """Frequency of the most frequent adjacent character pair over the
    normalized corpus's words — the first BPE merge's count."""
    import re

    words = Counter()
    for t in texts:
        for w in re.sub(r"[^a-z0-9 ]", " ", t.lower()).split(" "):
            if w:
                words[w] += 1
    pairs = Counter()
    for w, f in words.items():
        for a, b in zip(w, w[1:]):
            pairs[a + b] += f
    return max(pairs.values()) if pairs else 0
