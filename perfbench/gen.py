"""Seeded webtext generator owned by the benchmark.

Produces ``url, warc_ts, html, text, lang`` rows as a pyarrow Table with
the traits the engine's layers react to: Zipfian hot domains, per-domain
boilerplate (and boilerplate-only "thin" pages in hot domains), exact and
near duplicate documents, per-domain languages, timestamps sorted within
each domain with crawl bursts, html carrying invalid UTF-8 bytes, and a
fixed set of edge rows. The same ``(seed, n_rows, start)`` always gives
the same table; :func:`content_hash` fingerprints it.
"""

from __future__ import annotations

import functools
import operator
import hashlib

import numpy as np
import pyarrow as pa

SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)

YEAR_START = 1704067200  # 2024-01-01 UTC
YEAR_SECONDS = 366 * 86400
LANGS = ["en", "de", "fr", "es", "zh", "ru", "pt", "it", "ja", "nl", "pl", "sv"]
LANG_W = np.array([0.55, 0.10, 0.08, 0.08, 0.06, 0.05, 0.02, 0.02, 0.01, 0.01, 0.01, 0.01])
N_DOMAINS = 600
VOCAB_SIZE = 20_000
AVG_WORDS = 150
EDGE_ROWS = 10


def _vocab(rng: np.random.Generator) -> np.ndarray:
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype="S1")
    lens = rng.integers(2, 11, VOCAB_SIZE)
    flat = rng.choice(letters, int(lens.sum()))
    cuts = np.cumsum(lens)[:-1]
    return np.array([b"".join(w).decode() for w in np.split(flat, cuts)])


@functools.lru_cache(maxsize=1)
def _domain_tables() -> tuple[np.ndarray, list[str], np.ndarray, list[str], np.ndarray]:
    """Per-domain language, boilerplate and crawl base time, and the
    vocabulary. They are fixed: the seed draws rows from one corpus
    "language", so inputs of different seeds differ by sampling only.
    The last item is the CDF of body-word ranks, Zipf(1.25) over the
    vocabulary."""
    rng = np.random.default_rng(20240101)
    vocab = _vocab(rng)
    lang = rng.choice(len(LANGS), N_DOMAINS, p=LANG_W / LANG_W.sum())
    boiler = []
    for d in range(N_DOMAINS):
        words = vocab[(rng.zipf(1.3, rng.integers(12, 40)) - 1) % VOCAB_SIZE]
        boiler.append(f"d{d:04d} " + " ".join(words))
    base = rng.integers(0, YEAR_SECONDS - 30 * 86400, N_DOMAINS)
    cdf = np.cumsum(np.arange(1, VOCAB_SIZE + 1, dtype=np.float64) ** -1.25)
    return lang, boiler, base, vocab.tolist(), cdf / cdf[-1]


def generate(seed: int, n_rows: int, *, start: int = 0) -> pa.Table:
    """Rows ``start .. start+n_rows-1`` of the seed's corpus. Row ids make
    urls unique across calls with disjoint ranges."""
    lang_of, boiler, base_ts, vocab, word_cdf = _domain_tables()
    rng = np.random.default_rng((seed, start))
    ids = np.arange(start, start + n_rows)
    dom = (rng.zipf(1.2, n_rows) - 1) % N_DOMAINS

    # body words: Zipfian draws over the vocabulary
    n_words = np.maximum(3, rng.poisson(AVG_WORDS, n_rows))
    thin = (dom < 20) & (rng.random(n_rows) < 0.15)  # boilerplate-only pages
    n_words[thin] = rng.integers(0, 4, int(thin.sum()))
    ranks = np.searchsorted(word_cdf, rng.random(int(n_words.sum())), side="right")
    flat = operator.itemgetter(*ranks.tolist())(vocab)
    ends = np.cumsum(n_words).tolist()
    bodies = [" ".join(flat[i:j]) for i, j in zip([0] + ends[:-1], ends)]
    texts = [f"{boiler[d]} {b}".rstrip() for d, b in zip(dom, bodies)]

    # exact and near duplicates of an earlier page of the same domain
    first_of = {}
    r_dup = rng.random(n_rows)
    for i in range(n_rows):
        d = int(dom[i])
        j = first_of.setdefault(d, i)
        if j != i and r_dup[i] < 0.06:
            texts[i] = texts[j]
        elif j != i and r_dup[i] < 0.10:
            w = texts[j].split(" ")
            k = int(rng.integers(0, len(w)))
            w[k] = vocab[int(rng.integers(0, VOCAB_SIZE))]
            texts[i] = " ".join(w)

    # timestamps: per-domain base + sorted small gaps + occasional bursts
    order = np.lexsort((ids, dom))
    gaps = rng.integers(1, 600, n_rows) + (rng.random(n_rows) < 0.02) * rng.integers(
        86400, 5 * 86400, n_rows
    )
    ts = np.empty(n_rows, dtype=np.int64)
    ds = dom[order]
    cs = np.cumsum(gaps[order])
    starts = np.r_[0, np.flatnonzero(np.diff(ds)) + 1]
    offs = np.repeat(cs[starts] - gaps[order][starts], np.diff(np.r_[starts, n_rows]))
    ts[order] = base_ts[ds] + (cs - offs)
    ts = YEAR_START + np.minimum(ts, YEAR_SECONDS - 1)

    urls = [
        f"https://d{d:04d}.example.com/p{i % 23}/doc-{i}" for d, i in zip(dom, ids)
    ]
    langs = [LANGS[lang_of[d]] for d in dom]
    htmls = []
    for i, t in enumerate(texts):
        # invalid UTF-8 tail: lone continuation / overlong / 0xff bytes
        tail = bytes([0xFF, 0xC0, 0x80 | (int(ids[i]) % 64), int(ids[i]) % 251])
        htmls.append(
            b"<html><head><title>"
            + urls[i].encode()
            + b"</title></head><body><p>"
            + t.encode()
            + b"</p></body></html>"
            + tail
        )

    if start == 0:
        _pin_edge_rows(urls, ts, htmls, texts, langs, n_rows)
    return pa.table(
        {
            "url": pa.array(urls, pa.string()),
            "warc_ts": pa.array(ts * 1_000_000, pa.int64()).cast(SCHEMA.field("warc_ts").type),
            "html": pa.array(htmls, pa.binary()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
        },
        schema=SCHEMA,
    )


def _pin_edge_rows(urls, ts, htmls, texts, langs, n_rows) -> None:
    """The fixture edge rows, on the first ids of every corpus."""
    if n_rows < EDGE_ROWS:
        return
    texts[0] = ""
    texts[1] = "   \t  "
    texts[2] = "x"
    urls[3] = "https://d0000.example.com/" + "p" * 2000 + "/doc-3"
    langs[4] = None
    htmls[5] = b""
    ts[6] = ts[7]  # same-second tie, same domain below
    urls[6] = urls[7].replace("doc-7", "doc-6")
    texts[8] = "emoji \U0001f389 CJK 中文字 RTL שלום مرحبا"
    texts[9] = "\U0001f600\U0001f601\U00010348\U0001d11e " * 40


def content_hash(table: pa.Table) -> str:
    """sha256 of the table's Arrow IPC stream: a fingerprint of the exact
    generated input, recorded with every result."""
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table)
    return hashlib.sha256(sink.getvalue().to_pybytes()).hexdigest()[:16]
