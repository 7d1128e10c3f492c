"""The closed-loop workloads.

Each workload generates its ``inputs`` once (tables and oracle state),
has a ``setup`` (input files, setup encodes; run several times so set-up
time is a median) and a ``cycle``: one iteration
of its fixed op mix, issued by one client, each op waiting for the
previous one. Every op is timed on its own and then checked against the
oracle outside the timed region; an op that raises or fails its check
counts as failed. Op arguments (urls, windows, mask sets, delete keys,
deltas) come from a generator seeded by the run's seed.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from collections import Counter
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import gen
import oracle
from ledger import Tracer, tree_cpu_s

DAY = 86400


def block_rows(rows: int) -> int:
    """target_rows_per_block as the repository's own bench sets it: ~256
    blocks, but never under 1024 rows, where per-block Arrow batch
    overhead stops being amortized and would dominate the layers."""
    return max(1024, rows // 256)


@dataclass
class Ctx:
    """Per-run state shared by setup, cycles and checks."""

    spark: object
    seed: int
    tracer: Tracer
    rng: np.random.Generator
    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)
    lat: dict = field(default_factory=dict)
    cpu: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)
    recording: bool = True

    def op(self, name: str, fn, check=None):
        """Run one timed op, then its check (untimed). Records the op's
        wall time and the CPU time its process tree used. Returns fn's
        result, or None when it raised."""
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            with self.tracer.span(name):
                out = fn()
        except Exception as e:  # an op that raises is a failed op, the loop goes on
            if self.recording:
                self.attempted += 1
            self._fail(name, _brief(e))
            return None
        dt = time.perf_counter() - t0
        cpu = tree_cpu_s() - c0
        why = None
        if check is not None and self.recording:
            try:
                why = check(out)
            except Exception as e:  # a check that cannot run is a failed check
                why = "check raised " + _brief(e)
        if self.recording:
            self.attempted += 1
            self.lat.setdefault(name, []).append(dt)
            self.cpu.setdefault(name, []).append(cpu)
        if why:
            self._fail(name, why)
        return out

    def _fail(self, name: str, why: str) -> None:
        if not self.recording:
            raise RuntimeError(f"warm-up op {name} failed: {why}")
        self.failed += 1
        if len(self.failures) < 20:
            self.failures.append({"op": name, "why": why[:300]})

    def call(self, name: str, fn, *a, **kw):
        """A call into the package, as a child span of the current op."""
        with self.tracer.span(name):
            return fn(*a, **kw)


def _brief(e: Exception) -> str:
    lines = str(e).strip().splitlines()
    return f"{type(e).__name__}: {lines[0] if lines else ''}"


def write_input(table: pa.Table, path: str) -> str:
    pq.write_table(table, path, row_group_size=4096)
    return path


def ts_range(table: pa.Table) -> tuple[int, int]:
    us = pc.cast(table["warc_ts"], pa.int64())
    return int(pc.min(us).as_py()) // 1_000_000, int(pc.max(us).as_py()) // 1_000_000 + 1


def dir_files(path: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


def bytes_written(before: dict[str, int], after: dict[str, int]) -> int:
    """Bytes in files that are new or changed between two snapshots."""
    return sum(s for p, s in after.items() if before.get(p) != s)


class Workload:
    name = ""
    ops: dict[str, int] = {}  # op -> times it runs per cycle

    def inputs(self, seed: int) -> dict:
        """Generated tables and the oracle state derived from them."""
        raise NotImplementedError

    def setup(self, ctx: Ctx, d: str, inp: dict) -> dict:
        """Input files and set-up encodes under ``d``; returns the state
        the cycles use."""
        raise NotImplementedError

    def cycle(self, ctx: Ctx, st: dict) -> None:
        raise NotImplementedError

    def warm(self, ctx: Ctx, st: dict) -> None:
        """The untimed, unchecked warm-up before measuring."""
        self.cycle(ctx, st)

    def named(self, ctx: Ctx, st: dict, p50: dict) -> dict:
        """The workload's own figures for the detail record:
        name -> (value, unit)."""
        raise NotImplementedError

    def layer_probe(self, ctx: Ctx, st: dict) -> None:
        """Traced run only: layer counts that need extra work."""


# ----------------------------------------------------------------- ingest --


class Ingest(Workload):
    """Full-table encodes, alternating effort max and fast, each into a
    fresh path. At 1024-row blocks the planned LPT path needs est_rows >=
    64 x 1024 = 65,536 rows, which does not fit the run's time budget, so
    both efforts run on the hash side of that gate (hash placement,
    grouped applyInArrow)."""

    name = "ingest"
    rows = 16_000
    ops = {"encode_max": 1, "encode_fast": 1}

    def inputs(self, seed):
        t = gen.generate(seed, self.rows)
        return {"table": t, "hash": gen.content_hash(t), "digests": oracle.row_digests(t)}

    def setup(self, ctx, d, inp):
        t = inp["table"]
        return {
            "input": write_input(t, os.path.join(d, "input.parquet")),
            "rows": t.num_rows,
            "ts_range": ts_range(t),
            "digests": inp["digests"],
            "gz": {},
            "ratios": {},
            "dir": d,
            "n": 0,
        }

    def cycle(self, ctx, st):
        from duckdb_raquet_spark import encode, scan

        for effort in ("max", "fast"):
            st["n"] += 1
            out = os.path.join(st["dir"], f"enc{st['n']}")

            def run():
                return ctx.call(
                    "encode.encode_to_path",
                    encode.encode_to_path,
                    ctx.spark,
                    ctx.spark.read.parquet(st["input"]),
                    out,
                    est_rows=st["rows"],
                    ts_range=st["ts_range"],
                    target_rows_per_block=block_rows(st["rows"]),
                    effort=effort,
                )

            def check(man):
                got = oracle.spark_row_digests(scan.read_rows(ctx.spark, out))
                why = oracle.digests_diff(got, st["digests"])
                if why:
                    return why
                key = json.dumps(man["key"], sort_keys=True)
                if key not in st["gz"]:
                    import bench

                    st["gz"][key] = bench.gzip_baseline_bytes(ctx.spark, st["input"], man)
                if man["enc_bytes"] > st["gz"][key]:
                    return f"enc_bytes {man['enc_bytes']} > zlib baseline {st['gz'][key]}"
                return None

            man = ctx.op(f"encode_{effort}", run, check)
            if man is not None:
                st["ratios"][effort] = (man["enc_bytes"], man["raw_bytes"])
            shutil.rmtree(out, ignore_errors=True)

    def named(self, ctx, st, p50):
        out = {}
        for eff, (e, r) in st["ratios"].items():
            if f"encode_{eff}" in p50:
                out[f"encode_{eff}_mb_s"] = (r / 1e6 / p50[f"encode_{eff}"], "MB/s")
            out[f"stored_ratio_{eff}"] = (e / r, "ratio")
        return out


# ------------------------------------------------------------------ serve --


class Serve(Workload):
    """Read-only mix on a max-effort table encoded during set-up."""

    name = "serve"
    rows = 8_000
    ops = {"lookup": 4, "range_scan": 2, "stats": 1, "decode_full": 1}

    def inputs(self, seed):
        t = gen.generate(seed, self.rows)
        lens = pc.utf8_length(t["text"])
        return {
            "table": t,
            "hash": gen.content_hash(t),
            "urls": t["url"].to_pylist(),
            "texts": t["text"].to_pylist(),
            "langs": t["lang"].to_pylist(),
            "ts_us": pc.cast(t["warc_ts"], pa.int64()).to_numpy(),
            "len_stats": (
                pc.count(lens).as_py(),
                pc.sum(lens).as_py(),
                pc.min(lens).as_py(),
                pc.max(lens).as_py(),
            ),
            "lang_counts": dict(Counter(x for x in t["lang"].to_pylist() if x is not None)),
            "checksum": oracle.checksum(t, ("url", "text", "lang")),
            "decode_mb": sum(
                t[c].nbytes for c in ("url", "text", "lang")
            ) / 1e6,
        }

    def setup(self, ctx, d, inp):
        from duckdb_raquet_spark import encode

        t = inp["table"]
        path = os.path.join(d, "table")
        man = ctx.call(
            "encode.encode_to_path",
            encode.encode_to_path,
            ctx.spark,
            ctx.spark.read.parquet(write_input(t, os.path.join(d, "input.parquet"))),
            path,
            est_rows=self.rows,
            ts_range=ts_range(t),
            target_rows_per_block=block_rows(self.rows),
            effort="max",
        )
        return {**inp, "path": path, "man": man, "stored_ratio": man["enc_bytes"] / man["raw_bytes"]}

    def _lookup(self, ctx, st, i, with_ts):
        from duckdb_raquet_spark import scan

        url = st["urls"][i]
        ts = int(st["ts_us"][i] // 1_000_000) if with_ts else None

        def run():
            return ctx.call(
                "scan.point_lookup",
                lambda: scan.point_lookup(
                    ctx.spark, st["path"], url, ts_epoch=ts,
                    cols=["text", "lang", "warc_ts"], man=st["man"],
                ).collect(),
            )

        def check(rows):
            if len(rows) != 1:
                return f"lookup {url[:60]} returned {len(rows)} rows"
            r = rows[0]
            want = (st["texts"][i], st["langs"][i], int(st["ts_us"][i]))
            got = (r["text"], r["lang"], int(r["warc_ts"].timestamp() * 1_000_000))
            return None if got == want else f"lookup {url[:60]} row differs"

        ctx.op("lookup", run, check)

    def _range(self, ctx, st, lo, hi):
        from duckdb_raquet_spark import scan

        def run():
            return ctx.call(
                "scan.range_scan_ts",
                lambda: scan.range_scan_ts(
                    ctx.spark, st["path"], lo, hi, cols=["url", "lang"], man=st["man"]
                ).collect(),
            )

        def check(rows):
            sel = np.flatnonzero((st["ts_us"] >= lo * 1_000_000) & (st["ts_us"] < hi * 1_000_000))
            want = sorted((st["urls"][i], st["langs"][i] or "") for i in sel)
            got = sorted((r["url"], r["lang"] or "") for r in rows)
            return None if got == want else f"range [{lo},{hi}) {len(got)} rows, want {len(want)}"

        ctx.op("range_scan", run, check)

    def cycle(self, ctx, st):
        from duckdb_raquet_spark import scan

        n = len(st["urls"])
        for k in range(self.ops["lookup"]):
            self._lookup(ctx, st, int(ctx.rng.integers(0, n)), with_ts=k % 2 == 0)
        for _ in range(self.ops["range_scan"]):
            lo = gen.YEAR_START + int(ctx.rng.integers(0, 358 * DAY))
            self._range(ctx, st, lo, lo + int(ctx.rng.integers(1, 8)) * DAY)

        def stats():
            blocks = scan.read_blocks(ctx.spark, st["path"])
            s = ctx.call("scan.summary_stats", lambda: scan.summary_stats(blocks, "len_text").first())
            c = ctx.call("scan.cat_value_counts", lambda: scan.cat_value_counts(blocks, "lang").collect())
            return s, c

        def check_stats(out):
            s, c = out
            got = (s["cnt"], s["sum"], s["min"], s["max"])
            if got != st["len_stats"]:
                return f"summary_stats {got} != {st['len_stats']}"
            counts = {r["value"]: r["cnt"] for r in c}
            return None if counts == st["lang_counts"] else "cat_value_counts differ"

        ctx.op("stats", stats, check_stats)

        def decode():
            blocks = scan.read_blocks(ctx.spark, st["path"])
            return ctx.call(
                "scan.decode_blocks",
                lambda: oracle.spark_checksum(
                    scan.decode_blocks(blocks, st["man"], ["url", "text", "lang"]),
                    ("url", "text", "lang"),
                ),
            )

        ctx.op("decode_full", decode, lambda got: oracle.diff(got, st["checksum"]))

    def named(self, ctx, st, p50):
        lk = ctx.lat.get("lookup", [])
        out = {"stored_ratio": (st["stored_ratio"], "ratio")}
        if lk:
            from ledger import latency_summary

            s = latency_summary(lk)
            out["lookup_p50_s"] = (s["p50"], "s")
            if "tail" in s:
                out[f"lookup_p{s['tail_p']:g}_s"] = (s["tail"], "s")
        for op, name in (("range_scan", "range_scan_p50_s"), ("stats", "stats_p50_s")):
            if op in p50:
                out[name] = (p50[op], "s")
        if "decode_full" in p50:
            out["decode_mb_s"] = (st["decode_mb"] / p50["decode_full"], "MB/s")
        return out

    def layer_probe(self, ctx, st):
        from pyspark.sql import functions as F

        from duckdb_raquet_spark import blockkey as bk
        from duckdb_raquet_spark import scan

        man = st["man"]
        key = man["key"]
        blocks = scan.read_blocks(ctx.spark, st["path"])
        reads = []
        for k in range(6):
            i = int(ctx.rng.integers(0, len(st["urls"])))
            if k % 2 == 0:
                b = bk.key_for_point(
                    st["urls"][i], int(st["ts_us"][i] // 1_000_000),
                    key["resolution"], key["bucket_seconds"], key.get("ts_origin", 0),
                )
                pruned = blocks.where(F.col(scan.BLOCK) == b)
            else:
                pruned = scan.prune_blocks_for_url_hash(blocks, man, bk.hash_x_from_url(st["urls"][i]))
            reads.append(pruned.count())
        total = blocks.count()
        fracs = []
        for _ in range(4):
            lo = gen.YEAR_START + int(ctx.rng.integers(0, 358 * DAY))
            hi = lo + int(ctx.rng.integers(1, 8)) * DAY
            fracs.append(scan.prune_blocks_for_ts(blocks, man, lo, hi).count() / total)
        ctx.layer["scan.lookup_blocks_read"] = float(np.median(reads))
        ctx.layer["scan.range_blocks_frac"] = float(np.median(fracs))


# --------------------------------------------------------------- maintain --


class Maintain(Workload):
    """Writes beside reads on a 2-chunk fast-effort table kept above the
    re-encode spread's cores x 2 MB planning gate. Every cycle starts from
    an identical copy of the set-up table."""

    name = "maintain"
    rows = 14_000
    delta_frac = 0.02
    ops = {"append": 2, "mask": 1, "delete": 1, "compact": 1}

    def inputs(self, seed):
        t = gen.generate(seed, self.rows)
        return {"table": t, "hash": gen.content_hash(t)}

    def setup(self, ctx, d, inp):
        from duckdb_raquet_spark import encode

        t = inp["table"]
        path = write_input(t, os.path.join(d, "input.parquet"))
        base = os.path.join(d, "base")
        man = ctx.call(
            "encode.encode_to_path",
            encode.encode_to_path,
            ctx.spark,
            ctx.spark.read.parquet(path),
            base,
            chunks=2,
            est_rows=self.rows,
            ts_range=ts_range(t),
            target_rows_per_block=block_rows(self.rows),
            effort="fast",
        )
        return {
            "base": base,
            "table": t,
            "dir": d,
            "stored_ratio": man["enc_bytes"] / man["raw_bytes"],
            "next_id": self.rows,
        }

    def cycle(self, ctx, st):
        from duckdb_raquet_spark import encode, scan

        cur = os.path.join(st["dir"], "cur")
        shutil.rmtree(cur, ignore_errors=True)
        shutil.copytree(st["base"], cur)
        live = st["table"]
        n_delta = max(1, int(self.rows * self.delta_frac))

        def verify(expected: pa.Table):
            got = oracle.spark_checksum(scan.read_rows(ctx.spark, cur).select(*oracle.COLUMNS))
            return oracle.diff(got, oracle.checksum(expected))

        delta_raw = 0
        for _ in range(2):
            delta = gen.generate(ctx.seed, n_delta, start=st["next_id"])
            st["next_id"] += n_delta
            dpath = write_input(delta, os.path.join(st["dir"], "delta.parquet"))
            before = dir_files(cur)
            out = ctx.op(
                "append",
                lambda: ctx.call(
                    "encode.append_chunk", encode.append_chunk,
                    ctx.spark, ctx.spark.read.parquet(dpath), cur, effort="fast",
                ),
                lambda _m, e=pa.concat_tables([live, delta]): verify(e),
            )
            if out is not None:
                ctx.layer.setdefault("append_w", []).append(
                    bytes_written(before, dir_files(cur)) / delta.nbytes
                )
                delta_raw += delta.nbytes
            live = pa.concat_tables([live, delta])

        langs = sorted({x for x in live["lang"].to_pylist() if x})
        allowed = [str(x) for x in ctx.rng.choice(langs[:4], 2, replace=False)]

        def mask():
            man = scan.read_manifest(ctx.spark, cur)
            blocks = scan.read_blocks_at(ctx.spark, cur)
            masked = ctx.call("scan.mask_values_in", scan.mask_values_in, blocks, man, "lang", allowed)
            return man, masked.localCheckpoint(eager=True)

        def check_mask(out):
            man, masked = out
            want = live.filter(pc.is_in(live["lang"], pa.array(allowed)))
            got = oracle.spark_checksum(scan.decode_blocks(masked, man).select(*oracle.COLUMNS))
            ctx.layer.setdefault("mask_ratio", []).append(got["n"] / max(1, want.num_rows))
            why = oracle.diff(got, oracle.checksum(want))
            if why:
                return f"mask lang in {allowed}: {got['n']} rows decoded, {want.num_rows} expected; {why}"
            return None

        ctx.op("mask", mask, check_mask)

        urls = live["url"]
        keys = pc.take(urls, pa.array(ctx.rng.choice(len(urls), n_delta, replace=False)))
        kept = live.filter(pc.invert(pc.is_in(live["url"], keys)))

        def delete():
            ctx.call(
                "encode.delete_rows", encode.delete_rows,
                ctx.spark, cur, "url", keys.to_pylist(),
            )
            return ctx.call(
                "scan.read_rows",
                lambda: oracle.spark_checksum(scan.read_rows(ctx.spark, cur).select(*oracle.COLUMNS)),
            )

        ctx.op("delete", delete, lambda got: oracle.diff(got, oracle.checksum(kept)))

        before = dir_files(cur)
        man = ctx.op(
            "compact",
            lambda: ctx.call(
                "encode.compact_chunks", encode.compact_chunks,
                ctx.spark, cur, chunk_ids=[2, 3], effort="fast",
            ),
            lambda _m: verify(kept),
        )
        if man is not None and delta_raw:
            ctx.layer.setdefault("compact_w", []).append(
                bytes_written(before, dir_files(cur)) / delta_raw
            )

    def named(self, ctx, st, p50):
        out = {"stored_ratio": (st["stored_ratio"], "ratio")}
        for op in ("append", "mask", "delete", "compact"):
            if op in p50:
                out[f"{op}_p50_s"] = (p50[op], "s")
        return out

    def layer_probe(self, ctx, st):
        for key, name in (
            ("mask_ratio", "placement.mask_rows_out_per_in"),
            ("append_w", "fsio.append_bytes_per_raw_byte"),
            ("compact_w", "fsio.compact_bytes_per_delta_byte"),
        ):
            if ctx.layer.get(key):
                ctx.layer[name] = float(np.median(ctx.layer[key]))


# ----------------------------------------------------------------- curate --


class Curate(Workload):
    """Corpus curation over the corpus text: MinHash/LSH pairs ->
    connected components, repetition and quality signals, BPE merges."""

    name = "curate"
    rows = 1_500
    n_merges = 4
    warm_rows = 256
    ops = {"minhash": 1, "components": 1, "repetition": 1, "quality": 1, "bpe": 1}

    def inputs(self, seed):
        t = gen.generate(seed, self.rows)
        docs = pa.table({"id": pa.array(range(self.rows), pa.int64()), "text": t["text"]})
        return {"docs": docs, "hash": gen.content_hash(t), "texts": t["text"].to_pylist()}

    def setup(self, ctx, d, inp):
        n = self.warm_rows
        warm = {
            "docs": write_input(inp["docs"].slice(0, n), os.path.join(d, "warm_docs.parquet")),
            "texts": inp["texts"][:n],
        }
        return {**inp, "docs": write_input(inp["docs"], os.path.join(d, "docs.parquet")), "warm": warm}

    def warm(self, ctx, st):
        """One cycle on the first ``warm_rows`` docs: the first call of
        each op pays most of its cold start, whatever the input size."""
        self.cycle(ctx, st["warm"])

    def cycle(self, ctx, st):
        from duckdb_raquet_spark.functions import dedup, text, tokenizer

        texts = st["texts"]
        docs = ctx.spark.read.parquet(st["docs"])
        sample = [int(i) for i in ctx.rng.choice(len(texts), 40, replace=False)]

        def minhash():
            pairs = ctx.call(
                "dedup.minhash_lsh_pairs",
                lambda: dedup.minhash_lsh_pairs(docs, "id", "text", 0.5, k=32, bands=8)
                .select("a", "b", "jac")
                .localCheckpoint(eager=True),
            )
            return pairs, pairs.collect()

        def check_pairs(out):
            _, rows = out
            if not rows:
                return "no near-duplicate pairs found"
            pick = ctx.rng.choice(len(rows), min(40, len(rows)), replace=False)
            for k in pick:
                a, b, jac = rows[k]
                want = oracle.jaccard(texts[a], texts[b])
                if abs(want - jac) > 1e-9 or want < 0.5:
                    return f"pair ({a},{b}) jaccard {jac} != {want}"
            return None

        res = ctx.op("minhash", minhash, check_pairs)
        if res is not None:
            pairs_df, rows = res

            def check_comp(comp):
                want = oracle.components([(r[0], r[1]) for r in rows])
                got = {r[0]: r[1] for r in comp}
                return None if got == want else f"{sum(got.get(k) != v for k, v in want.items())} labels differ"

            ctx.op(
                "components",
                lambda: ctx.call(
                    "dedup.connected_components",
                    lambda: dedup.connected_components(pairs_df).collect(),
                ),
                check_comp,
            )

        def check_rep(rows):
            got = {r["id"]: (r["dup_token_frac"], r["top_2gram_frac"]) for r in rows}
            for i in sample:
                want = oracle.repetition(texts[i])
                g = got.get(i)
                if g is None or max(abs(a - b) for a, b in zip(g, want)) > 1e-9:
                    return f"repetition of doc {i}: {g} != {want}"
            return None if len(got) == len(texts) else f"{len(got)} docs scored"

        ctx.op(
            "repetition",
            lambda: ctx.call(
                "text.repetition_scores",
                lambda: text.repetition_scores(docs, "id", "text").collect(),
            ),
            check_rep,
        )

        def check_q(rows):
            got = {r["id"]: (r["n_tokens"], r["mean_token_len"], r["stopword_ratio"]) for r in rows}
            for i in sample:
                if got.get(i) != oracle.quality(texts[i], text.STOPWORDS_EN):
                    return f"quality of doc {i}: {got.get(i)}"
            return None if len(got) == len(texts) else f"{len(got)} docs scored"

        ctx.op(
            "quality",
            lambda: ctx.call(
                "text.quality_columns",
                lambda: docs.select("id", *text.quality_columns("text")).collect(),
            ),
            check_q,
        )

        def check_bpe(merges):
            if len(merges) != self.n_merges:
                return f"{len(merges)} merges learned, {self.n_merges} asked"
            freqs = [m["freq"] for m in merges]
            if any(b > a for a, b in zip(freqs, freqs[1:])):
                return "merge frequencies increase"
            top = oracle.top_bpe_pair(texts)
            return None if freqs[0] == top else f"first merge freq {freqs[0]} != {top}"

        ctx.op(
            "bpe",
            lambda: ctx.call(
                "tokenizer.learn_bpe",
                tokenizer.learn_bpe,
                docs.select(tokenizer.normalize_col("text").alias("t")),
                "t",
                n_merges=self.n_merges,
            ),
            check_bpe,
        )

    def named(self, ctx, st, p50):
        cyc = sum(p50.get(op, 0.0) for op in self.ops)
        return {"curate_docs_per_s": (self.rows / cyc, "docs/s")} if cyc else {}


# ------------------------------------------------------------------- read --


class Read(Workload):
    """Serve's read mix, then curate's pipeline, in one run: every layer
    that reads (scan, codec decode, functions) and none that writes.
    Together they share one session start and one cold start."""

    name = "read"
    parts = (Serve(), Curate())
    ops = {op: n for w in parts for op, n in w.ops.items()}

    def inputs(self, seed):
        inp = [w.inputs(seed) for w in self.parts]
        return {"parts": inp, "hash": "+".join(i["hash"] for i in inp)}

    def setup(self, ctx, d, inp):
        return {"parts": [w.setup(ctx, d, i) for w, i in zip(self.parts, inp["parts"])]}

    def warm(self, ctx, st):
        for w, s in zip(self.parts, st["parts"]):
            w.warm(ctx, s)

    def cycle(self, ctx, st):
        for w, s in zip(self.parts, st["parts"]):
            w.cycle(ctx, s)

    def named(self, ctx, st, p50):
        out = {}
        for w, s in zip(self.parts, st["parts"]):
            out.update(w.named(ctx, s, p50))
        return out

    def layer_probe(self, ctx, st):
        for w, s in zip(self.parts, st["parts"]):
            w.layer_probe(ctx, s)


WORKLOADS = {w.name: w for w in (Ingest(), Serve(), Maintain(), Curate(), Read())}
