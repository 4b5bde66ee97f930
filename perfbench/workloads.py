"""The benchmark's workloads.

Each workload makes its inputs from the seed alone, runs one closed-loop
client (the next call starts when the previous one returned), checks every
output, and keeps per-call timings.  A cycle is the workload's fixed call
sequence; the timed window repeats it until ``--seconds`` have passed.

Both workloads report the same end-to-end metric slots; what each slot
times in each workload is listed in ``end_to_end`` and in
perfbench/README.md.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T

from parquet_python_spark import engine
from parquet_python_spark.operators import generic_codec, pipeline_ops
from parquet_python_spark.sources import iceberg_lite
from parquet_python_spark.tokengen import generate_tokens_df, write_tokens_table

from .checks import combine, dedup_output_ok, digest, same_digest, token_digest
from .harness import p50, tail
from .layers import codec_micro, value_shares

CHUNK_CAP = 1 << 18  # values per codec microbenchmark chunk


def _subseed(seed: int, stream: int) -> int:
    return int(np.random.SeedSequence([seed, stream]).generate_state(1)[0])


def _dir_bytes(path: str) -> int:
    total = 0
    for d, _, names in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, n)) for n in names)
    return total


def _parquet_files(path: str) -> list[str]:
    return sorted(
        os.path.join(path, n) for n in os.listdir(path) if n.endswith(".parquet")
    )


def _link_copy(src: str, dst: str) -> None:
    """Snapshot a directory by hard links (later rewrites of ``src`` leave
    ``dst`` intact; no data is copied)."""
    shutil.rmtree(dst, ignore_errors=True)
    shutil.copytree(src, dst, copy_function=os.link)


def _blocks_table(blocks_dir: str, columns) -> pa.Table:
    return pa.concat_tables(
        pq.read_table(f, columns=columns) for f in _parquet_files(blocks_dir)
    )


def content_sha256(paths) -> str:
    """Checksum of the rows in parquet files, independent of file metadata
    (writer ids, file names)."""
    h = hashlib.sha256()
    for path in paths:
        tbl = pq.read_table(path).combine_chunks().replace_schema_metadata(None)
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, tbl.schema) as w:
            w.write_table(tbl)
        h.update(sink.getvalue())
    return h.hexdigest()


class Workload:
    """Base: subclasses set the sizes and implement the hooks below."""

    name = ""
    sizes: dict = {}

    def __init__(self, ctx, scale: float = 1.0):
        self.ctx = ctx
        self.spark = ctx.spark
        self.span = ctx.tracer.span
        self.ledger = ctx.ledger
        self.size = {k: max(int(v * scale), 1) for k, v in self.sizes.items()}
        self.samples: dict[str, list[float]] = {}
        self.facts: dict = {}
        self.recording = False
        self.n_cycle = 0

    def sample(self, key: str, value: float) -> None:
        if self.recording:
            self.samples.setdefault(key, []).append(value)

    def p50(self, key: str):
        return p50(self.samples.get(key, []))

    def generate(self, dest: str) -> str:
        """Write the inputs under ``dest``; return their content checksum."""
        raise NotImplementedError

    def prepare(self, src: str) -> None:
        """Expected outputs of the inputs under ``src`` (set-up, untimed)."""
        raise NotImplementedError

    def cycle(self) -> None:
        raise NotImplementedError

    def end_to_end(self) -> dict:
        """bulk_items_per_s, write_p50_s, prune_p50_s (end-to-end slots;
        the run adds setup_s, cycle_s, peak_pss_mb, op_success_ratio) and
        read_p50_s (reported by traced runs only)."""
        raise NotImplementedError

    def named(self) -> dict:
        """The workload's own metrics by name: {name: (value, unit)}."""
        return {}

    def layer_extras(self) -> dict:
        """Per-layer numbers measured after the timed window (traced runs)."""
        return {}

    def close(self) -> None:
        pass


# ----------------------------------------------------------------- tokens

class Tokens(Workload):
    """A token table's life: bulk encode_job of long docs in a few large
    files, a full zero-shuffle decode, then a fixed sequence of small
    appends of short docs (commit an iceberg_lite snapshot, resume
    encode_job, read the current state through the grouped decode path,
    read a zone-map-pruned range), and finally compact_blocks plus a full
    read."""

    name = "tokens"
    sizes = {"bulk_docs": 8_000, "bulk_files": 4, "append_docs": 800,
             "appends": 2}
    append_max_len = 256  # short docs; bulk docs keep tokengen's 16-2048

    def generate(self, dest):
        s = self.size
        write_tokens_table(
            self.spark, os.path.join(dest, "bulk"), s["bulk_docs"],
            seed=self.ctx.seed, partitions=s["bulk_files"],
        )
        # one file per append; doc ids prefixed so they never collide with
        # the bulk table's
        (
            generate_tokens_df(
                self.spark, s["append_docs"] * s["appends"],
                seed=_subseed(self.ctx.seed, 1), max_len=self.append_max_len,
                partitions=s["appends"],
            )
            .withColumn("doc_id", F.concat(F.lit("a-"), "doc_id"))
            .write.parquet(os.path.join(dest, "stage"))
        )
        return content_sha256(
            _parquet_files(os.path.join(dest, "bulk"))
            + _parquet_files(os.path.join(dest, "stage"))
        )

    def prepare(self, src):
        rng = np.random.default_rng(_subseed(self.ctx.seed, 2))
        # zone-map range inside the "narrow" source's token band: parts of
        # the low-valued sources are skipped, the wide ones are kept
        self.lo = 100_000 + int(rng.integers(0, 32))
        self.hi = self.lo + 31
        self.bulk_dir = os.path.join(src, "bulk")
        self.bulk_names = [os.path.basename(f) for f in _parquet_files(self.bulk_dir)]
        self.stage_files = _parquet_files(os.path.join(src, "stage"))
        self.per_file = self._file_digests([self.bulk_dir, os.path.join(src, "stage")])
        self.bulk_tokens = self._want(self.bulk_names)["sum"]
        self.input_bytes = _dir_bytes(src)

    def _file_digests(self, dirs) -> dict:
        """Per input file: digests of all rows and of the rows the pruned
        read must return."""
        df = self.spark.read.parquet(*dirs)
        h = F.xxhash64("doc_id", "tokens")
        hit = F.exists("tokens", lambda t: (t >= self.lo) & (t <= self.hi))
        rows = (
            df.groupBy(F.substring_index(F.input_file_name(), "/", -1).alias("f"))
            .agg(
                F.count("*").alias("rows"),
                F.sum("n_tok").alias("sum"),
                F.bit_xor(h).alias("xor"),
                F.count_if(hit).alias("p_rows"),
                F.sum(F.when(hit, F.col("n_tok")).otherwise(0)).alias("p_sum"),
                F.bit_xor(F.when(hit, h).otherwise(0)).alias("p_xor"),
            )
            .collect()
        )
        return {r["f"]: {k: r[k] for k in r.asDict() if k != "f"} for r in rows}

    def _want(self, names, pruned=False) -> dict:
        pre = "p_" if pruned else ""
        return combine(
            {k: self.per_file[n][pre + k] for k in ("rows", "sum", "xor")}
            for n in names
        )

    def _check_report(self, rep, want) -> None:
        self.ledger.check(
            "encode_job.report",
            rep["rows"] == want["rows"] and rep["tokens"] == want["sum"],
            f"rows {rep['rows']} tokens {rep['tokens']} want {want}",
        )

    def _encode_facts(self, rep, blocks) -> dict:
        stored = _dir_bytes(blocks)
        return {
            "parts": rep["partitions"], "parts_skipped": rep["resumed_skipped"],
            "block_files": len(_parquet_files(blocks)),
            "stored_bytes": stored, "stored_per_raw": stored / rep["raw_bytes"],
        }

    def cycle(self):
        cyc = os.path.join(self.ctx.work, f"tokens-{self.n_cycle}")
        self.n_cycle += 1
        table = os.path.join(cyc, "table")
        out = os.path.join(cyc, "out")
        blocks = os.path.join(out, "blocks")
        shutil.copytree(self.bulk_dir, table)
        names = list(self.bulk_names)
        want = self._want(names)

        # bulk: one encode of the whole table, one zero-shuffle full read
        with self.span("engine.encode_job", phase="bulk") as enc:
            rep = engine.encode_job(self.spark, table, out)
        self._check_report(rep, want)
        with self.span("engine.decode_blocks_files", phase="bulk") as dec:
            got = token_digest(engine.decode_blocks_files(self.spark, blocks))
        same_digest(self.ledger, "bulk_read", got, want)
        self.sample("bulk_encode", enc["dt"])
        self.sample("bulk_decode", dec["dt"])
        if self.recording:
            self.facts["bulk"] = self._encode_facts(rep, blocks)
            _link_copy(blocks, os.path.join(self.ctx.work, "bulk-blocks"))

        # appends: commit, resume encode, current read, pruned read
        n_appends = self.size["appends"] if self.recording else 1
        for f in self.stage_files[:n_appends]:
            shutil.copy2(f, os.path.join(table, os.path.basename(f)))
            names.append(os.path.basename(f))
            want = self._want(names)
            with self.span("append") as app:
                with self.span("sources.write_snapshot"):
                    iceberg_lite.write_snapshot(table)
                with self.span("engine.encode_job", phase="append"):
                    rep = engine.encode_job(self.spark, table, out)
            self._check_report(rep, want)
            with self.span("engine.decode_blocks") as cur:
                got = token_digest(
                    engine.decode_blocks(
                        engine.current_blocks(self.spark, table, blocks)
                    )
                )
            same_digest(self.ledger, "current_read", got, want)
            with self.span("engine.decode_blocks_files_pruned") as pr:
                got = token_digest(
                    engine.decode_blocks_files_pruned(
                        self.spark, blocks, "tokens", self.lo, self.hi
                    )
                )
            same_digest(self.ledger, "pruned_read", got, self._want(names, True))
            self.sample("append", app["dt"])
            self.sample("current_read", cur["dt"])
            self.sample("pruned_read", pr["dt"])
        if self.recording:
            self.facts["append"] = self._encode_facts(rep, blocks)
            self.facts["snapshot_files"] = len(iceberg_lite.snapshot_files(table))
            _link_copy(blocks, os.path.join(self.ctx.work, "append-blocks"))

        # maintenance: compaction, then a full read of the compacted table
        with self.span("engine.compact_blocks") as cmp_:
            res = engine.compact_blocks(self.spark, blocks)
        self.ledger.check("compact_blocks", res["bins"] >= 1, str(res))
        with self.span("engine.decode_blocks_files", phase="compacted") as full:
            got = token_digest(engine.decode_blocks_files(self.spark, blocks))
        same_digest(self.ledger, "compacted_read", got, want)
        self.sample("compact", cmp_["dt"])
        shutil.rmtree(cyc, ignore_errors=True)

    def end_to_end(self):
        bulk = [
            a + b for a, b in zip(self.samples["bulk_encode"], self.samples["bulk_decode"])
        ]
        return {
            "bulk_items_per_s": self.bulk_tokens / p50(bulk),
            "write_p50_s": self.p50("append"),
            "read_p50_s": self.p50("current_read"),
            "prune_p50_s": self.p50("pruned_read"),
        }

    def named(self):
        total = combine(self.per_file.values())
        return {
            "input_rows": (total["rows"], "rows"),
            "input_tokens": (total["sum"], "tokens"),
            "input_mb": (self.input_bytes / 2**20, "MB"),
            "encoded_mb": (self.facts["append"]["stored_bytes"] / 2**20, "MB"),
            "encode_tokens_per_s": (self.bulk_tokens / self.p50("bulk_encode"), "tokens/s"),
            "decode_tokens_per_s": (self.bulk_tokens / self.p50("bulk_decode"), "tokens/s"),
            "stored_bytes_per_raw_byte.bulk": (self.facts["bulk"]["stored_per_raw"], "ratio"),
            "stored_bytes_per_raw_byte.append": (
                self.facts["append"]["stored_per_raw"], "ratio"
            ),
            "append_p50_s": (self.p50("append"), "s"),
            "current_read_p50_s": (self.p50("current_read"), "s"),
            "pruned_read_p50_s": (self.p50("pruned_read"), "s"),
            "compact_s": (self.p50("compact"), "s"),
        }

    def layer_extras(self):
        # codec kernels on chunks of the workload's own input: per source,
        # the flattened tokens, n_tok and doc_id of the first bulk file
        tbl = pq.read_table(os.path.join(self.bulk_dir, self.bulk_names[0]))
        int_chunks, str_chunks = [], []
        for source in sorted(set(tbl.column("source").to_pylist())):
            sub = tbl.filter(pc.equal(tbl.column("source"), source))
            flat = sub.column("tokens").combine_chunks().flatten()
            int_chunks.append(flat.to_numpy()[:CHUNK_CAP])
            int_chunks.append(sub.column("n_tok").to_numpy()[:CHUNK_CAP])
            str_chunks.append(sub.column("doc_id").combine_chunks()[:CHUNK_CAP])
        out = codec_micro(self.ledger, int_chunks, str_chunks)

        blk = _blocks_table(
            os.path.join(self.ctx.work, "bulk-blocks"),
            ["part_id", "column", "codec", "n_values", "encode_ms"],
        )
        kinds = {"tokens": "int", "n_tok": "int", "doc_id": "str", "source": "str"}
        out.update(value_shares(zip(
            (kinds[c] for c in blk.column("column").to_pylist()),
            blk.column("codec").to_pylist(), blk.column("n_values").to_pylist(),
        )))
        # encode_ms is cumulative within a part: its max is the part's time
        per_part = blk.group_by("part_id").aggregate([("encode_ms", "max")])
        self.facts["encode_ms_total"] = pc.sum(per_part.column("encode_ms_max")).as_py()

        app = self.facts["append"]
        out.update({
            "engine.parts": app["parts"],
            "engine.parts_skipped": app["parts_skipped"],
            "engine.block_files": app["block_files"],
            "engine.stored_bytes_per_raw_byte": self.facts["bulk"]["stored_per_raw"],
            "sources.snapshot_files": self.facts["snapshot_files"],
        })
        meta = _blocks_table(
            os.path.join(self.ctx.work, "append-blocks"),
            ["part_id", "column", "stat_min", "stat_max", "enc_bytes"],
        ).to_pylist()
        kept = {
            r["part_id"] for r in meta if r["column"] == "tokens"
            and r["stat_max"] >= self.lo and r["stat_min"] <= self.hi
        }
        out["engine.prune_bytes_kept_ratio"] = sum(
            r["enc_bytes"] for r in meta if r["part_id"] in kept
        ) / sum(r["enc_bytes"] for r in meta)
        return out


# ----------------------------------------------------------------- tables

_VOCAB = np.array(
    "a the data spark column row table value key query scan filter sort join "
    "group hash agg window batch stream part line order customer vector fast "
    "slow big small merge index page block chunk codec bloom range prune "
    "delta dict".split()
)

# (table, key column, column kinds, forced codecs) of the three round trips
_RT_SPECS = [
    ("lineitem", "l_orderkey",
     {"l_orderkey": "int", "l_partkey": "int", "l_suppkey": "int",
      "l_linenumber": "int"}, None),
    ("documents", "doc_id",
     {"doc_id": "int", "text": "str", "lang": "str", "source": "str",
      "n_chars": "int"}, None),
    ("events", "event_id",
     {"event_id": "int", "user_id": "int", "event_type": "str"},
     {"event_type": "dict"}),
]
_PRUNE_KINDS = {"l_orderkey": "int", "l_partkey": "int", "l_quantity": "float64"}
_PRUNE_SCHEMA = T.StructType(
    [
        T.StructField("l_orderkey", T.LongType(), True),
        T.StructField("l_partkey", T.LongType(), True),
        T.StructField("l_quantity", T.DoubleType(), True),
    ]
)
_TWIN_WORDS = [3, 20, 37, 54]  # positions a planted near-duplicate changes


def make_tables(dest: str, seed: int, orders: int, docs: int, events: int,
                dedup_docs: int) -> list[str]:
    """lineitem/documents/events shaped like the TPC-H-style test tables,
    plus a dedup corpus, one row group per file, from the seed alone.

    Dedup corpus: 60-word docs over a 100k-word vocabulary; every doc with
    id % 20 == 1 is its predecessor with 4 of its 60 words replaced, so
    planted near-duplicate pairs grow linearly with the corpus."""
    rng = np.random.default_rng(_subseed(seed, 10))
    lines = rng.integers(1, 8, orders)
    n = int(lines.sum())
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    perm = rng.permutation(n)
    li = pa.table(
        {
            "l_orderkey": np.repeat(np.arange(1, orders + 1), lines)[perm],
            "l_partkey": rng.integers(1, 20_001, n)[perm],
            "l_suppkey": rng.integers(1, 1_001, n)[perm],
            "l_linenumber": (np.arange(n) - starts + 1).astype(np.int32)[perm],
            "l_quantity": rng.integers(1, 51, n).astype(np.float64)[perm],
            "l_extendedprice": np.round(rng.uniform(900, 105_000, n), 2),
            "l_returnflag": rng.choice(["A", "N", "R"], n),
        }
    )
    n_words = rng.integers(10, 70, docs)
    text = [" ".join(_VOCAB[rng.integers(0, len(_VOCAB), k)]) for k in n_words]
    dt = pa.table(
        {
            "doc_id": np.arange(docs, dtype=np.int64),
            "text": text,
            "lang": rng.choice(["en", "zh", "de", "fr", "es"], docs),
            "source": rng.choice([f"src{i}" for i in range(10)], docs),
            "n_chars": np.array([len(t) for t in text], dtype=np.int64),
        }
    )
    secs = np.cumsum(rng.integers(0, 60, events)) + 1_704_067_200
    ev = pa.table(
        {
            "event_id": np.arange(events, dtype=np.int64),
            "ts": pa.array(secs * 1_000_000, type=pa.timestamp("us")),
            "user_id": rng.integers(0, 2_000, events),
            "event_type": rng.choice(
                ["view", "click", "error", "signup", "purchase"], events
            ),
            "value": np.round(rng.uniform(0, 200, events), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, events)],
        }
    )
    words = rng.integers(0, 100_000, (dedup_docs, 60))
    twins = np.arange(1, dedup_docs, 20)
    words[twins] = words[twins - 1]
    words[np.ix_(twins, _TWIN_WORDS)] = rng.integers(0, 100_000, (len(twins), 4))
    dd = pa.table(
        {
            "doc_id": np.arange(dedup_docs, dtype=np.int64),
            "text": [" ".join(f"w{w}" for w in row) for row in words.tolist()],
        }
    )
    os.makedirs(dest, exist_ok=True)
    paths = []
    for name, tbl in (("lineitem", li), ("documents", dt), ("events", ev),
                      ("dedup_docs", dd)):
        path = os.path.join(dest, f"{name}.parquet")
        pq.write_table(tbl, path, row_group_size=len(tbl))
        paths.append(path)
    return paths


class Tables(Workload):
    """Generic tables through operators/generic_codec and
    operators/pipeline_ops (engine.py is never called): three round trips,
    one persisted range-partitioned encode_df of lineitem with seed-chosen
    key-range lookups against it, and a MinHash near-duplicate dedup."""

    name = "tables"
    sizes = {"orders": 30_000, "docs": 5_000, "events": 40_000, "lookups": 2,
             "dedup_docs": 2_000}

    def _read(self, table):
        return self.spark.read.parquet(os.path.join(self.src, f"{table}.parquet"))

    def generate(self, dest):
        s = self.size
        return content_sha256(make_tables(
            dest, self.ctx.seed, s["orders"], s["docs"], s["events"], s["dedup_docs"]
        ))

    def prepare(self, src):
        self.src = src
        self.want = {
            table: digest(self._read(table), list(kinds), per_col=True)
            for table, _, kinds, _ in _RT_SPECS
        }
        self.want_prune = digest(self._read("lineitem"), list(_PRUNE_KINDS))
        dd = digest(self._read("dedup_docs"), ["doc_id"])
        self.n_dedup, self.dedup_xor = dd["rows"], dd["xor"]
        self.input_bytes = _dir_bytes(src)
        rng =np.random.default_rng(_subseed(self.ctx.seed, 11))
        # 1%-of-keys ranges at seed-chosen positions: the seed moves where a
        # lookup lands, not how much it reads
        top = self.size["orders"]
        width = max(top // 100, 1)
        self.ranges = [
            (lo, lo + width)
            for lo in rng.integers(1, max(top - width, 2), self.size["lookups"]).tolist()
        ]
        self.blocks = None
        self.pairs = None

    def cycle(self):
        if self.blocks is not None:
            self.blocks.unpersist(blocking=True)
        rt_total = 0.0
        for table, key, kinds, forced in _RT_SPECS:
            with self.span("generic_codec.roundtrip", table=table) as rt:
                got = digest(
                    generic_codec.roundtrip(
                        self._read(table), key, kinds, forced_codecs=forced
                    ),
                    list(kinds), per_col=True,
                )
            same_digest(self.ledger, f"roundtrip.{table}", got, self.want[table])
            rt_total += rt["dt"]
        self.sample("roundtrip", rt_total)

        with self.span("generic_codec.encode_df") as enc:
            self.blocks = generic_codec.encode_df(
                self._read("lineitem"), "l_orderkey", _PRUNE_KINDS,
                partitioning="range",
            ).persist()
            n_blocks = self.blocks.count()
        self.ledger.check("encode_df.blocks", n_blocks > 0, str(n_blocks))
        self.sample("encode_df", enc["dt"])

        # reference for the lookups: one full decode, every range filtered
        # from it
        ranges = self.ranges if self.recording else self.ranges[:1]
        h = F.xxhash64(*_PRUNE_KINDS)
        with self.span("generic_codec.decode_df") as full:
            aggs = [F.count("*").alias("rows"), F.bit_xor(h).alias("xor")]
            for i, (lo, hi) in enumerate(ranges):
                hit = F.col("l_orderkey").between(lo, hi)
                aggs += [
                    F.count_if(hit).alias(f"rows{i}"),
                    F.bit_xor(F.when(hit, h).otherwise(0)).alias(f"xor{i}"),
                ]
            ref = generic_codec.decode_df(
                self.blocks, "l_orderkey", _PRUNE_KINDS, _PRUNE_SCHEMA
            ).agg(*aggs).collect()[0]
        same_digest(
            self.ledger, "decode_df.full",
            {"rows": ref["rows"], "xor": ref["xor"]},
            {"rows": self.want_prune["rows"], "xor": self.want_prune["xor"]},
        )
        self.sample("full_decode", full["dt"])
        for i, (lo, hi) in enumerate(ranges):
            want = {"rows": ref[f"rows{i}"], "sum": 0, "xor": ref[f"xor{i}"]}
            with self.span("generic_codec.decode_df_pruned") as lk:
                got = digest(
                    generic_codec.decode_df_pruned(
                        self.blocks, "l_orderkey", _PRUNE_KINDS, _PRUNE_SCHEMA,
                        "l_orderkey", lo, hi,
                    ).filter(F.col("l_orderkey").between(lo, hi)),
                    list(_PRUNE_KINDS),
                )
            same_digest(self.ledger, f"lookup[{lo},{hi}]", got, want)
            with self.span("generic_codec.count_filtered_meta") as mc:
                cnt = generic_codec.count_filtered_meta(
                    self.blocks, _PRUNE_KINDS, "l_orderkey", lo, hi
                ).collect()[0]["cnt"]
            self.ledger.check(
                f"count_filtered_meta[{lo},{hi}]", cnt == want["rows"],
                f"got {cnt} want {want['rows']}",
            )
            self.sample("lookup", lk["dt"])
            self.sample("meta_count", mc["dt"])

        docs = self._read("dedup_docs")
        with self.span("pipeline_ops.dedup_minhash_candidates") as cand:
            self.pairs = pipeline_ops.dedup_minhash_candidates(docs).localCheckpoint()
            n_pairs = self.pairs.count()
        self.ledger.check("candidates", n_pairs > 0, str(n_pairs))
        with self.span("pipeline_ops.dedup_keep_canonical") as keep:
            ok, got = dedup_output_ok(
                pipeline_ops.dedup_keep_canonical(docs, self.pairs),
                self.n_dedup, self.dedup_xor,
            )
        self.ledger.check("keep_canonical", ok, str(got))
        self.facts["candidate_pairs"] = n_pairs
        self.sample("dedup", cand["dt"] + keep["dt"])

    def rows_per_cycle(self) -> int:
        return sum(self.want[t]["rows"] for t, *_ in _RT_SPECS)

    def end_to_end(self):
        return {
            "bulk_items_per_s": self.rows_per_cycle() / self.p50("roundtrip"),
            "write_p50_s": self.p50("encode_df"),
            "read_p50_s": self.p50("lookup"),
            "prune_p50_s": self.p50("meta_count"),
        }

    def named(self):
        tail_v, tail_pct = tail(self.samples["lookup"])
        n = len(self.samples["lookup"])
        return {
            "input_rows": (self.rows_per_cycle() + self.n_dedup, "rows"),
            "input_mb": (self.input_bytes / 2**20, "MB"),
            "roundtrip_rows_per_s": (
                self.rows_per_cycle() / self.p50("roundtrip"), "rows/s"
            ),
            "lookup_p50_s": (self.p50("lookup"), "s"),
            f"lookup_tail_s[p{tail_pct:g},n={n}]": (tail_v, "s"),
            "meta_count_p50_s": (self.p50("meta_count"), "s"),
            "dedup_docs_per_s": (self.n_dedup / self.p50("dedup"), "docs/s"),
        }

    def layer_extras(self):
        tbl = {t: pq.read_table(os.path.join(self.src, f"{t}.parquet"))
               for t in ("lineitem", "documents", "events")}
        int_chunks = [
            tbl[t].column(c).to_numpy()[:CHUNK_CAP] for t, c in (
                ("lineitem", "l_orderkey"), ("lineitem", "l_partkey"),
                ("lineitem", "l_suppkey"), ("lineitem", "l_linenumber"),
                ("documents", "doc_id"), ("documents", "n_chars"),
                ("events", "event_id"), ("events", "user_id"),
            )
        ]
        str_chunks = [
            tbl[t].column(c).combine_chunks()[:CHUNK_CAP] for t, c in (
                ("lineitem", "l_returnflag"), ("documents", "text"),
                ("documents", "lang"), ("documents", "source"),
                ("events", "event_type"),
            )
        ]
        out = codec_micro(self.ledger, int_chunks, str_chunks)
        rows = (
            self.blocks.groupBy("column", "codec").agg(F.sum("n_values").alias("n"))
            .collect()
        )
        out.update(value_shares(
            (_PRUNE_KINDS[r["column"]], r["codec"], r["n"]) for r in rows
        ))
        meta = self.blocks.select(
            "part_id", "column", "stat_min", "stat_max", "enc_bytes"
        ).collect()
        all_bytes = sum(r["enc_bytes"] for r in meta)
        ratios = []
        for lo, hi in self.ranges:
            kept = {
                r["part_id"] for r in meta if r["column"] == "l_orderkey"
                and r["stat_max"] >= lo and r["stat_min"] <= hi
            }
            ratios.append(
                sum(r["enc_bytes"] for r in meta if r["part_id"] in kept) / all_bytes
            )
        out["generic_codec.prune_bytes_kept_ratio"] = statistics.mean(ratios)
        out["generic_codec.pruned_over_full"] = (
            self.p50("lookup") / self.p50("full_decode")
        )

        with self.span("pipeline_ops.dedup_components") as comp:
            n = pipeline_ops.dedup_components(self.pairs).count()
        self.ledger.check("dedup_components", n > 0, str(n))
        found = {(r["doc_a"], r["doc_b"]) for r in self.pairs.collect()}
        planted = {(i - 1, i) for i in range(1, self.n_dedup, 20)}
        hits = len(found & planted)
        out.update({
            "pipeline_ops.dedup_components_s": comp["dt"],
            "pipeline_ops.candidate_pairs": self.facts["candidate_pairs"],
            "pipeline_ops.twin_recall": hits / len(planted),
            "pipeline_ops.candidate_precision": hits / max(len(found), 1),
        })
        return out

    def close(self):
        if self.blocks is not None:
            self.blocks.unpersist(blocking=True)


WORKLOADS = {w.name: w for w in (Tokens, Tables)}
