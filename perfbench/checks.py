"""Output checks: order-independent content digests and the comparisons
that count into the op ledger.

Digests XOR 64-bit ``xxhash64`` row hashes; a sum of the hashes would
overflow under Spark's ANSI mode.  ``digest`` folds per-partition partials
in a narrow ``mapInArrow`` so checking a decode adds no exchange to it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def digest(
    df: DataFrame, cols: list[str], sum_col: str | None = None,
    per_col: bool = False,
) -> dict:
    """{"rows", "sum", "xor"[, "xor.<col>" per column]} of ``df``.

    ``xor`` hashes each row over ``cols``; ``sum`` adds ``sum_col`` (0 when
    unset); ``per_col`` adds one XOR per column."""
    names = ["xor"] + ([f"xor.{c}" for c in cols] if per_col else [])
    exprs = [F.xxhash64(*cols)] + (
        [F.xxhash64(c) for c in cols] if per_col else []
    )
    exprs.append(F.col(sum_col).cast("long") if sum_col else F.lit(0).cast("long"))
    k = len(names)

    def partial(batches):
        import numpy as np
        import pyarrow as pa

        n, s, xs = 0, 0, [0] * k
        for b in batches:
            n += b.num_rows
            if not b.num_rows:
                continue
            for i in range(k):
                xs[i] ^= int(np.bitwise_xor.reduce(b.column(i).to_numpy()))
            s += int(b.column(k).to_numpy().sum())
        yield pa.RecordBatch.from_pydict(
            {"n": [n], "s": [s], **{f"x{i}": [xs[i]] for i in range(k)}}
        )

    schema = "n long, s long, " + ", ".join(f"x{i} long" for i in range(k))
    selected = df.select(*[e.alias(f"c{i}") for i, e in enumerate(exprs)])
    out = {"rows": 0, "sum": 0, **{name: 0 for name in names}}
    for r in selected.mapInArrow(partial, schema).collect():
        out["rows"] += r["n"]
        out["sum"] += r["s"]
        for i, name in enumerate(names):
            out[name] ^= r[f"x{i}"]
    return out


def token_digest(df: DataFrame) -> dict:
    """Digest of a tokens table: rows, sum(n_tok), XOR of
    xxhash64(doc_id, tokens)."""
    return digest(df, ["doc_id", "tokens"], sum_col="n_tok")


def combine(parts) -> dict:
    """Digest of the union of disjoint row sets."""
    out: dict = {}
    for p in parts:
        for k, v in p.items():
            out[k] = (out.get(k, 0) ^ v) if "xor" in k else out.get(k, 0) + v
    return out


def same_digest(ledger, name: str, got: dict, want: dict) -> bool:
    return ledger.check(name, got == want, f"got {got} want {want}")


def dedup_output_ok(out: DataFrame, n_docs: int, doc_xor: int) -> tuple[bool, dict]:
    """One output row per input doc and exactly one survivor per component.

    ``doc_xor`` is the input's XOR of xxhash64(doc_id): together with the
    row count it catches a doc that went missing while another doubled."""
    comps = out.groupBy("component_id").agg(
        F.count("*").alias("n"),
        F.sum(F.col("keep").cast("long")).alias("kept"),
        F.bit_xor(F.xxhash64("doc_id")).alias("x"),
    )
    r = comps.agg(
        F.sum("n").alias("rows"),
        F.count("*").alias("components"),
        F.sum(F.when(F.col("kept") != 1, 1).otherwise(0)).alias("bad"),
        F.bit_xor("x").alias("x"),
    ).collect()[0]
    got = {k: r[k] for k in ("rows", "components", "bad", "x")}
    ok = got["rows"] == n_docs and got["bad"] == 0 and got["x"] == doc_xor
    return ok, got
