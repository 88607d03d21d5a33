"""Distributed Bloom filter over a 64-bit hash column.

The memory-bounded membership primitive for corpus-scale
decontamination and incremental dedup: a benchmark/fingerprint set of
ANY cardinality compresses to a FIXED ``n_bits/8``-byte bitmap that
broadcasts once, instead of broadcasting the raw gram/fingerprint set
(8+ bytes per distinct value plus hash-table overhead — 10-20x the
footprint and unbounded in the set size). False positives only — a
downstream exact join over the (tiny) surviving candidates removes
them, so the composed result stays exact.

Sizing (standard Bloom math): for target FP rate p and n members,
``n_bits ~= -n * ln(p) / ln(2)^2`` and ``n_hashes ~= (n_bits/n) *
ln 2``. 1e9 members at 1% FP is ~1.2 GB / 7 hashes — still one
broadcast at 100 TB scale, where the raw set would be tens of GB.

Bit positions derive from the 64-bit key itself via
Kirsch-Mitzenmacher double hashing (h1 = low 32 bits, h2 = high 32
bits forced odd so it cycles the full power-of-two table):
``pos_j = (h1 + j*h2) mod n_bits``. No per-row Python: build and
probe are Arrow-batched numpy over the hash column.

Build topology: one pass over the member set — each partition fills
a local bitmap (mapInPandas), the driver ORs the per-partition
bitmaps. The collect volume is ``n_partitions * n_bits/8`` bytes;
the member relation keeps its natural parallelism UNLESS that volume
would exceed 1 GiB, in which case it is coalesced down to the
largest partition count that fits — small
blooms build fully parallel (32 tasks x 128 KiB = 4 MiB collected),
and only GiB-scale bitmaps trade scan parallelism for driver safety.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _split_key(h):
    """(h1, h2) numpy uint64 halves for double hashing; h2 forced odd."""
    u = h.astype(np.int64).view(np.uint64)
    h1 = u & np.uint64(0xFFFFFFFF)
    h2 = (u >> np.uint64(32)) | np.uint64(1)
    return h1, h2


# Driver intake bound for build_bloom's per-partition bitmap collect.
_MAX_COLLECT_BYTES = 1 << 30


def build_bloom(
    df: DataFrame,
    col: str,
    n_bits: int = 1 << 20,
    n_hashes: int = 5,
):
    """Build the bitmap (numpy uint8 array of n_bits/8 bytes) from a
    DataFrame's 64-bit hash column. Runs ONE Spark job (the bitmap
    collect) — eager, like the IVF centroid collect; driver intake is
    bounded by ``_MAX_COLLECT_BYTES`` (partitions coalesce only when a
    GiB-scale bitmap would otherwise multiply past it — the common
    sub-MiB bloom builds at full scan parallelism). NULL keys are
    ignored — filtered OUT BEFORE the Arrow hop: a single NULL in a
    batch makes Arrow hand pandas a float64 column, and the
    float64 -> int64 round-trip silently corrupts any key with
    magnitude > 2^53 (wrong bitmap, i.e. false negatives)."""
    if n_bits <= 0 or n_bits & (n_bits - 1):
        raise ValueError("n_bits must be a positive power of two")
    if n_bits % 8 or n_hashes < 1:
        raise ValueError("need n_bits % 8 == 0 and n_hashes >= 1")
    nbytes = n_bits // 8

    def _part(batches):
        arr = np.zeros(nbytes, dtype=np.uint8)
        seen = False
        for pdf in batches:
            vals = pdf[col]
            if not len(vals):
                continue
            seen = True
            h1, h2 = _split_key(vals.to_numpy(dtype=np.int64))
            for j in range(n_hashes):
                pos = (h1 + np.uint64(j) * h2) & np.uint64(n_bits - 1)
                byte_idx = (pos >> np.uint64(3)).astype(np.int64)
                bit = np.left_shift(1, (pos & np.uint64(7)).astype(np.int64)).astype(
                    np.uint8
                )
                np.bitwise_or.at(arr, byte_idx, bit)
        if seen:
            yield pd.DataFrame({"bits": [arr.tobytes()]})

    # null filter BEFORE mapInPandas: batches must stay pure int64
    members = df.select(col).where(F.col(col).isNotNull())
    cap = max(1, _MAX_COLLECT_BYTES // nbytes)
    # partition-count estimate from PLAN METADATA (file listing /
    # cluster parallelism), never df.rdd — the rdd probe executes
    # upstream stages under AQE (operators/fanout.py docstring)
    est_parts = (
        len(members.inputFiles())
        or members.sparkSession.sparkContext.defaultParallelism
    )
    if est_parts > cap:
        members = members.coalesce(cap)
    parts = members.mapInPandas(_part, "bits binary").collect()
    out = np.zeros(nbytes, dtype=np.uint8)
    for r in parts:
        out |= np.frombuffer(r["bits"], dtype=np.uint8)
    return out


def bloom_probe(df: DataFrame, col: str, bits, n_hashes: int = 5) -> DataFrame:
    """Add a boolean ``_in_bloom`` column: True iff all n_hashes bit
    positions of the key are set (member OR false positive; never a
    false negative). The bitmap broadcasts once; the probe is an
    Arrow-batched numpy pandas UDF — the unavoidable Python hop costs
    one vectorized pass per batch, not per row. NULL keys probe
    False.

    The UDF only ever sees ``coalesce(col, 0)`` — NULLs must not
    reach the Arrow batch, because one NULL turns the whole long
    column into float64 and the int64 round-trip corrupts keys with
    magnitude > 2^53 (observed: a member key probing False, a false
    negative). The NULL->False rule is a JVM-side ``when`` on the
    original column instead."""
    from pyspark.sql.functions import pandas_udf

    n_bits = len(bits) * 8
    payload = bits.tobytes()
    bc = df.sparkSession.sparkContext.broadcast(payload)

    @pandas_udf("boolean")
    def _probe(s: pd.Series) -> pd.Series:
        arr = np.frombuffer(bc.value, dtype=np.uint8)
        h1, h2 = _split_key(s.to_numpy(dtype=np.int64))
        ok = np.ones(len(s), dtype=bool)
        for j in range(n_hashes):
            pos = (h1 + np.uint64(j) * h2) & np.uint64(n_bits - 1)
            byte = arr[(pos >> np.uint64(3)).astype(np.int64)]
            bit = np.left_shift(1, (pos & np.uint64(7)).astype(np.int64)).astype(
                np.uint8
            )
            ok &= (byte & bit) != 0
        return pd.Series(ok)

    key = F.col(col)
    return df.withColumn(
        "_in_bloom",
        F.when(key.isNull(), F.lit(False)).otherwise(
            _probe(F.coalesce(key, F.lit(0)))
        ),
    )
