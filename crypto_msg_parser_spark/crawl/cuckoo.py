"""Per-bucket cuckoo filters: the DELETABLE layer of the URL-seen set.

north_rule: "bloom/cuckoo URL-seen". The Bloom layer (crawl/bloom.py)
answers "definitely new?" for the hot path, but cannot forget — and a real
crawler retires URLs (recrawl schedules, TTL eviction, robots changes).
The cuckoo filter (Fan et al., partial-key cuckoo hashing) stores 12-bit
fingerprints in 4-slot buckets with two candidate buckets per key
(i2 = i1 XOR H(fp)), so membership AND deletion are O(1) without the full
key set.

Same scale layout as the Bloom layer: one filter per `rank_bucket`
storage partition, built executor-side with groupBy.applyInPandas and
carried as rows of a (rank_bucket, m, table bytes, overflow) DataFrame.
Membership is a Catalyst expression over a filter row (might_contain_col,
the column twin of Cuckoo.might_contain), so the frontier joins its
bucket's filter row and is probed in the JVM, with no Python stage;
updates cogroup the filter table with the change sets on rank_bucket. The
driver never materializes any table.

Deletion soundness contract: `insert` dedups by (bucket, fingerprint) —
two DISTINCT urls whose hashes collide on the 12-bit fp + bucket pair
share ONE stored fingerprint, so deleting one (cuckoo_update_buckets)
produces a false NEGATIVE for the other. This is inherent to partial-key
cuckoo deletion (Fan et al. §3.2 requires "only delete items known to be
inserted" and still shares this aliasing), not an implementation bug.
Consequence for the crawl: after any eviction, "definitely new" answers
from the filter are only probabilistically sound, so recrawl/TTL
maintenance must keep the EXACT seen-set layer authoritative for
rows the filter passes as new (or rebuild the bucket's filter from the
exact layer after a deletion batch — one applyInPandas pass over that
bucket, which build_cuckoo_buckets already expresses). The
pre-eviction fresh-URL path (cuckoo_frontier_dedup) is unaffected:
without deletions the filter has no false negatives and false positives
fall through to the exact anti-join.
"""

from __future__ import annotations

from functools import reduce
from operator import or_

import numpy as np
import pandas as pd

from pyspark.sql import functions as F

from crypto_msg_parser_spark.sources.local import local_table

FP_BITS = 12
FP_MASK = (1 << FP_BITS) - 1
SLOTS = 4
MAX_KICKS = 500


class Cuckoo:
    def __init__(self, n_items: int):
        m = 1
        while m * SLOTS < n_items * 1.10 + SLOTS:
            m *= 2
        self.m = m
        self.table = np.zeros((m, SLOTS), dtype=np.uint16)
        self.overflow: set[int] = set()  # raw hashes that lost the kick loop

    # fingerprint: 12 bits drawn from the hash top, never 0 (0 = empty slot)
    @staticmethod
    def _fp(h: np.ndarray) -> np.ndarray:
        fp = (h.astype(np.uint64) >> np.uint64(45)) & np.uint64(FP_MASK)
        return np.where(fp == 0, np.uint64(1), fp).astype(np.uint16)

    def _i1(self, h: np.ndarray) -> np.ndarray:
        return (h.astype(np.uint64) % np.uint64(self.m)).astype(np.int64)

    def _i2(self, i1: np.ndarray, fp: np.ndarray) -> np.ndarray:
        # partial-key cuckoo: the alternate bucket is derivable from
        # (bucket, fp) alone — H(fp) via a odd-constant multiply
        hfp = (fp.astype(np.uint64) * np.uint64(0x5BD1E995)) & np.uint64(
            self.m - 1
        )
        return (i1.astype(np.uint64) ^ hfp).astype(np.int64)

    def _bulk_place(self, fps: np.ndarray, bkts: np.ndarray) -> np.ndarray:
        """Vectorized batch placement into one candidate bucket each;
        returns the indices of items that did not fit. Sort-by-bucket +
        rank-within-bucket turns slot assignment into a single scatter —
        a Python per-item loop here measured ~100x slower on the 2M-URL
        bench corpus."""
        n = len(fps)
        if n == 0:
            return np.zeros(0, dtype=np.int64)
        order = np.argsort(bkts, kind="stable")
        bs = bkts[order]
        # rank of each item within its bucket group
        first = np.searchsorted(bs, bs, side="left")
        rank = np.arange(n) - first
        # the rank-th EMPTY slot of the bucket: a deletion leaves a hole
        # anywhere in the row, so "next slot after the occupied count"
        # would overwrite a stored fingerprint
        empties = np.cumsum(self.table[bs] == 0, axis=1)
        fit = rank < empties[:, -1]
        slot = np.argmax(empties == (rank + 1)[:, None], axis=1)
        self.table[bs[fit], slot[fit]] = fps[order][fit]
        return order[~fit]

    def insert(self, hashes: np.ndarray) -> None:
        # batch-dedupe: the vectorized passes would otherwise place two
        # copies of a same-batch duplicate (the old per-item loop re-checked
        # presence between items)
        h = np.unique(np.asarray(hashes, dtype=np.int64))
        fps, i1s = self._fp(h), self._i1(h)
        i2s = self._i2(i1s, fps)
        # skip already-present keys (dedup semantics), vectorized
        present = (self.table[i1s] == fps[:, None]).any(axis=1) | (
            self.table[i2s] == fps[:, None]
        ).any(axis=1)
        todo = np.nonzero(~present)[0]
        # pass 1: primary buckets; pass 2: alternates — both vectorized
        left = todo[self._bulk_place(fps[todo], i1s[todo])]
        left = left[self._bulk_place(fps[left], i2s[left])]
        # pass 3: the eviction loop, only for the residue of full buckets
        rng_state = 0x9E3779B9
        for j in left:
            fp, i1, raw = fps[j], i1s[j], h[j]
            cur, fpv = int(i1), int(fp)
            kicks = []  # (bucket, slot, evicted fp) of every swap
            placed = False
            for _ in range(MAX_KICKS):
                # deterministic victim slot
                rng_state = (rng_state * 1103515245 + 12345) & 0x7FFFFFFF
                slot = rng_state % SLOTS
                kicks.append((cur, slot, int(self.table[cur, slot])))
                fpv, self.table[cur, slot] = int(self.table[cur, slot]), fpv
                cur = int(
                    self._i2(np.array([cur]), np.array([fpv], dtype=np.uint16))[0]
                )
                if self._try_put(cur, fpv):
                    placed = True
                    break
            if not placed:
                # the homeless fingerprint is the last victim's, not this
                # key's: undo the kick path so every victim is back in its
                # slot, then the key's own raw hash is the one to remember
                for b, sl, old in reversed(kicks):
                    self.table[b, sl] = old
                self.overflow.add(int(raw))

    def _in_bucket(self, i, fp) -> bool:
        return bool((self.table[int(i)] == fp).any())

    def _try_put(self, i, fp) -> bool:
        row = self.table[int(i)]
        empty = np.nonzero(row == 0)[0]
        if len(empty):
            row[empty[0]] = fp
            return True
        return False

    def might_contain(self, hashes: np.ndarray) -> np.ndarray:
        h = np.asarray(hashes, dtype=np.int64)
        if len(h) == 0:
            return np.zeros(0, dtype=bool)
        fps, i1s = self._fp(h), self._i1(h)
        i2s = self._i2(i1s, fps)
        hit1 = (self.table[i1s] == fps[:, None]).any(axis=1)
        hit2 = (self.table[i2s] == fps[:, None]).any(axis=1)
        ovf = np.fromiter((int(x) in self.overflow for x in h), dtype=bool, count=len(h))
        return hit1 | hit2 | ovf

    def delete(self, hashes: np.ndarray) -> int:
        """Remove one stored fingerprint per hash (cuckoo's edge over
        Bloom). Returns how many were actually removed."""
        h = np.asarray(hashes, dtype=np.int64)
        removed = 0
        fps, i1s = self._fp(h), self._i1(h)
        i2s = self._i2(i1s, fps)
        for fp, i1, i2, raw in zip(fps, i1s, i2s, h):
            if int(raw) in self.overflow:
                self.overflow.discard(int(raw))
                removed += 1
                continue
            for i in (int(i1), int(i2)):
                row = self.table[i]
                hit = np.nonzero(row == fp)[0]
                if len(hit):
                    row[hit[0]] = 0
                    removed += 1
                    break
        return removed

    def to_state(self) -> tuple[int, bytes, list[int]]:
        return self.m, self.table.tobytes(), sorted(self.overflow)

    @classmethod
    def from_state(cls, m: int, table: bytes, overflow) -> "Cuckoo":
        c = cls.__new__(cls)
        c.m = int(m)
        c.table = np.frombuffer(table, dtype=np.uint16).reshape(c.m, SLOTS).copy()
        c.overflow = set(int(x) for x in (overflow or []))
        return c


def might_contain_col(h, m, table, overflow):
    """Column twin of ``Cuckoo.might_contain`` for one hash column ``h``
    against the (m, table, overflow) columns of a ``to_state`` row: the
    same fingerprint and bucket arithmetic (m is a power of two, so
    ``% m`` is ``& (m-1)``), then the eight 2-byte little-endian slots of
    the two candidate buckets compared with the fingerprint's encoding.
    NULL where the filter columns are NULL (no filter for the bucket)."""
    fp = F.shiftrightunsigned(h, 45).bitwiseAND(FP_MASK)
    fp = F.when(fp == 0, 1).otherwise(fp)
    mask = m - 1
    i1 = h.bitwiseAND(mask)
    i2 = i1.bitwiseXOR((fp * 0x5BD1E995).bitwiseAND(mask))
    # table.tobytes() stores each uint16 low byte first; an int -> binary
    # cast is refused under ANSI, so the swapped value goes through hex
    swapped = F.shiftleft(fp.bitwiseAND(0xFF), 8).bitwiseOR(F.shiftright(fp, 8))
    fp_le = F.unhex(F.lpad(F.hex(swapped), 4, "0"))

    def in_bucket(i):
        return reduce(or_, (
            table.substr(i * (2 * SLOTS) + (2 * s + 1), F.lit(2)) == fp_le
            for s in range(SLOTS)
        ))

    return in_bucket(i1) | in_bucket(i2) | F.array_contains(overflow, h)


CUCKOO_TABLE_SCHEMA = (
    "rank_bucket long, n long, m long, table binary, overflow array<long>"
)


def build_cuckoo_buckets(
    seen_df, bucket_col: str = "rank_bucket", hash_col: str = "url_hash"
):
    """One cuckoo filter per storage bucket, built executor-side — the
    deletable twin of bloom.build_bloom_buckets. ``bucket_col`` may be a
    coarsened bucket id (rank_bucket >> k): each filter then covers a
    contiguous run of storage buckets, still co-partitionable, with fewer
    per-group pandas invocations on small corpora."""

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        c = Cuckoo(max(len(pdf), 64))
        c.insert(pdf[hash_col].to_numpy(dtype=np.int64))
        m, table, ovf = c.to_state()
        return pd.DataFrame(
            {
                bucket_col: [int(pdf[bucket_col].iloc[0])],
                "n": [len(pdf)],
                "m": [m],
                "table": [table],
                "overflow": [ovf],
            }
        )

    schema = f"{bucket_col} long, n long, m long, table binary, overflow array<long>"
    return (
        seen_df.select(bucket_col, hash_col)
        .groupBy(bucket_col)
        .applyInPandas(fold, schema)
    )


def cuckoo_update_buckets(
    filters_df, removals_df, additions_df=None, hash_col: str = "url_hash"
):
    """Partition-local seen-set maintenance: delete retired URLs (and
    optionally insert new ones) per bucket — the operation the Bloom layer
    cannot do. Cogroups the filter table with the change sets; returns the
    updated filter table."""
    spark = filters_df.sparkSession
    # one non-null hash column plus an op flag: a NULL-padded column per
    # op reaches pandas as float64 and loses the low bits of 60-bit hashes
    rem = removals_df.select(
        "rank_bucket", F.col(hash_col).alias("_h"), F.lit(False).alias("_add")
    )
    add = (
        additions_df.select(
            "rank_bucket", F.col(hash_col).alias("_h"), F.lit(True).alias("_add")
        )
        if additions_df is not None
        else local_table(spark, [], "rank_bucket long, _h long, _add boolean")
    )
    changes = rem.unionByName(add).filter(F.col("_h").isNotNull())

    def apply_fn(key, fdf: pd.DataFrame, cdf: pd.DataFrame) -> pd.DataFrame:
        h = cdf["_h"].to_numpy(dtype=np.int64)
        is_add = cdf["_add"].to_numpy(dtype=bool)
        rm, ad = h[~is_add], h[is_add]
        if len(fdf) == 0:
            # additions into a bucket with no filter yet: build fresh
            c = Cuckoo(max(len(ad), 64))
            c.insert(ad)
            m, table, ovf = c.to_state()
            return pd.DataFrame(
                {"rank_bucket": [int(key[0])], "n": [len(ad)], "m": [m],
                 "table": [table], "overflow": [ovf]}
            )
        c = Cuckoo.from_state(
            fdf["m"].iloc[0], fdf["table"].iloc[0], fdf["overflow"].iloc[0]
        )
        n = int(fdf["n"].iloc[0]) - c.delete(rm)
        if len(ad):
            c.insert(ad)
            n += len(ad)
        m, table, ovf = c.to_state()
        return pd.DataFrame(
            {"rank_bucket": [int(key[0])], "n": [n], "m": [m],
             "table": [table], "overflow": [ovf]}
        )

    return (
        filters_df.groupBy("rank_bucket")
        .cogroup(changes.groupBy("rank_bucket"))
        .applyInPandas(apply_fn, CUCKOO_TABLE_SCHEMA)
    )
