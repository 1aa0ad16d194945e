"""O5/O6: the URL-seen set — partitioned Bloom/cuckoo filter + exact confirm.

Reference behavior: an in-memory Python ``set`` consulted before enqueue
(``if url in visited``) — exact, zero false anything. north_star scales
that to 10^10 URLs as "a partitioned Bloom/cuckoo URL-seen set
broadcast-merged per epoch".

Design (SURVEY §7.3.1 — the correctness-critical part): a Bloom filter has
false POSITIVES, and a false positive here would silently DROP a URL the
reference crawls, breaking the exact URL-seen-set equivalence gate. So the
filter is strictly a pre-filter:

1. probe the filter (vectorized numpy inside a pandas UDF):
   ``maybe_seen = bloom[positions(fp)] all set``;
2. rows with ``maybe_seen = false`` are DEFINITELY new (no false
   negatives) — they skip the expensive path entirely;
3. rows with ``maybe_seen = true`` (tiny fraction: real dups + ~fpp) get an
   exact LEFT ANTI join against the persisted ``url_seen`` keys.

Net effect at scale: the anti-join's left side shrinks from |candidates| to
|dups| + fpp·|candidates|, so the shuffle is tiny; correctness never
depends on the filter.

Scale honesty (10^10 URLs): at 12 bits/key that is **~15 GB of bitmap** —
far over Spark's broadcast ceiling and any sane driver heap. So the
filter's state of record is a **DataFrame of partition rows**
(``partition_id, bloom, n_items, n_bits, n_hashes``), partitioned by
``pmod(url_fp, P)``; the full bitmap is NEVER assembled on the driver:

- **build**: ``applyInPandas`` per partition ORs that partition's
  fingerprints into its own slice (numpy);
- **merge** (per-epoch): ``unionByName`` old+delta rows, ``groupBy
  partition_id``, OR-reduce inside ``applyInPandas`` — executor-side;
- **probe**: candidates co-shuffled to their ``pmod(fp, P)`` slice via a
  ``cogroup``-``applyInPandas``, probed against only that slice (at
  P = 16384 a 15 GB filter is ~0.9 MB per task). This is the only probe
  path, at every filter size: building the probe plan runs no Spark job
  and no bitmap byte ever reaches the driver.

:class:`CuckooSeenSet` is the deletable variant (frontier retractions):
same partition-row state and probe machinery, 4-way bucketed cuckoo
hashing with 12-bit tags (fpp ≈ 2·4/2^12 ≈ 0.2%), supporting
``remove_keys`` — a Bloom cannot unset bits.

Closure hygiene: every function shipped to executors captures only plain
ints / numpy arrays (never ``self`` — it holds the SparkSession, SPARK-5063).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nlnieuwscrawler_spark.pyhash import bloom_positions, cuckoo_index_tag

DEFAULT_BITS_PER_KEY = 12          # fpp ≈ 0.3% at k=8
DEFAULT_N_HASHES = 8
MIN_PARTITION_BITS = 1 << 13       # 1 KiB floor per partition

FILTER_SCHEMA = (
    "partition_id int, bloom binary, n_items long, n_bits long, n_hashes int"
)


def bloom_params(expected_keys: int, n_partitions: int) -> tuple[int, int]:
    per_part = max(1, math.ceil(expected_keys / n_partitions))
    n_bits = max(MIN_PARTITION_BITS, 1 << math.ceil(
        math.log2(per_part * DEFAULT_BITS_PER_KEY + 1)
    ))
    return n_bits, DEFAULT_N_HASHES


def _pid(fp_col, n_partitions: int):
    return F.pmod(F.col(fp_col), F.lit(n_partitions)).cast("int")


class BloomSeenSet:
    """Partitioned Bloom seen-set whose state of record is a DataFrame.

    The driver holds only geometry (P, n_bits, n_hashes) and an item
    counter; bitmap bytes live in ``self.df`` partition rows, built, merged
    and probed executor-side. ``to_df()`` is the checkpoint surface (write
    the rows to the snapshot store); ``from_df`` is the resume surface.
    """

    kind = "bloom"

    def __init__(
        self,
        spark: SparkSession,
        n_partitions: int,
        n_bits: int,
        n_hashes: int,
        df: DataFrame | None = None,
        n_items: int = 0,
    ):
        self.spark = spark
        self.n_partitions = n_partitions
        self.n_bits = n_bits
        self.n_hashes = n_hashes
        self.df = df if df is not None else spark.createDataFrame([], FILTER_SCHEMA)
        self.n_items = n_items

    # -- construction ---------------------------------------------------------
    @classmethod
    def empty(
        cls, spark: SparkSession, n_partitions: int, expected_keys: int
    ) -> "BloomSeenSet":
        n_bits, n_hashes = bloom_params(expected_keys, n_partitions)
        return cls(spark, n_partitions, n_bits, n_hashes)

    @classmethod
    def from_df(cls, df: DataFrame, n_partitions: int) -> "BloomSeenSet":
        """Resume from checkpointed partition rows. One metadata-sized
        aggregate for the geometry + item count; bitmap rows stay
        distributed."""
        head = df.agg(
            F.first("n_bits").alias("n_bits"),
            F.first("n_hashes").alias("n_hashes"),
            F.sum("n_items").alias("n_items"),
        ).collect()
        if not head or head[0]["n_bits"] is None:
            return cls(df.sparkSession, n_partitions,
                       MIN_PARTITION_BITS, DEFAULT_N_HASHES)
        return cls(
            df.sparkSession, n_partitions,
            int(head[0]["n_bits"]), int(head[0]["n_hashes"]),
            df=df, n_items=int(head[0]["n_items"]),
        )

    def to_df(self) -> DataFrame:
        return self.df

    @property
    def total_bytes(self) -> int:
        return self.n_partitions * (self.n_bits // 8)

    # -- build + merge (executor-side) ---------------------------------------
    def _build_delta(self, keys: DataFrame, fp_col: str) -> DataFrame:
        n_bits, n_hashes = self.n_bits, self.n_hashes

        def build(pdf: pd.DataFrame) -> pd.DataFrame:
            arr = np.zeros(n_bits // 8, dtype=np.uint8)
            fps = pdf[fp_col].to_numpy(dtype=np.int64)
            pos = bloom_positions(fps, n_bits, n_hashes).ravel()
            np.bitwise_or.at(arr, (pos >> np.uint64(3)).astype(np.int64),
                             np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8))
            return pd.DataFrame(
                {
                    "partition_id": [int(pdf["__pid"].iloc[0])],
                    "bloom": [arr.tobytes()],
                    "n_items": [len(fps)],
                    "n_bits": [n_bits],
                    "n_hashes": [n_hashes],
                }
            )

        return (
            keys.select(F.col(fp_col), _pid(fp_col, self.n_partitions).alias("__pid"))
            .groupBy("__pid")
            .applyInPandas(build, FILTER_SCHEMA)
        )

    def add_keys(self, keys: DataFrame, fp_col: str = "url_fp") -> None:
        """OR the keys' partition deltas into the filter — fully
        executor-side (union + groupBy + OR-reduce); the driver sees only
        the summed item count (P-row aggregate). The merged result is
        eagerly localCheckpoint-ed so per-epoch lineage doesn't stack."""
        n_bits, n_hashes = self.n_bits, self.n_hashes
        delta = self._build_delta(keys, fp_col)

        def or_reduce(pdf: pd.DataFrame) -> pd.DataFrame:
            arr = np.zeros(n_bits // 8, dtype=np.uint8)
            for blob in pdf["bloom"]:
                arr |= np.frombuffer(blob, dtype=np.uint8)
            return pd.DataFrame(
                {
                    "partition_id": [int(pdf["partition_id"].iloc[0])],
                    "bloom": [arr.tobytes()],
                    "n_items": [int(pdf["n_items"].sum())],
                    "n_bits": [n_bits],
                    "n_hashes": [n_hashes],
                }
            )

        merged = (
            self.df.unionByName(delta)
            .groupBy("partition_id")
            .applyInPandas(or_reduce, FILTER_SCHEMA)
            # lazy: the n_items aggregate below is the job that computes
            # (and thereby materializes) the checkpoint — eager=True would
            # spend a whole extra job per epoch on the same work
            .localCheckpoint(eager=False)
        )
        self.df = merged
        # metadata-sized aggregate (one long), not the bitmap
        row = merged.agg(F.sum("n_items").alias("n")).collect()[0]
        self.n_items = int(row["n"] or 0)

    # -- probe ----------------------------------------------------------------
    def probe(self, df: DataFrame, fp_col: str) -> DataFrame:
        """Add ``maybe_seen``. Candidates shuffle ONCE on pmod(fp, P) to
        meet their slice; each cogroup task holds exactly one slice
        (total_bytes / P), so no task — let alone the driver — ever sees
        the whole bitmap."""
        if self.n_items == 0:
            return df.withColumn("maybe_seen", F.lit(False))
        # distinct fps → cogroup with the filter's partition rows → join
        # maybe_seen back on fp
        fps = (
            df.select(F.col(fp_col).alias("fp")).distinct()
            .withColumn("__pid", _pid("fp", self.n_partitions))
        )
        probed = (
            fps.groupBy("__pid")
            .cogroup(self.df.groupBy(F.col("partition_id").cast("int")))
            .applyInPandas(self._probe_group(), "fp long, maybe_seen boolean")
        )
        return df.join(
            probed.withColumnRenamed("fp", fp_col), on=fp_col, how="left"
        ).withColumn("maybe_seen", F.coalesce("maybe_seen", F.lit(False)))

    def _probe_group(self):
        """The cogroup function that probes one partition's fps against
        that partition's slice."""
        n_bits, n_hashes = self.n_bits, self.n_hashes

        def probe_group(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            fps = left["fp"].to_numpy(dtype=np.int64)
            if right.empty or fps.size == 0:
                return pd.DataFrame({"fp": fps, "maybe_seen": np.zeros(fps.size, bool)})
            arr = np.frombuffer(right["bloom"].iloc[0], dtype=np.uint8)
            pos = bloom_positions(fps, n_bits, n_hashes)
            byte_idx = (pos >> np.uint64(3)).astype(np.int64)
            bit = np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8)
            hit = (arr[byte_idx] & bit) != 0
            return pd.DataFrame({"fp": fps, "maybe_seen": hit.all(axis=1)})

        return probe_group


# -- cuckoo table primitives (module-level: closures ship plain ints only) ----

CUCKOO_TAG_BITS = 12
CUCKOO_SLOTS = 4
CUCKOO_MAX_KICKS = 500
CUCKOO_LOAD_FACTOR = 0.66  # sized so the vectorized no-evict pass places ~95%+


def _cuckoo_alt(idx: np.ndarray, tag: np.ndarray, nb: int) -> np.ndarray:
    """i2 = i1 XOR index(tag); involution because nb is a power of two."""
    return (idx ^ cuckoo_index_tag(tag.astype(np.int64), nb, CUCKOO_TAG_BITS)[0]) % nb


def _cuckoo_insert(table: np.ndarray, fps: np.ndarray, nb: int) -> int:
    """Insert fps into a (nb, SLOTS) uint16 table in place. Vectorized
    two-pass placement (i1 then i2) covers the bulk; the residual (both
    buckets full) runs the classic kick loop. Returns the number of keys
    that could not be placed (callers size by LOAD_FACTOR so this is 0)."""
    idx, tag = cuckoo_index_tag(fps, nb, CUCKOO_TAG_BITS)
    alt = _cuckoo_alt(idx, tag, nb)
    pending_i, pending_t, pending_a = idx, tag, alt
    for _attempt in (0, 1):  # try i1 for all, then i2 for the rest
        if pending_i.size == 0:
            break
        order = np.argsort(pending_i, kind="stable")
        bi, bt, ba = pending_i[order], pending_t[order], pending_a[order]
        uniq, start = np.unique(bi, return_index=True)
        rank = np.arange(bi.size) - np.repeat(
            start, np.diff(np.append(start, bi.size)))
        free = (table[bi] == 0).sum(axis=1)
        placeable = rank < free
        for b, t in zip(bi[placeable], bt[placeable]):
            # rank < free guaranteed a slot exists; earlier same-bucket keys
            # already consumed earlier slots, so take the first free one now
            slots = np.flatnonzero(table[b] == 0)
            table[b, slots[0]] = t
        keep = ~placeable
        pending_i, pending_t, pending_a = ba[keep], bt[keep], bi[keep]
    failed = 0
    for t, b1 in zip(pending_t, pending_i):
        cur_b, cur_t = int(b1), int(t)
        placed = False
        for kicks in range(CUCKOO_MAX_KICKS):
            slots = np.flatnonzero(table[cur_b] == 0)
            if slots.size:
                table[cur_b, slots[0]] = cur_t
                placed = True
                break
            # deterministic eviction (no RNG: results must be reproducible)
            s = (kicks * 2654435761) % CUCKOO_SLOTS
            cur_t, table[cur_b, s] = int(table[cur_b, s]), cur_t
            cur_b = int(_cuckoo_alt(
                np.array([cur_b]), np.array([cur_t], dtype=np.uint16), nb)[0])
        if not placed:
            failed += 1
    return failed


def _cuckoo_lookup(table: np.ndarray, fps: np.ndarray, nb: int) -> np.ndarray:
    idx, tag = cuckoo_index_tag(fps, nb, CUCKOO_TAG_BITS)
    alt = _cuckoo_alt(idx, tag, nb)
    t = tag[:, None]
    return ((table[idx] == t) | (table[alt] == t)).any(axis=1)


def _cuckoo_delete(table: np.ndarray, fps: np.ndarray, nb: int) -> int:
    idx, tag = cuckoo_index_tag(fps, nb, CUCKOO_TAG_BITS)
    alt = _cuckoo_alt(idx, tag, nb)
    removed = 0
    for b1, b2, t in zip(idx, alt, tag):
        for b in (int(b1), int(b2)):
            hit = np.flatnonzero(table[b] == t)
            if hit.size:
                table[b, hit[0]] = 0
                removed += 1
                break
    return removed


class CuckooSeenSet(BloomSeenSet):
    """Deletable seen-set: partitioned 4-way cuckoo filter, 12-bit tags.

    Same DataFrame-of-partition-rows state and probe plumbing as the
    Bloom; the ``bloom`` column holds the bucket table (n_buckets × 4
    uint16 tags, 0 = empty) and ``n_bits``/``n_hashes`` carry
    (n_buckets·64, tag_bits) so FILTER_SCHEMA and the checkpoint path are
    shared. Supports ``remove_keys`` (frontier retractions) — the reason
    north_star names the cuckoo variant; a Bloom cannot unset bits.

    Merge caveat: cuckoo tables don't OR-merge, so the per-epoch delta
    path inserts into the CURRENT partition slice inside the same cogroup
    task (slice + new keys co-shuffled), not via the Bloom's bitwise OR.
    """

    kind = "cuckoo"
    TAG_BITS = CUCKOO_TAG_BITS
    SLOTS = CUCKOO_SLOTS

    def __init__(self, spark, n_partitions, n_buckets, df=None, n_items=0):
        # reuse FILTER_SCHEMA: n_bits := n_buckets*SLOTS*16, n_hashes := TAG_BITS
        super().__init__(spark, n_partitions, n_buckets * self.SLOTS * 16,
                         self.TAG_BITS, df=df, n_items=n_items)
        self.n_buckets = n_buckets

    @classmethod
    def empty(cls, spark, n_partitions, expected_keys) -> "CuckooSeenSet":
        per_part = max(1, math.ceil(expected_keys / n_partitions))
        n_buckets = max(64, 1 << math.ceil(
            math.log2(per_part / (cls.SLOTS * CUCKOO_LOAD_FACTOR) + 1)
        ))
        return cls(spark, n_partitions, n_buckets)

    @classmethod
    def from_df(cls, df, n_partitions) -> "CuckooSeenSet":
        head = df.agg(
            F.first("n_bits").alias("n_bits"),
            F.sum("n_items").alias("n_items"),
        ).collect()
        if not head or head[0]["n_bits"] is None:
            return cls.empty(df.sparkSession, n_partitions, 1)
        n_buckets = int(head[0]["n_bits"]) // (cls.SLOTS * 16)
        return cls(df.sparkSession, n_partitions, n_buckets, df=df,
                   n_items=int(head[0]["n_items"]))

    # -- DataFrame surfaces ----------------------------------------------------
    def _apply_keys(self, keys: DataFrame, fp_col: str, op: str) -> None:
        """Co-shuffle keys with their partition slice and insert/delete
        inside the cogroup task — executor-side, slice-local, no driver
        bitmap. Eager localCheckpoint cuts per-epoch lineage."""
        nb, n_bits, slots, tag_bits = (
            self.n_buckets, self.n_bits, self.SLOTS, self.TAG_BITS)

        def apply_group(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            fps = (left["fp"].to_numpy(dtype=np.int64)
                   if len(left) else np.empty(0, dtype=np.int64))
            if right.empty:
                table = np.zeros((nb, slots), dtype=np.uint16)
                pid = int(left["__pid"].iloc[0])
                items = 0
            else:
                table = np.frombuffer(
                    right["bloom"].iloc[0], dtype=np.uint16
                ).reshape(nb, slots).copy()
                pid = int(right["partition_id"].iloc[0])
                items = int(right["n_items"].iloc[0])
            if op == "insert":
                # probe-before-insert: a fingerprint re-added in a later
                # epoch must not consume a second slot (the batch-level
                # distinct can't see across epochs). Skipping tag-identical
                # keys never creates a false negative — if (index, tag) is
                # already present, lookup for this key is true forever —
                # and it keeps n_items/occupancy accounting exact, so a
                # later remove_keys can't drift membership state.
                fps = fps[~_cuckoo_lookup(table, fps, nb)]
                failed = _cuckoo_insert(table, fps, nb)
                if failed:
                    raise RuntimeError(
                        f"cuckoo partition {pid} overfull: {failed} unplaced "
                        f"(resize expected_keys)")
                items += len(fps)
            else:
                items -= _cuckoo_delete(table, fps, nb)
            return pd.DataFrame(
                {
                    "partition_id": [pid],
                    "bloom": [table.tobytes()],
                    "n_items": [items],
                    "n_bits": [n_bits],
                    "n_hashes": [tag_bits],
                }
            )

        fps = (
            keys.select(F.col(fp_col).alias("fp")).distinct()
            .withColumn("__pid", _pid("fp", self.n_partitions))
        )
        self.df = (
            fps.groupBy("__pid")
            .cogroup(self.df.groupBy(F.col("partition_id").cast("int")))
            .applyInPandas(apply_group, FILTER_SCHEMA)
            # lazy for the same reason as the Bloom merge: the aggregate
            # below materializes the checkpoint in its own job
            .localCheckpoint(eager=False)
        )
        row = self.df.agg(F.sum("n_items").alias("n")).collect()[0]
        self.n_items = int(row["n"] or 0)

    def add_keys(self, keys: DataFrame, fp_col: str = "url_fp") -> None:
        self._apply_keys(keys, fp_col, "insert")

    def remove_keys(self, keys: DataFrame, fp_col: str = "url_fp") -> None:
        """Delete previously-inserted keys (standard cuckoo caveat: deleting
        a never-inserted key may evict a colliding tag — callers only
        retract URLs they enqueued)."""
        self._apply_keys(keys, fp_col, "delete")

    def _probe_group(self):
        nb, slots = self.n_buckets, self.SLOTS

        def probe_group(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            fps = left["fp"].to_numpy(dtype=np.int64)
            if right.empty or fps.size == 0:
                return pd.DataFrame({"fp": fps, "maybe_seen": np.zeros(fps.size, bool)})
            table = np.frombuffer(
                right["bloom"].iloc[0], dtype=np.uint16).reshape(nb, slots)
            return pd.DataFrame(
                {"fp": fps, "maybe_seen": _cuckoo_lookup(table, fps, nb)})

        return probe_group


def filter_unseen(
    candidates: DataFrame,
    seen_keys: DataFrame,
    fp_col: str = "url_fp",
    bloom: BloomSeenSet | None = None,
) -> DataFrame:
    """Exact not-seen filter, sketch-accelerated when a filter is supplied.

    Without a filter this degrades to a plain left-anti join (still exact,
    just a bigger shuffle) — the filter is an optimization, never semantics.
    """
    if bloom is None:
        return candidates.join(
            seen_keys.select(F.col(fp_col)), on=fp_col, how="left_anti"
        )
    probed = bloom.probe(candidates, fp_col)
    definite_new = probed.filter(~F.col("maybe_seen")).drop("maybe_seen")
    suspects = probed.filter(F.col("maybe_seen")).drop("maybe_seen")
    rescued = suspects.join(
        seen_keys.select(F.col(fp_col)), on=fp_col, how="left_anti"
    )
    return definite_new.unionByName(rescued)
