"""URL-seen-set tests: partitioned Bloom/cuckoo filters and their probe.

The scale-design contract under test: the filter's state is a DataFrame of
partition rows and the full bitmap is never assembled on the driver —
build, merge and probe all run executor-side at every filter size, and
building a probe plan submits no Spark job. The probe's per-key answer is
checked against a numpy lookup of each key in its partition's slice.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from nlnieuwscrawler_spark.operators.seen import (
    BloomSeenSet,
    CuckooSeenSet,
    _cuckoo_lookup,
    filter_unseen,
)
from nlnieuwscrawler_spark.pyhash import bloom_positions


def _keys(spark, start, n):
    return spark.range(start, start + n).select(F.xxhash64("id").alias("url_fp"))


@pytest.mark.parametrize("cls", [BloomSeenSet, CuckooSeenSet])
def test_no_false_negatives_and_bounded_fpp(spark, cls):
    f = cls.empty(spark, 8, 1 << 15)
    f.add_keys(_keys(spark, 0, 20_000))
    false_neg = (
        f.probe(_keys(spark, 0, 20_000), "url_fp")
        .filter(~F.col("maybe_seen")).count()
    )
    assert false_neg == 0  # a false negative would drop a URL silently
    false_pos = (
        f.probe(_keys(spark, 1_000_000, 10_000), "url_fp")
        .filter(F.col("maybe_seen")).count()
    )
    assert false_pos / 10_000 < 0.02


def _reference_maybe_seen(f, fps: np.ndarray) -> np.ndarray:
    """maybe_seen for each fp, computed on the test side: read the filter's
    partition rows from to_df() and look each fp up in its pmod(fp, P)
    slice with numpy."""
    slices = {r["partition_id"]: bytes(r["bloom"]) for r in f.to_df().collect()}
    pids = fps % f.n_partitions  # numpy % on int64 is non-negative, like pmod
    out = np.zeros(fps.size, dtype=bool)
    for p in np.unique(pids):
        if int(p) not in slices:
            continue  # no slice: nothing inserted in that partition
        m = pids == p
        if isinstance(f, CuckooSeenSet):
            table = np.frombuffer(slices[int(p)], dtype=np.uint16).reshape(
                f.n_buckets, f.SLOTS)
            out[m] = _cuckoo_lookup(table, fps[m], f.n_buckets)
        else:
            bitmap = np.frombuffer(slices[int(p)], dtype=np.uint8)
            pos = bloom_positions(fps[m], f.n_bits, f.n_hashes)
            bits = bitmap[(pos // 8).astype(np.int64)] >> (pos % 8).astype(np.uint8)
            out[m] = (bits & 1).astype(bool).all(axis=1)
    return out


@pytest.mark.parametrize("cls", [BloomSeenSet, CuckooSeenSet])
def test_probe_paths_agree(spark, cls):
    """The Spark probe and a numpy reference lookup of the filter's own
    partition rows give identical maybe_seen for every fp."""
    inserted = _keys(spark, 0, 5_000)
    mixed = _keys(spark, 2_500, 5_000)  # half seen, half fresh
    f = cls.empty(spark, 8, 1 << 14)
    f.add_keys(inserted)
    fps = np.array([r["url_fp"] for r in mixed.collect()], dtype=np.int64)
    want = dict(zip(fps.tolist(), _reference_maybe_seen(f, fps).tolist()))
    got = {
        r["url_fp"]: r["maybe_seen"]
        for r in f.probe(mixed, "url_fp").collect()
    }
    assert got == want
    # the reference is not trivially all-true or all-false
    seen = {r["url_fp"] for r in inserted.collect()}
    assert all(want[fp] for fp in seen & want.keys())
    fresh = [want[fp] for fp in want.keys() - seen]
    assert len(fresh) == 2_500 and sum(fresh) / len(fresh) < 0.02


def test_filter_unseen_plan_building_runs_no_job(spark):
    """filter_unseen only builds a lazy plan: with a non-empty Bloom or
    cuckoo filter it must not submit a Spark job (no driver-side collect
    of the filter's slices)."""
    seen = _keys(spark, 0, 5_000)
    cand = _keys(spark, 4_000, 2_000)
    filters = [BloomSeenSet.empty(spark, 8, 1 << 14),
               CuckooSeenSet.empty(spark, 8, 1 << 14)]
    for f in filters:
        f.add_keys(seen)  # runs jobs; outside the watched group
        assert f.n_items > 0
    sc = spark.sparkContext
    group = "test_filter_unseen_plan_building_runs_no_job"
    sc.setJobGroup(group, group)
    try:
        for f in filters:
            filter_unseen(cand, seen, "url_fp", bloom=f)
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert jobs == []


def test_incremental_merge_executor_side(spark):
    """Per-epoch add_keys OR-merges distributed; earlier epochs stay probed."""
    f = BloomSeenSet.empty(spark, 8, 1 << 15)
    for epoch in range(3):
        f.add_keys(_keys(spark, epoch * 10_000, 10_000))
    assert f.n_items == 30_000
    assert f.df.count() == 8  # one row per partition, merged
    false_neg = (
        f.probe(_keys(spark, 0, 30_000), "url_fp")
        .filter(~F.col("maybe_seen")).count()
    )
    assert false_neg == 0


def test_checkpoint_roundtrip_stays_distributed(spark, tmp_path):
    """to_df → parquet → from_df restores geometry and membership; the
    resume path reads one metadata aggregate, not the bitmaps."""
    for cls in (BloomSeenSet, CuckooSeenSet):
        f = cls.empty(spark, 8, 1 << 14)
        f.add_keys(_keys(spark, 0, 8_000))
        path = str(tmp_path / f"filter_{cls.kind}")
        f.to_df().write.mode("overwrite").parquet(path)
        g = cls.from_df(spark.read.parquet(path), 8)
        assert (g.n_partitions, g.n_bits, g.n_items) == (8, f.n_bits, f.n_items)
        false_neg = (
            g.probe(_keys(spark, 0, 8_000), "url_fp")
            .filter(~F.col("maybe_seen")).count()
        )
        assert false_neg == 0


def test_scale_partitioned_no_driver_bitmap(spark):
    """Scale shape: a 64-partition filter over 2M keys is built, merged
    and probed with every byte of bitmap staying in executors."""
    f = BloomSeenSet.empty(spark, 64, 2_000_000)
    f.add_keys(_keys(spark, 0, 2_000_000))
    assert f.n_items == 2_000_000
    probed = f.probe(_keys(spark, 1_999_000, 2_000), "url_fp")
    got = probed.filter(F.col("maybe_seen")).count()
    assert got >= 1_000  # the 1000 inserted keys, plus ≤ fpp of the fresh 1000
    assert got <= 1_000 + 50


def test_cuckoo_delete_restores_unseen(spark):
    f = CuckooSeenSet.empty(spark, 8, 1 << 14)
    all_keys = _keys(spark, 0, 10_000)
    f.add_keys(all_keys)
    evens = all_keys.filter(F.col("url_fp") % 2 == 0)
    odds = all_keys.filter(F.col("url_fp") % 2 != 0)
    f.remove_keys(evens)
    # deleted keys read unseen again (modulo other keys' tag collisions)
    still_seen = f.probe(evens, "url_fp").filter(F.col("maybe_seen")).count()
    assert still_seen / max(evens.count(), 1) < 0.02
    # keys NOT deleted must remain seen — deletion can't cause false negatives
    lost = f.probe(odds, "url_fp").filter(~F.col("maybe_seen")).count()
    assert lost == 0


def test_cuckoo_insert_is_dense_and_exact_numpy():
    """Pure-numpy invariants of the table primitives (no Spark): every
    inserted tag findable, load factor reached without overflow."""
    from nlnieuwscrawler_spark.operators.seen import (
        _cuckoo_insert, _cuckoo_lookup, _cuckoo_delete, CUCKOO_SLOTS,
    )

    nb = 4096
    n = int(nb * CUCKOO_SLOTS * 0.66)
    rng_keys = np.arange(n, dtype=np.int64) * 2_654_435_761
    table = np.zeros((nb, CUCKOO_SLOTS), dtype=np.uint16)
    failed = _cuckoo_insert(table, rng_keys, nb)
    assert failed == 0
    assert bool(_cuckoo_lookup(table, rng_keys, nb).all())
    removed = _cuckoo_delete(table, rng_keys[: n // 2], nb)
    assert removed == n // 2


def test_filter_unseen_exact_with_either_filter(spark):
    seen = _keys(spark, 0, 5_000)
    cand = _keys(spark, 4_000, 2_000)  # 1000 overlap, 1000 new
    expected = 1_000
    for f in (None,
              BloomSeenSet.empty(spark, 8, 1 << 14),
              CuckooSeenSet.empty(spark, 8, 1 << 14)):
        if f is not None:
            f.add_keys(seen)
        out = filter_unseen(cand, seen, "url_fp", bloom=f)
        assert out.count() == expected
