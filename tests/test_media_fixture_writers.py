"""Executor-parallel media fixture writers (round-6, VERDICT r5 ask #3).

The binaryFile-PNG and WebDataset-TAR fixtures used to be written in a
driver-side Python loop — the one serial stage in the media story. Now the
encode+write runs as a Spark job (``foreachPartition``): these tests pin
(1) that fixture generation actually schedules Spark jobs (job-group count
— a silent regression to a driver loop would schedule none beyond the id
collect), and (2) that the distributed writers produce complete, decodable,
correctly-paired media — same contract the queries consume.
"""

from __future__ import annotations

import glob
import io
import os
import shutil
import tarfile
import tempfile

from incr_iter_hadoop_spark.catalog import load_table
from incr_iter_hadoop_spark.functions.jpeg import decode_jpeg_gray
from incr_iter_hadoop_spark.functions.png import decode_png_rgb
from incr_iter_hadoop_spark.operators.multimodal import (
    _IMG_H,
    _IMG_W,
    _pixel,
    _png_fixture_dir,
    _wds_fixture_dir,
)


def _fresh(spark, sf_dir, fn, family):
    """Run a fixture builder with ITS FAMILY's cache entries removed (only
    ``<family>_*`` dirs — not the whole shared cache root, which would
    clobber fixtures other tests in the session already built) inside a
    job group, returning (dir, jobs-scheduled-in-group)."""
    cache_root = os.path.join(tempfile.gettempdir(), "spark_graft_media")
    for d in glob.glob(os.path.join(cache_root, f"{family}_*")):
        shutil.rmtree(d, ignore_errors=True)
    # infer the documents schema outside the group: only a table file's
    # first load runs a job for it
    load_table(spark, sf_dir, "documents")
    sc = spark.sparkContext
    sc.setJobGroup("media-fixture-test", "fixture generation")
    try:
        root = fn(spark, sf_dir)
        jobs = sc.statusTracker().getJobIdsForGroup("media-fixture-test")
    finally:
        sc.setJobGroup("", "")
    return root, jobs


def test_png_fixture_distributed_and_decodable(spark, sf_dir):
    root, jobs = _fresh(spark, sf_dir, _png_fixture_dir, "png")
    # the id collect alone schedules 1 job; the foreachPartition write
    # adds at least one more — a regression to a driver-side write loop
    # would leave exactly 1
    assert len(jobs) >= 2, jobs
    assert os.path.isfile(os.path.join(root, "_SUCCESS"))
    files = sorted(glob.glob(os.path.join(root, "*.png")))
    assert files, "no PNGs written"
    assert not glob.glob(os.path.join(root, "*.tmp")), "uncommitted temp files"
    for path in files[:5]:
        doc_id = int(os.path.basename(path)[4:-4])
        with open(path, "rb") as fh:
            w, h, raw = decode_png_rgb(fh.read())
        assert (w, h) == (_IMG_W, _IMG_H)
        # spot-check the generating formula survived the distributed write
        assert raw[0] == _pixel(doc_id, 0, 0, 0)
        assert raw[1] == _pixel(doc_id, 0, 0, 1)


def test_wds_fixture_distributed_and_paired(spark, sf_dir):
    root, jobs = _fresh(spark, sf_dir, _wds_fixture_dir, "wds")
    assert len(jobs) >= 3, jobs
    assert os.path.isfile(os.path.join(root, "_SUCCESS"))
    shards = sorted(glob.glob(os.path.join(root, "shard-*.tar")))
    assert shards, "no shards written"
    seen: set[int] = set()
    for path in shards:
        with tarfile.open(path) as tf:
            members = tf.getmembers()
            stems = {}
            for m in members:
                stem, _, ext = m.name.rpartition(".")
                stems.setdefault(int(stem), set()).add(ext)
                if ext == "jpg":
                    w, h, _raw = decode_jpeg_gray(
                        tf.extractfile(m).read()
                    )
                    assert w > 0 and h > 0
            # every sample has BOTH components inside the same shard
            assert all(v == {"jpg", "txt"} for v in stems.values())
            assert not (seen & stems.keys()), "doc in two shards"
            seen |= stems.keys()
    assert seen, "no samples"


def test_fixture_cache_reused_without_new_jobs(spark, sf_dir):
    # second call with a warm cache must be a pure dir lookup: no write job
    root1, _ = _fresh(spark, sf_dir, _png_fixture_dir, "png")
    sc = spark.sparkContext
    sc.setJobGroup("media-fixture-warm", "warm lookup")
    try:
        root2 = _png_fixture_dir(spark, sf_dir)
        jobs = sc.statusTracker().getJobIdsForGroup("media-fixture-warm")
    finally:
        sc.setJobGroup("", "")
    assert root2 == root1
    # only the id collect (digest key, 1 job) may run — never the write
    # job
    assert len(jobs) <= 1, jobs
