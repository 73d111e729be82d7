"""Resume invariant: kill between sink commits → rerun → identical state.

Mirrors the reference's buffer-recovery guarantee
(reference: buffer/hybridbuffer/bufferer_test.go, TESTING.md:24-39).
"""

from __future__ import annotations

import os
import tempfile

import pytest

from slog_agent_spark.plans import pipeline as P
from slog_agent_spark.plans.checkpoint import SinkCheckpointer, write_sinks_resumable


def _final_state(spark, root: str) -> dict:
    out = {}
    for name in sorted(os.listdir(root)):
        if name.startswith("tag="):
            df = spark.read.parquet(os.path.join(root, name))
            rows = sorted(
                (r["conv_id"], r["turn_idx"], r["log"]) for r in df.collect()
            )
            out[name] = rows
    return out


def test_kill_and_resume_converges(spark, sf_dir):
    from pyspark import StorageLevel

    tf = P.transformed_df(spark, sf_dir).persist()

    with tempfile.TemporaryDirectory() as clean_root, \
         tempfile.TemporaryDirectory() as crash_root:
        clean_ckpt = SinkCheckpointer(clean_root, "cfg-v1", "fp-1")
        write_sinks_resumable(tf, clean_ckpt)
        # the caller's cache survives the call (its later readers use it)
        assert tf.storageLevel != StorageLevel.NONE
        clean = _final_state(spark, clean_root)
        assert len(clean) >= 3  # several tag sinks exist

        crash_ckpt = SinkCheckpointer(crash_root, "cfg-v1", "fp-1")
        with pytest.raises(RuntimeError, match="injected failure"):
            write_sinks_resumable(tf, crash_ckpt, fail_after=1)
        assert len(crash_ckpt.manifests()) == 1  # one partition ACKed

        # resume: must skip the committed partition and finish the rest
        written = write_sinks_resumable(tf, crash_ckpt)
        committed_tag = crash_ckpt.manifests()[0]["tag"]
        assert all(t != committed_tag for t in written)

        assert _final_state(spark, crash_root) == clean

        # manifests carry lineage
        for m in crash_ckpt.manifests():
            assert m["config_hash"] == clean_ckpt.config_hash
            assert m["rows"] >= 0 and m["bytes"] > 0
    tf.unpersist()


def test_config_change_invalidates(spark, sf_dir):
    tf = P.transformed_df(spark, sf_dir)
    with tempfile.TemporaryDirectory() as root:
        ck1 = SinkCheckpointer(root, "cfg-v1", "fp-1")
        w1 = write_sinks_resumable(tf, ck1)
        assert w1
        # same config: full skip
        assert write_sinks_resumable(tf, ck1) == {}
        # changed config hash: everything rewritten
        ck2 = SinkCheckpointer(root, "cfg-v2", "fp-1")
        w2 = write_sinks_resumable(tf, ck2)
        assert sorted(w2) == sorted(w1)
