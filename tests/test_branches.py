"""Snapshot branches: write-audit-publish isolation (Iceberg branches).

``snapshots.branch`` anchors a named lineage at a snapshot;
``freeze(..., branch=name)`` commits land on the branch — invisible to
main readers — and every read path accepts ``as_of='branch:<name>'``.
``snapshots.publish`` fast-forwards main to the branch head (refusing
if main diverged). Vacuum must never collect branch-only runs.
"""

from __future__ import annotations

import pytest

from cryo_spark import collect, decode_frozen, freeze, vacuum, write_sequences
from cryo_spark import snapshots
from cryo_spark.engine import read_manifest


def _ids(df):
    return sorted(r.doc_id for r in df.select("doc_id").collect())


@pytest.fixture()
def branched(spark, tmp_path):
    """Freeze keys 0:300 on main -> branch 'audit' -> 300:450 on it."""
    src = str(tmp_path / "seqs.parquet")
    write_sequences(src, n=600, seed=11)
    out = str(tmp_path / "out")
    s1 = freeze(spark, src, out, target_tokens=20_000, keys="0:300")
    assert s1["snapshot"] == 1
    snapshots.branch(out, "audit")
    sb = freeze(spark, src, out, target_tokens=20_000, keys="300:450",
                branch="audit")
    assert sb["n_encoded"] > 0
    return src, out


def test_branch_isolation(spark, branched):
    src, out = branched
    from pyspark.sql import functions as F

    a_ids = _ids(spark.read.parquet(src).filter(
        F.col("doc_id") < "doc-000000000300"))
    # main sees only A (branch commits invisible on every read path)
    assert _ids(decode_frozen(spark, out)) == a_ids
    assert _ids(collect(spark, out)) == a_ids
    # the branch sees A (inherited from the anchor) + B's range
    br = _ids(decode_frozen(spark, out, as_of="branch:audit"))
    assert set(a_ids) < set(br)
    assert len(br) == len(a_ids) + 150
    # manifest visibility agrees
    main_runs = {r.run for r in
                 read_manifest(spark, out).select("run").distinct().collect()}
    br_runs = {r.run for r in
               read_manifest(spark, out, as_of="branch:audit")
               .select("run").distinct().collect()}
    assert len(br_runs - main_runs) == 1


def test_branch_resume_counts_branch_runs(spark, branched):
    src, out = branched
    # same key range re-frozen on the branch: everything already done
    s = freeze(spark, src, out, target_tokens=20_000, keys="300:450",
               branch="audit")
    assert s["n_encoded"] == 0
    # on MAIN the branch runs are invisible: the same freeze encodes
    s2 = freeze(spark, src, out, target_tokens=20_000, keys="300:450")
    assert s2["n_encoded"] > 0


def test_publish_fast_forwards_main(spark, branched):
    src, out = branched
    from pyspark.sql import functions as F

    a_ids = _ids(spark.read.parquet(src).filter(
        F.col("doc_id") < "doc-000000000300"))
    seq = snapshots.publish(out, "audit")
    # unqualified reads now see the branch state
    pub = _ids(decode_frozen(spark, out))
    assert set(a_ids) < set(pub) and len(pub) == len(a_ids) + 150
    # time travel below the publish still sees plain main
    assert _ids(decode_frozen(spark, out, as_of=seq - 1)) == a_ids


def test_publish_refuses_diverged_main(spark, branched):
    src, out = branched
    freeze(spark, src, out, target_tokens=20_000, keys="450:600")  # main
    with pytest.raises(ValueError, match="diverged"):
        snapshots.publish(out, "audit")


def test_vacuum_keeps_branch_runs(spark, branched):
    src, out = branched
    rep = vacuum(spark, out)
    assert rep["n_deleted_runs"] == 0
    # branch read still intact after vacuum
    assert decode_frozen(spark, out, as_of="branch:audit").count() == 450


def test_vacuum_keeps_main_runs_a_branch_still_reads(spark, branched):
    """A branch reads main as it stood at its anchor: compacting main
    retires A there, but A is still live at the branch head, so vacuum
    must keep its payload and the branch read must stay whole."""
    from cryo_spark import compact, verify_output

    src, out = branched
    c = compact(spark, out, target_tokens=400_000)
    assert c["run"] is not None and c["n_compacted"] > 1
    rep = vacuum(spark, out)
    assert rep["n_deleted_runs"] == 0, rep
    assert decode_frozen(spark, out, as_of="branch:audit").count() == 450
    assert decode_frozen(spark, out).count() == 300
    assert verify_output(spark, out)["status"] == "ok"


def test_verify_catches_lost_branch_only_payload(spark, branched):
    """A branch-only run's lost file is corruption before a publish
    exposes it on main."""
    import glob
    import os

    from cryo_spark import verify_output

    src, out = branched
    (b_run,) = [e["run"] for e in snapshots.log(out)
                if e.get("branch") == "audit" and e["kind"] == "append"]
    os.remove(sorted(glob.glob(f"{out}/encoded/run={b_run}/*.parquet"))[0])
    r = verify_output(spark, out)
    assert r["status"] == "corrupt", r
    assert r["missing_payload_runs"] == [b_run], r


def test_stream_encode_to_branch(spark, branched, tmp_path):
    """Streaming WAP: micro-batches land on the branch, publish reveals."""
    from cryo_spark import streaming

    src, out = branched
    inp = tmp_path / "stream_in"
    inp.mkdir()
    write_sequences(str(inp / "a.parquet"), n=100, seed=21)
    before_main = decode_frozen(spark, out).count()
    q = streaming.stream_encode(spark, str(inp), out,
                                str(tmp_path / "ckpt"),
                                target_tokens=50_000, branch="audit")
    q.awaitTermination()
    # main unchanged; the branch gained the streamed batch
    assert decode_frozen(spark, out).count() == before_main
    assert decode_frozen(spark, out, as_of="branch:audit").count() == 450 + 100
    snapshots.publish(out, "audit")
    assert decode_frozen(spark, out).count() == before_main + 150 + 100


def test_unknown_and_duplicate_branches(spark, branched):
    src, out = branched
    with pytest.raises(ValueError, match="unknown branch"):
        decode_frozen(spark, out, as_of="branch:nope")
    with pytest.raises(ValueError, match="unknown branch"):
        freeze(spark, src, out, branch="nope")
    with pytest.raises(ValueError, match="already exists"):
        snapshots.branch(out, "audit")
