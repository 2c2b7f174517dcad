"""Shuffle-free decode (engine.decode_frozen) vs the relational path.

decode_frozen is the one read path for frozen outputs: identical rows to
decode(read_encoded(...)) under every commit/orphan/failure/snapshot
state, with no payload FileScan and no Spark job to plan it — its
visibility comes from the driver-side resolver (engine._visible).
"""

from __future__ import annotations

import os
import shutil
import uuid

import pytest
from pyspark.sql import functions as F

from cryo_spark import engine, snapshots

TARGET = 200_000
SMALL = 20_000   # many small chunks from the 10k fixture
BIG = 400_000    # compact target


@pytest.fixture(scope="module")
def frozen_dir(spark, sequences_path, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("dfz") / "frozen")
    s = engine.freeze(spark, sequences_path, out, target_tokens=TARGET)
    assert s["n_encoded"] > 0
    return out


def _assert_same(spark, df_fast, df_ref, key="doc_id"):
    assert df_fast.count() == df_ref.count()
    j = df_fast.alias("a").join(df_ref.alias("b"), key, "full_outer")
    cols = [c for c in df_fast.columns if c != key]
    pred = None
    for c in cols:
        t = (
            F.col(f"a.{c}").isNull() != F.col(f"b.{c}").isNull()
        ) | (F.col(f"a.{c}") != F.col(f"b.{c}"))
        pred = t if pred is None else pred | t
    assert j.filter(pred).count() == 0


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _two_ranges(spark, sequences_path, out):
    for keys in ("0:5000", "5000:10000"):
        engine.freeze(spark, sequences_path, out, target_tokens=TARGET,
                      keys=keys)


STATES = ["compacted", "rolled_back", "consolidated", "as_of",
          "partition_by"]


@pytest.fixture(scope="module", params=STATES)
def state(request, spark, sequences_path, tmp_path_factory):
    """(output dir, as_of) in each state whose visibility is more than
    one plain run: tombstones (a partial compaction leaves retired and
    live chunks in the same files), a rollback past a compaction, a
    consolidated manifest, time travel, and the nested partition_by
    layout."""
    name = request.param
    out = str(tmp_path_factory.mktemp(name) / "out")
    as_of = None
    if name == "compacted":
        engine.freeze(spark, sequences_path, out, target_tokens=SMALL)
        c = engine.compact(spark, out, target_tokens=BIG, max_chunks=6)
        assert c["n_retired"] == 6
    elif name == "rolled_back":
        s = engine.freeze(spark, sequences_path, out, target_tokens=SMALL)
        assert engine.compact(spark, out, target_tokens=BIG)["run"]
        snapshots.rollback(out, s["snapshot"])
    elif name == "consolidated":
        _two_ranges(spark, sequences_path, out)
        assert engine.consolidate_manifests(spark, out)["consolidated"]
    elif name == "as_of":
        _two_ranges(spark, sequences_path, out)
        as_of = 1
    else:
        engine.freeze(spark, sequences_path, out, target_tokens=TARGET,
                      partition_by=["partition_id"])
    return out, as_of


def _check_matches(spark, out, as_of):
    fast = engine.decode_frozen(spark, out, as_of=as_of)
    ref = engine.decode(engine.read_encoded(spark, out, as_of=as_of))
    assert fast.count() > 0
    _assert_same(spark, fast, ref)


def _check_no_payload_scan(spark, out, as_of):
    """The only exchange in the fast plan is the tiny task-list
    round-robin, and building it runs no Spark job; the relational plan
    scans and repartitions the payload rows."""
    sc = spark.sparkContext
    group = f"decode_frozen_plan_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "plan only")
    try:
        fast = engine.decode_frozen(spark, out, as_of=as_of)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    # the fast plan's scan is a local task-list relation
    assert "FileScan parquet" not in _plan(fast)
    rel = engine.decode(engine.read_encoded(spark, out, as_of=as_of))
    assert "FileScan parquet" in _plan(rel)


def test_matches_relational(spark, frozen_dir):
    _check_matches(spark, frozen_dir, None)


def test_no_payload_exchange_in_plan(spark, frozen_dir):
    _check_no_payload_scan(spark, frozen_dir, None)


def test_matches_relational_in_state(spark, state):
    _check_matches(spark, *state)


def test_no_payload_exchange_in_state(spark, state):
    _check_no_payload_scan(spark, *state)


def test_orphan_run_invisible(spark, frozen_dir, tmp_path):
    """An encoded run dir with no manifest run dir contributes nothing."""
    work = str(tmp_path / "orphan")
    shutil.copytree(frozen_dir, work)
    enc_base = f"{work}/encoded"
    run = next(d for d in os.listdir(enc_base) if d.startswith("run="))
    shutil.copytree(f"{enc_base}/{run}", f"{enc_base}/run=deadbeefcafe")
    n_ref = engine.decode(engine.read_encoded(spark, work)).count()
    n_fast = engine.decode_frozen(spark, work).count()
    assert n_fast == n_ref


def test_unmarked_run_is_invisible(spark, sequences_path, tmp_path):
    """A manifest run dir without its _SUCCESS marker (a writer that
    died mid-commit) is uncommitted on every path: decode_frozen,
    read_encoded and read_manifest all skip it, and a re-freeze
    re-encodes its chunks."""
    out = str(tmp_path / "partial")
    _two_ranges(spark, sequences_path, out)
    runs = [e["run"] for e in snapshots.log(out)]
    os.remove(f"{out}/manifest/run={runs[1]}/_SUCCESS")
    first = spark.read.parquet(sequences_path).filter(
        F.col("doc_id") < "doc-000000005000")
    assert engine.decode_frozen(spark, out).count() == first.count()
    _assert_same(spark, engine.decode_frozen(spark, out),
                 engine.decode(engine.read_encoded(spark, out)))
    man_runs = {r.run for r in engine.read_manifest(spark, out)
                .select("run").distinct().collect()}
    assert man_runs == {runs[0]}
    s = engine.freeze(spark, sequences_path, out, target_tokens=TARGET,
                      keys="5000:10000")
    assert s["n_skipped"] == 0 and s["n_encoded"] == s["n_chunks"] > 0
    dec = engine.decode_frozen(spark, out)
    assert dec.count() == dec.select("doc_id").distinct().count() == 10_000


def test_freeze_rejects_chunk_splitting_partition_by(spark, sequences_path,
                                                     tmp_path):
    out = str(tmp_path / "pby")
    with pytest.raises(ValueError, match="partition_by"):
        engine.freeze(spark, sequences_path, out, target_tokens=TARGET,
                      partition_by=["column"])
    assert not os.path.exists(out)


def test_column_pruned(spark, frozen_dir):
    dec = engine.decode_frozen(spark, frozen_dir, columns=["doc_id", "n_tok"])
    assert dec.columns == ["doc_id", "n_tok"]
    ref = engine.decode(engine.read_encoded(spark, frozen_dir),
                        columns=["doc_id", "n_tok"])
    _assert_same(spark, dec, ref)


def test_collect_fast_path_rows(spark, sequences_path, frozen_dir):
    df = engine.collect(spark, frozen_dir)
    src = spark.read.parquet(sequences_path)
    assert df.count() == src.count()
    bad = (
        df.alias("d").join(src.alias("s"), "doc_id", "inner")
        .filter(F.col("d.tokens") != F.col("s.tokens")).count()
    )
    assert bad == 0


def test_embeddings_spec(spark, tmp_path):
    from cryo_spark.fixtures import write_embeddings
    from cryo_spark.tablespec import EMBEDDINGS

    inp = str(tmp_path / "emb.parquet")
    write_embeddings(inp, n=3_000, dim=24)
    out = str(tmp_path / "emb_frozen")
    engine.freeze(spark, inp, out, target_tokens=20_000, spec=EMBEDDINGS)
    fast = engine.decode_frozen(spark, out, spec=EMBEDDINGS)
    ref = engine.decode(engine.read_encoded(spark, out), spec=EMBEDDINGS)
    _assert_same(spark, fast, ref, key="vec_id")


def test_empty_output_dir(spark, tmp_path):
    out = str(tmp_path / "nothing")
    dec = engine.decode_frozen(spark, out)
    assert dec.count() == 0
    assert dec.columns == ["doc_id", "tokens", "n_tok", "source"]
