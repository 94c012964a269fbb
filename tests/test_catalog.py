"""StateStore: append-delta compaction, late-append commit semantics and
the O(batch) merge commit."""

import json
import os

import pytest

from x227f_spark.sources.catalog import MergeDelta, StateStore


def test_append_compaction_bounds_delta_dirs(spark, tmp_path):
    store = StateStore(spark, str(tmp_path / "st"))
    n_rounds = StateStore.COMPACT_AT + 3
    for r in range(1, n_rounds + 1):
        df = spark.createDataFrame([(r, f"k{r}")], "round int, key string")
        store.commit(r, {}, {"t": df})
    # read sees every appended row exactly once
    rows = {(x["round"], x["key"]) for x in store.read("t").collect()}
    assert rows == {(r, f"k{r}") for r in range(1, n_rounds + 1)}
    # delta dir count is bounded (compacted at COMPACT_AT)
    assert len(store._tables["append"]["t"]) < StateStore.COMPACT_AT
    on_disk = [d for d in os.listdir(tmp_path / "st" / "tables" / "t")
               if d.startswith("v")]
    assert len(on_disk) == len(store._tables["append"]["t"])

    # a fresh store resumes from the compacted checkpoint identically
    store2 = StateStore(spark, str(tmp_path / "st"))
    rows2 = {(x["round"], x["key"]) for x in store2.read("t").collect()}
    assert rows2 == rows


def test_late_append_commits_atomically(spark, tmp_path):
    store = StateStore(spark, str(tmp_path / "st2"))
    base = spark.createDataFrame([(1, "a")], "round int, key string")

    def late():
        return {"metrics": spark.createDataFrame([(1, 42)],
                                                 "round int, n int")}

    store.commit(1, {"cow_t": base}, {}, late_append=late)
    assert store.read("metrics").collect()[0]["n"] == 42
    with open(os.path.join(str(tmp_path / "st2"), "checkpoints",
                           "r000001.json")) as f:
        ck = json.load(f)
    assert "metrics" in ck["append"]  # same atomic checkpoint publish


def test_mixed_mode_checkpoint_fails_loudly(spark, tmp_path):
    root = str(tmp_path / "st4")
    store = StateStore(spark, root)
    df = spark.createDataFrame([("a", 1)], "page_id string, n int")
    store.commit(1, {"pages": df})
    ck_path = os.path.join(root, "checkpoints", "r000001.json")
    with open(ck_path) as f:
        ck = json.load(f)
    ck["merge"]["pages"] = {"base": None, "deltas": [], "keys": ["page_id"]}
    with open(ck_path, "w") as f:
        json.dump(ck, f)
    with pytest.raises(ValueError, match="both cow and merge"):
        StateStore(spark, root)


def test_table_commits_in_one_mode_only(spark, tmp_path):
    """A table is committed in exactly one mode: naming it under a second
    mode — in the same commit or a later one — raises before anything is
    published, and the store keeps its last checkpoint."""
    root = str(tmp_path / "stm")
    store = StateStore(spark, root)

    def df(r):
        return spark.createDataFrame([(r, f"k{r}")], "round int, key string")

    with pytest.raises(ValueError, match="in append mode"):
        store.commit(1, {}, {"t": df(1)},
                     merge={"t": MergeDelta(df(1), ["key"])})
    assert not store.exists("t") and store.round == 0
    store.commit(1, {}, {"t": df(1)})
    with pytest.raises(ValueError, match="in append mode"):
        store.commit(2, {"t": df(2)})
    with pytest.raises(ValueError, match="in append mode"):
        store.commit(2, {}, merge={"t": MergeDelta(df(2), ["key"])})
    # a late append is staged after the main writes, still before publish
    with pytest.raises(ValueError, match="in merge mode"):
        store.commit(2, {}, late_append=lambda: {"u": df(2)},
                     merge={"u": MergeDelta(df(2), ["key"])})
    resumed = StateStore(spark, root)
    assert resumed.round == store.round == 1
    assert [r["round"] for r in resumed.read("t").collect()] == [1]


def test_checkpoint_keys_after_compaction_and_fold(spark, tmp_path,
                                                  monkeypatch):
    """Pins the checkpoint JSON format that resume and perfbench's
    per-round store stats parse, after a round that both compacts an
    append table and folds a merge table."""
    # fold every merge delta into the base, whatever its size
    monkeypatch.setattr(StateStore, "MERGE_STACK_MAX", 1)
    root = str(tmp_path / "stk")
    store = StateStore(spark, root)
    for r in range(1, StateStore.COMPACT_AT + 1):
        rows = spark.createDataFrame([(r, f"k{r}")], "round int, key string")
        store.commit(r, {"c": rows}, {"a": rows},
                     stats={"n": r},
                     merge={"m": MergeDelta(rows, ["key"])})
    with open(os.path.join(root, "checkpoints",
                           f"r{StateStore.COMPACT_AT:06d}.json")) as f:
        ck = json.load(f)
    assert list(ck) == ["round", "cow", "append", "merge", "stats"]
    assert ck["round"] == StateStore.COMPACT_AT
    assert ck["stats"] == {"n": StateStore.COMPACT_AT}
    assert set(ck["cow"]) == {"c"} and isinstance(ck["cow"]["c"], int)
    # the round-COMPACT_AT commit compacted the append table to one version
    assert len(ck["append"]["a"]) == 1
    ent = ck["merge"]["m"]
    assert sorted(ent) == ["base", "base_bytes", "delta_bytes", "deltas",
                           "keys"]
    # ...and folded the merge table's delta into a new base
    assert isinstance(ent["base"], int) and ent["base_bytes"] > 0
    assert ent["deltas"] == [] and ent["delta_bytes"] == []
    assert ent["keys"] == ["key"]
    rows = {(x["round"], x["key"]) for x in store.read("m").collect()}
    assert rows == {(r, f"k{r}") for r in range(1, StateStore.COMPACT_AT + 1)}
    assert StateStore(spark, root).read("a").count() == StateStore.COMPACT_AT


def test_merge_commit_writes_o_batch(spark, tmp_path):
    """A merge commit writes only the batch: the same B-row delta (updates,
    inserts and tombstones) committed over S and over 2S rows of state
    records the same delta bytes, far below the base it stacks on."""
    def rows(ids):
        return ids.selectExpr("concat('k', id) as key", "id as v",
                              "sha2(cast(id as string), 256) as pad")

    def delta_and_base_bytes(n_state):
        root = str(tmp_path / f"s{n_state}")
        store = StateStore(spark, root)
        store.commit(1, {}, merge={"t": MergeDelta(
            rows(spark.range(n_state)), ["key"])})
        upd = spark.range(500).union(spark.range(10**9, 10**9 + 500))
        dels = rows(spark.range(1000, 1100)).select("key")
        store.commit(2, {}, merge={"t": MergeDelta(rows(upd), ["key"],
                                                   dels)})
        with open(os.path.join(root, "checkpoints", "r000002.json")) as f:
            ent = json.load(f)["merge"]["t"]
        assert len(ent["delta_bytes"]) == 1  # the batch stacked, no fold
        assert store.read("t").count() == n_state + 500 - 100
        return ent["delta_bytes"][0], ent["base_bytes"]

    small, base_small = delta_and_base_bytes(50_000)
    large, base_large = delta_and_base_bytes(100_000)
    assert abs(large - small) <= 0.1 * small
    assert base_large > 1.5 * base_small
    assert small < base_small / 10


def test_commit_falls_back_to_serial_on_unmaterialized_cache(
        spark, tmp_path, caplog):
    """The bounded write pool requires every shared staged input to be
    materialized; a staged plan still referencing a lazy cache must drop
    the commit to serial writes (enforced, not comment discipline) and
    still commit correctly."""
    import logging

    store = StateStore(spark, str(tmp_path / "stc"))
    base = spark.range(100).selectExpr("id as k", "id * 2 as v").persist()
    try:
        a = base.where("k % 2 = 0")
        b = base.where("k % 2 = 1")
        with caplog.at_level(logging.WARNING,
                             logger="x227f_spark.sources.catalog"):
            store.commit(1, {"a": a, "b": b})
        assert any("unmaterialized cache" in r.message
                   for r in caplog.records)
        assert store.read("a").count() + store.read("b").count() == 100
        # once the cache is materialized the pool-safe check passes silently
        base.count()
        caplog.clear()
        with caplog.at_level(logging.WARNING,
                             logger="x227f_spark.sources.catalog"):
            store.commit(2, {"a2": a})
        assert not any("unmaterialized cache" in r.message
                       for r in caplog.records)
    finally:
        base.unpersist()
