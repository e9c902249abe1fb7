"""Lineage manifests + resume semantics + materialized layout."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F


def test_manifest_records_lineage(spark, tmp_path):
    from kgforge.checkpoint import try_resume, write_stage

    df = spark.range(100).select(
        F.concat(F.lit("https://d/"), F.col("id")).alias("url"),
        (F.col("id") * 2).alias("v"),
    )
    path = str(tmp_path / "stage_x")
    out = write_stage(df, path, "stage_x", "cfg123", model_hash="m1")
    assert out.count() == 100

    meta = json.load(open(os.path.join(path, "_kg_manifest.json")))
    assert meta["stage"] == "stage_x"
    assert meta["config_hash"] == "cfg123"
    assert meta["model_hash"] == "m1"
    assert meta["rows"] == 100
    assert meta["partitions"], "per-partition lineage missing"
    assert sum(p["rows"] for p in meta["partitions"]) == 100
    for p in meta["partitions"]:
        assert "url_min" in p and "url_max" in p
    # hot-key guard metric: urls are unique here, so max rows per key is 1
    hk = meta["metrics"]["hot_key"]
    assert hk["col"] == "url" and hk["n_keys"] == 100 and hk["max_rows"] == 1

    # resume hit (stage + config + model identity all match)
    resumed = try_resume(spark, path, "stage_x", "cfg123", model_hash="m1")
    assert resumed is not None and resumed.count() == 100
    # config change -> no resume (exactness guarantee)
    assert try_resume(spark, path, "stage_x", "other", model_hash="m1") is None
    assert try_resume(spark, path, "stage_y", "cfg123", model_hash="m1") is None
    # model/extractor version bump -> no resume (stale-output guard)
    assert try_resume(spark, path, "stage_x", "cfg123", model_hash="m2") is None
    assert try_resume(spark, path, "stage_x", "cfg123") is None


def test_materialize_partitioned_by_pred(spark, tmp_path):
    from kgforge.pipeline import materialize_triples

    rows = [
        ("https://a", 0, "PER_1", "lives_in", "LOC_1", "A", "B", 0.9),
        ("https://b", 1, "PER_2", "works_for", "ORG_1", "C", "D", 0.8),
    ]
    from kgforge import schemas
    df = spark.createDataFrame(rows, schema=schemas.TRIPLES)
    out = str(tmp_path / "triples")
    materialize_triples(df, out)
    dirs = {d for d in os.listdir(out) if d.startswith("pred=")}
    assert dirs == {"pred=lives_in", "pred=works_for"}
    back = spark.read.parquet(out)
    assert back.count() == 2
    assert set(back.columns) == set(df.columns)


def test_materialize_write_parallelism(spark, tmp_path):
    """A hot predicate's directory must be written by multiple tasks
    (bucketed repartition on (pred, pmod(xxhash64(url), B))) — hashing on
    pred alone would funnel the whole output through <= n_predicates tasks."""
    from kgforge import schemas
    from kgforge.pipeline import materialize_triples

    rows = [(f"https://d{i}", 0, f"PER_{i}", "lives_in", f"LOC_{i}",
             "a", "b", 0.5) for i in range(400)]
    df = spark.createDataFrame(rows, schema=schemas.TRIPLES)
    out = str(tmp_path / "triples_hot")
    # AQE rightly coalesces KB-sized test shuffles into one partition; what
    # we are pinning is KEY CARDINALITY (pred alone caps tasks at
    # n_predicates no matter the data size) — so disable coalescing to see it
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(key, "true")
    spark.conf.set(key, "false")
    try:
        materialize_triples(df, out)
    finally:
        spark.conf.set(key, prev)
    files = [f for f in os.listdir(os.path.join(out, "pred=lives_in"))
             if f.startswith("part-")]
    assert len(files) > 4, files


def test_partial_resume_recomputes_only_missing_stage(spark, tmp_path):
    """Deleting one stage's checkpoint recomputes it (and downstream) while
    upstream stages resume from their manifests — byte-identical output."""
    import shutil

    from kgforge import schemas
    from kgforge.config import PipelineConfig
    from kgforge.pipeline import run_pipeline
    from kgforge.queries import _alias_df
    from kgforge.synth import gen_pages

    pages, _ = gen_pages(0, 40)
    pages_df = spark.createDataFrame(pages, schema=schemas.PAGES)
    alias_df = _alias_df(spark)
    cfg = PipelineConfig()
    wd = str(tmp_path / "wd")

    rows1 = sorted(map(tuple, run_pipeline(spark, pages_df, alias_df, cfg,
                                           workdir=wd).collect()))
    shutil.rmtree(os.path.join(wd, "s4_resolved"))
    shutil.rmtree(os.path.join(wd, "s5_triples"))
    rows2 = sorted(map(tuple, run_pipeline(spark, pages_df, alias_df, cfg,
                                           workdir=wd).collect()))
    assert rows1 == rows2
    assert os.path.exists(os.path.join(wd, "s4_resolved", "_kg_manifest.json"))


def test_hot_key_guard_metric_surfaces_bot_user(spark, tmp_path):
    """The funnel/sessionize watch item: per-user collected arrays are
    bounded only by per-user activity, so a bot user must be OBSERVABLE in
    the lineage metrics before it straggles a task. write_stage records
    the per-key row-count max (and which key) for any keyed stage."""
    import json
    import os

    from kgforge.checkpoint import hot_key_stats, write_stage

    rows = [(7, i) for i in range(50)] + [(u, 0) for u in range(3)]
    events = spark.createDataFrame(rows, "user_id long, seq long")
    stats = hot_key_stats(events, "user_id")
    assert stats == {"col": "user_id", "n_keys": 4, "max_rows": 50,
                     "hot_key": "7"}

    path = str(tmp_path / "stage_events")
    write_stage(events, path, "events", "cfg", url_col=None,
                hot_key_col="user_id")
    meta = json.load(open(os.path.join(path, "_kg_manifest.json")))
    assert meta["metrics"]["hot_key"] == stats
    # empty frame: metric degrades gracefully
    assert hot_key_stats(events.where("user_id < 0"), "user_id") == {
        "col": "user_id", "n_keys": 0, "max_rows": 0, "hot_key": None}
