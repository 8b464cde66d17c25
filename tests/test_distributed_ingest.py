"""Distributed + streaming ingest must match the driver-side path exactly."""

import json
import os
import uuid

from firepit_spark.storage import SparkStorage
from firepit_spark.sources.bundles import (
    cache_distributed,
    flatten_objects,
    ingest_flat,
    read_bundle_objects,
)
from tests.conftest import distinct_urls, make_bundle


def _url_rows(st):
    return sorted(
        (r["id"], r["value"]) for r in st.get_df("url").collect()
    )


def test_distributed_matches_driver(spark, tmp_path):
    bundle = make_bundle(50)

    driver_st = SparkStorage(str(tmp_path / "wh_driver"), spark=spark)
    driver_st.cache("q1", bundle)  # no defensive copy — see below

    # flatten() is non-mutating (r7), so the bundle SURVIVES cache and can
    # be serialized AFTERWARDS to feed cache_distributed identically — the
    # round-6 gotcha (gutted observations -> only identity/observed-data
    # tables) is now impossible by construction
    bundle_path = tmp_path / "b.json"
    bundle_path.write_text(json.dumps(bundle))

    dist_st = SparkStorage(str(tmp_path / "wh_dist"), spark=spark)
    cache_distributed(dist_st, "q1", str(bundle_path))

    assert sorted(dist_st.tables()) == sorted(driver_st.tables())
    assert _url_rows(dist_st) == _url_rows(driver_st)
    nt_a = {r["id"]: r["dst_port"] for r in dist_st.get_df("network-traffic").collect()}
    nt_b = {r["id"]: r["dst_port"] for r in driver_st.get_df("network-traffic").collect()}
    assert nt_a == nt_b
    # observation metadata incl. parsed timestamps
    od = dist_st.get_df("observed-data")
    assert dict(od.dtypes)["first_observed"] == "timestamp"
    assert od.count() == 50
    # extract works identically on top
    dist_st.extract("urls", "url", "q1", "[url:value LIKE '%page/1%']")
    driver_st.extract("urls", "url", "q1", "[url:value LIKE '%page/1%']")
    assert dist_st.count("urls") == driver_st.count("urls")


def test_streaming_ingest(spark, tmp_path):
    from firepit_spark.streaming.ingest import stream_bundles

    indir = tmp_path / "incoming"
    indir.mkdir()
    st = SparkStorage(str(tmp_path / "wh_stream"), spark=spark)

    (indir / "b1.json").write_text(json.dumps(make_bundle(30)))
    q = stream_bundles(
        st, str(indir), checkpoint_dir=str(tmp_path / "ckpt"), query_id="s1"
    )
    try:
        q.processAllAvailable()
        n1 = st.count("observed-data")
        assert n1 == 30
        # drop a second file; ids overlap -> upsert keeps table deduped
        (indir / "b2.json").write_text(json.dumps(make_bundle(40)))
        q.processAllAvailable()
        assert st.count("observed-data") == 40
        assert st.count("url") == distinct_urls(40)
    finally:
        q.stop()


def test_ingest_dataframe_widens_narrow_numerics(spark, tmp_path):
    """An engine-built frame with INT/FLOAT columns must merge with
    driver-ingested batches (python ints land as BIGINT; parquet schema
    merge refuses INT-vs-BIGINT across batch partitions)."""
    from pyspark.sql import functions as F

    from firepit_spark.storage import SparkStorage

    st = SparkStorage(str(tmp_path / "wh_widen"), spark=spark)
    # driver path first: python int -> BIGINT column
    st.cache("q1", {"type": "bundle", "id": "bundle--w", "objects": [
        {"type": "identity", "id": "identity--1", "name": "t"},
        {"type": "observed-data", "id": "observed-data--1",
         "created_by_ref": "identity--1",
         "first_observed": "2020-01-01T00:00:00Z",
         "last_observed": "2020-01-01T00:00:00Z", "number_observed": 2,
         "objects": {"0": {"type": "network-traffic", "src_port": 80,
                           "dst_port": 443, "protocols": ["tcp"]}}}]})
    # engine path second: int literals -> IntegerType before normalization
    eng = spark.range(1).select(
        F.lit("network-traffic--e1").alias("id"),
        F.lit(1234).cast("int").alias("src_port"),
        F.lit(53).cast("int").alias("dst_port"),
        F.lit(0.5).cast("float").alias("x_score"),
    )
    st.ingest_dataframe("network-traffic", eng, "q2")
    got = st.table_df("network-traffic")
    dtypes = dict(got.dtypes)
    assert dtypes["src_port"] == "bigint" and dtypes["x_score"] == "double"
    assert got.count() == 2  # both batches readable through the merge


def test_streaming_ingest_replay_idempotent(spark, tmp_path):
    """Commit-marker replay drill for stream_bundles (same harness as the
    bloom-dedup and rollup drills): delete the checkpoint's commit marker
    so the restarted query re-runs batch 0 — the deterministic-SCO-id
    upsert merge must leave every warehouse table row-identical
    (at-least-once delivery becomes effectively exactly-once ingest)."""
    import os

    from firepit_spark.streaming.ingest import stream_bundles

    indir = tmp_path / "incoming"
    indir.mkdir()
    st = SparkStorage(str(tmp_path / "wh_replay"), spark=spark)
    ckpt = str(tmp_path / "ckpt")

    (indir / "b1.json").write_text(json.dumps(make_bundle(25)))

    def start():
        return stream_bundles(st, str(indir), checkpoint_dir=ckpt, query_id="s1")

    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    def snapshot():
        out = {}
        for t in sorted(st.tables()):
            df = st.get_df(t)
            out[t] = sorted(
                tuple(str(v) for v in row) for row in df.collect()
            )
        return out

    first = snapshot()
    assert first["observed-data"] and first["url"]

    # simulate a crash after the sink write but before the commit marker
    os.remove(os.path.join(ckpt, "commits", "0"))
    crc = os.path.join(ckpt, "commits", ".0.crc")
    if os.path.exists(crc):
        os.remove(crc)
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert snapshot() == first


def test_streaming_ingest_backpressure(spark, tmp_path):
    """max_files_per_trigger bounds each micro-batch to N bundle files (the
    restart-backlog backpressure knob): three files at 1/trigger take >= 3
    batches and the warehouse still converges to the same state."""
    from firepit_spark.streaming.ingest import stream_bundles

    indir = tmp_path / "incoming"
    indir.mkdir()
    st = SparkStorage(str(tmp_path / "wh_bp"), spark=spark)
    for i, n in enumerate((10, 20, 30)):
        (indir / f"b{i}.json").write_text(json.dumps(make_bundle(n)))
    q = stream_bundles(
        st, str(indir), checkpoint_dir=str(tmp_path / "ckpt"),
        query_id="bp", max_files_per_trigger=1,
    )
    try:
        q.processAllAvailable()
        batches = len(q.recentProgress)
    finally:
        q.stop()
    assert batches >= 3  # one file per micro-batch, not one giant batch
    assert st.count("observed-data") == 30  # ids overlap; upsert dedups


def _mixed_kind_bundle() -> dict:
    """2.0 observations of x-oca-asset SCOs whose custom props change kind
    from one observation to the next, with nanosecond and fractional-second
    observation timestamps."""
    ident = "identity--b1e2c3d4-1111-4222-8333-944444444444"
    rows = [  # x_mixed, x_num, first_observed
        (True, 1, "2024-05-01T12:00:00.123456789Z"),
        ("abc", 2.5, "2024-05-01T12:00:01.5Z"),
        (7, 3, "2024-05-01T12:00:02Z"),
        (1.25, None, "2024-05-01T12:00:03.25Z"),
    ]
    objects = [{"type": "identity", "id": ident, "name": "synth",
                "identity_class": "program"}]
    for i, (mixed, num, first) in enumerate(rows):
        sco = {"type": "x-oca-asset", "hostname": f"host{i}",
               "x_mixed": mixed, "x_flag": i % 2 == 0,
               "x_dict": {"b": i, "a": "z"},
               "x_ints": [i, i + 1], "x_bools": [True, False],
               "x_dicts": [{"k": i}]}
        if num is not None:
            sco["x_num"] = num
        objects.append({
            "type": "observed-data",
            "id": f"observed-data--{i:08d}-0000-4000-8000-000000000000",
            "created_by_ref": ident, "first_observed": first,
            "last_observed": first, "number_observed": 1,
            "objects": {"0": sco},
        })
    return {"type": "bundle", "id": "bundle--mixed", "objects": objects}


def _warehouse_state(st) -> dict:
    """{table: (sorted (column, type) pairs, sorted rows)} for every table."""
    out = {}
    for t in sorted(os.listdir(st.tables_dir)):
        df = st.table_df(t)
        cols = sorted(df.columns)
        rows = sorted(
            repr(tuple(r[c] for c in cols)) for r in df.select(*cols).collect()
        )
        out[t] = (sorted(df.dtypes), rows)
    return out


def test_mixed_kinds_match_across_ingest_paths(spark, tmp_path):
    """Both producers of ingest_flat store the same schema and the same
    values: mixed-kind columns hold each value's JSON text (``true``),
    dicts and non-string list elements become sort_keys JSON, nanosecond
    timestamps truncate to micros, and a Python datetime handed to
    ``load`` lands like its RFC-3339 text."""
    from datetime import datetime, timezone

    from firepit_spark.identifiers import makeid

    bundle = _mixed_kind_bundle()
    when = datetime(2024, 5, 1, 12, 0, 4, 250000, tzinfo=timezone.utc)
    asset = {"type": "x-oca-asset", "spec_version": "2.1", "hostname": "hostdt",
             "created": when}
    asset_id = makeid(asset)

    a = SparkStorage(str(tmp_path / "wh_driver"), spark=spark)
    a.cache("q1", bundle)
    a.load("assets", [dict(asset, id=asset_id)], query_id="q1")

    on_disk = dict(bundle, objects=bundle["objects"] + [
        dict(asset, id=asset_id, created="2024-05-01T12:00:04.25Z")])
    path = tmp_path / "mixed.json"
    path.write_text(json.dumps(on_disk))
    b = SparkStorage(str(tmp_path / "wh_dist"), spark=spark)
    cache_distributed(b, "q1", str(path))

    state_a, state_b = _warehouse_state(a), _warehouse_state(b)
    assert state_a == state_b

    types = dict(state_a["x-oca-asset"][0])
    assert types["x_mixed"] == "string" and types["x_num"] == "double"
    assert types["x_flag"] == "boolean" and types["x_ints"] == "array<string>"
    assert types["created"] == "timestamp"
    rows = {r["hostname"]: r for r in a.table_df("x-oca-asset").collect()}
    assert [rows[f"host{i}"]["x_mixed"] for i in range(4)] == [
        "true", "abc", "7", "1.25"]
    assert rows["host0"]["x_dict"] == '{"a": "z", "b": 0}'
    assert rows["host1"]["x_ints"] == ["1", "2"]
    assert rows["host1"]["x_bools"] == ["true", "false"]
    assert rows["host1"]["x_dicts"] == ['{"k": 1}']
    assert rows["hostdt"]["created"] == datetime(2024, 5, 1, 12, 0, 4, 250000)
    firsts = sorted(r["first_observed"] for r in a.table_df("observed-data").collect())
    assert firsts[0] == datetime(2024, 5, 1, 12, 0, 0, 123456)
    assert firsts[1] == datetime(2024, 5, 1, 12, 0, 1, 500000)
    # deterministic uuid5 ids, the same bytes on both paths
    ids = sorted(rows)
    assert all(
        uuid.UUID(rows[h]["id"].split("--", 1)[1]).version == 5 for h in ids
    )
    assert rows["hostdt"]["id"] == asset_id


def _tag_batches(st) -> int:
    return len(st._batch_numbers(st._table_path("__queries")))


def _tags(st, query_id) -> set:
    return {
        r["sco_id"]
        for r in st.table_df("__queries").where(f"query_id = '{query_id}'").collect()
    }


def _record_ids(bundle) -> set:
    """Ids of every non-edge record a bundle flattens to."""
    from firepit_spark.flatten import flatten

    return {
        rec["id"]
        for obj in bundle["objects"]
        for rec in flatten(obj)
        if rec["type"] not in ("__contains", "__reflist")
    }


def test_one_tag_batch_per_ingest_call(spark, tmp_path):
    """Each tagged ingest call adds exactly one __queries batch holding the
    ids of every SCO / observed-data row it ingested; overlapping GETs keep
    each query's extract counts; untagged writes add no batch."""
    st = SparkStorage(str(tmp_path / "wh_tags"), spark=spark)
    first, second = make_bundle(20), make_bundle(30)  # ids overlap

    st.cache("g1", first)
    assert _tag_batches(st) == 1
    assert _tags(st, "g1") == _record_ids(first)
    st.extract("u1", "url", "g1", "")
    n1 = st.count("u1")
    assert n1 == distinct_urls(20)

    st.cache("g2", second)
    assert _tag_batches(st) == 2
    assert _tags(st, "g2") == _record_ids(second)
    assert st.count("u1") == n1
    st.extract("u2", "url", "g2", "")
    assert st.count("u2") == distinct_urls(30)

    path = tmp_path / "b.json"
    path.write_text(json.dumps(first))
    cache_distributed(st, "g3", str(path))
    assert _tag_batches(st) == 3
    assert _tags(st, "g3") == _record_ids(first)

    # untagged writes: no __queries batch, and no "None" tag
    st.upsert_many(None, "url", [{"id": "url--untagged-1", "value": "http://untagged/1"}],
                   query_id=None)
    st.reassign("u1", [{"type": "url", "id": sorted(_tags(st, "g1"))[0],
                        "x_note": "seen"}])
    ingest_flat(st, flatten_objects(read_bundle_objects(spark, str(path))), None)
    assert _tag_batches(st) == 3
    assert _tags(st, "None") == set()


def test_cache_jobs_carry_caller_job_group(spark, tmp_path):
    """Every job a job-group-wrapped ``cache`` launches, the per-type jobs
    of the ingest thread pool included, carries the caller's group."""
    st = SparkStorage(str(tmp_path / "wh_group"), spark=spark)
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    j0 = int(jsc.dagScheduler().nextJobId())
    sc.setJobGroup("fp-cache-group", "cache under a job group")
    try:
        st.cache("q1", make_bundle(10))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    j1 = int(jsc.dagScheduler().nextJobId())
    assert j1 > j0
    jsc.listenerBus().waitUntilEmpty(60_000)
    jvm = sc._jvm
    jobs = jvm.scala.jdk.javaapi.CollectionConverters.asJava(
        jsc.statusStore().jobsList(jvm.java.util.ArrayList())
    )
    groups = {
        int(j.jobId()): (j.jobGroup().get() if j.jobGroup().isDefined() else None)
        for j in jobs
        if j0 <= int(j.jobId()) < j1
    }
    assert len(groups) == j1 - j0
    assert set(groups.values()) == {"fp-cache-group"}
