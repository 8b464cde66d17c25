"""STIX bundle ingest: the one write path into the warehouse.

Every write lands through :func:`ingest_flat`, which takes a frame of
``(otype, record)`` rows — ``record`` a flattened object as canonical JSON
text — and parses each type with one JVM-side ``from_json`` against an
explicit schema built from the values' kinds (:func:`_type_schema`, the
one schema lattice). Two producers feed it:

- :func:`cache_distributed` (the 100 TB path): bundle files are read by
  executors, each observation is flattened *where it is read* via
  ``mapInPandas``, and each flatten partition emits per-type "kind
  fragments" (column -> {bool,int,float,list,str}) alongside the records;
  the driver merges them after one collect over the persisted frame.
- :func:`ingest_records` (``SparkStorage.cache``/``load``/``upsert_many``/
  ``reassign``): records already flattened driver-side go through the same
  canonicalize-and-kind kernel and become the frame via one Arrow
  ``createDataFrame``; their kinds are known already, so ``ingest_flat``
  skips the persist and the fragment collect.

Both paths therefore store identical bytes: dicts -> sort_keys JSON text,
mixed numerics -> double, lists -> array<string>, mixed kinds -> the JSON
rendering of each value (``true``, ``1.5``). No ``spark.read.json`` schema
inference anywhere.

Pipeline shape:
  records -> (type, json) rows -> per-type from_json(explicit schema) ->
  upsert merge; plus one ``__queries`` tag batch per call

Shuffle analysis: the only wide operations are the per-type upsert
groupBy(id) and the tag distinct — both keyed on the deterministic SCO
id, which is uniformly distributed (uuid5), so no skew. Flattening is
map-only; fragment collection moves only (types x columns) metadata to the
driver, never object data.
"""

from __future__ import annotations

import json
from concurrent.futures import ThreadPoolExecutor
from typing import Iterator

import pandas as pd
from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from firepit_spark.flatten import CONTAINS, REFLIST, flatten

_FLAT_SCHEMA = StructType(
    [StructField("otype", StringType()), StructField("record", StringType())]
)

# in-band marker for per-partition schema fragments ("\x00" can never be a
# STIX type name, which the validators restrict to [a-z0-9-])
SCHEMA_MARKER = "\x00schema"


def _kind(v) -> str:
    """Kind tag of one canonical value: the input of ``_type_schema``."""
    if isinstance(v, bool):  # bool before int: bool is an int subclass
        return "bool"
    if isinstance(v, int):
        return "int"
    if isinstance(v, float):
        return "float"
    if isinstance(v, list):
        return "list"
    return "str"


def _canonicalize(rec: dict) -> dict:
    """Pre-serialize the values a column type cannot hold as-is: dicts ->
    sort_keys JSON text, list elements -> strings. Runs on every record of
    both producers, so the downstream ``from_json`` parse is lossless and
    identical wherever the record was flattened."""
    out = {}
    for k, v in rec.items():
        if isinstance(v, dict):
            out[k] = json.dumps(v, sort_keys=True)
        elif isinstance(v, list):
            out[k] = [
                x if isinstance(x, str) else json.dumps(x, sort_keys=True)
                for x in v
            ]
        else:
            out[k] = v
    return out


def _encode(records, out_t: list, out_r: list, kinds: dict):
    """Append each flat record's ``(otype, canonical json)`` row to
    ``out_t``/``out_r`` and fold its column kinds into ``kinds``
    ({otype: {col: set(kinds)}}). The kernel of both producers."""
    for rec in records:
        canon = _canonicalize(rec)
        t = canon["type"]
        kmap = kinds.setdefault(t, {})
        for k, v in canon.items():
            if k == "type":
                continue
            s = kmap.setdefault(k, set())
            if v is not None:
                s.add(_kind(v))
        out_t.append(t)
        out_r.append(json.dumps(canon, default=str))


def read_bundle_objects(spark: SparkSession, paths) -> DataFrame:
    """One row per STIX object (as a JSON string) from bundle file(s).

    ``multiLine`` JSON gives one task per bundle file — ingest parallelism
    comes from the number of files, which is how 100 TB arrives in practice
    (many bundle files on object storage).
    """
    raw = spark.read.option("multiLine", "true").json(paths)
    if "objects" not in raw.columns:
        raise ValueError("not a STIX bundle: missing 'objects'")
    return raw.select(F.explode("objects").alias("obj")).select(
        F.to_json("obj").alias("value")
    )


def flatten_objects(objects_df: DataFrame) -> DataFrame:
    """(json string) rows -> (otype, flattened record json) rows, plus one
    ``SCHEMA_MARKER`` row per (partition-batch, type) carrying the observed
    column kinds.

    Arrow-batched: each worker flattens its partition's observations and
    encodes them with the same kernel as :func:`ingest_records`, so both
    producers emit byte-identical records.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_t, out_r = [], []
            kinds: dict[str, dict[str, set]] = {}
            for raw in pdf["value"]:
                _encode(flatten(json.loads(raw)), out_t, out_r, kinds)
            for t, cols in kinds.items():
                out_t.append(SCHEMA_MARKER)
                out_r.append(
                    json.dumps(
                        {"otype": t, "cols": {c: sorted(ks) for c, ks in cols.items()}}
                    )
                )
            yield pd.DataFrame({"otype": out_t, "record": out_r})

    return objects_df.mapInPandas(run, schema=_FLAT_SCHEMA)


def _merge_fragments(frag_rows) -> dict:
    """Merge per-partition kind fragments -> {otype: {col: set(kinds)}}."""
    merged: dict[str, dict[str, set]] = {}
    for raw in frag_rows:
        d = json.loads(raw)
        cols = merged.setdefault(d["otype"], {})
        for c, ks in d["cols"].items():
            cols.setdefault(c, set()).update(ks)
    return merged


def _type_schema(cols: dict) -> StructType:
    """Kind sets -> Spark schema: the warehouse's one type lattice.

    bool -> boolean, int -> bigint, int+float -> double, list ->
    array<string>, anything else (text, mixed kinds, all-null) -> string.
    Timestamp props stay strings here; ``ingest_dataframe`` converts them
    to TimestampType."""
    fields = []
    for c in sorted(cols):
        ks = cols[c]
        if ks == {"bool"}:
            t = BooleanType()
        elif ks == {"int"}:
            t = LongType()
        elif ks and ks <= {"int", "float"}:
            t = DoubleType()
        elif ks == {"list"}:
            t = ArrayType(StringType())
        else:
            # mixed kinds / all-null / text: from_json renders any token as
            # its text when the target is string (verified: numbers, objects,
            # arrays all arrive as raw JSON text, not null)
            t = StringType()
        fields.append(StructField(c, t))
    return StructType(fields)


def ingest_flat(
    storage,
    flat: DataFrame,
    query_id: str | None,
    max_concurrent_types: int = 8,
    kinds: dict | None = None,
):
    """Merge a frame of ``(otype, record)`` rows into the warehouse.

    ``kinds`` ({otype: {col: set(kinds)}}) is the merged schema input when
    the caller already holds it (:func:`ingest_records`); without it the
    frame is persisted and its ``SCHEMA_MARKER`` fragments are collected
    (:func:`flatten_objects` output, batch and streaming). Then one
    ``from_json`` parse per type, and — unless ``query_id`` is None — ONE
    ``__queries`` batch tagging every non-edge record id with
    ``query_id``. The per-type parse/merge/write jobs and the tag write
    are independent Spark jobs, so they run concurrently from a small
    driver thread pool whose workers inherit the caller's job group.
    """
    persisted = kinds is None
    if persisted:
        flat = flat.persist()
    try:
        if persisted:
            kinds = _merge_fragments(
                r[0]
                for r in flat.filter(F.col("otype") == SCHEMA_MARKER)
                .select("record")
                .collect()
            )

        def ingest_one(otype: str):
            schema = _type_schema(kinds[otype])
            type_df = (
                flat.filter(F.col("otype") == otype)
                .select(F.from_json("record", schema).alias("r"))
                .select("r.*")
            )
            storage.ingest_dataframe(otype, type_df)

        def tag():
            from firepit_spark.storage import QUERIES

            sco_id = F.get_json_object("record", "$.id")
            tags = flat.filter(
                ~F.col("otype").isin(CONTAINS, REFLIST, SCHEMA_MARKER)
                & sco_id.isNotNull()
            ).select(sco_id.alias("sco_id"), F.lit(str(query_id)).alias("query_id"))
            storage.ingest_dataframe(QUERIES, tags)

        jobs = [lambda t=t: ingest_one(t) for t in sorted(kinds) if kinds[t]]
        if query_id is not None:
            jobs.append(tag)
        run = inheritable_thread_target(storage.spark)(lambda job: job())
        with ThreadPoolExecutor(max_workers=max_concurrent_types) as pool:
            list(pool.map(run, jobs))
    finally:
        if persisted:
            flat.unpersist()


def ingest_records(storage, records, query_id: str | None):
    """Merge already-flattened records (dicts with a ``type`` key) into the
    warehouse — the driver-side producer of :func:`ingest_flat`. The
    records are encoded by the flatten kernel and shipped as one Arrow
    ``createDataFrame``; untagged when ``query_id`` is None."""
    out_t, out_r, kinds = [], [], {}
    _encode(records, out_t, out_r, kinds)
    if not out_t:
        return
    flat = storage.spark.createDataFrame(
        pd.DataFrame({"otype": out_t, "record": out_r}), schema=_FLAT_SCHEMA
    )
    ingest_flat(storage, flat, query_id, kinds=kinds)


def cache_distributed(
    storage,
    query_id: str,
    paths,
    repartition: int | None = None,
    max_concurrent_types: int = 8,
):
    """Distributed equivalent of ``storage.cache`` for large bundle sets."""
    spark = storage.spark
    objects = read_bundle_objects(spark, paths)
    if repartition:
        objects = objects.repartition(repartition)
    ingest_flat(
        storage,
        flatten_objects(objects),
        str(query_id),
        max_concurrent_types=max_concurrent_types,
    )
