"""corebench: layered benchmark of the firepit_spark core.

Usage (from any working directory):

    python3 corebench/run.py --workload stix|slots|all --seed N \
        --seconds S --trace 0|1

``stix`` is one analyst session: bulk STIX ingest through both ingest paths,
then Kestrel-shaped hunt episodes.  ``slots`` is the library-operator slot
battery.  ``all`` runs each workload in its own process.  With ``--trace 0``
the last stdout line carries the end-to-end metrics; with ``--trace 1`` it
carries the per-layer metrics of a traced run.  The line before it is a
detail record with every timing, input size and failure.  See NOTES.md.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import random
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
DRIVER_MEM = "3g"  # also the initial heap: a pinned heap keeps peak RSS unimodal

# ---- stix sizes (see NOTES.md "Sizes") ----
FILES = 4            # bundle files per bulk set; odd files are STIX 2.1
PER_FILE = 750       # observations per file
FILE_SHARE = 0.3     # P(entity drawn from the pool shared by all files)
GET_OBS = 300        # observations per GET
GET_SHARE = 0.5      # P(GET entity drawn from the stored shared pool)
INVESTIGATIONS = 1   # read-step sequences per GET
PAGE = 20            # lookup page size
SETUP_REPEATS = 2
REF_KEYED = ["network-traffic", "process", "file"]  # ids depend on refs

# slot -> the module (layer) whose operator it calls
SLOT_LAYER = {
    "q01_pricing_summary": "query",
    "q04_join_agg": "query",
    "q07_topk_revenue": "query",
    "q11_time_bin": "query",
    "q16_window_topk_per_group": "query",
    "q35_event_chain_ancestry": "query",
    "q20_sessionize": "functions.temporal_rollup",
    "q34_hypertable_rollup": "functions.temporal_rollup",
    "q36_asof_join": "functions.temporal_rollup",
    "q37_range_join": "functions.temporal_rollup",
    "q21_fingerprint": "functions.dedup",
    "q25_ngram_jaccard": "functions.dedup",
    "q26_minhash": "functions.dedup",
    "q29_cosine_topk": "functions.similarity",
    "q45_dedup_clusters": "functions.graph",
    "q50_doc_term_stats": "functions.lm",
}
LAYER_ROLLUPS = ["functions.dedup", "functions.similarity", "functions.graph",
                 "functions.lm", "functions.temporal_rollup", "query"]

END_TO_END = {"setup_s": "s", "round_s": "s", "peak_rss_mb": "MB"}


def per_layer_units() -> dict:
    """Every per-layer metric name -> unit (the BENCHMARK.json list)."""
    u = {"session.start_s": "s", "calls.p50_s": "s",
         "flatten.busy_s": "s", "flatten.records": "count"}
    for k, unit in [("busy_s", "s"), ("jobs", "count"), ("tasks", "count"),
                    ("executor_run_s", "s"), ("executor_cpu_s", "s"),
                    ("executor_util", "ratio")]:
        u[f"storage.cache.{k}"] = unit
    for k, unit in [("busy_s", "s"), ("jobs", "count"), ("executor_util", "ratio")]:
        u[f"storage.get.{k}"] = unit
    for k, unit in [("busy_s", "s"), ("jobs", "count"), ("tasks", "count"),
                    ("executor_run_s", "s"), ("executor_cpu_s", "s"),
                    ("input_bytes", "B"), ("shuffle_write_bytes", "B"),
                    ("executor_util", "ratio")]:
        u[f"bundles.cache_distributed.{k}"] = unit
    u.update({
        "storage.finish.busy_s": "s", "storage.finish.bytes_rewritten": "B",
        "storage.write.bytes_per_input_byte": "ratio",
        "storage.merge.rows_per_record": "ratio",
        "storage.table_df.busy_s": "s", "storage.lsm.batches_max": "count",
        "patterns.compile.busy_s": "s", "patterns.compile.count": "count",
        "storage.extract.busy_s": "s", "storage.extract.jobs": "count",
        "storage.extract.rows_examined_per_row": "ratio",
        "deref.busy_s": "s", "deref.jobs": "count",
        "storage.lookup.busy_s": "s", "storage.lookup.jobs": "count",
        "query.group.busy_s": "s", "query.group.jobs": "count",
        "storage.values.busy_s": "s", "storage.values.jobs": "count",
        "storage.obs.busy_s": "s", "storage.obs.jobs": "count",
        "storage.obs.input_bytes": "B",
        "spark.jobs_per_op": "ratio", "spark.executor_util": "ratio",
        "spark.shuffle_write_bytes": "B", "spark.unattributed_jobs": "count",
    })
    for slot in SLOT_LAYER:
        u[f"slots.{slot}.s"] = "s"
        u[f"slots.{slot}.jobs"] = "count"
        u[f"slots.{slot}.shuffle_write_bytes"] = "B"
    for layer in LAYER_ROLLUPS:
        u[f"{layer}.busy_s"] = "s"
    u["trace.overhead_frac"] = "ratio"
    return u


# ------------------------------------------------------------ environment


def prepare_env(work: str):
    """Point every scratch location of Python, the JVM and Spark inside
    ``work`` and put the repo on the Python workers' path.  Performance
    data files (hsperfdata), which the JVM always writes under /tmp, are
    turned off."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ.update({
        "TZ": "UTC",
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "SPARK_GRAFT_CPUS": str(CORES),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "PYTHONPATH": ROOT + (os.pathsep + path if path else ""),
        # the launcher JVM would otherwise write /tmp/hsperfdata_*
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    })
    confs = {
        "spark.local.dir": local,
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEM} -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.hadoop.hadoop.tmp.dir": tmp,
        "spark.ui.retainedJobs": "1000000",
        "spark.ui.retainedStages": "1000000",
    }
    args = []
    for k, v in confs.items():
        args += ["--conf", shlex.quote(f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])
    time.tzset()


def stop_spark(spark):
    """Stop the session, shut the gateway and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def files_under(path: str) -> dict:
    """File path -> size for every file below ``path``."""
    out = {}
    for d, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


# ----------------------------------------------------------------- the run


class Run:
    """State of one benchmark process: timed operations, their checks and
    failures, and the tracer."""

    def __init__(self, spark, tracer):
        self.spark = spark
        self.tracer = tracer
        self.samples = defaultdict(list)  # op kind -> seconds
        self.attempted = 0
        self.failures = []
        self.round_busy = []  # per round: sum of op seconds
        self.last_s = None  # seconds of the last op, None if it raised
        self._busy = 0.0

    def fail(self, kind: str, why: str):
        self.failures.append({"op": kind, "why": why[-2000:]})
        print(f"# FAILED {kind}: {why}", file=sys.stderr)

    def op(self, kind: str, layer: str, fn, check=None, **attrs):
        """Time one call into the program; ``check(result)`` runs after the
        timer stops and returns None or what was wrong."""
        self.attempted += 1
        self.last_s = None
        with self.tracer.span(layer, op=kind, **attrs) as s:
            t0 = time.perf_counter()
            try:
                result = fn()
            except Exception:
                self.fail(kind, traceback.format_exc())
                return None
            dt = time.perf_counter() - t0
        self.last_s = dt
        self.samples[kind].append(dt)
        self._busy += dt
        if check is not None:
            with self.tracer.span("check", op=kind):
                try:
                    problem = check(result)
                except Exception:
                    problem = traceback.format_exc()
            if problem:
                self.fail(kind, str(problem))
        if s is not None:
            s["result"] = result if isinstance(result, int) else None
        return result

    def end_round(self):
        self.round_busy.append(self._busy)
        self._busy = 0.0


def med(xs):
    return statistics.median(xs) if xs else None


def expect(actual, expected):
    return None if actual == expected else f"got {actual!r}, expected {expected!r}"


# -------------------------------------------------------------------- stix


def table_counts(st, tables: list) -> dict:
    """Row counts of warehouse tables (merged views), in one Spark job."""
    from functools import reduce

    from pyspark.sql import functions as F

    parts = [st.table_df(t).select(F.lit(t).alias("t")) for t in tables]
    rows = reduce(lambda x, y: x.unionByName(y), parts).groupBy("t").count().collect()
    return {t: 0 for t in tables} | {r["t"]: r["count"] for r in rows}


def stix_inputs(seed: int, work: str):
    """The seeded bulk file set: observations per file, in-memory bundles,
    bundle files on disk and their JSON bytes."""
    from stixgen import Generator, bundle

    gen = Generator(seed)
    groups = [gen.observations(PER_FILE, "bulk", src=i, share=FILE_SHARE)
              for i in range(FILES)]
    bundles, paths = [], []
    os.makedirs(work, exist_ok=True)
    for i, obs in enumerate(groups):
        b = bundle(obs, f"bulk{i}", v21=bool(i % 2))
        path = os.path.join(work, f"bulk{i}.json")
        with open(path, "w") as f:
            json.dump(b, f)
        bundles.append(b)
        paths.append(path)
    return gen, groups, bundles, paths


def stix_workload(run: Run, seed: int, seconds: float, work: str, detail: dict):
    from firepit_spark.sources.bundles import cache_distributed
    from firepit_spark.storage import SparkStorage

    import stixgen as sg

    tr = run.tracer
    setup = []
    with tr.span("setup.inputs"):
        for rep in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            gen, groups, bundles, paths = stix_inputs(seed, os.path.join(work, f"in{rep}"))
            setup.append(time.perf_counter() - t0)
    input_bytes = sum(os.path.getsize(p) for p in paths)
    bulk_obs = [o for g in groups for o in g]
    expected_counts = sg.value_counts_by_type(bulk_obs)
    rng = random.Random(seed * 7919 + 1)
    detail["inputs"] = {
        "observations": len(bulk_obs), "files": FILES,
        "bundle_bytes": input_bytes, "stated_file_share": FILE_SHARE,
        "realized_file_overlap": round(sg.overlap(groups), 4),
        "get_observations": GET_OBS, "stated_get_share": GET_SHARE,
    }
    state = {"store_ratio": [], "write_ratio": [],
             "cache_s": [], "dist_s": [], "patterns": [], "get_bundles": [],
             "prestored": [], "warehouses": [], "snapshots": []}

    def counts_check(st, other=None):
        """Value-keyed row counts match the generator; with ``other``, the
        ref-keyed tables match the other ingest path's."""
        def check(_):
            got = table_counts(st, list(expected_counts) + REF_KEYED)
            want = {t: got[t] for t in expected_counts}
            if want != expected_counts:
                return f"table rows {want} != expected {expected_counts}"
            if other is not None:
                a = table_counts(other, REF_KEYED)
                b = {t: got[t] for t in REF_KEYED}
                if a != b:
                    return f"ingest paths disagree: cache {a} vs distributed {b}"
            return None
        return check

    def finish(st, kind, check):
        """finish() as a timed op; traced, returns every byte the ingest
        and its finish() wrote, compacted-away batches included."""
        before = files_under(st.path) if tr.enabled else None
        run.op(kind, "storage.finish", st.finish, check=check)
        if before is None:
            return None
        after = files_under(st.path)
        return sum(before.values()) + sum(v for p, v in after.items() if p not in before)

    def one_round(r: int):
        whs = os.path.join(work, f"round{r}")
        a = SparkStorage(os.path.join(whs, "cache"), spark=run.spark)
        b = SparkStorage(os.path.join(whs, "dist"), spark=run.spark)
        state["warehouses"].append(a)
        run.op("ingest_cache", "storage.cache", lambda: a.cache("bulk", bundles))
        t = run.last_s
        wa = finish(a, "ingest_cache_finish", counts_check(a))
        if t is not None and run.last_s is not None:
            state["cache_s"].append(t + run.last_s)
        run.op("ingest_dist", "bundles.cache_distributed",
               lambda: cache_distributed(b, "bulk", paths))
        t = run.last_s
        wb = finish(b, "ingest_dist_finish", counts_check(b, other=a))
        if t is not None and run.last_s is not None:
            state["dist_s"].append(t + run.last_s)
        state["store_ratio"].append(
            max(sum(files_under(w.path).values()) for w in (a, b)) / input_bytes)
        if wa is not None:
            state["write_ratio"].append(max(wa, wb) / input_bytes)

        truth = sg.Truth()
        for i, g in enumerate(groups):
            truth.add(g, v21=bool(i % 2))
        hunt_episode(a, truth, f"r{r}e0", src=FILES + r)
        if tr.enabled:
            # the LSM state the read steps saw, for the merge-on-read and
            # compaction probes
            with tr.span("snapshot"):
                snap = os.path.join(whs, "snapshot")
                shutil.copytree(a.path, snap)
                state["snapshots"].append(snap)

    def hunt_episode(st, truth, qid, src):
        obs = gen.observations(GET_OBS, qid, src=src, share=GET_SHARE)
        state["prestored"].append(truth.prestored_share(obs))
        b = sg.bundle(obs, qid)
        state["get_bundles"].append(b)
        run.op("get", "storage.get", lambda: st.cache(qid, b))
        truth.add(obs)
        for inv in range(INVESTIGATIONS):
            hunt_steps(st, truth, qid, obs, f"{qid}i{inv}")

    def hunt_steps(st, truth, qid, obs, tag):
        conns, urls, procs, conns2 = (f"conns_{tag}", f"urls_{tag}",
                                      f"procs_{tag}", f"conns2_{tag}")
        nt_pat, nt_pred = sg.nt_pattern(rng, obs)
        url_pat, url_pred = sg.url_pattern(rng, obs)
        proc_pat, proc_pred = sg.proc_pattern(rng, obs)
        flt_pat, flt_pred = sg.nt_filter_pattern(rng)
        state["patterns"] += [(nt_pat, "network-traffic"), (url_pat, "url"),
                              (proc_pat, "process"), (flt_pat, "network-traffic")]
        e_nt = truth.extract(qid, "network-traffic", nt_pred)
        e_url = truth.extract(qid, "url", url_pred)
        e_proc = truth.extract(qid, "process", proc_pred)
        e_nt2 = {k for k in e_nt if flt_pred(k)}

        def extract(view, stype, pat):
            st.extract(view, stype, qid, pat)
            return st.count(view)

        run.op("extract", "storage.extract", lambda: extract(conns, "network-traffic", nt_pat),
               check=lambda c: expect(c, len(e_nt)))
        run.op("extract", "storage.extract", lambda: extract(urls, "url", url_pat),
               check=lambda c: expect(c, len(e_url)))
        run.op("extract", "storage.extract", lambda: extract(procs, "process", proc_pat),
               check=lambda c: expect(c, len(e_proc)))

        def refilter():
            st.filter(conns2, "network-traffic", conns, flt_pat)
            return st.count(conns2)

        run.op("filter", "storage.extract", refilter,
               check=lambda c: expect(c, len(e_nt2)))
        rows_expected = truth.lookup_rows(e_nt)
        for page in range(2):
            want = min(PAGE, max(0, len(e_nt) - page * PAGE))

            def page_check(rows, want=want):
                if len(rows) != want:
                    return f"page of {len(rows)} rows, expected {want}"
                got = {(r["src_ref.value"], r["dst_ref.value"], r["src_port"],
                        r["dst_port"]) for r in rows}
                return None if got <= rows_expected else f"rows not in view: {got - rows_expected}"

            run.op("lookup", "storage.lookup",
                   lambda page=page: st.lookup(conns, limit=PAGE, offset=page * PAGE),
                   check=page_check)

        def group(name, aggs):
            st.group(name, conns, "dst_ref.value", aggs=aggs)
            return st.lookup(name)

        run.op("group", "query.group", lambda: group(f"g_{tag}", None),
               check=lambda rows: expect({r["dst_ref.value"] for r in rows},
                                         truth.group_auto(e_nt)))
        run.op("group", "query.group",
               lambda: group(f"ga_{tag}", [("COUNT", "*", "n"), ("MAX", "src_port", "max_sport")]),
               check=lambda rows: expect({r["dst_ref.value"]: (r["n"], r["max_sport"]) for r in rows},
                                         truth.group_aggs(e_nt)))
        run.op("values", "storage.values",
               lambda: st.values("process:binary_ref.parent_directory_ref.path", procs),
               check=lambda v: expect(sorted(v), truth.values_path(e_proc)))
        run.op("value_counts", "storage.obs",
               lambda: st.value_counts(conns, "network-traffic:dst_port"),
               check=lambda rows: expect({r["network-traffic:dst_port"]: r["count"] for r in rows},
                                         truth.value_counts_dport(e_nt)))
        run.op("number_observed", "storage.obs",
               lambda: st.number_observed(urls, "url:value"),
               check=lambda n: expect(n, truth.number_observed("url", e_url)))
        run.op("summary", "storage.obs", lambda: st.summary(conns),
               check=lambda s: expect(s, truth.summary("network-traffic", e_nt)))
        run.op("timestamped", "storage.obs",
               lambda: st.timestamped(procs, path="process:name"),
               check=lambda rows: expect(sorted((r["first_observed"], r["process:name"]) for r in rows),
                                         truth.timestamped_names(e_proc)))

    t_start = time.perf_counter()
    r = 0
    while True:
        with tr.span("round", round=r):
            one_round(r)
        run.end_round()
        r += 1
        if time.perf_counter() - t_start >= seconds:
            break
    steps = [x for k in ("extract", "filter", "lookup", "group", "values", "value_counts",
                         "number_observed", "summary", "timestamped")
             for x in run.samples[k]]
    obs_n = len(bulk_obs)
    detail["named_metrics"] = {
        "ingest_obs_per_s": {"value": obs_n / med(state["cache_s"]) if state["cache_s"] else None,
                             "unit": "obs/s"},
        "ingest_dist_obs_per_s": {"value": obs_n / med(state["dist_s"]) if state["dist_s"] else None,
                                  "unit": "obs/s"},
        "store_bytes_per_input_byte": {"value": med(state["store_ratio"]), "unit": "ratio"},
        "get_p50_s": {"value": med(run.samples["get"]), "unit": "s"},
        "hunt_step_p50_s": {"value": med(steps), "unit": "s"},
        "hunt_step_p90_s": {"value": sorted(steps)[int(0.9 * len(steps)) - 1] if steps else None,
                            "unit": "s", "samples": len(steps)},
    }
    detail["inputs"]["realized_get_prestored_share"] = round(statistics.mean(state["prestored"]), 4)
    detail["inputs"]["store_bytes"] = {
        t: sum(files_under(os.path.join(state["warehouses"][0].path, "tables", t)).values())
        for t in ("__contains", "observed-data")
    }
    return {"setup_s": statistics.median(setup), "calls": steps, "state": state,
            "bundles": bundles}


def stix_probes(run: Run, res: dict) -> dict:
    """Sub-layer probes of the traced run, each its own root span."""
    from firepit_spark.deref import auto_deref
    from firepit_spark.flatten import flatten, get_objects
    from firepit_spark.patterns import compile_pattern
    from firepit_spark.storage import SparkStorage

    tr = run.tracer
    st = res["state"]["warehouses"][-1]
    out = {}
    records = 0
    with tr.span("probe.flatten") as s:
        for b in res["bundles"] + res["state"]["get_bundles"]:
            for obj in get_objects(b):
                records += len(flatten(obj))
    out["flatten.busy_s"] = s["t1"] - s["t0"]
    out["flatten.records"] = records
    with tr.span("probe.compile") as s:
        for pat, stype in res["state"]["patterns"]:
            compile_pattern(pat, stype, st)
    out["patterns.compile.busy_s"] = s["t1"] - s["t0"]
    out["patterns.compile.count"] = len(res["state"]["patterns"])
    fresh = SparkStorage(res["state"]["snapshots"][-1], spark=run.spark)
    tables = sorted(os.listdir(fresh.tables_dir))
    rows = 0
    with tr.span("probe.table_df") as s:
        for t in tables:
            rows += fresh.table_df(t).count()
    out["storage.table_df.busy_s"] = s["t1"] - s["t0"]
    out["storage.merge.rows_per_record"] = rows / max(1, records)
    out["storage.lsm.batches_max"] = max(
        sum(1 for d in os.listdir(os.path.join(fresh.tables_dir, t)) if d.startswith("_fp_batch="))
        for t in tables)
    # compaction: finish() folds the GET batch into the bulk batch
    before = files_under(fresh.path)
    with tr.span("probe.finish") as s:
        fresh.finish()
    out["storage.finish.busy_s"] = s["t1"] - s["t0"]
    out["storage.finish.bytes_rewritten"] = sum(
        v for p, v in files_under(fresh.path).items() if p not in before)
    # extra cost of auto-deref over the base view, both fully collected
    deref_s, deref_jobs = 0.0, []
    views = [v for v in st.views() if v.startswith("conns_")]
    for v in views:
        with tr.span("probe.base", view=v) as base:
            st.get_df(v).collect()
        with tr.span("probe.deref", view=v) as full:
            auto_deref(st, v).collect()
        deref_s += (full["t1"] - full["t0"]) - (base["t1"] - base["t0"])
        deref_jobs.append((base, full))
    out["_deref"] = (deref_s, deref_jobs)
    return out


# ------------------------------------------------------------------- slots


def load_canon():
    spec = importlib.util.spec_from_file_location(
        "check_correctness", os.path.join(ROOT, "scripts", "check_correctness.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def slot_names() -> list:
    spec = importlib.util.spec_from_file_location("bench", os.path.join(ROOT, "bench.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    names = list(mod.HEADLINE) + ["q45_dedup_clusters", "q50_doc_term_stats"]
    missing = [n for n in names if n not in SLOT_LAYER]
    if missing:
        raise SystemExit(f"no layer recorded for slots {missing}")
    return names


def slot_check(want_cols: list, want_rows: list, canon_rows):
    """Check of one slot result ``(df, columns, rows)`` against its DuckDB
    oracle (sorted columns, canonical rows), canonicalized alike."""
    def check(result):
        _df, cols, rows = result
        if sorted(cols) != want_cols:
            return f"columns {sorted(cols)} != {want_cols}"
        got = canon_rows(cols, [tuple(r) for r in rows])
        if len(got) != len(want_rows):
            return f"{len(got)} rows, oracle has {len(want_rows)}"
        if got != want_rows:
            n = sum(1 for x, y in zip(got, want_rows) if x != y)
            return f"values differ in {n} of {len(got)} rows"
        return None
    return check


def slots_workload(run: Run, seed: int, seconds: float, work: str, detail: dict):
    import duckdb

    import __spark_entry__ as entry
    import tablegen
    from firepit_spark.functions import release

    tr = run.tracer
    cc = load_canon()
    names = slot_names()
    table_dir = os.path.join(work, "tables")
    setup = []
    with tr.span("setup.inputs"):
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            nbytes = tablegen.write_tables(seed, table_dir)
            setup.append(time.perf_counter() - t0)
    detail["inputs"] = {"rows": tablegen.ROWS, "parquet_bytes": nbytes,
                        "near_dup_share": tablegen.NEAR_DUP_SHARE}
    t0 = time.perf_counter()
    con = duckdb.connect()
    for t in cc.TABLES:
        path = os.path.join(table_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    oracles = entry.oracle_sql()
    expected = {}
    for name in names:
        res = con.execute(oracles[name])
        cols = [d[0].lower() for d in res.description]
        expected[name] = (sorted(cols), cc.canon_rows(cols, res.fetchall()))
    con.close()
    qs = entry.queries()

    def run_slot(name):
        df = qs[name](run.spark, table_dir)
        return df, [c.lower() for c in df.columns], df.collect()

    def free(result):
        with tr.span("release"):
            if result is not None:
                release(result[0])
            run.spark.catalog.clearCache()

    # warm-up: one unchecked, untimed pass, so the measured pass sees a
    # session whose code paths are loaded and compiled (NOTES.md "Warm-up")
    with tr.span("setup.warmup"):
        for name in names:
            try:
                result = run_slot(name)
            except Exception:
                traceback.print_exc()
                result = None
            free(result)
    oracle_and_warm = time.perf_counter() - t0
    t_start = time.perf_counter()
    passes = []
    while True:
        with tr.span("round", round=len(passes)):
            p0 = len(run.samples["slot"])
            for name in names:
                result = run.op("slot", f"slots.{name}", lambda name=name: run_slot(name),
                                check=slot_check(*expected[name], cc.canon_rows), slot=name)
                run.samples[f"slot.{name}"].append(run.last_s)
                free(result)
            passes.append(sum(run.samples["slot"][p0:]))
        run.end_round()
        if time.perf_counter() - t_start >= seconds:
            break
    detail["named_metrics"] = {
        "slots_wall_s": {"value": med(passes), "unit": "s", "samples": len(passes)},
    }
    return {"setup_s": statistics.median(setup) + oracle_and_warm,
            "calls": run.samples["slot"], "names": names, "passes": len(passes)}


# ------------------------------------------------------------ per-layer


def layer_metrics(run: Run, workload: str, res: dict, probes: dict, start_s: float) -> dict:
    tr = run.tracer
    rounds = max(1, len(run.round_busy))
    m = dict.fromkeys(per_layer_units(), 0.0)
    m["session.start_s"] = start_s
    m["calls.p50_s"] = med(res["calls"])
    tot = tr.totals

    def util(t):
        return t["run_s"] / (t["busy_s"] * CORES) if t["busy_s"] else 0.0

    op_spans = [s for s in tr.spans if "op" in s and s["name"] != "check"]
    busy = sum(s["t1"] - s["t0"] for s in op_spans)
    jobs = sum(s["jobs"] for s in op_spans)
    run_s = sum(s["run_s"] for s in op_spans)
    m["spark.jobs_per_op"] = jobs / max(1, len(op_spans))
    m["spark.executor_util"] = run_s / (busy * CORES) if busy else 0.0
    m["spark.shuffle_write_bytes"] = sum(s["shuffle_write_bytes"] for s in op_spans) / rounds
    m["trace.overhead_frac"] = tr.bookkeeping_s / busy if busy else 0.0
    if workload == "stix":
        fields = {"busy_s": "busy_s", "jobs": "jobs", "tasks": "tasks",
                  "executor_run_s": "run_s", "executor_cpu_s": "cpu_s",
                  "input_bytes": "input_bytes", "shuffle_write_bytes": "shuffle_write_bytes"}
        for layer in ("storage.cache", "storage.get", "bundles.cache_distributed",
                      "storage.extract", "storage.lookup", "query.group",
                      "storage.values", "storage.obs"):
            t = tot(layer)
            for metric, field in fields.items():
                if f"{layer}.{metric}" in m:
                    m[f"{layer}.{metric}"] = t[field] / rounds
            if f"{layer}.executor_util" in m:
                m[f"{layer}.executor_util"] = util(t)
        if res["state"]["write_ratio"]:
            m["storage.write.bytes_per_input_byte"] = statistics.median(res["state"]["write_ratio"])
        returned = sum(s["result"] or 0 for s in tr.spans if s["name"] == "storage.extract")
        m["storage.extract.rows_examined_per_row"] = (
            tot("storage.extract")["input_records"] / max(1, returned))
        deref_s, pairs = probes.pop("_deref")
        m["deref.busy_s"] = deref_s / rounds
        m["deref.jobs"] = sum(full["jobs"] - base["jobs"] for base, full in pairs) / rounds
        m.update(probes)
    else:
        per_layer = defaultdict(float)
        passes = max(1, res["passes"])
        for name in res["names"]:
            t = tot(f"slots.{name}")
            secs = [x for x in run.samples[f"slot.{name}"] if x is not None]
            m[f"slots.{name}.s"] = statistics.median(secs) if secs else 0.0
            m[f"slots.{name}.jobs"] = t["jobs"] / passes
            m[f"slots.{name}.shuffle_write_bytes"] = t["shuffle_write_bytes"] / passes
            per_layer[SLOT_LAYER[name]] += t["busy_s"] / passes
        for layer in LAYER_ROLLUPS:
            m[f"{layer}.busy_s"] = per_layer[layer]
    return m


# -------------------------------------------------------------------- main


def run_all(args) -> int:
    """Each workload in its own process; prints every named metric."""
    combined, ok, attempted, failed = {}, True, 0, 0
    for w in ("stix", "slots"):
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", w, "--seed",
             str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)],
            capture_output=True, text=True, timeout=900)
        lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
        if proc.returncode != 0 or len(lines) < 2:
            sys.stderr.write(proc.stderr[-4000:])
            return proc.returncode or 1
        detail, last = json.loads(lines[-2]), json.loads(lines[-1])
        print(lines[-2])
        for k, v in detail["named_metrics"].items():
            if k not in END_TO_END and k != "ops_failed_frac":  # printed per workload
                combined[k] = v
        for k, v in last["metrics"].items():
            combined[f"{w}.{k}"] = v
        ok &= last["correct"]
        attempted += last["attempted"]
        failed += last["failed"]
    combined["ops_failed_frac"] = {"value": failed / max(1, attempted), "unit": "ratio"}
    for k, v in combined.items():
        print(f"# {k} = {v['value']} {v['unit']}")
    print(json.dumps({"correct": ok, "attempted": attempted, "failed": failed,
                      "metrics": combined}))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["stix", "slots", "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "firepit_spark", "__init__.py")):
        print(f"firepit_spark not found under {ROOT}", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)

    work = os.path.join(ROOT, ".corebench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    prepare_env(work)
    sys.path[:0] = [ROOT, HERE]
    spark = None
    try:
        from acct import Tracer, peak_rss_mb, tail_stat

        t0 = time.perf_counter()
        from firepit_spark.session import build_spark

        spark = build_spark(f"corebench-{args.workload}")
        start_s = time.perf_counter() - t0
        tracer = Tracer(spark, f"{args.workload}-{args.seed}", enabled=bool(args.trace))
        run = Run(spark, tracer)
        detail = {"workload": args.workload, "seed": args.seed, "trace": args.trace}
        if args.workload == "stix":
            res = stix_workload(run, args.seed, args.seconds, work, detail)
        else:
            res = slots_workload(run, args.seed, args.seconds, work, detail)
        probes = {}
        if tracer.enabled and args.workload == "stix":
            probes = stix_probes(run, res)
        rss = peak_rss_mb(spark)
        e2e = {
            "setup_s": start_s + res["setup_s"],
            "round_s": med(run.round_busy),
            "peak_rss_mb": rss,
        }
        detail["timings"] = {k: tail_stat([x for x in v if x is not None])
                             for k, v in run.samples.items()}
        detail["named_metrics"]["setup_s"] = {"value": e2e["setup_s"], "unit": "s"}
        detail["named_metrics"]["peak_rss_mb"] = {"value": rss, "unit": "MB"}
        failed = len(run.failures)
        detail["named_metrics"]["ops_failed_frac"] = {
            "value": failed / max(1, run.attempted), "unit": "ratio"}
        detail["failures"] = run.failures
        if tracer.enabled:
            acc = tracer.collect()
            metrics = layer_metrics(run, args.workload, res, probes, start_s)
            metrics["spark.unattributed_jobs"] = len(acc["unattributed"])
            detail["spark_jobs"] = acc
            detail["self_time_s"] = tracer.self_times()
            detail["round_s_traced"] = e2e["round_s"]
            units = per_layer_units()
            out = {k: {"value": metrics[k], "unit": units[k]} for k in units}
        else:
            out = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
        print(json.dumps(detail, default=str))
        print(json.dumps({"correct": failed == 0, "attempted": run.attempted,
                          "failed": failed, "metrics": out}))
        return 0
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
