"""The benchmark's workloads and the metrics each one reports.

Every CDC workload has one shape: a few *prepares* (table create, a seed
load through ``snapshot_load``, engine construction) in the run's one Spark
session, the phases on the last prepared engine (a closed-loop replay, an
open-loop tail, or both), full-table reads, and the output checks.  See
NOTES.md for why each workload exists and which layer metric should move
which end-to-end metric.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import threading
import time
from contextlib import nullcontext
from dataclasses import dataclass, field
from datetime import timezone

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from ape_dts_spark.functions.extract_text import extract_text_series, extract_text_udf
from ape_dts_spark.lake.table import LakeTable
from ape_dts_spark.operators.incremental_dedup import ContentIndex
from ape_dts_spark.operators.neardup_index import NearDupIndex
from ape_dts_spark.sources.generator import PAGES_COLS
from ape_dts_spark.streaming import driver, snapshot
from ape_dts_spark.streaming.driver import CdcEngine, EngineConfig
from perfbench import checks, curation, inputs
from perfbench.host import cpu_steal_s
from perfbench.trace import LAYER_OF, Tracer

#: snapshot_load chunks: each chunk is one commit and one scan of the seed
SNAPSHOT_CHUNKS = 2
#: prepares per run; setup_s takes the median of their create + engine
#: times, and the phases run on the last one.  snapshot_rows_per_s is the
#: median of their loads but the first: the first load of a run starts the
#: Python workers and runs cold code, and took 3x as long as the next
PREPARES = 2
#: timed full-table reads, which follow one untimed read (the first read
#: after a batch runs cold code); table_read_s is their median
READS = 3
#: open-loop tail: seconds to wait for the follower to drain after the last
#: publish before the run counts as failed
TAIL_DRAIN_LIMIT_S = 60

E2E = {
    "setup_s": "s",
    "snapshot_rows_per_s": "rows/s",
    "events_per_s": "events/s",
    "freshness_p50_s": "s",
    "freshness_p90_s": "s",
    "table_read_s": "s",
}

LAYERS = {
    "snapshot.chunks": "count",
    "snapshot.chunk_p50_s": "s",
    "snapshot.scan_bytes": "bytes",
    "extract.rows": "count",
    "extract.python_s": "s",
    "extract.worker_init_s": "s",
    "extract.worker_start_s": "s",
    "extract.bytes_to_python": "bytes",
    "extract.bytes_from_python": "bytes",
    "extract.kernel_docs_per_s": "docs/s",
    "lww.rows_in": "count",
    "lww.rows_out": "count",
    "lww.keep_ratio": "ratio",
    "lww.shuffle_write_bytes": "bytes",
    "lww.shuffle_read_bytes": "bytes",
    "driver.prepare_plan_s": "s",
    "merge.s": "s",
    "write.stage_s": "s",
    "write.output_bytes": "bytes",
    "write.files": "count",
    "lake.commit_s": "s",
    "compact.folds": "count",
    "compact.s": "s",
    "compact.bytes_est": "bytes",
    "expire.s": "s",
    "lake.live_files_end": "count",
    "lake.delta_bytes_end": "bytes",
    "read.scan_bytes": "bytes",
    "driver.batches": "count",
    "driver.batch_p50_s": "s",
    "driver.batch_max_s": "s",
    "driver.max_lsn_s": "s",
    "driver.committed_hwm_s": "s",
    "bookkeep.append_rows_s": "s",
    "ddl.count": "count",
    "ddl.s": "s",
    "cindex.candidates": "count",
    "cindex.dropped": "count",
    "cindex.drop_ratio": "ratio",
    "cindex.match_s": "s",
    "cindex.scan_bytes": "bytes",
    "cindex.append_s": "s",
    "cindex.compact_s": "s",
    "ndindex.signature_s": "s",
    "ndindex.match_s": "s",
    "ndindex.scan_bytes": "bytes",
    "ndindex.dropped": "count",
    "ndindex.append_s": "s",
    "ndindex.compact_s": "s",
    "spark.gc_s": "s",
    "spark.task_cpu_s": "s",
    "spark.task_run_s": "s",
    "tail.publish_late_max_s": "s",
    "tail.backlog_events_end": "events",
    "tail.files": "count",
    "host.write_gbps": "GB/s",
    "host.steal_s": "s",
    "host.peak_rss_mb": "MB",
    **{f"self.{layer}_s": "s" for layer in sorted(set(LAYER_OF.values()))},
    "trace.self_sum_ratio": "ratio",
    "trace.covered_ratio": "ratio",
    "trace.events_per_s": "events/s",
    "trace.collect_s": "s",
}


@dataclass
class Context:
    session: object
    session_start_s: float  # JVM launch and first SparkSession
    work: str
    records: str  # outlives the run: counts a later run with the same seed must repeat
    seed: int
    seconds: int
    trace: bool
    canary: float
    sf_dir: str | None = None
    tracer: Tracer | None = None


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    e2e: dict = field(default_factory=dict)  # name -> value
    layers: dict = field(default_factory=dict)
    units: dict = field(default_factory=lambda: {**E2E, **LAYERS})
    lines: list = field(default_factory=list)

    def op(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.lines.append(f"FAILED: {what}")

    def put(self, name: str, value: float, unit: str | None = None, layer: bool = False) -> None:
        if unit is not None:
            self.units[name] = unit
        (self.layers if layer else self.e2e)[name] = value

    def report_lines(self) -> list[str]:
        out = list(self.lines)
        for src in (self.e2e, self.layers):
            out += [f"{k} {v:.6g} {self.units[k]}" for k, v in src.items()]
        return out

    def result(self, trace: int) -> dict:
        src = self.layers if trace else self.e2e
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": float(v), "unit": self.units[k]} for k, v in src.items()},
        }


def _phase(ctx: Context, name: str):
    return ctx.tracer.span(name) if ctx.tracer else nullcontext()


# -- tracing hooks -------------------------------------------------------------


class _DeltaFiles:
    """append_delta post hook: how many files it added to the manifest."""

    @staticmethod
    def pre(args):
        return len(args[0].manifest.files)

    def __call__(self, rec, args, out, before):
        rec["info"]["files"] = len(args[0].manifest.files) - before


def _merge_rows(rec, args, out, state):
    rec["info"]["rows"] = out.source_rows


def _fold(rec, args, out, state):
    rec["info"]["fold"] = out


def install_tracer() -> Tracer:
    tr = Tracer()
    tr.wrap(snapshot, "snapshot_load", "snapshot_load")
    tr.wrap(driver, "prepare_changes", "prepare_changes")
    tr.wrap(driver, "merge_into", "merge_into", _merge_rows)
    tr.wrap(driver, "maybe_compact", "maybe_compact", _fold)
    for m in ("run", "max_lsn", "committed_hwm"):
        tr.wrap(CdcEngine, m, f"CdcEngine.{m}")
    for m in ("append", "compact", "expire_snapshots", "append_rows", "read",
              "add_column", "rename_column", "widen_column"):
        tr.wrap(LakeTable, m, f"LakeTable.{m}")
    tr.wrap(LakeTable, "append_delta", "LakeTable.append_delta", _DeltaFiles())
    for m in ("dedup_batch", "append", "compact"):
        tr.wrap(ContentIndex, m, f"ContentIndex.{m}")
    for m in ("band_rows", "match_batch", "append", "compact"):
        tr.wrap(NearDupIndex, m, f"NearDupIndex.{m}")
    return tr


# -- CDC family ------------------------------------------------------------------

#: workload -> its phases after the prepares, in order
PHASES = {
    "cdc_replay_tail": ("replay", "tail"),
    "cdc_replay": ("replay",),
    "cdc_tail": ("tail",),
    "ingest_dedup": ("replay",),
}


def _engine_config(kind: str, inp: dict, tables: str) -> EngineConfig:
    cfg = EngineConfig(
        job_id=f"perfbench_{kind}",
        pages_path=os.path.join(tables, "pages"),
        changes_path=os.path.join(tables, "live_changes"),
        ddl_path=inp["ddl"] if "replay" in PHASES[kind] else None,
    )
    if "tail" in PHASES[kind]:
        cfg.expire_keep_last = 3
    if kind == "ingest_dedup":
        size = inp["size"]
        cfg.batch_lsn_width = size["n_events"] // size["batches"]
        cfg.content_index_path = os.path.join(tables, "cidx")
        cfg.near_dup_index_path = os.path.join(tables, "ndidx")
        cfg.content_index_buckets = inputs.BUCKETS
        cfg.near_dup_buckets = inputs.BUCKETS
        # one file per index bucket is enough to fold on the second batch
        cfg.index_compact_max_files = 1
    return cfg


def _prepare(ctx: Context, kind: str, inp: dict, i: int) -> dict:
    """Table create + snapshot_load + engine construction; "setup_s" is the
    create and the engine, not the load."""
    tables = os.path.join(ctx.work, f"tables{i}")
    shutil.rmtree(tables, ignore_errors=True)
    cfg = _engine_config(kind, inp, tables)
    os.makedirs(cfg.changes_path)
    if "replay" in PHASES[kind]:
        for f in inp["files"]:
            shutil.copy(os.path.join(inp["changes"], f["file"]), cfg.changes_path)
    spark = ctx.session.spark
    with _phase(ctx, "bench.prepare"):
        t0 = time.perf_counter()
        pages = LakeTable.create(
            cfg.pages_path, PAGES_COLS, bucket_key="url", bucket_count=inputs.BUCKETS
        )
        t_create = time.perf_counter() - t0
        seed_df = spark.read.parquet(inp["seed"]).withColumn(
            "text", extract_text_udf(F.col("html"))
        )
        t0 = time.perf_counter()
        snapshot.snapshot_load(spark, pages, seed_df, n_chunks=SNAPSHOT_CHUNKS)
        t_snap = time.perf_counter() - t0
        t0 = time.perf_counter()
        eng = CdcEngine(spark, cfg)
        t_engine = time.perf_counter() - t0
    return {
        "spark": spark,
        "pages": pages,
        "engine": eng,
        "cfg": cfg,
        "tables": tables,
        "setup_s": t_create + t_engine,
        "snapshot_s": t_snap,
    }


def _checkpoints(eng: CdcEngine) -> list[tuple[int, float]]:
    """(hwm_lsn, committed_at epoch s) from the durable checkpoints table,
    read with pyarrow so no Spark job is involved."""
    t = LakeTable.load(eng.checkpoints.path)
    rows = []
    for f in t.manifest.files:
        tbl = pq.read_table(os.path.join(t.path, f["path"]), columns=["hwm_lsn", "committed_at"])
        for hwm, at in zip(tbl.column(0).to_pylist(), tbl.column(1).to_pylist()):
            rows.append((hwm, at.replace(tzinfo=timezone.utc).timestamp()))
    return sorted(rows, key=lambda r: r[1])


def _freshness(files: list[dict], due: list[float], cps: list[tuple[int, float]]) -> list[float]:
    """Per change file: commit time of the first checkpoint covering its last
    lsn, minus the time the file was due."""
    out = []
    for f, d in zip(files, due):
        at = next((a for h, a in cps if h >= f["last"]), None)
        if at is None:
            raise RuntimeError(f"no checkpoint covers lsn {f['last']}")
        out.append(at - d)
    return out


def _read_table(ctx: Context, st: dict) -> float:
    with _phase(ctx, "bench.read"):
        t0 = time.perf_counter()
        df = st["pages"].refresh().read(st["spark"])
        df.agg(F.count(F.lit(1)), F.bit_xor(F.xxhash64("url", "last_lsn"))).collect()
        return time.perf_counter() - t0


def _read_tables(ctx: Context, st: dict, one_batch: bool) -> list[float]:
    """Timed reads of a table whose layout is the same for every seed.

    In the CDC family that is the first prepare's table after one replayed
    batch of its own: the seed's base files plus one delta file per bucket.
    The replay's final layout is not: whether a bucket folds on the last
    batch or the one before depends on the seed, and the read time moved 30%
    with it.  ingest_dedup reads its table after the replay (over ten seeds
    those reads spread 0.07 of their median) and skips the extra batch,
    which costs as much as one of its two replay batches."""
    if one_batch:
        with _phase(ctx, "bench.prepare"):
            st["engine"].run(max_batches=1)
    _read_table(ctx, st)
    return [_read_table(ctx, st) for _ in range(READS)]


def _check_cdc(ctx: Context, res: Result, st: dict, ref, subset: bool) -> None:
    with _phase(ctx, "bench.check"):
        got = checks.engine_keyset(st["spark"], st["pages"])
        bad = checks.keyset_mismatches(got, ref, subset=subset)
        res.op(bad == 0, f"keyset: {bad} rows differ from the DuckDB reference")
        bad = checks.text_mismatches(st["spark"], st["pages"], ctx.seed)
        res.op(bad == 0, f"text: {bad} sampled rows differ from extract_text_series(html)")


def _replay(ctx: Context, res: Result, st: dict, files: list[dict]) -> dict:
    """Closed loop: every file is present when the run starts, so each file
    is due at the start and its freshness is its time to a durable commit."""
    eng = st["engine"]
    with _phase(ctx, "bench.replay"):
        due = time.time()
        t0 = time.perf_counter()
        summary = eng.run()
        wall = time.perf_counter() - t0
    res.attempted += summary["batches"]
    fresh = _freshness(files, [due] * len(files), _checkpoints(eng))
    return {"events": summary["events"], "wall": wall, "fresh": fresh}


class _Publisher(threading.Thread):
    """Open-loop source: renames staged change files into the live change
    directory on a fixed schedule, whatever the follower is doing."""

    def __init__(self, files, staging, live, rate, start):
        super().__init__(daemon=True)
        self.files, self.staging, self.live = files, staging, live
        self.due = [start + i / rate for i in range(len(files))]
        self.published: list[float] = []
        self.error: BaseException | None = None

    def run(self):
        try:
            for f, due in zip(self.files, self.due):
                wait = due - time.time()
                if wait > 0:
                    time.sleep(wait)
                os.rename(os.path.join(self.staging, f["file"]), os.path.join(self.live, f["file"]))
                self.published.append(time.time())
        except BaseException as e:  # surfaced by the follower after join
            self.error = e


def _tail(ctx: Context, res: Result, st: dict, inp: dict) -> dict:
    """Open loop: one thread publishes the tail files at a fixed rate while
    the follower keeps calling CdcEngine.run() until it has applied all."""
    eng, files = st["engine"], inp["tail_files"]
    staging = os.path.join(st["tables"], "staging")
    os.makedirs(staging)
    for f in files:
        shutil.copy(os.path.join(inp["tail"], f["file"]), staging)
    last_lsn = files[-1]["last"]
    pub = _Publisher(
        files, staging, st["cfg"].changes_path, inp["size"]["files_per_s"], time.time() + 0.05
    )
    busy, events, hwm = 0.0, 0, 0
    with _phase(ctx, "bench.tail"):
        pub.start()
        deadline = pub.due[-1] + TAIL_DRAIN_LIMIT_S
        try:
            while not pub.published and pub.is_alive():
                time.sleep(0.01)
            while hwm < last_lsn and time.time() < deadline and pub.error is None:
                before = eng.metrics["record_count"]
                t0 = time.perf_counter()
                summary = eng.run()
                wall = time.perf_counter() - t0
                hwm = summary["hwm"]
                if summary["batches"]:
                    busy += wall
                    events += eng.metrics["record_count"] - before
                    res.attempted += summary["batches"]
                else:
                    time.sleep(0.02)
        finally:
            pub.join()
    if pub.error is not None:
        raise pub.error
    res.op(hwm >= last_lsn, f"tail: follower reached lsn {hwm} of {last_lsn}")
    cps = _checkpoints(eng)
    end_pub = pub.published[-1]
    return {
        "events": events,
        "wall": busy,
        "fresh": _freshness(files, pub.due, cps),
        "late_max": max(p - d for p, d in zip(pub.published, pub.due)),
        "backlog_end": last_lsn - max((h for h, a in cps if a <= end_pub), default=0),
    }


def _p90(xs):
    return statistics.quantiles(xs, n=10, method="inclusive")[-1]


def run_cdc(ctx: Context, kind: str) -> Result:
    res = Result()
    if ctx.trace:
        ctx.tracer = install_tracer()
    marks = []

    def mark(name: str) -> None:
        marks.append((name, time.perf_counter(), cpu_steal_s()))

    mark("start")
    family = "ingest_dedup" if kind == "ingest_dedup" else "cdc"
    inp = inputs.build_inputs(
        ctx.session.spark, os.path.join(ctx.work, "inputs"), family, ctx.seed, ctx.seconds
    )
    phases = PHASES[kind]
    applied = []
    if "replay" in phases:
        applied += [os.path.join(inp["changes"], f["file"]) for f in inp["files"]]
    if "tail" in phases:
        applied += [os.path.join(inp["tail"], f["file"]) for f in inp["tail_files"]]
    ref = checks.reference_keyset(inp["seed"], applied)
    mark("inputs")
    setups, loads = [], []
    for i in range(PREPARES):
        st = _prepare(ctx, kind, inp, i)
        setups.append(st["setup_s"])
        loads.append(st["snapshot_s"])
        if i == 0 and family == "cdc":
            reads = _read_tables(ctx, st, one_batch=True)
    mark("prepares and reads" if family == "cdc" else "prepares")
    out = {}
    for p in phases:
        out[p] = _replay(ctx, res, st, inp["files"]) if p == "replay" else _tail(ctx, res, st, inp)
        mark(p)
    if family == "ingest_dedup":
        reads = _read_tables(ctx, st, one_batch=False)
        mark("reads")
    _check_cdc(ctx, res, st, ref, subset=kind == "ingest_dedup")
    if kind == "ingest_dedup":
        _check_dedup(ctx, res, st, inp)
    mark("checks")
    if ctx.tracer:
        ctx.tracer.collect(ctx.session.spark)
    res.lines.append(
        "timeline (CPU steal): "
        + ", ".join(
            f"{n} {t - p:.1f} s ({s - q:.1f} s)" for (_, p, q), (n, t, s) in zip(marks, marks[1:])
        )
    )

    rate_src = out.get("replay") or out["tail"]
    fresh = (out.get("tail") or out["replay"])["fresh"]
    res.e2e.update(
        {
            "setup_s": ctx.session_start_s + statistics.median(setups),
            "snapshot_rows_per_s": inp["size"]["n_seed"] / statistics.median(loads[1:]),
            "events_per_s": rate_src["events"] / rate_src["wall"],
            "freshness_p50_s": statistics.median(fresh),
            "freshness_p90_s": _p90(fresh),
            "table_read_s": statistics.median(reads),
        }
    )
    for p, o in out.items():
        res.lines.append(f"{p}: {o['events']} events in {o['wall']:.2f} s of CdcEngine.run")
    if "tail" in out:
        t = out["tail"]
        offered = inp["size"]["files_per_s"] * inp["size"]["events_per_file"]
        res.lines.append(
            f"tail: offered {offered} events/s, served {t['events'] / t['wall']:.0f} events/s "
            f"while busy, publisher late by <= {t['late_max']:.3f} s, "
            f"backlog at last publish {t['backlog_end']} events"
        )
    res.lines.append(
        f"samples: session start {ctx.session_start_s:.2f} s, {len(setups)} create+engine, "
        f"{len(fresh)} change files for freshness "
        f"({len(fresh) // 10} beyond p90), table reads "
        + ", ".join(f"{x:.3f}" for x in reads) + " s; "
        f"snapshot_load " + ", ".join(f"{x:.2f}" for x in loads) + " s"
    )
    if ctx.tracer:
        res.layers.update(_layer_metrics(ctx, inp, st, out.get("tail"), res.e2e["events_per_s"]))
    return res


def _check_dedup(ctx: Context, res: Result, st: dict, inp: dict) -> None:
    """Exact drops must equal the independent count; near-dup drops must
    repeat exactly for the same seed (the first run records them)."""
    log = st["engine"].batch_log
    exact = sum(b.get("content_dups", 0) for b in log)
    near = sum(b.get("near_dups", 0) for b in log)
    want = checks.expected_exact_drops(inp["changes"], st["cfg"].batch_lsn_width)
    res.op(exact == want, f"exact drops {exact} != expected {want}")
    os.makedirs(ctx.records, exist_ok=True)
    size = "-".join(f"{k}{v}" for k, v in sorted(inp["size"].items()))
    rec = os.path.join(ctx.records, f"ingest_dedup-near_drops-s{ctx.seed}-{size}.json")
    if not os.path.exists(rec):
        with open(rec + ".tmp", "w") as fh:
            json.dump({"near_dups": near}, fh)
        os.replace(rec + ".tmp", rec)
    with open(rec) as fh:
        first = json.load(fh)["near_dups"]
    res.op(near == first, f"near-dup drops {near} != {first} recorded for this seed")
    res.lines.append(f"drops: exact {exact} (expected {want}), near {near}")


# -- per-layer metrics -------------------------------------------------------------


def _kernel_docs_per_s(seed_dir: str) -> float:
    """extract_text_series alone, on the input's seed html (1000 docs)."""
    html = pq.read_table(seed_dir, columns=["html"]).column(0).to_pandas()[:1000]
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        extract_text_series(html)
        times.append(time.perf_counter() - t0)
    return len(html) / statistics.median(times)


def _layer_metrics(ctx, inp, st, tail, events_per_s) -> dict:
    tr = ctx.tracer
    spans = tr.spans
    anc = {s["id"]: tr.ancestors(s) for s in spans}
    self_t = tr.self_times()

    def dur(s):
        return s["t1"] - s["t0"]

    def in_engine(s):
        """Inside a measured CdcEngine.run: not the prepare's batch before the
        table reads."""
        return "CdcEngine.run" in anc[s["id"]] and "bench.prepare" not in anc[s["id"]]

    def named(name):
        return [s for s in spans if s["name"] == name and in_engine(s)]

    job_span = {}
    for j in tr.jobs:
        sp = tr.span_of_group(j["group"])
        if sp is not None:
            job_span[id(j)] = sp

    def jobs_of(ss):
        ids = {s["id"] for s in ss}
        return [j for j in tr.jobs if id(j) in job_span and job_span[id(j)]["id"] in ids]

    def stage_sum(js, key):
        return sum(st[key] for j in js for st in j["stages"])

    def job_wall(js):
        return sum(j["t1"] - j["t0"] for j in js if j["t0"] is not None and j["t1"] is not None)

    def busy(ss):
        """Span walls plus the jobs their lazy plans ran after they returned."""
        late = [j for j in jobs_of(ss) if j["t0"] is not None and j["t0"] >= job_span[id(j)]["t1"]]
        return sum(dur(s) for s in ss) + job_wall(late)

    runs_spans = named("CdcEngine.run")
    run_wall = sum(dur(s) for s in runs_spans)
    in_run = [s for s in spans if in_engine(s)]
    eng = st["engine"]
    log = eng.batch_log
    batch_walls = [b["prep_s"] + b["feed_s"] + b["merge_s"] + b["compact_s"] + b["bookkeep_s"] for b in log]

    loads = [s for s in spans if s["name"] == "snapshot_load"]
    chunks = [s for s in spans if s["name"] == "LakeTable.append" and "snapshot_load" in anc[s["id"]]]
    py_run = [p for p in tr.python if (sp := tr.span_of_group(p["group"])) and in_engine(sp)]
    rows_in = eng.metrics["record_count"]
    rows_out = sum(s["info"].get("rows", 0) for s in named("merge_into"))
    deltas = named("LakeTable.append_delta")
    delta_jobs = jobs_of(deltas)
    folds = [s["info"]["fold"] for s in named("maybe_compact") if s["info"].get("fold")]
    reads = [s for s in spans if s["name"] == "bench.read"]
    read_jobs = jobs_of([s for s in spans if "bench.read" in anc[s["id"]]])
    engine_jobs = jobs_of([s for s in spans if "bench.check" not in anc[s["id"]]])
    ddl = [s for n in ("add_column", "rename_column", "widen_column") for s in named(f"LakeTable.{n}")]
    pages = st["pages"].refresh()
    cand = checks.insert_count(inp["changes"]) if eng._cidx is not None else 0
    c_drop = sum(b.get("content_dups", 0) for b in log)
    n_drop = sum(b.get("near_dups", 0) for b in log)

    m = {
        "snapshot.chunks": len(chunks) / max(1, len(loads)),
        "snapshot.chunk_p50_s": statistics.median([dur(s) for s in chunks]) if chunks else 0.0,
        "snapshot.scan_bytes": stage_sum(
            jobs_of([s for s in spans if "snapshot_load" in anc[s["id"]]]), "input_bytes"
        ) / max(1, len(loads)),
        "extract.rows": sum(p.get("rows", 0) for p in py_run),
        "extract.python_s": sum(p.get("run_s", 0) for p in py_run),
        "extract.worker_init_s": sum(p.get("init_s", 0) for p in py_run),
        "extract.worker_start_s": sum(p.get("start_s", 0) for p in py_run),
        "extract.bytes_to_python": sum(p.get("bytes_to", 0) for p in py_run),
        "extract.bytes_from_python": sum(p.get("bytes_from", 0) for p in py_run),
        "extract.kernel_docs_per_s": _kernel_docs_per_s(inp["seed"]),
        "lww.rows_in": rows_in,
        "lww.rows_out": rows_out,
        "lww.keep_ratio": rows_out / rows_in if rows_in else 0.0,
        "lww.shuffle_write_bytes": stage_sum(delta_jobs, "shuffle_write_bytes"),
        "lww.shuffle_read_bytes": stage_sum(delta_jobs, "shuffle_read_bytes"),
        "driver.prepare_plan_s": sum(dur(s) for s in named("prepare_changes")),
        "merge.s": sum(dur(s) for s in named("merge_into")),
        "write.stage_s": job_wall(delta_jobs),
        "write.output_bytes": stage_sum(delta_jobs, "output_bytes"),
        "write.files": sum(s["info"].get("files", 0) for s in deltas),
        "lake.commit_s": max(0.0, sum(dur(s) for s in deltas) - job_wall(delta_jobs)),
        "compact.folds": len(folds),
        "compact.s": sum(dur(s) for s in named("LakeTable.compact")),
        "compact.bytes_est": sum(f["bytes_est"] for f in folds),
        "expire.s": sum(dur(s) for s in named("LakeTable.expire_snapshots")),
        "lake.live_files_end": len(pages.manifest.files),
        "lake.delta_bytes_end": pages.delta_stats()["delta_bytes"],
        "read.scan_bytes": stage_sum(read_jobs, "input_bytes") / max(1, len(reads)),
        "driver.batches": len(log),
        "driver.batch_p50_s": statistics.median(batch_walls) if batch_walls else 0.0,
        "driver.batch_max_s": max(batch_walls, default=0.0),
        "driver.max_lsn_s": sum(dur(s) for s in named("CdcEngine.max_lsn")),
        "driver.committed_hwm_s": sum(dur(s) for s in named("CdcEngine.committed_hwm")),
        "bookkeep.append_rows_s": sum(dur(s) for s in named("LakeTable.append_rows")),
        "ddl.count": len(ddl),
        "ddl.s": sum(dur(s) for s in ddl),
        "cindex.candidates": cand,
        "cindex.dropped": c_drop,
        "cindex.drop_ratio": c_drop / cand if cand else 0.0,
        "cindex.match_s": busy(named("ContentIndex.dedup_batch")),
        "cindex.scan_bytes": stage_sum(jobs_of(named("ContentIndex.dedup_batch")), "input_bytes"),
        "cindex.append_s": busy(named("ContentIndex.append")),
        "cindex.compact_s": busy(named("ContentIndex.compact")),
        "ndindex.signature_s": busy(named("NearDupIndex.band_rows")),
        "ndindex.match_s": busy(named("NearDupIndex.match_batch")),
        "ndindex.scan_bytes": stage_sum(jobs_of(named("NearDupIndex.match_batch")), "input_bytes"),
        "ndindex.dropped": n_drop,
        "ndindex.append_s": busy(named("NearDupIndex.append")),
        "ndindex.compact_s": busy(named("NearDupIndex.compact")),
        "spark.gc_s": stage_sum(engine_jobs, "gc_s"),
        "spark.task_cpu_s": stage_sum(engine_jobs, "cpu_s"),
        "spark.task_run_s": stage_sum(engine_jobs, "run_s"),
        "tail.publish_late_max_s": tail["late_max"] if tail else 0.0,
        "tail.backlog_events_end": tail["backlog_end"] if tail else 0,
        "tail.files": len(inp["tail_files"]) if tail else 0,
        "host.write_gbps": ctx.canary,
    }
    for layer in sorted(set(LAYER_OF.values())):
        m[f"self.{layer}_s"] = sum(
            self_t[s["id"]] for s in spans
            if LAYER_OF.get(s["name"]) == layer and "bench.check" not in anc[s["id"]]
        )
    covered = sum(self_t[s["id"]] for s in in_run if s["name"] != "CdcEngine.run")
    m["trace.self_sum_ratio"] = (covered + sum(self_t[s["id"]] for s in runs_spans)) / run_wall
    m["trace.covered_ratio"] = covered / run_wall
    m["trace.events_per_s"] = events_per_s
    m["trace.collect_s"] = tr.collect_s
    return m


def run_curation_queries(ctx: Context) -> Result:
    res = Result()
    if ctx.trace:
        ctx.tracer = Tracer()
    curation.run_curation(ctx, res)
    return res


def run_cdc_scaling(ctx: Context) -> Result:
    """(events/s at local[N] / events/s at local[1]) / N for the cdc_replay
    phase on the same input, each level in a fresh process pinned to its
    cores: a JVM keeps the affinity mask it started with, and unpinned
    Python workers would spill onto the other cores."""
    import subprocess
    import sys

    res = Result()
    n = ctx.session.nproc
    rates = {}
    for cores in (1, n):
        cmd = [sys.executable, os.path.join(os.path.dirname(__file__), "run.py"),
               "--workload", "cdc_replay", "--seed", str(ctx.seed),
               "--seconds", str(ctx.seconds), "--trace", "0", "--cores", str(cores)]
        proc = subprocess.run(cmd, capture_output=True, text=True, check=True)
        cell = json.loads(proc.stdout.strip().splitlines()[-1])
        res.attempted += cell["attempted"]
        res.failed += cell["failed"]
        rates[cores] = cell["metrics"]["events_per_s"]["value"]
        res.put(f"events_per_s_local{cores}", rates[cores], "events/s")
    res.put("scaling_efficiency", rates[n] / rates[1] / n, "ratio")
    return res


WORKLOADS = {kind: (lambda ctx, kind=kind: run_cdc(ctx, kind)) for kind in PHASES}
WORKLOADS["curation_queries"] = run_curation_queries
WORKLOADS["cdc_scaling"] = run_cdc_scaling
