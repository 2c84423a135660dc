"""The two benchmark workloads.

Each workload sets up (inputs, warm-up passes), then runs whole timed
passes until at least ``seconds`` have elapsed, closed-loop from the
benchmark thread: the next operation starts when the previous one has
finished.  Outputs are checked outside the timed region.  A traced run
brackets its traced passes with untraced ones, so one process gives
both the traced and the untraced end-to-end value (their difference is
the tracing overhead), then reads the Spark status store once.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field
from datetime import datetime

import numpy as np

import fixtures
import spans

QUERY_MIX = (
    "q00_flagship_daily_rms",
    "q94_interval_join_binned",
    "q126_lm_quality_gate",
)

# input sizes per workload; "smoke" is the self-test's tiny variant
SIZES = {
    "ingest_fleet": {
        "full": {"long_s": 20.0, "n_short": 2, "short_s": 5.0},
        "smoke": {"long_s": 10.0, "n_short": 2, "short_s": 2.0},
    },
    "query_mix": {
        "full": {"scale": 1.0, "queries": QUERY_MIX},
        "smoke": {"scale": 0.1, "queries": QUERY_MIX[:2]},
    },
}
# untimed passes before the timed ones, since a fresh JVM's first pass
# is up to 2x slower and the second still up to 30% slower; a second
# ingest pass does not fit the run's time budget.  The first query_mix
# pass is the oracle-checked one.
WARM_PASSES = {"ingest_fleet": 1, "query_mix": 2}
# fewest timed passes in an untraced window.  Later passes are warmer,
# so the count must not flip between runs: a query pass takes about
# half of ``--seconds``, and 2 or 3 passes by time alone spread
# ``throughput`` 12-24% between quartiles on a 4-vCPU VM.  Two ingest
# passes cut its spread there from 15-18% to 6-9% of the median.  A
# traced run times three windows, so it keeps to one pass each.
MIN_PASSES = {"ingest_fleet": 2, "query_mix": 3}
SENSOR = "iis3dwb_acc"
PASS_TIMEOUT_S = 150


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    size: str
    work: str  # scratch dir of this run
    cache: str  # input cache shared by runs
    trace: bool  # per-layer run: spans and status-store counters
    tracer: spans.Tracer = field(default_factory=spans.Tracer)
    corrupt: bool = False  # self-test: damage one output before its check
    info: dict = field(default_factory=dict)
    t0: float = field(default_factory=time.time)  # process start, epoch s

    def mark(self, phase: str) -> None:
        """Note the end of a set-up phase (kept in the run record and
        echoed to stderr)."""
        now = time.time() - self.t0
        self.info.setdefault("phases", []).append((phase, round(now, 3)))
        print(f"perfbench: {now:7.2f} s  {phase}", file=sys.stderr, flush=True)


@dataclass
class Outcome:
    attempted: int
    failed: int
    ops: list[float]  # latency of each successful timed operation, s
    items: float  # items completed in the timed passes
    busy_s: float  # wall of the timed passes, s
    layers: dict = field(default_factory=dict)

    @property
    def op_p50_s(self) -> float:
        return statistics.median(self.ops)

    @property
    def throughput(self) -> float:
        return self.items / self.busy_s


def timed_passes(ctx: Ctx, one_pass, workload: str) -> list:
    """Run whole passes until ``ctx.seconds`` have elapsed and at least
    the workload's ``MIN_PASSES`` have run."""
    min_passes = 1 if ctx.trace else MIN_PASSES[workload]
    results, t0 = [], time.perf_counter()
    while len(results) < min_passes or time.perf_counter() - t0 < ctx.seconds:
        results.append(one_pass(len(results)))
    return results


def measure(ctx: Ctx, window) -> tuple[Outcome, float | None]:
    """``window(tag)`` timed.  A traced run brackets its traced window
    with untraced ones and also returns the tracing overhead: the
    traced ``op_p50_s`` minus the mean of the untraced ones before and
    after (one side only would book residual JIT warming as overhead)."""
    ctx.info["setup_end"] = time.time()
    ctx.mark("setup")
    if not ctx.trace:
        return window("timed"), None
    before = window("before")
    ctx.info["timed_start"] = time.time()
    with ctx.tracer.recording():
        out = window("timed")
    ctx.info["timed_end"] = time.time()
    after = window("after")
    return out, out.op_p50_s - (before.op_p50_s + after.op_p50_s) / 2


def read_engine(ctx: Ctx) -> None:
    """Status-store read after the timed region: counters onto spans,
    stages kept for the engine layer."""
    ctx.info["stages"] = spans.stage_records(ctx.spark)
    spans.attribute(ctx.tracer, ctx.info["stages"],
                    spans.job_submissions(ctx.spark))


# ================================================================ ingest
def _gate_pass(ctx: Ctx, acqs, tag: str) -> dict:
    from pyspark.errors import StreamingQueryException

    from gcf_corima_parquet_converter_spark.streaming.acquisition_gate import (
        stream_acquisitions,
    )

    base = os.path.join(ctx.work, tag)
    # land every acquisition before the stream starts; hard links keep
    # the bytes those of the cached, checksummed inputs
    for a in acqs:
        shutil.copytree(a.folder, f"{base}/land/{a.name}", copy_function=os.link)
    done: list[tuple[float, str]] = []
    with ctx.tracer.span("streaming.acquisition_gate.pass"):
        t0 = time.perf_counter()
        q = stream_acquisitions(
            ctx.spark, f"{base}/land", f"{base}/out", f"{base}/ck",
            sensor=SENSOR,
            on_processed=lambda folder, _r: done.append(
                (time.perf_counter(), os.path.basename(folder))),
        )
        error = None
        try:
            finished = q.awaitTermination(PASS_TIMEOUT_S)
        except StreamingQueryException as e:
            finished, error = True, e
        finally:
            q.stop()
        t1 = time.perf_counter()
    stamps = [t0] + [t for t, _ in done]
    return {
        "base": base,
        "gaps": [b - a for a, b in zip(stamps, stamps[1:])],
        "converted": [name for _, name in done],
        "busy_s": (done[-1][0] if done else t1) - t0,
        "error": None if finished and error is None else str(error or "timeout"),
        "progress": q.recentProgress,
    }


def rms_truth(acq: fixtures.Acquisition) -> dict[int, np.ndarray]:
    """Per-second (rms_x, rms_y, rms_z, rms_mod) keyed by bucket-start
    epoch ns, recomputed from the generator's samples.  A packet's stamp
    is the time of its last sample; buckets whose observed span is
    under 0.999 s are dropped (the reference's completeness rule)."""
    in_g = fixtures.expected_samples(acq)
    spts = fixtures.SPTS
    stamps = (np.arange(len(in_g) // spts) * spts + spts - 1) / fixtures.ODR
    offs = (np.arange(spts, dtype=np.float64) - (spts - 1)) / fixtures.ODR
    rel = (stamps[:, None] + offs[None, :]).ravel()
    start = datetime.fromisoformat(acq.start_time.replace("Z", "+00:00"))
    ns = np.rint(rel * 1e9).astype(np.int64) + int(start.timestamp() * 1e9)
    bucket, first = np.unique(ns // 1_000_000_000, return_index=True)
    last = np.append(first[1:], len(ns))
    rms = np.sqrt(np.add.reduceat(in_g ** 2, first, axis=0)
                  / (last - first)[:, None])
    rms = np.column_stack([rms, np.sqrt((rms ** 2).sum(axis=1))])
    full = ns[last - 1] - ns[first] >= 0.999e9
    return {int(b) * 1_000_000_000: r for b, r in zip(bucket[full], rms[full])}


def _partition(root: str, acq: fixtures.Acquisition) -> str:
    y, m, d = acq.date_parts
    return f"{root}/alias={acq.alias}/year={y}/month={m}/day={d}"


def _corrupt_one_rms(out: str, acq: fixtures.Acquisition) -> None:
    import pyarrow.parquet as pq

    rms_dir = _partition(f"{out}/{SENSOR}_rms", acq)
    path = os.path.join(rms_dir, sorted(
        f for f in os.listdir(rms_dir) if f.endswith(".parquet"))[0])
    t = pq.read_table(path)
    i = t.column_names.index("rms_x")
    pq.write_table(t.set_column(i, "rms_x", [np.asarray(t["rms_x"]) * 1.5]), path)


def _check_pass(res: dict, acqs, truths) -> list[str]:
    """Names of the acquisitions whose outputs are wrong or missing:
    a processed marker each, the enriched row count of its (alias, day)
    partition, and its per-second RMS against the numpy recomputation
    within 1e-9 relative."""
    import pyarrow.dataset as ds

    bad = []
    markers = os.listdir(f"{res['base']}/ck/processed")
    out = f"{res['base']}/out"
    for a in acqs:
        enriched = _partition(f"{out}/{SENSOR}", a)
        rms_dir = _partition(f"{out}/{SENSOR}_rms", a)
        ok = (sum(m.endswith(f"__{a.name}") for m in markers) == 1
              and a.name in res["converted"]
              and os.path.isdir(enriched) and os.path.isdir(rms_dir))
        if ok:
            ok = (ds.dataset(enriched, format="parquet").count_rows()
                  == fixtures.n_samples(a))
        if ok:
            t = ds.dataset(rms_dir, format="parquet").to_table().to_pydict()
            got = {tm: np.array(r) for tm, *r in zip(
                t["Time"], t["rms_x"], t["rms_y"], t["rms_z"], t["rms_mod"])}
            want = truths[a.name]
            ok = got.keys() == want.keys() and all(
                np.allclose(got[k], want[k], rtol=1e-9, atol=0.0) for k in want)
        if not ok:
            bad.append(a.name)
    return bad


def ingest_fleet(ctx: Ctx) -> Outcome:
    """Convert a landed fleet (one long acquisition, several short
    snapshots) through the streaming acquisition gate."""
    acqs, manifest = fixtures.build_fleet(
        ctx.cache, ctx.seed, **SIZES["ingest_fleet"][ctx.size])
    ctx.info["inputs"] = manifest
    truths = {a.name: rms_truth(a) for a in acqs}
    ctx.mark("inputs")
    for k in range(WARM_PASSES["ingest_fleet"]):
        _gate_pass(ctx, acqs, f"warm{k}")
        ctx.mark(f"warm{k}")
    total = sum(fixtures.n_samples(a) for a in acqs)
    passes_by_tag = {}

    def window(tag: str) -> Outcome:
        passes = timed_passes(ctx, lambda k: _gate_pass(ctx, acqs, f"{tag}{k}"),
                              "ingest_fleet")
        passes_by_tag[tag] = passes
        if ctx.corrupt:
            _corrupt_one_rms(f"{passes[0]['base']}/out", acqs[0])
        return Outcome(
            attempted=len(acqs) * len(passes),
            failed=sum(len(_check_pass(p, acqs, truths)) for p in passes),
            ops=[g for p in passes for g in p["gaps"]],
            items=float(sum(total for p in passes if not p["error"])),
            busy_s=sum(p["busy_s"] for p in passes),
        )

    out, overhead = measure(ctx, window)
    if overhead is not None:
        out.layers = _ingest_layers(ctx, acqs, passes_by_tag["timed"], overhead)
    return out


def _ingest_layers(ctx: Ctx, acqs, passes, overhead: float) -> dict:
    """Gate numbers of the traced window, then the long acquisition's
    four layers called one at a time and ``process_acquisition`` whole."""
    listing = commit = 0.0
    for p in passes:
        for prog in p["progress"]:
            d = prog["durationMs"]
            listing += d.get("latestOffset", 0) + d.get("getBatch", 0)
            commit += d.get("walCommit", 0) + d.get("commitOffsets", 0)
    layers = {
        "streaming.acquisition_gate.first_result_s":
            statistics.median(p["gaps"][0] for p in passes if p["gaps"]),
        "streaming.acquisition_gate.listing_s": listing / 1000 / len(passes),
        "streaming.acquisition_gate.commit_s": commit / 1000 / len(passes),
        "streaming.acquisition_gate.converted_frac":
            sum(len(p["converted"]) for p in passes) / (len(acqs) * len(passes)),
        "trace.overhead_s": overhead,
    }
    long_acq = next(a for a in acqs if a.name == fixtures.LONG_NAME)
    layers.update(_convert_layers(ctx, long_acq))
    return layers


def _convert_layers(ctx: Ctx, acq: fixtures.Acquisition) -> dict:
    import pyspark.sql.functions as F

    from gcf_corima_parquet_converter_spark.operators import telemetry as tm
    from gcf_corima_parquet_converter_spark.sources import acquisition as sa
    from gcf_corima_parquet_converter_spark.sources.dat import decode_dat

    spark = ctx.spark
    base = os.path.join(ctx.work, "layers")
    meta = sa.load_meta(acq.folder, SENSOR)
    dat = os.path.join(acq.folder, f"{SENSOR}.dat")
    with ctx.tracer.recording() as t:
        with t.span("sources.dat.decode") as s_dec:
            decode_dat(spark, dat, meta.params).write.format("noop").mode(
                "overwrite").save()
        with t.span("sources.acquisition.load_cache") as s_load:
            enriched, meta = sa.load_acquisition(spark, acq.folder, SENSOR)
            enriched.persist()
            enriched.count()
        cached_bytes = spans.storage_bytes(spark)
        axes = [c for c in enriched.columns if c not in ("Time", "alias")]
        with t.span("operators.telemetry.tumbling_rms") as s_rms:
            tm.tumbling_rms(
                enriched, value_cols=axes, group_cols=["alias"],
                rename={c: f"rms_{c.split('_')[1]}" for c in axes},
            ).write.format("noop").mode("overwrite").save()
        day = meta.start_time
        with t.span("operators.telemetry.write_hive") as s_write:
            tm.write_hive_partitioned(
                enriched.withColumns({"year": F.lit(day.year),
                                      "month": F.lit(day.month),
                                      "day": F.lit(day.day)}),
                f"{base}/split/{SENSOR}")
        enriched.unpersist(blocking=True)
        with t.span("sources.acquisition.process") as s_proc:
            sa.process_acquisition(spark, acq.folder, f"{base}/whole", SENSOR)
    read_engine(ctx)

    files = [os.path.join(d, f) for d, _, fs in os.walk(f"{base}/whole")
             for f in fs if f.endswith(".parquet")]
    four = s_dec.duration + s_load.duration + s_rms.duration + s_write.duration
    plen = meta.params.packet_len
    split = max((64 << 20) // plen, 1) * plen  # decode_dat's default range
    return {
        "sources.dat.decode_s": s_dec.duration,
        "sources.dat.ranges": -(-os.path.getsize(dat) // split),
        "sources.acquisition.load_cache_s": s_load.duration,
        "sources.acquisition.process_s": s_proc.duration,
        "sources.acquisition.jobs": s_proc.counters["jobs"],
        "sources.acquisition.stages": s_proc.counters["stages"],
        "sources.acquisition.storage_bytes": cached_bytes,
        "operators.telemetry.tumbling_rms_s": s_rms.duration,
        "operators.telemetry.write_hive_s": s_write.duration,
        "operators.telemetry.output_bytes": sum(map(os.path.getsize, files)),
        "operators.telemetry.files": len(files),
        "layers.coverage": four / s_proc.duration,
    }


# ================================================================ queries
def query_mix(ctx: Ctx) -> Outcome:
    """Registered queries over a generated corpus, each forced with a
    noop sink; the first warm-up pass checks every result against its
    DuckDB oracle."""
    from gcf_corima_parquet_converter_spark import catalog
    from gcf_corima_parquet_converter_spark.queries import ORACLE, QUERIES
    from tests.oracle_harness import compare, duck_connect

    size = SIZES["query_mix"][ctx.size]
    names = size["queries"]
    sf_dir, manifest = fixtures.build_corpus(ctx.cache, ctx.seed, size["scale"])
    ctx.info["inputs"] = manifest
    ctx.mark("inputs")
    t0 = time.perf_counter()
    for table in catalog.TABLES:
        catalog.load(ctx.spark, sf_dir, table)
    catalog_s = time.perf_counter() - t0

    con = duck_connect(sf_dir)
    wrong = {}
    for name in names:
        try:
            df = QUERIES[name](ctx.spark, sf_dir)
            if ctx.corrupt and name == names[0]:
                df = df.limit(max(df.count() - 1, 0))
            compare(df, con, ORACLE[name], name)
        except Exception as e:  # a wrong or crashing query fails its runs
            wrong[name] = f"{type(e).__name__}: {e}"[:500]
    con.close()
    ctx.info["check_errors"] = wrong
    ctx.mark("checked")

    def one_pass(_k: int) -> list[tuple[str, float | None]]:
        walls = []
        for name in names:
            with ctx.tracer.span(f"queries.{name}"):
                t_start = time.perf_counter()
                try:
                    with ctx.tracer.span(f"queries.{name}.build"):
                        df = QUERIES[name](ctx.spark, sf_dir)
                    with ctx.tracer.span(f"queries.{name}.exec"):
                        df.write.format("noop").mode("overwrite").save()
                except Exception as e:
                    wrong.setdefault(name, f"{type(e).__name__}: {e}"[:500])
                    walls.append((name, None))
                    continue
                walls.append((name, time.perf_counter() - t_start))
        return walls

    def window(_tag: str) -> Outcome:
        runs = [r for p in timed_passes(ctx, one_pass, "query_mix") for r in p]
        ops = [w for _, w in runs if w is not None]
        return Outcome(
            attempted=len(runs), failed=sum(n in wrong for n, _ in runs),
            ops=ops, items=float(len(ops)), busy_s=sum(ops),
        )

    for k in range(1, WARM_PASSES["query_mix"]):
        one_pass(k)
        ctx.mark(f"warm{k}")
    out, overhead = measure(ctx, window)
    if overhead is not None:
        read_engine(ctx)
        out.layers = {"catalog.load_s": catalog_s, "trace.overhead_s": overhead}
        out.layers.update(_query_layers(ctx.tracer))
    return out


def _query_layers(tracer: spans.Tracer) -> dict:
    """Median per query over the traced passes."""
    acc: dict[str, list[float]] = {}
    for sp in tracer.spans:
        parts = sp.name.split(".")
        if parts[0] != "queries":
            continue
        if len(parts) == 3:
            acc.setdefault(f"queries.{parts[1]}.{parts[2]}_s", []).append(sp.duration)
        else:
            for k in ("jobs", "shuffle_bytes", "spill_bytes", "gc_s"):
                acc.setdefault(f"queries.{parts[1]}.{k}", []).append(sp.counters[k])
    return {k: statistics.median(v) for k, v in acc.items()}


WORKLOADS = {"ingest_fleet": ingest_fleet, "query_mix": query_mix}
