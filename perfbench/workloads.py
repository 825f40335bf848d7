"""The two workloads: set-up, timed loop, output checks and traced pass.

Both drive only public entry points of the program (``job.build_session``,
``job.run_pipeline``, ``curate.run_curation``) on generated parquet.  Why
each workload exists, and what it leaves out, is in ``README.md``.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
from datetime import date

import pyarrow.dataset as ds
import pyarrow.parquet as pq

import gen
import procstat
from spans import Tracer, fold_event_log

from ocr_spark import curate, html_extract, job
from ocr_spark import lineage as lin
from ocr_spark.functions import udfs
from ocr_spark.operators import dedup, textstats, urls
from ocr_spark.textops import bound_parse_text

RUN_DATE = date(2026, 8, 16)
SLOTS = len(os.sched_getaffinity(0))
PARTITIONS = SLOTS       # pages are small; more tasks only add per-task cost

# crawl_incremental: one round = SLICES runs of run_pipeline into one output
SLICES = 3
PAGES = 600              # pagegen pages per slice (file i > 0 holds 2 slices)
HTML_LESS = LATIN1 = 6   # admission rows per slice, plus one oversize page
WARM_PAGES = 100         # warm-up: a plain and a resumed slice of this size
MIN_ROUNDS = 2           # a run measures at least this many whole rounds
TIMED_ROUNDS = 3         # rounds of fresh pages generated for timing
SAMPLE_EVERY = 37        # replay-check every 37th row and all admission rows
DIGEST_PAGES = 20_000
PINNED_DIGEST = -2518734284186716871

# curate_corpus
DOCS = 1000
TOKENS = 200
WARM_DOCS = 200
MAX_PER_HOST = DOCS // 40
BUDGET_TOKENS = 2000


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _du_mb(path: str) -> float:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total / 2 ** 20


def _read(path: str, columns: list[str]) -> list[dict]:
    return ds.dataset(path, format="parquet", partitioning="hive") \
        .to_table(columns=columns).to_pylist()


class Ctx:
    """State of one invocation: paths, seed, run length and the tracer."""

    def __init__(self, work: str, seed: int, seconds: float, trace: bool,
                 event_dir: str):
        self.work, self.seed, self.seconds = work, seed, seconds
        self.trace, self.event_dir = trace, event_dir
        self.cache = os.path.join(work, "inputs")
        self.out = os.path.join(work, "out", str(os.getpid()))
        self.tracer = Tracer()
        self.metrics: dict[str, tuple[float, str]] = {}
        self.samples: dict[str, list[float]] = {}
        self.inputs: dict = {}
        self.failures: list[str] = []
        self.attempted = 0
        self.failed = 0

    def put(self, name: str, value: float, unit: str,
            samples: list[float] | None = None) -> None:
        self.metrics[name] = (float(value), unit)
        self.samples[name] = list(samples) if samples else [float(value)]

    def fail(self, rows: int, why: str) -> None:
        self.failed += rows
        self.failures.append(why)

    def outdir(self, name: str) -> str:
        path = os.path.join(self.out, name)
        shutil.rmtree(path, ignore_errors=True)
        return path


def _session(ctx: Ctx):
    spark = job.build_session(app=f"perfbench-{ctx.seed}",
                              master=f"local[{SLOTS}]",
                              shuffle_partitions=PARTITIONS)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _timed(ctx: Ctx, step, min_steps: int
           ) -> tuple[list, float, procstat.PeakRss]:
    """Call ``step(i)`` for i = 0, 1, ... until ``ctx.seconds`` have passed
    and at least ``min_steps`` whole steps ran.  The floor keeps the work
    measured the same when the host runs fast: otherwise a faster host
    also fits in one more, warmer step.  Returns the step results, the CPU
    seconds of the process tree and the RSS sampler."""
    results = []
    probe = [procstat.cpu_probe()]
    cpu0 = procstat.tree_usage()[0]
    t0 = time.perf_counter()
    with procstat.PeakRss() as rss:
        while (len(results) < min_steps
               or time.perf_counter() - t0 < ctx.seconds):
            results.append(step(len(results)))
    cpu = procstat.tree_usage()[0] - cpu0
    ctx.inputs["host_probe_s"] = probe + [procstat.cpu_probe()]
    return results, cpu, rss


def _put_e2e(ctx: Ctx, rows: int, walls: list[float], cpu: float,
             rss: procstat.PeakRss, run_walls: list[float],
             out_mb: list[float], setup: float) -> None:
    ctx.put("rows_per_s", rows / sum(walls), "rows/s",
            [rows / len(walls) / w for w in walls])
    ctx.put("cpu_s_per_krow", cpu / (rows / 1000), "s")
    ctx.put("peak_rss_mb", rss.peak / 2 ** 20, "MB")
    ctx.samples["peak_rss_mb"] = [rss.peak / 2 ** 20] * rss.samples
    ctx.inputs["rss_at_peak_mb"] = rss.at_peak
    ctx.put("output_mb", statistics.median(out_mb), "MB", out_mb)
    ctx.put("slice_p50_s", statistics.median(run_walls), "s", run_walls)
    ctx.put("setup_s", setup, "s")


# ---------------------------------------------------------------------------
# the extraction kernel, replayed in-process
# ---------------------------------------------------------------------------

def replay(row: dict, clock: dict | None = None) -> tuple:
    """One page through ``html_extract`` + ``udfs.parse_dispatch``, as the
    fused stage composes them (tier 2 on).  With ``clock``, adds the
    nanoseconds of each phase to it, keyed by phase and by parser."""
    lap = clock if clock is not None else {}

    def add(t0: int, *keys: str) -> int:
        t1 = time.perf_counter_ns()
        for k in keys:
            lap[k] = lap.get(k, 0) + t1 - t0
        return t1

    t = time.perf_counter_ns()
    html, text = row["html"], row["text"]
    if html is None:
        blocks, (xt, conf) = None, (text or "", 100.0)
    else:
        blocks = html_extract._segment(html)
        t = add(t, "segment")
        xt, conf = html_extract.tier1_from_blocks(blocks)
        t = add(t, "tier1")
    dt = udfs.route_doc_type(bound_parse_text(xt))
    t = add(t, "route")
    resp, needs, _ = udfs.parse_dispatch(dt, xt, conf, RUN_DATE,
                                         udfs.TIER1_ENGINE, True)
    t = add(t, "parse_validate", f"parse.{dt}")
    if needs:
        lap["tier2_rows"] = lap.get("tier2_rows", 0) + 1
        if html is None:
            xt, conf = text or "", 95.0 if text else 0.0
        else:
            xt, conf, _ = html_extract.tier2_from_blocks(blocks)
        t = add(t, "tier2")
        dt = udfs.route_doc_type(bound_parse_text(xt))
        t = add(t, "route")
        resp, _, _ = udfs.parse_dispatch(dt, xt, conf, RUN_DATE,
                                         udfs.TIER2_ENGINE, False)
        t = add(t, "parse_validate", f"parse.{dt}")
    body = udfs._dumps(resp)
    add(t, "json")
    return xt, resp["valido"], resp["confianza_global"], body


# ---------------------------------------------------------------------------
# crawl_incremental
# ---------------------------------------------------------------------------

def _crawl_round(spark, rnd: dict, out: str) -> list[float]:
    walls = []
    for i, path in enumerate(rnd["paths"]):
        t0 = time.perf_counter()
        job.run_pipeline(spark, path, out, RUN_DATE, partitions=PARTITIONS,
                         resume=i > 0, run_id=f"slice-{i}")
        walls.append(time.perf_counter() - t0)
    return walls


def _check_crawl_round(ctx: Ctx, rnd: dict, out: str, key: str) -> None:
    rows = rnd["rows"]
    ctx.attempted += len(rows)
    by_url = {r["url"]: r for r in rows}
    admitted = {u for u, r in by_url.items() if not gen.is_oversize(r)}
    data = _read(f"{out}/data", ["url", "extracted_text", "valido",
                                 "confianza_global", "response_json", "tier"])
    seen: dict[str, int] = {}
    bad: set[str] = set()
    for d in data:
        u = d["url"]
        seen[u] = seen.get(u, 0) + 1
        src = by_url.get(u)
        if src is None or u not in admitted:
            bad.add(u)
        elif src["text"] not in (d["extracted_text"] or ""):
            bad.add(u)
    bad |= {u for u, n in seen.items() if n != 1}
    bad |= admitted - seen.keys()
    quarantined = _read(f"{out}/quarantine", ["url", "reason"])
    q_seen: dict[str, int] = {}
    for q in quarantined:
        q_seen[q["url"]] = q_seen.get(q["url"], 0) + (q["reason"] == "oversize")
    oversize = set(by_url) - admitted
    bad |= {u for u in oversize | q_seen.keys() if q_seen.get(u) != 1
            or u not in oversize}
    got = {d["url"]: d for d in data}
    for i, r in enumerate(rows):
        if r["url"] not in got or (i % SAMPLE_EVERY
                                   and not gen.is_admission(r)):
            continue
        d = got[r["url"]]
        if replay(r) != (d["extracted_text"], d["valido"],
                         d["confianza_global"], d["response_json"]):
            bad.add(r["url"])
    if bad:
        ctx.fail(len(bad), f"{key}: {len(bad)} rows fail the output checks")
    summary = _read(f"{out}/lineage_summary", ["digest"])
    digest = 0
    for s in summary:
        digest ^= s["digest"]
    _same_digest(ctx, key, digest, len(rows))
    tiers = [d["tier"] for d in data]
    ctx.inputs.setdefault("tier2_share", []).append(
        tiers.count(2) / max(len(tiers), 1))


def _same_digest(ctx: Ctx, key: str, digest: int, rows: int) -> None:
    """Fail the rows of ``key`` when an earlier run in this checkout got
    another digest for the same input."""
    path = os.path.join(ctx.work, "digests.json")
    try:
        with open(path) as fh:
            known = json.load(fh)
    except (OSError, ValueError):
        known = {}
    if known.setdefault(key, digest) != digest:
        ctx.fail(rows, f"{key}: digest {digest} != {known[key]} of an "
                       f"earlier run")
    tmp = f"{path}.{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump(known, fh)
    os.replace(tmp, path)


def _pinned_digest(ctx: Ctx, spark) -> None:
    """Seed 0, 20k pages, run date 2026-08-16 must give the ROADMAP digest.
    Runs once per checkout and program source; later runs reuse it."""
    import hashlib
    root = os.path.dirname(os.path.dirname(job.__file__))
    h = hashlib.sha1()
    for dirpath, _, files in sorted(os.walk(os.path.join(root, "ocr_spark"))):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    h.update(fh.read())
    with open(gen.__file__, "rb") as fh:
        h.update(fh.read())
    path = os.path.join(ctx.work, f"pinned-{h.hexdigest()[:16]}.json")
    if not os.path.exists(path):
        pages = gen.digest_pages(ctx.cache, DIGEST_PAGES)
        s = job.run_pipeline(spark, pages, ctx.outdir("pinned"), RUN_DATE,
                             partitions=PARTITIONS)
        with open(path + ".tmp", "w") as fh:
            json.dump({"digest": s["digest"]}, fh)
        os.replace(path + ".tmp", path)
    with open(path) as fh:
        digest = json.load(fh)["digest"]
    ctx.inputs["pinned_digest"] = digest
    ctx.attempted += DIGEST_PAGES
    if digest != PINNED_DIGEST:
        ctx.fail(DIGEST_PAGES, f"seed-0 digest {digest} != {PINNED_DIGEST}")


def crawl_incremental(ctx: Ctx):
    rounds = gen.incremental_slices(ctx.cache, ctx.seed, 0, TIMED_ROUNDS + 1,
                                    SLICES, PAGES, HTML_LESS, LATIN1)
    warm = gen.incremental_slices(ctx.cache, ctx.seed, 10 ** 6, 1, 2,
                                  WARM_PAGES, HTML_LESS, LATIN1)[0]
    uniq = rounds[0]["rows"]
    ctx.inputs.update(
        workload="crawl_incremental", slices=SLICES, pages_per_slice=PAGES,
        unique_rows_per_round=len(uniq),
        slice_rows=[pq.ParquetFile(p).metadata.num_rows
                    for p in rounds[0]["paths"]],
        mean_html_bytes=statistics.mean(len(r["html"]) for r in uniq
                                        if r["html"] and not gen.is_oversize(r)),
        html_null_share=sum(r["html"] is None for r in uniq) / len(uniq),
        latin1_share=LATIN1 / (PAGES + HTML_LESS + LATIN1 + 1),
        quarantine_share=sum(map(gen.is_oversize, uniq)) / len(uniq),
        resume_overlap_share=1 - len(uniq) / sum(
            pq.ParquetFile(p).metadata.num_rows for p in rounds[0]["paths"]))

    t0 = time.perf_counter()
    spark = _session(ctx)
    t1 = time.perf_counter()
    _crawl_round(spark, warm, ctx.outdir("warm"))
    t2 = time.perf_counter()

    outs = []

    def step(i: int) -> list[float]:
        outs.append(ctx.outdir(f"round{i}"))
        return _crawl_round(spark, rounds[i % TIMED_ROUNDS], outs[-1])

    results, cpu, rss = _timed(ctx, step, MIN_ROUNDS)
    n = len(uniq) * len(results)
    _put_e2e(ctx, n, [sum(w) for w in results], cpu, rss,
             [w for ws in results for w in ws],
             [_du_mb(o) for o in outs], t2 - t0)
    ctx.put("job.build_session_s", t1 - t0, "s")
    ctx.put("warmup_s", t2 - t1, "s")

    for i, out in enumerate(outs):
        _check_crawl_round(ctx, rounds[i % TIMED_ROUNDS], out,
                           f"crawl_incremental/s{ctx.seed}/r{i % TIMED_ROUNDS}")
    _pinned_digest(ctx, spark)
    if ctx.trace:
        _trace_crawl(ctx, spark, rounds[TIMED_ROUNDS],
                     statistics.median(sum(w) for w in results))
    return spark


def _trace_crawl(ctx: Ctx, spark, rnd: dict, untraced_wall: float) -> None:
    """The traced round: before each slice is committed, nested probes run
    the slice's plan prefix into a noop sink (scan, + admission, + resume
    anti-join, + repartition, + fused stage); then ``run_pipeline``
    commits it.  A layer's self time is the difference of two nested walls,
    and sinks + lineage is ``run_pipeline`` minus the fused stage, so the
    layer rows add up to the traced ``run_pipeline`` walls.  The probes
    read the same files just before the job does, so the traced job wall
    can come out below the untraced one."""
    tr, out = ctx.tracer, ctx.outdir("traced")
    per_slice: list[dict[str, float]] = []
    skip, extracted = [], 0
    with tr.span("traced_round") as root:
        for i, path in enumerate(rnd["paths"]):
            w: dict[str, float] = {}
            per_slice.append(w)

            def prefix(level: int):
                """run_pipeline's plan up to ``level``, built from scratch:
                the resume anti-join pins the committed urls while the plan
                is built, so every probe pays for that as the job does."""
                df = job.read_pages(spark, path)
                if level >= 1:
                    df = job.admission_split(df)[0]
                if level >= 2 and i > 0:
                    df = lin.anti_join_done(df, f"{out}/data")
                if level >= 3:
                    df = job.spread_partitions(df, PARTITIONS)
                if level >= 4:
                    df = df.mapInPandas(udfs.fused_single_pass_udf(RUN_DATE),
                                        udfs.FUSED_SCHEMA)
                return df

            def probe(name: str, level: int) -> None:
                with tr.span(name) as s:
                    _noop(prefix(level))
                w[name] = s["end"] - s["start"]

            with tr.span("slice"):
                probe("job.scan", 0)
                probe("job.admit", 1)
                if i > 0:
                    probe("lineage.anti_join", 2)
                n_admitted = prefix(1).count()
                n_left = prefix(2).count()
                skip.append(1 - n_left / n_admitted)
                extracted += n_left
                probe("job.repartition", 3)
                probe("udfs.fused_stage", 4)
                with tr.span("job.run_pipeline") as s:
                    job.run_pipeline(spark, path, out, RUN_DATE,
                                     partitions=PARTITIONS, resume=i > 0,
                                     run_id=f"slice-{i}")
                w["job.run_pipeline"] = s["end"] - s["start"]

    # the kernel in-process on one core: warm the per-process caches on one
    # sample of the round's extracted rows, then time two other samples
    rows = [r for r in rnd["rows"] if not gen.is_oversize(r)]
    for r in rows[1::8]:
        replay(r)
    clock: dict = {}
    sample = rows[::8]
    for r in sample:
        replay(r, clock)
    import pandas as pd
    frame = pd.DataFrame(rows[4::8])
    t0 = time.perf_counter_ns()
    for _ in udfs.fused_single_pass_udf(RUN_DATE)(iter([frame])):
        pass
    kernel_us = (time.perf_counter_ns() - t0) / len(frame) / 1000
    n = len(sample)
    for name, key in (("html_extract.segment_us", "segment"),
                      ("html_extract.tier1_us", "tier1"),
                      ("udfs.route_us", "route"),
                      ("udfs.parse_validate_us", "parse_validate"),
                      ("udfs.json_us", "json"),
                      ("parsers.dni_us", "parse.dni"),
                      ("parsers.permis_us", "parse.permiso_circulacion"),
                      ("parsers.nif_us", "parse.nif")):
        ctx.put(name, clock.get(key, 0) / n / 1000, "us")
    ctx.put("html_extract.tier2_us",
            clock.get("tier2", 0) / max(clock.get("tier2_rows", 0), 1) / 1000,
            "us")
    ctx.put("udfs.kernel_us", kernel_us, "us")

    def total(name: str) -> float:
        return sum(w.get(name, 0.0) for w in per_slice)

    def self_total(name: str, before: str, fallback: str = "") -> float:
        return sum(w[name] - w.get(before, w.get(fallback, 0.0))
                   for w in per_slice if name in w)

    fused_self = self_total("udfs.fused_stage", "job.repartition")
    kernel_wall = kernel_us * extracted / 1e6 / SLOTS
    budget = {
        "job.scan": total("job.scan"),
        "job.admission": self_total("job.admit", "job.scan"),
        "lineage.anti_join": self_total("lineage.anti_join", "job.admit"),
        "job.repartition": self_total("job.repartition", "lineage.anti_join",
                                      "job.admit"),
        "udfs.kernel (cpu / slots)": kernel_wall,
        "udfs.boundary (fused stage - kernel)": fused_self - kernel_wall,
        "job.sinks_lineage": self_total("job.run_pipeline", "udfs.fused_stage"),
    }
    ctx.inputs["layer_budget"] = {
        "of": "sum of job.run_pipeline walls in the traced round",
        "wall_s": total("job.run_pipeline"),
        "sum_s": sum(budget.values()),
        "layers_s": budget}
    ctx.put("job.scan_s", total("job.scan"), "s")
    ctx.put("job.admit_s", total("job.admit"), "s")
    ctx.put("job.repartition_s", total("job.repartition"), "s")
    ctx.put("udfs.fused_stage_s", total("udfs.fused_stage"), "s")
    ctx.put("udfs.stage_over_kernel",
            fused_self * SLOTS / (kernel_us * extracted / 1e6), "ratio")
    ctx.put("job.sinks_lineage_self_s", budget["job.sinks_lineage"], "s")
    anti = [w["lineage.anti_join"] for w in per_slice if "lineage.anti_join" in w]
    ctx.put("lineage.anti_join_s", statistics.median(anti), "s", anti)
    ctx.put("lineage.resume_skip_share", statistics.median(skip[1:]),
            "ratio", skip[1:])

    data = _read(f"{out}/data", ["tier"])
    tiers = [d["tier"] for d in data]
    ctx.put("udfs.tier2_rows", tiers.count(2), "count")
    ctx.put("udfs.tier1_accept_ratio", tiers.count(1) / len(tiers), "ratio")
    ctx.put("job.quarantined_rows",
            len(_read(f"{out}/quarantine", ["url"])), "count")
    ctx.put("job.output_files", sum(
        f.endswith(".parquet") for _, _, fs in os.walk(f"{out}/data")
        for f in fs), "count")
    ctx.put("lineage.partitions", len(_read(f"{out}/lineage", ["run_id"])),
            "count")
    _trace_tail(ctx, tr.spans.index(root), "job.run_pipeline", untraced_wall)


def _trace_tail(ctx: Ctx, root_idx: int, job_span: str,
                untraced_wall: float) -> None:
    traced_wall = sum(ctx.tracer.wall(i) for i, s in enumerate(ctx.tracer.spans)
                      if s["name"] == job_span)
    ctx.inputs["layer_table"] = ctx.tracer.layer_table(root_idx)
    ctx.put("trace.overhead_s", traced_wall - untraced_wall, "s")
    ctx.inputs["trace_walls_s"] = {"traced": traced_wall,
                                   "untraced": untraced_wall}
    ctx.inputs["engine_windows"] = ctx.tracer.windows(job_span)


def fold_engine(ctx: Ctx, app_id: str) -> None:
    eng = fold_event_log(ctx.event_dir, app_id, ctx.inputs["engine_windows"])
    units = {"jobs": "count", "stages": "count", "tasks": "count",
             "task_s": "s", "jvm_cpu_s": "s", "gc_s": "s",
             "shuffle_write_mb": "MB", "spill_mb": "MB", "task_skew": "ratio"}
    for k, unit in units.items():
        ctx.put(f"spark.{k}", eng[k], unit)


# ---------------------------------------------------------------------------
# curate_corpus
# ---------------------------------------------------------------------------

def _curate_run(spark, corpus: dict, out: str) -> dict:
    return curate.run_curation(
        spark, corpus["input"], out, bench_path=corpus["bench"],
        budget_tokens=BUDGET_TOKENS, near_dup=True,
        partitions=PARTITIONS, max_per_host=MAX_PER_HOST)


def _check_curation(ctx: Ctx, corpus: dict, out: str, summary: dict,
                    key: str) -> None:
    with open(corpus["expected"]) as fh:
        expected = json.load(fh)
    ctx.attempted += len(expected)
    report = _read(f"{out}/report", ["doc_id", "drop_reason"])
    got = {}
    bad = set()
    for r in report:
        if r["doc_id"] in got:
            bad.add(r["doc_id"])
        got[r["doc_id"]] = r["drop_reason"]
    bad |= {i for i, reason in enumerate(expected)
            if got.get(i, "missing") != reason}
    kept = _read(f"{out}/data", ["doc_id", "text"])
    kept_ids = [k["doc_id"] for k in kept]
    want = {i for i, reason in enumerate(expected) if reason is None}
    bad |= want.symmetric_difference(kept_ids)
    bad |= {k["doc_id"] for k in kept if "@mail.example" in k["text"]}
    for reason in curate.REASONS:
        if summary[f"n_{reason}"] != expected.count(reason):
            ctx.failures.append(f"{key}: n_{reason} {summary[f'n_{reason}']}"
                                f" != planted {expected.count(reason)}")
            bad.add(f"n_{reason}")
    if bad:
        ctx.fail(len(bad), f"{key}: {len(bad)} docs fail the output checks")
    _same_digest(ctx, key, summary["digest"], len(expected))


def curate_corpus(ctx: Ctx):
    corpus = gen.prose_corpus(ctx.cache, ctx.seed, DOCS, TOKENS, MAX_PER_HOST)
    warm = gen.prose_corpus(ctx.cache, ctx.seed, WARM_DOCS, TOKENS,
                            WARM_DOCS // 40)
    with open(corpus["expected"]) as fh:
        expected = json.load(fh)
    texts = pq.read_table(corpus["input"], columns=["text"]).column("text")
    ctx.inputs.update(
        workload="curate_corpus", docs=DOCS, max_per_host=MAX_PER_HOST,
        mean_text_bytes=statistics.mean(len(t.encode()) for t in
                                        texts.to_pylist()),
        kept_share=expected.count(None) / DOCS,
        reason_shares={r: expected.count(r) / DOCS for r in curate.REASONS
                       if r in expected},
        pii_share=sum("@mail.example" in t for t in texts.to_pylist()) / DOCS)

    t0 = time.perf_counter()
    spark = _session(ctx)
    t1 = time.perf_counter()
    _curate_run(spark, warm, ctx.outdir("warm"))
    t2 = time.perf_counter()

    outs = []

    def step(i: int) -> tuple[float, dict]:
        outs.append(ctx.outdir(f"run{i}"))
        s = time.perf_counter()
        summary = _curate_run(spark, corpus, outs[-1])
        return time.perf_counter() - s, summary

    results, cpu, rss = _timed(ctx, step, 1)
    walls = [w for w, _ in results]
    _put_e2e(ctx, DOCS * len(walls), walls, cpu, rss, walls,
             [_du_mb(o) for o in outs], t2 - t0)
    ctx.put("job.build_session_s", t1 - t0, "s")
    ctx.put("warmup_s", t2 - t1, "s")
    for out, (_, summary) in zip(outs, results):
        _check_curation(ctx, corpus, out, summary,
                        f"curate_corpus/s{ctx.seed}")
    if ctx.trace:
        _trace_curate(ctx, spark, corpus, statistics.median(walls))
    return spark


def _trace_curate(ctx: Ctx, spark, corpus: dict, untraced_wall: float) -> None:
    """One traced ``run_curation``, then each gate alone into a noop sink.
    The job's budget is the full verdict plan (``curate.curate`` into a
    noop sink) plus the sinks as the remainder; the gate walls are
    standalone and overlap in their scans, so they do not add up."""
    tr, out = ctx.tracer, ctx.outdir("traced")
    with tr.span("traced_pass") as root:
        with tr.span("curate.run_curation") as s:
            summary = _curate_run(spark, corpus, out)
        run_wall = s["end"] - s["start"]
        docs = spark.read.parquet(corpus["input"])
        bench = spark.read.parquet(corpus["bench"])
        report = spark.read.parquet(f"{out}/report")
        # the set-dependent stages see only the survivors of earlier gates

        def reaching(*reasons: str):
            ok = report.filter(" or ".join(
                ["drop_reason is null"]
                + [f"drop_reason = '{r}'" for r in reasons]))
            return docs.join(ok.select("doc_id"), "doc_id")

        near_in = reaching("near_duplicate", "host_capped")
        cap_in = reaching("host_capped")
        # plans are built inside the span: near-dup clustering runs eager
        # checkpoints while the plan is being built
        gates = {
            "textstats.quality_s": lambda: textstats.quality_features(docs),
            "textstats.repetition_s":
                lambda: textstats.repetition_features(docs),
            "textstats.decontaminate_s":
                lambda: textstats.decontaminate(docs, bench),
            "dedup.near_minhash_s": lambda: dedup.dedup_near_minhash(
                near_in.select("doc_id", "text")),
            "urls.host_cap_s": lambda: urls.host_cap(cap_in, MAX_PER_HOST),
            "textstats.shards_s": lambda: textstats.token_shards(
                reaching().select("doc_id", "text"), BUDGET_TOKENS),
            "curate.verdicts_s": lambda: curate.curate(
                docs, bench=bench, budget_tokens=BUDGET_TOKENS,
                near_dup=True, with_text=True, max_per_host=MAX_PER_HOST),
        }
        for name, plan in gates.items():
            with tr.span(name) as s:
                _noop(plan())
            ctx.put(name, s["end"] - s["start"], "s")
        with tr.span("dedup.pairs"):
            keyed = dedup.minhash_band_keys(near_in, "doc_id", "text")
            cands = dedup.band_candidates(keyed).count()
            verified = dedup.near_duplicates_minhash(
                near_in, "doc_id", "text").count()
    verdicts = ctx.metrics["curate.verdicts_s"][0]
    ctx.put("curate.sinks_self_s", run_wall - verdicts, "s")
    ctx.inputs["layer_budget"] = {
        "of": "traced run_curation wall",
        "wall_s": run_wall,
        "sum_s": run_wall,
        "layers_s": {"curate.verdicts": verdicts,
                     "curate.sinks (remainder)": run_wall - verdicts},
        "standalone_gate_walls_s": {k: ctx.metrics[k][0] for k in gates
                                    if k != "curate.verdicts_s"}}
    ctx.put("curate.kept", summary["kept_count"], "count")
    for reason in curate.REASONS:
        ctx.put(f"curate.n_{reason}", summary[f"n_{reason}"], "count")
    ctx.put("dedup.candidate_pairs", cands, "count")
    ctx.put("dedup.pair_yield", verified / cands if cands else 0.0, "ratio")
    _trace_tail(ctx, tr.spans.index(root), "curate.run_curation",
                untraced_wall)


WORKLOADS = {"crawl_incremental": crawl_incremental,
             "curate_corpus": curate_corpus}
