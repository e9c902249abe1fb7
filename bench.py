#!/usr/bin/env python
"""Benchmark harness.

Default mode (what the per-round driver runs): time the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and print ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {...per-query sec...}, "sf": ..., "extra": {...}}

--queries q1,q2 [--noop] [--repeats N]: the same probe, warm-up and
per-query timing (``time_query``) on any ``kgforge.queries.QUERIES`` names,
N ``count()`` samples each (default 3); --noop adds N noop-sink samples,
which compute every column a ``count()`` may prune. One JSON line.

--queries q1,q2 --explain: print each query's ``.explain("formatted")``
plan to stdout; no probe, no warm-up.

--scaling: evidence the north rule's two-cluster-size criterion in-sandbox by
running the identical KG job at local[2] and local[8] (the defaults; fresh
JVM each, via subprocess) on the same input, and writing throughput at both
plus scaling efficiency into BENCH/BASELINE.md. 2-vs-8, not 8-vs-32: this
host's 32 vCPUs are ~16 physical cores and local[N] saturates at N~8
(JVM+Python = 2 hot threads/core) — see BENCH/BASELINE.md.

--kg-only --cpus N: internal child mode for --scaling (one JSON line).

Examples:
  python bench.py --sf-dir /tmp/sf1.0 --queries tfidf_topterms --noop
  python bench.py --queries tfidf_topterms,neardup_clusters --explain
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

HEADLINE = [
    "kg_triples",          # flagship five-stage pipeline
    "minhash_signature",
    "ngram_jaccard_pairs",
    "neardup_clusters",    # banded pairs -> distributed CC -> keeper
    "embedding_topk",
    "embedding_ivf_topk",  # IVF ANN: train/assign/probe
    "doc_token_count",
    "sessionize",
    "asof_join",           # union-window as-of (one shuffle)
    "exact_quantiles",     # two-phase rank, 4 quantiles one pass
    "exact_median",        # same rank shape; tracks the r3 rebuild
    "funnel_conversion",   # one-pass funnel; tracks the r3 rebuild
    "topk_per_group",
    "broadcast_join",
    "doc_repetition",      # r5: Gopher repetition signals, zero-shuffle
    "contamination_flags", # r5: benchmark decontamination, broadcast join
    "tfidf_topterms",      # r5: two-pass TF-IDF, 3 distinct-pair shuffles
    "pack_manifest",       # r5: distributed prefix sum, 1 reused exchange
    "mixture_sample",      # r5: data-mix quotas, no corpus shuffle
]


def _sf_of(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def build_spark(cpus: int):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder
        .master(f"local[{cpus}]")
        .appName("kgforge-bench")
        .config("spark.sql.shuffle.partitions", str(max(16, cpus * 2)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # wide binary rows (html) at scale: cap Arrow batch rows so a batch
        # stays ~100MB, not the 10k-row default's ~1GB (cli.py ditto)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        .config("spark.driver.memory", os.environ.get("KG_DRIVER_MEM", "24g"))
        # size JVM-internal pools (GC, JIT, netty) for the Spark width, not
        # the 32 vCPUs the container advertises — otherwise GC bursts at
        # local[N] steal cores from the N Python workers doing the real work
        .config("spark.driver.extraJavaOptions",
                f"-XX:ActiveProcessorCount={max(cpus, 2)}")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )


def _warmup(spark, sf_dir: str, cpus: int) -> float:
    """Untimed session warm-up before sample 1. First-touch costs — JVM JIT,
    Arrow serializer setup, per-worker Python imports + model-singleton
    builds, parquet footer caches — otherwise land in the first sample and
    dominate the recorded spread (r2: kg_triples cold 52.8s vs warm 15.7s).
    The warm-up pipeline pass runs on SYNTHETIC pages fanned across
    2*cpus partitions so EVERY Python worker pays its ~2 CPU-s import +
    singleton build here, not in sample 1 (a limit() warm-up would collapse
    to one partition and warm exactly one worker); a metadata count over
    EVERY sf_dir table primes the parquet footers all eight headline
    queries scan (not just documents — embeddings/events/lineitem/orders
    feed half the set). Timing protocol (best-of-N, every sample recorded)
    is unchanged."""
    import glob

    from kgforge.config import PipelineConfig
    from kgforge.pipeline import run_pipeline
    from kgforge.queries import _alias_df, pages_synthetic

    t0 = time.time()
    pages = pages_synthetic(spark, 8 * cpus, partitions=2 * cpus)
    run_pipeline(spark, pages, _alias_df(spark), PipelineConfig()).count()
    for p in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        spark.read.parquet(p).count()
    return round(time.time() - t0, 3)


def _warm_session(sf_dir: str, cpus: int):
    """(probe, spark, warmup_sec): the host capacity probe BEFORE Spark
    starts (~8s), then the session and its untimed warm-up. Hypervisor
    neighbors intermittently cap this box's wide-parallelism capacity
    (observed ceiling 0.70 vs ~1.0 hours apart on identical code, which
    alone moves every headline number ~2x) — recording the ceiling in the
    same JSON line makes a contended-window bench distinguishable from a
    regression."""
    probe = host_parallel_capacity(4, 16, repeats=2)
    spark = build_spark(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    return probe, spark, _warmup(spark, sf_dir, cpus)


def time_query(spark, fn, sf_dir: str, repeats: int,
               noop: bool = False) -> dict:
    """Time ``fn(spark, sf_dir)`` ``repeats`` times to a ``count()`` sink,
    building the frame inside each sample, and with ``noop`` as many times
    more to a noop write. Returns every sample, the best (min) and the
    rows ``count()`` saw, plus ``noop_samples``/``noop_best`` with
    ``noop``. Then one untimed JVM GC: the pipeline's heavy allocations
    otherwise surface as a multi-second full-GC pause INSIDE the next
    query's first timed sample (observed 28-54s on a ~1s JVM-only query,
    twice, always immediately after kg_triples)."""
    def timed(sink) -> tuple[list[float], object]:
        samples, out = [], None
        for _ in range(repeats):
            t0 = time.time()
            out = sink(fn(spark, sf_dir))
            samples.append(round(time.time() - t0, 3))
        return samples, out

    samples, rows = timed(lambda df: df.count())
    result = {"samples": samples, "best": min(samples), "rows": rows}
    if noop:
        noop_samples, _ = timed(
            lambda df: df.write.format("noop").mode("overwrite").save())
        result.update(noop_samples=noop_samples, noop_best=min(noop_samples))
    spark.sparkContext._jvm.System.gc()
    return result


def run_default(sf_dir: str, cpus: int, repeats: int = 2) -> dict:
    """Headline bench: untimed session warm-up, then each query timed
    ``repeats`` times in-session, BEST wall kept — the same min-of-N
    protocol as the scaling evidence (BENCH/BASELINE.md): this host's
    hypervisor injects up to ±50% noise on identical runs, and min-of-N
    measures capability, not the hypervisor."""
    host_probe, spark, warmup_sec = _warm_session(sf_dir, cpus)
    from kgforge.queries import QUERIES

    per_query: dict[str, float] = {}
    extra: dict[str, object] = {"cpus": cpus, "sf_dir": sf_dir,
                                "best_of": {}, "samples": {},
                                "warmup_sec": warmup_sec,
                                "host_capacity_probe": host_probe}
    total = 0.0
    for name in HEADLINE:
        # cheap queries get a third sample: a single hypervisor stall can
        # inflate one sample ~50x (r3 observed 54s on a 1.2s query), and a
        # sub-second extra run is free insurance; the kg pipeline stays at
        # best-of-2 (each sample is many seconds of real work)
        n_rep = repeats if name == "kg_triples" else max(repeats, 3)
        extra["best_of"][name] = n_rep
        timing = time_query(spark, QUERIES[name], sf_dir, n_rep)
        dt = timing["best"]
        per_query[name] = dt
        extra["samples"][name] = timing["samples"]
        total += dt
        if name == "kg_triples":
            n = timing["rows"]
            extra["kg_triples_rows"] = n
            extra["kg_triples_per_sec"] = round(n / dt, 2) if dt > 0 else None
    spark.stop()
    return {
        "metric": "kgforge_headline_total",
        "value": round(total, 3),
        "unit": "sec",
        "queries": per_query,
        "sf": _sf_of(sf_dir),
        "extra": extra,
    }


def run_queries(sf_dir: str, cpus: int, names: list[str], repeats: int,
                noop: bool) -> dict:
    """--queries: the default mode's probe, warm-up and ``time_query`` on
    any QUERIES names, ``repeats`` samples each."""
    probe, spark, warmup_sec = _warm_session(sf_dir, cpus)
    from kgforge.queries import QUERIES

    out = {"sf_dir": sf_dir, "cpus": cpus, "warmup_sec": warmup_sec,
           "host_capacity_probe": probe,
           "queries": {name: time_query(spark, QUERIES[name], sf_dir,
                                        repeats, noop)
                       for name in names}}
    spark.stop()
    return out


def explain_queries(sf_dir: str, cpus: int, names: list[str]) -> None:
    """--queries --explain: each query's formatted plan to stdout."""
    spark = build_spark(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    from kgforge.queries import QUERIES

    for name in names:
        print(f"== {name} ==")
        QUERIES[name](spark, sf_dir).explain("formatted")
    spark.stop()


def run_kg_only(sf_dir: str, cpus: int, n_pages: int | None = None) -> dict:
    """One full KG pipeline pass; used by --scaling children.

    With --pages N the input is the deterministic distributed synthetic
    generator (identical bytes at any parallelism); otherwise pages are
    derived from the sf documents table."""
    spark = build_spark(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    from kgforge.queries import pages_from_documents, pages_synthetic, _alias_df
    from kgforge.pipeline import run_pipeline
    from kgforge.config import PipelineConfig

    cfg = PipelineConfig(shuffle_partitions=max(16, cpus * 4))
    # untimed warm-up: spin up every Python worker (imports + model
    # singletons) and JIT the hot paths BEFORE the timed window. A real
    # cluster job amortizes these fixed per-JVM costs over hours; including
    # them in a minutes-long sample charges the same absolute overhead
    # against a 4x smaller denominator for the wide config and mechanically
    # deflates measured scaling efficiency (see BENCH/BASELINE.md).
    warm = pages_synthetic(spark, 8 * cpus, partitions=2 * cpus)
    run_pipeline(spark, warm, _alias_df(spark), cfg).count()
    if n_pages:
        pages = pages_synthetic(spark, n_pages, partitions=cpus * 4)
        page_count = n_pages
    else:
        pages = pages_from_documents(spark, sf_dir)
        page_count = pages.count()
        pages = pages_from_documents(spark, sf_dir)
    t0 = time.time()
    triples = run_pipeline(spark, pages, _alias_df(spark), cfg)
    n_triples = triples.count()
    dt = time.time() - t0
    spark.stop()
    return {
        "metric": "kg_pipeline",
        "value": round(dt, 3),
        "unit": "sec",
        "sf": _sf_of(sf_dir),
        "extra": {
            "cpus": cpus,
            "n_pages": page_count,
            "n_triples": n_triples,
            "pages_per_sec": round(page_count / dt, 2),
            "triples_per_sec": round(n_triples / dt, 2),
        },
    }


def _burn(n: int) -> float:
    t0 = time.perf_counter()
    x = 0
    for i in range(n):
        x += i * i
    return time.perf_counter() - t0


def host_parallel_capacity(low_hot: int = 4, high_hot: int = 16,
                           n: int = 20_000_000, repeats: int = 3) -> dict:
    """Measure what parallel CPU capacity the HOST can deliver right now.

    A shared-hypervisor neighbor eating cores or memory bandwidth slows the
    wide Spark config asymmetrically (local[2] ~ 4 hot threads rides the
    slack; local[8] ~ 16 hot threads needs every physical core) and caps
    the MEASURABLE 2->8 efficiency below what the pipeline's plan would
    deliver on a clean host — observed: a probe ceiling of ~0.70 on the
    same day a code-identical commit measured 0.94 on a quiet host. The
    probe runs an identical pure-Python CPU burn solo and at the two
    widths' hot-thread counts (Spark local[N] drives ~2N hot threads:
    JVM task thread + Python model worker per core), best-of-``repeats``:

      ceiling = min(1, wall(low_hot workers) / wall(high_hot workers))

    == s(low)/s(high), the per-worker slowdown ratio, which is exactly the
    maximum scaling efficiency ANY job (even embarrassingly parallel) can
    record between those widths on this host right now. Reported alongside
    the raw efficiency so a contended host is distinguishable from a plan
    that stopped scaling. A ratio above 1 is timing noise, not spare
    capacity, hence the clamp."""
    import multiprocessing as mp
    walls: dict[int, float] = {}
    for workers in (1, low_hot, high_hot):
        best = None
        for _ in range(repeats):
            with mp.Pool(workers) as pool:
                t0 = time.perf_counter()
                pool.map(_burn, [n] * workers)
                wall = time.perf_counter() - t0
            if best is None or wall < best:
                best = wall
        walls[workers] = best
    return {
        "solo_sec": round(walls[1], 3),
        f"wall_{low_hot}way_sec": round(walls[low_hot], 3),
        f"wall_{high_hot}way_sec": round(walls[high_hot], 3),
        "ceiling": min(1.0, round(walls[low_hot] / walls[high_hot], 4)),
    }


def run_scaling(sf_dir: str, low: int = 2, high: int = 8,
                n_pages: int = 600_000, repeats: int = 3,
                samples_out: dict | None = None) -> dict:
    """N vs 4N parallelism evidence (north rule).

    Widths 2 and 8 rather than 8 and 32: this sandbox exposes 32 vCPUs but
    behaves like ~16 physical cores, and Spark local mode drives ~2 hot
    threads per Spark core (JVM task thread + Python worker) — beyond
    local[8] the box is oversubscribed and JVM-side CPU inflates
    superlinearly (measured: java cpu-s 98 -> 426 from width 4 -> 16 on
    identical input). 2 -> 8 is a true 4x of actually-parallel capacity.

    Each width runs ``repeats`` times and the BEST wall time is kept: the
    hypervisor injects minute-scale noise (observed ±25% on identical runs),
    and min-of-N is the standard way to measure capability on shared hosts."""
    results = {}
    samples: dict[int, list[float]] = {low: [], high: []}
    probe_before = host_parallel_capacity(2 * low, 2 * high)
    for cpus in (low, high):
        best = None
        for _ in range(repeats):
            out = subprocess.run(
                [sys.executable, os.path.join(REPO, "bench.py"),
                 "--kg-only", "--cpus", str(cpus), "--sf-dir", sf_dir,
                 "--pages", str(n_pages)],
                capture_output=True, text=True, check=True, cwd=REPO,
            )
            line = [l for l in out.stdout.strip().splitlines()
                    if l.startswith("{")][-1]
            r = json.loads(line)
            samples[cpus].append(r["value"])
            if best is None or r["value"] < best["value"]:
                best = r
        results[cpus] = best
    if samples_out is not None:
        samples_out.update(samples)
    probe_after = host_parallel_capacity(2 * low, 2 * high)
    host_ceiling = round((probe_before["ceiling"] + probe_after["ceiling"]) / 2, 4)
    tput_lo = results[low]["extra"]["triples_per_sec"]
    tput_hi = results[high]["extra"]["triples_per_sec"]
    eff = (tput_hi / tput_lo) / (high / low)
    report = {
        "metric": "kg_scaling_efficiency",
        "value": round(eff, 4),
        "unit": "ratio",
        "sf": _sf_of(sf_dir),
        "queries": {
            f"kg_local{low}": results[low]["value"],
            f"kg_local{high}": results[high]["value"],
        },
        "extra": {
            f"triples_per_sec_local{low}": tput_lo,
            f"triples_per_sec_local{high}": tput_hi,
            "n_pages": results[high]["extra"]["n_pages"],
            "n_triples": results[high]["extra"]["n_triples"],
            "samples": {str(k): v for k, v in samples.items()},
            "host_probe_before": probe_before,
            "host_probe_after": probe_after,
            "host_ceiling": host_ceiling,
            "eff_host_normalized": round(eff / host_ceiling, 4),
        },
    }
    _write_baseline_md(report, low, high, samples)
    return report


def _write_baseline_md(report: dict, low: int, high: int,
                       samples: dict[int, list[float]]) -> None:
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    path = os.path.join(REPO, "BENCH", "BASELINE.md")
    e = report["extra"]
    lines = [
        "# BENCH/BASELINE — measured scaling evidence",
        "",
        "Two-cluster-size rule (north rule: throughput scaling efficiency",
        ">= 0.8 from N to 4N executors), evidenced in-sandbox: the IDENTICAL",
        f"five-stage KG job on the IDENTICAL deterministic input ({e['n_pages']}",
        "synthetic pages from kgforge.queries.pages_synthetic, a pure function",
        f"of the page index; {e['n_triples']} triples emitted, P/R vs",
        "construction-time gold gated in tests) at two parallelism levels in",
        "fresh JVMs.",
        "",
        f"Why local[{low}] vs local[{high}]: this sandbox advertises 32 vCPUs but",
        "behaves like ~16 physical cores, and Spark local mode drives ~2 hot",
        "threads per Spark core (JVM task thread + Python model worker);",
        "beyond local[8] the box is oversubscribed and JVM-side CPU inflates",
        f"superlinearly. {low} -> {high} is a true 4x of actually-parallel capacity.",
        "",
        "Noise handling: the hypervisor injects minute-scale noise (identical",
        "runs spread +/-25%); each width runs repeatedly, BEST wall kept",
        "(capability measurement). All samples listed. Each fresh JVM runs an",
        "untimed warm-up pass (Python-worker imports, model singletons, JIT)",
        "before its timed window — a real cluster job amortizes these fixed",
        "costs over hours, and charging them to a minutes-long sample",
        "asymmetrically penalizes the wide config. Reproduce:",
        "`python bench.py --scaling`.",
        "",
        "| parallelism | samples (wall sec) | best | triples/sec (best) |",
        "|---|---|---|---|",
        f"| local[{low}] | {', '.join(str(s) for s in samples[low])} | "
        f"{report['queries'][f'kg_local{low}']} | {e[f'triples_per_sec_local{low}']} |",
        f"| local[{high}] | {', '.join(str(s) for s in samples[high])} | "
        f"{report['queries'][f'kg_local{high}']} | {e[f'triples_per_sec_local{high}']} |",
        "",
        f"**Scaling efficiency ({low} -> {high} cores): "
        f"{report['value']:.3f}** (target >= 0.8 per BASELINE.json; "
        f"eff = (tput_{high}/tput_{low}) / ({high}/{low}))",
    ]
    if "host_ceiling" in e:
        pb, pa = e["host_probe_before"], e["host_probe_after"]
        lines += [
            "",
            "## Host parallel-capacity probe (same session as the legs)",
            "",
            "A pure-Python CPU burn (no Spark) run solo and at the two",
            f"widths' hot-thread counts ({2*low} and {2*high}; local[N] drives ~2N hot",
            "threads), best-of-3. The ceiling wall(narrow)/wall(wide) is the",
            "per-worker slowdown ratio — the MAXIMUM efficiency any job, even",
            "an embarrassingly parallel one, can record between these widths",
            "on this host at measurement time. It separates hypervisor",
            "contention (neighbor stealing cores/bandwidth) from plan quality.",
            "",
            f"| probe | solo | {2*low}-way | {2*high}-way | ceiling |",
            "|---|---|---|---|---|",
            f"| before legs | {pb['solo_sec']} | {pb[f'wall_{2*low}way_sec']} | "
            f"{pb[f'wall_{2*high}way_sec']} | {pb['ceiling']} |",
            f"| after legs | {pa['solo_sec']} | {pa[f'wall_{2*low}way_sec']} | "
            f"{pa[f'wall_{2*high}way_sec']} | {pa['ceiling']} |",
            "",
            f"**Host ceiling: {e['host_ceiling']:.3f}; host-normalized",
            f"efficiency (raw / ceiling): {e['eff_host_normalized']:.3f}** —",
            "the pipeline's own scaling with the host's contention divided",
            "out.",
        ]
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


def _positive_int(text: str) -> int:
    n = int(text)
    if n < 1:
        raise argparse.ArgumentTypeError(f"must be >= 1, got {n}")
    return n


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    ap.add_argument("--cpus", type=int, default=DEFAULT_CPUS)
    ap.add_argument("--kg-only", action="store_true")
    ap.add_argument("--scaling", action="store_true")
    ap.add_argument("--pages", type=int, default=None,
                    help="use the distributed synthetic generator with N pages")
    ap.add_argument("--repeats", type=_positive_int, default=3,
                    help="samples per width in --scaling (best-of-N; the "
                         "+/-25%% hypervisor noise makes 3 the floor — a "
                         "2-sample run can swing the efficiency RATIO by "
                         "0.15 on one lucky/unlucky draw), and per query "
                         "and sink with --queries")
    ap.add_argument("--queries", default=None,
                    help="comma-separated QUERIES names to time (or explain)")
    ap.add_argument("--noop", action="store_true",
                    help="with --queries: also time a noop-sink write")
    ap.add_argument("--explain", action="store_true",
                    help="with --queries: print formatted plans, time nothing")
    args = ap.parse_args(argv)
    names = args.queries.split(",") if args.queries else []
    if (args.noop or args.explain) and not names:
        ap.error("--noop and --explain need --queries")
    if names:
        from kgforge.queries import QUERIES

        unknown = [n for n in names if n not in QUERIES]
        if unknown:
            ap.error(f"--queries: unknown {', '.join(unknown)}")

    if args.explain:
        explain_queries(args.sf_dir, args.cpus, names)
        return
    if names:
        report = run_queries(args.sf_dir, args.cpus, names, args.repeats,
                             args.noop)
    elif args.scaling:
        # 600k pages, not less: short runs are startup-dominated (JVM +
        # ~2 CPU-s/worker Python imports), which deflates the wide config's
        # throughput and understates scaling efficiency; real cluster jobs
        # run minutes-hours, so measure where work dominates
        report = run_scaling(args.sf_dir, n_pages=args.pages or 600_000,
                             repeats=args.repeats)
    elif args.kg_only:
        report = run_kg_only(args.sf_dir, args.cpus, n_pages=args.pages)
    else:
        report = run_default(args.sf_dir, args.cpus)
    print(json.dumps(report))


if __name__ == "__main__":
    main()
